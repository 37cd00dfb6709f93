package graftbench

import org.apache.spark.sql.SparkSession

import graft.PipelineRun

/** The llm_pipeline phase of query_pipeline: one timed `PipelineRun.run`
  * over a seeded corpus with planted exact duplicates, near duplicates
  * and bench-split overlap (gen.py). The warm-up runs the same pipeline
  * over a small corpus. The timed run's outputs are checked in DuckDB by
  * run.py.
  */
final class LlmPipeline(a: Main.Args) extends Main.Workload {
  private val corpus = s"${a.data}/corpus"
  private val out = s"${a.work}/pipeline_out"

  override def load(spark: SparkSession): Unit =
    graft.Tables(spark, corpus, "documents").count()

  override def warmup(spark: SparkSession): Unit =
    PipelineRun.run(spark, s"${a.data}/warm", s"${a.work}/warm_out")

  override def timed(spark: SparkSession, r: Result): Unit = {
    var ledger: Seq[PipelineRun.StageResult] = Nil
    val (secs, ok) = Ops.run(spark, r, "pipeline_run") {
      Trace.span("pipeline.run") {
        val start = Trace.nowNs
        ledger = PipelineRun.run(spark, corpus, out)
        // the ledger's stages ran one after another
        var at = start
        ledger.foreach { s =>
          val ns = (s.secs * 1e9).toLong
          Trace.record(s"pipeline.${s.stage}", at, at + ns, Trace.current)
          at += ns
        }
      }
    }
    require(ok, "the pipeline run failed")
    val docsIn = ledger.head.docsIn
    r.e2e("throughput_per_s") = docsIn / secs
    r.named("pipeline_docs_per_s") = (docsIn / secs, "docs/s")
    r.note(f"pipeline run over $docsIn docs: $secs%.2f s")
    val by = ledger.map(s => s.stage -> s).toMap
    // the duplicate traffic the dedup and decontam stages saw
    r.note(Seq("dedup_exact", "dedup_fuzzy", "decontam").map { st =>
      f"$st dropped ${by(st).docsDropped} of ${by(st).docsIn} " +
        f"(${100.0 * by(st).docsDropped / by(st).docsIn}%.2f %%)"
    }.mkString("duplicate traffic: ", ", ", ""))
    ledger.foreach(s => r.layer(s"pipeline.${s.stage}_s") = s.secs)
    r.layer("pipeline.docs_out") = by("pack").docsKept.toDouble
    r.layer("pipeline.dedup_exact_dropped") = by("dedup_exact").docsDropped.toDouble
    r.layer("pipeline.dedup_fuzzy_dropped") = by("dedup_fuzzy").docsDropped.toDouble
    r.layer("pipeline.decontam_dropped") = by("decontam").docsDropped.toDouble
    r.checked("pipeline_outputs") = 1L
  }
}
