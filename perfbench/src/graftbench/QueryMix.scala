package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The query_mix phase of query_pipeline: one closed-loop client runs
  * graft.Bench's 22 headline keys through `SparkEntry.queries`, each
  * forced through the `noop` write, in a seeded order per round after
  * one untimed warm-up round. The number of timed rounds is fixed by
  * `--seconds` (one per ten seconds, at least one), never by how fast
  * the rounds go, so every run takes the same number of samples.
  *
  * The inputs are a seeded subsample of sf0.1-shaped fact tables with
  * whole dimension tables (gen.py). After the timed phase one more,
  * untimed round writes each key's result for the DuckDB oracle check
  * (run.py), so the check sees a warm execution, as the timed ones are.
  */
final class QueryMix(a: Main.Args) extends Main.Workload {
  import QueryMix._

  private val executions = mutable.LinkedHashMap.empty[String, Int]
  private val dump = s"${a.work}/dump"
  private val rounds = math.max(1, math.round(a.seconds / 10).toInt)

  private def query(spark: SparkSession, k: String) =
    SparkEntry.queries(k)(spark, a.data)

  override def load(spark: SparkSession): Unit =
    graft.Tables.all.foreach(t => graft.Tables(spark, a.data, t).schema)

  override def warmup(spark: SparkSession): Unit =
    Keys.foreach(k => query(spark, k).write.format("noop").mode("overwrite").save())

  override def timed(spark: SparkSession, r: Result): Unit = {
    val perKey = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val planMs = mutable.ArrayBuffer.empty[Double]
    val execMs = mutable.ArrayBuffer.empty[Double]
    val groups = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    (0 until rounds).foreach { round =>
      val order = new scala.util.Random(a.seed * 7919L + round).shuffle(Keys)
      order.foreach { k =>
        val (secs, ok) = Ops.run(spark, r, s"query:$k") {
          Trace.span("queries.execute") {
            val df = Trace.span("queries.build")(query(spark, k))
            if (Trace.on) {
              val p0 = System.nanoTime()
              Trace.span("plans.plan")(df.queryExecution.executedPlan)
              planMs += (System.nanoTime() - p0) / 1e6
            }
            val e0 = System.nanoTime()
            Trace.span("operators.exec")(
              df.write.format("noop").mode("overwrite").save())
            execMs += (System.nanoTime() - e0) / 1e6
          }
        }
        groups += Ops.lastGroup
        if (ok) {
          perKey.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += secs
          executions(k) = executions.getOrElse(k, 0) + 1
        }
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val all = perKey.values.flatten.toSeq
    val p = Stats.TailPct
    r.e2e("latency_p50_ms") = Stats.median(all) * 1000
    r.e2e("latency_tail_ms") = Stats.pct(all, p) * 1000
    r.named("query_p50_s") = (Stats.median(all), "s")
    r.named(f"query_tail_s (p$p%.0f of ${all.size} executions)") =
      (Stats.pct(all, p), "s")
    r.named("mix_qpm") = (all.size / wall * 60, "queries/min")
    r.note(s"$rounds rounds, ${all.size} executions in ${"%.2f".format(wall)} s")
    Keys.foreach { k =>
      r.layer(s"query.${k}_s") = perKey.get(k).map(Stats.median(_)).getOrElse(0.0)
    }
    r.layer("plan.ms_p50") = if (planMs.isEmpty) 0.0 else Stats.median(planMs.toSeq)
    r.layer("exec.ms_p50") = if (execMs.isEmpty) 0.0 else Stats.median(execMs.toSeq)
    queryGroups = groups.toSeq
  }

  private var queryGroups: Seq[String] = Nil

  override def check(spark: SparkSession, r: Result): Unit = {
    // per-query Spark jobs and tasks, attributed by job group
    val c = r.counters
    if (c != null && queryGroups.nonEmpty) {
      val accs = queryGroups.map(c.group)
      r.layer("spark.jobs_per_query") = accs.map(_.jobs.sum).sum.toDouble / accs.size
      r.layer("spark.tasks_per_query") = accs.map(_.tasks.sum).sum.toDouble / accs.size
    }
    // one more round, untimed, writes each key's result for the DuckDB
    // oracle (tools/check_oracle.py); a missing dump fails its key there
    Keys.foreach { k =>
      try query(spark, k).coalesce(1).write.mode("overwrite").parquet(s"$dump/$k")
      catch { case e: Throwable => r.note(s"dump of $k failed: $e") }
    }
    val oracle = Keys.map(k => s"${Json.str(k)}:${Json.str(SparkEntry.oracleSql(k))}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dump/oracle_sql.json"),
      oracle.mkString("{", ",", "}").getBytes("UTF-8"))
    // a key whose dump is wrong makes each of its timed executions wrong
    Keys.foreach(k => r.checked(s"oracle:$k") = executions.getOrElse(k, 0).toLong)
  }
}

object QueryMix {
  /** graft.Bench's headline set; the iterative graph keys are left out. */
  val Keys: Seq[String] = Seq(
    "q_hash_agg", "q_inner_join", "q_broadcast_join", "q_tpch_q3",
    "q_tpch_q5", "q_tpch_q10", "q_tpch_q18", "q_window_running_sum",
    "q_asof_join", "q_session_gap", "collapsing_net_state",
    "replacing_latest", "dedup_exact", "dedup_minhash_pairs",
    "similarity_topk", "similarity_self_join_dedup", "term_tfidf",
    "lang_id", "quality_score", "token_count", "ann_ivf_topk",
    "q_sort_limit")
}
