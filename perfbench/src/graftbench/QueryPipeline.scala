package graftbench

import org.apache.spark.sql.SparkSession

/** query_pipeline: the SQL surface upstream of the sink, in two phases on
  * one session. The query_mix phase gives the latency metrics (query
  * executions), the llm_pipeline phase the throughput (docs/s).
  */
final class QueryPipeline(a: Main.Args) extends Main.Workload {
  private val queries = new QueryMix(a)
  private val pipeline = new LlmPipeline(a)
  private val phases = Seq(queries, pipeline)

  override def load(spark: SparkSession): Unit = phases.foreach(_.load(spark))
  override def warmup(spark: SparkSession): Unit = phases.foreach(_.warmup(spark))
  override def timed(spark: SparkSession, r: Result): Unit =
    phases.foreach(_.timed(spark, r))
  override def check(spark: SparkSession, r: Result): Unit =
    phases.foreach(_.check(spark, r))
}
