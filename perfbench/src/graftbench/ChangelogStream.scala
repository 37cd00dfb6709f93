package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.sink.dsv2.{GraftDataWriter, MemorySinkRegistry}

/** changelog_stream: the reference connector's own job.
  *
  *  1. Drain: a fixed pre-generated backlog (parquet files) is drained
  *     at one file per micro-batch; rows landed / wall time. It runs
  *     again as phase 4.
  *  2. Open loop: changelog rows are emitted at a fixed rate, on a
  *     schedule that does not slow when the stream does, into
  *     `writeStream.format("clickhouse-style")` (collapsing mode, PK,
  *     hash partitioning, sink.batch-size 1000, a short processing-time
  *     trigger, so a fixed number of epochs is planned per run). Each row
  *     carries its scheduled creation time;
  *     freshness is measured from it to the end of the epoch that
  *     committed the row, as the StreamingQueryListener reports it.
  *  3. Read-back: a fixed number of seeded point lookups, key ranges,
  *     pushed-down aggregates and the collapsed net state, through
  *     `spark.read.format("clickhouse-style")` on the drained table.
  *  4. The drain again; throughput is the median of the two drains.
  *
  * Every phase's landed rows are checked against a reference computed
  * from the generator alone ([[ChangelogGen.Reference]]).
  */
final class ChangelogStream(a: Main.Args) extends Main.Workload {
  import ChangelogStream._

  // the open loop takes 80 % of the run length; drains and read-backs
  // are counted
  private val openSecs = a.seconds * 0.8
  private val openRows = (Rate * openSecs).toInt
  private val plannedEpochs = (openSecs * 1000 / TriggerMs).toInt
  private val reads = math.max(WarmReads, (ReadsPerSecond * a.seconds).toInt)

  private lazy val openData = ChangelogGen.generate(a.seed, 1, openRows)
  private val backlogRows = if (a.tiny) BacklogRows / 10 else BacklogRows
  private lazy val backlog = ChangelogGen.generate(a.seed, 2, backlogRows)
  private lazy val warmOpen = ChangelogGen.generate(a.seed, 3, (Rate * 2).toInt)
  private lazy val warmBacklog = ChangelogGen.generate(a.seed, 4, backlogRows / 4)
  private val backlogDir = s"${a.work}/backlog"
  private val warmBacklogDir = s"${a.work}/warm_backlog"

  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val ckptSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  override def prepare(spark: SparkSession): Unit = {
    openData // generated here, so no set-up or timed phase pays for it
    writeBacklog(spark, backlog, backlogDir)
    writeBacklog(spark, warmBacklog, warmBacklogDir)
  }

  override def load(spark: SparkSession): Unit = {
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    spark.read.schema(StreamSchema).parquet(backlogDir).count()
  }

  override def warmup(spark: SparkSession): Unit = {
    openLoop(spark, warmOpen, "cl_warm_open", 2.0)
    drain(spark, warmBacklogDir, "cl_warm_drain")
    val ref = new ChangelogGen.Reference(warmBacklog)
    val rng = new java.util.SplittableRandom(a.seed)
    (1 to WarmReads).foreach(i =>
      readBack(spark, "cl_warm_drain", warmBacklog, ref, rng, i))
  }

  override def timed(spark: SparkSession, r: Result): Unit = {
    Seq(scanPlanMs, scanExecMs).foreach(_.clear()) // drop the warm-up's
    scanOut = 0L; scanStored = 0L
    // 1. drain the backlog; it runs again after the read-backs, so a
    // burst of load on the host seldom slows both
    val drains = mutable.ArrayBuffer.empty[Double]
    def drainOnce(): Unit = {
      MemorySinkRegistry.clearTable("cl_drain")
      val (secs, ok) = Ops.run(spark, r, "drain") {
        Trace.span("streaming.drain")(drain(spark, backlogDir, "cl_drain"))
      }
      val landed = landedRows("cl_drain")
      if (ok && landed != backlog.n)
        r.fail("drain", s"landed $landed of ${backlog.n} rows")
      if (ok) drains += landed / secs
    }
    drainOnce()

    // 2. open loop
    val ol = openLoop(spark, openData, "cl_open", openSecs)
    r.attempted += ol.epochs.size
    ol.error.foreach(e => r.fail("open_loop", e))
    checkNetState(spark, "cl_open", openData, r) { badKeys =>
      // the epochs that committed any row of a mismatching key are wrong
      val bad = (0 until openData.n).filter(i => badKeys(openData.pk(i)))
        .map(ol.epochOfRow).toSet
      bad.foreach(_ => r.fail("open_loop_epoch", "wrong net state"))
    }
    MemorySinkRegistry.clearTable("cl_open")

    // 3. read-back on the drained table
    val ref = new ChangelogGen.Reference(backlog)
    val rng = new java.util.SplittableRandom(a.seed + 17)
    val readSecs = mutable.ArrayBuffer.empty[Double]
    (1 to reads).foreach { i =>
      val (secs, ok) = Ops.run(spark, r, "readback") {
        val err = Trace.span("scan.readback")(
          readBack(spark, "cl_drain", backlog, ref, rng, i))
        err.foreach(e => throw new IllegalStateException(e))
      }
      if (ok) readSecs += secs
    }

    // 4. the second drain
    drainOnce()
    if (a.flags("flip_sign")) flipOneSign("cl_drain")
    val flushes = MemorySinkRegistry.allFor("cl_drain").size
    r.layer("sink.rows_landed") = landedRows("cl_drain").toDouble
    r.layer("sink.flushes") = flushes.toDouble
    r.layer("sink.rows_per_flush") = landedRows("cl_drain").toDouble / flushes
    checkNetState(spark, "cl_drain", backlog, r) { _ =>
      r.fail("drain", "wrong net state")
    }

    val fresh = ol.freshnessMs
    val p = Stats.TailPct
    r.e2e("latency_p50_ms") = Stats.median(fresh)
    r.e2e("latency_tail_ms") = Stats.pct(fresh, p)
    r.e2e("throughput_per_s") = Stats.median(drains.toSeq)
    r.named("sink_rows_per_s") = (Stats.median(drains.toSeq), "rows/s")
    r.named("freshness_p50_ms") = (Stats.median(fresh), "ms")
    r.named(f"freshness_tail_ms (p$p%.0f of ${fresh.size} rows in " +
      s"${ol.epochs.size} epochs, $plannedEpochs planned)") = (Stats.pct(fresh, p), "ms")
    r.named("readback_p50_ms") = (Stats.median(readSecs.toSeq) * 1000, "ms")
    r.named(f"readback_tail_ms (p$p%.0f of ${readSecs.size} reads)") =
      (Stats.pct(readSecs.toSeq, p) * 1000, "ms")
    r.note(f"drain reps rows/s: ${drains.map(d => f"$d%.0f").mkString(", ")}")

    val ep = ol.epochs
    def dur(k: String) = ep.map(p => p.durationMs.asScala.get(k).map(_.toDouble)
      .getOrElse(0.0))
    r.layer("gen.lag_ms_max") = ol.lagMsMax
    r.layer("stream.epochs") = ep.size.toDouble
    r.layer("stream.epoch_ms_p50") = Stats.median(dur("triggerExecution"))
    r.layer("stream.add_batch_ms_p50") = Stats.median(dur("addBatch"))
    r.layer("stream.planning_ms_p50") = Stats.median(dur("queryPlanning"))
    r.layer("stream.commit_ms_p50") = Stats.median(
      dur("walCommit").zip(dur("commitOffsets")).map(t => t._1 + t._2))
    r.layer("stream.backlog_rows_max") = ep.map(_.numInputRows.toDouble).max
    r.layer("scan.plan_ms_p50") = medianOr0(scanPlanMs)
    r.layer("scan.exec_ms_p50") = medianOr0(scanExecMs)
    r.layer("scan.rows_out_ratio") =
      if (scanStored == 0) 0.0 else scanOut.toDouble / scanStored
  }

  override def traceExtras(spark: SparkSession, r: Result): SparkSession = {
    r.layer("dsv2.convert_ns_per_row") = convertNsPerRow(spark)
    // the single-task-slot baseline of the drain phase
    spark.stop(); SparkSession.clearActiveSession()
    val one = Trace.span("setup.session")(
      graft.GraftSession.build(cpus = "1", appName = "graftbench-local1"))
    drain(one, warmBacklogDir, "cl_local1")
    MemorySinkRegistry.clearTable("cl_local1")
    val t0 = System.nanoTime()
    Trace.span("streaming.drain_local1")(drain(one, backlogDir, "cl_local1"))
    r.layer("stream.drain_rows_per_s_local1") =
      landedRows("cl_local1") / ((System.nanoTime() - t0) / 1e9)
    MemorySinkRegistry.clear()
    one
  }

  // ---- phases -------------------------------------------------------

  private final class OpenLoop(val epochs: Seq[StreamingQueryProgress],
      val freshnessMs: Seq[Double], val epochOfRow: Int => Int,
      val lagMsMax: Double, val error: Option[String])

  /** Emit `rows` at `Rate` rows/s over `secs` into a new stream. */
  private def openLoop(spark: SparkSession, rows: Rows, table: String,
                       secs: Double): OpenLoop = {
    MemorySinkRegistry.clearTable(table)
    val mem = MemoryStream[CRow](spark, a.cpus)(Encoders.product[CRow])
    val q = sinkWriter(mem.toDF()
        .withColumn("amount", col("amount").cast(AmountType)), table)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .start()
    awaitIdle(q)
    val parent = Trace.current
    val n = math.min(rows.n, (Rate * secs).toInt)
    val nsPerRow = 1e9 / Rate
    // block b = rows [blockStart(b), blockStart(b + 1)); one addData each
    val blockStart = mutable.ArrayBuffer(0)
    var lagNs = 0L
    val t0 = System.nanoTime() + 20000000L
    val wall0 = Trace.nowNs + 20000000L
    def schedWallMs(j: Int): Double = (wall0 + j * nsPerRow) / 1e6
    // the generator: this thread, ticking every TickNs
    var next = 0
    var tick = 0L
    while (next < n) {
      val due = t0 + tick * TickNs
      LockSupport.parkNanos(due - System.nanoTime())
      while (System.nanoTime() < due) Thread.onSpinWait()
      lagNs = math.max(lagNs, System.nanoTime() - due)
      val hi = math.min(n, ((tick * TickNs) / nsPerRow).toInt + 1)
      if (hi > next) {
        val batch = (next until hi).map(j => rows.row(j, schedWallMs(j).toLong))
        Trace.span("generator.emit")(mem.addData(batch))
        next = hi
        blockStart += hi
      }
      tick += 1
    }
    val error = try { q.processAllAvailable(); None }
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    org.apache.spark.graft.GraftSparkInternals
      .drainListenerBus(spark.sparkContext, 5000)
    q.stop()
    val epochs = progress.asScala.filter(p => p.id == q.id && p.numInputRows > 0)
      .toSeq.sortBy(_.batchId)
    progress.removeIf(_.id == q.id)
    // rows -> the epoch that committed them, via the source offsets
    val epochIdx = new Array[Int](n)
    val fresh = new Array[Double](n)
    epochs.zipWithIndex.foreach { case (p, e) =>
      val src = p.sources.head
      val lo = Option(src.startOffset).map(_.trim.toInt + 1).getOrElse(0)
      val hiB = src.endOffset.trim.toInt
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val endMs = startMs + p.durationMs.get("triggerExecution").toDouble
      // timed epochs are operations of their own; warm-up ones nest
      if (Trace.on) recordEpoch(p, startMs, parent)
      (lo to hiB).foreach { b =>
        (blockStart(b) until blockStart(b + 1)).foreach { j =>
          epochIdx(j) = e
          fresh(j) = endMs - schedWallMs(j)
        }
      }
    }
    val committed = epochs.map(_.numInputRows).sum
    val err = error.orElse(
      if (committed != n) Some(s"committed $committed of $n rows") else None)
    new OpenLoop(epochs, fresh.toSeq, epochIdx, lagNs / 1e6, err)
  }

  /** Drain the parquet backlog in `dir`, one file per micro-batch. */
  private def drain(spark: SparkSession, dir: String, table: String): Unit = {
    val src = spark.readStream.schema(StreamSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val parent = Trace.current
    val q = sinkWriter(src, table).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    if (Trace.on) {
      org.apache.spark.graft.GraftSparkInternals
        .drainListenerBus(spark.sparkContext, 5000)
      progress.asScala.filter(p => p.id == q.id && p.numInputRows > 0)
        .foreach(p => recordEpoch(p,
          java.time.Instant.parse(p.timestamp).toEpochMilli, parent))
    }
    progress.removeIf(_.id == q.id)
  }

  private val scanPlanMs = mutable.ArrayBuffer.empty[Double]
  private val scanExecMs = mutable.ArrayBuffer.empty[Double]
  private var scanOut = 0L
  private var scanStored = 0L

  /** One seeded read-back query; returns a mismatch, if any. */
  private def readBack(spark: SparkSession, table: String, rows: Rows,
      ref: ChangelogGen.Reference, rng: java.util.SplittableRandom,
      i: Int): Option[String] = {
    val t = spark.read.format("clickhouse-style").schema(TableSchema)
      .options(sinkOptions(table)).load()
    val (what, df, expect) = i % 10 match {
      case 0 | 5 => // pushed-down count/sum over the whole table
        ("aggregate", t.agg(count(lit(1)), sum("amount")),
          Seq(rows.n.toLong, ref.totalCents))
      case 9 => // the collapsed net state
        ("net_state", t.groupBy("pk").agg(sum("sign").as("net"))
          .agg(count(when(col("net") =!= 0, 1)), sum("net")),
          Seq(ref.liveKeys, ref.netSum))
      case 3 | 7 => // key range
        val lo = rng.nextInt(ChangelogGen.KeySpace)
        val hi = lo + ChangelogGen.KeySpace / 200
        val (c, s, cents) = ref.range(lo, hi)
        (s"range[$lo,$hi)", t.filter(col("pk") >= lo && col("pk") < hi)
          .agg(count(lit(1)), sum("sign"),
            sum(col("amount") * col("sign"))), Seq(c, s, cents))
      case _ => // point lookup of a key drawn by row, so hot keys recur
        val k = rows.pk(rng.nextInt(rows.n)).toInt
        (s"point[$k]", t.filter(col("pk") === k)
          .agg(count(lit(1)), sum("sign")), Seq(ref.count(k), ref.net(k)))
    }
    if (Trace.on) {
      val t0 = System.nanoTime()
      Trace.span("scan.plan")(df.queryExecution.executedPlan)
      scanPlanMs += (System.nanoTime() - t0) / 1e6
    }
    val t1 = System.nanoTime()
    val got = Trace.span("scan.exec")(df.collect()).head
    if (Trace.on) {
      scanExecMs += (System.nanoTime() - t1) / 1e6
      val out = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
      scanOut += out
      scanStored += rows.n
    }
    val values = (0 until got.length).map { c =>
      got.get(c) match {
        case null => 0L
        case d: java.math.BigDecimal => d.movePointRight(2).longValueExact
        case n: Number => n.longValue
        case o => throw new IllegalStateException(s"unexpected $o")
      }
    }
    if (values == expect) None
    else Some(s"$what: got ${values.mkString(",")} want ${expect.mkString(",")}")
  }

  /** Per-key Σ sign and Σ sign·amount, and rows landed, read back
    * through the source and compared with the generator's reference.
    */
  private def checkNetState(spark: SparkSession, table: String, rows: Rows,
      r: Result)(onBadKeys: Set[Long] => Unit): Unit = {
    val ref = new ChangelogGen.Reference(rows)
    val t = spark.read.format("clickhouse-style").schema(TableSchema)
      .options(sinkOptions(table)).load()
    val got = t.groupBy("pk").agg(count(lit(1)), sum("sign"),
        sum(col("sign") * col("amount")))
      .collect().map(row => row.getLong(0) -> (row.getLong(1), row.getLong(2),
        row.getDecimal(3).movePointRight(2).longValueExact)).toMap
    val want = ref.keys.map(k => k.toLong ->
      (ref.count(k), ref.net(k), ref.netCents(k))).toMap
    val bad = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
    if (bad.nonEmpty) {
      val k = bad.min
      r.note(s"$table: ${bad.size} keys differ from the generator's " +
        s"reference, e.g. pk $k got ${got.get(k)} want ${want.get(k)}")
      onBadKeys(bad)
    }
  }

  private def landedRows(table: String): Long =
    MemorySinkRegistry.allFor(table).map(_._2.size.toLong).sum

  /** Test hook: negate the sign of one landed row. */
  private def flipOneSign(table: String): Unit = {
    val e = MemorySinkRegistry.batches.asScala.find(_._1 == table).get
    MemorySinkRegistry.batches.remove(e)
    val first = e._3.head
    val flipped = Row.fromSeq(first.toSeq.init :+ (-first.getInt(first.length - 1)))
    MemorySinkRegistry.batches.add((e._1, e._2, flipped +: e._3.tail))
  }

  private def sinkWriter(df: DataFrame, table: String) = {
    val ckpt = s"${a.work}/ckpt/${table}_${ckptSeq.incrementAndGet()}"
    df.writeStream.format("clickhouse-style").outputMode("append")
      .options(sinkOptions(table)).option("checkpointLocation", ckpt)
  }

  /** Wait until a freshly started query is idle, waiting for data. */
  private def awaitIdle(q: StreamingQuery): Unit = {
    val t0 = System.nanoTime()
    while (!q.status.message.startsWith("Waiting for data") &&
        q.isActive && System.nanoTime() - t0 < 30e9) Thread.sleep(5)
  }

  private def writeBacklog(spark: SparkSession, rows: Rows, dir: String): Unit = {
    val data = (0 until rows.n).map(i => Row.fromTuple(rows.row(i, 0L)))
    spark.createDataFrame(spark.sparkContext.parallelize(data, BacklogFiles),
      StreamSchema).write.mode("overwrite").parquet(dir)
  }

  /** GraftDataWriter.toExternalRow over a fixed seeded InternalRow sample. */
  private def convertNsPerRow(spark: SparkSession): Double = {
    val n = math.min(backlog.n, 100000)
    val sample = spark.createDataFrame(
        spark.sparkContext.parallelize(
          (0 until n).map(i => Row.fromTuple(backlog.row(i, 0L))), 1),
        StreamSchema)
      .queryExecution.toRdd.map(_.copy()).collect()
    val reps = (1 to 5).map { _ =>
      Trace.span("dsv2.convert") {
        val t0 = System.nanoTime()
        var h = 0
        sample.foreach(ir => h += GraftDataWriter.toExternalRow(ir, StreamSchema).length)
        require(h == n * StreamSchema.length)
        (System.nanoTime() - t0).toDouble / n
      }
    }
    Stats.median(reps)
  }

  private def recordEpoch(p: StreamingQueryProgress, startMs: Long,
                          parent: (Long, Long)): Unit = {
    val start = startMs * 1000000L
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue * 1000000L }
    val ids = Trace.record("streaming.epoch", start,
      start + d.getOrElse("triggerExecution", 0L), parent)
    val epoch = (ids, if (parent._1 == 0L) ids else parent._2)
    // Spark's phase order within a trigger; the report gives durations
    var at = start
    Seq("latestOffset" -> "streaming.latest_offset",
        "walCommit" -> "streaming.wal_commit",
        "queryPlanning" -> "plans.epoch_planning",
        "addBatch" -> "dsv2.add_batch",
        "commitOffsets" -> "streaming.commit_offsets").foreach { case (k, name) =>
      d.get(k).foreach { ns => Trace.record(name, at, at + ns, epoch); at += ns }
    }
  }

  private def medianOr0(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs)
}

object ChangelogStream {
  // 5,000 rows per epoch: over 1,000 per hash partition at up to four
  // task slots, so the 1,000-row count trigger fires inside epochs
  val Rate = 20000.0           // open-loop rows per second
  val TriggerMs = 250L         // processing-time trigger
  val TickNs = 5000000L        // generator tick
  val BacklogRows = 100000
  val BacklogFiles = 10        // one per micro-batch
  val ReadsPerSecond = 2.0     // timed read-backs per second of the run
  val WarmReads = 4
  val AmountType = DecimalType(12, 2)

  val StreamSchema: StructType = StructType(Seq(
    StructField("pk", LongType, nullable = false),
    StructField("op", StringType),
    StructField("amount", AmountType),
    StructField("qty", IntegerType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("day", DateType),
    StructField("event_ts", TimestampType),
    StructField("name", StringType),
    StructField("created_at", TimestampType)))

  /** The physical table: data columns plus the appended collapsing sign. */
  val TableSchema: StructType = StructType(
    StreamSchema.fields.filterNot(_.name == "op") :+
      StructField("sign", IntegerType, nullable = false))

  def sinkOptions(table: String): Map[String, String] = Map(
    "url" -> "clickhouse://localhost:8123",
    "table-name" -> table,
    "primary-key" -> "pk",
    "table.collapsing.field" -> "sign",
    "sink.partition-strategy" -> "hash",
    "sink.partition-key" -> "pk",
    "sink.batch-size" -> "1000",
    "graft.executor" -> "memory")
}
