package graftbench

import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark JVM entry point; `run.py` launches it and does the rest.
  *
  *   graftbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *                   <dataDir> <cpus> [tiny] [flip_sign]
  *
  * `tiny` shrinks the inputs for the benchmark's own tests; `flip_sign`
  * corrupts one landed row so a test can see the check catch it.
  *
  * Phases: untimed input preparation, SetupReps set-ups (session build
  * and input load; setup_s is their median), one untimed warm-up, the
  * timed phase, then the untimed output checks. Everything measured lands in
  * `<workDir>/result.json`; spans of a traced run in `spans.jsonl`.
  */
object Main {
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
                        traced: Boolean, work: String, data: String,
                        cpus: Int, flags: Set[String]) {
    def tiny: Boolean = flags("tiny")
  }

  trait Workload {
    /** Untimed input preparation that needs a live session. */
    def prepare(spark: SparkSession): Unit = ()
    def load(spark: SparkSession): Unit
    def warmup(spark: SparkSession): Unit
    def timed(spark: SparkSession, r: Result): Unit
    /** Untimed checks of the timed phase's outputs. */
    def check(spark: SparkSession, r: Result): Unit = ()
    /** Release everything the workload retains (after its check). */
    def release(): Unit = graft.sink.dsv2.MemorySinkRegistry.clear()
    /** Traced-run-only measurements, after the timed phase. */
    def traceExtras(spark: SparkSession, r: Result): SparkSession = spark
  }

  def session(cpus: Int): SparkSession =
    Trace.span("setup.session") {
      GraftSession.build(cpus = cpus.toString, appName = "graftbench")
    }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      argv(4), argv(5), argv(6).toInt, argv.drop(7).toSet)
    Trace.on = a.traced
    val r = new Result
    val wl: Workload = a.workload match {
      case "changelog_stream" => new ChangelogStream(a)
      case "query_pipeline" => new QueryPipeline(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var spark: SparkSession = null
    var counters: Counters = null
    val setupSecs = (1 to SetupReps).map { rep =>
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession() }
      var t0 = System.nanoTime()
      spark = session(a.cpus)
      counters = new Counters
      spark.sparkContext.addSparkListener(counters)
      if (rep == 1) {
        val g0 = System.nanoTime()
        wl.prepare(spark)
        t0 += System.nanoTime() - g0 // generation is not set-up
      }
      Trace.span("setup.load")(wl.load(spark))
      (System.nanoTime() - t0) / 1e9
    }
    r.e2e("setup_s") = Stats.median(setupSecs)
    r.note(f"setup reps (s): ${setupSecs.map(s => f"$s%.3f").mkString(", ")}")
    val w0 = System.nanoTime()
    Trace.span("setup.warmup")(wl.warmup(spark))
    wl.release()
    r.note(f"warm-up: ${(System.nanoTime() - w0) / 1e9}%.3f s")

    val cachePeak = if (a.traced) {
      val c = new Jvm.CachePeak(spark.sparkContext); c.start(); Some(c)
    } else None
    counters.drain(spark.sparkContext)
    val (tasks0, run0, shuffle0, spill0) = (counters.total.tasks.sum,
      counters.total.runMs.sum, counters.total.shuffleBytes.sum,
      counters.total.spillBytes.sum)
    r.counters = counters
    val gc0 = Jvm.gcMs
    val jit0 = Jvm.jitMs
    val t0 = System.nanoTime()
    wl.timed(spark, r)
    val wall = (System.nanoTime() - t0) / 1e9
    counters.drain(spark.sparkContext)
    r.layer("jvm.gc_s") = (Jvm.gcMs - gc0) / 1000.0
    r.layer("jvm.jit_s") = (Jvm.jitMs - jit0) / 1000.0
    r.layer("spark.shuffle_mb") =
      (counters.total.shuffleBytes.sum - shuffle0) / 1048576.0
    r.layer("spark.spill_mb") =
      (counters.total.spillBytes.sum - spill0) / 1048576.0
    r.layer("spark.task_busy_share") =
      (counters.total.runMs.sum - run0) / 1000.0 / (wall * a.cpus)
    r.layer("spark.tasks") = (counters.total.tasks.sum - tasks0).toDouble
    r.layer("spark.cached_mb_peak") = cachePeak.map(_.finish()).getOrElse(0.0)
    r.note(f"timed phase: $wall%.3f s")

    Trace.span("check")(wl.check(spark, r))
    wl.release()
    spark.catalog.clearCache()
    org.apache.spark.graft.GraftSparkInternals
      .drainListenerBus(spark.sparkContext, 5000)
    r.e2e("live_heap_mb") = Jvm.liveHeapMb

    if (a.traced) spark = wl.traceExtras(spark, r)
    spark.stop()
    if (a.traced) Trace.write(s"${a.work}/spans.jsonl")
    r.write(s"${a.work}/result.json")
    Ops.shutdown()
  }
}

/** Everything one run measured, written as result.json for run.py. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** The workload's named headline metrics: name -> (value, unit). */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  /** Checks run.py makes on dumped outputs: check name -> the number of
    * timed operations that are wrong if that check fails.
    */
  val checked = mutable.LinkedHashMap.empty[String, Long]
  private val notes = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var counters: Counters = _

  def note(s: String): Unit = { notes += s; System.err.println(s"[bench] $s") }

  def fail(op: String, why: String): Unit = {
    failed += 1
    failures += op -> why
  }

  def write(path: String): Unit = {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => s"${Json.str(k)}:${num(v)}" }.mkString("{", ",", "}")
    val namedJs = named.map { case (k, (v, u)) =>
      s"""${Json.str(k)}:{"value":${num(v)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
    // one entry per failed operation kind, with its count and first error
    val failJs = failures.groupBy(_._1).toSeq.sortBy(_._1).map { case (op, fs) =>
      s"""{"op":${Json.str(op)},"count":${fs.size},"error":${Json.str(fs.head._2)}}"""
    }.mkString("[", ",", "]")
    val js = s"""{"attempted":$attempted,"failed":$failed,"failures":$failJs,""" +
      s""""e2e":${obj(e2e)},"layer":${obj(layer)},"named":$namedJs,""" +
      s""""checked":${obj(checked.map(kv => kv._1 -> kv._2.toDouble))},""" +
      s""""notes":${notes.map(Json.str).mkString("[", ",", "]")}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path), js.getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  /** Linear-interpolated percentile (numpy's default) of `xs`. */
  def pct(xs: collection.Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val h = (s.length - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: collection.Seq[Double]): Double = pct(xs, 50)

  /** The percentile every tail metric reports. It is fixed, and each
    * workload takes a fixed number of samples, so a slower or faster run
    * moves the tail value, never the percentile it is taken at.
    */
  val TailPct = 90.0
}

/** Timed operations under a watchdog: an operation still running after
  * `TimeoutS` has its Spark job group cancelled and counts as failed.
  */
object Ops {
  val TimeoutS = 60L
  private lazy val watchdog: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor { (r: Runnable) =>
      val t = new Thread(r, "op-watchdog"); t.setDaemon(true); t
    }
  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Run `body` as one attempted operation; returns its seconds and
    * whether it completed without throwing.
    */
  def run(spark: SparkSession, r: Result, op: String)(body: => Unit)
      : (Double, Boolean) = {
    val group = s"op-${seq.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setJobGroup(group, op, interruptOnCancel = true)
    @volatile var timedOut = false
    val alarm = watchdog.schedule(new Runnable {
      def run(): Unit = { timedOut = true; sc.cancelJobGroup(group) }
    }, TimeoutS, TimeUnit.SECONDS)
    r.attempted += 1
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case e: Throwable =>
        r.fail(op, if (timedOut) s"timed out after $TimeoutS s"
                   else s"${e.getClass.getSimpleName}: ${e.getMessage}")
        false
    } finally {
      alarm.cancel(false)
      sc.clearJobGroup()
    }
    ((System.nanoTime() - t0) / 1e9, ok)
  }

  def lastGroup: String = s"op-${seq.get}"

  def shutdown(): Unit = watchdog.shutdownNow()
}
