package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One recorded span. `trace` is the id of the operation's root span;
  * `parent` is 0 for a root. Times are epoch nanoseconds.
  */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      start: Long, end: Long)

/** In-memory span recorder for the traced run. Spans wrap the benchmark's
  * own calls into each layer; the program itself is not instrumented.
  * With tracing off every call is a plain passthrough.
  */
object Trace {
  @volatile var on = false

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  // nanoTime -> epoch nanos, fixed once so spans from every thread and
  // spans rebuilt from Spark's wall-clock progress reports line up
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs: Long = System.nanoTime() + epochOffsetNs

  /** Current (span id, trace id) on this thread, or (0, 0). */
  def current: (Long, Long) = stack.get.headOption.getOrElse((0L, 0L))

  /** Record `body` as a span named `name`; a span opened with no open
    * parent on this thread starts a new trace.
    */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val (parent, trace0) = current
      val trace = if (parent == 0L) id else trace0
      stack.set((id, trace) :: stack.get)
      val t0 = nowNs
      try body
      finally {
        spans.add(Span(id, parent, trace, name, t0, nowNs))
        stack.set(stack.get.tail)
      }
    }

  /** Record an already-finished interval (e.g. one rebuilt from a
    * streaming progress report) under `parent`; returns its id.
    */
  def record(name: String, start: Long, end: Long,
             parent: (Long, Long)): Long =
    if (!on) 0L
    else {
      val id = ids.incrementAndGet()
      val trace = if (parent._1 == 0L) id else parent._2
      spans.add(Span(id, parent._1, trace, name, start, end))
      id
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Self time of each span: its duration minus the union of the
    * intervals its children cover (children clipped to the parent).
    */
  def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val cs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(c => c._2 > c._1).sortBy(_._1)
      var covered = 0L
      var reach = s.start
      cs.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      s.id -> math.max(0L, (s.end - s.start) - covered)
    }.toMap
  }

  def write(path: String): Unit = {
    val self = selfTimes(all)
    val lines = all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""self_ns":${self(s.id)}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Spark task, job and shuffle counters, totalled per job group (the
  * way graft.Bench's PassListener attributes them) and overall.
  */
final class Counters extends SparkListener {
  final class Acc {
    val jobs = new LongAdder
    val tasks = new LongAdder
    val runMs = new LongAdder
    val shuffleBytes = new LongAdder
    val spillBytes = new LongAdder
  }
  val total = new Acc
  private val byGroup = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  def group(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    total.jobs.increment()
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      group(g).jobs.increment()
      e.stageIds.foreach(id => stageGroup.put(id, g))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val accs = Seq(total) ++ Option(stageGroup.get(e.stageId)).map(group)
      val shuffle = m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead + m.shuffleWriteMetrics.bytesWritten
      accs.foreach { a =>
        a.tasks.increment()
        a.runMs.add(m.executorRunTime)
        a.shuffleBytes.add(shuffle)
        a.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** Wait until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.graft.GraftSparkInternals.drainListenerBus(sc, 5000)
}

/** JVM-wide GC and JIT time, and a peak sampler for Spark's cached
  * blocks (traced run only).
  */
object Jvm {
  import java.lang.management.ManagementFactory

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  def jitMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime else 0L
  }

  /** Used heap after full collections, repeated until it stops shrinking:
    * Spark's ContextCleaner drops shuffle and broadcast state only after
    * a collection has freed their handles, on a thread of its own.
    */
  def liveHeapMb: Double = {
    def used = {
      System.gc(); Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = used
    var cur = used
    var passes = 2
    while (prev - cur > 0.5 && passes < 10) { prev = cur; cur = used; passes += 1 }
    cur
  }

  final class CachePeak(sc: SparkContext) extends Thread("cache-peak") {
    @volatile private var running = true
    @volatile var peakMb = 0.0
    setDaemon(true)
    override def run(): Unit = while (running) {
      try {
        val mb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize)
          .sum / 1048576.0
        if (mb > peakMb) peakMb = mb
      } catch { case _: Throwable => () }
      Thread.sleep(100)
    }
    def finish(): Double = { running = false; join(1000); peakMb }
  }
}
