package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.scheduler._

/** One recorded call: name, start/end (ns), the span that caused it (0 for
  * an operation's root) and the operation it belongs to.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String, start: Long, end: Long)

/** In-memory spans recorded around calls into the engine's layers. With
  * tracing off, `op` and `span` only run the body.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[(Long, Long)] { override def initialValue = (0L, 0L) }

  /** Open a new operation (root span); nested spans inherit its id. */
  def op[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    run(name, id, id, 0L)(body)
  }

  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val (parent, op) = current.get()
    run(name, ids.incrementAndGet(), op, parent)(body)
  }

  private def run[A](name: String, id: Long, op: Long, parent: Long)(body: => A): A = {
    val saved = current.get()
    current.set((id, op))
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, op, name, t0, System.nanoTime()))
      current.set(saved)
    }
  }

  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; spans.asScala.toSeq }

  /** Self time (s) per span name: span durations minus the part of each
    * interval its direct children cover.
    */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (n, group) =>
      n -> group.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  /** Durations (ms) of every span with this name. */
  def durationsMs(name: String): Seq[Double] = all.filter(_.name == name).map(s => (s.end - s.start) / 1e6)

  /** Share of the time of root spans with these names that their child
    * spans cover.
    */
  def coverage(rootNames: Seq[String]): Double = {
    val ss = all
    val roots = ss.filter(s => s.parent == 0L && rootNames.contains(s.name))
    val kids = ss.groupBy(_.parent)
    val total = roots.map(s => s.end - s.start).sum.toDouble
    val covered = roots.map(r => union(kids.getOrElse(r.id, Nil).map(c => (c.start, c.end)))).sum
    if (total == 0) 0.0 else covered / total
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var sum = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) sum += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) sum += curE - curS
    sum
  }
}

object Tracer {
  val Off = new Tracer(false)
}

/** Spark work counters, summed over every task and stage that ends while
  * the listener is registered.
  */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val runMs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val fetchWaitMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
    }
  }

  def snap: SparkSnap = SparkSnap(jobs.get, stages.get, tasks.get, cpuNs.get, runMs.get, gcMs.get,
    shuffleWriteBytes.get, fetchWaitMs.get)
}

final case class SparkSnap(jobs: Long, stages: Long, tasks: Long, cpuNs: Long, runMs: Long, gcMs: Long,
    shuffleWriteBytes: Long, fetchWaitMs: Long)

/** Host stamps taken around every run, so a noisy host shows in the output:
  * hypervisor steal share of busy time (/proc/stat), 1-min load average,
  * and a single-thread delivered-speed probe (fixed splitmix64 work).
  */
object Host {
  /** (busy, steal) jiffies of the whole box; zeros where unreadable. */
  def cpuJiffies: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val l = try src.getLines().next() finally src.close()
      val c = l.trim.split("\\s+").drop(1).map(_.toLong)
      (c(0) + c(1) + c(2), if (c.length > 7) c(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }

  def stealShare(before: (Long, Long), after: (Long, Long)): Double = {
    val busy = after._1 - before._1
    val steal = after._2 - before._2
    if (busy + steal > 0) steal.toDouble / (busy + steal) else 0.0
  }

  def loadavg1: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  private def mix(n: Long): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < n) {
      x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L
      x ^= x >>> 27; x *= 0x94D049BB133111EBL
      x ^= x >>> 31; x += 0x9E3779B97F4A7C15L
      i += 1
    }
    x
  }

  private val sink = new AtomicReference[java.lang.Long](0L)

  /** Million splitmix64 steps per second on one thread (~0.1 s of work). */
  def speedProbe(): Double = {
    sink.set(mix(1L << 22)) // warm the JIT
    val n = 1L << 25
    val t0 = System.nanoTime()
    sink.set(mix(n))
    n / ((System.nanoTime() - t0) / 1e9) / 1e6
  }
}

/** JSON rendering of the result lines (maps, sequences, numbers, strings). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
