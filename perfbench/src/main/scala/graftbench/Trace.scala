package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call. Times are `System.nanoTime`; `planNs` is the part of the
  * span spent forcing the executed plan of the Dataset the benchmark
  * materializes. */
final class Span(val id: Int, val name: String, val parent: Int, val thread: Long,
    val start: Long, val phase: String) {
  @volatile var end: Long = start
  @volatile var planNs: Long = 0L
  def durNs: Long = end - start
}

/** Spark jobs attributed to spans: `span` is the id the submitting thread
  * carried in its local property, times are converted to the nanoTime
  * clock. */
final class JobRec(val span: Int, val startNs: Long) {
  @volatile var endNs: Long = startNs
  @volatile var taskNs: Long = 0L
  @volatile var shuffleBytes: Long = 0L
}

/** Times every library call. While `active` it also records a span per call,
  * keeps the spans in memory, tags the Spark jobs a call submits with the
  * span id (a thread-local Spark property) and attributes job, task and
  * shuffle counts to the span through a `SparkListener`, which is registered
  * only while active. Inactive, it only returns the elapsed time. Spans carry
  * the `phase` they were recorded in. */
final class Recorder(sc: SparkContext) {
  import Recorder._

  private val spans = ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  // wall-clock ms (listener events) to the nanoTime clock (spans)
  private val nanoOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def toNano(ms: Long): Long = ms * 1000000L - nanoOffset

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobs.put(e.jobId, new JobRec(span, toNano(e.time)))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endNs = toNano(e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for {
        j <- Option(stageJob.get(e.stageId))
        rec <- Option(jobs.get(j))
        m <- Option(e.taskMetrics)
      } {
        rec.taskNs += m.executorRunTime * 1000000L
        rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
  }
  @volatile private var on = false
  @volatile var phase: String = "setup"

  def active: Boolean = on
  def active_=(v: Boolean): Unit = if (v != on) {
    if (v) sc.addSparkListener(listener)
    else {
      org.apache.spark.graftbench.ListenerDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    on = v
  }

  /** Run `body` as one call named `name`; returns its result and nanos. */
  def call[T](name: String)(body: => T): (T, Long) = {
    if (!on) {
      val t0 = System.nanoTime()
      val r = body
      (r, System.nanoTime() - t0)
    } else {
      val parent = current.get()
      val prevProp = sc.getLocalProperty(SpanKey)
      val s = new Span(nextId.getAndIncrement(), name, if (parent == null) -1 else parent.id,
        Thread.currentThread().getId, System.nanoTime(), phase)
      current.set(s)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try {
        val r = body
        (r, System.nanoTime() - s.start)
      } finally {
        s.end = System.nanoTime()
        current.set(parent)
        sc.setLocalProperty(SpanKey, prevProp)
        spans.synchronized(spans += s)
      }
    }
  }

  /** Force and time the executed plan of `ds` inside the current call. */
  def plan(ds: org.apache.spark.sql.Dataset[_]): Unit = {
    val t0 = System.nanoTime()
    ds.queryExecution.executedPlan
    val s = current.get()
    if (s != null) s.planNs += System.nanoTime() - t0
  }

  /** Spark jobs per span id (complete once the recorder is inactive). */
  def jobCounts: Map[Int, Int] =
    jobs.values().asScala.filter(_.span >= 0).groupBy(_.span).map { case (k, v) => k -> v.size }

  /** Every recorded span, after the listener has seen every event. */
  def finish(): Seq[Span] = {
    active = false
    spans.synchronized(spans.toList)
  }
}

object Recorder {
  val SpanKey = "graftbench.span"
}

/** Per-span-name aggregates over the spans of a phase. Per-call fields are
  * medians (`p50_ms`) or means (`plan_ms`, `jobs`, `task_ms`,
  * `shuffle_bytes`, `driver_gap_ms`); `busy_ms` is the total self time. */
object SpanStats {

  final case class Agg(calls: Int, p50Ms: Double, busyMs: Double, planMs: Double,
      jobs: Double, taskMs: Double, shuffleBytes: Double, driverGapMs: Double)

  /** Aggregates of each named group of spans; `all` holds every span, so
    * children and their jobs are found whatever group they fall in. */
  def aggregate(groups: Map[String, Seq[Span]], all: Seq[Span], jobs: Iterable[JobRec]): Map[String, Agg] = {
    val children = all.filter(_.parent >= 0).groupBy(_.parent)
    val jobsBySpan = jobs.filter(_.span >= 0).groupBy(_.span)
    // a span owns its own jobs and those of its descendants
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    groups.map { case (name, ss) =>
      val perCall = ss.map { s =>
        val js = subtree(s).flatMap(c => jobsBySpan.getOrElse(c.id, Nil))
        val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        val self = Stats.selfTime(s.start, s.end, kids)
        val jobNs = Stats.coveredWithin(s.start, s.end, js.map(j => (j.startNs, j.endNs)).toSeq)
        (self, js, s.durNs - jobNs)
      }
      val n = ss.size.toDouble
      name -> Agg(
        calls = ss.size,
        p50Ms = Stats.median(ss.map(_.durNs / 1e6)),
        busyMs = perCall.map(_._1).sum / 1e6,
        planMs = ss.map(_.planNs).sum / 1e6 / n,
        jobs = perCall.map(_._2.size).sum / n,
        taskMs = perCall.map(_._2.map(_.taskNs).sum).sum / 1e6 / n,
        shuffleBytes = perCall.map(_._2.map(_.shuffleBytes).sum).sum / n,
        driverGapMs = perCall.map(_._3).sum / 1e6 / n)
    }
  }

  /** Field value by its per-layer metric suffix. */
  def field(a: Agg, f: String): Double = f match {
    case "p50_ms" => a.p50Ms
    case "busy_ms" => a.busyMs
    case "plan_ms" => a.planMs
    case "jobs" => a.jobs
    case "task_ms" => a.taskMs
    case "shuffle_bytes" => a.shuffleBytes
    case "driver_gap_ms" => a.driverGapMs
  }
}
