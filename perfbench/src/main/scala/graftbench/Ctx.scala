package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** A workload's typical timed iteration: its wall time and the rows of work it does. */
final case class Iter(ns: Long, rows: Double)

/** What a workload hands back: the wall time of each timed iteration and
  * of each timed phase (untraced and traced separately), the typical
  * iteration of the reported phase (what `iter_p50_ms` and `rows_per_s`
  * are read from) and the workload-level figures reported per layer. */
final case class Outcome(
    plain: Seq[Long],
    traced: Seq[Long],
    plainWallNs: Long,
    tracedWallNs: Long,
    typical: Iter,
    layer: Map[String, Double])

/** Run-scoped state shared by the workloads: the session, the seed, the
  * run's temporary root, the call recorder and the operation counters. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val tracing: Boolean, val root: Path) {

  val recorder = new Recorder(spark.sparkContext)
  recorder.active = tracing // set-up calls are traced too

  private val born = System.nanoTime()
  /** Progress note on stderr: what starts now, and when since the start. */
  def note(what: String): Unit =
    System.err.println(f"[graftbench] ${(System.nanoTime() - born) / 1e9}%.1f s: $what")

  /** `n` untimed warm-up iterations, so that the JIT has compiled the hot
    * paths before timing starts; their calls are never traced. */
  def warmup(n: Int)(step: Int => Unit): Unit = {
    note(s"warm-up: $n iterations")
    recorder.active = false
    recorder.phase = "warmup"
    val ms = (0 until n).map { i => val t0 = System.nanoTime(); step(i); (System.nanoTime() - t0) / 1e6 }
    note(s"warm-up done: ${ms.map(t => f"$t%.0f").mkString(" ")} ms")
  }
  val attempted = new AtomicLong
  val failed = new AtomicLong
  /** Counting is on only while timed operations run. */
  @volatile var counting = false

  /** Library call `name` whose result `ok` must accept. A thrown exception
    * or a rejected result counts as one failed operation; the result is
    * returned either way so the caller can keep its model in step. */
  def op[T](name: String)(body: => T)(ok: T => Boolean): (Option[T], Long) = {
    if (counting) attempted.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      val (r, ns) = recorder.call(name)(body)
      if (!recorder.call("bench.check")(ok(r))._1)
        fail(name, s"wrong result: ${String.valueOf(r).take(300)}")
      (Some(r), ns)
    } catch {
      case NonFatal(e) =>
        fail(name, e.toString)
        e.printStackTrace()
        (None, System.nanoTime() - t0)
    }
  }

  private def fail(name: String, why: String): Unit = {
    if (counting) failed.incrementAndGet()
    System.err.println(s"[graftbench] FAILED $name: $why")
  }

  /** Runs `setup` `reps` times, each into a fresh directory, and keeps the
    * last state; returns it with the median set-up time in seconds. */
  def setupReps[S](reps: Int)(setup: Path => S): (S, Double) = {
    note("set-up")
    var last: Option[(S, Path)] = None
    val times = (0 until reps).map { r =>
      val dir = Files.createDirectories(root.resolve(s"setup$r"))
      val t0 = System.nanoTime()
      val s = setup(dir)
      val dt = (System.nanoTime() - t0) / 1e9
      last.foreach { case (_, d) => Main.deleteRecursively(d) }
      last = Some((s, dir))
      dt
    }
    note(s"set-up times ${times.map(t => f"$t%.2f").mkString(" ")} s; checks")
    (last.get._1, Stats.median(times))
  }

  /** Repeats `step` until `seconds` of wall time have passed and it has
    * run at least `minIters` times. */
  def loop(seconds: Double, minIters: Int)(step: => Long): (Seq[Long], Long) = {
    val its = Vector.newBuilder[Long]
    var n = 0
    val t0 = System.nanoTime()
    while (n < minIters || System.nanoTime() - t0 < seconds * 1e9) { its += step; n += 1 }
    (its.result(), System.nanoTime() - t0)
  }

  /** Timed phases: one untraced phase of the whole run (half of it in a
    * traced run, for the overhead comparison), then a traced phase as long
    * as an untraced run. The reported phase (the traced one in a traced
    * run) runs at least `minIters` iterations. `step(i)` runs timed
    * iteration i, numbered across both phases; `beforeReported` runs just
    * before the reported phase, so a workload can reset its counters. */
  def phases(step: Int => Long, beforeReported: () => Unit = () => (),
      minIters: Int = 1): (Seq[Long], Long, Seq[Long], Long) = {
    note("timed phase")
    var i = 0
    def run(secs: Double, min: Int) = loop(secs, min) { val it = step(i); i += 1; it }
    counting = true
    recorder.active = false
    recorder.phase = "plain"
    if (!tracing) beforeReported()
    val (plain, plainNs) = if (tracing) run(seconds / 2, 1) else run(seconds, minIters)
    val (traced, tracedNs) =
      if (!tracing) (Seq.empty, 0L)
      else {
        beforeReported()
        recorder.active = true
        recorder.phase = "timed"
        val gc0 = Ctx.gcMs
        val r = run(seconds, minIters)
        tracedGcMs = Ctx.gcMs - gc0
        r
      }
    recorder.active = false
    counting = false
    note(s"timed phase done: ${plain.size + traced.size} iterations of " +
      (plain ++ traced).map(ns => f"${ns / 1e6}%.0f").mkString(" ") + " ms")
    (plain, plainNs, traced, tracedNs)
  }

  /** GC time spent during the traced phase. */
  @volatile var tracedGcMs = 0L

  def tmpDir(name: String): Path = Files.createDirectories(root.resolve(name))
}

object Ctx {
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
}

/** Order-independent content signature of a frame: row count, sum of the
  * low 32 bits and xor of the 64-bit xxhash of every row (columns taken in
  * name order). Equal frames give equal signatures. */
final case class Sig(count: Long, sum: Long, xor: Long) {
  def add(h: Long): Sig = Sig(count + 1, sum + (h & 0xFFFFFFFFL), xor ^ h)
  def remove(h: Long): Sig = Sig(count - 1, sum - (h & 0xFFFFFFFFL), xor ^ h)
}

object Sig {
  val Empty: Sig = Sig(0L, 0L, 0L)

  def rowHash(df: DataFrame): Column = xxhash64(df.columns.sorted.toIndexedSeq.map(col): _*)

  /** One-row aggregate: the three signature columns, then `extra`. */
  def frame(df: DataFrame, extra: Column*): DataFrame = {
    val h = col("__h")
    df.select((rowHash(df).as("__h") +: df.columns.toSeq.map(col)): _*)
      .agg(count(lit(1)), (coalesce(sum(h.bitwiseAND(0xFFFFFFFFL)), lit(0L)) +:
        coalesce(bit_xor(h), lit(0L)) +: extra): _*)
  }

  def of(row: Row): Sig = Sig(row.getLong(0), row.getLong(1), row.getLong(2))

  /** Driver-side row hash, the same Catalyst expression the frame uses,
    * over values given in column-name order. */
  def hashValues(values: Any*): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    new XxHash64(values.map(v => Literal(v))).eval(null).asInstanceOf[Long]
  }
}
