package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, LinkOption, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run:
  * `graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  * Prints, as its last stdout line, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics`: the end-to-end metrics when
  * untraced, the per-layer metrics when traced. */
object Main {

  val Workloads: Map[String, Ctx => (Outcome, Double)] = Map(
    "pit_training" -> PitTraining.run,
    "lakehouse_cdc" -> LakehouseCdc.run)

  /** End-to-end metrics: name -> unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "rows/s", "iter_p50_ms" -> "ms", "live_heap_mb" -> "MB")

  /** Per-layer metrics: span -> fields, then the single figures. */
  val SpanFields: Seq[(String, Seq[String])] = {
    val op7 = Seq("p50_ms", "busy_ms", "plan_ms", "jobs", "task_ms", "shuffle_bytes", "driver_gap_ms")
    val write4 = Seq("p50_ms", "busy_ms", "jobs", "driver_gap_ms")
    val read4 = Seq("p50_ms", "plan_ms", "jobs", "driver_gap_ms")
    Seq(
      "store.load_tx" -> Seq("busy_ms", "jobs", "driver_gap_ms"),
      "store.get_point_in_time_features" -> op7,
      "store.get_feature_vector" -> op7) ++
      LakehouseCdc.Formats.flatMap(f => Seq(
        s"sources.$f.upsert" -> write4,
        s"sources.$f.delete" -> write4,
        s"sources.$f.read" -> read4,
        s"sources.$f.read_history" -> read4,
        s"sources.$f.compact" -> Seq("busy_ms", "jobs")))
  }

  val Figures: Seq[String] =
    LakehouseCdc.Formats.flatMap(f => Seq(s"sources.$f.bytes_written", s"sources.$f.files_live")) ++
    Seq("pit.rows_per_s", "pit.vector_rows_per_s",
      "cdc.commit_p50_ms", "cdc.read_p50_ms", "cdc.rows_per_s", "cdc.write_amp",
      "jvm.gc_ms", "trace.overhead_ratio", "trace.accounted_ratio", "bench.own_ms", "run.error_rate")

  def perLayerNames: Seq[String] =
    SpanFields.flatMap { case (s, fs) => fs.map(f => s"$s.$f") } ++ Figures

  def unitOf(name: String): String = name.split('.').last match {
    case f if f.endsWith("_ms") => "ms"
    case "jobs" | "files_live" => "count"
    case "shuffle_bytes" | "bytes_written" => "bytes"
    case "rows_per_s" | "vector_rows_per_s" => "rows/s"
    case _ => "ratio"
  }

  /** `spans`: where a traced run writes its raw spans, one JSON object a line. */
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      spans: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.get("spans"))
    require(Workloads.contains(o.workload),
      s"unknown workload ${o.workload}; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
    require(o.seconds > 0, "--seconds must be positive")
    o
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val root = Files.createTempDirectory(Paths.get(System.getProperty("java.io.tmpdir")), "graftbench-")
    val cleanup = new Thread(() => deleteRecursively(root))
    Runtime.getRuntime.addShutdownHook(cleanup)
    val cpus = Runtime.getRuntime.availableProcessors()
    // built the way graft.Bench builds its session
    val spark = SparkSession.builder()
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .config("spark.local.dir", root.toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val line = try {
      val ctx = new Ctx(spark, opts.seed, opts.seconds, opts.trace, root)
      ctx.note(s"session up ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3} s after JVM start")
      val (out, setupS) = Workloads(opts.workload)(ctx)
      val r = result(ctx, out, setupS)
      opts.spans.filter(_ => opts.trace).foreach(writeSpans(_, ctx.recorder))
      ctx.note("result")
      r
    } finally {
      spark.stop()
      deleteRecursively(root)
      Runtime.getRuntime.removeShutdownHook(cleanup)
    }
    println(line)
  }

  /** Heap in use after forced GCs: the least of several GC-and-read
    * rounds, because Spark frees broadcast and shuffle blocks from a cleaner
    * thread only after their driver references have been collected. */
  private def liveHeapMb(): Double =
    (0 until 5).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min

  def result(ctx: Ctx, out: Outcome, setupS: Double): String = {
    val spans = ctx.recorder.finish()
    val attempted = math.max(1L, ctx.attempted.get)
    val failed = ctx.failed.get
    val metrics: Seq[(String, Double, String)] =
      if (!ctx.tracing) {
        val typ = out.typical
        Seq(("setup_s", setupS, "s"), ("rows_per_s", typ.rows / (typ.ns / 1e9), "rows/s"),
          ("iter_p50_ms", typ.ns / 1e6, "ms"),
          ("live_heap_mb", liveHeapMb(), "MB"))
      } else {
        // timed-phase spans, plus set-up spans for calls made only in set-up
        val timedNames = spans.filter(_.phase == "timed").map(_.name).toSet
        val kept = spans.filter(s => s.phase == "timed" || (s.phase == "setup" && !timedNames(s.name)))
        val jobs = ctx.recorder.jobs.values().asScala
        val aggs = SpanStats.aggregate(kept.groupBy(_.name), spans, jobs)
        val timed = spans.filter(s => s.phase == "timed" && s.parent < 0)
        val busy = timed.map(_.durNs).sum
        val own = timed.filter(_.name.startsWith("bench.")).map(_.durNs).sum
        def mean(xs: Seq[Long]) = xs.map(_.toDouble).sum / math.max(1, xs.size)
        val figures = out.layer ++ Map(
          "jvm.gc_ms" -> ctx.tracedGcMs.toDouble,
          "trace.overhead_ratio" -> (if (out.plain.isEmpty) 0.0 else mean(out.traced) / mean(out.plain)),
          "trace.accounted_ratio" -> busy / out.tracedWallNs.toDouble,
          "bench.own_ms" -> own / 1e6,
          "run.error_rate" -> failed.toDouble / attempted)
        SpanFields.flatMap { case (s, fs) =>
          fs.map(f => (s"$s.$f", aggs.get(s).map(SpanStats.field(_, f)).getOrElse(0.0), unitOf(f)))
        } ++ Figures.map(n => (n, figures.getOrElse(n, 0.0), unitOf(n)))
      }
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {${body.mkString(", ")}}}"""
  }

  /** The recorded spans, in start order, times relative to the first. */
  private def writeSpans(path: String, rec: Recorder): Unit = {
    val spans = rec.finish().sortBy(_.start)
    val jobs = rec.jobCounts
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val lines = spans.map { s =>
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "thread": ${s.thread}, """ +
        s""""phase": "${s.phase}", "start_ms": ${num((s.start - t0) / 1e6)}, "dur_ms": ${num(s.durNs / 1e6)}, """ +
        s""""plan_ms": ${num(s.planNs / 1e6)}, "jobs": ${jobs.getOrElse(s.id, 0)}}"""
    }
    Files.write(Paths.get(path), lines.asJava)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.list(p)
      try s.iterator().asScala.foreach(deleteRecursively) finally s.close()
    }
    Files.deleteIfExists(p)
  }
}
