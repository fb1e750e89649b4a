package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Every public Delta and Iceberg entry point that works on an existing
  * table refuses, before writing any byte, a directory holding no table
  * and a table it cannot read: Iceberg metadata of format-version 3, a
  * Delta log without a metaData action, and (the row-level Iceberg
  * writers) a table with no current snapshot. Exports that create their
  * target are checked only where the target exists. */
class TableRefusalSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(prefix: String): Path = Files.createTempDirectory(prefix)

  /** (id, day, v) rows 0 until 12 over three `day` values. */
  private def source(partitioned: Boolean = false): TxTable = {
    val t = TxTable(spark, newDir("graft_refuse_src").toString)
    t.append((0L until 12L).map(i => (i, i % 3, i * 1.5)).toDF("id", "day", "v"),
      tsMillis = 1000L, partitionBy = if (partitioned) Seq("day") else Seq.empty)
    t
  }

  private def rows: DataFrame = Seq((1L, 1L, 9.0), (50L, 2L, 9.5)).toDF("id", "day", "v")

  /** Every regular file under `dir` with its bytes, for a no-write check. */
  private def snapshot(dir: Path): Map[String, Seq[Byte]] = {
    val w = Files.walk(dir)
    try w.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally w.close()
  }

  /** The names of `calls` that did not refuse with an
    * IllegalArgumentException or IllegalStateException, or that changed a
    * byte under `dir` (or under a tail sink) while refusing. */
  private def nonRefusing(dir: Path, sinks: Seq[Path], calls: Seq[(String, () => Any)]): Seq[String] =
    calls.flatMap { case (name, call) =>
      val before = (dir +: sinks).map(snapshot)
      val refused = try { call(); false } catch {
        case _: IllegalArgumentException | _: IllegalStateException => true
      }
      if (refused && (dir +: sinks).map(snapshot) == before) None else Some(name)
    }

  // ---------------------------------------------------------------- Iceberg

  private def icebergCalls(path: String, t: TxTable, sink: TxTable,
      withExports: Boolean): Seq[(String, () => Any)] = {
    val I = IcebergInterop
    val exports: Seq[(String, () => Any)] =
      if (!withExports) Seq.empty
      else Seq(
        "exportIcebergIncremental" -> (() => I.exportIcebergIncremental(t, path, 2000L)),
        "exportIcebergBucketedIncremental" -> (() =>
          I.exportIcebergBucketedIncremental(t, path, "id", 4, 2000L)),
        "exportIcebergTruncatedIncremental" -> (() =>
          I.exportIcebergTruncatedIncremental(t, path, "id", 4, 2000L)))
    exports ++ Seq(
      "deleteFromIceberg" -> (() => I.deleteFromIceberg(spark, path, col("id") === 1L, 2000L)),
      "deleteFromIcebergByKey" -> (() =>
        I.deleteFromIcebergByKey(spark, path, Seq(1L).toDF("id"), 2000L)),
      "deleteFromIcebergByKeyScoped" -> (() => I.deleteFromIcebergByKeyScoped(spark, path,
        Seq(1L).toDF("id"), Map("day" -> 1L), 2000L)),
      "upsertIceberg" -> (() => I.upsertIceberg(spark, path, rows, Seq("id"), 2000L)),
      "appendIceberg" -> (() => I.appendIceberg(spark, path, rows, 2000L)),
      "evolveIcebergSpecDay" -> (() => I.evolveIcebergSpecDay(spark, path, "v", 2000L)),
      "compactIcebergDeletes" -> (() => I.compactIcebergDeletes(spark, path, 2000L)),
      "rewriteIcebergData" -> (() => I.rewriteIcebergData(spark, path, 2000L)),
      "icebergRefs" -> (() => I.icebergRefs(path)),
      "icebergRef" -> (() => I.icebergRef(path, "main")),
      "setIcebergRef" -> (() => I.setIcebergRef(path, "t", 1L, "tag", 2000L)),
      "dropIcebergRef" -> (() => I.dropIcebergRef(path, "t", 2000L)),
      "expireIcebergSnapshots" -> (() => I.expireIcebergSnapshots(spark, path, 1, 2000L)),
      "renameIcebergColumn" -> (() => I.renameIcebergColumn(spark, path, "v", "w", 2000L)),
      "dropIcebergColumn" -> (() => I.dropIcebergColumn(spark, path, "v", 2000L)),
      "readIceberg" -> (() => I.readIceberg(spark, path)),
      "readIcebergRange" -> (() => I.readIcebergRange(spark, path, Seq(("id", 0.0, 1.0)))),
      "readIcebergPruned" -> (() => I.readIcebergPruned(spark, path, _ => true)),
      "icebergSnapshotAt" -> (() => I.icebergSnapshotAt(path, 9000L)),
      "readIcebergChangelog" -> (() => I.readIcebergChangelog(spark, path, 1L)),
      "readIcebergChanges" -> (() => I.readIcebergChanges(spark, path, 1L)),
      "tailIcebergInto" -> (() => I.tailIcebergInto(spark, path, sink, 1L, 2000L)),
      "tailIcebergCdcInto" -> (() => I.tailIcebergCdcInto(spark, path, sink, Seq("id"), 1L, 2000L)))
  }

  /** An exported Iceberg table whose current metadata is edited by `edit`. */
  private def editedIceberg(edit: String => String, partitioned: Boolean = false): Path = {
    val out = newDir("graft_refuse_ice")
    IcebergInterop.exportIceberg(source(partitioned), out.toString, tsMillis = 1500L)
    val meta = out.resolve("metadata").resolve("v1.metadata.json")
    val text = new String(Files.readAllBytes(meta), "UTF-8")
    val edited = edit(text)
    assert(edited != text)
    Files.write(meta, edited.getBytes("UTF-8"))
    out
  }

  private def sinkDir(): (TxTable, Path) = {
    val dir = newDir("graft_refuse_sink")
    (TxTable(spark, dir.toString), dir)
  }

  test("Iceberg: a directory without a table is refused by every entry point") {
    val dir = newDir("graft_refuse_empty")
    val (sink, sd) = sinkDir()
    assert(nonRefusing(dir, Seq(sd), icebergCalls(dir.toString, source(), sink,
      withExports = false)).isEmpty)
  }

  test("Iceberg: format-version 3 metadata is refused by every entry point") {
    val dir = editedIceberg(_.replace("\"format-version\" : 1", "\"format-version\" : 3"))
    val (sink, sd) = sinkDir()
    assert(nonRefusing(dir, Seq(sd), icebergCalls(dir.toString, source(), sink,
      withExports = true)).isEmpty)
  }

  test("Iceberg: the row-level writers refuse a table with no current snapshot") {
    val dir = editedIceberg(_.replaceFirst("\"current-snapshot-id\" : \\d+",
      "\"current-snapshot-id\" : -1"), partitioned = true)
    val writers = Set("deleteFromIceberg", "deleteFromIcebergByKey",
      "deleteFromIcebergByKeyScoped", "upsertIceberg", "appendIceberg")
    val (sink, sd) = sinkDir()
    val calls = icebergCalls(dir.toString, source(), sink, withExports = false)
      .filter(c => writers(c._1))
    assert(calls.map(_._1).toSet == writers)
    assert(nonRefusing(dir, Seq(sd), calls).isEmpty)
  }

  // ------------------------------------------------------------------ Delta

  private def deltaCalls(path: String, t: TxTable, sink: TxTable,
      withExports: Boolean): Seq[(String, () => Any)] = {
    val D = DeltaInterop
    val exports: Seq[(String, () => Any)] =
      if (!withExports) Seq.empty
      else Seq("exportDeltaIncremental" -> (() => D.exportDeltaIncremental(t, path, 2000L)))
    exports ++ Seq(
      "writeDeltaCheckpoint" -> (() => D.writeDeltaCheckpoint(spark, path, 0L, 2000L)),
      "readDelta" -> (() => D.readDelta(spark, path)),
      "readDeltaPruned" -> (() => D.readDeltaPruned(spark, path, _ => true)),
      "readDeltaRange" -> (() => D.readDeltaRange(spark, path, Seq(("id", 0.0, 1.0)))),
      "tailDeltaInto" -> (() => D.tailDeltaInto(spark, path, sink, -1L, 2000L)),
      "tailDeltaCdcInto" -> (() => D.tailDeltaCdcInto(spark, path, sink, Seq("id"), -1L, 2000L)),
      "readDeltaChanges" -> (() => D.readDeltaChanges(spark, path, -1L)),
      "readDeltaCdf" -> (() => D.readDeltaCdf(spark, path, -1L)),
      "renameDeltaColumn" -> (() => D.renameDeltaColumn(spark, path, "v", "w", 2000L)),
      "setDeltaTableProperty" -> (() => D.setDeltaTableProperty(spark, path, "k", "v", 2000L)),
      "dropDeltaColumn" -> (() => D.dropDeltaColumn(spark, path, "v", 2000L)),
      "deleteFromDelta" -> (() => D.deleteFromDelta(spark, path, col("id") === 1L, 2000L)),
      "mergeDelta" -> (() => D.mergeDelta(spark, path, rows, Seq("id"), 2000L)),
      "purgeDeltaDvs" -> (() => D.purgeDeltaDvs(spark, path, 2000L)))
  }

  test("Delta: a directory without a table is refused by every entry point") {
    val dir = newDir("graft_refuse_empty")
    val (sink, sd) = sinkDir()
    val D = DeltaInterop
    val logOnly: Seq[(String, () => Any)] = Seq(
      "vacuumDelta" -> (() => D.vacuumDelta(spark, dir.toString)),
      "deltaVersionAt" -> (() => D.deltaVersionAt(dir.toString, 2000L)),
      "cleanDeltaLog" -> (() => D.cleanDeltaLog(dir.toString)))
    assert(nonRefusing(dir, Seq(sd),
      deltaCalls(dir.toString, source(), sink, withExports = false) ++ logOnly).isEmpty)
  }

  test("Delta: a log without a metaData action is refused; vacuum, which reads no metaData, still runs") {
    val dir = newDir("graft_refuse_delta")
    DeltaInterop.exportDelta(source(), dir.toString, tsMillis = 1500L)
    val v0 = dir.resolve("_delta_log").resolve("00000000000000000000.json")
    val lines = Files.readAllLines(v0).asScala
    val kept = lines.filterNot(_.contains("\"metaData\""))
    assert(kept.size == lines.size - 1)
    Files.write(v0, kept.asJava)
    val (sink, sd) = sinkDir()
    assert(nonRefusing(dir, Seq(sd), deltaCalls(dir.toString, source(), sink,
      withExports = true)).isEmpty)
    val before = snapshot(dir)
    assert(DeltaInterop.vacuumDelta(spark, dir.toString) == ((0, 0L)))
    assert(snapshot(dir) == before)
  }
}
