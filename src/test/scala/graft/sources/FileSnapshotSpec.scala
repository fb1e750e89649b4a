package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.SparkSpec

/** What the format specs do not reach of the shared snapshot core: the
  * pruning rule at its edges, one scan that fills, masks and carries
  * provenance at once, empty file lists, and repeated basenames. */
class FileSnapshotSpec extends SparkSpec {
  import spark.implicits._
  import FileSnapshot.{DataFile, FileCol, PosCol}

  private def file(name: String, partition: Map[String, Any] = Map.empty,
      bounds: Map[String, (Double, Double)] = Map.empty) =
    DataFile(Paths.get("/t", name), partition, bounds)

  private def kept(files: Seq[DataFile], preds: (String, Double, Double)*): Seq[String] =
    FileSnapshot.prune(files, preds).map(_.name)

  /** One parquet file `name` holding `ids` (one column `id`) under `dir`. */
  private def parquet(dir: Path, name: String, ids: Long*): Path = {
    val out = dir.resolve(s"$name.dir")
    ids.toDF("id").coalesce(1).write.parquet(out.toString)
    val part = Files.list(out).filter(_.toString.endsWith(".parquet")).findFirst().get
    Files.createDirectories(dir)
    Files.move(part, dir.resolve(name))
  }

  test("prune keeps a file whose bound touches the range and drops one that misses it") {
    val files = Seq(file("point", bounds = Map("x" -> (5.0, 5.0))),
      file("span", bounds = Map("x" -> (1.0, 3.0))), file("none"))
    assert(kept(files, ("x", 5.0, 5.0)) == Seq("point", "none"))
    assert(kept(files, ("x", 3.0, 4.0)) == Seq("span", "none"))
    assert(kept(files, ("x", 3.5, 4.5)) == Seq("none"))
    // a bound on another column is no evidence for x
    assert(kept(Seq(file("y", bounds = Map("y" -> (0.0, 0.0)))), ("x", 9.0, 9.0)) == Seq("y"))
    // every predicate must admit the file
    assert(kept(files, ("x", 0.0, 9.0), ("x", 5.0, 6.0)) == Seq("point", "none"))
    assert(kept(files) == Seq("point", "span", "none"))
  }

  test("prune reads numeric partition values and keeps null and non-numeric ones") {
    val files = Seq(file("two", Map("p" -> "2")), file("nine", Map("p" -> 9)),
      file("null", Map("p" -> null)), file("text", Map("p" -> "2024-01-01")))
    assert(kept(files, ("p", 1.0, 2.0)) == Seq("two", "null", "text"))
    assert(kept(files, ("p", 9.0, 9.0)) == Seq("nine", "null", "text"))
    // a partition value and a bound are both evidence
    assert(kept(Seq(file("both", Map("p" -> "2"), Map("p" -> (2.0, 2.0)))), ("p", 3.0, 4.0)).isEmpty)
  }

  test("one scan fills partition values, masks row positions and carries provenance") {
    val dir = Files.createTempDirectory("graft_snapshot")
    val a = parquet(dir.resolve("p=1"), "a.parquet", 10L, 11L, 12L)
    val b = parquet(dir.resolve("p=2"), "b.parquet", 20L, 21L)
    val schema = StructType(Seq(StructField("id", LongType), StructField("p", IntegerType)))
    val files = Seq(DataFile(a, Map("p" -> "1")), DataFile(b, Map("p" -> null)))
    val deleted = Seq(("a.parquet", 1L), ("b.parquet", 0L)).toDF(FileCol, PosCol)
    val out = FileSnapshot.scan(spark, files, schema, "test table", fill = Seq("p"),
      positions = Some(deleted), provenance = true)
    assert(out.schema.map(f => f.name -> f.dataType) ==
      Seq("id" -> LongType, "p" -> IntegerType, FileCol -> StringType, PosCol -> LongType))
    val rows = out.as[(Long, Option[Int], String, Long)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((10L, Some(1), "a.parquet", 0L), (12L, Some(1), "a.parquet", 2L),
      (21L, None, "b.parquet", 1L)))
    // the same positions semi-joined keep only the masked rows
    val hit = FileSnapshot.scan(spark, files, schema, "test table", fill = Seq("p"),
      positions = Some(deleted), keepPositions = true)
    assert(hit.as[(Long, Option[Int])].collect().sortBy(_._1).toSeq == Seq((11L, Some(1)), (20L, None)))
    // a filter on a filled column prunes the listing and still holds
    assert(out.filter(col("p") === 1).select("id").as[Long].collect().sorted.toSeq == Seq(10L, 12L))
    assert(out.filter(col("p").isNull).select("id").as[Long].collect().toSeq == Seq(21L))
    // two scans of one file list are one relation: a cached frame serves both
    def plain = FileSnapshot.scan(spark, files, schema, "test table", fill = Seq("p"))
    assert(plain.queryExecution.analyzed.sameResult(plain.queryExecution.analyzed))
  }

  test("an empty file list scans to an empty frame of the schema") {
    val schema = StructType(Seq(StructField("id", LongType)))
    val plain = FileSnapshot.scan(spark, Seq.empty, schema, "test table")
    assert(plain.schema == schema && plain.count() == 0L)
    val withProv = FileSnapshot.scan(spark, Seq.empty, schema, "test table", provenance = true)
    assert(withProv.columns.toSeq == Seq("id", FileCol, PosCol) && withProv.count() == 0L)
  }

  test("repeated basenames are refused where a join keys on them, and read where none does") {
    val dir = Files.createTempDirectory("graft_snapshot_dup")
    val files = Seq(DataFile(parquet(dir.resolve("x=1"), "part.parquet", 1L), Map("x" -> "1")),
      DataFile(parquet(dir.resolve("x=2"), "part.parquet", 2L), Map("x" -> "2")))
    val schema = StructType(Seq(StructField("id", LongType), StructField("x", StringType)))
    val e = intercept[IllegalArgumentException](FileSnapshot.scan(spark, files,
      StructType(schema.take(1)), "test table", provenance = true))
    assert(e.getMessage.contains("duplicate data-file names"))
    intercept[IllegalArgumentException](FileSnapshot.scan(spark, files, StructType(schema.take(1)),
      "test table", positions = Some(Seq(("part.parquet", 0L)).toDF(FileCol, PosCol))))
    // the fill keys on the file itself, not its basename
    assert(FileSnapshot.scan(spark, files, schema, "test table", fill = Seq("x"))
      .as[(Long, String)].collect().sorted.toSeq == Seq((1L, "1"), (2L, "2")))
  }

  test("partitioned reads spend no job on the partition fill") {
    def table(name: String): TxTable = {
      val t = TxTable(spark, Files.createTempDirectory(name).toString)
      t.append((0L until 40L).map(i => (i, i % 3, i * 1.5)).toDF("id", "day", "v"),
        tsMillis = 1000L, partitionBy = Seq("day"))
      t
    }
    def jobs(read: => org.apache.spark.sql.DataFrame): (Long, Int) =
      JobCounter.jobsDuring(spark.sparkContext)(read.collect().length.toLong)

    val tx = table("graft_snap_tx")
    assert(jobs(tx.read()) == ((40L, 1)))
    assert(jobs(tx.readWherePartition("day", Seq("1"))) == ((13L, 1)))

    val delta = Files.createTempDirectory("graft_snap_delta").toString
    DeltaInterop.exportDelta(table("graft_snap_dsrc"), delta, tsMillis = 5000L)
    assert(DeltaInterop.deleteFromDelta(spark, delta, col("id") % 4 === 0L, 6000L) == 10L)
    val (deltaRows, deltaJobs) = jobs(DeltaInterop.readDelta(spark, delta))

    val ice = Files.createTempDirectory("graft_snap_ice").toString
    IcebergInterop.exportIceberg(table("graft_snap_isrc"), ice, tsMillis = 5000L)
    assert(IcebergInterop.deleteFromIceberg(spark, ice, col("id") === 1L, 6000L) == 1L)
    assert(IcebergInterop.deleteFromIcebergByKey(spark, ice, Seq(2L, 3L).toDF("id"), 7000L) == 2L)
    val (iceRows, iceJobs) = jobs(IcebergInterop.readIceberg(spark, ice))

    assert((deltaRows, iceRows) == ((30L, 37L)))
    // no job fills the partitions; the Iceberg delete files are read under
    // explicit schemas with their sequence numbers as scan constants
    assert((deltaJobs, iceJobs) == ((2, 3)), s"jobs: delta $deltaJobs, iceberg $iceJobs")
  }
}
