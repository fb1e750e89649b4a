package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.{DeltaInterop, IcebergInterop, TxTable}

/** The lakehouse writers stage data, change and delete files inside the
  * table root, so their final rename never crosses filesystems: tables on
  * a filesystem other than `java.io.tmpdir` (here `/dev/shm` against the
  * test JVM's temp dir) commit like any other. And a staged write whose
  * Spark task throws leaves nothing behind — no staging directory, no
  * file in the table, the session's field-id write flag as it was. */
class CrossDeviceStagingSpec extends SparkSpec {
  import spark.implicits._

  private val fieldIdKey = "spark.sql.parquet.fieldId.write.enabled"

  /** A fresh directory under `/dev/shm`, or cancel the test when that is
    * not a separate, writable filesystem from the temp dir. */
  private def otherDevice(prefix: String): Path = {
    val shm = Paths.get("/dev/shm")
    assume(Files.isDirectory(shm) && Files.isWritable(shm), "/dev/shm is not writable")
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    assume(Files.getFileStore(shm) != Files.getFileStore(tmp),
      "/dev/shm and java.io.tmpdir share a filesystem")
    Files.createTempDirectory(shm, prefix)
  }

  private def sweep(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally w.close()
    }

  private def listing(root: Path): Set[String] = {
    val w = Files.walk(root)
    try w.iterator().asScala.map(p => root.relativize(p).toString).toSet
    finally w.close()
  }

  private def sourceTable(base: Path): TxTable = {
    val t = TxTable(spark, base.resolve("src").toString)
    t.append(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
      .toDF("id", "k", "v"), tsMillis = 1000L)
    t.append(Seq((4L, "c", 40.0)).toDF("id", "k", "v"), tsMillis = 2000L)
    t
  }

  test("Delta merge (with change files) and DV purge commit on another filesystem than the temp dir") {
    val base = otherDevice("graft_xdev_delta")
    try {
      val out = base.resolve("delta").toString
      DeltaInterop.exportDelta(sourceTable(base), out, tsMillis = 5000L)
      DeltaInterop.setDeltaTableProperty(spark, out,
        "delta.enableChangeDataFeed", "true", tsMillis = 6000L)
      assert(DeltaInterop.mergeDelta(spark, out,
        Seq((2L, "x", 200.0), (9L, "y", 900.0)).toDF("id", "k", "v"),
        Seq("id"), 7000L) == ((1L, 2L)))
      assert(DeltaInterop.deleteFromDelta(spark, out, col("id") === 3L, 8000L) == 1L)
      val want = Seq((1L, "a", 10.0), (2L, "x", 200.0), (4L, "c", 40.0), (9L, "y", 900.0))
      def rows() = DeltaInterop.readDelta(spark, out).orderBy("id")
        .as[(Long, String, Double)].collect().toSeq
      assert(rows() == want)
      val (_, cdf) = DeltaInterop.readDeltaCdf(spark, out, 1L)
      assert(cdf.select("id", "_change_type").as[(Long, String)].collect().toSet ==
        Set((2L, "update_preimage"), (2L, "update_postimage"), (9L, "insert"),
          (3L, "delete")))
      val (rewritten, reclaimed) = DeltaInterop.purgeDeltaDvs(spark, out, 9000L)
      assert(rewritten >= 1 && reclaimed == 2L)
      assert(rows() == want)
      assert(!listing(Paths.get(out)).exists(_.contains(".staging")))
    } finally sweep(base)
  }

  test("Iceberg upsert, key delete, position delete and rewrite commit on another filesystem than the temp dir") {
    val base = otherDevice("graft_xdev_ice")
    try {
      val out = base.resolve("ice").toString
      IcebergInterop.exportIceberg(sourceTable(base), out, tsMillis = 5000L)
      assert(IcebergInterop.upsertIceberg(spark, out,
        Seq((2L, "x", 200.0), (9L, "y", 900.0)).toDF("id", "k", "v"),
        Seq("id"), 6000L) == ((2L, 2L)))
      assert(IcebergInterop.deleteFromIcebergByKey(spark, out,
        Seq(1L).toDF("id"), 7000L) == 1L)
      assert(IcebergInterop.deleteFromIceberg(spark, out, col("id") === 4L, 8000L) == 1L)
      val want = Seq((2L, "x", 200.0), (3L, "a", 30.0), (9L, "y", 900.0))
      def rows() = IcebergInterop.readIceberg(spark, out).orderBy("id")
        .select("id", "k", "v").as[(Long, String, Double)].collect().toSeq
      assert(rows() == want)
      val (rewritten, _) = IcebergInterop.rewriteIcebergData(spark, out, 9000L)
      assert(rewritten >= 1)
      assert(rows() == want)
      assert(!listing(Paths.get(out)).exists(_.contains(".staging")))
    } finally sweep(base)
  }

  test("a staged write whose task throws leaves no staging dir, no table file, and the field-id flag as it was") {
    val base = Files.createTempDirectory("graft_staging_fail")
    val boom = udf((id: Long) => {
      if (id >= 0L) throw new IllegalStateException("task failure in the staged write")
      true
    })
    val prior = spark.conf.getOption(fieldIdKey)
    try {
      val out = base.resolve("ice").toString
      IcebergInterop.exportIceberg(sourceTable(base), out, tsMillis = 5000L)
      val before = listing(Paths.get(out))
      // the position-delete write stamps field ids: it flips the flag for
      // the duration of the write, whatever the session had
      for (setting <- Seq(None, Some("false"))) {
        setting match {
          case Some(v) => spark.conf.set(fieldIdKey, v)
          case None    => spark.conf.unset(fieldIdKey)
        }
        val expected = spark.conf.getOption(fieldIdKey) // an unset key reads its default
        intercept[Exception] {
          IcebergInterop.deleteFromIceberg(spark, out, boom(col("id")), 6000L)
        }
        assert(spark.conf.getOption(fieldIdKey) == expected)
        assert(listing(Paths.get(out)) == before)
      }
      assert(IcebergInterop.readIceberg(spark, out).count() == 4L)
    } finally {
      prior match {
        case Some(v) => spark.conf.set(fieldIdKey, v)
        case None    => spark.conf.unset(fieldIdKey)
      }
      sweep(base)
    }
  }
}
