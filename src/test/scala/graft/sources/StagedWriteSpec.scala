package graft.sources

import java.net.URI
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, RawLocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{MetadataBuilder, StructType}

import graft.SparkSpec

/** The per-file layer every lakehouse commit shares: footer reads agree
  * with Spark's own parquet reader on both the driver path and the job
  * path, and the fork-free staged write keeps the permissions of a plain
  * parquet write while leaving the session's filesystem alone. */
class StagedWriteSpec extends SparkSpec {
  import spark.implicits._

  private def dir(name: String): Path = Files.createTempDirectory(name)

  /** The parquet files Spark's reader would see under `root`, in path order. */
  private def visibleParquet(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter { p =>
      Files.isRegularFile(p) && p.toString.endsWith(".parquet") &&
        root.relativize(p).iterator().asScala.forall { s =>
          !s.toString.startsWith(".") && !s.toString.startsWith("_")
        }
    }.toVector.sortBy(_.toString)
    finally walk.close()
  }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Flat, Hive-partitioned, empty and field-id parquet files. */
  private lazy val footerFiles: Map[String, Seq[Path]] = {
    val root = dir("graft_footers")
    val df = (0 until 60).map(i => (i.toLong, s"s$i", i % 3)).toDF("id", "s", "k")
    df.repartition(12).write.parquet(root.resolve("flat").toString)
    df.repartition(2).write.partitionBy("k").parquet(root.resolve("hive").toString)
    df.where(col("id") < 0L).coalesce(1).write.parquet(root.resolve("empty").toString)
    def id(n: Long) = new MetadataBuilder().putLong("parquet.field.id", n).build()
    withConf("spark.sql.parquet.fieldId.write.enabled", "true") {
      df.select(col("id").as("id", id(1L)), col("s").as("s", id(2L)))
        .coalesce(2).write.parquet(root.resolve("ids").toString)
    }
    Seq("flat", "hive", "empty", "ids").map(d => d -> visibleParquet(root.resolve(d))).toMap
  }

  test("footer reads agree with spark.read.parquet on flat, partitioned, empty and field-id files") {
    val all = footerFiles.values.flatten.toSeq
    assert(footerFiles.values.forall(_.nonEmpty) && all.size > 16, footerFiles)
    val expected = all.map { p =>
      val df = spark.read.parquet(p.toString)
      p.toString -> (df.count(), df.columns.toSet, df.schema)
    }.toMap
    assert(expected.values.exists(_._1 == 0L), "one file must be empty")
    assert(footerFiles("ids").forall(p => expected(p.toString)._3.fields.forall(
      _.metadata.contains("parquet.field.id"))), "the field ids must reach the footer")
    val conf = spark.sessionState.newHadoopConf()
    all.foreach { p =>
      val (rows, cols, schema) = expected(p.toString)
      assert(StagedWrite.parquetRowCount(conf, p) == rows, p)
      assert(StagedWrite.parquetTopLevelCols(conf, p) == cols, p)
      // the reader turns every column nullable; the footer keeps the file's own
      val footer = StagedWrite.footerSchema(spark, conf, p)
      assert(StructType(footer.fields.map(_.copy(nullable = true))) == schema, p)
    }
    // up to 16 files on the driver (no job), more in one metadata job
    for (paths <- Seq(all.take(16), all)) {
      val (counts, countJobs) = JobCounter.jobsDuring(spark.sparkContext)(
        StagedWrite.parquetRowCountBulk(spark, paths))
      val (cols, colJobs) = JobCounter.jobsDuring(spark.sparkContext)(
        StagedWrite.parquetTopLevelColsBulk(spark, paths))
      assert(counts == paths.map(p => p.toString -> expected(p.toString)._1).toMap)
      assert(cols == paths.map(p => p.toString -> expected(p.toString)._2).toMap)
      if (paths.size <= 16) assert(countJobs == 0 && colJobs == 0)
      else assert(countJobs > 0 && colJobs > 0)
    }
  }

  /** (id, day, v) rows 0 until 30, three `day` values. */
  private def rows(from: Long, n: Long) =
    (from until from + n).map(i => (i, i % 3, i * 1.5)).toDF("id", "day", "v")

  /** One partitioned table of each format after a keyed upsert: the roots. */
  private def mergedTables(): Seq[Path] = {
    val tx = TxTable(spark, dir("graft_fs_tx").toString)
    tx.append(rows(0L, 30L), tsMillis = 1000L, partitionBy = Seq("day"))
    tx.merge(rows(20L, 20L), Seq("id"), "day", "day", 2000L)
    val delta = dir("graft_fs_delta").toString
    DeltaInterop.exportDelta(tx, delta, tsMillis = 3000L)
    DeltaInterop.mergeDelta(spark, delta, rows(35L, 10L), Seq("id"), 4000L)
    val ice = dir("graft_fs_ice").toString
    IcebergInterop.exportIceberg(tx, ice, tsMillis = 3000L)
    IcebergInterop.upsertIceberg(spark, ice, rows(35L, 10L), Seq("id"), 4000L)
    Seq(java.nio.file.Paths.get(tx.root), java.nio.file.Paths.get(delta),
      java.nio.file.Paths.get(ice))
  }

  test("lakehouse commits leave the session's file: filesystem and Hadoop conf as they were") {
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val before = keys.map(k => (Option(hc.get(k)), spark.conf.getOption(k),
      Option(spark.sessionState.newHadoopConf().get(k))))
    val fs = FileSystem.get(URI.create("file:///"), hc)
    assert(!fs.isInstanceOf[NioPermissionLocalFileSystem])
    mergedTables()
    assert(keys.map(k => (Option(hc.get(k)), spark.conf.getOption(k),
      Option(spark.sessionState.newHadoopConf().get(k)))) == before)
    assert(FileSystem.get(URI.create("file:///"), hc) eq fs,
      "a commit must not replace the cached file: FileSystem")
  }

  test("placed data files and their directories carry the permissions of a plain parquet write") {
    def perms(p: Path) = Files.getPosixFilePermissions(p).asScala.toSet
    val plain = dir("graft_fs_plain").resolve("t")
    rows(0L, 30L).write.partitionBy("day").parquet(plain.toString)
    val plainFiles = visibleParquet(plain)
    val filePerms = plainFiles.map(perms).distinct
    val dirPerms = plainFiles.map(p => perms(p.getParent)).distinct
    assert(filePerms.size == 1 && dirPerms.size == 1)
    mergedTables().foreach { root =>
      val placed = visibleParquet(root)
      assert(placed.nonEmpty, root)
      placed.foreach { f =>
        assert(perms(f) == filePerms.head, f)
        assert(perms(f.getParent) == dirPerms.head, f.getParent)
      }
    }
  }

  test("the fork-free local filesystem sets the bits Hadoop's chmod sets") {
    val conf = new Configuration()
    val hadoop = new RawLocalFileSystem
    hadoop.initialize(URI.create("file:///"), conf)
    val nio = new NioPermissionRawLocalFileSystem
    nio.initialize(URI.create("file:///"), conf)
    val root = dir("graft_fs_bits")
    def octal(s: String) = Integer.parseInt(s, 8)
    def mode(p: Path) = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")
    var n = 0
    // (starting mode, mode set); 1777 carries the sticky bit, which java.nio
    // cannot express, and a setgid directory keeps its bit under chmod
    val cases = Seq("644", "600", "755", "700", "640", "750", "777", "1777").map(m => (None, m)) :+
      (Some("2755"), "750")
    for ((start, m) <- cases; isDir <- Seq(false, true)) {
      val pair = Seq("hadoop", "nio").map { side =>
        n += 1
        val p = root.resolve(s"$side-$n")
        if (isDir) Files.createDirectory(p) else Files.createFile(p)
        start.foreach(s => Files.setAttribute(p, "unix:mode", Integer.valueOf(octal(s))))
        p
      }
      val perm = new FsPermission(octal(m).toShort)
      hadoop.setPermission(new HPath(pair.head.toUri), perm)
      nio.setPermission(new HPath(pair(1).toUri), perm)
      assert(mode(pair(1)) == mode(pair.head), s"mode $m on a ${if (isDir) "directory" else "file"}")
      if (start.isEmpty) assert(mode(pair(1)) == octal(m))
    }
  }
}
