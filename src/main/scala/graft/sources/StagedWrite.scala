package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

/** The data-file half of every commit, shared by [[TxTable]],
  * [[DeltaInterop]] and [[IcebergInterop]]: write a DataFrame as parquet
  * into a staging directory, list what landed, move it to its final
  * names, sweep the staging directory. Each format then publishes the
  * moved files with one commit of its own log (the write-then-commit
  * shape of the Delta Lake paper, VLDB 2020, and the Iceberg spec) —
  * nothing in this half depends on the format.
  *
  * The staging directory is a dot-prefixed child of the table root (the
  * prefix [[TxTable.vacuum]] sweeps as crash leftovers and Delta's VACUUM
  * convention never touches), so the final `ATOMIC_MOVE` is always a
  * same-filesystem rename — staging under `java.io.tmpdir` fails with a
  * cross-device error whenever the temp dir and the table sit on
  * different filesystems. */
private[graft] object StagedWrite {

  /** One staged parquet file. `dir` is its Hive partition directory path
    * relative to the staging root (`""` for a flat write, `c=v[/c2=v2]`
    * still escaped), `parts` the same directories decoded. */
  final class StagedFile private[StagedWrite] (val path: Path, val dir: String,
      spark: SparkSession) {
    lazy val parts: Seq[(String, Option[String])] =
      hivePartitions(under(path.getFileName.toString))
    /** Footer row count, read on first use only — a site that keeps every
      * file reads no footer. Read it before [[moveTo]]. */
    lazy val rows: Long = parquetRowCount(spark, path)
    /** `name` under this file's partition directories. */
    def under(name: String): String = if (dir.isEmpty) name else s"$dir/$name"
    /** Rename into place (parent directories created); returns the size. */
    def moveTo(dst: Path): Long = {
      Files.createDirectories(dst.getParent)
      Files.move(path, dst, StandardCopyOption.ATOMIC_MOVE)
      Files.size(dst)
    }
  }

  /** A finished staged write: its files in path order (the order every
    * caller numbers its deterministic destination names in). Owns the
    * staging directory until [[close]]. */
  final class Stage private[StagedWrite] (val dir: Path, val files: Seq[StagedFile])
      extends AutoCloseable {
    /** The files holding at least one row (Spark leaves an empty part file
      * for an empty input); one footer read per file. */
    def nonEmptyFiles: Seq[StagedFile] = files.filter(_.rows > 0L)
    def close(): Unit = deleteRecursively(dir)
  }

  /** Write `df` under a fresh staging directory inside `root`, Hive-
    * partitioned by `partitionBy`. `filesPerValue >= 1` first shuffles the
    * rows by the partition columns so each value lands in that many tasks
    * (one file each, a hash of the row content picking the task) instead
    * of every task writing a sliver into every value directory; 0 writes
    * the frame's own partitioning. `fieldIds` stamps the parquet field
    * ids the column metadata carries. The caller owns the result and must
    * close it — after moving the files now, or at commit time; a failed
    * write leaves nothing behind. */
  private[sources] def stage(root: Path, df: DataFrame, partitionBy: Seq[String] = Seq.empty,
      filesPerValue: Int = 0, fieldIds: Boolean = false): Stage = {
    Files.createDirectories(root)
    val dir = Files.createTempDirectory(root, ".staging")
    try {
      // the salt hashes the ROW CONTENT, never monotonically_increasing_id:
      // a positional id is not stable under partial stage recomputation,
      // so a task retry could re-route rows to different reducers and
      // silently duplicate or drop them (the SPARK-23207 failure class)
      val clustered =
        if (partitionBy.isEmpty || filesPerValue < 1) df
        else if (filesPerValue == 1) df.repartition(partitionBy.map(col): _*)
        else df.repartition(partitionBy.map(col) :+
          pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(filesPerValue.toLong)): _*)
      withFieldIdWrite(df.sparkSession, fieldIds) {
        val w = clustered.write.mode("overwrite")
        (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
          .parquet(dir.toString)
      }
      val walk = Files.walk(dir)
      val paths = try walk.iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
          .toVector.sortBy(_.toString)
        finally walk.close()
      new Stage(dir, paths.map(p => new StagedFile(p,
        Option(dir.relativize(p).getParent).fold("")(_.toString), df.sparkSession)))
    } catch { case e: Throwable => deleteRecursively(dir); throw e }
  }

  /** [[stage]], then `publish` the files (typically moving them to their
    * final names); the staging directory goes either way. */
  private[sources] def write[A](root: Path, df: DataFrame, partitionBy: Seq[String] = Seq.empty,
      filesPerValue: Int = 0, fieldIds: Boolean = false)(publish: Stage => A): A = {
    val s = stage(root, df, partitionBy, filesPerValue, fieldIds)
    try publish(s) finally s.close()
  }

  /** `<prefix>-<uuid>.parquet`, the uuid derived from `seed`: the
    * deterministic file names every format's writes use, so a retried
    * commit rewrites the same names. */
  private[sources] def seededName(prefix: String, seed: String): String =
    s"$prefix-${java.util.UUID.nameUUIDFromBytes(seed.getBytes("UTF-8"))}.parquet"

  /** Run `body` (an EAGER parquet write) with field-id stamping enabled
    * when `enable`, restoring the session's prior setting after — leaving
    * the flag flipped would silently stamp field ids for every later
    * writer that never opted in. */
  private def withFieldIdWrite[A](spark: SparkSession, enable: Boolean)(body: => A): A =
    if (!enable) body
    else {
      val key = "spark.sql.parquet.fieldId.write.enabled"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "true")
      try body
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }

  /** The Hive `col=value` directory segments of a relative file path, in
    * path order: values unescaped, Spark's `__HIVE_DEFAULT_PARTITION__`
    * null marker as None. The one decoder of the partitioned layouts all
    * three formats write. */
  private[sources] def hivePartitions(relFile: String): Seq[(String, Option[String])] =
    relFile.split('/').toSeq.dropRight(1).flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else Some(seg.substring(0, i) -> Some(seg.substring(i + 1))
        .filter(_ != "__HIVE_DEFAULT_PARTITION__").map(unescapePathName))
    }

  /** Inverse of Spark's Hive-style partition-path escaping (special chars
    * written as `%XX` hex). Directory names hold the ESCAPED value; pruning
    * must compare the LOGICAL value or `value = "a:b"` silently prunes the
    * `k=a%3Ab` directory it should scan — wrong results, because partition
    * pruning is trusted as exact. */
  private def unescapePathName(s: String): String =
    if (!s.contains('%')) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length &&
            Character.digit(s.charAt(i + 1), 16) >= 0 &&
            Character.digit(s.charAt(i + 2), 16) >= 0) {
          sb.append(((Character.digit(s.charAt(i + 1), 16) << 4) +
            Character.digit(s.charAt(i + 2), 16)).toChar)
          i += 3
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  /** Per-file row count from the parquet footer — metadata-scale driver
    * reads (Iceberg's own planning reads the same footers). */
  private[graft] def parquetRowCount(spark: SparkSession, p: Path): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val in = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p.toUri), conf))
    try in.getRecordCount
    finally in.close()
  }

  /** Footer row counts for MANY files: sequential on the driver up to 16
    * files, one distributed metadata job above (100k blocking opens on the
    * driver is the hidden O(files) cost of an export at scale). Local-only
    * `new Configuration()` on executors is sound: these tables are local. */
  private[sources] def parquetRowCountBulk(spark: SparkSession, paths: Seq[Path]): Map[String, Long] =
    if (paths.size <= 16)
      paths.map(p => p.toString -> parquetRowCount(spark, p)).toMap
    else {
      val sp = spark
      import sp.implicits._
      spark.createDataset(paths.map(_.toString))
        .repartition(math.min(paths.size, 64))
        .mapPartitions { it =>
          val conf = new org.apache.hadoop.conf.Configuration()
          it.map { u =>
            val in = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                new org.apache.hadoop.fs.Path(
                  java.nio.file.Paths.get(u).toUri), conf))
            try (u, in.getRecordCount)
            finally in.close()
          }
        }
        .collect().toMap
    }

  /** The one local recursive delete; absent paths are a no-op. */
  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally w.close()
    }
}
