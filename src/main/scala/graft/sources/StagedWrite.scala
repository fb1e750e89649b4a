package graft.sources

import java.io.{BufferedWriter, OutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, FileSystemException, Files, Path,
  StandardCopyOption, StandardOpenOption}
import java.util.ConcurrentModificationException

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, pmod, xxhash64}
import org.apache.spark.sql.types.StructType

/** The file half of every commit, shared by [[TxTable]],
  * [[DeltaInterop]] and [[IcebergInterop]]: write a DataFrame as parquet
  * into a staging directory, list what landed, place it at its final
  * names, sweep the staging directory — and the one rule every commit
  * record is published under, [[publish]]: a version becomes visible
  * whole, and at most once (the put-if-absent log record of the Delta
  * Lake paper, VLDB 2020, and the metadata-file swap of the Iceberg
  * spec). Each format then writes its own log record through that rule —
  * nothing here depends on the format.
  *
  * The staging directory is a dot-prefixed child of the table root (the
  * prefix [[TxTable.vacuum]] sweeps as crash leftovers and Delta's VACUUM
  * convention never touches), so placing a file is always a
  * same-filesystem link — staging under `java.io.tmpdir` fails with a
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
    /** Place the file at `dst` under the [[publish]] rule (parent
      * directories created); returns the size. A taken name means another
      * writer placed a file there first — never replaced (a rename would
      * silently overwrite bytes a commit may already reference): the
      * write aborts with ConcurrentModificationException before any log
      * record names the file. */
    def moveTo(dst: Path): Long = {
      Files.createDirectories(dst.getParent)
      if (!claim(path, dst))
        throw new ConcurrentModificationException(
          s"$dst already exists: a concurrent writer placed a file under the same name")
      Files.delete(path)
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

  /** The one check of a keyed merge's incoming batch, run before anything
    * is staged: refuses duplicate keys (nulls group together, as the
    * null-safe key match does) and returns whether the batch has a row.
    * Two Spark jobs, the group's shuffle and the top count; the exact
    * number of duplicated keys, which `refusal` renders into the message,
    * is counted only on the way to refusing. */
  private[sources] def batchHasRows(batch: DataFrame, keys: Seq[String],
      refusal: Long => String): Boolean = {
    val perKey = batch.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__gbk_n"))
    val top = perKey.select(col("__gbk_n")).orderBy(col("__gbk_n").desc).limit(1).collect()
    if (top.exists(_.getLong(0) > 1L)) {
      val dups = perKey.where(col("__gbk_n") > 1L).count()
      require(dups == 0L, refusal(dups))
    }
    top.nonEmpty
  }

  /** A write's incoming `rows` in the table's column order, refused
    * unless they carry exactly the table's columns at exactly its types. */
  private[sources] def exactRows(rows: DataFrame, schema: StructType,
      caller: String): DataFrame = {
    require(rows.columns.toSet == schema.fieldNames.toSet,
      s"$caller: the incoming rows must carry the table's exact " +
        s"columns (${schema.fieldNames.mkString(",")}); got " +
        s"${rows.columns.mkString(",")}")
    val ordered = rows.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    schema.fields.foreach { f =>
      require(ordered.schema(f.name).dataType == f.dataType,
        s"$caller: column '${f.name}' is " +
          s"${ordered.schema(f.name).dataType} but the table column is " +
          s"${f.dataType} — cast to the exact table types first")
    }
    ordered
  }

  /** `<prefix>-<uuid>.parquet`, the uuid derived from `seed` — callers
    * that mutate a live table put a per-call random part in the seed, so
    * two writers racing from the same version never share a name. */
  private[sources] def seededName(prefix: String, seed: String): String =
    s"$prefix-${java.util.UUID.nameUUIDFromBytes(seed.getBytes("UTF-8"))}.parquet"

  /** Put-if-absent publish of `dst`: `write` fills a dot-prefixed temp
    * file beside it, the temp file is hard-linked to `dst` — link(2) fails
    * when the name exists, where rename(2) would silently replace it —
    * then deleted. Readers see the whole file or none. On a filesystem
    * without hard links an O_EXCL create keeps at-most-once (the bytes are
    * then visible while they are copied in). A `write` that throws leaves
    * neither `dst` nor the temp file. Returns true iff this writer won
    * the name; a loser leaves the existing bytes untouched. */
  private[sources] def publish(dst: Path)(write: OutputStream => Unit): Boolean =
    viaTemp(dst, write)(claim(_, dst))

  /** [[publish]] of `lines`, each ended by the platform line separator
    * (the bytes `Files.write(path, lines)` writes). */
  private[sources] def publishLines(dst: Path, lines: Seq[String]): Boolean =
    publish(dst)(writeLines(_, lines))

  /** Replace `dst` whole with `lines`: a temp file beside it renamed over
    * it, so a reader sees the old bytes or the new, never a torn write.
    * For pointers readers may find stale (Iceberg's version hint), not for
    * commit records — those go through [[publish]]. */
  private[sources] def replaceLines(dst: Path, lines: Seq[String]): Unit =
    viaTemp(dst, writeLines(_, lines)) { tmp =>
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }

  /** `write` into a dot-prefixed temp file beside `dst` (the `.tmp`
    * prefix [[TxTable.vacuum]] sweeps as a crash leftover), then `place`
    * it; the temp file is gone afterwards either way. */
  private def viaTemp[A](dst: Path, write: OutputStream => Unit)(place: Path => A): A = {
    val tmp = Files.createTempFile(dst.getParent, ".tmp", ".publish")
    try {
      val out = Files.newOutputStream(tmp)
      try write(out) finally out.close()
      place(tmp)
    } finally Files.deleteIfExists(tmp)
  }

  private def writeLines(out: OutputStream, lines: Seq[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(out, UTF_8))
    lines.foreach { l => w.write(l); w.newLine() }
    w.flush()
  }

  /** Give `src`'s bytes the name `dst` unless it is taken: a hard link,
    * or an O_EXCL create filled from `src` where links are unsupported. */
  private def claim(src: Path, dst: Path): Boolean =
    try { Files.createLink(dst, src); true }
    catch {
      case _: FileAlreadyExistsException => false
      case _: UnsupportedOperationException | _: FileSystemException =>
        val out = try Files.newOutputStream(dst, StandardOpenOption.CREATE_NEW)
          catch { case _: FileAlreadyExistsException => return false }
        try { Files.copy(src, out); out.close(); true }
        catch { case e: Throwable => out.close(); Files.deleteIfExists(dst); throw e }
    }

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
