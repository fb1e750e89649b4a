package graft.sources

import java.nio.file.Path

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The read half shared by [[TxTable]], [[DeltaInterop]] and
  * [[IcebergInterop]]: a snapshot is a set of live data files, each with
  * its partition values and per-column value bounds (the Delta Lake
  * paper's file actions, VLDB 2020, and the Iceberg spec's manifest
  * entries). Each format parses its own log into [[DataFile]]s; this
  * module owns the one range-pruning rule ([[prune]]) and the one way a
  * file list becomes a DataFrame ([[scan]]).
  *
  * The row-position mask and the provenance columns key on the file
  * BASENAME (`_metadata.file_name`), so basenames must be unique whenever
  * one of them is used; every format's writer names files by uuid, and a
  * foreign layout that repeats a name is refused, never joined wrong.
  */
object FileSnapshot {

  /** Provenance columns: the row's data-file basename and its position
    * (0-based row index) in that file. A row-position mask frame carries
    * the same two columns. */
  val FileCol = "__gfs_file"
  val PosCol = "__gfs_pos"

  /** One live data file. `partition` maps a column to its value for the
    * whole file: a String is cast to the column's type, any other value
    * must already be the column's Spark external value, null is the null
    * partition. `bounds` maps a column to the file's (lo, hi) range in
    * `cast(col as double)` units (timestamps: epoch seconds). */
  final case class DataFile(path: Path, partition: Map[String, Any] = Map.empty,
      bounds: Map[String, (Double, Double)] = Map.empty) {
    def name: String = path.getFileName.toString
  }

  /** The one value-range pruning rule: keep the files whose evidence may
    * hold a row inside EVERY `(column, lo, hi)` range. A recorded bound
    * must intersect the range, and a numeric partition value must lie in
    * it; a file without a bound for the column, or with a null or
    * non-numeric partition value, is kept. Pruning is to a superset: the
    * caller still applies the exact row filter. */
  def prune(files: Seq[DataFile], preds: Seq[(String, Double, Double)]): Seq[DataFile] =
    if (preds.isEmpty) files
    else files.filter { f =>
      preds.forall { case (c, lo, hi) =>
        val partOk = f.partition.get(c).flatMap(v => Option(v))
          .flatMap(_.toString.toDoubleOption).forall(d => d >= lo && d <= hi)
        partOk && f.bounds.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
      }
    }

  /** An empty frame of `schema` — the read of a snapshot with no files. */
  def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Refuse repeated basenames: the mask and provenance joins key on
    * them. */
  def requireUniqueNames(names: Seq[String], table: String): Unit =
    require(names.distinct.size == names.size,
      s"$table has duplicate data-file names — row deletes and provenance " +
        "key on the file basename; unsupported layout")

  /** The one data-file read: `files` scanned under the explicit `schema`
    * (the output columns, in order).
    *
    * @param fill the columns filled from each file's [[DataFile.partition]]
    *   value, never read from the bytes: Spark's file scan emits them as
    *   per-file constants (see [[SnapshotIndex]]), so the fill takes no
    *   join and no Spark job
    * @param physical the scan fields standing for one output field (Delta
    *   column mapping renames it, Iceberg adds historic rename aliases)
    * @param project the output column for one non-fill field over the scan
    * @param fieldIds resolve parquet columns by field id (the session
    *   switch: the returned frame is lazy, so a scope that closed before
    *   evaluation would silently fall back to name matching)
    * @param positions a ([[FileCol]], [[PosCol]]) frame of row positions,
    *   anti-joined out, or semi-joined in when `keepPositions` (a
    *   changelog's "which rows did this delete kill")
    * @param provenance append [[FileCol]] and [[PosCol]] to the output
    * @param table names the table in errors
    */
  def scan(spark: SparkSession, files: Seq[DataFile], schema: StructType,
      table: String,
      fill: Seq[String] = Seq.empty,
      physical: StructField => Seq[StructField] = f => Seq(f),
      project: StructField => Column = f => col(f.name),
      fieldIds: Boolean = false,
      positions: Option[DataFrame] = None,
      keepPositions: Boolean = false,
      provenance: Boolean = false): DataFrame = {
    val provFields =
      if (provenance) Seq(StructField(FileCol, StringType), StructField(PosCol, LongType))
      else Seq.empty
    if (files.isEmpty) return empty(spark, StructType(schema.fields ++ provFields))
    val fillSet = fill.toSet
    val needPos = positions.nonEmpty || provenance
    if (needPos) requireUniqueNames(files.map(_.name), table)
    if (fieldIds) spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val partSchema = Bridge.asNullable(StructType(fill.map(schema(_))))
    val dataSchema = Bridge.asNullable(
      StructType(schema.fields.filterNot(f => fillSet(f.name)).flatMap(physical)))
    val index = new SnapshotIndex(spark, files, partSchema)
    val raw = spark.baseRelationToDataFrame(HadoopFsRelation(index, partSchema, dataSchema,
      bucketSpec = None, new ParquetFileFormat, options = Map.empty)(spark))
    // provenance is taken at the scan: `_metadata` is no longer
    // resolvable once a join sits above it
    val withProv = if (!needPos) raw else raw
      .withColumn(FileCol, col("_metadata.file_name"))
      .withColumn(PosCol, col("_metadata.row_index"))
    val kept = positions.fold(withProv)(p => withProv.join(p, Seq(FileCol, PosCol),
      if (keepPositions) "left_semi" else "left_anti"))
    val out = schema.fields.map(f => if (fillSet(f.name)) col(f.name) else project(f)) ++
      provFields.map(f => col(f.name))
    kept.select(out.toIndexedSeq: _*)
  }

  /** A snapshot's files as Spark's file listing, one partition directory
    * per file carrying that file's fill values: a String value is cast to
    * its column's type, any other value converts as the column's external
    * value. No directory is listed and no partition is inferred; the
    * driver stats each file once. Spark leaves filters over partition
    * columns to the listing, so [[listFiles]] applies them. */
  private final class SnapshotIndex(spark: SparkSession, val files: Seq[DataFile],
      val partitionSchema: StructType) extends FileIndex {
    private val dirs: Seq[PartitionDirectory] = {
      val conf = spark.sparkContext.hadoopConfiguration
      val tz = Option(spark.conf.get("spark.sql.session.timeZone"))
      val toCatalyst = partitionSchema.fields.map(f => CatalystTypeConverters.createToCatalystConverter(f.dataType))
      files.map { f =>
        val values = partitionSchema.fields.zip(toCatalyst).map { case (field, conv) =>
          f.partition.getOrElse(field.name, null) match {
            case null => null
            case s: String => Cast(Literal(s), field.dataType, tz).eval()
            case v => conv(v)
          }
        }
        val p = new HPath(f.path.toUri)
        PartitionDirectory(InternalRow.fromSeq(values.toIndexedSeq),
          Seq(FileStatusWithMetadata(p.getFileSystem(conf).getFileStatus(p))))
      }
    }
    private def statuses = dirs.flatMap(_.files)
    def rootPaths: Seq[HPath] = statuses.map(_.getPath.getParent).distinct
    def inputFiles: Array[String] = statuses.map(_.getPath.toString).toArray
    def sizeInBytes: Long = statuses.map(_.getLen).sum
    def refresh(): Unit = ()
    // two scans of one snapshot are the same relation, as two listings of
    // the same paths are: cached frames and reused exchanges match on it
    override def equals(o: Any): Boolean = o match {
      case s: SnapshotIndex => s.files == files && s.partitionSchema == partitionSchema
      case _ => false
    }
    override def hashCode: Int = (files, partitionSchema).hashCode
    def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      if (partitionFilters.isEmpty) dirs
      else {
        val keep = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = partitionSchema.fieldNames.indexWhere(_.equalsIgnoreCase(a.name))
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
        dirs.filter(d => keep.eval(d.values))
      }
  }
}
