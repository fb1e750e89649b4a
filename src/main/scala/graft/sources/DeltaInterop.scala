package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}

/** Open-format interop for the transactional table: export a [[TxTable]]
  * snapshot as a STANDARD Delta Lake table any external engine can read
  * (Spark's Delta connector, Trino, DuckDB's delta extension, delta-rs),
  * and read a standard Delta table written by those engines back into a
  * DataFrame.
  *
  * The log format follows the published Delta transaction protocol (Delta
  * Lake paper, VLDB 2020; delta.io PROTOCOL.md): `_delta_log/` holds
  * zero-padded 20-digit versioned JSON commits, one action object per
  * line (`protocol`, `metaData`, `add`, `remove`, `commitInfo`), with
  * optional parquet checkpoints named `<v>.checkpoint.parquet` advertised
  * by `_last_checkpoint`. `metaData.schemaString` is the Spark-JSON
  * serialization of the StructType — the same wire form both Delta and
  * Spark use, so no translation layer is needed.
  *
  * The implementation here is original and dependency-free beyond
  * Spark-bundled Jackson: no Delta jars ship with this environment, and
  * [[TxTable]]'s own log stays its private (richer: blooms/zorder/stats)
  * format — this is the boundary where the lakehouse meets other engines.
  *
  * Scale notes: the log is O(live files) driver-side metadata, exactly as
  * in Delta itself. Data files are hard-linked into the export when source
  * and target share a filesystem (a 100 TB export moves ZERO data bytes —
  * only log pointers are written; falls back to copy across devices).
  * Reads attach partition values from the log's authoritative
  * `partitionValues` as per-file constants of a single parquet scan
  * ([[FileSnapshot.scan]]) — no per-partition plan explosion, no reliance on
  * hive-style directory names (Delta writers need not produce them).
  */
object DeltaInterop {

  private val LogDirName = "_delta_log"
  private def mapper = new ObjectMapper()

  /** The table's PERMANENT identity (Delta treats metaData.id as stable for
    * the table's lifetime): derived from the target path alone, so version
    * 0, every schema-evolution metaData re-declaration, and every
    * checkpoint carry the SAME id — an id that changed mid-log (the
    * round-7 review finding) reads as a replaced table to foreign engines. */
  private def tableId(target: String): String =
    java.util.UUID.nameUUIDFromBytes(("graft-delta|" + target).getBytes("UTF-8")).toString

  // ------------------------------------------------------------- EXPORT

  /** Write the CURRENT snapshot of `t` at `target` as a single-commit
    * standard Delta table (version 0 = protocol + metaData + one add per
    * live file). Partitioned layouts keep their `<col>=<v>/` file paths and
    * record `partitionValues` per add action, as Delta writers do.
    *
    * The export is rebuilt from scratch on every call (the target is a
    * SNAPSHOT, not a mirrored log) and published by STAGE-AND-SWAP: the
    * whole table — data links first, `_delta_log` last — is built in a
    * unique sibling directory and renamed into place, so a concurrent
    * reader sees the previous complete table, the new complete table, or
    * (in the instant between delete and rename) no table — never a
    * half-written one.
    *
    * `tsMillis` stamps `modificationTime`/`createdTime` (pass a fixed value
    * for byte-deterministic exports).
    */
  /** The `add.stats` JSON for one data file, carried from TxTable's own
    * per-file data-skipping min/max ([[TxTable.FileStats]] — doubles from
    * `cast(col as double)`): numRecords + minValues/maxValues in the
    * protocol's per-type JSON encoding (long/int integral, double plain,
    * timestamp ISO-8601 millis — floored/ceiled CONSERVATIVELY so the
    * bound always contains the true value). Columns whose type cannot be
    * represented exactly from a double stat are skipped; absent stats are
    * simply not written (readers treat missing stats as unprunable). */
  private def statsJson(m: ObjectMapper, schema: StructType,
      sts: Seq[TxTable.FileStats], numRecords: Long): Option[String] = {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, TimestampType}
    val node = m.createObjectNode()
    node.put("numRecords", numRecords)
    val mins = node.putObject("minValues")
    val maxs = node.putObject("maxValues")
    var any = false
    sts.foreach { st =>
      schema.fields.find(_.name == st.colName).map(_.dataType).foreach {
        case LongType =>
          mins.put(st.colName, IcebergInterop.safeIntegral(st.min, isLower = true))
          maxs.put(st.colName, IcebergInterop.safeIntegral(st.max, isLower = false))
          any = true
        case IntegerType =>
          mins.put(st.colName,
            IcebergInterop.safeIntegral(st.min, isLower = true).toInt)
          maxs.put(st.colName,
            IcebergInterop.safeIntegral(st.max, isLower = false).toInt)
          any = true
        case DoubleType =>
          mins.put(st.colName, st.min)
          maxs.put(st.colName, st.max)
          any = true
        case TimestampType =>
          // the double stat is epoch SECONDS (Spark's cast); the JSON
          // encoding is an ISO instant at millisecond precision
          def iso(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString
          mins.put(st.colName, iso(math.floor(st.min * 1000.0).toLong))
          maxs.put(st.colName, iso(math.ceil(st.max * 1000.0).toLong))
          any = true
        case _ => ()
      }
    }
    if (any) Some(m.writeValueAsString(node)) else None
  }

  def exportDelta(t: TxTable, target: String,
      tsMillis: Long = System.currentTimeMillis()): Unit = {
    val snap = t.snapshotInfo()
    val schema = StructType.fromDDL(snap.schemaDdl)
    val finalDir = Paths.get(target).toAbsolutePath
    Files.createDirectories(finalDir.getParent)
    val targetDir = finalDir.resolveSibling(
      finalDir.getFileName.toString +
        s".staging-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    Files.createDirectories(targetDir)

    val dataDir = Paths.get(snap.dataDir)
    val adds = snap.files.map { rel =>
      val src = dataDir.resolve(rel)
      val dst = targetDir.resolve(rel)
      Files.createDirectories(dst.getParent)
      // hard-link when possible: an export of a 100 TB table then moves no
      // data bytes (both names reference the same immutable parquet blocks)
      try Files.createLink(dst, src)
      catch { case _: Exception => Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING) }
      (rel, Files.size(dst))
    }

    // log LAST within the staging dir, then swap the whole table into place.
    // The previous export is RENAMED ASIDE, not deleted, until the new one
    // is in place: delete-then-move (the round-6 shape) destroyed the only
    // complete table the instant before a move that can still fail
    // (cross-device fallback, permissions) — a failed swap must leave the
    // prior export intact, restored from the rename.
    val logDir = targetDir.resolve(LogDirName)
    Files.createDirectories(logDir)
    commitDelta(logDir, -1L, "WRITE", "graft-txtable-export", tsMillis,
      Seq(legacyProtocol(1, 2),
        metaDataAction(tableId(target), schema, snap.partCols, Map.empty, tsMillis)) ++
        addActions(t.spark, snap, schema, adds, tsMillis))
    val backup = finalDir.resolveSibling(
      finalDir.getFileName.toString + s".old-${System.nanoTime()}")
    val hadPrev = Files.exists(finalDir)
    if (hadPrev) Files.move(finalDir, backup)
    try {
      try Files.move(targetDir, finalDir, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(targetDir, finalDir)
      }
    } catch { case e: Throwable =>
      if (hadPrev && !Files.exists(finalDir)) Files.move(backup, finalDir)
      throw e
    }
    if (hadPrev) deleteRecursively(backup)
  }

  /** Mirror the CURRENT snapshot of `t` into an EXISTING Delta export at
    * `target` by appending ONE commit (version N+1) with exactly the
    * add/remove delta between the export's live file set and the source
    * snapshot — the daily-pipeline shape where a 100 TB table re-exports
    * in O(changed files), not O(table) ([[exportDelta]] rebuilds the whole
    * snapshot per call). Falls back to a full version-0 export when no
    * table exists at `target` yet.
    *
    * Semantics: the target is a MIRROR, not an archive — data files the
    * source no longer references are physically deleted after the commit
    * lands (so a directory glob over the export always equals the latest
    * snapshot; time travel into pre-removal versions of the mirror fails
    * like a vacuumed Delta table). Schema changes ride along as a fresh
    * `metaData` action; a partition-layout change cannot be expressed as a
    * delta and fails loudly (re-export from scratch).
    *
    * Every `checkpointInterval`-th version also writes a classic
    * single-file parquet checkpoint plus `_last_checkpoint`
    * ([[writeDeltaCheckpoint]]) so readers of a long-lived mirror replay
    * O(interval) JSON commits, not the whole history — exactly Delta's own
    * checkpointing cadence (PROTOCOL.md; default every 10 commits).
    *
    * The commit is published put-if-absent ([[StagedWrite.publish]]): a
    * concurrent exporter racing to the same version gets
    * ConcurrentModificationException instead of clobbering the log.
    *
    * @return the committed version (0 for a fresh full export; the current
    *   version unchanged when the mirror is already identical).
    */
  def exportDeltaIncremental(t: TxTable, target: String,
      tsMillis: Long = System.currentTimeMillis(),
      checkpointInterval: Int = 10): Long = {
    val finalDir = Paths.get(target).toAbsolutePath
    val logDir = finalDir.resolve(LogDirName)
    if (!Files.isDirectory(logDir)) { exportDelta(t, target, tsMillis); return 0L }

    val snap = t.snapshotInfo()
    val schema = StructType.fromDDL(snap.schemaDdl)
    val DeltaState(lastV, live, meta, targetSchema, _) = replayState(t.spark, finalDir, None)
    // the mirror contract is FILE-SET equality with the source snapshot;
    // a target someone has deleteFromDelta'd carries deletion vectors the
    // file-path diff cannot see — mirroring over them would silently keep
    // rows deleted that the source still has (round-10 hardening sweep)
    require(live.forall(_.dv.isEmpty),
      s"the Delta table at $target carries deletion vectors — an " +
        "incremental file-set mirror cannot represent them; " +
        "re-export from scratch")
    // same stance for column mapping: the mirror hard-links files whose
    // parquet columns carry the SOURCE's logical names, but a mapped
    // reader resolves through physical names — the mirrored rows would
    // silently read as all-null
    require(meta.mappingMode == "none",
      s"the Delta table at $target is column-mapped — the file-set mirror " +
        "cannot write its physical layout; re-export from scratch")
    require(meta.partCols == snap.partCols,
      s"partition layout changed (${meta.partCols.mkString(",")} -> " +
        s"${snap.partCols.mkString(",")}) — a layout change cannot be mirrored " +
        "incrementally; re-export from scratch")
    val schemaChanged = targetSchema != schema

    val liveSet = live.map(_.path).toSet
    val snapSet = snap.files.toSet
    val newFiles = snap.files.filterNot(liveSet)
    val removedFiles = live.map(_.path).filterNot(snapSet)
    if (newFiles.isEmpty && removedFiles.isEmpty && !schemaChanged) return lastV

    val dataDir = Paths.get(snap.dataDir)
    val adds = newFiles.map { rel =>
      val src = dataDir.resolve(rel)
      val dst = finalDir.resolve(rel)
      Files.createDirectories(dst.getParent)
      if (!Files.exists(dst)) {
        try Files.createLink(dst, src)
        catch { case _: Exception => Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING) }
      }
      (rel, Files.size(dst))
    }

    // REUSE the log's declared id — a pre-existing mirror (or foreign
    // table) keeps its permanent identity; only an id-less log falls back
    // to the path-derived one (round-7 review #4); the target's
    // configuration is restated ([[metaDataAction]])
    val metaData =
      if (!schemaChanged) Seq.empty
      else Seq(metaDataAction(meta.id.getOrElse(tableId(target)), schema,
        snap.partCols, meta.config, tsMillis))
    // partitionValues on removes: protocol hygiene for foreign readers
    // (the mirror retires the removed bytes in this same call, so the
    // change feed refuses this range on missing bytes regardless)
    val removes = removedFiles.map(rel => removeAction(rel,
      partitionValuesOf(rel, snap.partCols).toMap, tsMillis, dataChange = true))
    val v = commitDelta(logDir, lastV, "WRITE", "graft-txtable-export", tsMillis,
      metaData ++ addActions(t.spark, snap, schema, adds, tsMillis) ++ removes)

    // the mirror owns its data files: physically retire what the source no
    // longer references (AFTER the commit lands — a crash in between leaves
    // extra bytes, never a dangling reference)
    removedFiles.foreach(rel => Files.deleteIfExists(finalDir.resolve(rel)))

    if (checkpointInterval > 0 && v % checkpointInterval == 0)
      writeDeltaCheckpoint(t.spark, target, v, tsMillis)
    v
  }

  /** Write a classic single-file parquet checkpoint of the export's state
    * at version `v` (protocol + metaData + one add per live file — nullable
    * struct columns, PROTOCOL.md's classic checkpoint shape) and advertise
    * it in `_last_checkpoint`, so log replay restarts there instead of at
    * version 0. The checkpoint parquet is written via Spark and renamed
    * into its final name; `_last_checkpoint` is updated last (readers that
    * see the old pointer simply replay more JSON commits).
    *
    * Scale bound, stated honestly: the add rows materialize ON THE DRIVER
    * (one small Row per live file), the same O(live files) class as the
    * log replay itself — ~200 B/file keeps a 100 TB table at 128 MB/file
    * (~800k files) comfortably in driver memory (DeltaInteropSpec probes
    * 100k actions). A tail beyond ~10M files wants Delta's own move: a
    * distributed checkpoint job over the log, plus multi-part checkpoints
    * — out of scope here and loudly absent, not silently slow. */
  def writeDeltaCheckpoint(spark: SparkSession, target: String, v: Long,
      tsMillis: Long = System.currentTimeMillis()): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val root = Paths.get(target).toAbsolutePath
    val logDir = root.resolve(LogDirName)
    val DeltaState(atV, live, meta, _, proto) = replayState(spark, root, Some(v))
    require(atV == v, s"cannot checkpoint version $v (log is at $atV)")

    val ckptSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(StructField("provider", StringType)))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType)),
        StructField("createdTime", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("stats", StringType),
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", StringType),
          StructField("pathOrInlineDv", StringType),
          StructField("offset", IntegerType),
          StructField("sizeInBytes", IntegerType),
          StructField("cardinality", LongType))))))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("deletionTimestamp", LongType))))))

    // the checkpoint RESTATES the strongest protocol the replay observed
    // (a DV table checkpointed at (1,2) would read as plain parquet to a
    // stale reader — silent row resurrection); feature arrays stay null
    // below mrv 3, the protocol's own shape
    val protoRow = Row(Row(proto.mrv, proto.mwv,
      if (proto.mrv >= 3) proto.readerFeatures.toSeq.sorted else null,
      if (proto.mrv >= 3 || proto.mwv >= 7) proto.writerFeatures.toSeq.sorted else null),
      null, null, null)
    // the checkpoint restates the log's OWN id (round-7 review #4): a
    // checkpoint with a different id than the JSON commits reads as two
    // different tables depending on the replay path — and the log's OWN
    // configuration (a column-mapped table checkpointed with an empty
    // configuration would read its col-<uuid> physical columns as
    // all-null logical ones past log cleanup)
    val metaRow = Row(null, Row(meta.id.getOrElse(tableId(target)),
      Row("parquet"), meta.schemaJson, meta.partCols, meta.config, tsMillis),
      null, null)
    val addRows = live.map { a =>
      val sz = scala.util.Try(Files.size(root.resolve(a.path))).getOrElse(0L)
      // null partition values stay as null MAP ENTRIES (the protocol's
      // shape — __HIVE_DEFAULT_PARTITION__ rows keep their key), not
      // dropped keys: foreign readers expect every partition column present
      val dvRow = a.dv.map(d => Row(d.storageType, d.pathOrInlineDv,
        d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality)).orNull
      Row(null, null, Row(encodePath(a.path),
        a.partitionValues.map { case (k, vv) => k -> vv.orNull },
        sz, tsMillis, true, a.stats.orNull, dvRow), null)
    }
    val rows = (protoRow +: metaRow +: addRows).asJava
    val df = spark.createDataFrame(rows, ckptSchema)

    val tmp = Files.createTempDirectory(logDir, s".ckpt-$v-")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val s = Files.list(tmp)
        try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no parquet part in $tmp"))
        finally s.close()
      }
      Files.move(part, logDir.resolve(f"$v%020d.checkpoint.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    } finally deleteRecursively(tmp)
    val pointer = mapper.createObjectNode()
      .put("version", v).put("size", rows.size().toLong)
    Files.write(logDir.resolve("_last_checkpoint"),
      Seq(mapper.writeValueAsString(pointer)).asJava)
  }

  // --------------------------------------------------------------- READ

  private case class AddFile(path: String,
      partitionValues: Map[String, Option[String]],
      dv: Option[DvDesc] = None,
      stats: Option[String] = None)

  /** A Delta DELETION VECTOR descriptor as the protocol's add actions
    * carry it: `storageType` "u" (UUID-named file), "p" (plain path) or
    * "i" (inline Base85 blob); `offset`/`sizeInBytes` locate the blob;
    * `cardinality` is the deleted-row count the reader re-verifies. */
  private case class DvDesc(storageType: String, pathOrInlineDv: String,
      offset: Option[Int], sizeInBytes: Int, cardinality: Long)

  private def parseDv(add: JsonNode, path: String): Option[DvDesc] =
    Option(add.get("deletionVector")).filter(!_.isNull).map { dv =>
      def req(f: String): JsonNode = Option(dv.get(f)).filter(!_.isNull)
        .getOrElse(throw new IllegalArgumentException(
          s"Delta table $path: deletionVector descriptor lacks '$f'"))
      DvDesc(req("storageType").asText,
        req("pathOrInlineDv").asText,
        Option(dv.get("offset")).filter(!_.isNull).map(_.asInt),
        req("sizeInBytes").asInt,
        req("cardinality").asLong)
    }

  /** The table metadata a replay surfaces: logical schema, partition
    * layout, the table's declared permanent id (reused by incremental
    * commits and checkpoints — stamping a fresh id mid-log reads as a
    * replaced table to foreign engines), and the table configuration
    * (column mapping lives in `delta.columnMapping.mode` — dropping it
    * would silently read physical `col-<uuid>` columns as all-null
    * logical ones). */
  private case class TableMeta(schemaJson: String, partCols: Seq[String],
      id: Option[String], config: Map[String, String] = Map.empty) {
    /** "none", "name" or "id" — [[checkMappingMode]] refuses others. */
    def mappingMode: String = config.getOrElse("delta.columnMapping.mode", "none")
    /** NAME mode: logical names resolve to physical through field metadata. */
    def mapped: Boolean = mappingMode == "name"
    /** ID mode: columns resolve through parquet field ids (round 12). */
    def idMapped: Boolean = mappingMode == "id"
  }

  /** The schema-field metadata key that carries a column's PHYSICAL
    * (parquet) name under column mapping (PROTOCOL.md, Column Mapping):
    * under `name` mode every reader must resolve data columns through it. */
  private val PhysNameKey = "delta.columnMapping.physicalName"
  private val ColIdKey = "delta.columnMapping.id"

  private def physicalNameOf(f: StructField, path: String): String = {
    require(f.metadata.contains(PhysNameKey),
      s"Delta table $path is column-mapped (name mode) but field " +
        s"'${f.name}' carries no $PhysNameKey — malformed metadata")
    f.metadata.getString(PhysNameKey)
  }

  /** Rename every struct field (recursively) to its physical name — the
    * schema the parquet FILES of a name-mapped table actually carry. */
  private def toPhysical(dt: DataType, path: String): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(name = physicalNameOf(f, path),
        dataType = toPhysical(f.dataType, path))))
    case org.apache.spark.sql.types.ArrayType(et, n) =>
      org.apache.spark.sql.types.ArrayType(toPhysical(et, path), n)
    case org.apache.spark.sql.types.MapType(k, v, n) =>
      org.apache.spark.sql.types.MapType(toPhysical(k, path), toPhysical(v, path), n)
    case other => other
  }

  /** A LOGICAL-named column in its physical WRITE form: under column
    * mapping (either mode) data and change files carry PHYSICAL column
    * names, with the parquet field id stamped whenever the schema
    * assigns one (id-mode readers resolve by id; the protocol requires
    * id-mode writers to stamp every file). Pass-through for unmapped
    * tables. Writers using this must also stage with `fieldIds` on so
    * the stamps land. */
  private def physWriteCol(f: StructField, meta: TableMeta, path: String)
      : org.apache.spark.sql.Column =
    if (meta.mappingMode == "none") col(f.name)
    else {
      val phys = physicalNameOf(f, path)
      if (f.metadata.contains(ColIdKey))
        col(f.name).as(phys, new org.apache.spark.sql.types.MetadataBuilder()
          .putLong(FieldIdKey, f.metadata.getLong(ColIdKey)).build())
      else col(f.name).as(phys)
    }

  /** Stage `frame` inside the table (Hive-partitioned by `partitionBy`,
    * field ids stamped when `fieldIds`) and move its non-empty files to
    * the table-relative names `relOf(file, index)`; returns (rel path,
    * size, the file's staged partition directories decoded) per file, and
    * the files' rows, from the footers the empty-file filter read. */
  private def writeFiles(root: Path, frame: DataFrame, partitionBy: Seq[String],
      fieldIds: Boolean)(relOf: (StagedWrite.StagedFile, Int) => String)
      : (Seq[(String, Long, Map[String, Option[String]])], Long) =
    StagedWrite.write(root, frame, partitionBy, fieldIds = fieldIds) { st =>
      val files = st.nonEmptyFiles
      (files.zipWithIndex.map { case (f, i) =>
        val rel = relOf(f, i)
        (rel, f.moveTo(root.resolve(rel)), f.parts.toMap)
      }, files.map(_.rows).sum)
    }

  /** One acceptance rule for the column-mapping mode (JSON commit and
    * checkpoint paths): `none` and `name` are readable (round 10 — name
    * mode resolves logical→physical through the schema's field metadata)
    * and `id` mode is readable since round 12 (columns resolve through
    * parquet FIELD IDS — the files of an id-mapped table are required to
    * carry them); anything else fails loudly rather than misread. */
  private def checkMappingMode(mode: Option[String], where: String): Unit =
    require(mode.forall(m => m == "none" || m == "name" || m == "id"),
      s"Delta table $where uses column mapping mode '${mode.get}' — only " +
        "'none', 'name' and 'id' are supported by this reader")

  /** The parquet field-id metadata key Spark's reader resolves by when
    * `spark.sql.parquet.fieldId.read.enabled` is on. */
  private val FieldIdKey = "parquet.field.id"

  /** The LOGICAL schema with each field's parquet field id attached
    * (`delta.columnMapping.id` → `parquet.field.id`) — the read schema of
    * an ID-mapped table: Spark resolves requested fields against the
    * files' field ids, the protocol's id-mode rule (robust against
    * physical-name drift, e.g. tables converted from Iceberg). Recursive
    * so nested struct fields resolve by id too. */
  private def withFieldIds(dt: DataType, path: String): DataType = dt match {
    case st: StructType => StructType(st.fields.map { f =>
      require(f.metadata.contains(ColIdKey),
        s"Delta table $path is column-mapped (id mode) but field " +
          s"'${f.name}' carries no $ColIdKey — malformed metadata")
      f.copy(dataType = withFieldIds(f.dataType, path),
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong(FieldIdKey, f.metadata.getLong(ColIdKey)).build())
    })
    case org.apache.spark.sql.types.ArrayType(et, n) =>
      org.apache.spark.sql.types.ArrayType(withFieldIds(et, path), n)
    case org.apache.spark.sql.types.MapType(k, v, n) =>
      org.apache.spark.sql.types.MapType(
        withFieldIds(k, path), withFieldIds(v, path), n)
    case other => other
  }

  /** Read a standard Delta table at `path` into a DataFrame — the latest
    * version, or `versionAsOf` (Delta time travel over a foreign log).
    * Supports: JSON commits, parquet checkpoints (classic single-file,
    * via `_last_checkpoint`), partitioned tables (partition values come
    * from the log's `partitionValues`, never guessed from directory
    * names), protocol versions 1-3, DELETION VECTORS (round 10 —
    * each add's DV decodes from its Base85/RoaringBitmapArray form and
    * the positions anti-join out of the scan), and COLUMN MAPPING in
    * BOTH modes: `name` (logical names resolve to the files' physical
    * columns through the schema's field metadata — the layout every
    * Databricks-renamed table carries) and `id` (round 12 — columns
    * resolve through the files' parquet FIELD IDS, the rule for tables
    * whose physical names drifted, e.g. Iceberg conversions; enables the
    * session's `spark.sql.parquet.fieldId.read.enabled`, a no-op for
    * schemas without field-id metadata). Fails loudly on unknown mapping
    * modes and reader features — silently misreading an advanced table
    * would be corruption, not compatibility.
    */
  def readDelta(spark: SparkSession, path: String,
      versionAsOf: Option[Long] = None): DataFrame = {
    val DeltaState(_, live, meta, schema, _) = replayState(spark, Paths.get(path), versionAsOf)
    assembleRead(spark, Paths.get(path), schema, meta.partCols, live,
      meta.mappingMode)
  }

  /** [[readDelta]] with PARTITION-VALUE FILE PRUNING — the Iceberg twin is
    * [[IcebergInterop.readIcebergPruned]]. Delta's log carries each add's
    * `partitionValues` as the protocol's STRING encoding, so the pruner
    * sees a (partition column → Option[String]) map (None = the null
    * partition; an unpartitioned table's files see an empty map) and only
    * accepted files are listed, let alone scanned. Same correctness
    * contract as the Iceberg side: `keep` must be implied by the row
    * predicate applied afterwards — prune to a superset, filter rows
    * exactly. */
  def readDeltaPruned(spark: SparkSession, path: String,
      keep: Map[String, Option[String]] => Boolean,
      versionAsOf: Option[Long] = None): DataFrame = {
    val DeltaState(_, live, meta, schema, _) = replayState(spark, Paths.get(path), versionAsOf)
    // the pruner sees LOGICAL partition-column keys even under column
    // mapping (partitionValues keys are physical on the wire — the caller
    // should never have to know a column's col-<uuid> alias)
    val physToLogical: Map[String, String] =
      if (meta.mappingMode == "none") Map.empty
      else meta.partCols.map(c =>
        physicalNameOf(schema(c), path) -> c).toMap
    def logicalKeys(pv: Map[String, Option[String]]): Map[String, Option[String]] =
      if (meta.mappingMode == "none") pv
      else pv.map { case (k, v) => physToLogical.getOrElse(k, k) -> v }
    assembleRead(spark, Paths.get(path), schema, meta.partCols,
      live.filter(a => keep(logicalKeys(a.partitionValues))),
      meta.mappingMode)
  }

  /** [[readDelta]] with VALUE-RANGE FILE SKIPPING over the per-file
    * column bounds [[exportDelta]] carries in `add.stats`
    * (minValues/maxValues) — the Iceberg twin is
    * [[IcebergInterop.readIcebergRange]]. Only files whose recorded
    * bounds INTERSECT every `(column, lo, hi)` range are listed; files
    * without stats (or without that column's bound) are conservatively
    * scanned, so pruning is always to a superset. Ranges are in
    * `cast(col as double)` units — for timestamps, epoch SECONDS — the
    * same contract as `TxTable.readWhere`. The caller still applies the
    * exact row filter: this prunes I/O, not semantics. */
  def readDeltaRange(spark: SparkSession, path: String,
      preds: Seq[(String, Double, Double)]): DataFrame = {
    val DeltaState(_, live, meta, schema, _) = replayState(spark, Paths.get(path), None)
    val m = mapper
    def boundsOf(a: AddFile): Map[String, (Double, Double)] =
      a.stats.map { js =>
        val node = m.readTree(js)
        val mins = Option(node.get("minValues"))
        val maxs = Option(node.get("maxValues"))
        def vals(o: Option[JsonNode]): Map[String, Double] = o.map { n =>
          n.properties().asScala.flatMap { e =>
            val v = e.getValue
            if (v.isNumber) Some(e.getKey -> v.asDouble)
            else if (v.isTextual)
              // the timestamp encoding: ISO instant → epoch seconds
              scala.util.Try(e.getKey ->
                java.time.Instant.parse(v.asText).toEpochMilli / 1000.0).toOption
            else None
          }.toMap
        }.getOrElse(Map.empty)
        val lo = vals(mins)
        val hi = vals(maxs)
        lo.keySet.intersect(hi.keySet).map(c => c -> (lo(c), hi(c))).toMap
      }.getOrElse(Map.empty)
    val kept = FileSnapshot.prune(live.map(a =>
      FileSnapshot.DataFile(Paths.get(a.path), bounds = boundsOf(a))), preds).map(_.path).toSet
    assembleRead(spark, Paths.get(path), schema, meta.partCols,
      live.filter(a => kept(Paths.get(a.path))), meta.mappingMode)
  }

  /** One POLL of a continuous Delta tail: read the rows appended in
    * `(sinceVersion, head]` ([[readDeltaChanges]]' append-only contract)
    * and commit them into the TxTable `sink` as ONE transactional append
    * whose txn marker is the new watermark — so a re-poll after a crash
    * (or a foreachBatch retry replaying the same trigger) re-lands as a
    * no-op instead of duplicating rows: the consumer's watermark IS the
    * sink's txn version, exactly-once by the same mechanism the
    * streaming MERGE sink uses. Once the sink has recorded a txn
    * version, that version is authoritative in BOTH directions
    * (matching [[IcebergInterop.tailIcebergInto]]): `sinceVersion` is
    * only consulted for a FRESH sink, so a caller watermark ahead of the
    * sink cannot silently skip the gap versions. Returns the new
    * watermark (unchanged when the head has not advanced — no commit).
    *
    * The production shape: a `foreachBatch` loop (or a plain scheduler
    * tick) calls this with the last returned watermark; see the
    * `g4_delta_tail` query for the wired-up form. */
  def tailDeltaInto(spark: SparkSession, path: String, sink: TxTable,
      sinceVersion: Long,
      tsMillis: Long = System.currentTimeMillis()): Long = {
    val appId = s"graft-delta-tail|$path"
    // the SINK's recorded txn version is the authoritative watermark in
    // BOTH directions (the tailIcebergInto stance): a caller restarting
    // with a STALE (or lost, -1) watermark would re-read versions the
    // sink already holds and duplicate their rows — the txn marker alone
    // only guards an exact same-head replay — while a caller AHEAD of the
    // recorded version would silently skip the gap versions (rows never
    // land in the sink, lost forever)
    val from = sink.txnVersion(appId).getOrElse(sinceVersion)
    val (head, delta) = readDeltaChanges(spark, path, from)
    if (head == from) return head
    sink.append(delta, tsMillis = tsMillis, txn = Some((appId, head)))
    head
  }

  /** Continuous CDC tail (round-12 verdict #2 — [[tailDeltaInto]]'s
    * append-only contract refuses tables receiving deletes or MERGEs,
    * yet tailing a CDC-maintained table into a downstream
    * materialization is the standard shape): drain the CHANGE feed
    * `(watermark, head]` through [[readDeltaCdf]], net every key's edge
    * chain to its last effect ([[CdcFeed.net]] — a MERGE's
    * preimage/postimage pair collapses to the replacement, later commits
    * win), and apply the net batch to the sink as ONE keyed
    * delete-or-replace commit ([[TxTable.applyCdc]]), txn-marked with
    * the head version under the same both-directions watermark
    * discipline as the append-only tail (the sink's recorded version is
    * authoritative: behind = would duplicate, ahead = would skip).
    * Exactly-once: a replayed batch skips on the marker; a crash between
    * read and apply re-reads the same range next poll.
    *
    * The sink materializes the TABLE's live rows keyed by `keys` — its
    * rows are the base table's columns, no change metadata. Bootstrap it
    * with a full copy at `sinceVersion` (or empty with
    * `sinceVersion = -1` to replay from table birth).
    *
    * @return the head version consumed up to (= the new watermark). */
  def tailDeltaCdcInto(spark: SparkSession, path: String, sink: TxTable,
      keys: Seq[String], sinceVersion: Long,
      tsMillis: Long = System.currentTimeMillis()): Long = {
    val appId = s"graft-delta-cdc-tail|$path"
    val from = sink.txnVersion(appId).getOrElse(sinceVersion)
    val (head, feed) = readDeltaCdf(spark, path, from)
    if (head == from) return head
    CdcFeed.applyTail(feed, sink, keys, s"tailDeltaCdcInto($path)",
      verCol = "_commit_version", changeCols = Nil, appId = appId, marker = head,
      tsMillis = tsMillis)
    head
  }

  /** INCREMENTAL consumption of a Delta table: the rows appended in
    * versions `(sinceVersion, current]` — the daily "read only what's new"
    * pattern a downstream pipeline runs against a vendor's Delta feed
    * (the consumer keeps `sinceVersion` as its watermark and advances it
    * to the returned version after a successful sync).
    *
    * Append-only ranges ONLY, checked loudly: a `remove` action anywhere
    * in the range means compaction / DELETE / MERGE / overwrite rewrote
    * history there — reconstructing "the new rows" from adds alone would
    * RESURRECT compacted-away duplicates or miss deletions, so the caller
    * must re-sync from the full snapshot instead ([[readDelta]]). Same
    * loud stance on gaps (log-retention-cleaned JSON commits cannot be
    * replayed past) and on schema-changing metaData in the range when it
    * is not append-only relative to the current schema (rows are read
    * under the CURRENT schema; columns appended mid-range read as null
    * for earlier files, Delta's own semantics).
    *
    * @return (currentVersion, appended rows) — empty frame when the
    *   consumer is already at the head. */
  def readDeltaChanges(spark: SparkSession, path: String,
      sinceVersion: Long): (Long, DataFrame) = {
    val root = Paths.get(path)
    // current state: schema + partition columns + the head version (and
    // the full protocol/column-mapping checks ride along)
    val DeltaState(cur, _, meta, schema, _) = replayState(spark, root, None)
    require(sinceVersion <= cur,
      s"consumer watermark $sinceVersion is ahead of the Delta log at $path (head $cur)")
    if (sinceVersion == cur)
      return (cur, assembleRead(spark, root, schema, meta.partCols, Seq.empty,
        meta.mappingMode))

    val adds = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    rangeCommits(root, path, sinceVersion, cur).foreach { case (cv, p) =>
      commitActions(p, cv, path).foreach { node =>
        require(!node.hasNonNull("remove"),
          s"Delta log at $path: commit $cv in the consumed range carries a " +
            "remove action (compaction/delete/overwrite) — an append-only " +
            "delta read would be wrong; re-sync from the full snapshot")
        Option(node.get("add")).foreach { add =>
          require(!add.hasNonNull("deletionVector"),
            s"Delta table $path: commit $cv adds a deletion vector in the " +
              "consumed range — APPEND-ONLY incremental consumption cannot " +
              "represent row-level deletes; re-sync from the full snapshot " +
              "(readDelta applies them)")
          val decoded = decodePath(add.get("path").asText)
          adds += decoded -> AddFile(decoded, partitionValuesIn(add))
        }
      }
    }
    (cur, assembleRead(spark, root, schema, meta.partCols, adds.values.toSeq,
      meta.mappingMode))
  }

  /** CHANGE DATA FEED consumption: the row-level changes committed in
    * versions `(sinceVersion, head]` — including the deletes
    * [[readDeltaChanges]]'s append-only contract must refuse. Returns
    * `(head, changes)` where `changes` carries the table columns plus
    * `_change_type` ('insert' | 'delete' | the protocol's update_* kinds
    * when present in foreign change files) and `_commit_version`.
    *
    * Per the protocol (Change Data Files): a commit WITH cdc actions is
    * served from its `_change_data/` parquets verbatim (they physically
    * carry `_change_type` — [[deleteFromDelta]] writes them when the
    * table declares `delta.enableChangeDataFeed=true`); a commit without
    * them synthesizes — every dataChange add is an 'insert' of that
    * file's rows, every dataChange remove a 'delete' read from the
    * removed file's still-present bytes. Refuses loudly when synthesis
    * is impossible: a DV-carrying add or remove without cdc actions (the
    * row delta is not derivable from whole files), a removed file
    * already vacuumed away, and a retention-cleaned JSON range.
    * dataChange=false actions (purges, compactions) are rewrites, not
    * changes, and are skipped — exactly the protocol's rule.
    *
    * COLUMN-MAPPED tables read like [[readDelta]] (round-13: the
    * engine's own [[renameDeltaColumn]] upgrades tables to name mode,
    * so rename + CDC is a routine combo): change and data files carry
    * PHYSICAL column names — name mode resolves through the schema's
    * field metadata, id mode through parquet field ids — and the feed
    * restores logical names; partitionValues keys are physical per the
    * protocol, filled back logically. */
  def readDeltaCdf(spark: SparkSession, path: String,
      sinceVersion: Long): (Long, DataFrame) = {
    import org.apache.spark.sql.types.LongType
    val root = Paths.get(path).toAbsolutePath
    val DeltaState(cur, _, meta, schema, _) = replayState(spark, root, None)
    require(sinceVersion <= cur,
      s"consumer watermark $sinceVersion is ahead of the Delta log at $path (head $cur)")
    val outSchema = StructType(schema.fields :+
      StructField("_change_type", StringType, nullable = false) :+
      StructField("_commit_version", LongType, nullable = false))
    def empty = FileSnapshot.empty(spark, outSchema)
    if (sinceVersion == cur) return (cur, empty)

    // change and data files carry the physical layout of the table's
    // column mapping, like the table read; _change_type carries no id and
    // resolves by name, which is how the files physically store it
    val (physical, project) = mappedColumns(path, meta.mappingMode, Set("_change_type"))
    // partition columns live in the LOG's partitionValues (PHYSICAL keys
    // under column mapping), never in the files — the scan fills them
    // back exactly like the table read
    def scanRels(rels: Seq[(String, Map[String, Option[String]])],
        extraCols: Seq[StructField]): DataFrame = {
      rels.foreach { case (rel, pv) =>
        // an action MISSING a partition key (legal for removes per the
        // protocol) cannot fill the column — emitting NULL instead of
        // the real value would silently corrupt the feed; refuse
        meta.partCols.foreach { c =>
          val key = if (meta.mappingMode == "none") c else physicalNameOf(schema(c), path)
          require(pv.contains(key),
            s"Delta table $path: a cdf action for $rel carries no " +
              s"partitionValues entry for '$key' — the feed cannot " +
              "reconstruct the partition column; re-sync from the full snapshot")
        }
      }
      FileSnapshot.scan(spark, dataFiles(root, schema, meta.partCols, rels, meta.mappingMode),
        StructType(schema.fields ++ extraCols), s"Delta table $path",
        fill = meta.partCols, physical = physical, project = project,
        fieldIds = meta.idMapped)
    }
    val frames: Seq[DataFrame] = rangeCommits(root, path, sinceVersion, cur).flatMap { case (cv, p) =>
      val cdcFiles = Seq.newBuilder[(String, Map[String, Option[String]])]
      val addFiles = Seq.newBuilder[(String, Map[String, Option[String]])]
      val removeFiles = Seq.newBuilder[(String, Map[String, Option[String]])]
      var dvChange = false
      commitActions(p, cv, path).foreach { node =>
        Option(node.get("cdc")).foreach(c =>
          cdcFiles += decodePath(c.get("path").asText) -> partitionValuesIn(c))
        Option(node.get("add")).foreach { a =>
          if (Option(a.get("dataChange")).forall(_.asBoolean)) {
            if (a.hasNonNull("deletionVector")) dvChange = true
            else addFiles += decodePath(a.get("path").asText) -> partitionValuesIn(a)
          }
        }
        Option(node.get("remove")).foreach { r =>
          if (Option(r.get("dataChange")).forall(_.asBoolean)) {
            if (r.hasNonNull("deletionVector")) dvChange = true
            else removeFiles += decodePath(r.get("path").asText) -> partitionValuesIn(r)
          }
        }
      }
      val cdc = cdcFiles.result()
      if (cdc.nonEmpty) {
        // cdc actions are AUTHORITATIVE for their commit — the
        // accompanying add/remove pairs restate the same change
        Seq(scanRels(cdc, Seq(StructField("_change_type", StringType)))
          .withColumn("_commit_version", lit(cv)))
      } else {
        require(!dvChange,
          s"Delta table $path: commit $cv changes rows through a deletion " +
            "vector but carries no cdc actions — the row delta is not " +
            "derivable from whole files; enable delta.enableChangeDataFeed " +
            "before deleting, or re-sync from the full snapshot")
        def readWhole(rels: Seq[(String, Map[String, Option[String]])],
            kind: String): Option[DataFrame] =
          if (rels.isEmpty) None
          else {
            rels.foreach(r => require(Files.isRegularFile(root.resolve(r._1)),
              s"Delta table $path: commit $cv ${kind}s ${r._1} whose bytes are " +
                "no longer on disk (vacuumed/retired) — the change feed for " +
                "this range is unreconstructable; re-sync from the full snapshot"))
            Some(scanRels(rels, Seq.empty)
              .withColumn("_change_type", lit(if (kind == "add") "insert" else "delete"))
              .withColumn("_commit_version", lit(cv)))
          }
        readWhole(addFiles.result(), "add").toSeq ++
          readWhole(removeFiles.result(), "remove").toSeq
      }
    }
    val out = frames.reduceOption(_.unionByName(_)).getOrElse(empty)
    (cur, out.select(outSchema.fieldNames.map(col).toIndexedSeq: _*))
  }

  /** The features a LEGACY protocol version pair implies (PROTOCOL.md's
    * version-to-feature table) — when a commit upgrades a legacy table
    * to table features (3, 7), the spec requires these to be LISTED,
    * else the upgrade silently stops enforcing them for foreign
    * readers/writers. Cumulative by version; empty once the table is
    * already on explicit features. */
  private def legacyImpliedFeatures(mrv: Int, mwv: Int): (Set[String], Set[String]) = {
    val writer =
      if (mwv >= 7) Set.empty[String]
      else Seq(
        2 -> Seq("appendOnly", "invariants"),
        3 -> Seq("checkConstraints"),
        4 -> Seq("changeDataFeed", "generatedColumns"),
        5 -> Seq("columnMapping"),
        6 -> Seq("identityColumns"))
        .collect { case (v, fs) if mwv >= v => fs }.flatten.toSet
    val reader =
      if (mrv == 2) Set("columnMapping") else Set.empty[String]
    (reader, writer)
  }

  /** The strongest protocol the replay observed (for checkpoint
    * restatement — a checkpoint that silently DOWNGRADED a DV table's
    * protocol would let stale readers misread it). */
  private case class ProtocolInfo(mrv: Int, mwv: Int,
      readerFeatures: Set[String], writerFeatures: Set[String])

  /** The Delta table at `root` as one call opens it: the version
    * replayed, the live adds, the metaData with its logical schema parsed,
    * and the strongest protocol observed. */
  private final case class DeltaState(version: Long, live: Seq[AddFile],
      meta: TableMeta, schema: StructType, proto: ProtocolInfo)

  /** [[replayLog]] with the metaData required — every entry point but
    * [[vacuumDelta]] (which reads only the live file set) opens its table
    * here, and a log that never declared a metaData action refuses before
    * any byte is written. */
  private def replayState(spark: SparkSession, root: Path,
      versionAsOf: Option[Long]): DeltaState = {
    val (v, live, metaOpt, proto) = replayLog(spark, root, versionAsOf)
    val meta = metaOpt.getOrElse(throw new IllegalStateException(
      s"Delta log at $root carries no metaData action"))
    DeltaState(v, live, meta, DataType.fromJson(meta.schemaJson).asInstanceOf[StructType], proto)
  }

  /** The `_delta_log/` directory of the Delta table at `path`; refuses a
    * directory that holds no table. */
  private def logDirOf(path: String): Path = {
    val logDir = Paths.get(path).resolve(LogDirName)
    require(Files.isDirectory(logDir), s"no Delta table at $path (missing $LogDirName)")
    logDir
  }

  /** The action objects of JSON commit `cv` at `p`, one per non-blank
    * line. A truncated or corrupt line names the commit it came from
    * rather than surfacing as a bare Jackson parse error. */
  private def commitActions(p: Path, cv: Long, path: String): Seq[JsonNode] = {
    val m = mapper
    Files.readAllLines(p).asScala.filter(_.trim.nonEmpty).map { line =>
      try m.readTree(line)
      catch { case e: Exception => throw new IllegalStateException(
        s"Delta log at $path: commit $cv holds a malformed action line " +
          s"(${e.getMessage}); refusing to read a partial log", e) }
    }.toSeq
  }

  /** An action's `partitionValues` (a JSON null is the null partition);
    * none for an action without them. */
  private def partitionValuesIn(action: JsonNode): Map[String, Option[String]] =
    Option(action.get("partitionValues")).map { o =>
      o.properties().asScala.map { e =>
        e.getKey -> (if (e.getValue.isNull) None else Some(e.getValue.asText))
      }.toMap
    }.getOrElse(Map.empty[String, Option[String]])

  /** The JSON commits of `(since, head]` for the range readers, refused
    * unless gapless AND reaching the head: the head version can come from
    * a checkpoint, so contiguity alone would silently drop the newest
    * versions if their JSON commit files were retention-cleaned (e.g.
    * checkpoint at v10, JSONs 6-9 present, 10 absent). */
  private def rangeCommits(root: Path, path: String, since: Long,
      head: Long): Seq[(Long, Path)] = {
    val commits = listJsonCommits(root.resolve(LogDirName))
      .filter(c => c._1 > since && c._1 <= head)
    require(commits.headOption.exists(_._1 == since + 1) &&
        commits.lastOption.exists(_._1 == head) &&
        commits.zip(commits.drop(1)).forall { case ((a, _), (b, _)) => b == a + 1 },
      s"Delta log at $path has no gapless JSON commits in " +
        s"${since + 1}..$head (cleaned by log retention?) — " +
        "re-sync from the full snapshot")
    commits
  }

  /** Replay a Delta log to (version, live adds, metaData, protocol). */
  private def replayLog(spark: SparkSession, root: Path,
      versionAsOf: Option[Long]): (Long, Seq[AddFile], Option[TableMeta], ProtocolInfo) = {
    val path = root.toString
    val logDir = logDirOf(path)

    val bound = versionAsOf.getOrElse(Long.MaxValue)
    versionAsOf.foreach { v =>
      require(listJsonCommits(logDir).exists(_._1 == v) ||
          lastCheckpoint(logDir).exists(_ == v),
        s"version $v does not exist in the Delta log at $path")
    }
    // checkpoint base, if advertised AND within the bound: adds + metaData
    // already compacted (a time travel below the checkpoint replays the
    // JSON commits from version 0 instead)
    val ckpt = lastCheckpoint(logDir).filter(_ <= bound)
    val ckptState: Option[(Long, Seq[AddFile], Option[TableMeta], ProtocolInfo)] =
      ckpt.map { v => readCheckpoint(spark, logDir, v) }

    val fromVersion = ckptState.map(_._1 + 1).getOrElse(0L)
    val commits = listJsonCommits(logDir)
      .filter(c => c._1 >= fromVersion && c._1 <= bound)
    require(ckptState.nonEmpty || commits.nonEmpty, s"empty Delta log at $path")
    // replay must be gapless from its base: a log whose early JSON commits
    // were cleaned (Delta's log retention) is only readable via a
    // checkpoint at-or-below the requested version — failing loudly beats
    // silently reconstructing a partial file set
    require(commits.headOption.forall(_._1 == fromVersion) &&
        commits.zip(commits.drop(1)).forall { case ((a, _), (b, _)) => b == a + 1 },
      s"Delta log at $path has gaps in ${fromVersion}..$bound " +
        "(cleaned by log retention?) and no usable checkpoint covers them")

    val live = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    ckptState.foreach(_._2.foreach(a => live += a.path -> a))
    var meta: Option[TableMeta] = ckptState.flatMap(_._3)

    // mrv-2-without-configuration tracking: reader version 2 exists FOR
    // column mapping, so a v2 table whose metaData omits the configuration
    // object is unverifiable — checked after the whole replay because the
    // protocol and metaData actions may land in different commits, and the
    // protocol may live ONLY in the checkpoint (seeded from its max mrv)
    var maxMrv = ckptState.map(_._4.mrv).getOrElse(1)
    var maxMwv = ckptState.map(_._4.mwv).getOrElse(1)
    var readerFeats = ckptState.map(_._4.readerFeatures).getOrElse(Set.empty[String])
    var writerFeats = ckptState.map(_._4.writerFeatures).getOrElse(Set.empty[String])
    var configlessMeta = false

    commits.foreach { case (cv, p) =>
      // removes apply BEFORE adds within one commit: a DV rewrite commits
      // `remove` of a file's previous entry alongside `add` of the same
      // path with the new deletion vector, and the protocol does not fix
      // the line order — applying them in file order could drop the re-add
      // (a file silently vanishing is corruption, not compatibility)
      val commitAdds = Seq.newBuilder[AddFile]
      val commitRemoves = Seq.newBuilder[String]
      commitActions(p, cv, path).foreach { node =>
        Option(node.get("protocol")).foreach { pr =>
          checkProtocol(pr, path)
          maxMrv = math.max(maxMrv,
            Option(pr.get("minReaderVersion")).map(_.asInt).getOrElse(1))
          maxMwv = math.max(maxMwv,
            Option(pr.get("minWriterVersion")).map(_.asInt).getOrElse(1))
          readerFeats ++= Option(pr.get("readerFeatures"))
            .map(_.elements().asScala.map(_.asText).toSet).getOrElse(Set.empty)
          writerFeats ++= Option(pr.get("writerFeatures"))
            .map(_.elements().asScala.map(_.asText).toSet).getOrElse(Set.empty)
        }
        Option(node.get("metaData")).foreach { md =>
          val cfg = Option(md.get("configuration")).map { c =>
            c.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
          }.getOrElse(Map.empty[String, String])
          checkMappingMode(cfg.get("delta.columnMapping.mode"), path)
          configlessMeta = !md.hasNonNull("configuration")
          meta = Some(TableMeta(md.get("schemaString").asText,
            Option(md.get("partitionColumns")).map(_.elements().asScala.map(_.asText).toSeq)
              .getOrElse(Seq.empty),
            Option(md.get("id")).map(_.asText), cfg))
        }
        Option(node.get("add")).foreach { add =>
          commitAdds += AddFile(decodePath(add.get("path").asText),
            partitionValuesIn(add), parseDv(add, path),
            Option(add.get("stats")).filter(!_.isNull).map(_.asText))
        }
        Option(node.get("remove")).foreach { rm =>
          commitRemoves += decodePath(rm.get("path").asText)
        }
      }
      commitRemoves.result().foreach(live -= _)
      commitAdds.result().foreach(a => live += a.path -> a)
    }
    require(maxMrv != 2 || !configlessMeta,
      s"Delta table $path declares reader version 2 (the column-mapping " +
        "version) but its current metaData carries no configuration object " +
        "— cannot verify the table is not column-mapped")
    val lastVersion = commits.lastOption.map(_._1)
      .orElse(ckptState.map(_._1)).getOrElse(0L)
    (lastVersion, live.values.toSeq, meta,
      ProtocolInfo(maxMrv, maxMwv, readerFeats, writerFeats))
  }

  /** The live files read through [[FileSnapshot.scan]]: partition
    * columns fill from the log's `partitionValues` (authoritative for any
    * file layout; directory names are a writer convention), each add's
    * deletion vector masks its rows out, and `provenance` adds the
    * (file, pos) columns a DV-writing commit needs. */
  private def assembleRead(spark: SparkSession, root: Path, schema: StructType,
      partCols: Seq[String], adds: Seq[AddFile],
      mappingMode: String = "none", provenance: Boolean = false): DataFrame = {
    // descriptors decode BEFORE the scan is constructed: a malformed DV
    // must surface as ITS error, not hide behind whatever the file scan
    // happens to throw first
    val dvPos = dvPositionsDf(spark, root, adds)
    val (physical, project) = mappedColumns(root.toString, mappingMode)
    FileSnapshot.scan(spark,
      dataFiles(root, schema, partCols, adds.map(a => a.path -> a.partitionValues), mappingMode),
      schema, s"Delta table at $root", fill = partCols, physical = physical,
      project = project, fieldIds = mappingMode == "id", positions = dvPos,
      provenance = provenance)
  }

  /** Delta files as the shared snapshot model. `partitionValues` keys are
    * PHYSICAL names under column mapping (PROTOCOL.md) while
    * metaData.partitionColumns stays logical: values are looked up
    * physically and keyed logically. */
  private def dataFiles(root: Path, schema: StructType, partCols: Seq[String],
      files: Seq[(String, Map[String, Option[String]])],
      mappingMode: String): Seq[FileSnapshot.DataFile] =
    files.map { case (rel, pv) =>
      FileSnapshot.DataFile(root.resolve(rel), partCols.map { c =>
        val key = if (mappingMode == "none") c else physicalNameOf(schema(c), root.toString)
        c -> pv.get(key).flatten.orNull
      }.toMap)
    }

  /** A table's column mapping as [[FileSnapshot.scan]] arguments: the scan
    * fields standing for one logical field, and its output column. Under
    * NAME mapping the files carry PHYSICAL names — the scan renames
    * through the field metadata and the output restores logical names (a
    * positional struct cast restores NESTED logical names in the same
    * move). Under ID mapping the scan keeps LOGICAL names stamped with
    * each field's parquet field id, and the output re-aliases with the
    * logical metadata so the schema does not leak the stamps (a user
    * copying it into another parquet read would trip field-id
    * resolution against id-less files). `passthrough` fields are no
    * table columns (`_change_type`) and scan as they are. */
  private def mappedColumns(path: String, mode: String, passthrough: Set[String] = Set.empty)
      : (StructField => Seq[StructField], StructField => org.apache.spark.sql.Column) = {
    def one(f: StructField, to: DataType => DataType): Seq[StructField] =
      if (passthrough(f.name)) Seq(f)
      else to(StructType(Seq(f))).asInstanceOf[StructType].fields.toSeq
    mode match {
      case "name" => (one(_, toPhysical(_, path)), f =>
        if (passthrough(f.name)) col(f.name)
        else col(physicalNameOf(f, path)).cast(f.dataType).as(f.name))
      case "id" => (one(_, withFieldIds(_, path)), f =>
        if (passthrough(f.name)) col(f.name) else col(f.name).as(f.name, f.metadata))
      case _ => (Seq(_), f => col(f.name))
    }
  }

  /** Data-file basename → its add: basenames key the DV provenance. */
  private def namesOf(root: Path, adds: Seq[AddFile]): Map[String, AddFile] = {
    val names = adds.map(a => root.resolve(a.path).getFileName.toString)
    FileSnapshot.requireUniqueNames(names, s"Delta table at $root")
    names.zip(adds).toMap
  }

  /** Load one descriptor's serialized DV blob (file-based or inline). */
  private def dvBlob(root: Path, filePath: String, d: DvDesc): Array[Byte] =
    d.storageType match {
      case "i" => DeletionVectors.base85Decode(d.pathOrInlineDv, d.sizeInBytes)
      case st =>
        val file = DeletionVectors.resolveDvFile(root, st, d.pathOrInlineDv)
        DeletionVectors.readDvBlob(file,
          d.offset.getOrElse(throw new IllegalArgumentException(
            s"Delta table at $root: file-based deletion vector for " +
              s"$filePath lacks an offset")),
          d.sizeInBytes)
    }

  /** One deletion vector ready for EXECUTOR-side decode: the descriptor
    * fields plus a file-based blob's resolved absolute path. The driver
    * validates and resolves but never loads the compressed bytes (an
    * inline vector's bytes already ride the descriptor string). */
  private[sources] case class DvWork(file: String, storageType: String,
      pathOrInline: String, offset: Int, sizeInBytes: Int,
      cardinality: Long, resolved: String)

  /** The distributed (data-file basename, deleted position) frame of the
    * adds' deletion vectors — None when no add carries one, so DV-free
    * tables scan untouched. Executors expand the blobs through one typed
    * flatMap and re-verify each decoded cardinality against its
    * descriptor (a mismatch means a corrupt DV: failing the job beats
    * returning the wrong rows); positions never pass through the driver,
    * and [[FileSnapshot.scan]] anti-joins them out. */
  private def dvPositionsDf(spark: SparkSession, root: Path,
      adds: Seq[AddFile]): Option[DataFrame] = {
    val withDv = adds.filter(_.dv.isDefined)
    if (withDv.isEmpty) return None
    // the driver VALIDATES every descriptor eagerly (a malformed one must
    // surface as its own error at read construction, not behind whatever
    // a task throws first) and resolves file-based blob locations — but
    // never loads the compressed bytes: at 100 TB with pervasive deletes
    // driver memory would otherwise grow with the number of DV'd files.
    // Executors read and expand the blobs, where the anti-join runs
    // anyway (the same shared-filesystem assumption as the data files).
    val work: Seq[DvWork] = withDv.map { a =>
      val f = root.resolve(a.path).getFileName.toString
      val d = a.dv.get
      d.storageType match {
        case "i" =>
          // decode-and-discard keeps the eager contract for inline
          // vectors (tiny by construction — they are inline BECAUSE
          // small): a corrupt Base85 payload errors here, not mid-scan
          DeletionVectors.base85Decode(d.pathOrInlineDv, d.sizeInBytes)
          DvWork(f, d.storageType, d.pathOrInlineDv, 0, d.sizeInBytes,
            d.cardinality, "")
        case st =>
          val file = DeletionVectors.resolveDvFile(root, st, d.pathOrInlineDv)
          val off = d.offset.getOrElse(throw new IllegalArgumentException(
            s"Delta table at $root: file-based deletion vector for " +
              s"${a.path} lacks an offset"))
          require(Files.isRegularFile(file),
            s"Delta table at $root: deletion vector file $file for " +
              s"${a.path} is missing")
          // the stored blob is length-prefixed (4) and CRC-suffixed (4)
          require(Files.size(file) >= off.toLong + 4L + d.sizeInBytes + 4L,
            s"Delta table at $root: deletion vector file $file is shorter " +
              s"than ${a.path}'s descriptor claims (offset $off + 4 + size " +
              s"${d.sizeInBytes} + 4)")
          DvWork(f, st, d.pathOrInlineDv, off, d.sizeInBytes, d.cardinality,
            file.toAbsolutePath.toString)
      }
    }
    import org.apache.spark.sql.Encoders
    Some(spark.createDataset(work)(Encoders.product[DvWork])
      .flatMap { w =>
        val blob =
          if (w.storageType == "i")
            DeletionVectors.base85Decode(w.pathOrInline, w.sizeInBytes)
          else DeletionVectors.readDvBlob(
            Paths.get(w.resolved), w.offset, w.sizeInBytes)
        val ps = DeletionVectors.positions(blob).toArray
        if (ps.length.toLong != w.cardinality)
          throw new IllegalStateException(
            s"deletion vector for ${w.file} decodes ${ps.length} positions " +
              s"but its descriptor declares cardinality ${w.cardinality} — " +
              "corrupt DV")
        ps.iterator.map(p => (w.file, p))
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .toDF(FileSnapshot.FileCol, FileSnapshot.PosCol))
  }

  /** Upgrade a logical schema to column-mapping NAME mode: every field
    * (recursively) gets a stable `delta.columnMapping.id` and a physical
    * name equal to its current name, so the existing parquet files become
    * the physical layout as-is. Identity when already mapped.
    * @return (mapped schema, table configuration, whether an upgrade
    *   protocol action must be committed) */
  private def upgradeToNameMode(schema: StructType, meta: TableMeta)
      : (StructType, Map[String, String], Boolean) = {
    import org.apache.spark.sql.types.{ArrayType, MapType, MetadataBuilder}
    require(!meta.idMapped,
      "the table is column-mapped in ID mode — flipping a foreign " +
        "table's declared mode to name would change how every reader " +
        "resolves its files; unsupported")
    if (meta.mapped) return (schema, meta.config, false)
    var nextId = 0L
    def assign(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map { f =>
        nextId += 1
        val md = new MetadataBuilder().withMetadata(f.metadata)
          .putString(PhysNameKey, f.name)
          .putLong(ColIdKey, nextId)
          .build()
        f.copy(metadata = md, dataType = assign(f.dataType))
      })
      case ArrayType(et, n) => ArrayType(assign(et), n)
      case MapType(k, v, n) => MapType(assign(k), assign(v), n)
      case other => other
    }
    val s2 = assign(schema).asInstanceOf[StructType]
    (s2, meta.config ++ Map(
      "delta.columnMapping.mode" -> "name",
      "delta.columnMapping.maxColumnId" -> nextId.toString), true)
  }

  /** The table's `delta.enableChangeDataFeed` flag, parsed
    * case-insensitively (Delta boolean properties are) — ONE predicate
    * shared by the property setter's protocol gating and every cdc
    * producer, so the two can never disagree. */
  private def cdfEnabledIn(config: Map[String, String]): Boolean =
    config.get("delta.enableChangeDataFeed")
      .exists(_.trim.equalsIgnoreCase("true"))

  // ------------------------------------------------------ COMMIT WRITER

  /** Publish version `cur + 1` of the log at `logDir`: the `commitInfo`
    * line, then `actions` in order, put-if-absent through
    * [[StagedWrite.publish]] — the whole record or nothing, at most once.
    * Every writer of a live log commits here, and [[exportDelta]] writes
    * its staged version 0 here too. A writer that lost the race for the
    * version gets ConcurrentModificationException (re-read, then retry).
    * Returns the committed version. */
  private def commitDelta(logDir: Path, cur: Long, operation: String,
      engineInfo: String, tsMillis: Long, actions: Seq[ObjectNode]): Long = {
    val info = JsonNodeFactory.instance.objectNode()
    info.putObject("commitInfo")
      .put("timestamp", tsMillis).put("operation", operation).put("engineInfo", engineInfo)
    val m = mapper
    val v = cur + 1
    if (!StagedWrite.publishLines(logDir.resolve(f"$v%020d.json"),
        (info +: actions).map(m.writeValueAsString)))
      throw new java.util.ConcurrentModificationException(
        s"a concurrent writer committed version $v of the Delta table at ${logDir.getParent}")
    v
  }

  /** One action line `{"<kind>": {...}}` and its body, for filling. */
  private def action(kind: String): (ObjectNode, ObjectNode) = {
    val line = JsonNodeFactory.instance.objectNode()
    (line, line.putObject(kind))
  }

  /** A `protocol` action on the legacy version pair alone. */
  private def legacyProtocol(mrv: Int, mwv: Int): ObjectNode = {
    val (line, pr) = action("protocol")
    pr.put("minReaderVersion", mrv).put("minWriterVersion", mwv)
    line
  }

  /** A table-features `protocol` action, (3, 7) at least, declaring
    * `reader`/`writer` on top of every feature the table already has. The
    * latest protocol action REPLACES the table protocol wholly, so the
    * replay's features ride along (a fixed set would silently DOWNGRADE a
    * table that also declares e.g. timestampNtz or columnMapping,
    * unblocking foreign readers that must stay blocked), and so do the
    * features its legacy versions imply — the spec requires those listed
    * when a legacy table upgrades. */
  private def featuresProtocol(proto: ProtocolInfo, reader: Set[String],
      writer: Set[String]): ObjectNode = {
    val (line, pr) = action("protocol")
    pr.put("minReaderVersion", math.max(3, proto.mrv))
    pr.put("minWriterVersion", math.max(7, proto.mwv))
    val (legacyR, legacyW) = legacyImpliedFeatures(proto.mrv, proto.mwv)
    val rf = pr.putArray("readerFeatures")
    (proto.readerFeatures ++ legacyR ++ reader).toSeq.sorted.foreach(rf.add)
    val wf = pr.putArray("writerFeatures")
    (proto.writerFeatures ++ legacyW ++ writer).toSeq.sorted.foreach(wf.add)
    line
  }

  /** A `metaData` action. It REPLACES table metadata wholly, so callers
    * restate the table's configuration — an empty object would silently
    * wipe table properties like delta.enableChangeDataFeed. */
  private def metaDataAction(id: String, schema: StructType, partCols: Seq[String],
      config: Map[String, String], tsMillis: Long): ObjectNode = {
    val (line, md) = action("metaData")
    md.put("id", id)
    md.putObject("format").put("provider", "parquet").putObject("options")
    md.put("schemaString", schema.json)
    val pcArr = md.putArray("partitionColumns")
    partCols.foreach(pcArr.add)
    val cfgNode = md.putObject("configuration")
    config.toSeq.sortBy(_._1).foreach { case (k, v) => cfgNode.put(k, v) }
    md.put("createdTime", tsMillis)
    line
  }

  private def addAction(rel: String, pv: Map[String, Option[String]], size: Long,
      tsMillis: Long, dataChange: Boolean, stats: Option[String] = None,
      dv: Option[DvDesc] = None): ObjectNode = {
    val (line, add) = action("add")
    add.put("path", encodePath(rel))
    putPv(add, pv)
    stats.foreach(add.put("stats", _))
    add.put("size", size)
    add.put("modificationTime", tsMillis)
    add.put("dataChange", dataChange)
    dv.foreach(putDv(add, _))
    line
  }

  /** A `remove`; a superseded deletion vector rides along (vacuum
    * bookkeeping). */
  private def removeAction(rel: String, pv: Map[String, Option[String]],
      tsMillis: Long, dataChange: Boolean, dv: Option[DvDesc] = None): ObjectNode = {
    val (line, rm) = action("remove")
    rm.put("path", encodePath(rel))
    rm.put("deletionTimestamp", tsMillis)
    rm.put("dataChange", dataChange)
    putPv(rm, pv)
    dv.foreach(putDv(rm, _))
    line
  }

  private def cdcAction(rel: String, size: Long, pv: Map[String, Option[String]]): ObjectNode = {
    val (line, cd) = action("cdc")
    cd.put("path", encodePath(rel))
    putPv(cd, pv)
    cd.put("size", size)
    cd.put("dataChange", false)
    line
  }

  private def putDv(node: ObjectNode, d: DvDesc): Unit = {
    val o = node.putObject("deletionVector")
    o.put("storageType", d.storageType)
    o.put("pathOrInlineDv", d.pathOrInlineDv)
    d.offset.foreach(o.put("offset", _))
    o.put("sizeInBytes", d.sizeInBytes)
    o.put("cardinality", d.cardinality)
  }

  /** The protocol's `partitionValues` emission (null values as JSON
    * null) — ONE serialization for every commit writer. */
  private def putPv(node: ObjectNode, pv: Map[String, Option[String]]): Unit = {
    val o = node.putObject("partitionValues")
    pv.toSeq.sortBy(_._1).foreach {
      case (k, Some(v)) => o.put(k, v)
      case (k, None)    => o.putNull(k)
    }
  }

  /** One `add` per exported `(rel, size)` file of a TxTable snapshot. Its
    * `stats` carry TxTable's per-file bounds (foreign engines skip files
    * by value range); numRecords comes from one footer pass over just the
    * stat-carrying files. */
  private def addActions(spark: SparkSession, snap: TxTable.SnapshotInfo,
      schema: StructType, adds: Seq[(String, Long)], tsMillis: Long): Seq[ObjectNode] = {
    val dataDir = Paths.get(snap.dataDir)
    val statFiles = adds.map(_._1).filter(f => snap.stats.get(f).exists(_.nonEmpty))
    val rowCounts =
      if (statFiles.isEmpty) Map.empty[String, Long]
      else StagedWrite.parquetRowCountBulk(spark, statFiles.map(r => dataDir.resolve(r)))
    val m = mapper
    adds.map { case (rel, size) =>
      val stats = for {
        sts <- snap.stats.get(rel) if sts.nonEmpty
        n <- rowCounts.get(dataDir.resolve(rel).toString)
        js <- statsJson(m, schema, sts, n)
      } yield js
      addAction(rel, partitionValuesOf(rel, snap.partCols).toMap, size, tsMillis,
        dataChange = true, stats)
    }
  }

  /** The remove + re-add pair per `(file name, merged DV blob)` that moves
    * each touched file onto its new deletion vector (blobs at `offsets` in
    * the DV file `encUuid`). The re-add RESTATES the file's partition
    * tuple — an empty map would silently move the file out of its
    * partition. */
  private def dvRewrite(root: Path, nameToAdd: Map[String, AddFile],
      merged: Seq[(String, Array[Byte])], encUuid: String, offsets: Seq[Int],
      tsMillis: Long): Seq[ObjectNode] =
    merged.zip(offsets).flatMap { case ((f, blob), off) =>
      val a = nameToAdd(f)
      Seq(removeAction(a.path, a.partitionValues, tsMillis, dataChange = true, a.dv),
        addAction(a.path, a.partitionValues, Files.size(root.resolve(a.path)), tsMillis,
          dataChange = true, dv = Some(DvDesc("u", encUuid, Some(off), blob.length,
            DeletionVectors.cardinality(blob)))))
    }

  /** A protocol feature a metadata commit must start gating: the feature
    * name, whether it is a reader-writer feature (listed in BOTH sets at
    * (3,7)) or writer-only, and the legacy version pair that implies it
    * (PROTOCOL.md's version-to-feature table) for tables not yet on
    * explicit features. */
  private case class ProtocolUpgrade(feature: String, readerFeature: Boolean,
      legacyMrv: Int, legacyMwv: Int)
  private val ColumnMappingUpgrade =
    ProtocolUpgrade("columnMapping", readerFeature = true, 2, 5)
  private val ChangeDataFeedUpgrade =
    ProtocolUpgrade("changeDataFeed", readerFeature = false, 1, 4)

  /** Commit a metadata-only schema change: commitInfo + (on upgrade) the
    * protocol action gating `upgrade.feature` — a plain table takes the
    * feature's legacy version pair (max'd against the current pair:
    * legacy versions are cumulative); a table already on table features
    * adds the feature to the appropriate feature set(s) (reader-writer
    * features must be listed in both at mrv 3) — + the restated
    * metaData. */
  private def commitSchemaChange(logDir: Path, cur: Long, meta: TableMeta,
      proto: ProtocolInfo, path: String, operation: String,
      newSchema: StructType, newPartCols: Seq[String],
      config: Map[String, String], upgrade: Option[ProtocolUpgrade],
      tsMillis: Long): Unit = {
    val protocol = upgrade.map { up =>
      if (proto.mrv >= 3 || proto.mwv >= 7 ||
          proto.readerFeatures.nonEmpty || proto.writerFeatures.nonEmpty)
        featuresProtocol(proto,
          if (up.readerFeature) Set(up.feature) else Set.empty, Set(up.feature))
      // legacy versions are cumulative, so taking the max PRESERVES
      // whatever the table already gates (a legacy mwv 6 table keeps
      // identityColumns enforcement — (2, 6) implies columnMapping too);
      // writing the feature's fixed legacy pair would silently DOWNGRADE it
      else legacyProtocol(math.max(up.legacyMrv, proto.mrv),
        math.max(up.legacyMwv, proto.mwv))
    }
    commitDelta(logDir, cur, operation, "graft-delta-schema", tsMillis,
      protocol.toSeq :+ metaDataAction(meta.id.getOrElse(tableId(path)), newSchema,
        newPartCols, config, tsMillis))
  }

  /** Rename a top-level column of a Delta table as a METADATA-ONLY commit
    * — zero data files touched, O(1) I/O at any table size. This is what
    * Delta's column mapping exists for (PROTOCOL.md, Column Mapping): on a
    * plain table the commit first UPGRADES to `name` mode
    * ([[upgradeToNameMode]]), then the rename changes only the LOGICAL
    * name while the field keeps its physical name and id, so every reader
    * resolving through the mapping (including [[readDelta]]) sees the new
    * name over the old bytes. Time travel below the rename still reads
    * the old name: the mapping is versioned metadata like any other.
    * Renaming a partition column is legal: `partitionValues` keys are
    * physical and do not move.
    *
    * Refuses: a missing source column, a target name already taken
    * (Delta names are case-insensitively unique), and self-renames. */
  def renameDeltaColumn(spark: SparkSession, path: String,
      oldName: String, newName: String,
      tsMillis: Long = System.currentTimeMillis()): Unit = {
    val root = Paths.get(path).toAbsolutePath
    val DeltaState(cur, _, meta, schema, proto) = replayState(spark, root, None)
    require(schema.fieldNames.contains(oldName),
      s"Delta table $path has no column '$oldName' " +
        s"(schema: ${schema.fieldNames.mkString(", ")})")
    require(oldName != newName,
      s"renaming '$oldName' to itself — refusing to commit a no-op")
    // the field being renamed is excluded: a CASE-ONLY rename
    // (value → Value) is a legitimate metadata-only operation — the
    // physical name stays put either way
    require(!schema.fieldNames.filterNot(_ == oldName)
        .exists(_.equalsIgnoreCase(newName)),
      s"Delta table $path already has a column '$newName' " +
        "(Delta column names are case-insensitively unique)")
    val (mappedSchema, config, upgraded) = upgradeToNameMode(schema, meta)
    val renamed = StructType(mappedSchema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    val newPartCols = meta.partCols.map(c => if (c == oldName) newName else c)
    commitSchemaChange(root.resolve(LogDirName), cur, meta, proto, path, "RENAME COLUMN",
      renamed, newPartCols, config,
      if (upgraded) Some(ColumnMappingUpgrade) else None, tsMillis)
  }

  /** Set one table property as a METADATA-ONLY commit (Delta's `ALTER
    * TABLE … SET TBLPROPERTIES`): the metaData action restates the table
    * with `configuration + (key → value)`. The column-mapping keys are
    * managed by [[renameDeltaColumn]]/[[dropDeltaColumn]] and refuse here
    * — hand-setting them would declare a mapping the schema's field
    * metadata does not back.
    *
    * Enabling `delta.enableChangeDataFeed` ALSO commits a protocol
    * action gating the `changeDataFeed` writer feature (legacy floor
    * writer version 4): once the property is set the protocol requires
    * writers to emit cdc actions, and an un-gated legacy foreign writer
    * could commit row changes without them — [[readDeltaCdf]]'s
    * whole-file synthesis would then over-report rewrites as change
    * pairs. */
  def setDeltaTableProperty(spark: SparkSession, path: String,
      key: String, value: String,
      tsMillis: Long = System.currentTimeMillis()): Unit = {
    val root = Paths.get(path).toAbsolutePath
    require(key.nonEmpty && !key.startsWith("delta.columnMapping."),
      s"'$key' is managed by renameDeltaColumn/dropDeltaColumn — setting " +
        "it by hand would declare a mapping the schema metadata does not back")
    val DeltaState(cur, _, meta, schema, proto) = replayState(spark, root, None)
    // already gated: listed explicitly on a table-features protocol, or
    // implied by a legacy writer version 4-6 (mwv >= 7 alone implies
    // nothing — features are explicit there)
    val cdfGated =
      if (proto.mwv >= 7) proto.writerFeatures.contains("changeDataFeed")
      else proto.mwv >= 4
    val enablesCdf = key == "delta.enableChangeDataFeed" &&
      value.trim.equalsIgnoreCase("true") && !cdfGated
    commitSchemaChange(root.resolve(LogDirName), cur, meta, proto, path, "SET TBLPROPERTIES",
      schema, meta.partCols, meta.config + (key -> value),
      if (enablesCdf) Some(ChangeDataFeedUpgrade) else None, tsMillis)
  }

  /** Drop a top-level column of a Delta table as a METADATA-ONLY commit
    * — the other operation column mapping exists for: the field leaves
    * the logical schema while the physical column stays in the files,
    * never requested again by readers (zero data movement; the bytes are
    * reclaimed whenever the files are next rewritten). A plain table
    * upgrades to name mode first, exactly like [[renameDeltaColumn]].
    * Time travel below the drop still reads the column. Refuses:
    * missing column, partition columns (their values live in the log,
    * not the files — dropping one is a repartition, not a metadata
    * edit), and dropping the last column. */
  def dropDeltaColumn(spark: SparkSession, path: String, name: String,
      tsMillis: Long = System.currentTimeMillis()): Unit = {
    val root = Paths.get(path).toAbsolutePath
    val DeltaState(cur, _, meta, schema, proto) = replayState(spark, root, None)
    require(schema.fieldNames.contains(name),
      s"Delta table $path has no column '$name' " +
        s"(schema: ${schema.fieldNames.mkString(", ")})")
    require(!meta.partCols.contains(name),
      s"'$name' is a partition column of $path — dropping it is a " +
        "repartition, not a metadata edit")
    require(schema.fields.length > 1,
      s"refusing to drop the last column of $path")
    val (mappedSchema, config, upgraded) = upgradeToNameMode(schema, meta)
    val dropped = StructType(mappedSchema.fields.filterNot(_.name == name))
    commitSchemaChange(root.resolve(LogDirName), cur, meta, proto, path, "DROP COLUMNS",
      dropped, meta.partCols, config,
      if (upgraded) Some(ColumnMappingUpgrade) else None, tsMillis)
  }

  /** Row-level DELETE on a Delta table at `path`: commit a DELETION-VECTOR
    * snapshot — the protocol's merge-on-read DELETE, what a modern
    * engine's `DELETE FROM t WHERE …` with DVs enabled produces. No data
    * file is rewritten: matching rows' positions serialize into one
    * `deletion_vector_<uuid>.bin` (RoaringBitmapArray portable format,
    * one blob per touched file, CRC-checked), and one new commit carries,
    * per touched file, a `remove` of its previous entry plus an `add` of
    * the SAME path with the new descriptor — stacked deletes UNION with
    * the file's existing DV, so every commit's descriptor covers the
    * file's full deleted set. The commit also raises the protocol to
    * readerVersion 3 / writerVersion 7 with the `deletionVectors` feature,
    * as the spec requires of DV-writing commits.
    *
    * The predicate evaluates against the LIVE view (existing DVs
    * applied), so re-running the same delete matches nothing, commits
    * nothing, and returns 0 — idempotent. Positions are computed by one
    * distributed scan and the per-file bitmaps are BUILT ON EXECUTORS
    * (groupByKey over the hit positions); the driver handles only the
    * O(touched files) compressed blobs. Partitioned tables work — the
    * predicate may name partition columns, reconstructed from the log's
    * `partitionValues` (per-file scan constants) before evaluation. The commit publishes put-if-absent: a writer that lost
    * the race gets ConcurrentModificationException rather than
    * clobbering.
    *
    * @return the number of newly deleted row positions (0 = no commit). */
  def deleteFromDelta(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column,
      tsMillis: Long = System.currentTimeMillis()): Long = {
    val root = Paths.get(path).toAbsolutePath
    val logDir = root.resolve(LogDirName)
    val DeltaState(cur, live, meta, schema, proto) = replayState(spark, root, None)
    // names this call's new files: two writers racing from the same
    // version never share one, and a crashed writer's leftovers never
    // block the next writer at that version
    val nonce = java.util.UUID.randomUUID()
    // round-13: CDF emission on a column-mapped table is supported —
    // the change files carry the physical layout (physWriteCol), exactly
    // like data files, so rename + CDC composes; id-mapped tables delete
    // too (the provenance scan resolves by parquet field id, and the DV
    // write path never renames anything)
    val cdfEnabled = cdfEnabledIn(meta.config)
    if (live.isEmpty) return 0L
    val nameToAdd = namesOf(root, live)
    val liveDf = assembleRead(spark, root, schema, meta.partCols, live,
      meta.mappingMode, provenance = true)
    import org.apache.spark.sql.Encoders
    val newBlobs: Seq[(String, Array[Byte], Long)] = liveDf.where(predicate)
      .select(col(FileSnapshot.FileCol), col(FileSnapshot.PosCol))
      .as(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .groupByKey(_._1)(Encoders.STRING)
      .mapGroups { (f, it) =>
        val blob = DeletionVectors.serialize(it.map(_._2))
        (f, blob, DeletionVectors.cardinality(blob))
      }(Encoders.tuple(Encoders.STRING, Encoders.BINARY, Encoders.scalaLong))
      .collect().toSeq.sortBy(_._1)
    if (newBlobs.isEmpty) return 0L
    val newDeleted = newBlobs.map(_._3).sum

    // stacked deletes: union each touched file's existing DV in
    val merged: Seq[(String, Array[Byte])] = newBlobs.map { case (f, blob, _) =>
      nameToAdd(f).dv match {
        case None    => (f, blob)
        case Some(d) => (f, DeletionVectors.union(dvBlob(root, f, d), blob))
      }
    }
    val (encUuid, offsets) = DeletionVectors.writeDvFile(root, merged.map(_._2))

    // CHANGE DATA FEED: when the table declares
    // delta.enableChangeDataFeed=true, the commit also materializes the
    // deleted rows as `_change_data/` parquet(s) carrying the protocol's
    // _change_type column, listed by cdc actions — so [[readDeltaCdf]]
    // (and foreign CDF readers) serve row-level deletes without
    // re-reading retired history. '_'-prefixed, so VACUUM never touches
    // the change files (the protocol's own convention). The change rows
    // can only live in the files the first scan found TOUCHED, so this
    // second read scans those alone — O(matched files), not O(table).
    // (rel path, size, the cdc file's partitionValues)
    val cdcEntries: Seq[(String, Long, Map[String, Option[String]])] =
      if (!cdfEnabled) Seq.empty
      else {
        val touched = newBlobs.map(_._1).toSet
        val touchedAdds = live.filter(a =>
          touched.contains(root.resolve(a.path).getFileName.toString))
        val live2 = assembleRead(spark, root, schema, meta.partCols, touchedAdds,
          meta.mappingMode, provenance = true)
        // change files follow the table's column mapping exactly like
        // data files (PROTOCOL.md, Change Data Files): a mapped table's
        // cdc parquets must carry PHYSICAL column names (+ field ids in
        // id mode), or a foreign CDF reader resolving physically reads
        // nulls. They mirror the data layout (protocol: partition columns
        // live on the cdc ACTION's partitionValues, not in the file) —
        // one change parquet per touched partition, its group id riding a
        // broadcast (file → group) join
        val groups: Seq[(Map[String, Option[String]], Seq[AddFile])] =
          touchedAdds.groupBy(_.partitionValues).toSeq
            .sortBy(_._1.toSeq.sortBy(_._1).toString)
        val partSet = meta.partCols.toSet
        val changeCols = schema.fields.filterNot(f => partSet.contains(f.name))
          .map(f => physWriteCol(f, meta, path)) :+ lit("delete").as("_change_type")
        val hits2 = live2.where(predicate)
        val (changes, grpCol) =
          if (meta.partCols.isEmpty) (hits2.select(changeCols.toIndexedSeq: _*), Nil)
          else {
            val grpDf = spark.createDataFrame(
              groups.zipWithIndex.flatMap { case ((_, as), gi) =>
                as.map(a => (root.resolve(a.path).getFileName.toString, gi)) })
              .toDF(FileSnapshot.FileCol, "__gcdc_grp")
            (hits2.join(broadcast(grpDf), Seq(FileSnapshot.FileCol))
              .select((changeCols :+ col("__gcdc_grp")).toIndexedSeq: _*),
              Seq("__gcdc_grp"))
          }
        writeFiles(root, changes, grpCol, meta.mapped || meta.idMapped) { (_, i) =>
          StagedWrite.seededName("_change_data/cdc", s"$path|cdc|$cur|$nonce|$i")
        }._1.map { case (rel, size, pv) =>
          (rel, size, pv.get("__gcdc_grp").fold(Map.empty[String, Option[String]])(
            g => groups(g.get.toInt)._1))
        }
      }

    // a DV-writing commit must declare the table feature (protocol
    // upgrade is idempotent — re-declaring it is harmless); a CDF commit
    // additionally declares the writer-only changeDataFeed feature
    commitDelta(logDir, cur, "DELETE", "graft-delta-dv-delete", tsMillis,
      featuresProtocol(proto, Set("deletionVectors"), Set("deletionVectors") ++
        (if (cdcEntries.nonEmpty) Set("changeDataFeed") else Set.empty)) +:
        (cdcEntries.map((cdcAction _).tupled) ++
          dvRewrite(root, nameToAdd, merged, encUuid, offsets, tsMillis)))
    newDeleted
  }

  /** CDC UPSERT (the standard MERGE) into a Delta table: ONE commit that
    * deletion-vectors every live row whose key matches an incoming row
    * (the superseded pre-images) and adds the incoming rows as fresh data
    * files — copy-on-write for the new rows, merge-on-read for the old.
    * Keys match NULL-SAFELY (a null key component matches null), and the
    * incoming keys must be DISTINCT (duplicate incoming keys make MERGE
    * ambiguous — refused loudly, the standard MERGE precondition).
    * Unmatched keys simply insert.
    *
    * When the table declares `delta.enableChangeDataFeed=true`, the
    * commit also materializes the protocol's FULL change classification
    * into `_change_data/`: `update_preimage` (the superseded old rows) +
    * `update_postimage` (their replacements) for matched keys, `insert`
    * for new keys — so [[readDeltaCdf]] and foreign CDF readers serve
    * row-accurate MERGE semantics. Partitioned tables write the new
    * files (and cdc files) per partition with honest `partitionValues`.
    * Column-mapped tables (round 13, both modes) merge with the staged
    * files rendered in the PHYSICAL layout — names + parquet field ids —
    * and physical partitionValues keys, per the protocol's writer rules.
    *
    * @return (rows superseded, rows appended). */
  def mergeDelta(spark: SparkSession, path: String, rows: DataFrame,
      keyCols: Seq[String],
      tsMillis: Long = System.currentTimeMillis()): (Long, Long) = {
    import org.apache.spark.sql.Encoders
    val root = Paths.get(path).toAbsolutePath
    val logDir = root.resolve(LogDirName)
    val DeltaState(cur, live, meta, schema, proto) = replayState(spark, root, None)
    val nonce = java.util.UUID.randomUUID() // per-call file names, as in deleteFromDelta
    // round-13: column-mapped tables merge too — the incoming rows keep
    // LOGICAL names end to end; only the staged files (data and cdc)
    // render the PHYSICAL layout (physWriteCol: physical names + field
    // ids), and the commit's partitionValues carry physical keys
    val cdfEnabled = cdfEnabledIn(meta.config)
    val anyMapped = meta.mapped || meta.idMapped
    val physPartCols = meta.partCols.map(c =>
      if (anyMapped) physicalNameOf(schema(c), path) else c)
    require(keyCols.nonEmpty, "mergeDelta: no key columns")
    val ordered = StagedWrite.exactRows(rows, schema, "mergeDelta")
    keyCols.foreach(c => require(schema.fieldNames.contains(c),
      s"mergeDelta: key column '$c' is not a table column"))
    val incoming = ordered.localCheckpoint()
    require(StagedWrite.batchHasRows(incoming, keyCols, n =>
        s"mergeDelta: $n duplicate key(s) in the incoming frame — " +
          "MERGE with duplicate source keys is ambiguous; dedupe first"),
      "mergeDelta: the incoming frame has no rows")
    // the batch check proved the keys distinct
    val keysDf = broadcast(
      incoming.select(keyCols.map(c => col(c).as(s"__gmk_$c")).toIndexedSeq: _*))
    def keyCond(left: DataFrame): org.apache.spark.sql.Column =
      keyCols.map(c => left(c) <=> keysDf(s"__gmk_$c")).reduce(_ && _)

    val nameToAdd = namesOf(root, live)

    // the LIVE pre-images whose key matches an incoming row, with
    // (file, pos) provenance — these rows take the deletion vectors
    val liveDf = assembleRead(spark, root, schema, meta.partCols, live,
      meta.mappingMode, provenance = true)
    // the change data feed reads the matched rows twice more, so only
    // then are they pinned; without it one job collects their positions
    val matched0 = liveDf.join(keysDf, keyCond(liveDf), "left_semi")
    val matched = if (cdfEnabled) matched0.localCheckpoint() else matched0
    val newBlobs: Seq[(String, Array[Byte], Long)] = matched
      .select(col(FileSnapshot.FileCol), col(FileSnapshot.PosCol))
      .as(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .groupByKey(_._1)(Encoders.STRING)
      .mapGroups { (f, it) =>
        val blob = DeletionVectors.serialize(it.map(_._2))
        (f, blob, DeletionVectors.cardinality(blob))
      }(Encoders.tuple(Encoders.STRING, Encoders.BINARY, Encoders.scalaLong))
      .collect().toSeq.sortBy(_._1)
    val superseded = newBlobs.map(_._3).sum
    val merged: Seq[(String, Array[Byte])] = newBlobs.map { case (f, blob, _) =>
      nameToAdd(f).dv match {
        case None    => (f, blob)
        case Some(d) => (f, DeletionVectors.union(dvBlob(root, f, d), blob))
      }
    }
    val dvOut: Option[(String, Seq[Int])] =
      if (merged.isEmpty) None
      else Some(DeletionVectors.writeDvFile(root, merged.map(_._2)))

    // the incoming rows land as fresh data files — per partition, their
    // partitionValues derived from the staged Hive layout; the rows
    // appended are the staged files' footer counts
    val (newFiles, appended) =
      writeFiles(root, incoming.select(
          schema.fields.map(f => physWriteCol(f, meta, path)).toIndexedSeq: _*),
        physPartCols, anyMapped) { (f, i) =>
        f.under(StagedWrite.seededName("merge", s"$path|merge|$cur|$nonce|$i"))
      }

    // CHANGE DATA FEED: the full MERGE classification, per partition
    val cdcEntries: Seq[(String, Long, Map[String, Option[String]])] =
      if (!cdfEnabled) Seq.empty
      else {
        val matchedKeys = broadcast(matched
          .select(keyCols.map(c => col(c).as(s"__gck_$c")).toIndexedSeq: _*)
          .distinct())
        def matchCond(left: DataFrame): org.apache.spark.sql.Column =
          keyCols.map(c => left(c) <=> matchedKeys(s"__gck_$c")).reduce(_ && _)
        val pre = matched.withColumn("_change_type", lit("update_preimage"))
        val post = incoming.join(matchedKeys, matchCond(incoming), "left_semi")
          .withColumn("_change_type", lit("update_postimage"))
        val ins = incoming.join(matchedKeys, matchCond(incoming), "left_anti")
          .withColumn("_change_type", lit("insert"))
        val changes = pre.select((schema.fields.map(f => col(f.name)) :+
            col("_change_type")).toIndexedSeq: _*)
          .unionByName(post.select((schema.fields.map(f => col(f.name)) :+
            col("_change_type")).toIndexedSeq: _*))
          .unionByName(ins.select((schema.fields.map(f => col(f.name)) :+
            col("_change_type")).toIndexedSeq: _*))
        // cdc files render the physical layout, like the data files, and
        // mirror the data layout: partition columns on the cdc ACTION, not
        // in the file — the Hive staging derives them
        writeFiles(root, changes.select((schema.fields.map(f =>
            physWriteCol(f, meta, path)) :+ col("_change_type")).toIndexedSeq: _*),
          physPartCols, anyMapped) { (_, i) =>
          StagedWrite.seededName("_change_data/cdc", s"$path|mergecdc|$cur|$nonce|$i")
        }._1
      }

    // ---- the commit: protocol (DV + cdf features), cdc actions, the
    // superseded files' remove + DV re-add pairs, the new adds
    val dvFeature = if (dvOut.nonEmpty) Set("deletionVectors") else Set.empty[String]
    val protocol =
      if (dvOut.isEmpty && cdcEntries.isEmpty) Seq.empty
      else Seq(featuresProtocol(proto, dvFeature, dvFeature ++
        (if (cdcEntries.nonEmpty) Set("changeDataFeed") else Set.empty)))
    commitDelta(logDir, cur, "MERGE", "graft-delta-merge", tsMillis,
      protocol ++ cdcEntries.map((cdcAction _).tupled) ++
        dvOut.toSeq.flatMap { case (encUuid, offsets) =>
          dvRewrite(root, nameToAdd, merged, encUuid, offsets, tsMillis) } ++
        newFiles.map { case (rel, size, pv) =>
          addAction(rel, pv, size, tsMillis, dataChange = true) })
    (superseded, appended)
  }

  /** Physically reclaim deletion-vector'd rows (the delete lifecycle's
    * compaction half — Delta's `REORG TABLE … APPLY (PURGE)`, and the
    * Iceberg twin of [[IcebergInterop.compactIcebergDeletes]]): ONLY the
    * files carrying DVs are rewritten — their survivor rows land in fresh
    * files under `compacted/`, committed as remove(old entry with its DV)
    * + add(new file, NO deletionVector) per touched file; untouched files
    * are not mentioned and move zero bytes. Subsequent reads plan without
    * the anti-join; prior versions still time-travel to the masked (and
    * pre-delete) views, so superseded files and `.bin` DVs stay on disk
    * for that history (vacuum semantics out of scope).
    *
    * @return (files rewritten, rows reclaimed) — (0, 0) when no live add
    *   carries a deletion vector (no commit). */
  def purgeDeltaDvs(spark: SparkSession, path: String,
      tsMillis: Long = System.currentTimeMillis()): (Int, Long) = {
    val root = Paths.get(path).toAbsolutePath
    val logDir = root.resolve(LogDirName)
    val DeltaState(cur, live, meta, schema, _) = replayState(spark, root, None)
    val nonce = java.util.UUID.randomUUID() // per-call file names, as in deleteFromDelta
    require(!meta.idMapped,
      s"purgeDeltaDvs on the id-mapped table at $path is unsupported " +
        "(survivor rewrites resolve physical names, not field ids)")
    val withDv = live.filter(_.dv.isDefined)
    if (withDv.isEmpty) return (0, 0L)
    val deadRows = withDv.map(_.dv.get.cardinality).sum

    // a mapped table's survivor files must carry PHYSICAL column names
    // like every other data file — the purge reads and writes the
    // physical schema without ever resolving logical names; partition
    // columns are log metadata either way and never touch the files
    val partSet = meta.partCols.toSet
    val dataSchema = StructType(schema.fields.filterNot(f => partSet.contains(f.name)))
    val scanSchema =
      if (meta.mapped) toPhysical(dataSchema, path).asInstanceOf[StructType]
      else dataSchema
    // survivors write PER PARTITION (mixing partitions in one file would
    // make its add's partitionValues a lie): group the touched files by
    // their tuple, and each file's group id fills a column the staged
    // write splits by
    val groups: Seq[(Map[String, Option[String]], Seq[AddFile])] =
      withDv.groupBy(_.partitionValues).toSeq
        .sortBy(_._1.toSeq.sortBy(_._1).toString)
    val grpCol = if (meta.partCols.isEmpty) Nil else Seq("__gp_grp")
    val grpOf = groups.zipWithIndex.flatMap { case ((_, as), gi) => as.map(_.path -> gi) }.toMap
    val survivors = FileSnapshot.scan(spark,
      withDv.map(a => FileSnapshot.DataFile(root.resolve(a.path), Map("__gp_grp" -> grpOf(a.path)))),
      StructType(scanSchema.fields ++ grpCol.map(StructField(_, IntegerType))),
      s"Delta table at $root", fill = grpCol,
      positions = dvPositionsDf(spark, root, withDv))
    // (rel path, size, partitionValues of the survivor file); a fully-
    // deleted input file leaves an empty part, dropped by its footer count
    val newFiles: Seq[(String, Long, Map[String, Option[String]])] =
      writeFiles(root, survivors, grpCol, fieldIds = false) { (_, i) =>
        StagedWrite.seededName("compacted/purge", s"$path|v$cur|$nonce|$i")
      }._1.map { case (rel, size, pv) =>
        (rel, size, pv.get("__gp_grp").fold(Map.empty[String, Option[String]])(
          g => groups(g.get.toInt)._1))
      }

    // a purge rewrites rows, it does not change them: dataChange false
    commitDelta(logDir, cur, "REORG", "graft-delta-dv-purge", tsMillis,
      withDv.map(a => removeAction(a.path, a.partitionValues, tsMillis,
        dataChange = false, a.dv)) ++
        newFiles.map { case (rel, size, pv) =>
          addAction(rel, pv, size, tsMillis, dataChange = false) })
    (withDv.size, deadRows)
  }

  /** Physically remove every file under the table root that the HEAD
    * version no longer references — Delta's VACUUM as an explicit
    * maintenance call (retention 0: this engine's commits carry
    * deterministic timestamps, so an hours-based horizon would be
    * theater; the caller decides WHEN history is disposable). Reclaims
    * the data files superseded by [[purgeDeltaDvs]] / mirror removals /
    * re-exports and the `.bin` deletion vectors their adds once carried
    * — after a purge + vacuum the deleted rows' bytes are GONE from
    * disk, the GDPR end state a logical delete never reaches.
    *
    * `_delta_log/` and any '.'- or '_'-prefixed path segment are never
    * touched (Delta's own VACUUM convention). Time travel below the
    * vacuum horizon becomes unreadable — the protocol's documented
    * VACUUM trade — so pair with [[writeDeltaCheckpoint]] +
    * [[cleanDeltaLog]] to retire that history LOUDLY (a gap error at
    * replay) rather than let it fail on a missing file mid-scan.
    *
    * O(live files + directory listing) driver metadata, zero data reads.
    *
    * @return (files removed, bytes reclaimed); (0, 0) when the table is
    *   already minimal — vacuum is idempotent. */
  def vacuumDelta(spark: SparkSession, path: String): (Int, Long) = {
    val root = Paths.get(path).toAbsolutePath
    val (_, live, _, _) = replayLog(spark, root, None)
    val referenced: Set[Path] = live.flatMap { a =>
      val data = root.resolve(a.path).normalize
      val dvs = a.dv.toSeq.filter(_.storageType != "i").map(d =>
        DeletionVectors.resolveDvFile(root, d.storageType, d.pathOrInlineDv).normalize)
      data +: dvs
    }.toSet
    val walk = Files.walk(root)
    val victims = try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filter { p =>
        val rel = root.relativize(p)
        val segs = (0 until rel.getNameCount).map(rel.getName(_).toString)
        !segs.exists(s => s.startsWith("_") || s.startsWith(".")) &&
          !referenced.contains(p.normalize)
      }.toVector
    finally walk.close()
    val bytes = victims.map(p => scala.util.Try(Files.size(p)).getOrElse(0L)).sum
    victims.foreach(Files.deleteIfExists(_))
    (victims.size, bytes)
  }

  /** The version that was current as of the instant `tsMillis` — Delta's
    * timestamp time travel (`TIMESTAMP AS OF`), resolved the way Delta
    * itself does: each version's instant is its `commitInfo.timestamp`
    * when the commit carries one, else the commit file's modification
    * time (the protocol's documented fallback). Pass the result to
    * [[readDelta]]'s `versionAsOf`. Only still-replayable versions count
    * — JSON commits, plus the advertised checkpoint when
    * [[cleanDeltaLog]] retired its predecessors. A checkpoint-only
    * version carries NO recorded instant (checkpoints have no
    * commitInfo), so its parquet's mtime is used only as a SAFE lower
    * bound — an instant at or past it is certainly at or past the
    * version's true commit time — and is never ordered against the
    * commits' logical timestamps. Instants that cannot be attributed to
    * any replayable version fail loudly rather than silently serving
    * some other version's view. */
  def deltaVersionAt(path: String, tsMillis: Long): Long = {
    val logDir = logDirOf(path)
    val m = mapper
    def commitTs(p: Path): Long = {
      val lines = Files.readAllLines(p).asScala
      lines.iterator.filter(_.trim.nonEmpty).flatMap { line =>
        scala.util.Try(m.readTree(line)).toOption
          .flatMap(n => Option(n.get("commitInfo")))
          .flatMap(ci => Option(ci.get("timestamp")).filter(!_.isNull).map(_.asLong))
      }.nextOption().getOrElse(Files.getLastModifiedTime(p).toMillis)
    }
    val commits = listJsonCommits(logDir)
    val ckptOnly = lastCheckpoint(logDir)
      .filterNot(v => commits.exists(_._1 == v))
      .map { v =>
        val p = logDir.resolve(f"$v%020d.checkpoint.parquet")
        require(Files.isRegularFile(p),
          s"Delta log at $path advertises checkpoint $v but the parquet is missing")
        (v, Files.getLastModifiedTime(p).toMillis)
      }
    require(commits.nonEmpty || ckptOnly.nonEmpty, s"empty Delta log at $path")
    val commitTimes = commits.map { case (v, p) => (v, commitTs(p)) }
    val atOrBelow = commitTimes.filter(_._2 <= tsMillis).map(_._1)
    if (atOrBelow.nonEmpty) atOrBelow.max
    else ckptOnly match {
      case Some((v, mtime)) if tsMillis >= mtime => v
      case _ => throw new IllegalArgumentException(
        s"cannot resolve $tsMillis for the Delta table at $path: the " +
          "instant predates every recorded commit timestamp" +
          ckptOnly.map(c => s" and version ${c._1}'s own instant is " +
            "unrecorded (its JSON history was cleaned)").getOrElse("") +
          " — time-travel by version instead")
    }
  }

  /** Retire the JSON commits an advertised checkpoint makes redundant:
    * replay starts at `_last_checkpoint` and reads only NEWER commits,
    * so everything at or below the checkpoint version is O(history)
    * dead weight — this is Delta's own metadata-retention cleanup
    * (PROTOCOL.md log cleanup). Time travel below the checkpoint
    * afterwards fails with the replay's existing LOUD gap error instead
    * of a missing-file surprise mid-scan. Refuses when no checkpoint is
    * advertised (cleaning would orphan the whole table).
    *
    * @return JSON commits removed (0 = already clean; idempotent). */
  def cleanDeltaLog(path: String): Int = {
    val logDir = logDirOf(path)
    val ckpt = lastCheckpoint(logDir).getOrElse(throw new IllegalArgumentException(
      s"Delta log at $path advertises no checkpoint — write one first " +
        "(writeDeltaCheckpoint); cleaning JSON commits without a covering " +
        "checkpoint would orphan the table"))
    require(Files.isRegularFile(logDir.resolve(f"$ckpt%020d.checkpoint.parquet")),
      s"Delta log at $path advertises checkpoint $ckpt but the parquet is " +
        "missing — refusing to clean the only replayable history")
    val victims = listJsonCommits(logDir).filter(_._1 <= ckpt)
    victims.foreach(c => Files.deleteIfExists(c._2))
    victims.size
  }

  // ------------------------------------------------------ log mechanics

  private val JsonCommit = """(\d{20})\.json""".r

  private def listJsonCommits(logDir: Path): Seq[(Long, Path)] = {
    val s = Files.list(logDir)
    try s.iterator().asScala.toSeq.flatMap { p =>
      p.getFileName.toString match {
        case JsonCommit(v) => Some((v.toLong, p))
        case _             => None
      }
    }.sortBy(_._1)
    finally s.close()
  }

  /** Version advertised by `_last_checkpoint`, or the highest classic
    * checkpoint file present when the pointer is missing/corrupt (the
    * fallback Delta readers use). */
  private def lastCheckpoint(logDir: Path): Option[Long] = {
    val pointer = logDir.resolve("_last_checkpoint")
    val advertised =
      if (!Files.isRegularFile(pointer)) None
      else scala.util.Try {
        val node = mapper.readTree(Files.readAllBytes(pointer))
        require(!node.hasNonNull("parts"), "multi-part checkpoints unsupported")
        node.get("version").asLong
      }.toOption
    advertised.orElse {
      val Ckpt = """(\d{20})\.checkpoint\.parquet""".r
      val s = Files.list(logDir)
      try s.iterator().asScala.toSeq.flatMap(p => p.getFileName.toString match {
        case Ckpt(v) => Some(v.toLong)
        case _       => None
      }).sorted.lastOption
      finally s.close()
    }
  }

  /** Classic single-file parquet checkpoint: rows with nullable `add` /
    * `remove` / `metaData` / `protocol` structs; live adds are the add rows
    * minus remove rows (a classic checkpoint may retain tombstones).
    * Returns (version, live adds, metaData, protocol info) — the
    * protocol surfaces so the replay's mrv-2 gate also covers tables
    * whose protocol lives ONLY in the checkpoint, and so a re-checkpoint
    * restates it instead of downgrading. */
  private def readCheckpoint(spark: SparkSession, logDir: Path, v: Long)
      : (Long, Seq[AddFile], Option[TableMeta], ProtocolInfo) = {
    val p = logDir.resolve(f"$v%020d.checkpoint.parquet")
    require(Files.isRegularFile(p), s"advertised checkpoint $p is missing")
    val df = spark.read.parquet(p.toString)
    val cols = df.columns.toSet

    // the protocol row is MANDATORY (PROTOCOL.md: every checkpoint contains
    // exactly one) — a checkpoint missing it is malformed or adversarial,
    // and skipping the gate (the round-6 shape) would let a column-mapped /
    // deletion-vector table be silently misread. Same acceptance logic as
    // the JSON path: mrv<=2, or mrv==3 with only benign reader features —
    // the old mrv<=1 gate also falsely rejected readable mrv-2 tables.
    require(cols.contains("protocol"),
      s"checkpoint $p carries no protocol column — malformed checkpoint")
    val protoRows = df.where(col("protocol").isNotNull).select("protocol.*").collect()
    require(protoRows.nonEmpty,
      s"checkpoint $p carries no protocol row — malformed checkpoint")
    def feats(r: org.apache.spark.sql.Row, f: String): Set[String] =
      if (!r.schema.fieldNames.contains(f)) Set.empty
      else Option(r.getAs[scala.collection.Seq[String]](f))
        .map(_.toSet).getOrElse(Set.empty)
    protoRows.foreach { r =>
      checkProtocolValues(r.getAs[Int]("minReaderVersion"),
        feats(r, "readerFeatures"), p.toString)
    }
    val maxMrv = protoRows.map(_.getAs[Int]("minReaderVersion")).max
    val proto = ProtocolInfo(maxMrv,
      protoRows.map(r => if (r.schema.fieldNames.contains("minWriterVersion") &&
          !r.isNullAt(r.fieldIndex("minWriterVersion")))
        r.getAs[Int]("minWriterVersion") else 1).max,
      protoRows.flatMap(feats(_, "readerFeatures")).toSet,
      protoRows.flatMap(feats(_, "writerFeatures")).toSet)
    // column mapping hides in the checkpointed metaData configuration too —
    // the JSON-path check alone misses a table whose metaData only lives in
    // the checkpoint. At mrv<=1 an absent configuration field is benign
    // (column mapping cannot exist below reader version 2); at EXACTLY
    // mrv 2 — the version that exists FOR column mapping — an absent
    // configuration makes the table unverifiable, so refuse rather than
    // risk reading col-<uuid> physical columns as all-null logical ones.
    // (mrv 3 signals column mapping via readerFeatures, already gated.)
    val mdHasConfig = df.schema.fields.find(_.name == "metaData")
      .exists(_.dataType match {
        case st: StructType => st.fieldNames.contains("configuration")
        case _              => false
      })
    require(maxMrv != 2 || mdHasConfig || !cols.contains("metaData"),
      s"checkpoint $p declares reader version 2 (the column-mapping version) " +
        "but its metaData carries no configuration field — cannot verify the " +
        "table is not column-mapped")
    if (cols.contains("metaData") && mdHasConfig) {
      val mdRows = df.where(col("metaData").isNotNull)
        .select(col("metaData.configuration")).collect()
      mdRows.foreach { r =>
        val cfg = Option(r.getMap[String, String](0))
        // a NULL configuration value is as unverifiable as an absent field
        // at the column-mapping version
        require(maxMrv != 2 || cfg.nonEmpty,
          s"checkpoint $p declares reader version 2 but a metaData row's " +
            "configuration is null — cannot verify the table is not column-mapped")
        checkMappingMode(cfg.flatMap(_.get("delta.columnMapping.mode")), p.toString)
      }
    }
    val removed: Set[String] =
      if (!cols.contains("remove")) Set.empty
      else df.where(col("remove").isNotNull).select(col("remove.path"))
        .collect().map(r => decodePath(r.getString(0))).toSet
    // a checkpointed add may carry a deletionVector struct (DV tables
    // checkpoint like any other) — dropping it would silently resurrect
    // the deleted rows, so it rides into AddFile like the JSON path's
    val addHasDv = df.schema.fields.find(_.name == "add").exists(_.dataType match {
      case st: StructType => st.fieldNames.contains("deletionVector")
      case _              => false
    })
    val addHasStats = df.schema.fields.find(_.name == "add").exists(_.dataType match {
      case st: StructType => st.fieldNames.contains("stats")
      case _              => false
    })
    val adds =
      if (!cols.contains("add")) Seq.empty
      else df.where(col("add").isNotNull)
        .select(col("add.path"), col("add.partitionValues"),
          (if (addHasDv) col("add.deletionVector")
           else lit(null).cast("string")).as("dv"),
          (if (addHasStats) col("add.stats")
           else lit(null).cast("string")).as("stats"))
        .collect().map { r =>
          val pv = Option(r.getMap[String, String](1))
            .map(_.toMap.map { case (k, vv) => k -> Option(vv) })
            .getOrElse(Map.empty[String, Option[String]])
          val dv =
            if (!addHasDv || r.isNullAt(2)) None
            else {
              val d = r.getStruct(2)
              def fld[A](n: String): Option[A] = {
                val i = d.fieldIndex(n)
                if (d.isNullAt(i)) None else Some(d.getAs[A](n))
              }
              Some(DvDesc(
                fld[String]("storageType").getOrElse(throw new IllegalArgumentException(
                  s"checkpoint $p: deletionVector lacks storageType")),
                fld[String]("pathOrInlineDv").getOrElse(throw new IllegalArgumentException(
                  s"checkpoint $p: deletionVector lacks pathOrInlineDv")),
                fld[Int]("offset"),
                fld[Int]("sizeInBytes").getOrElse(throw new IllegalArgumentException(
                  s"checkpoint $p: deletionVector lacks sizeInBytes")),
                fld[Long]("cardinality").getOrElse(throw new IllegalArgumentException(
                  s"checkpoint $p: deletionVector lacks cardinality"))))
            }
          AddFile(decodePath(r.getString(0)), pv, dv,
            if (r.isNullAt(3)) None else Some(r.getString(3)))
        }.filterNot(a => removed.contains(a.path)).toSeq
    val mdHasId = df.schema.fields.find(_.name == "metaData").exists(_.dataType match {
      case st: StructType => st.fieldNames.contains("id")
      case _              => false
    })
    val meta =
      if (!cols.contains("metaData")) None
      else df.where(col("metaData").isNotNull)
        .select(col("metaData.schemaString"), col("metaData.partitionColumns"),
          (if (mdHasId) col("metaData.id") else lit(null).cast("string")).as("id"),
          (if (mdHasConfig) col("metaData.configuration")
           else lit(null).cast("map<string,string>")).as("cfg"))
        .collect().lastOption.map { r =>
          TableMeta(r.getString(0),
            Option(r.getSeq[String](1)).map(_.toSeq).getOrElse(Seq.empty),
            Option(r.getString(2)),
            Option(r.getMap[String, String](3)).map(_.toMap)
              .getOrElse(Map.empty[String, String]))
        }
    (v, adds, meta, proto)
  }

  private def checkProtocol(p: JsonNode, path: String): Unit =
    checkProtocolValues(
      Option(p.get("minReaderVersion")).map(_.asInt).getOrElse(1),
      Option(p.get("readerFeatures"))
        .map(_.elements().asScala.map(_.asText).toSet).getOrElse(Set.empty),
      path)

  /** One acceptance rule for BOTH protocol sources (JSON commit and parquet
    * checkpoint — divergent gates were round-6 advice): mrv 1-2 are plain
    * parquet reads; mrv 3 = table features, where every listed reader
    * feature must be one this reader genuinely honors
    * (`deletionVectors` IS honored since round 10 — [[assembleRead]]
    * anti-joins the decoded positions out — and so is `columnMapping`:
    * name-mode resolution via [[toPhysical]], with id-mode still refused
    * at the metaData gate; anything unknown — v2Checkpoint et al. — must
    * fail, not silently corrupt). */
  private def checkProtocolValues(mrv: Int, readerFeatures: Set[String], where: String): Unit = {
    if (mrv >= 3) {
      val supported = Set("timestampNtz", "vacuumProtocolCheck", "deletionVectors",
        "columnMapping")
      val unsupported = readerFeatures.diff(supported)
      require(mrv == 3 && unsupported.isEmpty,
        s"Delta table $where requires reader version $mrv with reader features " +
          s"$unsupported — unsupported by this reader")
    } else require(mrv <= 2,
      s"Delta table $where requires reader version $mrv — unsupported")
  }


  // Delta add.path is a RELATIVE URI: encode each path segment, keep '/'
  private def encodePath(rel: String): String =
    rel.split('/').map(seg =>
      java.net.URLEncoder.encode(seg, "UTF-8").replace("+", "%20")).mkString("/")

  /** RFC-3986 percent-decoding ONLY. NOT URLDecoder: that is the
    * form-encoding codec, which turns a literal '+' into a space — and
    * '+' is a literal plus both in Delta add.path URIs (delta-spark
    * leaves it unencoded) and in Hive partition directory names, so
    * URLDecoder would silently corrupt any path or partition value
    * containing one. Malformed %-sequences pass through untouched. */
  private def percentDecode(s: String): String = {
    if (!s.contains('%')) return s
    def escAt(i: Int): Boolean =
      s.charAt(i) == '%' && i + 2 < s.length &&
        Character.digit(s.charAt(i + 1), 16) >= 0 &&
        Character.digit(s.charAt(i + 2), 16) >= 0
    val out = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      if (escAt(i)) {
        out.write(Character.digit(s.charAt(i + 1), 16) * 16 +
          Character.digit(s.charAt(i + 2), 16))
        i += 3
      } else {
        // copy the whole literal run at once (keeps surrogate pairs intact)
        var j = i + 1
        while (j < s.length && !escAt(j)) j += 1
        out.write(s.substring(i, j).getBytes("UTF-8"))
        i = j
      }
    }
    new String(out.toByteArray, "UTF-8")
  }

  /** Percent-decode an action path. Scheme-qualified URIs (`s3://…`,
    * `file:///…` — the protocol allows them for shallow clones) reference
    * storage this local reader cannot reach; resolving one against the
    * table root would silently read the WRONG local path, so fail loudly
    * instead. Plain absolute paths resolve correctly via `Path.resolve`. */
  private def decodePath(p: String): String = {
    require(!p.matches("^[a-zA-Z][a-zA-Z0-9+.\\-]*://.*"),
      s"Delta action references a scheme-qualified URI path ($p) — " +
        "shallow-clone/external-storage paths are unsupported by this reader")
    percentDecode(p)
  }

  /** `<col>=<v>` directory segments of a relative file path, in partCols
    * order; Spark/Hive's `__HIVE_DEFAULT_PARTITION__` marker maps to null. */
  private def partitionValuesOf(rel: String, partCols: Seq[String]): Seq[(String, Option[String])] = {
    val fromPath = StagedWrite.hivePartitions(rel).toMap
    partCols.map(c => c -> fromPath.getOrElse(c, None))
  }

  /** The one local recursive delete, for the harness queries. */
  private[graft] def deleteRecursively(p: Path): Unit = StagedWrite.deleteRecursively(p)
}
