package graft.store

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{AsOfJoin, Latest, PivotVector}

/** The API-parity facade: every public operation of the reference
  * (/root/reference/src/registry/feature_registry.py FeatureRegistry +
  * /root/reference/src/serving/feature_server.py FeatureServer) re-expressed
  * over two tables — a small typed `registry` catalog (Dataset[Feature]) and
  * the EAV `feature_values` fact log (DataFrame) — so a reference user can
  * switch and keep their call shapes.
  *
  * Design split (SURVEY.md §7): the *catalog* is tiny and invariant-heavy —
  * it lives driver-side as an immutable map (exactly the reference's dict,
  * feature_registry.py:248) and broadcasts into queries; the *fact log* is
  * the scale axis and is only ever touched through distributed operators
  * (Latest / AsOfJoin / PivotVector). `now` is always an explicit parameter
  * (determinism — SURVEY.md §5.4; the reference's utcnow() calls are the
  * non-reproducible thing we deliberately fix).
  *
  * Thread-safety/caching (LRU/TTL) are serving-tier concerns and out of
  * scope (SURVEY.md §2 non-relational) — this class is the engine.
  */
class FeatureStore(val spark: SparkSession) {

  // ---- state: catalog driver-side; facts/audit as DataFrames ------------

  private var features0: Map[String, Feature] = Map.empty
  private var groups0: Map[String, FeatureGroup] = Map.empty

  /** Registry staged as a DATASET by [[FeatureStore.loadTx]]/load (round-6
    * verdict #7): the load path performs no driver round-trip at all — the
    * catalog map hydrates lazily, on the first operation that actually
    * needs driver-side catalog state. A store loaded only to query its
    * fact log never pays the materialization. */
  private var pendingRegistry: Option[Dataset[Feature]] = None
  // ALL catalog-state access shares this monitor: the serving tier
  // (store.FeatureServer) reads concurrently by design, and an
  // unsynchronized lazy hydration would let a reader observe a
  // half-hydrated catalog — resolving a registered feature as missing and
  // CACHING that wrong answer for the TTL (round-7 review). Hydration
  // builds into a local map and publishes with one assignment.
  private def hydrateRegistry(): Unit = synchronized {
    pendingRegistry.foreach { ds =>
      // toLocalIterator, not collect: driver memory bounded by the largest
      // partition rather than the whole registry. The staged Dataset is
      // cleared only AFTER the build succeeds — a transient Spark failure
      // mid-hydration must leave the registry still staged for retry, not
      // silently resolve every feature as missing forever (round-7 review)
      val b = scala.collection.mutable.Map.empty[String, Feature]
      ds.toLocalIterator().forEachRemaining(f => b += f.feature_id -> f)
      features0 = features0 ++ b
      pendingRegistry = None
      clearStagedLookups()
    }
  }
  private[store] def stageRegistry(ds: Dataset[Feature]): Unit = synchronized {
    hydrateRegistry() // a second staged load must not shadow earlier state
    pendingRegistry = Some(ds)
    clearStagedLookups()
  }

  // What the batch lookups have read from the staged registry, by id and
  // by name. The staged Dataset is a fixed TxTable/parquet snapshot, so an
  // answer stays valid until stageRegistry/hydrateRegistry replace it;
  // without the memo every batch read starts with a Spark job. Hits are
  // bounded by the registry; misses come from callers (the serving tier
  // included), so one is kept only while a map holds fewer than
  // StagedMissCap entries, and an unkept miss is read again next time.
  private val stagedById = scala.collection.mutable.Map.empty[String, Option[Feature]]
  private val stagedByName = scala.collection.mutable.Map.empty[String, Seq[Feature]]
  private def clearStagedLookups(): Unit = { stagedById.clear(); stagedByName.clear() }
  private def remember[V](memo: scala.collection.mutable.Map[String, V], key: String, v: V, hit: Boolean): Unit =
    if (hit || memo.size < FeatureStore.StagedMissCap) memo(key) = v
  /** Test hook: entries in the staged-lookup memo, (by id, by name). */
  private[graft] def stagedLookupSizesForTest: (Int, Int) = synchronized { (stagedById.size, stagedByName.size) }

  /** Test hook: whether the staged registry is still unmaterialized. */
  private[graft] def registryPendingForTest: Boolean = synchronized { pendingRegistry.nonEmpty }
  /** Test hook: whether the staged groups table is still unmaterialized. */
  private[graft] def groupsPendingForTest: Boolean = synchronized { pendingGroups.nonEmpty }

  private def features: Map[String, Feature] = synchronized { hydrateRegistry(); features0 }
  private def features_=(m: Map[String, Feature]): Unit = synchronized {
    hydrateRegistry(); features0 = m
  }

  /** The catalog as a Dataset WITHOUT forcing hydration (round-7 verdict
    * #9): a purely staged registry is returned as staged; local CRUD state
    * (or the mixed staged+mutated case) materializes from the hydrated
    * map. Batch paths consume THIS — the driver map stays a serving-tier
    * concern. */
  private def catalogDS: Dataset[Feature] = synchronized {
    import spark.implicits._
    pendingRegistry match {
      case Some(ds) if features0.isEmpty => ds
      case _ => hydrateRegistry(); spark.createDataset(features0.values.toSeq)
    }
  }

  /** Bounded catalog lookup for the batch read paths: resolves ONLY the
    * requested ids — against the driver map when hydrated, else by a
    * filtered collect of the staged Dataset (|ids| rows cross the driver,
    * never the registry), memoized so a repeated id costs no job. Staged
    * rows win id collisions, matching [[hydrateRegistry]]'s
    * `features0 ++ staged` merge order. */
  private[graft] def lookupFeatures(ids: Seq[String]): Map[String, Feature] = synchronized {
    val local = ids.flatMap(id => features0.get(id).map(id -> _)).toMap
    pendingRegistry match {
      case None => local
      case Some(ds) =>
        val missing = ids.distinct.filterNot(stagedById.contains)
        if (missing.nonEmpty) {
          val found = ds.filter(col("feature_id").isin(missing: _*)).collect()
            .map(f => f.feature_id -> f).toMap
          missing.foreach(id => remember(stagedById, id, found.get(id), found.contains(id)))
        }
        local ++ ids.flatMap(id => stagedById.get(id).flatten.map(id -> _))
    }
  }

  /** Bounded by-name lookup (all versions of the requested names) — same
    * no-hydration rule and memo as [[lookupFeatures]]. */
  private[graft] def lookupByNames(names: Seq[String]): Seq[Feature] = synchronized {
    val local = features0.values.filter(f => names.contains(f.name))
      .map(f => f.feature_id -> f).toMap
    val staged = pendingRegistry.fold(Seq.empty[Feature]) { ds =>
      val missing = names.distinct.filterNot(stagedByName.contains)
      if (missing.nonEmpty) {
        val found = ds.filter(col("name").isin(missing: _*)).collect().toSeq.groupBy(_.name)
        missing.foreach(n => remember(stagedByName, n, found.getOrElse(n, Seq.empty), found.contains(n)))
      }
      names.distinct.flatMap(n => stagedByName.getOrElse(n, Seq.empty))
    }
    (local ++ staged.map(f => f.feature_id -> f)).values.toSeq
  }

  // groups stage/hydrate exactly like the registry (same no-round-trip load
  // contract, same monitor, same publish-after-build rule)
  private var pendingGroups: Option[Dataset[FeatureGroup]] = None
  private def hydrateGroups(): Unit = synchronized {
    pendingGroups.foreach { ds =>
      val b = scala.collection.mutable.Map.empty[String, FeatureGroup]
      ds.toLocalIterator().forEachRemaining(g => b += g.group_id -> g)
      groups0 = groups0 ++ b
      pendingGroups = None
    }
  }
  private[store] def stageGroups(ds: Dataset[FeatureGroup]): Unit = synchronized {
    hydrateGroups()
    pendingGroups = Some(ds)
  }
  private def groups: Map[String, FeatureGroup] = synchronized { hydrateGroups(); groups0 }
  private def groups_=(m: Map[String, FeatureGroup]): Unit = synchronized {
    hydrateGroups(); groups0 = m
  }

  /** EAV fact schema — FIXTURES.md A2 (typed value columns, choice (a) of
    * SURVEY.md §1.3), covering all 11 reference value types
    * (FeatureValueType, feature_registry.py:29-42):
    *   int32/int64/float32/float64 -> value_double
    *   string                      -> value_string
    *   bool                        -> value_bool
    *   timestamp                   -> value_timestamp
    *   array_int/array_float/embedding -> value_array_double
    *   array_string                -> value_array_string
    * One column per storage class (not per type) keeps the fact log narrow;
    * `value_type` is the tag that picks the live column.
    */
  val valuesSchema: StructType = StructType(Seq(
    StructField("feature_id", StringType),
    StructField("entity_id", StringType),
    StructField("entity_type", StringType),
    StructField("feature_name", StringType),
    StructField("value_type", StringType),
    StructField("value_double", DoubleType),
    StructField("value_string", StringType),
    StructField("value_bool", BooleanType),
    StructField("value_timestamp", TimestampType),
    StructField("value_array_double", ArrayType(DoubleType)),
    StructField("value_array_string", ArrayType(StringType)),
    StructField("event_timestamp", TimestampType),
    StructField("created_timestamp", TimestampType)))

  /** value_type -> the storage column that must be non-null for it. */
  val storageColFor: Map[String, String] = Map(
    "int32" -> "value_double", "int64" -> "value_double",
    "float32" -> "value_double", "float64" -> "value_double",
    "string" -> "value_string",
    "bool" -> "value_bool",
    "timestamp" -> "value_timestamp",
    "array_int" -> "value_array_double", "array_float" -> "value_array_double",
    "embedding" -> "value_array_double",
    "array_string" -> "value_array_string")

  private var values: DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], valuesSchema)

  def registryFeatures: Seq[Feature] = features.values.toSeq
  def valuesDF: DataFrame = values
  /** All feature groups (B4) — the reference's feature_groups dict. */
  def featureGroups: Seq[FeatureGroup] = groups.values.toSeq
  def featureGroup(gid: String): Option[FeatureGroup] = groups.get(gid)

  // ---- audit as an append-only TABLE ------------------------------------
  // The reference accumulates audit records in a Python list
  // (feature_registry.py:587-594); the engine-level analogue (SURVEY.md
  // §1.1) is an append-only audit table: records buffer briefly on the
  // driver (a read API call logs O(features) records, not O(rows)) and
  // flush into a distributed DataFrame, so a long-lived store never holds
  // an unbounded driver Seq and the audit trail persists/travels with the
  // other two tables through saveTx/loadTx.

  private var pendingAudit: Vector[AuditRecord] = Vector.empty
  private var auditTable: DataFrame = {
    import spark.implicits._
    spark.emptyDataset[AuditRecord].toDF()
  }
  private var auditFlushes = 0

  private def flushAudit(): Unit = if (pendingAudit.nonEmpty) {
    import spark.implicits._
    auditTable = auditTable.unionByName(spark.createDataset(pendingAudit).toDF())
    pendingAudit = Vector.empty
    auditFlushes += 1
    // same lineage discipline as `values`: the union chain grows per flush
    if (auditFlushes % lineageCheckpointEvery == 0) auditTable = auditTable.localCheckpoint()
  }

  /** The audit trail as a distributed DataFrame (schema = AuditRecord). */
  def auditDF: DataFrame = { flushAudit(); auditTable }

  /** Reference-parity inspection API (collects — audit trails are small
    * relative to the fact log; batch analytics should use [[auditDF]]). */
  def audit: Seq[AuditRecord] = {
    import spark.implicits._
    auditDF.as[AuditRecord].collect().toSeq
  }

  private[graft] def restoreFeature(f: Feature): Unit = features += f.feature_id -> f
  private[store] def restoreValues(df: DataFrame): Unit = values = df
  private[store] def restoreGroups(df: DataFrame): Unit = {
    import spark.implicits._
    stageGroups(df.as[FeatureGroup]) // lazy, like the registry
  }
  private[store] def restoreAudit(df: DataFrame): Unit = {
    import spark.implicits._
    auditTable = df.as[AuditRecord].toDF()
    pendingAudit = Vector.empty
  }

  // ---- registry CRUD (B4) ----------------------------------------------

  /** register_feature — feature_registry.py:253-330. Validates vocab + PHI
    * constraint (:286-291), generates the deterministic id (:617-625),
    * starts in draft. */
  def registerFeature(
      name: String,
      version: String,
      schema: FeatureSchemaMeta,
      source: FeatureSourceMeta,
      owner: String,
      now: Timestamp,
      phiLevel: String = "none",
      accessRoles: Seq[String] = Seq.empty,
      tags: Map[String, String] = Map.empty,
      retentionDays: Int = 2555): Either[String, Feature] = {
    if (!Vocab.ValueTypes.contains(schema.value_type))
      return Left(s"invalid value_type: ${schema.value_type}")
    if (!Vocab.SourceTypes.contains(source.source_type))
      return Left(s"invalid source_type: ${source.source_type}")
    if (!Vocab.PhiLevels.contains(phiLevel))
      return Left(s"invalid phi_level: $phiLevel") // feature_registry.py:286-287
    if (phiLevel != "none" && accessRoles.isEmpty)
      return Left("PHI features require access_roles") // :290-291
    val id = featureId(name, version, schema.entity_type)
    if (features.contains(id)) return Left(s"feature already registered: $id")
    val f = Feature(id, name, version, schema, source, "draft", owner, now, now,
      tags, Seq.empty, phiLevel, accessRoles, retentionDays)
    features += id -> f
    Right(f)
  }

  /** "feat_" + 16 hex of sha256(name:version:entityType) — computed with the
    * same expression the distributed path uses (graft.functions.Fns). */
  def featureId(name: String, version: String, entityType: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$name:$version:$entityType".getBytes("UTF-8"))
    "feat_" + d.map("%02x".format(_)).mkString.take(16)
  }

  /** activate_feature — feature_registry.py:332-342 (draft -> active). */
  def activateFeature(id: String, now: Timestamp): Either[String, Feature] =
    transition(id, now, from = Set("draft"), to = "active")

  /** deprecate_feature — feature_registry.py:344-355. */
  def deprecateFeature(id: String, now: Timestamp): Either[String, Feature] =
    transition(id, now, from = Set("active", "draft"), to = "deprecated")

  private def transition(id: String, now: Timestamp, from: Set[String], to: String): Either[String, Feature] =
    features.get(id) match {
      case None => Left(s"unknown feature: $id")
      case Some(f) if !from.contains(f.status) => Left(s"illegal transition ${f.status} -> $to")
      case Some(f) =>
        val nf = f.copy(status = to, updated_at = now)
        features += id -> nf
        Right(nf)
    }

  /** create_feature_group — feature_registry.py:357-398: members must exist
    * and share the group's entity_type (:367-375). */
  def createFeatureGroup(
      name: String,
      entityType: String,
      memberIds: Seq[String],
      description: String,
      owner: String,
      now: Timestamp): Either[String, FeatureGroup] = {
    val missing = memberIds.filterNot(features.contains)
    if (missing.nonEmpty) return Left(s"unknown features: ${missing.mkString(",")}")
    val wrongType = memberIds.filter(id => features(id).schema.entity_type != entityType)
    if (wrongType.nonEmpty) return Left(s"entity_type mismatch: ${wrongType.mkString(",")}")
    val gid = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s"$name:$entityType".getBytes("UTF-8"))
      "grp_" + d.map("%02x".format(_)).mkString.take(12)
    }
    if (groups.contains(gid)) return Left(s"group already exists: $gid")
    val g = FeatureGroup(gid, name, entityType, memberIds, description, owner, now)
    groups += gid -> g
    Right(g)
  }

  /** list_features — feature_registry.py:537-556 (conjunctive metadata
    * filter, C1). */
  def listFeatures(
      category: Option[String] = None,
      entityType: Option[String] = None,
      status: Option[String] = None,
      phiLevel: Option[String] = None): Seq[Feature] =
    features.values.filter { f =>
      category.forall(_ == f.schema.category) &&
        entityType.forall(_ == f.schema.entity_type) &&
        status.forall(_ == f.status) &&
        phiLevel.forall(_ == f.phi_level)
    }.toSeq

  // ---- ingest (B1) ------------------------------------------------------

  /** ingest_feature_value — feature_registry.py:400-441: reject unless the
    * feature is ACTIVE (:423-424) and the value matches the declared type
    * (:427-428); stamp created_timestamp (:435, explicit for determinism).
    * Returns the number of accepted rows; rejected rows are dropped (the
    * distributed analogue of raising per row — poison rows route, not
    * throw).
    *
    * Per-type validation mirrors _validate_value (feature_registry.py:
    * 558-577) with ONE pinned strictening: the reference skips validation
    * for TIMESTAMP and ARRAY_STRING entirely (absent from its type_checks
    * dict) and accepts None for every type; here every value_type requires
    * its declared storage column ([[storageColFor]]) to be non-null, and a
    * row carrying a value in the WRONG storage column is rejected, not
    * coerced. One documented LOOSENING vs the reference: int32/int64
    * values arrive through the double storage column, so a fractional
    * double tagged int passes here where the reference's isinstance(v,
    * int) would raise — integral-ness is the ingester's contract.
    *
    * Input df columns: entity_id, feature_name, event_timestamp, and
    * whichever of value_double / value_string / value_bool /
    * value_timestamp / value_array_double / value_array_string the batch
    * carries (missing storage columns are treated as all-null).
    */
  def ingestValues(df: DataFrame, featureIdForName: Map[String, String], createdTs: Timestamp): Long = {
    if (featureIdForName.isEmpty) return 0L
    val idMap = typedLit(featureIdForName) // caller-provided, small: stays a literal
    // the active-gate + per-feature (value_type, entity_type) resolve by a
    // BROADCAST JOIN against the catalog Dataset (round-7 verdict #9) — no
    // driver hydration, no typedLit of the whole registry; the inner join
    // IS the "registered and active" rejection
    val activeMeta = broadcast(catalogDS
      .where(col("status") === "active")
      .select(col("feature_id"),
        col("schema.value_type").as("value_type"),
        col("schema.entity_type").as("entity_type")))

    val storageCols = valuesSchema.fields.filter(_.name.startsWith("value_")).filterNot(_.name == "value_type")
    val withAllCols = storageCols.foldLeft(df) { (acc, f) =>
      if (acc.columns.contains(f.name)) acc
      else acc.withColumn(f.name, lit(null).cast(f.dataType))
    }
    // declared type's storage column non-null, every other storage column null
    val typeOk = storageColFor
      .groupBy(_._2).map { case (storeCol, types) =>
        col("value_type").isin(types.keys.toSeq: _*) &&
          col(storeCol).isNotNull &&
          storageCols.map(_.name).filterNot(_ == storeCol).map(col(_).isNull).reduce(_ && _)
      }
      .reduce(_ || _)

    val withMeta = withAllCols
      .withColumn("feature_id", idMap(col("feature_name")))
      .where(col("feature_id").isNotNull) // not in the caller's map -> reject
      // a null event_timestamp row would count as accepted yet be invisible
      // to every as-of read (NULL <= asOf drops it) and immortal under
      // retention — reject it like any other malformed row
      .where(col("event_timestamp").isNotNull)
      // the registry is authoritative for the tag columns — caller-supplied
      // ones are discarded exactly as the old withColumn overwrite did
      .drop("value_type", "entity_type")
      .join(activeMeta, Seq("feature_id")) // not registered+active -> reject
      .where(typeOk)
      .withColumn("created_timestamp", lit(createdTs))
      .select(valuesSchema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)

    // count the BATCH, not the whole log: before/after counts recompute the
    // ever-growing union lineage on every ingest (O(n²) across ingests)
    val accepted = withMeta.count()
    if (accepted == 0L) return 0L // nothing to append; keep the lineage flat
    values = values.unionByName(withMeta)
    noteMutation()
    accepted
  }

  /** Every `lineageCheckpointEvery` mutations, pin `values` with a
    * localCheckpoint: the fact log is otherwise a lazy unionByName chain
    * whose plan grows per ingest and gets recomputed from scratch by every
    * read. (On a cluster with a checkpoint dir, checkpoint() adds
    * fault-tolerance; the lakehouse-backed store makes this moot by
    * persisting between batches.)
    */
  private var mutationsSinceCheckpoint = 0
  private val lineageCheckpointEvery = 8
  private def noteMutation(): Unit = {
    mutationsSinceCheckpoint += 1
    if (mutationsSinceCheckpoint >= lineageCheckpointEvery) {
      values = values.localCheckpoint()
      mutationsSinceCheckpoint = 0
    }
  }

  // ---- reads (A1/A2/A3, C3, D1/D2, E6, B3) ------------------------------

  // driver-side twin of graft.operators.Rbac.allowed (the distributed
  // Column form) — keep the two in LOCKSTEP when the access rule evolves:
  // allowed iff phi_level == none OR roles overlap (feature_registry.py:469-475)
  private def rbacCheck(f: Feature, userRoles: Seq[String]): Boolean =
    f.phi_level == "none" || f.access_roles.exists(userRoles.contains)

  private def logAccess(action: String, featureId: String, entityId: String, user: String,
      asOf: Option[Timestamp], now: Timestamp): Unit =
    pendingAudit :+= AuditRecord(now, action, featureId, entityId, user, asOf)

  /** get_feature_value — feature_registry.py:443-496: RBAC gate (deny ->
    * audit + None here, not an exception — the engine masks, D2), as-of
    * filter + argmax (A1), audit on success.
    *
    * CONTRACT: this is a single-scalar POINT READ mirroring the reference
    * API — the collect() is one row by construction. Never compose it into
    * a batch path (a loop over entities = a full scan per call); batch
    * reads go through [[getFeatureVector]] / [[getPointInTimeFeatures]].
    */
  def getFeatureValue(
      entityId: String,
      featureId: String,
      asOf: Timestamp,
      userId: String,
      userRoles: Seq[String],
      now: Timestamp): Option[Double] = {
    val f = features.getOrElse(featureId, return None)
    if (!rbacCheck(f, userRoles)) {
      logAccess("access_denied", featureId, entityId, userId, Some(asOf), now)
      return None
    }
    logAccess("access", featureId, entityId, userId, Some(asOf), now)
    Latest
      .latestAgg(
        values.where(col("feature_id") === featureId && col("entity_id") === entityId),
        keys = Seq("feature_id"), tsCol = "event_timestamp", tieCol = "created_timestamp",
        payloadCols = Seq("value_double"), asOf = Some(lit(asOf)))
      .select("value_double")
      .collect().headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Double]))
  }

  /** get_feature_vector — feature_registry.py:498-535 (EP3): as-of pivot to
    * a wide vector with deny->null masking (D2) per feature, over a
    * DISTRIBUTED spine of entity ids. This is the flagship read path and is
    * collect-free by construction: the requested entities never visit the
    * driver — they semi-join the fact log (so only requested entities'
    * facts are aggregated) and left-anchor the pivot (so an entity with no
    * qualifying facts, or with every feature denied, still yields a row of
    * explicit nulls). At scale the spine is millions of ids; an `isin`
    * IN-list or a collected LocalRelation would bottleneck the driver and
    * bloat the plan, so neither appears here (asserted by PlanAuditSpec).
    * A repeated feature id is refused with an IllegalArgumentException (it
    * would name two output columns alike).
    *
    * @param entities one-column DataFrame of entity ids (first column is
    *   taken as the id regardless of name)
    */
  def getFeatureVector(
      entities: DataFrame,
      featureIds: Seq[String],
      asOf: Timestamp,
      userId: String,
      userRoles: Seq[String],
      now: Timestamp): DataFrame = {
    FeatureStore.requireDistinct("getFeatureVector", "feature id", featureIds, spark)
    // bounded lookup of ONLY the requested ids — the batch read path never
    // hydrates the whole catalog onto the driver (round-7 verdict #9)
    val meta = lookupFeatures(featureIds)
    val known = featureIds.filter(meta.contains)
    val (allowed, denied) = known.partition(id => rbacCheck(meta(id), userRoles))
    // audit carries one record per feature; the entity set stays
    // distributed, so the record points at the spine rather than
    // enumerating ids (enumerating would force a collect)
    denied.foreach(id => logAccess("access_denied", id, "<spine>", userId, Some(asOf), now))
    allowed.foreach(id => logAccess("access", id, "<spine>", userId, Some(asOf), now))

    val requested = entities.select(entities.columns.headOption.toSeq.map(col): _*)
      .toDF("entity_id")
    val base = values
      .join(requested, Seq("entity_id"), "left_semi")
      .where(col("event_timestamp") <= lit(asOf))
    val vec = PivotVector.toVector(
      base.where(col("feature_id").isin(allowed: _*)),
      entityCol = "entity_id", nameCol = "feature_id", valueCol = "value_double",
      tsCol = "event_timestamp", tieCol = "created_timestamp", names = allowed)
    // the reference returns one vector per REQUESTED entity
    // (get_feature_vector, feature_registry.py:498-535)
    val anchored = requested.join(vec, Seq("entity_id"), "left")
    // denied/unknown features still appear as explicit null columns
    // (explicit-null contract, feature_server.py:521-527 + deny->null :526-528)
    (denied ++ featureIds.filterNot(known.contains))
      .foldLeft(anchored)((df, id) => df.withColumn(id, lit(null).cast("double")))
      .select((col("entity_id") +: featureIds.map(col)).toSeq: _*)
  }

  /** Seq-of-ids convenience form (the reference's exact call shape,
    * feature_registry.py:498): delegates to the DataFrame-spine overload —
    * the id list becomes a tiny local frame that broadcast-joins, so both
    * forms share one plan shape and one audit/masking rule. */
  def getFeatureVector(
      entityIds: Seq[String],
      featureIds: Seq[String],
      asOf: Timestamp,
      userId: String,
      userRoles: Seq[String],
      now: Timestamp): DataFrame = {
    import spark.implicits._
    getFeatureVector(entityIds.toDF("entity_id"), featureIds, asOf, userId, userRoles, now)
  }

  /** get_point_in_time_features — feature_server.py:355-408 (EP2, the
    * flagship A3): left-enrich a spine with `{name}` and `{name}__timestamp`
    * per requested feature, leakage-free. ONE as-of merge
    * ([[AsOfJoin.nativeSlots]]) for all requested features — each fact
    * carries its feature's position in the request as its slot — so the
    * fact log is scanned, shuffled and sorted once and the spine shuffled
    * once, however many features are requested. No per-row loops anywhere.
    * An unknown name yields all-null columns; a repeated name, or an output
    * column that clashes with a spine column or another output column, is
    * refused with an IllegalArgumentException before any job runs.
    */
  def getPointInTimeFeatures(spine: DataFrame, featureNames: Seq[String]): DataFrame = {
    // a repeated name repeats its output columns, so one check covers both
    FeatureStore.requireDistinct("getPointInTimeFeatures", "output column (spine or feature)",
      spine.columns.toSeq ++ featureNames.flatMap(n => Seq(n, s"${n}__timestamp")), spark)
    if (featureNames.isEmpty) return spine
    // DETERMINISTIC name resolution: several versions of one name coexist
    // by design (feature_id hashes name:version:entityType), and a plain
    // toMap kept whichever id hash iteration yielded last — training
    // enrichment could silently read a deprecated version's facts on one
    // store instance and the active version's on another. Prefer active
    // status, then the highest version (numeric by dot-separated component:
    // "1.10.0" > "1.9.0", which raw string order gets backwards), always
    // the same winner.
    // bounded by-name lookup: only the requested names' versions cross the
    // driver, never the registry (round-7 verdict #9)
    val nameForId = lookupByNames(featureNames)
      .sortBy(f => (f.status == "active", FeatureStore.versionSortKey(f.version), f.feature_id))
      .map(f => f.name -> f.feature_id).toMap
    val slotOfId = featureNames.zipWithIndex.flatMap { case (n, i) => nameForId.get(n).map(_ -> i) }
    // a fact with no event time is as of no time: ingestValues rejects
    // such rows and getFeatureVector's `<= asOf` drops them, so a loaded
    // table holding one must not feed it to the merge-scan, which would
    // carry it as infinitely old
    val facts = values
      .where(col("feature_id").isin(slotOfId.map(_._1): _*) && col("event_timestamp").isNotNull)
      .select(
        col("entity_id"),
        col("event_timestamp"),
        col("created_timestamp"),
        col("value_double"),
        coalesce(slotOfId.map { case (id, i) => when(col("feature_id") === id, i) } :+
          lit(null).cast("int"): _*).as("__slot"))
    AsOfJoin.nativeSlots(spine, facts, Seq("entity_id"), "event_timestamp", "event_timestamp",
      "value_double", "created_timestamp", "__slot", featureNames.zipWithIndex.map(_.swap))
  }

  /** Online snapshot — the A2/B2 latest-per-(entity,feature) table that a
    * serving tier would MERGE-maintain (feature_server.py:428-438). */
  def onlineSnapshot(asOf: Timestamp): DataFrame =
    Latest.latestAgg(
      values,
      keys = Seq("entity_id", "feature_id"),
      tsCol = "event_timestamp", tieCol = "created_timestamp",
      payloadCols = Seq("feature_name", "value_double", "value_string",
        "value_bool", "value_timestamp", "value_array_double", "value_array_string"),
      asOf = Some(lit(asOf)))

  /** Retention enforcement (Feature.retention_days, 7y HIPAA default —
    * feature_registry.py:136, declared but never enforced by the
    * reference): drop fact rows older than their feature's retention
    * horizon at `now`. On a date-partitioned lakehouse table this becomes
    * partition DROPs, not row deletes. Returns rows removed.
    */
  def enforceRetention(now: Timestamp): Long = {
    // empty-catalog fast path WITHOUT hydrating: no registry -> no horizons
    synchronized { if (pendingRegistry.isEmpty && features0.isEmpty) return 0L }
    // per-feature horizons attach by BROADCAST JOIN (round-7 verdict #9);
    // the left join leaves unknown features' rows with a null horizon
    val horizons = broadcast(catalogDS.select(
      col("feature_id"), col("retention_days").as("__retention")))
    val joined = values.join(horizons, Seq("feature_id"), "left")
    val keep =
      col("event_timestamp") >=
        lit(now) - col("__retention").cast("int") * expr("INTERVAL 1 DAY") ||
        col("__retention").isNull ||   // unknown features retained
        col("event_timestamp").isNull  // unknown-age rows retained, not silently destroyed
    // count only the REMOVED rows (one scan), not before/after full counts
    val removed = joined.where(!keep).count()
    // usingColumns join moved feature_id to position 0 — re-select the fact
    // log's declared order so positional consumers of valuesDF keep working
    values = joined.where(keep).drop("__retention")
      .select(valuesSchema.fieldNames.map(col).toIndexedSeq: _*)
    noteMutation()
    removed
  }

  // ---- derived features (B5 source_type=derived — declared by the
  // reference at feature_registry.py:101 + transformation_logic :103,
  // never implemented there) ---------------------------------------------

  /** Register a feature computed from parent features by a SQL expression
    * over columns named like the parents. */
  def registerDerivedFeature(
      name: String,
      version: String,
      schema: FeatureSchemaMeta,
      parentIds: Seq[String],
      sqlExpr: String,
      owner: String,
      now: Timestamp): Either[String, Feature] = {
    val missing = parentIds.filterNot(features.contains)
    if (missing.nonEmpty) return Left(s"unknown parents: ${missing.mkString(",")}")
    // cross-entity-type parents can never co-pivot: materializeDerived
    // groups latest values by (entity_id, entity_type), so an entity
    // splits into per-type rows, each missing the other type's parent,
    // and the all-parents-present filter drops EVERYTHING — reject the
    // misconfiguration here where it is visible, not as a silent 0 rows
    val parentTypes = parentIds.map(id => features(id).schema.entity_type).distinct
    if (parentTypes.size > 1)
      return Left(s"derived parents span entity types ${parentTypes.mkString(",")}; " +
        "a derived feature needs co-typed parents")
    // parents pivot to columns NAMED by feature name, and the registered
    // expression references those names — two parents sharing a name (two
    // VERSIONS of one feature) would pivot into duplicate columns and every
    // downstream reference would die with an ambiguous-column error at
    // materialize time; reject at registration where the cause is visible
    val dupNames = parentIds.map(id => features(id).name)
      .groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
    if (dupNames.nonEmpty)
      return Left(s"derived parents share a feature name (${dupNames.mkString(",")}); " +
        "parent names must be unique — pick one version per name")
    // derived values are computed as doubles and stored in value_double —
    // any other declared value_type would disagree with the fact-log tag
    if (schema.value_type != "float64")
      return Left(s"derived features are float64-valued; got '${schema.value_type}'")
    registerFeature(name, version, schema,
      FeatureSourceMeta("derived", transformation_logic = sqlExpr), owner, now)
      .map { f =>
        val nf = f.copy(dependencies = parentIds)
        features += nf.feature_id -> nf
        nf
      }
  }

  /** Materialize a derived feature as-of `asOf`: latest parent values per
    * entity are pivoted to columns named by parent feature name, the
    * registered expression computes the value, and the results append to
    * the fact log as ordinary EAV rows (event_timestamp = greatest parent
    * observation time — when the derived fact became true). Entities
    * missing any parent are skipped (no partial computation). Returns rows
    * appended.
    */
  def materializeDerived(derivedId: String, asOf: Timestamp, now: Timestamp): Long = {
    val f = features.getOrElse(derivedId, return 0L)
    if (f.source.source_type != "derived" || f.dependencies.isEmpty) return 0L
    // the same active-only-writes gate ingestValues and
    // materializeAllDerived enforce: a draft/deprecated derived feature
    // must not append servable facts
    if (f.status != "active") return 0L
    val parentNames = f.dependencies.map(id => features(id).name)
    val idToName = typedLit(f.dependencies.zip(parentNames).toMap)

    val latest = Latest.latestAgg(
      values.where(col("feature_id").isin(f.dependencies: _*)),
      keys = Seq("entity_id", "entity_type", "feature_id"),
      tsCol = "event_timestamp", tieCol = "created_timestamp",
      payloadCols = Seq("value_double"),
      asOf = Some(lit(asOf)))
      .withColumn("parent_name", idToName(col("feature_id")))

    val wide = latest
      .groupBy("entity_id", "entity_type")
      .pivot("parent_name", parentNames)
      .agg(first(col("value_double")))
      .join(
        latest.groupBy("entity_id").agg(max(col("event_timestamp")).as("event_timestamp")),
        "entity_id")
      .where(parentNames.map(col(_).isNotNull).reduce(_ && _))

    val rows = wide.select(
      lit(f.feature_id).as("feature_id"),
      col("entity_id"),
      col("entity_type"),
      lit(f.name).as("feature_name"),
      lit("float64").as("value_type"),
      expr(f.source.transformation_logic).cast("double").as("value_double"),
      lit(null).cast("string").as("value_string"),
      lit(null).cast("boolean").as("value_bool"),
      lit(null).cast("timestamp").as("value_timestamp"),
      lit(null).cast("array<double>").as("value_array_double"),
      lit(null).cast("array<string>").as("value_array_string"),
      col("event_timestamp"),
      lit(now).as("created_timestamp"))
      // a null-propagating transformation (nullif, CASE) must not append a
      // float64-tagged row with a NULL storage column — the very shape
      // ingestValues' typeOk gate rejects; drop and do not count it
      .where(col("value_double").isNotNull)

    val n = rows.count()
    values = values.unionByName(rows.select(valuesSchema.fieldNames.map(col).toSeq: _*))
    noteMutation()
    n
  }

  /** The catalog as a typed, queryable Dataset — C1 metadata filters then
    * run distributed and broadcast-join against the fact log. A purely
    * staged (loaded, unmutated) registry passes through WITHOUT driver
    * hydration — this is the batch surface; the driver map serves only
    * the point-read/CRUD facade. */
  def registryDS: Dataset[Feature] = catalogDS

  /** Feature groups as a typed Dataset — the persisted form (tiny, like
    * the registry). */
  def groupsDS: Dataset[FeatureGroup] = {
    import spark.implicits._
    spark.createDataset(groups.values.toSeq)
  }

  /** Materialize every ACTIVE derived feature in topological (dependency)
    * order, so derived-of-derived chains see their parents' freshly-
    * appended values within the same pass. Only active features write to
    * the fact log — the same gate ingestValues enforces (draft/deprecated
    * derived features are skipped, and count as resolved parents for
    * ordering purposes without producing rows). Kahn's algorithm over
    * derived→derived edges; base (non-derived) parents are always
    * "ready". Returns feature_id → rows appended; on an unresolvable
    * graph, Left names the stalled features (cycle members plus anything
    * downstream of them) and nothing is materialized.
    */
  def materializeAllDerived(asOf: Timestamp, now: Timestamp): Either[String, Map[String, Long]] = {
    val derivedIds = features.collect {
      case (id, f) if f.source.source_type == "derived" => id
    }.toSet
    var remaining = features.values.filter(f => derivedIds.contains(f.feature_id)).toSeq
    val done = scala.collection.mutable.Set.empty[String]
    val order = scala.collection.mutable.ArrayBuffer.empty[Feature]
    var progressed = true
    while (remaining.nonEmpty && progressed) {
      val (ready, blocked) = remaining.partition(
        _.dependencies.forall(d => !derivedIds.contains(d) || done.contains(d)))
      progressed = ready.nonEmpty
      order ++= ready
      ready.foreach(f => done += f.feature_id)
      remaining = blocked
    }
    if (remaining.nonEmpty)
      Left("unresolvable dependency graph (cycle, or downstream of one): " +
        remaining.map(_.name).sorted.mkString(","))
    else
      Right(order.filter(_.status == "active")
        .map(f => f.feature_id -> materializeDerived(f.feature_id, asOf, now)).toMap)
  }

  // ---- persistence (lakehouse layout) -----------------------------------

  /** Persist catalog + fact log + audit as parquet tables under `path`
    * (facts date-partitioned via Lakehouse — SURVEY.md §4 partition choice).
    */
  def save(path: String): Unit = {
    registryDS.write.mode("overwrite").parquet(s"$path/registry")
    graft.sources.Lakehouse.writeDatePartitioned(values, s"$path/feature_values", "event_timestamp")
    auditDF.write.mode("overwrite").parquet(s"$path/audit_log")
    // groups travel with the store like the audit trail — without this, a
    // save/load cycle silently lost every group created through the public
    // CRUD (round-7 review); written even when empty so a load can tell
    // "no groups" from "old layout" without guessing
    groupsDS.write.mode("overwrite").parquet(s"$path/feature_groups")
  }

  /** Persistence on the transactional commit-log format
    * (graft.sources.TxTable): registry, fact log and audit each become an
    * ACID table — every save is one atomic commit per table, concurrent
    * writers are detected, and old versions stay readable. This is the
    * engine-level §1.2 bitemporality the hand-rolled parquet layout lacks:
    * [[FeatureStore.loadTxAsOf]] reconstructs the store exactly as it was
    * KNOWN at a past save, independent of the row-level created_timestamp
    * dimension.
    */
  def saveTx(path: String, tsMillis: Long): Unit = {
    import graft.sources.TxTable
    TxTable(spark, s"$path/registry").overwrite(registryDS.toDF(), tsMillis)
    TxTable(spark, s"$path/feature_values").overwrite(values, tsMillis)
    TxTable(spark, s"$path/audit_log").overwrite(auditDF, tsMillis)
    TxTable(spark, s"$path/feature_groups").overwrite(groupsDS.toDF(), tsMillis)
  }

  /** Catalog-table persistence with the full 100 TB layout: date partitions
    * (as-of pruning) + entity_id buckets sorted by (entity_id, ts). Every
    * downstream latest-per-key aggregate, as-of enrichment join, or orphan
    * anti-join on entity_id then reads pre-clustered data and plans WITHOUT
    * an Exchange — the fact log is shuffled once at write time instead of
    * on every query. Read back with `spark.table(s"${prefix}_values")`.
    */
  def saveBucketed(tablePrefix: String, nBuckets: Int): Unit = {
    import spark.implicits._
    registryDS.write.mode("overwrite").saveAsTable(s"${tablePrefix}_registry")
    // the audit trail and groups travel with the store on EVERY persistence
    // path (same contract as save/saveTx) — dropping either here would lose
    // state when a deployment standardizes on the bucketed layout
    auditDF.write.mode("overwrite").saveAsTable(s"${tablePrefix}_audit")
    groupsDS.write.mode("overwrite").saveAsTable(s"${tablePrefix}_groups")
    graft.sources.Lakehouse.writeBucketed(
      values.withColumn("event_date", to_date(col("event_timestamp"))),
      s"${tablePrefix}_values",
      bucketCol = "entity_id", nBuckets = nBuckets,
      sortCols = Seq("entity_id", "event_timestamp"),
      partitionCols = Seq("event_date"))
  }
}

object FeatureStore {

  /** How many entries a staged-lookup memo may hold before it stops
    * keeping misses (hits are always kept; the registry bounds them). */
  private[graft] val StagedMissCap = 1024

  /** Refuses a repeated entry of `what` in `items` (compared the way the
    * session resolves column names) with an IllegalArgumentException
    * naming it — a repeat would otherwise surface late, as duplicate or
    * ambiguous output columns. */
  private def requireDistinct(op: String, what: String, items: Seq[String], spark: SparkSession): Unit = {
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    val repeated = items.groupBy(i => if (caseSensitive) i else i.toLowerCase(java.util.Locale.ROOT))
      .collect { case (_, xs) if xs.size > 1 => xs.distinct.mkString("/") }
    if (repeated.nonEmpty)
      throw new IllegalArgumentException(
        s"$op: repeated $what ${repeated.toSeq.sorted.mkString(", ")}")
  }

  /** Order-preserving key for semver-style version strings: each
    * dot-separated component that parses as a number is zero-padded to a
    * fixed width so "1.10.0" sorts above "1.9.0" (raw string order gets
    * that backwards once any component reaches two digits); non-numeric
    * components ("2-beta") fall back to their literal text. */
  private[graft] def versionSortKey(v: String): String =
    v.split('.').map { p =>
      p.toLongOption match {
        case Some(n) if n >= 0 => f"$n%019d"
        case _                 => p
      }
    }.mkString(".")

  /** Reload from the transactional layout at its latest version. */
  def loadTx(spark: SparkSession, path: String): FeatureStore =
    loadTxSnapshots(spark, path, None)

  /** Export a [[saveTx]]-persisted store as three STANDARD Delta tables
    * (registry / feature_values / audit_log) any external engine can read
    * — the handoff path out of the private commit-log format (see
    * [[graft.sources.DeltaInterop]]; data files hard-link, so the export
    * moves no data bytes on one filesystem). */
  def exportDelta(spark: SparkSession, txPath: String, target: String,
      tsMillis: Long = System.currentTimeMillis()): Unit = {
    import graft.sources.{DeltaInterop, TxTable}
    // feature_groups is optional: pre-groups saveTx layouts don't have it,
    // and the handoff must not invent an empty table the source never wrote
    val tables = Seq("registry", "feature_values", "audit_log") ++
      Some("feature_groups").filter(n => TxTable(spark, s"$txPath/$n").version() >= 0)
    tables.foreach { name =>
      DeltaInterop.exportDelta(TxTable(spark, s"$txPath/$name"), s"$target/$name", tsMillis)
    }
  }

  /** Reload the store exactly as it was KNOWN at wall-clock `tsMillis` —
    * table-level time travel over all three TxTables (SURVEY.md §1.2's
    * "as the store knew it at T", now at engine granularity). */
  def loadTxAsOf(spark: SparkSession, path: String, tsMillis: Long): FeatureStore =
    loadTxSnapshots(spark, path, Some(tsMillis))

  private def loadTxSnapshots(spark: SparkSession, path: String, asOf: Option[Long]): FeatureStore = {
    import spark.implicits._
    import graft.sources.TxTable
    def snap(name: String) = {
      val t = TxTable(spark, s"$path/$name")
      asOf.map(t.readAsOfTimestamp).getOrElse(t.read())
    }
    val fs = new FeatureStore(spark)
    // fully dataset-native: NO driver round-trip here — the catalog map
    // hydrates lazily on first catalog access (round-6 verdict #7)
    fs.stageRegistry(snap("registry").as[Feature])
    fs.restoreValues(snap("feature_values")
      .select(fs.valuesSchema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*))
    fs.restoreAudit(snap("audit_log")) // the audit trail travels with the store
    // groups: tolerate their absence (stores saved before groups persisted
    // have no feature_groups table; version() == -1 means "never committed")
    val gt = TxTable(spark, s"$path/feature_groups")
    if (gt.version() >= 0) fs.restoreGroups(
      asOf.map(gt.readAsOfTimestamp).getOrElse(gt.read()))
    fs
  }

  /** Reload a persisted store: catalog staged as a lazy Dataset (hydrates
    * on first catalog access), facts stay a lazy distributed read. */
  def load(spark: SparkSession, path: String): FeatureStore = {
    import spark.implicits._
    val fs = new FeatureStore(spark)
    fs.stageRegistry(spark.read.parquet(s"$path/registry").as[Feature])
    fs.restoreValues(
      spark.read.parquet(s"$path/feature_values")
        .select(fs.valuesSchema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*))
    // same rule as loadTx: the audit trail travels with the store — without
    // this, a load-then-save cycle would overwrite audit_log with nothing
    fs.restoreAudit(spark.read.parquet(s"$path/audit_log"))
    // groups: absent on pre-groups layouts — probe through the Hadoop FS
    // (same resolution rule as the data reads; java.nio would misresolve a
    // non-local path as a bogus relative one)
    val gp = new org.apache.hadoop.fs.Path(s"$path/feature_groups")
    if (gp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(gp))
      fs.restoreGroups(spark.read.parquet(s"$path/feature_groups"))
    fs
  }
}
