package graft

import org.apache.spark.sql.functions._
import graft.store._

/** Behavioral parity with the reference's entry points (SURVEY.md §3):
  * registration lifecycle, PHI constraints, group validation, validated
  * ingest, RBAC'd reads with audit, explicit-null vectors, point-in-time
  * enrichment.
  */
class FeatureStoreSpec extends SparkSpec {
  import spark.implicits._

  private val now = ts("2024-02-01 00:00:00")

  private def newStore(): (FeatureStore, String, String) = {
    val fs = new FeatureStore(spark)
    val Right(hr) = fs.registerFeature(
      "heart_rate", "1.0.0",
      FeatureSchemaMeta("heart_rate", "float64", entity_type = "patient"),
      FeatureSourceMeta("batch"), "ops", now)
    val Right(dx) = fs.registerFeature(
      "diagnosis_risk", "1.0.0",
      FeatureSchemaMeta("diagnosis_risk", "float64", entity_type = "patient"),
      FeatureSourceMeta("batch"), "ops", now,
      phiLevel = "direct", accessRoles = Seq("doctor"))
    fs.activateFeature(hr.feature_id, now)
    fs.activateFeature(dx.feature_id, now)
    (fs, hr.feature_id, dx.feature_id)
  }

  private def ingestSample(fs: FeatureStore, hrId: String, dxId: String): Long = {
    val df = Seq(
      ("p1", "heart_rate", Some(70.0), ts("2024-01-01 00:00:00")),
      ("p1", "heart_rate", Some(80.0), ts("2024-01-10 00:00:00")),
      ("p1", "diagnosis_risk", Some(0.9), ts("2024-01-05 00:00:00")),
      ("p2", "heart_rate", Some(60.0), ts("2024-01-03 00:00:00")),
      ("p1", "unregistered", Some(1.0), ts("2024-01-01 00:00:00")), // rejected
      ("p2", "heart_rate", None, ts("2024-01-04 00:00:00"))          // null -> rejected
    ).toDF("entity_id", "feature_name", "value_double", "event_timestamp")
      .withColumn("value_string", lit(null).cast("string"))
    fs.ingestValues(df, Map("heart_rate" -> hrId, "diagnosis_risk" -> dxId), now)
  }

  test("saveBucketed: latest-per-key over the bucketed fact table plans without an Exchange") {
    val (fs, hrId, dxId) = newStore()
    ingestSample(fs, hrId, dxId)
    fs.saveBucketed("fsb", 4)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val facts = spark.table("fsb_values")
      val latest = graft.operators.Latest.latestAgg(
        facts, Seq("entity_id", "feature_id"), "event_timestamp", "feature_name", Seq("value_double"))
      // HashPartitioning(entity_id) from the buckets satisfies the
      // ClusteredDistribution(entity_id, feature_id) the aggregate needs —
      // the write-time shuffle replaces every query-time one
      val plan = latest.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed latest-agg must be exchange-free:\n$plan")
      assert(latest.count() == 3L) // (p1,hr) (p1,dx) (p2,hr)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS fsb_values")
      spark.sql("DROP TABLE IF EXISTS fsb_registry")
    }
  }

  test("registration: vocab + PHI constraints + lifecycle") {
    val fs = new FeatureStore(spark)
    assert(fs.registerFeature("x", "1", FeatureSchemaMeta("x", "bogus"),
      FeatureSourceMeta("batch"), "o", now).isLeft)
    assert(fs.registerFeature("x", "1", FeatureSchemaMeta("x", "float64"),
      FeatureSourceMeta("batch"), "o", now, phiLevel = "direct").isLeft) // PHI needs roles
    val Right(f) = fs.registerFeature("x", "1", FeatureSchemaMeta("x", "float64"),
      FeatureSourceMeta("batch"), "o", now)
    assert(f.status == "draft")
    assert(f.feature_id.startsWith("feat_") && f.feature_id.length == 21)
    assert(fs.deprecateFeature(f.feature_id, now).isRight)
    assert(fs.activateFeature(f.feature_id, now).isLeft) // deprecated -/-> active
  }

  test("group creation validates membership and entity_type") {
    val (fs, hrId, dxId) = newStore()
    assert(fs.createFeatureGroup("g", "patient", Seq(hrId, "nope"), "", "o", now).isLeft)
    val Right(g) = fs.createFeatureGroup("g", "patient", Seq(hrId, dxId), "", "o", now)
    assert(g.group_id.startsWith("grp_") && g.features.size == 2)
  }

  test("ingest accepts only active+typed rows") {
    val (fs, hrId, dxId) = newStore()
    assert(ingestSample(fs, hrId, dxId) == 4L) // 6 rows - unregistered - null
  }

  test("getFeatureValue: as-of argmax + RBAC deny -> None + audit trail") {
    val (fs, hrId, dxId) = newStore()
    ingestSample(fs, hrId, dxId)
    // as-of Jan 5: only the Jan 1 heart_rate row is visible
    assert(fs.getFeatureValue("p1", hrId, ts("2024-01-05 00:00:00"), "u", Seq(), now).contains(70.0))
    assert(fs.getFeatureValue("p1", hrId, ts("2024-01-31 00:00:00"), "u", Seq(), now).contains(80.0))
    // PHI denied for roleless user; allowed for doctor
    assert(fs.getFeatureValue("p1", dxId, now, "u", Seq("analyst"), now).isEmpty)
    assert(fs.getFeatureValue("p1", dxId, now, "u", Seq("doctor"), now).contains(0.9))
    val actions = fs.audit.map(_.action)
    assert(actions.count(_ == "access_denied") == 1)
    assert(actions.count(_ == "access") == 3)
  }

  test("getFeatureVector: wide row, deny->null, unknown->null column") {
    val (fs, hrId, dxId) = newStore()
    ingestSample(fs, hrId, dxId)
    val vec = fs.getFeatureVector(Seq("p1", "p2"), Seq(hrId, dxId, "feat_unknown"),
      ts("2024-01-31 00:00:00"), "u", Seq("analyst"), now)
    assert(vec.columns.toSeq == Seq("entity_id", hrId, dxId, "feat_unknown"))
    val m = vec.collect().map(r => r.getString(0) -> (r.get(1), r.get(2), r.get(3))).toMap
    assert(m("p1") == ((80.0, null, null))) // dx masked (PHI), unknown null
    assert(m("p2") == ((60.0, null, null)))
  }

  test("getPointInTimeFeatures: leakage-free enrichment with __timestamp cols") {
    val (fs, hrId, dxId) = newStore()
    ingestSample(fs, hrId, dxId)
    val spine = Seq(
      ("p1", ts("2024-01-05 00:00:00")),
      ("p1", ts("2024-01-15 00:00:00")),
      ("p2", ts("2024-01-01 00:00:00"))
    ).toDF("entity_id", "event_timestamp")
    val out = fs.getPointInTimeFeatures(spine, Seq("heart_rate"))
    assert(out.columns.toSeq == Seq("entity_id", "event_timestamp", "heart_rate", "heart_rate__timestamp"))
    val rows = out.orderBy("entity_id", "event_timestamp").collect()
    assert(rows(0).getAs[Double]("heart_rate") == 70.0) // p1 @ Jan5 -> Jan1 value
    assert(rows(1).getAs[Double]("heart_rate") == 80.0) // p1 @ Jan15 -> Jan10 value
    assert(rows(2).isNullAt(2)) // p2 @ Jan1: no prior observation
  }

  /** Three active float features, two ingest batches (the second, created
    * later, ties one event timestamp of the first), saved as TxTables with a
    * null-event-time fact appended behind the store's back, then reloaded. */
  private def pitStore(): (FeatureStore, Map[String, String]) = {
    val fs = new FeatureStore(spark)
    val ids = Seq("heart_rate", "resp_rate", "spo2").map { n =>
      val Right(f) = fs.registerFeature(n, "1.0.0",
        FeatureSchemaMeta(n, "float64", entity_type = "patient"), FeatureSourceMeta("batch"), "ops", now)
      fs.activateFeature(f.feature_id, now)
      n -> f.feature_id
    }.toMap
    def ingest(created: String, rows: (String, String, Double, String)*): Unit = {
      val df = rows.map { case (e, n, v, t) => (e, n, Some(v), ts(t)) }
        .toDF("entity_id", "feature_name", "value_double", "event_timestamp")
        .withColumn("value_string", lit(null).cast("string"))
      assert(fs.ingestValues(df, ids, ts(created)) == rows.size.toLong)
    }
    ingest("2024-02-01 00:00:00",
      ("p1", "heart_rate", 70.0, "2024-01-01 00:00:00"),
      ("p1", "heart_rate", 80.0, "2024-01-10 00:00:00"),
      ("p1", "resp_rate", 12.0, "2024-01-05 00:00:00"),
      ("p1", "spo2", 97.0, "2024-01-03 00:00:00"),
      ("p2", "heart_rate", 60.0, "2024-01-03 00:00:00"),
      ("p2", "spo2", 95.0, "2024-01-08 00:00:00"))
    ingest("2024-02-02 00:00:00",
      ("p1", "heart_rate", 85.0, "2024-01-10 00:00:00"), // same event time, created later: wins
      ("p2", "resp_rate", 14.0, "2024-01-06 00:00:00"))
    val dir = java.nio.file.Files.createTempDirectory("graft_store_pit").toString
    fs.saveTx(dir, tsMillis = 1000L)
    // ingestValues refuses a null event time; a foreign writer need not
    graft.sources.TxTable(spark, s"$dir/feature_values").append(
      fs.valuesDF.where(col("feature_id") === ids("heart_rate")).limit(1)
        .withColumn("entity_id", lit("p3"))
        .withColumn("value_double", lit(99.0))
        .withColumn("event_timestamp", lit(null).cast("timestamp")),
      tsMillis = 2000L)
    (FeatureStore.loadTx(spark, dir), ids)
  }

  test("getPointInTimeFeatures equals a per-feature thetaWindow fold over the store's facts") {
    val (fs, ids) = pitStore()
    assert(fs.valuesDF.where(col("event_timestamp").isNull).count() == 1L)
    val names = Seq("heart_rate", "resp_rate", "spo2", "no_such_feature")
    val spine = Seq(
      (1, "p1", "2024-01-01 00:00:00"), // exactly at a fact's timestamp
      (2, "p1", "2024-01-02 00:00:00"), // before any resp_rate / spo2 fact
      (3, "p1", "2024-01-10 00:00:00"), // exactly at the tied timestamp
      (4, "p1", "2024-01-15 00:00:00"),
      (5, "p2", "2024-01-01 00:00:00"), // before any fact of p2
      (6, "p2", "2024-01-07 00:00:00"),
      (7, "p3", "2024-01-20 00:00:00"), // only a null-timestamp fact
      (8, "p4", "2024-01-05 00:00:00")  // unknown entity
    ).map { case (i, e, t) => (i, e, ts(t)) }.toDF("row_id", "entity_id", "event_timestamp")

    val expected = names.foldLeft(spine) { (acc, n) =>
      val facts = fs.valuesDF.where(col("feature_id") === ids.getOrElse(n, ""))
        .select(col("entity_id"), col("event_timestamp"), col("created_timestamp"), col("value_double").as(n))
      graft.operators.AsOfJoin.thetaWindow(acc, facts, Seq("entity_id"), "event_timestamp",
          "event_timestamp", Seq(n), "created_timestamp")
        .withColumnRenamed("event_timestamp__timestamp", s"${n}__timestamp")
    }
    val out = fs.getPointInTimeFeatures(spine, names)
    assert(out.columns.toSeq == expected.columns.toSeq)
    val got = out.orderBy("row_id").collect().toSeq
    assert(got == expected.orderBy("row_id").collect().toSeq)

    def at(row: Int, c: String) = Option(got(row - 1).getAs[Any](c))
    assert(at(1, "heart_rate").contains(70.0))
    assert(at(2, "resp_rate").isEmpty && at(2, "spo2").isEmpty)
    assert(at(3, "heart_rate").contains(85.0), "equal event times: the later created_timestamp wins")
    assert(at(4, "resp_rate").contains(12.0) && at(4, "spo2").contains(97.0))
    assert(names.take(3).forall(n => at(5, n).isEmpty))
    assert(at(6, "resp_rate").contains(14.0) && at(6, "heart_rate").contains(60.0))
    assert(at(7, "heart_rate").isEmpty, "a null-timestamp fact is as of no time")
    assert(got.forall(r => r.isNullAt(r.fieldIndex("no_such_feature"))))
  }

  test("getPointInTimeFeatures shuffles the spine once for any number of features") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Walk extends AdaptiveSparkPlanHelper
    val (fs, _) = pitStore()
    val names = Seq("heart_rate", "resp_rate", "spo2")
    // read from parquet: a local relation would be folded into the
    // projection above it, and `spine_tag` would vanish from the plan
    val spineDir = java.nio.file.Files.createTempDirectory("graft_pit_spine").toString
    Seq(("p1", ts("2024-01-15 00:00:00"), "a"), ("p2", ts("2024-01-07 00:00:00"), "b"))
      .toDF("entity_id", "event_timestamp", "spine_tag")
      .write.mode("overwrite").parquet(spineDir)
    val out = fs.getPointInTimeFeatures(spark.read.parquet(spineDir), names)
    out.collect()
    val plan = out.queryExecution.executedPlan
    // an exchange "carries the spine" when the spine's rows flow through it
    val spineShuffles = Walk.collect(plan) {
      case e: ShuffleExchangeExec
        if Walk.find(e.child)(_.output.exists(_.name == "spine_tag")).isDefined => e
    }
    assert(spineShuffles.size == 1, s"the spine must be shuffled once, not per feature:\n$plan")
  }

  private def jobsDuring[T](body: => T): (T, Int) =
    org.apache.spark.graft.JobCounter.jobsDuring(spark.sparkContext)(body)

  // the spine of the thetaWindow-fold test: edge cases per entity
  private def pitSpine = Seq(
    (1, "p1", "2024-01-01 00:00:00"), (2, "p1", "2024-01-02 00:00:00"),
    (3, "p1", "2024-01-10 00:00:00"), (4, "p1", "2024-01-15 00:00:00"),
    (5, "p2", "2024-01-01 00:00:00"), (6, "p2", "2024-01-07 00:00:00"),
    (7, "p3", "2024-01-20 00:00:00"), (8, "p4", "2024-01-05 00:00:00")
  ).map { case (i, e, t) => (i, e, ts(t)) }.toDF("row_id", "entity_id", "event_timestamp")

  test("getPointInTimeFeatures merges once: one feature_values scan, two shuffles (spine and facts)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Walk extends AdaptiveSparkPlanHelper
    val (fs, _) = pitStore()
    val spineDir = java.nio.file.Files.createTempDirectory("graft_pit_scan").toString
    pitSpine.write.mode("overwrite").parquet(spineDir)
    val out = fs.getPointInTimeFeatures(spark.read.parquet(spineDir), Seq("heart_rate", "resp_rate", "spo2"))
    out.collect()
    val plan = out.queryExecution.executedPlan
    val factScans = Walk.collect(plan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains("feature_values")) => s
    }
    assert(factScans.size == 1, s"the fact log must be scanned once for all features:\n$plan")
    assert(Walk.collect(plan) { case e: ShuffleExchangeExec => e }.size == 2,
      s"one shuffle of the spine and one of the facts:\n$plan")
  }

  test("AsOfJoinExec metrics count spine rows, merged facts and filled slots, codegen on and off") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.graft.asof.AsOfJoinExec
    object Walk extends AdaptiveSparkPlanHelper
    val (fs, ids) = pitStore()
    val names = Seq("heart_rate", "resp_rate", "spo2", "no_such_feature")
    // the counts the naive fold knows: spine rows, non-null match
    // timestamps, and the facts some spine row of their entity can see
    val expected = names.foldLeft(pitSpine) { (acc, n) =>
      val facts = fs.valuesDF.where(col("feature_id") === ids.getOrElse(n, ""))
        .select(col("entity_id"), col("event_timestamp"), col("created_timestamp"), col("value_double").as(n))
      graft.operators.AsOfJoin.thetaWindow(acc, facts, Seq("entity_id"), "event_timestamp",
          "event_timestamp", Seq(n), "created_timestamp")
        .withColumnRenamed("event_timestamp__timestamp", s"${n}__timestamp")
    }.collect()
    val filled = expected.map(r => names.count(n => !r.isNullAt(r.fieldIndex(s"${n}__timestamp")))).sum.toLong
    val f = fs.valuesDF.where(col("feature_id").isin(ids.values.toSeq: _*) && col("event_timestamp").isNotNull)
    val visible = f.join(pitSpine.select(col("entity_id").as("se"), col("event_timestamp").as("sts")),
      f("entity_id") <=> col("se") && f("event_timestamp") <= col("sts"), "left_semi").count()
    assert(filled > 0L && visible > 0L && visible < f.count(), "the fixture must skip some facts")

    def metricsOf(): Map[String, Long] = {
      val out = fs.getPointInTimeFeatures(pitSpine, names)
      out.collect()
      val (m, jobs) = jobsDuring {
        val execs = Walk.collect(out.queryExecution.executedPlan) { case e: AsOfJoinExec => e }
        assert(execs.size == 1)
        execs.head.metrics.map { case (k, v) => k -> v.value }
      }
      assert(jobs == 0, "reading the metrics must not start a job")
      m
    }
    val want = Map("numSpineRows" -> 8L, "numFactRows" -> visible, "numFilledSlots" -> filled)
    assert(metricsOf() == want)
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(metricsOf() == want)
    finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("getPointInTimeFeatures refuses repeated names and clashing columns before any job") {
    val (fs, _) = pitStore()
    def refused(spine: org.apache.spark.sql.DataFrame, names: Seq[String], clash: String): Unit = {
      val (e, jobs) = jobsDuring(intercept[IllegalArgumentException](fs.getPointInTimeFeatures(spine, names)))
      assert(e.getMessage.contains(clash), e.getMessage)
      assert(jobs == 0, s"refused after $jobs job(s)")
    }
    refused(pitSpine, Seq("heart_rate", "spo2", "heart_rate"), "heart_rate")
    refused(pitSpine.withColumn("spo2", lit(1.0)), Seq("heart_rate", "spo2"), "spo2")
    refused(pitSpine.withColumn("spo2__timestamp", lit(1.0)), Seq("spo2"), "spo2__timestamp")
    refused(pitSpine, Seq("hr", "hr__timestamp"), "hr__timestamp")
    refused(pitSpine, Seq("heart_rate", "HEART_RATE"), "HEART_RATE")
    assert(fs.registryPendingForTest)
  }

  test("getFeatureVector refuses a repeated feature id up front, in both overloads") {
    val (fs, hrId, dxId) = newStore()
    ingestSample(fs, hrId, dxId)
    val e1 = intercept[IllegalArgumentException](fs.getFeatureVector(Seq("p1"), Seq(hrId, dxId, hrId),
      now, "u", Seq("doctor"), now))
    assert(e1.getMessage.contains(hrId), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](fs.getFeatureVector(Seq("p1").toDF("entity_id"),
      Seq(dxId, dxId), now, "u", Seq("doctor"), now))
    assert(e2.getMessage.contains(dxId), e2.getMessage)
    intercept[IllegalArgumentException](new FeatureServer(fs).getOnlineFeatures("p1", "patient", Seq(hrId, hrId),
      "u", Seq("doctor"), now))
  }

  test("a loaded store answers repeated lookups without a registry job, and sees features after hydration") {
    val (fs, ids) = pitStore()
    val names = Seq("heart_rate", "spo2", "no_such_feature")
    val vecIds = Seq(ids("heart_rate"), ids("resp_rate"), "feat_unknown")
    val asOf = ts("2024-01-31 00:00:00")
    val (_, firstPit) = jobsDuring(fs.getPointInTimeFeatures(pitSpine, names))
    val (_, firstVec) = jobsDuring(fs.getFeatureVector(Seq("p1"), vecIds, asOf, "u", Seq(), now))
    assert(firstPit >= 1 && firstVec >= 1, "the first lookups read the staged registry")
    // building either frame again starts no job at all: names, ids and the
    // misses among them are answered from the memo
    val (pit, againPit) = jobsDuring(fs.getPointInTimeFeatures(pitSpine, names))
    val (vec, againVec) = jobsDuring(fs.getFeatureVector(Seq("p1"), vecIds, asOf, "u", Seq(), now))
    assert(againPit == 0 && againVec == 0, s"registry jobs on repeat: pit $againPit, vector $againVec")
    assert(fs.registryPendingForTest, "the memo must not hydrate the catalog")
    assert(pit.where(col("row_id") === 4).select("heart_rate").head().getDouble(0) == 85.0)
    assert(vec.select(ids("heart_rate")).head().getDouble(0) == 85.0)

    // "temp" was looked up (and memoized as missing) while staged;
    // registering it hydrates the catalog, and the lookups see it
    assert(fs.getPointInTimeFeatures(pitSpine, Seq("temp")).where(col("temp").isNotNull).isEmpty)
    val Right(temp) = fs.registerFeature("temp", "1.0.0",
      FeatureSchemaMeta("temp", "float64", entity_type = "patient"), FeatureSourceMeta("batch"), "ops", now)
    fs.activateFeature(temp.feature_id, now)
    assert(!fs.registryPendingForTest)
    fs.ingestValues(Seq(("p1", "temp", Some(37.5), ts("2024-01-04 00:00:00")))
      .toDF("entity_id", "feature_name", "value_double", "event_timestamp")
      .withColumn("value_string", lit(null).cast("string")), Map("temp" -> temp.feature_id), now)
    assert(fs.getPointInTimeFeatures(pitSpine, Seq("temp")).where(col("row_id") === 4)
      .select("temp").head().getDouble(0) == 37.5)
    assert(fs.getFeatureVector(Seq("p1"), Seq(temp.feature_id), asOf, "u", Seq(), now)
      .select(temp.feature_id).head().getDouble(0) == 37.5)
  }

  test("the staged-lookup memo stops keeping misses at its cap and still keeps hits") {
    val (fs, ids) = pitStore()
    val cap = FeatureStore.StagedMissCap
    val unknown = (0 until cap + 500).map(i => s"unknown_$i")
    assert(fs.lookupFeatures(unknown).isEmpty && fs.lookupByNames(unknown).isEmpty)
    assert(fs.stagedLookupSizesForTest == ((cap, cap)), "distinct unknown keys must not grow the memo past its cap")
    // a miss past the cap is read again, and is still a miss
    val (missAgain, missJobs) = jobsDuring(fs.lookupFeatures(unknown.takeRight(1)))
    assert(missAgain.isEmpty && missJobs >= 1)
    // a hit past the cap is kept, so its repeat runs no job
    assert(fs.lookupFeatures(Seq(ids("spo2"))).keySet == Set(ids("spo2")))
    assert(fs.lookupByNames(Seq("spo2")).map(_.feature_id) == Seq(ids("spo2")))
    val ((byId, byName), jobs) = jobsDuring((fs.lookupFeatures(Seq(ids("spo2"))), fs.lookupByNames(Seq("spo2"))))
    assert(byId.keySet == Set(ids("spo2")) && byName.map(_.feature_id) == Seq(ids("spo2")))
    assert(jobs == 0, s"$jobs registry job(s) for a remembered hit")
    assert(fs.stagedLookupSizesForTest == ((cap + 1, cap + 1)))
    assert(fs.registryPendingForTest)
  }

  test("name resolution picks the numerically-highest active version (1.10.0 > 1.9.0)") {
    val fs = new FeatureStore(spark)
    def reg(v: String, value: Double, activate: Boolean = true): String = {
      val Right(f) = fs.registerFeature("hr", v,
        FeatureSchemaMeta("hr", "float64", entity_type = "patient"),
        FeatureSourceMeta("batch"), "o", now)
      if (activate) fs.activateFeature(f.feature_id, now)
      val df = Seq(("p1", "hr", Some(value), ts("2024-01-01 00:00:00")))
        .toDF("entity_id", "feature_name", "value_double", "event_timestamp")
        .withColumn("value_string", lit(null).cast("string"))
      fs.ingestValues(df, Map("hr" -> f.feature_id), now)
      f.feature_id
    }
    reg("1.9.0", 9.0)
    reg("1.10.0", 10.0)           // lexicographically BELOW "1.9.0"
    reg("2.0.0", 99.0, activate = false) // draft — active versions win regardless
    val spine = Seq(("p1", ts("2024-01-15 00:00:00"))).toDF("entity_id", "event_timestamp")
    val out = fs.getPointInTimeFeatures(spine, Seq("hr")).collect().head
    assert(out.getAs[Double]("hr") == 10.0,
      "must resolve to active 1.10.0, not lexicographic max 1.9.0 or draft 2.0.0")
    // the key itself: numeric components padded, non-numeric fall back to text
    assert(FeatureStore.versionSortKey("1.10.0") > FeatureStore.versionSortKey("1.9.0"))
    assert(FeatureStore.versionSortKey("1.2.0-beta") != FeatureStore.versionSortKey("1.2.0"))
  }

  test("enforceRetention drops only rows past the per-feature horizon") {
    val fs = new FeatureStore(spark)
    val Right(shortF) = fs.registerFeature("short_lived", "1.0.0",
      FeatureSchemaMeta("short_lived", "float64"), FeatureSourceMeta("batch"), "o", now,
      retentionDays = 10)
    fs.activateFeature(shortF.feature_id, now)
    val df = Seq(
      ("p1", "short_lived", Some(1.0), ts("2024-01-30 00:00:00")), // 2d old: kept
      ("p1", "short_lived", Some(2.0), ts("2023-12-01 00:00:00"))  // 62d old: dropped
    ).toDF("entity_id", "feature_name", "value_double", "event_timestamp")
      .withColumn("value_string", lit(null).cast("string"))
    fs.ingestValues(df, Map("short_lived" -> shortF.feature_id), now)
    val removed = fs.enforceRetention(now)
    assert(removed == 1L)
    assert(fs.valuesDF.count() == 1L)
    // the fact log's declared column ORDER survives the retention join
    // (usingColumns moves feature_id first; positional consumers must not break)
    assert(fs.valuesDF.columns.toSeq == fs.valuesSchema.fieldNames.toSeq)
  }

  test("derived feature: register with parents, materialize, read back") {
    val (fs, hrId, dxId) = newStore()
    ingestSample(fs, hrId, dxId)
    val Right(risk) = fs.registerDerivedFeature(
      "risk_score", "1.0.0",
      FeatureSchemaMeta("risk_score", "float64", entity_type = "patient"),
      parentIds = Seq(hrId, dxId),
      sqlExpr = "heart_rate * 0.01 + diagnosis_risk",
      owner = "ops", now = now)
    fs.activateFeature(risk.feature_id, now)
    assert(risk.dependencies == Seq(hrId, dxId))
    assert(risk.source.source_type == "derived")

    val n = fs.materializeDerived(risk.feature_id, ts("2024-01-31 00:00:00"), now)
    assert(n == 1L) // only p1 has both parents
    val v = fs.getFeatureValue("p1", risk.feature_id, now, "u", Seq(), now)
    assert(v.contains(80.0 * 0.01 + 0.9)) // latest hr=80, dx=0.9
    // p2 lacks diagnosis_risk -> no derived row
    assert(fs.getFeatureValue("p2", risk.feature_id, now, "u", Seq(), now).isEmpty)
  }

  test("materializeAllDerived resolves a two-level DAG in dependency order and rejects cycles") {
    val (fs, hrId, dxId) = newStore()
    ingestSample(fs, hrId, dxId)
    val Right(risk) = fs.registerDerivedFeature(
      "risk_score", "1.0.0",
      FeatureSchemaMeta("risk_score", "float64", entity_type = "patient"),
      parentIds = Seq(hrId, dxId),
      sqlExpr = "heart_rate * 0.01 + diagnosis_risk",
      owner = "ops", now = now)
    // level 2: derived of derived
    val Right(flag) = fs.registerDerivedFeature(
      "risk_flag", "1.0.0",
      FeatureSchemaMeta("risk_flag", "float64", entity_type = "patient"),
      parentIds = Seq(risk.feature_id),
      sqlExpr = "CASE WHEN risk_score > 1.0 THEN 1.0 ELSE 0.0 END",
      owner = "ops", now = now)
    fs.activateFeature(risk.feature_id, now)
    fs.activateFeature(flag.feature_id, now)

    val Right(counts) = fs.materializeAllDerived(ts("2024-01-31 00:00:00"), now)
    assert(counts(risk.feature_id) == 1L)
    assert(counts(flag.feature_id) == 1L) // saw risk_score's row from THIS pass
    // hr=80, dx=0.9 -> risk 1.7 -> flag 1.0
    assert(fs.getFeatureValue("p1", flag.feature_id, now, "u", Seq(), now).contains(1.0))

    // cycle detection: self-referential derived feature
    val Right(selfy) = fs.registerDerivedFeature(
      "selfy", "1.0.0", FeatureSchemaMeta("selfy", "float64", entity_type = "patient"),
      parentIds = Seq(risk.feature_id), sqlExpr = "risk_score", owner = "ops", now = now)
    fs.restoreFeature(selfy.copy(dependencies = Seq(selfy.feature_id)))
    assert(fs.materializeAllDerived(ts("2024-01-31 00:00:00"), now).isLeft)
  }

  test("save/load round-trip preserves catalog and values (lakehouse layout)") {
    val (fs, hrId, dxId) = newStore()
    ingestSample(fs, hrId, dxId)
    val dir = java.nio.file.Files.createTempDirectory("graft_store").toString
    fs.save(dir)
    val re = FeatureStore.load(spark, dir)
    assert(re.registryFeatures.map(_.feature_id).toSet == fs.registryFeatures.map(_.feature_id).toSet)
    assert(re.valuesDF.count() == fs.valuesDF.count())
    // reloaded store answers the same as-of query
    assert(re.getFeatureValue("p1", hrId, ts("2024-01-31 00:00:00"), "u", Seq(), now).contains(80.0))
    // and the reloaded facts are date-partitioned on disk
    assert(new java.io.File(s"$dir/feature_values").listFiles()
      .exists(_.getName.startsWith("event_date=")))
  }

  test("feature groups persist across save/load and saveTx/loadTx; pre-groups layouts load") {
    val (fs, hrId, dxId) = newStore()
    ingestSample(fs, hrId, dxId)
    val Right(g) = fs.createFeatureGroup("vitals", "patient", Seq(hrId, dxId), "d", "o", now)

    // lakehouse layout
    val dir = java.nio.file.Files.createTempDirectory("graft_store_grp").toString
    fs.save(dir)
    val re = FeatureStore.load(spark, dir)
    assert(re.featureGroups.map(_.group_id) == Seq(g.group_id))
    assert(re.featureGroup(g.group_id).exists(_.features == Seq(hrId, dxId)))

    // transactional layout: staged lazily like the registry
    val txDir = java.nio.file.Files.createTempDirectory("graft_store_grp_tx").toString
    fs.saveTx(txDir, tsMillis = 1000L)
    val reTx = FeatureStore.loadTx(spark, txDir)
    assert(reTx.groupsPendingForTest, "loadTx must stage groups, not materialize them")
    assert(reTx.featureGroups.map(_.name) == Seq("vitals"))
    assert(!reTx.groupsPendingForTest)

    // a PRE-groups layout (no feature_groups table) loads with empty groups
    // instead of failing — backward compatibility with earlier saves
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteRec)); f.delete(); ()
    }
    deleteRec(new java.io.File(s"$dir/feature_groups"))
    deleteRec(new java.io.File(s"$txDir/feature_groups"))
    assert(FeatureStore.load(spark, dir).featureGroups.isEmpty)
    assert(FeatureStore.loadTx(spark, txDir).featureGroups.isEmpty)
  }

  test("registerDerivedFeature rejects duplicate parent names (two versions of one feature)") {
    val (fs, hrId, _) = newStore()
    val Right(hr2) = fs.registerFeature(
      "heart_rate", "2.0.0",
      FeatureSchemaMeta("heart_rate", "float64", entity_type = "patient"),
      FeatureSourceMeta("batch"), "ops", now)
    fs.activateFeature(hr2.feature_id, now)
    // both parents pivot to a column named "heart_rate" — ambiguous; the
    // misconfiguration must die at registration, not at materialize time
    val r = fs.registerDerivedFeature(
      "hr_blend", "1.0.0",
      FeatureSchemaMeta("hr_blend", "float64", entity_type = "patient"),
      parentIds = Seq(hrId, hr2.feature_id),
      sqlExpr = "heart_rate * 2", owner = "ops", now = now)
    assert(r.isLeft && r.left.exists(_.contains("share a feature name")))
  }

  test("loadTx stages the catalog lazily: no driver round-trip until first catalog access") {
    val (fs, hrId, dxId) = newStore()
    ingestSample(fs, hrId, dxId)
    val dir = java.nio.file.Files.createTempDirectory("graft_store_lazy").toString
    fs.saveTx(dir, tsMillis = 1000L)
    val re = FeatureStore.loadTx(spark, dir)
    assert(re.registryPendingForTest,
      "loadTx must stage the registry as a Dataset, not materialize it")
    // fact-log-only usage never pays the catalog materialization
    assert(re.valuesDF.count() == fs.valuesDF.count())
    assert(re.registryPendingForTest, "reading facts must not hydrate the catalog")
    // the BATCH paths answer by bounded lookup / broadcast join — none of
    // them may hydrate the whole catalog onto the driver (round-7 verdict
    // #9: no driver round-trip on the batch read path)
    val vec = re.getFeatureVector(Seq("p1"), Seq(hrId, dxId),
      ts("2024-01-31 00:00:00"), "u", Seq("clinical"), now)
    assert(vec.count() == 1L)
    assert(re.registryPendingForTest, "getFeatureVector must not hydrate the catalog")
    import spark.implicits._
    val spine = Seq(("p1", ts("2024-01-31 00:00:00")))
      .toDF("entity_id", "event_timestamp")
    assert(re.getPointInTimeFeatures(spine, Seq("heart_rate")).count() == 1L)
    assert(re.registryPendingForTest, "getPointInTimeFeatures must not hydrate the catalog")
    assert(re.registryDS.where(
      org.apache.spark.sql.functions.col("status") === "active").count() >= 1L)
    assert(re.registryPendingForTest, "registryDS must pass the staged Dataset through")
    assert(re.enforceRetention(now) == 0L)
    assert(re.registryPendingForTest, "enforceRetention must not hydrate the catalog")
    // first catalog access hydrates, once, with the full feature set
    assert(re.registryFeatures.map(_.feature_id).toSet ==
      fs.registryFeatures.map(_.feature_id).toSet)
    assert(!re.registryPendingForTest)
    // and the hydrated store answers the same as-of query
    assert(re.getFeatureValue("p1", hrId, ts("2024-01-31 00:00:00"), "u", Seq(), now).contains(80.0))
  }

  test("registryDS supports distributed metadata filters (C1)") {
    val (fs, _, dxId) = newStore()
    val phi = fs.registryDS.where(org.apache.spark.sql.functions.col("phi_level") === "direct")
      .collect().map(_.feature_id).toSeq
    assert(phi == Seq(dxId))
  }

  test("typed ingest round-trips every reference value type through its storage column") {
    val fs = new FeatureStore(spark)
    val types = Seq(
      "int32", "int64", "float32", "float64", "string", "bool", "timestamp",
      "array_int", "array_float", "array_string", "embedding")
    val ids = types.map { vt =>
      val Right(f) = fs.registerFeature(s"f_$vt", "1", FeatureSchemaMeta(s"f_$vt", vt),
        FeatureSourceMeta("batch"), "o", now)
      fs.activateFeature(f.feature_id, now)
      s"f_$vt" -> f.feature_id
    }.toMap

    val t0 = ts("2024-01-10 00:00:00")
    def row(vt: String) = {
      import org.apache.spark.sql.Row
      val nulls = Seq[Any](null, null, null, null, null, null)
      val idx = Map("value_double" -> 0, "value_string" -> 1, "value_bool" -> 2,
        "value_timestamp" -> 3, "value_array_double" -> 4, "value_array_string" -> 5)
      val v: Any = vt match {
        case "int32" | "int64" | "float32" | "float64" => 7.5
        case "string" => "hello"
        case "bool" => true
        case "timestamp" => ts("2024-01-09 00:00:00")
        case "array_int" | "array_float" | "embedding" => Seq(1.0, 2.0)
        case "array_string" => Seq("a", "b")
      }
      val sc = fs.storageColFor(vt)
      Row.fromSeq(Seq[Any](s"e_$vt", s"f_$vt") ++ nulls.updated(idx(sc), v) :+ t0)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("entity_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("feature_name", org.apache.spark.sql.types.StringType)) ++
      fs.valuesSchema.fields.filter(f => f.name.startsWith("value_") && f.name != "value_type") :+
      org.apache.spark.sql.types.StructField("event_timestamp", org.apache.spark.sql.types.TimestampType))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(types.map(row)), schema)
    assert(fs.ingestValues(df, ids, now) == types.size.toLong)

    val snap = fs.onlineSnapshot(now).collect()
      .map(r => r.getAs[String]("feature_id") -> r).toMap
    assert(snap(ids("f_float64")).getAs[Double]("value_double") == 7.5)
    assert(snap(ids("f_int64")).getAs[Double]("value_double") == 7.5)
    assert(snap(ids("f_string")).getAs[String]("value_string") == "hello")
    assert(snap(ids("f_bool")).getAs[Boolean]("value_bool"))
    assert(snap(ids("f_timestamp")).getAs[java.sql.Timestamp]("value_timestamp") == ts("2024-01-09 00:00:00"))
    assert(snap(ids("f_embedding")).getAs[scala.collection.Seq[Double]]("value_array_double").toSeq == Seq(1.0, 2.0))
    assert(snap(ids("f_array_string")).getAs[scala.collection.Seq[String]]("value_array_string").toSeq == Seq("a", "b"))
  }

  test("typed ingest rejects wrong-column and null-typed rows (pinned stricter than reference)") {
    val fs = new FeatureStore(spark)
    val Right(fb) = fs.registerFeature("flag", "1", FeatureSchemaMeta("flag", "bool"),
      FeatureSourceMeta("batch"), "o", now)
    val Right(ft) = fs.registerFeature("seen", "1", FeatureSchemaMeta("seen", "timestamp"),
      FeatureSourceMeta("batch"), "o", now)
    fs.activateFeature(fb.feature_id, now); fs.activateFeature(ft.feature_id, now)
    val ids = Map("flag" -> fb.feature_id, "seen" -> ft.feature_id)
    // bool value arriving in value_double: rejected, not coerced
    val wrongCol = Seq(("e1", "flag", Some(1.0), ts("2024-01-01 00:00:00")))
      .toDF("entity_id", "feature_name", "value_double", "event_timestamp")
    assert(fs.ingestValues(wrongCol, ids, now) == 0L)
    // the reference skips TIMESTAMP validation entirely (its _validate_value
    // has no TIMESTAMP check) and accepts None for every type; we pin the
    // stricter rule — a timestamp feature row with a null value_timestamp
    // is rejected
    val nullTs = Seq(("e1", "seen", Option.empty[java.sql.Timestamp], ts("2024-01-01 00:00:00")))
      .toDF("entity_id", "feature_name", "value_timestamp", "event_timestamp")
    assert(fs.ingestValues(nullTs, ids, now) == 0L)
    // and the happy row lands
    val ok = Seq(("e1", "flag", Some(true), ts("2024-01-01 00:00:00")))
      .toDF("entity_id", "feature_name", "value_bool", "event_timestamp")
    assert(fs.ingestValues(ok, ids, now) == 1L)
  }

  test("getFeatureVector anchors on requested entities: no-fact and all-denied entities get null rows") {
    val (fs, hrId, dxId) = newStore()
    ingestSample(fs, hrId, dxId)
    // p_ghost has no facts at all -> present with nulls
    val vec = fs.getFeatureVector(Seq("p1", "p_ghost"), Seq(hrId),
      ts("2024-01-31 00:00:00"), "u", Seq("analyst"), now)
    val m = vec.collect().map(r => r.getString(0) -> r.get(1)).toMap
    assert(m.keySet == Set("p1", "p_ghost"))
    assert(m("p1") == 80.0 && m("p_ghost") == null)
    // every feature denied -> still one row per requested entity, all null
    val denied = fs.getFeatureVector(Seq("p1", "p2"), Seq(dxId),
      ts("2024-01-31 00:00:00"), "u", Seq("analyst"), now)
    val dm = denied.collect().map(r => r.getString(0) -> r.get(1)).toMap
    assert(dm == Map("p1" -> null, "p2" -> null))
  }

  test("onlineSnapshot is latest-per-key") {
    val (fs, hrId, dxId) = newStore()
    ingestSample(fs, hrId, dxId)
    val snap = fs.onlineSnapshot(ts("2024-01-31 00:00:00"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("value_double")).toMap
    assert(snap(("p1", hrId)) == 80.0)
    assert(snap(("p2", hrId)) == 60.0)
  }
}
