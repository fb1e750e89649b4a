package graftbench

import java.nio.file.Path
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.AsOfJoin
import graft.store.{FeatureSchemaMeta, FeatureSourceMeta, FeatureStore}

/** Building a feature store from a generated fact log, the way a user
  * would: register and activate the features, ingest, persist with
  * `saveTx`, reload with `loadTx`. */
object StoreSetup {
  val EntityType = "patient"
  val Roles = Seq("analyst")
  val CreatedMs = 1800000000000L

  val factSchema: StructType = StructType(Seq(
    StructField("entity_id", StringType), StructField("feature_name", StringType),
    StructField("event_timestamp", TimestampType), StructField("value_double", DoubleType)))

  /** The generated fact log as a frame, written once to parquet under `dir`. */
  def facts(spark: SparkSession, seed: Long, shape: Gen.FactShape, dir: Path): DataFrame = {
    val parts = spark.sparkContext.defaultParallelism
    val rows = spark.sparkContext.range(0L, shape.size, numSlices = parts).flatMap { i =>
      Gen.fact(seed, shape, i).map { case (e, f, ts, v) =>
        Row(Gen.entityId(e), Gen.featureName(f), new Timestamp(ts), v)
      }
    }
    val path = dir.resolve("facts").toString
    spark.createDataFrame(rows, factSchema).write.parquet(path)
    spark.read.parquet(path)
  }

  /** A loaded store over `facts` and the feature id of each feature name. */
  def build(ctx: Ctx, facts: DataFrame, names: Seq[String], dir: Path): (FeatureStore, Map[String, String]) = {
    val created = new Timestamp(CreatedMs)
    val fs = new FeatureStore(ctx.spark)
    val ids = names.map { n =>
      val f = fs.registerFeature(n, "1.0.0", FeatureSchemaMeta(n, "float64", entity_type = EntityType),
        FeatureSourceMeta("batch"), "graftbench", created).fold(e => sys.error(e), identity)
      fs.activateFeature(f.feature_id, created).fold(e => sys.error(e), identity)
      n -> f.feature_id
    }.toMap
    fs.ingestValues(facts, ids, created)
    val path = dir.resolve("store").toString
    fs.saveTx(path, CreatedMs)
    val (loaded, _) = ctx.recorder.call("store.load_tx")(FeatureStore.loadTx(ctx.spark, path))
    (loaded, ids)
  }
}

/** pit_training: point-in-time enrichment of a labelled spine from a
  * TxTable-backed fact log, then a batch feature vector over the spine's
  * distinct entities. Bypasses the serving cache and the Delta/Iceberg
  * codecs. */
object PitTraining {
  val Shape = Gen.FactShape(entities = 2000, features = 4, perSeries = 5,
    t0Ms = 1704067200000L, stepMs = 86400000L, missingPct = 5)
  val SpineRows = 20000L
  /** Untimed iterations before timing: on a 4-core host the first six
    * fall from about 4.5 s to 1.9 s as the JIT compiles the code they run,
    * and later ones by a few percent more. */
  val WarmupIters = 6
  val Names: Seq[String] = (0 until Shape.features).map(Gen.featureName)
  /** The batch vector's as-of instant: inside the log, so later facts are
    * filtered out. */
  val AsOf = new Timestamp(Shape.t0Ms + Shape.perSeries * Shape.stepMs / 2)

  final case class Inputs(facts: DataFrame, spine: DataFrame, entities: DataFrame, nEntities: Long)

  /** The generated fact log, spine and the spine's distinct entities. */
  def inputs(ctx: Ctx): Inputs = {
    val spark = ctx.spark
    val dir = ctx.tmpDir("inputs")
    val facts = StoreSetup.facts(spark, ctx.seed, Shape, dir)
    val seed = ctx.seed
    val spineRdd = spark.sparkContext.range(0L, SpineRows, numSlices = spark.sparkContext.defaultParallelism)
      .map { i =>
        val (e, ts, label) = Gen.spineRow(seed, Shape, i)
        Row(Gen.entityId(e), new Timestamp(ts), label)
      }
    val spinePath = dir.resolve("spine").toString
    spark.createDataFrame(spineRdd, StructType(Seq(StructField("entity_id", StringType),
      StructField("event_timestamp", TimestampType), StructField("label", IntegerType))))
      .write.parquet(spinePath)
    val spine = spark.read.parquet(spinePath)
    val ids = (0L until SpineRows).map(i => Gen.entityId(Gen.spineRow(seed, Shape, i)._1)).distinct.sorted
    val entPath = dir.resolve("entities").toString
    spark.createDataFrame(spark.sparkContext.parallelize(ids.map(Row(_)), 1),
      StructType(Seq(StructField("entity_id", StringType)))).write.parquet(entPath)
    Inputs(facts, spine, spark.read.parquet(entPath), ids.size.toLong)
  }

  private def leaks(names: Seq[String]) =
    names.map(n => when(col(s"${n}__timestamp") > col("event_timestamp"), 1L).otherwise(0L))
      .reduce(_ + _)

  def run(ctx: Ctx): (Outcome, Double) = {
    val in = inputs(ctx)
    val ((store, idOf), setupS) = ctx.setupReps(3)(dir => StoreSetup.build(ctx, in.facts, Names, dir))
    val created = lit(new Timestamp(StoreSetup.CreatedMs))

    // expected outputs by independent formulations over the raw fact log:
    // the native merge-scan as-of join per feature, and a max_by pivot
    val pitTruth = Sig.of(Sig.frame(Names.foldLeft(in.spine) { (acc, n) =>
      val f = in.facts.where(col("feature_name") === n).select(col("entity_id"),
        col("event_timestamp"), created.as("created_timestamp"), col("value_double").as(n))
      AsOfJoin.native(acc, f, Seq("entity_id"), "event_timestamp", "event_timestamp", Seq(n),
        "created_timestamp").withColumnRenamed("event_timestamp__timestamp", s"${n}__timestamp")
    }).head())
    val latest = in.facts.where(col("event_timestamp") <= lit(AsOf))
      .groupBy("entity_id").pivot("feature_name", Names)
      .agg(max_by(col("value_double"), col("event_timestamp")))
    val vecTruth = Sig.of(Sig.frame(in.entities.join(latest, Seq("entity_id"), "left")
      .select(col("entity_id") +: Names.map(n => col(n).as(idOf(n))): _*)).head())
    val ids = Names.map(idOf)

    def pit(): Option[Row] = ctx.op("store.get_point_in_time_features") {
      val agg = Sig.frame(store.getPointInTimeFeatures(in.spine, Names), sum(leaks(Names)))
      ctx.recorder.plan(agg)
      agg.collect()(0)
    }(r => Sig.of(r) == pitTruth && r.getLong(3) == 0L)._1
    def vector(): Option[Row] = ctx.op("store.get_feature_vector") {
      val agg = Sig.frame(store.getFeatureVector(in.entities, ids, AsOf, "graftbench",
        StoreSetup.Roles, AsOf))
      ctx.recorder.plan(agg)
      agg.collect()(0)
    }(r => Sig.of(r) == vecTruth)._1

    ctx.warmup(WarmupIters) { _ => pit(); vector() }

    // time of each call in the reported phase (the traced one in a traced run)
    var pitNs, vecNs = 0L
    val (plain, plainNs, traced, tracedNs) = ctx.phases { _ =>
      val t0 = System.nanoTime()
      val t1 = { pit(); System.nanoTime() }
      vector()
      val t2 = System.nanoTime()
      if (ctx.recorder.active || !ctx.tracing) { pitNs += t1 - t0; vecNs += t2 - t1 }
      t2 - t0
    }
    val reported = if (ctx.tracing) traced else plain
    val n = reported.size
    val layer = Map(
      "pit.rows_per_s" -> SpineRows * n / (pitNs / 1e9),
      "pit.vector_rows_per_s" -> in.nEntities * n / (vecNs / 1e9))
    val typical = Iter(Stats.median(reported.map(_.toDouble)).toLong, (SpineRows + in.nEntities).toDouble)
    (Outcome(plain, traced, plainNs, tracedNs, typical, layer), setupS)
  }
}
