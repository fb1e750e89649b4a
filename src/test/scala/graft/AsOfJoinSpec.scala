package graft

import org.apache.spark.sql.functions._
import graft.operators.AsOfJoin

/** Pins the reference's as-of semantics (SURVEY.md §5.3 edge cases):
  * empty match -> null (feature_registry.py:486-487), exclusion of facts
  * after as_of (:483), inclusive <=, and the (ts, tie) desc tie-break.
  *
  * "locf" in a test name is that semantics (last observation carried
  * forward): the join under test is [[AsOfJoin.native]] or a variant over
  * it, and the reference is the literal answer on the edge cases or
  * [[AsOfJoin.thetaWindow]], the naive oracle.
  */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def facts = Seq(
    // key, ts, tie, value
    ("u1", ts("2024-01-01 00:00:00"), 1L, 10.0),
    ("u1", ts("2024-01-05 00:00:00"), 2L, 20.0),
    ("u1", ts("2024-01-05 00:00:00"), 3L, 30.0), // equal-ts tie: higher tie wins
    ("u1", ts("2024-01-09 00:00:00"), 4L, 40.0), // after spine ts: excluded
    ("u2", ts("2024-01-08 00:00:00"), 5L, 50.0)
  ).toDF("k", "fts", "tie", "v")

  private def spine = Seq(
    ("u1", ts("2024-01-05 00:00:00"), "s1"), // exactly at fact ts: inclusive
    ("u1", ts("2024-01-02 00:00:00"), "s2"),
    ("u2", ts("2024-01-01 00:00:00"), "s3"), // before all u2 facts: null
    ("u3", ts("2024-01-05 00:00:00"), "s4")  // key with no facts: null
  ).toDF("k", "sts", "tag")

  private def run(f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, Seq[String], String, String, Seq[String], String, String) => org.apache.spark.sql.DataFrame) =
    f(spine, facts, Seq("k"), "sts", "fts", Seq("v"), "tie", "")
      .select("tag", "v")
      .collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1)))
      .toMap

  // the as-of answer on the edge cases above
  private val edgeAnswer = Map[String, Any](
    "s1" -> 30.0, // equal-ts fact visible; tie 3 beats tie 2
    "s2" -> 10.0,
    "s3" -> null, // no fact <= as_of
    "s4" -> null) // unknown key

  // rows ordered by tag, every column rendered
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("tag").collect().map(_.toString).toSeq

  // generated data: equal-(key, ts) facts recur every 168 rows with rising
  // ties, and spine keys u7/u8 have no facts
  private def genFacts = (1 to 500).map { i =>
    (s"u${i % 7}", ts(f"2024-01-${i % 28 + 1}%02d ${i % 24}%02d:00:00"), i.toLong, i.toDouble)
  }.toDF("k", "fts", "tie", "v")
  private def genSpine = (1 to 200).map { i =>
    (s"u${i % 9}", ts(f"2024-01-${(i * 3) % 28 + 1}%02d ${(i * 7) % 24}%02d:30:00"), s"s$i")
  }.toDF("k", "sts", "tag")

  test("locf: inclusive <=, tie-break max tie, null when empty") {
    assert(run(AsOfJoin.native) == edgeAnswer)
  }

  test("thetaWindow agrees with locf on the edge cases") {
    assert(run(AsOfJoin.thetaWindow) == edgeAnswer)
  }

  test("native merge-scan exec agrees with locf on the edge cases") {
    // every output column, the carried fact timestamp included
    assert(rows(AsOfJoin.native(spine, facts, Seq("k"), "sts", "fts", Seq("v"), "tie")) ==
      rows(AsOfJoin.thetaWindow(spine, facts, Seq("k"), "sts", "fts", Seq("v"), "tie")))
  }

  test("native merge-scan exec agrees with locf on generated data") {
    assert(rows(AsOfJoin.native(genSpine, genFacts, Seq("k"), "sts", "fts", Seq("v"), "tie")) ==
      rows(AsOfJoin.thetaWindow(genSpine, genFacts, Seq("k"), "sts", "fts", Seq("v"), "tie")))
  }

  test("locf and thetaWindow agree on generated data") {
    // the as-of answer computed on the driver: for each spine row, the
    // value of the max-(ts, tie) fact of its key with ts <= the spine ts
    val fs = genFacts.collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    val expected = genSpine.collect().map { r =>
      val (k, sts, tag) = (r.getString(0), r.getTimestamp(1), r.getString(2))
      val hits = fs.filter(f => f._1 == k && !f._2.after(sts))
      tag -> (if (hits.isEmpty) null else hits.maxBy(f => (f._2.getTime, f._3))._4)
    }.toMap[String, Any]
    assert(expected.values.exists(_ == null) && expected.values.exists(_ != null))
    val got = AsOfJoin.thetaWindow(genSpine, genFacts, Seq("k"), "sts", "fts", Seq("v"), "tie")
      .select("tag", "v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1)))
      .toMap[String, Any]
    assert(got == expected)
  }

  test("native coerces mismatched key types as unionByName does; the spine key keeps its type") {
    import org.apache.spark.sql.types.{IntegerType, StringType}
    // int keys 0..6 on the facts, 0..8 on the spine (7 and 8 have no facts)
    val intFacts = genFacts.withColumn("k", regexp_extract(col("k"), "\\d+", 0).cast("int"))
    val intSpine = genSpine.withColumn("k", regexp_extract(col("k"), "\\d+", 0).cast("int"))
    def check(sp: org.apache.spark.sql.DataFrame, f: org.apache.spark.sql.DataFrame) = {
      val out = AsOfJoin.native(sp, f, Seq("k"), "sts", "fts", Seq("v"), "tie")
      assert(out.schema("k").dataType == sp.schema("k").dataType)
      assert(rows(out) == rows(AsOfJoin.thetaWindow(sp, f, Seq("k"), "sts", "fts", Seq("v"), "tie")))
      assert(out.where(col("v").isNotNull).count() > 0L)
    }
    // an int spine key against long fact keys
    check(intSpine, intFacts.withColumn("k", col("k").cast("long")))
    // a string spine key against int fact keys
    val strSpine = intSpine.withColumn("k", col("k").cast("string"))
    assert(strSpine.schema("k").dataType == StringType && intFacts.schema("k").dataType == IntegerType)
    check(strSpine, intFacts)
    // a pair with no common type is still refused
    intercept[IllegalArgumentException](AsOfJoin.native(
      intSpine, intFacts.withColumn("k", to_date(col("fts"))), Seq("k"), "sts", "fts", Seq("v"), "tie"))
  }

  test("native exec participates in whole-stage codegen; codegen == interpreted output") {
    val (f, s) = (genFacts, genSpine)
    def result() = rows(AsOfJoin.native(s, f, Seq("k"), "sts", "fts", Seq("v"), "tie"))

    val withCodegen = result()
    // the exec must actually be INSIDE a WholeStageCodegen span (marked *(n));
    // materialize first — under AQE the final plan only exists post-execution
    val df = AsOfJoin.native(s, f, Seq("k"), "sts", "fts", Seq("v"), "tie")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("AsOfJoin") && l.contains("*")), s"exec not codegen'd:\n$plan")

    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(result() == withCodegen)
    finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("codegen'd as-of join runs under spark.testing, with and without a limit") {
    // under spark.testing Spark raises an internal error when a node that
    // is neither a leaf nor blocking calls limitNotReachedCond in its loop
    val want = rows(AsOfJoin.thetaWindow(genSpine, genFacts, Seq("k"), "sts", "fts", Seq("v"), "tie"))
    val prev = Option(System.getProperty("spark.testing"))
    System.setProperty("spark.testing", "true")
    try {
      val joined = AsOfJoin.native(genSpine, genFacts, Seq("k"), "sts", "fts", Seq("v"), "tie")
      assert(rows(joined) == want)
      val limited = joined.limit(7).collect().map(_.toString).toSeq
      assert(limited.size == 7 && limited.forall(want.contains), limited.mkString("\n"))
    } finally prev.fold(System.clearProperty("spark.testing"))(System.setProperty("spark.testing", _))
  }

  test("optimizer rule pushes spine-only filters below the native as-of node") {
    val out = AsOfJoin.native(spine, facts, Seq("k"), "sts", "fts", Seq("v"), "tie")
      .where(col("tag") === "s1")
    // semantics: filter applies, result unchanged vs filtering after collect
    val viaFilter = out.collect().map(r => r.getString(2)).toSeq
    assert(viaFilter == Seq("s1"))
    // plan: the Filter moved below AsOfJoinExec (no Filter above it)
    val plan = out.queryExecution.optimizedPlan
    val topIsFilterOverAsOf = plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.child.isInstanceOf[org.apache.spark.sql.graft.asof.AsOfJoinNode] => f
    }
    assert(topIsFilterOverAsOf.isEmpty, s"filter not pushed:\n$plan")
  }

  test("locfSalted agrees with locf (edge cases and generated data)") {
    def runSalted(sp: org.apache.spark.sql.DataFrame, f: org.apache.spark.sql.DataFrame) =
      AsOfJoin.locfSalted(sp, f, Seq("k"), "sts", "fts", Seq("v"), "tie", saltBuckets = 4)
    val edge = runSalted(spine, facts).select("tag", "v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(edge == edgeAnswer)

    val f = (1 to 400).map { i =>
      (s"u${i % 5}", ts(f"2024-01-${i % 28 + 1}%02d ${i % 24}%02d:00:00"), i.toLong, i.toDouble)
    }.toDF("k", "fts", "tie", "v")
    val s = (1 to 150).map { i =>
      (s"u${i % 6}", ts(f"2024-01-${(i * 5) % 28 + 1}%02d ${(i * 11) % 24}%02d:30:00"), s"s$i")
    }.toDF("k", "sts", "tag")
    assert(rows(runSalted(s, f)) ==
      rows(AsOfJoin.thetaWindow(s, f, Seq("k"), "sts", "fts", Seq("v"), "tie")))
  }

  test("native and thetaWindow keep null-key rows, matching a null-key fact") {
    // null is a key value: a null-key spine row matches the null-key fact
    // in the native exec and in the thetaWindow oracle alike
    val f = Seq(("u1", ts("2024-01-01 00:00:00"), 1L, 10.0),
      (null.asInstanceOf[String], ts("2024-01-02 00:00:00"), 2L, 99.0))
      .toDF("k", "fts", "tie", "v")
    val s = Seq(("u1", ts("2024-01-05 00:00:00"), "s1"),
      (null.asInstanceOf[String], ts("2024-01-05 00:00:00"), "s_null"))
      .toDF("k", "sts", "tag")
    def out(df: org.apache.spark.sql.DataFrame) = df.select("tag", "v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    val viaNative = out(AsOfJoin.native(s, f, Seq("k"), "sts", "fts", Seq("v"), "tie"))
    assert(viaNative == Map("s1" -> 10.0, "s_null" -> 99.0)) // null is a key value
    assert(out(AsOfJoin.thetaWindow(s, f, Seq("k"), "sts", "fts", Seq("v"), "tie")) == viaNative)
  }

  test("locfBounded: stale matches null out, in-window matches identical to locf") {
    // tolerance 4 days: s1 matches the 01-05 fact (0s old, kept); s2's
    // match is the 01-01 fact (1 day old, kept); with tolerance 0 only
    // exact-timestamp matches survive
    val wide = AsOfJoin.locfBounded(spine, facts, Seq("k"), "sts", "fts", Seq("v"), "tie",
      toleranceSec = 4L * 86400)
      .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(wide("s1").contains(30.0) && wide("s2").contains(10.0))
    assert(wide("s3").isEmpty && wide("s4").isEmpty)

    val tight = AsOfJoin.locfBounded(spine, facts, Seq("k"), "sts", "fts", Seq("v"), "tie",
      toleranceSec = 0L)
      .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(tight("s1").contains(30.0), "an exactly-at-ts match is age 0, inside any tolerance")
    assert(tight("s2").isEmpty, "a 1-day-old match must null out under tolerance 0")

    // equivalence: bounded with a huge tolerance == the plain join
    val loose = AsOfJoin.locfBounded(spine, facts, Seq("k"), "sts", "fts", Seq("v"), "tie",
      toleranceSec = 365L * 86400)
      .select("tag", "v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(loose == run(AsOfJoin.native))
  }

  test("spine passthrough columns and timestamp column survive") {
    val out = AsOfJoin.native(spine, facts, Seq("k"), "sts", "fts", Seq("v"), "tie")
    assert(out.columns.toSeq == Seq("k", "sts", "tag", "v", "fts__timestamp"))
  }

  // k-slot facts: the edge-case facts in slot 0; generated facts spread
  // over slots 1 and 2, slot 2 only for keys u0..u2; null-key facts in
  // slots 0 and 1; slot 9 is never requested and slot 3 holds no facts
  private def slotFacts = facts.withColumn("slot", lit(0))
    .unionByName(genFacts.withColumn("slot", when(col("tie") % 2 === 0 && col("k") <= "u2", 2).otherwise(1)))
    .unionByName(Seq(
      (null.asInstanceOf[String], ts("2024-01-02 00:00:00"), 900L, 99.0, 0),
      (null.asInstanceOf[String], ts("2024-01-20 00:00:00"), 901L, 98.0, 1),
      ("u1", ts("2024-01-01 00:00:00"), 902L, -1.0, 9)).toDF("k", "fts", "tie", "v", "slot"))
  private def slotSpine = spine.unionByName(genSpine.withColumn("tag", concat(lit("g"), col("tag"))))
    .unionByName(Seq(
    (null.asInstanceOf[String], ts("2024-01-25 00:00:00"), "s_null")).toDF("k", "sts", "tag"))
  private val slotNames = Seq(0 -> "a", 1 -> "b", 2 -> "c", 3 -> "d")

  // the k-slot answer as a per-slot fold of the naive oracle
  private def slotFold(sp: org.apache.spark.sql.DataFrame, f: org.apache.spark.sql.DataFrame) =
    slotNames.foldLeft(sp) { case (acc, (v, n)) =>
      AsOfJoin.thetaWindow(acc, f.where(col("slot") === v), Seq("k"), "sts", "fts", Seq("v"), "tie")
        .withColumnRenamed("v", n).withColumnRenamed("fts__timestamp", s"${n}__timestamp")
    }

  test("nativeSlots equals a per-slot thetaWindow fold, with codegen on and off") {
    val (sp, f) = (slotSpine, slotFacts)
    val expected = slotFold(sp, f)
    def slotted = AsOfJoin.nativeSlots(sp, f, Seq("k"), "sts", "fts", "v", "tie", "slot", slotNames)
    assert(slotted.columns.toSeq == expected.columns.toSeq)
    val want = rows(expected)
    // the cases the fixture must exercise
    val byTag = expected.collect().map(r => r.getAs[String]("tag") -> r).toMap
    assert(byTag("s1").getAs[Double]("a") == 30.0 && byTag("s_null").getAs[Double]("b") == 98.0)
    assert(expected.where(col("d").isNotNull).isEmpty, "slot 3 has no facts")
    assert(!expected.where(col("c").isNull && col("b").isNotNull).isEmpty, "keys only in some slots")

    val df = slotted
    assert(rows(df) == want)
    df.collect() // under AQE the final plan only exists post-execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("AsOfJoin") && l.contains("*")), s"not codegen'd:\n$plan")
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(rows(slotted) == want)
    finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("nativeSlots with one slot equals native; an empty slot list passes the spine through") {
    val one = AsOfJoin.nativeSlots(genSpine, genFacts.withColumn("slot", lit(7)),
      Seq("k"), "sts", "fts", "v", "tie", "slot", Seq(7 -> "v"))
      .withColumnRenamed("v__timestamp", "fts__timestamp")
    assert(rows(one) == rows(AsOfJoin.native(genSpine, genFacts, Seq("k"), "sts", "fts", Seq("v"), "tie")))
    val none = AsOfJoin.nativeSlots(spine, facts.withColumn("slot", lit(0)),
      Seq("k"), "sts", "fts", "v", "tie", "slot", Seq.empty)
    assert(none.columns.toSeq == spine.columns.toSeq && rows(none) == rows(spine))
  }

  test("a8_resample: dense daily grid, LOCF fill, nulls before first event") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("a8_resample")(spark, dir).cache()
    val ev = graft.sources.Tables.events(spark, dir)

    // dense grid: every user × every day in the span, exactly once
    val users = ev.select("user_id").distinct().count()
    assert(out.count() == users * 11) // 2024-01-10 .. 2024-01-20 inclusive
    assert(out.groupBy("user_id", "day").count().where(col("count") =!= 1).isEmpty)

    // LOCF correctness per cell: carried last_ts is the max event ts <= day end
    val expected = ev.select(col("user_id"), col("ts"))
      .join(out.select("user_id", "day"), Seq("user_id"))
      .where(col("ts") < (to_date(col("day")) + expr("interval 1 day")).cast("timestamp"))
      .groupBy("user_id", "day").agg(max("ts").as("exp_ts"))
    val joined = out.join(expected, Seq("user_id", "day"), "left")
    assert(joined.where(
      (col("last_ts").isNull && col("exp_ts").isNotNull) ||
      (col("last_ts").isNotNull && col("last_ts") =!= col("exp_ts"))).isEmpty)

    // a day strictly before a user's first event carries null value AND null ts
    assert(out.where(col("last_ts").isNull && col("value").isNotNull).isEmpty)
    out.unpersist()
  }
}
