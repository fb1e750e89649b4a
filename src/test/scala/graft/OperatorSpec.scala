package graft

import org.apache.spark.sql.functions._
import graft.operators._
import graft.functions.Fns

class OperatorSpec extends SparkSpec {
  import spark.implicits._

  test("PivotVector: explicit-null contract + round trip") {
    val eav = Seq(
      ("u1", "f1", 1.0, ts("2024-01-01 00:00:00"), 1L),
      ("u1", "f1", 2.0, ts("2024-01-02 00:00:00"), 2L),
      ("u2", "f2", 3.0, ts("2024-01-01 00:00:00"), 3L)
    ).toDF("e", "name", "v", "t", "id")
    val wide = PivotVector.toVector(eav, "e", "name", "v", "t", "id", Seq("f1", "f2", "f3"))
    assert(wide.columns.toSeq == Seq("e", "f1", "f2", "f3"))
    val m = wide.collect().map(r => r.getString(0) -> (r.get(1), r.get(2), r.get(3))).toMap
    assert(m("u1") == ((2.0, null, null))) // latest f1; f2/f3 explicit null
    assert(m("u2") == ((null, 3.0, null)))

    val long = PivotVector.toEav(wide, "e", Seq("f1", "f2", "f3"))
    assert(long.where($"value".isNotNull).count() == 2)
  }

  test("PivotVector: one aggregate over one hash shuffle, equal to groupBy.pivot") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Walk extends AdaptiveSparkPlanHelper
    // equal (t, id) ties across names, a null value, a null timestamp and
    // an entity whose only rows are of an unrequested name
    val eav = (1 to 300).map { i =>
      (s"u${i % 11}", s"f${i % 4}", if (i % 37 == 0) None else Some(i.toDouble),
        if (i % 53 == 0) None else Some(ts(f"2024-01-${i % 9 + 1}%02d 00:00:00")), (i % 5).toLong)
    }.toDF("e", "name", "v", "t", "id")
    def pivoted(names: Seq[String]) = eav.where($"name".isin(names: _*)).groupBy($"e").pivot("name", names)
      .agg(max_by($"v", struct($"t", $"id")))
    def canon(df: org.apache.spark.sql.DataFrame) = df.orderBy("e").collect().toSeq
    for (names <- Seq(Seq("f0", "f1", "f2", "f9"), Seq("f3"), Seq.empty[String])) {
      val wide = PivotVector.toVector(eav, "e", "name", "v", "t", "id", names)
      assert(wide.schema == pivoted(names).schema, names)
      assert(canon(wide) == canon(pivoted(names)), names)
    }
    val wide = PivotVector.toVector(eav, "e", "name", "v", "t", "id", Seq("f0", "f1", "f2"))
    wide.collect()
    val shuffles = Walk.collect(wide.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(shuffles.size == 1, s"one hash shuffle:\n${wide.queryExecution.executedPlan}")
  }

  test("Freshness thresholds incl. boundaries and null -> expired") {
    val now = lit("2024-01-02 00:00:00").cast("timestamp")
    val df = Seq(
      ("boundary_fresh", ts("2024-01-01 23:00:00")), // exactly 3600s
      ("fresh", ts("2024-01-01 23:30:00")),
      ("stale", ts("2024-01-01 10:00:00")),
      ("boundary_stale", ts("2024-01-01 00:00:00")), // exactly 86400s
      ("expired", ts("2023-12-25 00:00:00"))
    ).toDF("tag", "t")
      .union(Seq(("missing", null.asInstanceOf[java.sql.Timestamp])).toDF("tag", "t"))
    val m = df.withColumn("f", Freshness.freshness($"t", now))
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(m("boundary_fresh") == "fresh")
    assert(m("fresh") == "fresh")
    assert(m("stale") == "stale")
    assert(m("boundary_stale") == "stale")
    assert(m("expired") == "expired")
    assert(m("missing") == "expired")
  }

  test("Rbac: deny -> null, overlap -> visible, non-PHI always visible") {
    val df = Seq(
      ("open", "none", Seq.empty[String], 1.0),
      ("phi_ok", "direct", Seq("doctor", "admin"), 2.0),
      ("phi_denied", "direct", Seq("billing"), 3.0)
    ).toDF("tag", "phi", "roles", "v")
    val m = df.withColumn("masked", Rbac.mask($"v", $"phi", $"roles", Seq("doctor")))
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(4)) null else r.getDouble(4))).toMap
    assert(m("open") == 1.0)
    assert(m("phi_ok") == 2.0)
    assert(m("phi_denied") == null)
  }

  test("Rbac registration constraint: PHI requires roles") {
    val df = Seq(
      ("ok_none", "none", Seq.empty[String]),
      ("ok_phi", "direct", Seq("doctor")),
      ("bad_phi", "indirect", Seq.empty[String]),
      ("bad_level", "secret", Seq("doctor"))
    ).toDF("tag", "phi", "roles")
    val ok = df.where(Rbac.registrationValid($"phi", $"roles")).select("tag").as[String].collect().toSet
    assert(ok == Set("ok_none", "ok_phi"))
  }

  test("Validation routes invalid rows with reasons") {
    val df = Seq(
      ("e1", "click", Some(1.0)),
      ("e2", "unknown", Some(2.0)),
      ("e3", "click", None)
    ).toDF("id", "typ", "v")
    val m = Validation.withValidation(df, "typ", "v", Seq("click", "view"))
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(m("e1") == null)
    assert(m("e2") == "feature_not_active")
    assert(m("e3") == "null_value")
  }

  test("Fns.featureId matches the reference scheme shape") {
    val r = Seq(("hr", "1.0.0", "patient")).toDF("n", "ver", "et")
      .select(Fns.featureId($"n", $"ver", $"et").as("id")).as[String].head()
    assert(r.startsWith("feat_") && r.length == 21) // feat_ + 16 hex
    assert(r.drop(5).forall(c => "0123456789abcdef".contains(c)))
  }

  test("scrub redacts planted PHI identifiers and denylist terms, leaves clean text alone") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "patient SSN 123-45-6789 called from 555-123-4567"),
      (2L, "contact jane.doe+x@example-hospital.org re chart MRN-12345678"),
      (3L, "the quick brown fox"), // nothing to redact
      (4L, "Project Nightingale customer record") // denylist term only
    ).toDF("id", "text")
    val out = df.select($"id", TextAnalysis.scrub($"text", denylist = Seq("Nightingale", "customer")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "patient SSN [REDACTED] called from [REDACTED]")
    assert(out(2L) == "contact [REDACTED] re chart [REDACTED]")
    assert(out(3L) == "the quick brown fox")
    assert(out(4L) == "Project [REDACTED] [REDACTED] record")
  }

  test("tokens/tokenCount ignore edge whitespace: no phantom empty tokens") {
    import graft.operators.TextAnalysis
    // Spark trim() strips only ' ' and split keeps edge empties, so these
    // used to count phantom "" tokens at the boundaries
    val df = Seq(
      (1L, "hello world\n"), (2L, "\thello"), (3L, "\n"), (4L, ""), (5L, "  a  ")
    ).toDF("id", "text")
    val counts = df.select($"id", Fns.tokenCount($"text").as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(counts == Map(1L -> 2, 2L -> 1, 3L -> 0, 4L -> 0, 5L -> 1))
    val toks = df.where($"id" === 1L)
      .select(TextAnalysis.tokens($"text")).as[Seq[String]].head()
    assert(toks == Seq("hello", "world"))
  }

  test("scrub: case-variant denylist terms die; '$' in the replacement is literal") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "Customer data and KEY material"), // sentence-case / all-caps
      (2L, "ssn 123-45-6789 here")
    ).toDF("id", "text")
    val out = df.select($"id",
        TextAnalysis.scrub($"text", denylist = Seq("customer", "key")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "[REDACTED] data and [REDACTED] material")
    // a replacement containing '$0' must stay literal — Java replacement
    // group references would re-insert the matched PHI
    val dollar = df.where($"id" === 2L)
      .select(TextAnalysis.scrub($"text", replacement = "<$0>").as("t"))
      .as[String].head()
    assert(dollar == "ssn <$0> here")
  }

  test("tfidf: blank rows do not inflate idf (N and df share the token-bearing basis)") {
    val docs = Seq(
      (1L, "shared zebra"), (2L, "shared"), (3L, ""), (4L, "   ")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(2)) -> r.getDouble(4)).toMap
    // 'shared' is in BOTH token-bearing docs: idf must be ln(2/2) = 0, not
    // ln(4/2) — blank rows previously counted into N but never into df
    assert(out((1L, "shared")) == 0.0 && out((2L, "shared")) == 0.0)
    assert(out((1L, "zebra")) > 0.0)
  }

  test("withSplit is deterministic, exhaustive, and stable under repartitioning") {
    import graft.operators.Sampling
    val df = spark.range(0, 1000).toDF("id")
    val a = Sampling.withSplit(df, "id").groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a.values.sum == 1000L)
    assert(a("train") > 700 && a("val") > 50 && a("test") > 50) // ~80/10/10
    val b = Sampling.withSplit(df.repartition(7), "id").groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
    // ids at stride 100 (shard*100 allocation patterns) must still spread
    // ~80/10/10 — a (id*K) % 100 bucket collapses them into ONE split
    val strided = spark.range(0, 100000, 100).toDF("id")
    val c = Sampling.withSplit(strided, "id").groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(c.size == 3 && c("train") > 700 && c("val") > 50 && c("test") > 50, c.toString)
    // and 64-bit ids must not overflow under ANSI mode
    val big = Seq(Long.MaxValue, 3474701544L, 9999999999L).toDF("id")
    assert(Sampling.withSplit(big, "id").count() == 3L)
  }

  test("domainMix keeps ~target percent per source, drops unlisted sources, stays split-consistent") {
    import graft.operators.Sampling
    val df = spark.range(0, 4000)
      .selectExpr("id", "concat('s', id % 4) AS source") // 1000 ids per source
    val mixed = Sampling.domainMix(df, "source", "id", Map("s0" -> 80, "s1" -> 25, "s2" -> 0))
    val n = mixed.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!n.contains("s3") && !n.contains("s2")) // unlisted and 0% both empty
    assert(n("s0") > 700 && n("s0") < 900, n.toString) // ~80% of 1000
    assert(n("s1") > 180 && n("s1") < 320, n.toString) // ~25% of 1000
    // mixture uses the SAME hash as the split: every surviving s0 row with
    // bucket < 80 is exactly the train+val+test prefix withSplit carves up,
    // so applying the mix never skews a later split's proportions
    val survivors = Sampling.withSplit(mixed.where($"source" === "s0"), "id")
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(survivors.getOrElse("train", 0L) == n("s0")) // bucket<80 == train
  }

  test("tokenBudget takes docs in hash order until each source's budget fills") {
    import graft.operators.Sampling
    val df = spark.range(0, 400)
      .selectExpr("id", "concat('s', id % 2) AS source", "10 + id % 5 AS n_tokens")
    val kept = Sampling.tokenBudget(df, "source", "id", "n_tokens", budget = 300L).cache()
    val bySource = kept.groupBy("source")
      .agg(sum("n_tokens").as("tot"), max("cum_tokens").as("maxcum"), count("*").as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    bySource.foreach { case (src, (tot, maxcum, n)) =>
      assert(tot == maxcum, s"$src: cum_tokens must equal the selected running sum")
      assert(tot >= 300L, s"$src: budget must be reached ($tot)")
      assert(tot - 300L < 15L, s"$src: overshoot is bounded by one doc ($tot)")
      assert(n < 200L, s"$src: selection must be a strict subset")
    }
    // deterministic under repartitioning
    val again = Sampling.tokenBudget(df.repartition(7), "source", "id", "n_tokens", 300L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again == kept.select("id").collect().map(_.getLong(0)).toSet)
    // a budget beyond the corpus keeps everything
    assert(Sampling.tokenBudget(df, "source", "id", "n_tokens", 1000000L).count() == 400L)
  }

  test("uniformSample: k smallest hashes per group, stable under repartition, append-monotone") {
    import graft.operators.Sampling
    val df = spark.range(0, 300).selectExpr("id", "concat('g', id % 3) AS g")
    def hash(id: Long) = ((id % 2147483648L) * 2654435761L) % 2147483648L
    val got = Sampling.uniformSample(df, "g", "id", 5).cache()
    val byGroup = got.collect().map(r => (r.getString(1), r.getLong(0))).groupBy(_._1)
    assert(byGroup.size == 3 && byGroup.values.forall(_.length == 5))
    // exactly the 5 smallest hashes per group (Scala-side replay)
    (0 to 2).foreach { gi =>
      val expect = (0L until 300L).filter(_ % 3 == gi).sortBy(id => (hash(id), id)).take(5).toSet
      assert(byGroup(s"g$gi").map(_._2).toSet == expect, s"group g$gi")
    }
    val again = Sampling.uniformSample(df.repartition(7), "g", "id", 5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again == got.select("id").collect().map(_.getLong(0)).toSet)
    // append-monotone: one new row changes at most one survivor in its group
    val grown = Sampling.uniformSample(
      df.unionByName(Seq((1000L, "g1")).toDF("id", "g")), "g", "id", 5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert((got.select("id").collect().map(_.getLong(0)).toSet -- grown).size <= 1)
  }

  test("prioritySample: k largest integer priorities per group; weight raises inclusion odds") {
    import graft.operators.Sampling
    val df = spark.range(0, 200)
      .selectExpr("id", "concat('g', id % 2) AS g", "1 + cast(id % 7 as bigint) AS wt")
    def hash(id: Long) = ((id % 2147483648L) * 2654435761L) % 2147483648L
    def prio(id: Long, w: Long) = w * 2147483648L / (hash(id) + 1)
    val got = Sampling.prioritySample(df, "g", "id", "wt", 4).cache()
    val byGroup = got.collect()
      .map(r => (r.getString(1), (r.getLong(0), r.getAs[Long]("priority")))).groupBy(_._1)
    assert(byGroup.size == 2 && byGroup.values.forall(_.length == 4))
    (0 to 1).foreach { gi =>
      val expect = (0L until 200L).filter(_ % 2 == gi)
        .sortBy(id => (-prio(id, 1 + id % 7), id)).take(4)
        .map(id => id -> prio(id, 1 + id % 7)).toSet
      assert(byGroup(s"g$gi").map(_._2).toSet == expect, s"group g$gi replays in Scala")
    }
    // partition-stability
    val again = Sampling.prioritySample(df.repartition(7), "g", "id", "wt", 4)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again == got.select("id").collect().map(_.getLong(0)).toSet)
    // weight proportionality: doubling every weight cannot change the ranking,
    // but concentrating weight on one row must pull it into the sample
    val heavy = df.withColumn("wt", when(col("id") === 13L, lit(100000L)).otherwise(lit(1L)))
    val ids = Sampling.prioritySample(heavy, "g", "id", "wt", 4)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids.contains(13L), "a dominant weight must win a slot")
  }

  test("quantileBins: closed-form quartiles on a small group; bins partition the data") {
    import graft.operators.Scaling
    // group a: values 1..8 -> quartile boundaries 2.75, 4.5, 6.25 (type-7)
    val df = ((1 to 8).map(v => ("a", v.toDouble)) :+ ("b", 5.0))
      .toDF("g", "v")
    val got = Scaling.quantileBins(df, "v", Seq("g"), Seq(0.25, 0.5, 0.75))
      .collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Double]("v")) -> r.getAs[Int]("bin")).toMap
    val expectA = Map(1.0 -> 1, 2.0 -> 1, 3.0 -> 2, 4.0 -> 2, 5.0 -> 3, 6.0 -> 3, 7.0 -> 4, 8.0 -> 4)
    expectA.foreach { case (v, b) => assert(got(("a", v)) == b, s"value $v") }
    // a single-row group: its value equals every boundary -> bin 1
    assert(got(("b", 5.0)) == 1)
    // null value -> null bin (never bin probs.size+1)
    val withNull = Scaling.quantileBins(
      df.unionByName(Seq(("a", Option.empty[Double])).toDF("g", "v")), "v", Seq("g"),
      Seq(0.25, 0.5, 0.75))
    assert(withNull.where(col("v").isNull).select("bin").collect().head.isNullAt(0))
  }

  test("stratifiedTopK keeps exactly k best rows per stratum with deterministic ties") {
    import graft.operators.Sampling
    val df = Seq(
      ("en", 1L, 0.9), ("en", 2L, 0.9), ("en", 3L, 0.5), ("en", 4L, 0.1),
      ("de", 5L, 0.7), ("de", 6L, 0.3)
    ).toDF("lang", "doc_id", "q")
    val out = Sampling.stratifiedTopK(df, "lang", "q", "doc_id", 2)
      .select("lang", "rank", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(("en", 1L, 1L), ("en", 2L, 2L), ("de", 1L, 5L), ("de", 2L, 6L)))
  }

  test("cosine: identical vectors -> 1.0, orthogonal -> 0.0") {
    val df = Seq(
      ("same", Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f, 3.0f)),
      ("orth", Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f))
    ).toDF("tag", "a", "b")
    val m = df.select($"tag", Fns.cosine($"a", $"b").as("c"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(m("same") - 1.0) < 1e-12)
    assert(math.abs(m("orth")) < 1e-12)
  }

  test("temperatureMix: smallest group kept whole; larger groups keep (n/nmin)^(1/T-1)") {
    val df = ((0 until 100).map(i => (i.toLong, "rare")) ++
      (100 until 500).map(i => (i.toLong, "big"))).toDF("doc_id", "lang")
    val kept = Sampling.temperatureMix(df, "lang", "doc_id", temperature = 2.0)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("rare") == 100L, "smallest group is never downsampled")
    // big keeps (400/100)^(1/2-1) = 50%: exactly the rows domainMix@50 keeps
    val expected = Sampling.domainMix(df.where($"lang" === "big"), "lang", "doc_id",
      Map("big" -> 50)).count()
    assert(kept("big") == expected)
    assert(kept("big") < 300L, "T=2 must cut the 4x group to ~half")
  }

  test("epochPlan: hand-computed weights/epochs; over-repetition flag; null sources dropped") {
    // sources: a=100 tokens, b=400 tokens; T=2 -> weights ∝ sqrt(n):
    // z = 10 + 20 = 30; w_a = 1/3, w_b = 2/3. budget=1200 ->
    // target_a = 400 (epochs 4.0, NOT over the >4 ceiling),
    // target_b = 800 (epochs 2.0)
    val df = Seq(("a", 100.0), ("b", 150.0), ("b", 250.0),
      (null.asInstanceOf[String], 999.0)).toDF("src", "n_tok")
    val out = Sampling.epochPlan(df, "src", "n_tok", budget = 1200L, temperature = 2.0)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4), r.getBoolean(5))).toMap
    assert(out.keySet == Set("a", "b"), "null sources must not enter the plan")
    assert(out("a") == (100L, 0.333333, 400L, 4.0, false))
    assert(out("b") == (400L, 0.666667, 800L, 2.0, false))
    // shrink the corpus share: budget far above availability flags repetition
    val tight = Sampling.epochPlan(
      Seq(("a", 100.0), ("b", 10000.0)).toDF("src", "n_tok"),
      "src", "n_tok", budget = 50000L, temperature = 1.0)
      .collect().map(r => r.getString(0) -> (r.getDouble(4), r.getBoolean(5))).toMap
    // T=1: w_a = 100/10100 -> target 495 -> epochs 4.95 > 4 (flagged);
    // w_b -> target 49505 -> epochs 4.9505 > 4 (flagged)
    assert(tight("a")._2 && tight("b")._2, s"over-repetition must flag: $tight")
  }

  test("Scaling: z-score and min-max per group; constant group -> 0, nulls stay null") {
    val df = Seq(
      ("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(3.0)), ("a", None),
      ("c", Some(7.0)), ("c", Some(7.0)) // constant group
    ).toDF("g", "v")
      .union(Seq((null.asInstanceOf[String], Some(5.0))).toDF("g", "v")) // null group key
    val scaled = Scaling.minMax(Scaling.standardize(df, "v", Seq("g"), "z"), "v", Seq("g"), "mm")
    assert(scaled.count() == 7L, "a null group key must never drop rows")
    assert(scaled.where($"g".isNull).select("z").collect().head.getDouble(0) == 0.0,
      "singleton null group: sd undefined -> 0")
    val out = scaled.where($"g".isNotNull).select("g", "v", "z", "mm")
      .collect().map(r => (r.getString(0), Option(r.get(1))) ->
        (Option(r.get(2)), Option(r.get(3)))).toMap
    assert(out(("a", Some(2.0))) == ((Some(0.0), Some(0.5)))) // mean of 1,2,3; mid of range
    assert(out(("a", None)) == ((None, None)), "null value scales to null")
    assert(out(("c", Some(7.0))) == ((Some(0.0), Some(0.0))), "constant group -> 0, not NaN")
    val za = out(("a", Some(3.0)))._1.get.asInstanceOf[Double]
    assert(math.abs(za - 1.0) < 1e-12) // (3-2)/stddev_samp(1,2,3)=1.0
  }

  test("Rank: distributed ntile matches Spark's single-task NTILE window; rank is dense 1..n") {
    val df = (1 to 23).map(i => (i.toLong, (i * 7 % 23).toLong)).toDF("id", "v")
    val sortCols = Seq(col("v"), col("id"))
    val ours = Rank.withNtile(df.repartition(6), sortCols, 4, "b")
      .select("id", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = df.withColumn("b",
        ntile(4).over(org.apache.spark.sql.expressions.Window.orderBy(sortCols: _*)))
      .select("id", "b").collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(ours == ref) // 23 rows / 4 buckets: first 3 buckets get 6, last gets 5

    val ranks = Rank.withGlobalRank(df.repartition(5), sortCols, "r")
      .select("r").collect().map(_.getLong(0)).sorted
    assert(ranks.toSeq == (1L to 23L))

    // n < k: every row lands in its own bucket, no division-by-zero
    val tiny = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "v")
    val tb = Rank.withNtile(tiny, Seq(col("v")), 10, "b")
      .select("v", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tb == Set((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("tfidfTopTerms: distinctive terms outrank ubiquitous ones; ubiquitous idf is 0") {
    val docs = Seq(
      (1L, "shared shared zebra zebra zebra"),
      (2L, "shared quark"),
      (3L, "shared shared shared")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getDouble(4))).toMap
    // 'shared' appears in all 3 docs -> idf = ln(3/3) = 0, so it can never
    // outrank a distinctive term with positive idf
    assert(out((1L, 1L))._1 == "zebra")
    assert(out((2L, 1L))._1 == "quark")
    assert(out((1L, 1L))._2 > 0.0)
    // doc 3 has only the zero-idf term: its top entry scores exactly 0
    assert(out((3L, 1L)) == ("shared", 0.0))
  }

  test("bm25: more query-term mass ranks higher; docs without query terms absent; tf saturates") {
    val docs = Seq(
      (1L, "table join merge table"), // all three terms, extra tf
      (2L, "table filler filler filler filler filler filler filler"), // one term, long doc
      (3L, "table"),                  // one term, short doc -> beats 2 on length norm
      (4L, "nothing relevant here")
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.bm25(docs, "doc_id", "text",
      queryTerms = Seq("table", "join", "merge"), k = 10).collect()
    val ids = rows.map(_.getLong(0)).toSeq
    assert(!ids.contains(4L), "doc without any query term must not score")
    assert(ids.head == 1L, "doc hitting all query terms ranks first")
    val score = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(score(3L) > score(2L), "shorter doc with same tf wins on length normalization")
    val hits = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(hits(1L) == 3L && hits(2L) == 1L)
  }

  test("gopherQuality: published rule battery — closed forms and the clean flag") {
    import graft.operators.TextAnalysis
    val longDoc = ("word " * 60).trim // 60 words, mean len 4, one line, no rule trips
    val dupLines = "alpha beta\nalpha beta\ngamma delta" // 1 of 3 lines duplicates
    val bullets = "- one\n- two\n- three"
    val docs = Seq(
      (1L, longDoc), (2L, dupLines), (3L, bullets), (4L, "")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherQuality(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(10), "a 60-word plain doc passes the battery")
    assert(math.abs(out(2L).getDouble(8) - 1.0 / 3.0) < 1e-3, "dup_line_frac = 1/3")
    // line chars 10+10+11 = 31; distinct 10+11 = 21 -> dup chars 10/31
    assert(math.abs(out(2L).getDouble(9) - (1.0 - 21.0 / 31.0)) < 1e-3)
    assert(out(3L).getDouble(6) == 1.0, "all-bullet doc: bullet_start_frac = 1")
    assert(!out(3L).getBoolean(10), "bullet doc fails (word count AND bullet rule)")
    assert(!out(4L).getBoolean(10) && out(4L).isNullAt(3),
      "empty doc: null ratios, clean = false (not null)")
  }

  test("spanDuplicates: C4 three-sentence-span dedup — shared spans found, keeper is min id") {
    import graft.operators.Dedup
    // docs 1 and 2 share sentences B C D (one 3-span); doc 3 repeats its own
    // span twice (A B C A B C -> spans ABC, BCA, CAB, ABC); doc 4 too short
    val d1 = "Aa aa. Bb bb. Cc cc. Dd dd."
    val d2 = "Zz zz! Bb bb. Cc cc. Dd dd."
    val d3 = "Pp. Qq. Rr. Pp. Qq. Rr."
    val docs = Seq((1L, d1), (2L, d2), (3L, d3), (4L, "One. Two.")).toDF("doc_id", "text")
    val out = Dedup.spanDuplicates(docs, "doc_id", "text", k = 3).collect()
    // cross-doc: "Bb bb Cc cc Dd dd" occurs in docs 1 and 2; within-doc:
    // "Pp Qq Rr" occurs twice in doc 3 — exactly two duplicated spans
    assert(out.length == 2)
    val byDocs = out.map(r => (r.getLong(2), r.getLong(1), r.getLong(3))).toSet
    assert(byDocs.contains((2L, 2L, 1L)), "cross-doc span: 2 docs, 2 occurrences, keeper 1")
    assert(byDocs.contains((1L, 2L, 3L)), "within-doc span: 1 doc, 2 occurrences, keeper 3")
    // word unit (the Lee et al. ExactSubstr window form): docs sharing a
    // 4-word run are caught even with no punctuation at all
    val wdocs = Seq(
      (1L, "alpha beta gamma delta unique1"),
      (2L, "unique2 alpha beta gamma delta"),
      (3L, "nothing shared here at all")).toDF("doc_id", "text")
    val wout = Dedup.spanDuplicates(wdocs, "doc_id", "text", k = 4, unit = "word").collect()
    assert(wout.length == 1 && wout(0).getLong(2) == 2 && wout(0).getLong(3) == 1,
      "one shared 4-word window across docs 1 and 2")
    intercept[IllegalArgumentException] {
      Dedup.spanDuplicates(wdocs, "doc_id", "text", k = 3, unit = "line")
    }
  }

  test("c4Quality: line retention, sentence proxy, and the page verdict") {
    import graft.operators.TextAnalysis
    // 3 nonblank lines: line 1 kept (5 words, terminal '.'); line 2 dropped
    // (4 words); line 3 dropped (mentions javascript)
    val page = "alpha beta gamma delta epsilon.\nonly four words here.\n" +
      "enable javascript to view this content please."
    val clean = "one two three four five.\nsix seven eight nine ten!\n" +
      "ask a question mark here now?"
    val code = "val x = { 1 }\none two three four five six."
    val docs = Seq(
      (1L, page), (2L, clean), (3L, code), (4L, "lorem ipsum dolor sit amet today."), (5L, "")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.c4Quality(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 3 && out(1L).getLong(2) == 1, "1 of 3 lines retained")
    assert(math.abs(out(1L).getDouble(3) - 1.0 / 3.0) < 1e-3)
    assert(out(1L).getLong(4) == 5 && out(1L).getLong(5) == 1, "5 kept words, 1 sentence")
    assert(!out(1L).getBoolean(8), "1 sentence < 3 -> page dropped")
    assert(out(2L).getLong(5) == 3 && out(2L).getBoolean(8), "3 sentences, no markers -> kept")
    assert(out(3L).getBoolean(7) && !out(3L).getBoolean(8), "curly brace kills the page")
    assert(out(4L).getBoolean(6) && !out(4L).getBoolean(8), "lorem ipsum kills the page")
    assert(out(5L).getLong(1) == 0 && out(5L).isNullAt(3) && !out(5L).getBoolean(8),
      "empty doc: 0 lines, null frac, dropped")
  }

  test("zipfSlope: exactly -1 on a perfect Zipf corpus; degenerate slice is null") {
    import graft.operators.TextAnalysis
    // counts 6/3/2 at ranks 1/2/3 are EXACTLY freq = 6/rank — a perfect
    // Zipf corpus whose least-squares slope is -1 in closed form
    val docs = Seq(
      (1L, "a a a a a a b b b c c", "web"),
      (2L, "solo", "code") // single-term slice: zero x-variance
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.zipfSlope(docs, "text", "source")
      .collect().map(r => r.getString(0) -> (r.getLong(1), Option(r.get(2)))).toMap
    assert(out("web")._1 == 3L)
    assert(out("web")._2.contains(-1.0), s"perfect Zipf must fit slope -1, got ${out("web")._2}")
    assert(out("code")._2.isEmpty, "single-term slice has undefined slope (null, not NaN)")
  }

  test("bigramLogProb: closed form on a tiny corpus; context raises in-context tokens") {
    import graft.operators.TextAnalysis
    // corpus: "a b" x2, "a c" x1 -> N = 6 tokens
    // uni: a=3, b=2, c=1; bigrams: (a,b)=2, (a,c)=1
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val lam = 0.75
    val out = TextAnalysis.bigramLogProb(docs, "doc_id", "text", lambda = lam)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val n = 6.0
    def lp1(c: Double) = math.log(c / n)
    def lp2(bc: Double, pc: Double, c: Double) = math.log(lam * bc / pc + (1 - lam) * c / n)
    val exp1 = (lp1(3) + lp2(2, 3, 2)) / 2 // "a b": first=uni(a), second=interp(b|a)
    val exp3 = (lp1(3) + lp2(1, 3, 1)) / 2 // "a c"
    assert(out(1L)._1 == 2L && math.abs(out(1L)._2 - exp1) < 1e-3)
    assert(out(2L)._2 == out(1L)._2, "identical docs score identically")
    assert(math.abs(out(3L)._2 - exp3) < 1e-3)
    // the in-context token (b after a, p=0.75*2/3+0.25*2/6 ≈ 0.583) scores
    // far above its unigram (2/6): the bigram filter rewards fluent
    // continuations — the property the unigram proxy cannot express
    assert(out(1L)._2 > lp1(3) / 2 + lp1(2) / 2,
      "interpolated score must beat the pure-unigram mean for in-context text")
  }

  test("unigramLogProb: rare-vocabulary docs score more negative; uniform corpus scores ln(1/V)") {
    val docs = Seq(
      (1L, "common common common common"),
      (2L, "common rareword")
    ).toDF("doc_id", "text")
    val m = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(m(1L)._2 == 4L && m(2L)._2 == 2L)
    assert(m(2L)._1 < m(1L)._1, "doc containing the rare token must score lower")
    // doc 1: all tokens p = 5/6 -> mean ln(5/6); doc 2: mean of ln(5/6), ln(1/6)
    assert(math.abs(m(1L)._1 - math.log(5.0 / 6.0)) < 1e-3)
    assert(math.abs(m(2L)._1 - (math.log(5.0 / 6.0) + math.log(1.0 / 6.0)) / 2.0) < 1e-3)
  }

  test("importanceWeights: target-like docs score higher; closed form on a 2-term vocab") {
    val docs = Seq(
      (1L, "alpha alpha alpha alpha"), // pure target-style
      (2L, "beta beta beta beta"),     // pure off-target
      (3L, "alpha beta alpha beta")    // mixed
    ).toDF("doc_id", "text")
    val target = Seq(Tuple1("alpha alpha alpha alpha")).toDF("text")
    val m = TextAnalysis.importanceWeights(docs, "doc_id", "text", target, "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(m.keySet == Set(1L, 2L, 3L))
    assert(m(1L)._1 == 4L && m(3L)._1 == 4L)
    assert(m(1L)._2 > m(3L)._2 && m(3L)._2 > m(2L)._2,
      s"weights must order by target affinity: $m")
    // closed form: vocab {alpha, beta}, raw counts (6, 6) of 12; target (4, 0) of 4
    val v = 2.0; val a = 0.5
    def lw(ct: Double, cr: Double) =
      math.log((ct + a) / (4.0 + a * v)) - math.log((cr + a) / (12.0 + a * v))
    assert(math.abs(m(1L)._2 - 4 * lw(4, 6)) < 1e-3)
    assert(math.abs(m(2L)._2 - 4 * lw(0, 6)) < 1e-3)
    assert(math.abs(m(3L)._2 - 2 * (lw(4, 6) + lw(0, 6))) < 1e-3)
    // weights are a pure function of content — stable under repartitioning
    val again = TextAnalysis.importanceWeights(docs.repartition(5), "doc_id", "text", target, "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(again == m.map { case (k, (_, w)) => k -> w })
  }

  test("targetEncode: leave-one-out arithmetic, null target, null category, singleton") {
    // cat "a": targets 10, 20; cat "b": singleton 40; null cat: 30; null target in "a"
    val df = Seq(
      (1L, Some("a"), Some(10.0)),
      (2L, Some("a"), Some(20.0)),
      (3L, Some("b"), Some(40.0)),
      (4L, None, Some(30.0)),
      (5L, Some("a"), None)
    ).toDF("id", "cat", "t")
    val prior = (10.0 + 20.0 + 40.0 + 30.0) / 4 // 25
    val m = 10.0
    val out = Scaling.targetEncode(df, Seq("cat"), "t", "te", m)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // LOO: (Σt − own + m·prior) / (n − 1 + m); n counts non-null targets
    assert(math.abs(out(1L) - (30.0 - 10.0 + m * prior) / (2 - 1 + m)) < 1e-12)
    assert(math.abs(out(2L) - (30.0 - 20.0 + m * prior) / (2 - 1 + m)) < 1e-12)
    // singleton: LOO leaves only the prior mass
    assert(math.abs(out(3L) - (40.0 - 40.0 + m * prior) / (1 - 1 + m)) < 1e-12)
    // null category is a real group of its own, not dropped
    assert(math.abs(out(4L) - (30.0 - 30.0 + m * prior) / (1 - 1 + m)) < 1e-12)
    // null target: full-group posterior, no own-label subtraction
    assert(math.abs(out(5L) - (30.0 + m * prior) / (2 + m)) < 1e-12)
  }

  test("ewma: recurrence seeded at the frame start, truncation, nulls skipped") {
    val df = Seq(
      (1L, "u", 1, Some(10.0)),
      (2L, "u", 2, Some(20.0)),
      (3L, "u", 3, None),
      (4L, "u", 4, Some(40.0)),
      (5L, "v", 1, Some(7.0))
    ).toDF("id", "user", "seq", "v")
    def step(acc: Double, x: Double) = 0.5 * x + 0.5 * acc
    val full = Scaling.ewma(df, "v", Seq("user"), Seq("seq"), alpha = 0.5, window = 10)
      .collect().map(r => r.getLong(0) -> Option(r.get(4)).map(_.asInstanceOf[Double])).toMap
    assert(full(1L) == Some(10.0))
    assert(full(2L) == Some(step(10.0, 20.0)))
    // row 3's value is null: EWMA of what the frame holds (rows 1-2)
    assert(full(3L) == Some(step(10.0, 20.0)))
    assert(full(4L) == Some(step(step(10.0, 20.0), 40.0)))
    assert(full(5L) == Some(7.0)) // partitions are independent
    // window=2 truncates: row 4 sees only rows 3 (null, skipped) and 4
    val w2 = Scaling.ewma(df, "v", Seq("user"), Seq("seq"), alpha = 0.5, window = 2)
      .collect().map(r => r.getLong(0) -> Option(r.get(4)).map(_.asInstanceOf[Double])).toMap
    assert(w2(4L) == Some(40.0))
    assert(w2(2L) == Some(step(10.0, 20.0)))
  }

  test("hashedNgramScore: closed-form hash/weight arithmetic, empty and 1-token docs") {
    // replicate the operator's documented arithmetic in plain Scala
    def polyhash(s: String): Long = s.foldLeft(0L)((h, c) => (h * 31 + c.toLong) % 1000003L)
    def weight(bg: String): Double =
      (polyhash(bg) % 4096L) * 2654435761L % 1000003L / 1000003.0 - 0.5
    val docs = Seq(
      (1L, "alpha beta gamma"), // bigrams: "alpha beta", "beta gamma"
      (2L, "solo"),             // 1 token -> 0 bigrams
      (3L, "  ")                // no tokens
    ).toDF("doc_id", "text")
    // non-ASCII parity: the native expression must hash full code points
    // (é = 233), matching ascii(substring(...)) and DuckDB's ascii()
    val uni = Seq((9L, "café naïve")).toDF("doc_id", "text")
    val uniOut = TextAnalysis.hashedNgramScore(uni, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).head
    val uniWant = {
      def ph(s: String) = s.foldLeft(0L)((h, c) => (h * 31 + c.toLong) % 1000003L)
      val w = ph("café naïve") % 4096L * 2654435761L % 1000003L / 1000003.0 - 0.5
      BigDecimal(w / 1 + 1e-9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(uniOut == ((1L, uniWant)))
    val out = TextAnalysis.hashedNgramScore(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3))))
      .toMap
    val s1 = (weight("alpha beta") + weight("beta gamma")) / 2
    val want = BigDecimal(s1 + 1e-9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == ((2L, Some(want), s1 > 0)))
    assert(out(2L) == ((0L, None, false)))
    assert(out(3L) == ((0L, None, false)))
  }
}
