package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{AsOfJoin, Latest, PivotVector}

/** ScalaCheck-generated property tests (SURVEY.md §5.2): invariants that
  * must hold for ANY data, sampled across fixed seeds for reproducibility.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g(Gen.Parameters.default, Seed(seed)).get

  private val factGen = Gen.listOfN(
    120,
    for {
      k <- Gen.choose(0, 5)
      day <- Gen.choose(1, 28)
      hour <- Gen.choose(0, 23)
      tie <- Gen.choose(0L, 1000000L)
      v <- Gen.choose(-1000.0, 1000.0)
    } yield (s"k$k", ts(f"2024-01-$day%02d $hour%02d:00:00"), tie, v))

  private val spineGen = Gen.listOfN(
    40,
    for {
      k <- Gen.choose(0, 7)
      day <- Gen.choose(1, 28)
      hour <- Gen.choose(0, 23)
      min <- Gen.oneOf(0, 30)
    } yield (s"k$k", ts(f"2024-01-$day%02d $hour%02d:$min%02d:00")))

  test("as-of join: carried fact timestamp is never after the spine timestamp") {
    for (seed <- 1L to 5L) {
      val facts = sample(factGen, seed).toDF("k", "fts", "tie", "v")
      val spine = sample(spineGen, seed + 100).zipWithIndex
        .map { case ((k, t), i) => (k, t, i) }.toDF("k", "sts", "tag")
      val out = AsOfJoin.native(spine, facts, Seq("k"), "sts", "fts", Seq("v"), "tie")
      val leaked = out.where(col("fts__timestamp") > col("sts")).count()
      assert(leaked == 0, s"seed $seed leaked future facts")
      // and it agrees with the naive formulation
      val theta = AsOfJoin.thetaWindow(spine, facts, Seq("k"), "sts", "fts", Seq("v"), "tie")
      assert(
        out.orderBy("tag").collect().map(_.toString).toSeq ==
          theta.orderBy("tag").collect().map(_.toString).toSeq,
        s"seed $seed native != theta")
    }
  }

  test("lwwUpsert: idempotent and order-insensitive for any split of the log") {
    for (seed <- 1L to 3L) {
      val log = sample(factGen, seed * 7).toDF("k", "t", "id", "v")
      val cut = ts("2024-01-15 00:00:00")
      val base = log.where($"t" <= cut)
      val updates = log.where($"t" > cut)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.selectExpr("k", "v", "t").orderBy("k").collect().toSeq
      val full = Latest.latestAgg(log, Seq("k"), "t", "id", Seq("v"))
      val merged = Latest.lwwUpsert(base, updates, Seq("k"), "t", "id", Seq("v"))
      val twice = Latest.lwwUpsert(merged, updates, Seq("k"), "t", "id", Seq("v"))
      assert(canon(merged) == canon(full), s"seed $seed merge != recompute")
      assert(canon(twice) == canon(full), s"seed $seed not idempotent")
    }
  }

  test("ntile: bucket sizes differ by at most 1, are monotonically ordered, and partition the input") {
    for (seed <- 1L to 3L) {
      val rnd = new scala.util.Random(seed)
      val n = 50 + rnd.nextInt(200)
      val k = 1 + rnd.nextInt(12)
      val df = (0 until n).map(i => (i.toLong, rnd.nextLong())).toDF("id", "v")
      val out = graft.operators.Rank.withNtile(df.repartition(5), Seq($"v", $"id"), k, "b")
        .select($"v", $"id", $"b").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(out.length == n, s"seed $seed: ntile must not drop or duplicate rows")
      val sizes = out.groupBy(_._3).view.mapValues(_.length).toMap
      assert(sizes.keySet == (1L to math.min(k, n).toLong).toSet, s"seed $seed: bucket ids dense")
      assert(sizes.values.max - sizes.values.min <= 1, s"seed $seed: sizes differ by > 1: $sizes")
      // ordered: every row in bucket b sorts before every row in bucket b+1
      val sorted = out.sortBy(t => (t._1, t._2)).map(_._3)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b }, s"seed $seed: not ordered")
    }
  }

  test("tfidf: per-doc tf sums to token count; top-k never exceeds k; scores non-negative") {
    for (seed <- 1L to 3L) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("aa", "bb", "cc", "dd", "ee")
      val docs = (0 until 20).map { i =>
        (i.toLong, Seq.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val k = 1 + rnd.nextInt(4)
      val out = graft.operators.TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
      val perDoc = out.groupBy(_._1).view.mapValues(_.length).toMap
      assert(perDoc.values.forall(_ <= k), s"seed $seed: more than k terms for a doc")
      assert(out.forall(_._3 >= 0.0), s"seed $seed: tf*ln(N/df) is never negative (df <= N)")
      assert(out.forall(t => t._2 >= 1 && t._2 <= k), s"seed $seed: rank out of range")
    }
  }

  test("pivot . unpivot recovers every covered (entity, feature) cell") {
    for (seed <- 1L to 3L) {
      val names = Seq("f0", "f1", "f2")
      val eav = sample(factGen, seed * 13)
        .map { case (k, t, tie, v) => (k, s"f${(tie % 3).toInt}", v, t, tie) }
        .toDF("e", "name", "v", "t", "id")
      val latest = Latest.latestAgg(eav, Seq("e", "name"), "t", "id", Seq("v"))
        .select($"e", $"name", $"v")
      val wide = PivotVector.toVector(eav, "e", "name", "v", "t", "id", names)
      val back = PivotVector.toEav(wide, "e", names, "name", "v")
        .where($"v".isNotNull)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("e", "name", "v").orderBy("e", "name").collect().toSeq
      assert(canon(back) == canon(latest), s"seed $seed round trip failed")
    }
  }
}
