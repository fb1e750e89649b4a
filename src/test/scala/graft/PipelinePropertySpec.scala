package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.CorpusPrep

/** Generative check of the pipeline's fold equivalence: for ANY corpus
  * (random texts from a tiny vocabulary, forcing hash collisions,
  * duplicates and benchmark overlap) and ANY id-ordered batch split,
  * folding [[CorpusPrep.prepareBatch]] over the batches with the
  * tombstoned-hash contract must equal running it once over the whole
  * corpus — the p1≡p3 claim, sampled over inputs the fixtures never
  * contain (adversarial randomness at small scale).
  */
class PipelinePropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g(Gen.Parameters.default, Seed(seed)).get

  // tiny vocab + short docs: duplicate texts, shared 8-grams with the
  // bench, and below-quality docs all occur with high probability.
  // ~half the words are stopwords so a decent fraction clears the gate.
  private val vocab = Vector("the", "and", "of", "to", "is", "alpha", "beta",
    "gamma", "delta", "epsilon", "zeta", "eta")
  private val textGen: Gen[String] = for {
    n <- Gen.choose(1, 24)
    ws <- Gen.listOfN(n, Gen.oneOf(vocab))
  } yield ws.mkString(" ")

  private val corpusGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(10, 60)
    texts <- Gen.listOfN(n, textGen)
  } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def fold(batches: Seq[DataFrame], bench: DataFrame): DataFrame = {
    var seen: Option[DataFrame] = None
    var acc: Option[DataFrame] = None
    batches.filter(!_.isEmpty).foreach { b =>
      val m = CorpusPrep.prepareBatch(b, bench, idCol = "doc_id",
        textCol = "text", carryCols = Seq.empty, processedHashes = seen)
        .localCheckpoint()
      acc = Some(acc.map(_.unionByName(m)).getOrElse(m))
      seen = Some(acc.get.select("text_hash"))
    }
    acc.map(_.where(col("kept")).select("doc_id", "n_tokens", "quality"))
      .getOrElse(Seq.empty[(Long, Long, Double)].toDF("doc_id", "n_tokens", "quality"))
  }

  test("prepareBatch fold over any id-ordered split equals the single batch") {
    for (seed <- 1L to 8L) {
      val rows = sample(corpusGen, seed)
      val docs = rows.toDF("doc_id", "text")
      val bench = rows.filter(_._1 % 7 == 0).toDF("doc_id", "text")
      val corpus = docs.where(col("doc_id") % 7 =!= 0)
      val whole = fold(Seq(corpus), bench).localCheckpoint()
      val cut1 = rows.length / 3
      val cut2 = 2 * rows.length / 3
      val parts = Seq(
        corpus.where(col("doc_id") < cut1),
        corpus.where(col("doc_id") >= cut1 && col("doc_id") < cut2),
        corpus.where(col("doc_id") >= cut2))
      val folded = fold(parts, bench).localCheckpoint()
      val diff = whole.exceptAll(folded).count() + folded.exceptAll(whole).count()
      assert(diff == 0,
        s"seed=$seed: fold over 3 id-ordered batches diverged from the single batch on $diff rows")
    }
  }

  test("redelivery of any prefix changes nothing (at-least-once safety)") {
    for (seed <- 20L to 24L) {
      val rows = sample(corpusGen, seed)
      val bench = rows.filter(_._1 % 7 == 0).toDF("doc_id", "text")
      val corpus = rows.filterNot(_._1 % 7 == 0)
      val cut = corpus.length / 2
      val (a, b) = corpus.splitAt(cut)
      val clean = fold(Seq(a.toDF("doc_id", "text"), b.toDF("doc_id", "text")), bench)
        .localCheckpoint()
      // second batch re-delivers ALL of the first batch
      val redelivered = fold(
        Seq(a.toDF("doc_id", "text"), (b ++ a).toDF("doc_id", "text")), bench)
        .localCheckpoint()
      val diff = clean.exceptAll(redelivered).count() + redelivered.exceptAll(clean).count()
      assert(diff == 0, s"seed=$seed: redelivery changed the manifest on $diff rows")
    }
  }
}
