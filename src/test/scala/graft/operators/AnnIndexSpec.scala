package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Pins the incremental ANN index contract (round-7 verdict #2):
  * [[AnnIndex.appendToIndex]] encodes a new batch with the FROZEN
  * codebooks/centroids, commits by marker flip, and refuses loudly when
  * the frozen quantizer no longer represents the data (drift) or when a
  * batch id is already encoded (duplicates).
  */
class AnnIndexSpec extends graft.SparkSpec {
  import spark.implicits._

  /** Deterministic clustered vectors: two tight clusters along distinct
    * axes, so a 2-centroid quantizer represents them with near-zero gap. */
  private def clustered(ids: Range): org.apache.spark.sql.DataFrame =
    ids.map { i =>
      val axis = i % 2
      val base = Array.fill(8)(0.01f * ((i * 7) % 5))
      base(axis) = 1.0f
      (i.toLong, base)
    }.toDF("vec_id", "embedding")

  private def freshIndex(n: Int = 64): (String, org.apache.spark.sql.DataFrame) = {
    val dir = Files.createTempDirectory("graft_ann_spec").toString + "/idx"
    val corpus = clustered(0 until n)
    AnnIndex.build(corpus, "vec_id", "embedding", dir,
      nCentroids = 2, refineIters = 2, m = 4, k = 4, pqIters = 2)
    (dir, corpus)
  }

  test("appendToIndex makes the new batch visible to the encoded table under the same quantizer") {
    val (dir, _) = freshIndex()
    val cbBefore = AnnIndex.loadCodebooks(spark, dir)
    val centsBefore = AnnIndex.loadCentroids(spark, dir)
    val batch = clustered(64 until 96)
    AnnIndex.appendToIndex(batch, "vec_id", "embedding", dir)
    assert(AnnIndex.exists(dir), "index must be republished after the append")
    val enc = AnnIndex.loadEncoded(spark, dir)
    assert(enc.count() == 96L)
    assert(enc.where(col("vec_id") >= 64).count() == 32L)
    // the quantizer is genuinely FROZEN: artifacts bit-identical
    assert(AnnIndex.loadCodebooks(spark, dir).cents.toSeq == cbBefore.cents.toSeq)
    assert(AnnIndex.loadCentroids(spark, dir).map(_.toSeq).toSeq ==
      centsBefore.map(_.toSeq).toSeq)
    // appended rows carry codes/cells consistent with the frozen artifacts:
    // re-encoding the batch yields the same (id, codes, cell) rows
    val reEnc = Pq.encodeWithCell(batch, "vec_id", "embedding", cbBefore, centsBefore)
      .select(col("vec_id"), col("codes"), col("__cell"))
    val stored = enc.where(col("vec_id") >= 64)
      .select(col("vec_id"), col("codes"), col("__cell"))
    assert(stored.except(reEnc).count() == 0L && reEnc.except(stored).count() == 0L)
  }

  test("duplicate batch ids are refused before the index is unpublished") {
    val (dir, corpus) = freshIndex()
    val e = intercept[IllegalArgumentException](
      AnnIndex.appendToIndex(corpus.limit(3), "vec_id", "embedding", dir))
    assert(e.getMessage.contains("already encoded"))
    // the guard fires BEFORE the marker flip: the index stays published
    assert(AnnIndex.exists(dir), "a refused append must not unpublish the index")
    assert(AnnIndex.loadEncoded(spark, dir).count() == 64L)
  }

  test("duplicate ids WITHIN the batch are refused (not just vs the encoded table)") {
    val (dir, _) = freshIndex()
    // all-new ids vs the index, but id 100 appears twice inside the batch —
    // the semi-join guard alone would encode it twice (double-scored by
    // every query); the in-batch guard must refuse first
    val batch = clustered(100 until 104).union(clustered(100 until 101))
    val e = intercept[IllegalArgumentException](
      AnnIndex.appendToIndex(batch, "vec_id", "embedding", dir))
    assert(e.getMessage.contains("within itself"), e.getMessage)
    assert(AnnIndex.exists(dir), "a refused append must not unpublish the index")
    assert(AnnIndex.loadEncoded(spark, dir).count() == 64L)
  }

  test("a drifted batch distribution is refused with a rebuild instruction") {
    val (dir, _) = freshIndex()
    // drift: vectors along a THIRD axis the 2-centroid quantizer never saw
    val drifted = (200 until 232).map { i =>
      val v = Array.fill(8)(0.0f); v(5) = 1.0f; v(6) = 0.8f
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      AnnIndex.appendToIndex(drifted, "vec_id", "embedding", dir))
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    assert(AnnIndex.exists(dir), "a refused append must not unpublish the index")
  }

  test("appending to an uncommitted index fails loudly") {
    val dir = Files.createTempDirectory("graft_ann_none").toString + "/idx"
    val e = intercept[IllegalArgumentException](
      AnnIndex.appendToIndex(clustered(0 until 4), "vec_id", "embedding", dir))
    assert(e.getMessage.contains("build() first"))
  }

  test("removeFromIndex: deleted ids vanish from loadEncoded and every query; guards fire") {
    val (dir, corpus) = freshIndex()
    val del = corpus.where(col("vec_id") < 8).select("vec_id")
    AnnIndex.removeFromIndex(del, "vec_id", dir)
    assert(AnnIndex.exists(dir), "a delete must republish the index")
    // masked from the live view, still physically present in the raw table
    assert(AnnIndex.loadEncoded(spark, dir).count() == 56L)
    assert(AnnIndex.loadEncodedRaw(spark, dir).count() == 64L)
    assert(AnnIndex.loadEncoded(spark, dir)
      .where(col("vec_id") < 8).count() == 0L,
      "a deleted id must NEVER be visible through loadEncoded")
    // every query path goes through loadEncoded: the top-k cannot return one
    val cb = AnnIndex.loadCodebooks(spark, dir)
    val cents = AnnIndex.loadCentroids(spark, dir)
    val q = Seq((0L, { val v = Array.fill(8)(0.0f); v(0) = 1.0f; v }))
      .toDF("query_id", "qvec")
    val top = Similarity.ivfPqTopKWith(AnnIndex.loadEncoded(spark, dir), q,
      "vec_id", "query_id", "qvec", k = 50, cb, cents)
    assert(top.where(col("vec_id") < 8).count() == 0L,
      "a deleted id surfaced in the post-delete top-k")
    // repeated delete, unknown-id delete, empty delete: loud
    assert(intercept[IllegalArgumentException](
      AnnIndex.removeFromIndex(del.limit(1), "vec_id", dir))
      .getMessage.contains("already tombstoned"))
    assert(intercept[IllegalArgumentException](
      AnnIndex.removeFromIndex(Seq(999L).toDF("vec_id"), "vec_id", dir))
      .getMessage.contains("not in the index"))
    // a tombstoned id cannot be re-appended until compaction reclaims it
    assert(intercept[IllegalArgumentException](
      AnnIndex.appendToIndex(corpus.where(col("vec_id") === 2L),
        "vec_id", "embedding", dir))
      .getMessage.contains("compactIndex"))
  }

  test("removeFromIndex's membership guard broadcasts the id set, and still refuses an unknown id") {
    val (dir, corpus) = freshIndex()
    val (_, plans) = org.apache.spark.graft.PlanCapture.plansDuring(spark)(
      AnnIndex.removeFromIndex(corpus.where(col("vec_id") < 4).select("vec_id"), "vec_id", dir))
    assert(plans.exists(p => p.contains("BroadcastHashJoin") && p.contains("LeftSemi")),
      plans.mkString("\n\n"))
    assert(!plans.exists(_.contains("LeftAnti")), plans.mkString("\n\n"))
    assert(intercept[IllegalArgumentException](
      AnnIndex.removeFromIndex(Seq(999L, 5L).toDF("vec_id"), "vec_id", dir)).getMessage ==
      s"requirement failed: removeFromIndex($dir): 1 id(s) are not in the index — " +
        "deleting a vector that was never indexed is an id-mapping bug")
  }

  test("a delete pushing tombstones past the bound refuses with a compact-first instruction") {
    val (dir, corpus) = freshIndex()
    // the bound turns the documented broadcast contract into a CHECK
    // (round-9 verdict #5): deleting 33 of 64 rows crosses the 0.5 default
    val e = intercept[IllegalArgumentException](
      AnnIndex.removeFromIndex(corpus.where(col("vec_id") < 33).select("vec_id"),
        "vec_id", dir))
    assert(e.getMessage.contains("compactIndex first"), e.getMessage)
    // the refusal left the index committed and untouched
    assert(AnnIndex.exists(dir))
    assert(AnnIndex.loadEncoded(spark, dir).count() == 64L)
    // the same delete under a caller-raised bound goes through
    AnnIndex.removeFromIndex(corpus.where(col("vec_id") < 33).select("vec_id"),
      "vec_id", dir, maxTombstoneFraction = 0.6)
    assert(AnnIndex.loadEncoded(spark, dir).count() == 31L)
  }

  test("the tombstone bound ignores hidden staging files under encoded/") {
    val (dir, corpus) = freshIndex()
    // leftover _temporary staging from a crashed append: invisible to
    // Spark's scan, so it must not inflate the bound's denominator and
    // admit deletes past the fraction
    val stage = java.nio.file.Paths.get(dir, "encoded", "_temporary", "0")
    Files.createDirectories(stage)
    AnnIndex.loadEncodedRaw(spark, dir).localCheckpoint()
      .coalesce(1).write.parquet(stage.resolve("dup").toString)
    val e = intercept[IllegalArgumentException](
      AnnIndex.removeFromIndex(corpus.where(col("vec_id") < 33).select("vec_id"),
        "vec_id", dir))
    assert(e.getMessage.contains("compactIndex first"),
      s"64 phantom staged rows must not double the denominator: ${e.getMessage}")
  }

  test("appending onto a legacy FLAT encoded layout refuses before unpublishing") {
    val (dir, _) = freshIndex()
    // degrade the index to the pre-v2 layout: flatten the cell directories
    // into root-level parquet files (what a legacy build left on disk)
    val enc = java.nio.file.Paths.get(dir, "encoded")
    val flat = AnnIndex.loadEncodedRaw(spark, dir).localCheckpoint()
    graft.sources.DeltaInterop.deleteRecursively(enc)
    flat.write.parquet(enc.toString)
    val marker = java.nio.file.Paths.get(dir, "_SUCCESS")
    if (!Files.exists(marker)) Files.createFile(marker)
    val e = intercept[IllegalArgumentException](
      AnnIndex.appendToIndex(clustered(64 until 68), "vec_id", "embedding", dir))
    assert(e.getMessage.contains("cell-partitioned"), e.getMessage)
    assert(AnnIndex.exists(dir),
      "the layout refusal must fire BEFORE the marker is pulled")
  }

  test("compactIndex rewrites only cells above the tombstone fraction and reclaims rows") {
    val (dir, corpus) = freshIndex()
    // clustered() puts even ids on axis 0, odd on axis 1 — two coarse
    // cells; deleting only EVEN ids tombstones one cell ~100%, the other 0%
    val del = corpus.where(col("vec_id") % 2 === 0).select("vec_id")
    AnnIndex.removeFromIndex(del, "vec_id", dir)
    val before = AnnIndex.loadEncoded(spark, dir).collect().map(_.toSeq).toSet
    val cells = AnnIndex.compactIndex(spark, dir, minTombstoneFraction = 0.5)
    assert(cells.size == 1, s"expected exactly the even-axis cell, got $cells")
    // rows physically reclaimed; tombstone set emptied; live view unchanged
    assert(AnnIndex.loadEncodedRaw(spark, dir).count() == 32L)
    assert(AnnIndex.loadEncoded(spark, dir).collect().map(_.toSeq).toSet == before)
    // idempotent: nothing left to compact
    assert(AnnIndex.compactIndex(spark, dir, minTombstoneFraction = 0.0).isEmpty)
    // and the reclaimed ids are appendable again (0 and 2 were deleted evens)
    AnnIndex.appendToIndex(clustered(0 until 4 by 2), "vec_id", "embedding", dir)
    assert(AnnIndex.loadEncoded(spark, dir).count() == 34L)
  }

  test("a torn mutation (marker down) makes every read path refuse, not return garbage") {
    val (dir, _) = freshIndex()
    import org.apache.hadoop.fs.Path
    val marker = new Path(dir, "_SUCCESS")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(marker, false)
    for (f <- Seq(
        () => AnnIndex.loadEncoded(spark, dir),
        () => AnnIndex.loadCentroids(spark, dir),
        () => AnnIndex.loadCodebooks(spark, dir))) {
      val e = intercept[IllegalArgumentException](f())
      assert(e.getMessage.contains("no committed ANN index"), e.getMessage)
    }
  }

  test("delete + compaction on a hard-link clone leave the SOURCE index untouched") {
    val (src, corpus) = freshIndex()
    val before = AnnIndex.loadEncoded(spark, src).collect().map(_.toSeq).toSet
    val dst = Files.createTempDirectory("graft_ann_clone2").toString + "/idx"
    AnnIndex.cloneIndex(src, dst)
    AnnIndex.removeFromIndex(corpus.where(col("vec_id") % 2 === 0).select("vec_id"),
      "vec_id", dst)
    assert(AnnIndex.compactIndex(spark, dst, minTombstoneFraction = 0.01).nonEmpty)
    // the clone diverged; the source's live view is bit-identical
    assert(AnnIndex.loadEncoded(spark, dst).count() == 32L)
    assert(AnnIndex.loadEncoded(spark, src).collect().map(_.toSeq).toSet == before,
      "mutating a hard-link clone must never reach through to the source")
  }

  test("compactIndex below the threshold touches nothing") {
    val (dir, corpus) = freshIndex()
    AnnIndex.removeFromIndex(corpus.where(col("vec_id") === 0L).select("vec_id"),
      "vec_id", dir)
    // one tombstone in a 32-row cell = ~3% < 50% threshold
    assert(AnnIndex.compactIndex(spark, dir, minTombstoneFraction = 0.5).isEmpty)
    assert(AnnIndex.loadEncodedRaw(spark, dir).count() == 64L,
      "below-threshold compaction must not rewrite anything")
    assert(AnnIndex.loadEncoded(spark, dir).count() == 63L,
      "the tombstone mask must survive a no-op compaction")
  }

  test("post-append IVFPQ query returns appended neighbors (recall survives the frozen quantizer)") {
    val (dir, _) = freshIndex()
    AnnIndex.appendToIndex(clustered(64 until 96), "vec_id", "embedding", dir)
    val cb = AnnIndex.loadCodebooks(spark, dir)
    val cents = AnnIndex.loadCentroids(spark, dir)
    // a query aligned with cluster axis 0: its near-exact twins include
    // appended ids (even ids ≥ 64); top-10 must surface at least one
    val q = Seq((0L, { val v = Array.fill(8)(0.0f); v(0) = 1.0f; v }))
      .toDF("query_id", "qvec")
    val top = Similarity.ivfPqTopKWith(AnnIndex.loadEncoded(spark, dir), q,
      "vec_id", "query_id", "qvec", k = 10, cb, cents)
    assert(top.where(col("vec_id") >= 64).count() > 0L,
      "appended vectors must be retrievable through the persisted index")
  }
}
