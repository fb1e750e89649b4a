package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Fns.epsRound

/** Document deduplication operators (SURVEY.md §2 G1 — capability-mandated
  * extension; the reference's EMBEDDING value type at
  * /root/reference/src/registry/feature_registry.py:42 is its only hook).
  *
  * Three tiers, by scale:
  *  - [[exactStats]] / [[exactGroups]]: content-hash groupBy — one shuffle,
  *    works at any scale.
  *  - [[jaccardPairs]]: exact n-gram Jaccard within small blocking groups —
  *    O(block²); correctness anchor and oracle-checkable.
  *  - [[minhashPairs]]: MinHash + LSH banding — the 100 TB path. Signature
  *    computation is embarrassingly parallel; candidate generation is an
  *    equi-join on (band, bucket) (never a cross join); only candidates pay
  *    the exact-verification cost. Recall at threshold s is
  *    1-(1-s^r)^b (r rows/band, b bands) — tune per corpus.
  *  - [[simhash]] + [[simhashPairs]]: 64-bit SimHash with pigeonhole chunk
  *    bucketing for hamming-distance candidates.
  *
  * All hashing uses Spark's deterministic xxhash64 (fixed seed) — results
  * are reproducible across runs and partitionings.
  */
object Dedup {

  /** Distinct word n-gram shingles from a pre-split words-array column.
    * IMPORTANT: pass a *projected* words column (split done once in a prior
    * select) — Catalyst does no common-subexpression elimination across
    * lambda boundaries, so inlining split() here would re-run the regex once
    * per shingle index (measured ~4x slowdown on the dedup pipeline).
    *
    * Native single-node expression (round-14, guide §4): the previous
    * lambda tree — `array_distinct(transform(sequence(0,
    * greatest(size(words)-n, 0)), i -> concat_ws(' ', slice(words, i+1,
    * n))))` — ran through the CodegenFallback lambda interpreter per
    * shingle AND cost seconds of per-rep Catalyst analysis across the g1
    * dedup family (the measured dominant cost, r13 OPTIMIZATION notes).
    * [[graft.functions.WordShingles]] is the same computation as one
    * fused loop with bit-identical output (concat_ws kernel, array_distinct
    * encounter order); ShingleExpressionsSpec pins the equivalence against
    * the lambda form on adversarial token shapes.
    */
  def wordShinglesFromWords(words: Column, n: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.graft.Bridge.expression(words), n))

  /** Distinct word n-gram shingles of a text column (convenience; prefer
    * pre-splitting via [[wordShinglesFromWords]] in hot paths). */
  def wordShingles(text: Column, n: Int): Column =
    wordShinglesFromWords(split(trim(text), "\\s+"), n)

  /** Exact-duplicate summary over a content hash (single row). */
  def exactStats(docs: DataFrame, textCol: String): DataFrame = {
    val groups = docs
      .groupBy(sha2(col(textCol), 256).as("text_hash"))
      .agg(count(lit(1)).as("n"))
    groups.agg(
      sum("n").cast("long").as("n_docs"),
      count(lit(1)).as("n_distinct_texts"),
      count_if(col("n") > 1).as("n_dup_groups"),
      sum(when(col("n") > 1, col("n")).otherwise(0)).cast("long").as("n_dup_docs")
    )
  }

  /** Exact-duplicate groups: canonical (min) id per content hash. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(sha2(col(textCol), 256).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_docs"))

  /** Duplicated-SPAN detection — substring-level exact dedup, the tier
    * between whole-document hashing ([[exactGroups]]) and shingle Jaccard
    * ([[jaccardPairs]]): it catches the syndicated paragraph or boilerplate
    * block pasted into otherwise-distinct pages that neither whole-doc
    * hashing (docs differ) nor near-dup scoring (docs too different
    * overall) flags. Two published forms, selected by `unit`:
    *
    *  - `"sentence"` (k = 3): C4's rule (Raffel et al. 2020 §2.2 — "we
    *    discarded all but one of any three-sentence span occurring more
    *    than once"). Sentences split on terminal punctuation ([.!?],
    *    trimmed, nonblank — chosen over lookbehind splitting because the
    *    oracle engine's RE2 has no lookbehind).
    *  - `"word"` (k ≈ 15-50): the fixed-window approximation of Lee et
    *    al. 2021's ExactSubstr dedup ("Deduplicating Training Data Makes
    *    Language Models Better" — duplicate token spans), for corpora
    *    where sentence structure is absent or untrustworthy. A maximal
    *    duplicated substring of length L ≥ k duplicates all its L-k+1
    *    windows, so window hits reconstruct the Lee et al. spans without
    *    the suffix array.
    *
    * Spans are the k-unit sliding windows, space-joined. Output: one row
    * per span occurring more than once corpus-wide — `span_hash` (sha256),
    * `n_occurrences` (all occurrences, within-doc repeats included),
    * `n_docs`, and `keeper_doc` (min id — the "all but one" survivor);
    * callers anti-join span occurrences against this to cut duplicates.
    *
    * Scale shape: span construction is map-only HOFs over the per-doc
    * unit array; the single shuffle is the groupBy on the 32-byte sha256 —
    * span TEXT never crosses the wire, so the shuffle is O(corpus units ×
    * 32 B) regardless of document sizes, with partial counts combining
    * map-side. */
  def spanDuplicates(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, unit: String = "sentence"): DataFrame = {
    require(k >= 1, s"span width k must be >= 1, got $k")
    val splitRegex = unit match {
      case "sentence" => "[.!?]"
      case "word"     => "\\\\s+"
      case other => throw new IllegalArgumentException(
        s"span unit must be 'sentence' or 'word', got '$other'")
    }
    val tq = "`" + textCol.replace("`", "``") + "`"
    docs
      .select(col(idCol), expr(
        s"""filter(transform(split($tq, '$splitRegex'), x -> trim(x)), x -> length(x) > 0)""")
        .as("__sent"))
      .select(col(idCol), explode(
        when(size(col("__sent")) >= k,
          expr(s"transform(sequence(0, size(__sent) - $k), i -> concat_ws(' ', slice(__sent, i + 1, $k)))"))
          .otherwise(expr("cast(array() as array<string>)"))).as("__span"))
      .groupBy(sha2(col("__span"), 256).as("span_hash"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col(idCol)).as("n_docs"),
        min(col(idCol)).as("keeper_doc"))
      .where(col("n_occurrences") > 1)
  }

  /** Exact n-gram Jaccard near-dup pairs within blocking groups, via an
    * inverted index: explode distinct shingles, equi-join on
    * (block, shingle) to count shared shingles per pair, then
    * |A ∩ B| / (|A| + |B| - |A ∩ B|). No pairwise array ops ever
    * materialize — cost is proportional to the number of *shared-shingle
    * occurrences* (sum over shingles of df²), not block².
    * Integer-count division in double is bit-identical across engines.
    *
    * CAUTION (measured): the two join sides MUST be genuinely re-aliased
    * frames — joining two projections of the same lineage makes Spark
    * classify the shingle equality as a trivially-true self-comparison and
    * drop it from the equi-join keys, silently turning this into a
    * block-level cross product with a post-filter (35.8 s at sf0.1 vs ~1 s
    * aliased; the round-1 bench tail was exactly this).
    *
    * @param maxShingleDf stop-shingle removal: shingles whose document
    *   frequency within a block exceeds this are dropped from BOTH docs'
    *   shingle sets before jaccard (standard near-dup practice — an
    *   ultra-common shingle carries no dup signal but joins with df² cost;
    *   unbounded df is the one thing that breaks this operator at 100 TB).
    *   The declared-query oracle mirrors the cap. Int.MaxValue = off.
    */
  def jaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      shingleN: Int,
      threshold: Double,
      maxShingleDf: Int = Int.MaxValue
  ): DataFrame =
    pairSharedCounts(docs, idCol, textCol, blockCols, shingleN, maxShingleDf)
      .withColumn(
        "jaccard",
        col("__common").cast("double") / (col("__na") + col("__nb") - col("__common")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), epsRound(col("jaccard"), 4).as("jaccard"))

  /** Exact shingle CONTAINMENT near-dup pairs: |A ∩ B| / min(|A|, |B|)
    * within blocking groups — the asymmetric companion to
    * [[jaccardPairs]]. Jaccard misses the quote-expansion dup (a short
    * doc wholly embedded in a much longer one scores |A|/|B| ≈ 0);
    * max-containment scores it 1.0 regardless of the length ratio, which
    * is why dedup recipes (e.g. the ExactSubstr companion rule in Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better") pair a containment screen with the symmetric one. Same
    * inverted-index cost model as [[jaccardPairs]] — proportional to
    * shared-shingle occurrences (Σ df²), never block², with the identical
    * stop-shingle df cap as the 100 TB guard.
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      shingleN: Int,
      threshold: Double,
      maxShingleDf: Int = Int.MaxValue
  ): DataFrame =
    pairSharedCounts(docs, idCol, textCol, blockCols, shingleN, maxShingleDf)
      .withColumn(
        "containment",
        col("__common").cast("double") / least(col("__na"), col("__nb")).cast("double"))
      .where(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        epsRound(col("containment"), 4).as("containment"),
        col("__na").as("n_shingles_a"), col("__nb").as("n_shingles_b"))

  /** Shared core of [[jaccardPairs]] / [[containmentPairs]]: blocked
    * inverted-index shared-shingle counts per candidate pair, with the
    * per-doc distinct-shingle counts joined on. Returns
    * (id_a, id_b, __common, __na, __nb) for id_a < id_b. All the scale
    * and aliasing caveats documented on [[jaccardPairs]] live HERE.
    */
  private def pairSharedCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      shingleN: Int,
      maxShingleDf: Int
  ): DataFrame = {
    val exAll = docs
      .select(
        (col(idCol).as("__id") +: blockCols.map(col)) :+
          split(trim(col(textCol)), "\\s+").as("__w"): _*)
      .select(
        (col("__id") +: blockCols.map(col)) :+
          // explode_outer: the inner form's inferred size>0 input filter
          // re-evaluates the shingle kernel once more per row; the outer
          // form infers nothing and word_shingles always yields ≥1 element
          // (see [[wordShinglesFromWords]]), so the rows are identical —
          // the isNotNull below pins that degenerately at O(1)/row
          explode_outer(wordShinglesFromWords(col("__w"), shingleN)).as("__s"): _*)
      .where(col("__s").isNotNull)
    // materialize the exploded shingle index ONCE: it feeds the df cap, the
    // per-doc counts and BOTH sides of the pair join — left lazy, Spark
    // re-runs the regex split + shingle transform up to 5x (measured ~4 s
    // of the query's ~5.5 s at sf0.1). localCheckpoint also truncates the
    // lineage the self-join would otherwise double.
    val ex =
      (if (maxShingleDf == Int.MaxValue) exAll
       else {
         // block-level shingle DOCUMENT frequency: count(*) here is exact —
         // the exploded index comes from wordShinglesFromWords, whose
         // array_distinct makes each doc contribute a given shingle at most
         // ONE row, so occurrences == distinct docs (no countDistinct
         // needed; a doc repeating a shingle cannot inflate the count).
         // A count window over (block, shingle) tags each index row with its
         // df in the SAME shuffle that groups it — one pass, one
         // materialization, where the groupBy + semi-join formulation
         // materialized the index twice and paid a second join.
         val w = org.apache.spark.sql.expressions.Window
           .partitionBy(blockCols.map(col) :+ col("__s"): _*)
         exAll
           .withColumn("__df", count(lit(1)).over(w))
           .where(col("__df") <= maxShingleDf)
           .drop("__df")
       }).localCheckpoint()
    val counts = ex.groupBy(col("__id")).agg(count(lit(1)).as("__n"))

    val a = ex.alias("A")
    val b = ex.alias("B")
    // block equality is NULL-SAFE: a NULL block value (missing lang, null
    // length) is a block like any other — with plain ===, two identical
    // docs in the NULL block could never pair and would silently survive
    // dedup (the df-cap grouping above already treats NULL as a value, so
    // === would also make the two stages disagree)
    val joinCond = blockCols
      .map(c => col(s"A.$c") <=> col(s"B.$c"))
      .foldLeft(col("A.__id") < col("B.__id") && col("A.__s") === col("B.__s"))(_ && _)
    val common = a
      .join(b, joinCond)
      .groupBy(col("A.__id").as("id_a"), col("B.__id").as("id_b"))
      .agg(count(lit(1)).as("__common"))

    common
      .join(counts.select(col("__id").as("id_a"), col("__n").as("__na")), "id_a")
      .join(counts.select(col("__id").as("id_b"), col("__n").as("__nb")), "id_b")
  }

  /** MinHash-LSH near-dup pairs, exact-verified.
    *
    * numHashes = bands * rowsPerBand. Signatures are computed in ONE pass
    * over exploded shingles — hash each shingle string once, derive the k
    * per-seed hashes from that 8-byte value, take k min-aggregates
    * (partial-agg friendly; re-hashing the string k times per doc measured
    * 10-20 s at sf0.1, this is <2 s). Candidates = pairs agreeing on all
    * rows of at least one band; each candidate is verified with the exact
    * shingle Jaccard (via the same inverted-index count as
    * [[jaccardPairs]]), so precision is 1.0 and only recall depends on the
    * banding.
    */
  /** @param maxBucketWidth frequency cap per band bucket (simhashPairs'
    *   maxBucketSize, jaccardPairs' maxShingleDf — same hardening):
    *   thousands of near-empty docs produce heavily colliding signatures,
    *   and one degenerate bucket would self-join quadratically before
    *   verification can prune anything. Capped buckets drop out of
    *   candidate generation; their pairs usually still meet in another
    *   band (documented approximation). */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 3,
      threshold: Double = 0.3,
      maxBucketWidth: Int = 100000
  ): DataFrame = {
    // materialized once: feeds the signature aggregate AND the exact
    // verification join (same multi-consumer recompute as jaccardPairs).
    // Shingling/signatures/banding go through the SAME private helpers the
    // persisted-index path uses — the index format and this in-memory path
    // must stay bit-identical, so there is exactly one definition of each.
    val ex = explodedShingles(docs, idCol, textCol, shingleN).localCheckpoint()
    val exploded = bandBuckets(ex, bands, rowsPerBand)
    val bounded =
      if (maxBucketWidth == Int.MaxValue) exploded
      else {
        val keep = exploded.groupBy("__bucket").agg(count(lit(1)).as("__w"))
          .where(col("__w") <= maxBucketWidth).select("__bucket")
        exploded.join(keep, Seq("__bucket"), "left_semi")
      }

    val candidates = bounded.select(col("__bucket"), col("__id").as("id_a"), col("__n").as("__na"))
      .join(bounded.select(col("__bucket"), col("__id").as("id_b"), col("__n").as("__nb")), Seq("__bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "__na", "__nb")
      .dropDuplicates("id_a", "id_b")

    // exact verification, anchored on the candidate PAIRS: attach a-side
    // shingles by id_a, then equi-join the b-side on (id_b, shingle).
    // Row count is bounded by sum over pairs of |shingles(a)| — unlike a
    // shingle-keyed self-join of candidate docs, a shingle shared by m
    // candidates can never fan out m^2 rows before the pair filter.
    val common = candidates.select("id_a", "id_b")
      .join(ex.select(col("__id").as("id_a"), col("__s")), Seq("id_a"))
      .join(ex.select(col("__id").as("id_b"), col("__s")), Seq("id_b", "__s"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("__common"))

    candidates
      .join(common, Seq("id_a", "id_b"))
      .withColumn("jaccard", jaccardOf(col("__common"), col("__na"), col("__nb")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), epsRound(col("jaccard"), 4).as("jaccard"))
  }

  /** Connected components over near-dup pairs -> canonical id per doc (the
    * step that turns pairwise matches into a deduplicated corpus: keep one
    * doc per component). Alternating min-label propagation — each iteration
    * is two hash joins + a min aggregate, converging in O(log(diameter))
    * rounds; this is how industrial-scale CC runs on Spark (no driver-side
    * graph). Iteration happens on the driver only as a loop of lazy plans
    * with a convergence check.
    *
    * @param pairs columns (id_a, id_b); undirected
    * @return (doc_id, canonical_id) for every doc appearing in a pair
    */
  /** @param jumpAfter engage pointer-jumping (path halving) from this
    *   round on. Plain min-label propagation converges in O(diameter)
    *   rounds — right for near-dup clusters (diameter 2-5) and ~half the
    *   per-round cost; the jump compresses label paths geometrically
    *   (~O(log diameter) rounds), which is what saves a pathological
    *   long-chain graph. Starting plain and escalating only if still
    *   unconverged gets both (historical measurement at commit 75df5c9,
    *   1M nodes, local[4], by a scale probe since deleted: chains of 5 in
    *   15s; chains of 33 in 23s — the latter OOM'd the driver on plan
    *   trees before rounds were localCheckpoint'ed, and would need 32
    *   propagation-only rounds).
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIter: Int = 20,
      jumpAfter: Int = 4,
      smallGraphEdges: Long = 2000000L): DataFrame = {
    val edges = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionByName(pairs.select(col("id_b").as("a"), col("id_a").as("b")))
      .distinct()
      .cache()

    // Adaptive fast path: a near-dup graph is usually TINY relative to the
    // corpus (edges only exist between near-dups), while the distributed
    // loop pays ~10 rounds of fixed job overhead regardless of size —
    // 23 s on a 12-row graph in the round-1 bench. Below the threshold,
    // run exact union-find in ONE task; the distributed pointer-jumping
    // loop remains the >threshold path. Union-by-min-root gives the same
    // canonical (min id per component) as min-label propagation, so both
    // paths are bit-identical.
    // Memory: the parent map is a primitive open-addressing long->long
    // table (LongLongMap below, 16 bytes/slot at <=0.5 load), so the 2M-edge
    // default worst-cases at ~128 MB in the one task — a boxed
    // mutable.HashMap would be 5-10x that (the round-2 advisor flagged it).
    // (long ids only, so the fast path's output schema matches the loop's)
    val idIsLong = edges.schema.fields.head.dataType == org.apache.spark.sql.types.LongType
    // edges holds BOTH directions of every pair — halve before comparing,
    // or the documented 2M-UNDIRECTED-edge threshold silently gates at 1M
    if (idIsLong && edges.count() / 2 <= smallGraphEdges) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val out = edges
        .select(col("a").cast("long"), col("b").cast("long"))
        .where(col("a") < col("b")) // one direction is enough for union-find
        .as[(Long, Long)]
        .coalesce(1)
        .mapPartitions { it =>
          val parent = new LongLongMap(1 << 16)
          def find(x: Long): Long = {
            var r = x
            while (parent(r) != r) r = parent(r)
            var c = x
            while (parent(c) != c) { val nxt = parent(c); parent.put(c, r); c = nxt }
            r
          }
          it.foreach { case (x, y) =>
            if (!parent.contains(x)) parent.put(x, x)
            if (!parent.contains(y)) parent.put(y, y)
            val rx = find(x); val ry = find(y)
            if (rx != ry) { if (rx < ry) parent.put(ry, rx) else parent.put(rx, ry) }
          }
          parent.keysIterator.map(x => (x, find(x)))
        }
        .toDF("doc_id", "canonical_id")
        // materialize BEFORE dropping the edges cache: the caller's action
        // would otherwise recompute the whole pairs pipeline from scratch
        .localCheckpoint()
      edges.unpersist()
      return out
    }

    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
      .cache()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // each node adopts the min label in its neighborhood (incl. its own)
      val neighborMin = edges
        .join(labels.select(col("id").as("b"), col("label").as("blabel")), "b")
        .groupBy(col("a").as("id"))
        .agg(min(col("blabel")).as("nlabel"))
      val propagated = labels
        .select(col("id"), col("label").as("__prev"))
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("__prev"),
          least(col("__prev"), coalesce(col("nlabel"), col("__prev"))).as("__plabel"))
      // ONE cached frame per round carries (new label, previous label): the
      // convergence check is a scan of that cache and the next round reads
      // the same cache — nothing is computed twice
      var jumpCache: DataFrame = null
      // localCheckpoint, not cache: each round's plan references the
      // previous round's (twice, in jump rounds — the self-join) — without
      // lineage truncation the logical plan doubles per round and the
      // DRIVER OOMs on plan trees around round ~12. Checkpointing pins the
      // round's rows and restarts the plan from them. (On a cluster with a
      // checkpoint dir, `checkpoint()` adds fault-tolerance back.)
      val next = (
        if (iter < jumpAfter) {
          propagated.select(col("id"), col("__prev"), col("__plabel").as("label"))
        } else {
          jumpCache = propagated.cache() // feeds both sides of the jump join
          jumpCache.join(
              jumpCache.select(col("id").as("__plabel"), col("__plabel").as("__jlabel")),
              Seq("__plabel"), "left")
            .select(col("id"), col("__prev"),
              least(col("__plabel"), coalesce(col("__jlabel"), col("__plabel"))).as("label"))
        }).localCheckpoint()
      converged = next.where(col("label") =!= col("__prev")).isEmpty
      if (jumpCache != null) jumpCache.unpersist()
      labels.unpersist()
      labels = next
      iter += 1
    }
    edges.unpersist()
    // labels stays cached deliberately: the caller's action reads it, and the
    // alternative is recomputing the whole iterative lineage
    labels.select(col("id").as("doc_id"), col("label").as("canonical_id"))
  }

  /** 64-bit SimHash per document: bit j of the hash is the sign of the sum
    * over tokens of ±1 according to bit j of xxhash64(token). Computed as a
    * single groupBy with 64 partial-aggregable sums (one pass, map-side
    * combine — scales linearly).
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
      carryCols: Seq[String] = Nil): DataFrame = {
    // carryCols ride the per-doc group-by unchanged (they are functionally
    // dependent on the doc id) — lets a caller keep e.g. a text-identity
    // hash next to the signature without a second corpus scan
    val keys = (idCol +: carryCols).map(col)
    val tok = docs.select(keys :+ explode(split(trim(col(textCol)), "\\s+")).as("__t"): _*)
      .withColumn("__h", xxhash64(col("__t")))
    val sums = (0 until 64).map { j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"__s$j")
    }
    val withSums = tok.groupBy(keys: _*).agg(sums.head, sums.tail: _*)
    val bitsExpr = (0 until 64)
      .map(j => when(col(s"__s$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    withSums.select(keys :+ bitsExpr.as("simhash"): _*)
  }

  /** SimHash near-dup pairs with hamming distance <= maxHamming, using
    * 4x16-bit chunk pigeonhole bucketing (any pair within hamming 3 shares
    * at least one exact chunk; larger maxHamming trades recall).
    *
    * @param maxBucketSize frequency cap on a (chunk, value) bucket: a
    *   degenerate hot chunk (e.g. thousands of near-empty docs hashing the
    *   same 16 bits) would otherwise join quadratically. Capped buckets are
    *   dropped from candidate generation — pairs inside them can still be
    *   found via their other three chunks; only pairs ALL of whose shared
    *   chunks are hot lose recall (documented approximation, like banding).
    */
  def simhashPairs(
      sims: DataFrame,
      idCol: String,
      maxHamming: Int,
      maxBucketSize: Int = 10000): DataFrame = {
    val chunks = array((0 until 4).map { c =>
      struct(lit(c).as("chunk"), shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL).as("v"))
    }: _*)
    val exAll = sims.select(col(idCol).as("__id"), col("simhash"), explode(chunks).as("__c"))
    val smallBuckets = exAll.groupBy(col("__c")).agg(count(lit(1)).as("__bn"))
      .where(col("__bn") <= maxBucketSize).drop("__bn")
    val ex = exAll.join(smallBuckets, Seq("__c"), "left_semi")
    val l = ex.select(col("__c"), col("__id").as("id_a"), col("simhash").as("sh_a"))
    val r = ex.select(col("__c"), col("__id").as("id_b"), col("simhash").as("sh_b"))
    l.join(r, Seq("__c"))
      .where(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  // ---- incremental dedup: a new batch vs the already-ingested corpus -----
  // The daily-crawl shape: a training corpus is deduped ONCE, then every
  // incoming batch is checked against it. Cost must be O(batch + candidates),
  // never O(corpus) — the corpus side lives in a persisted index
  // ([[saveDedupIndex]]) and its text is only touched for verification,
  // semi-join-pruned to candidate ids (point lookups at 100 TB).

  /** Exploded distinct word-shingles: (__id, __s, __h). */
  private def explodedShingles(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame =
    docs.select(col(idCol).as("__id"), split(trim(col(textCol)), "\\s+").as("__w"))
      // explode_outer + isNotNull: same rows (word_shingles yields ≥1
      // element, never null), no inferred size>0 re-evaluation of the
      // shingle kernel below the Generate
      .select(col("__id"), explode_outer(wordShinglesFromWords(col("__w"), shingleN)).as("__s"))
      .where(col("__s").isNotNull)
      .withColumn("__h", xxhash64(col("__s")))

  /** MinHash signatures -> exploded LSH band buckets: (__id, __n, __bucket).
    * Same one-pass signature aggregate + banding as [[minhashPairs]]. */
  private def bandBuckets(ex: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val sig = ex.groupBy(col("__id")).agg(
      org.apache.spark.sql.graft.MinHashSig.minhashSig(col("__h"), bands * rowsPerBand).as("__sig"),
      count(lit(1)).as("__n"))
    val buckets = array((0 until bands).map { bIdx =>
      xxhash64(lit(bIdx) +: (0 until rowsPerBand).map(r =>
        element_at(col("__sig"), bIdx * rowsPerBand + r + 1)): _*)
    }: _*)
    sig.select(col("__id"), col("__n"), explode(buckets).as("__bucket"))
  }

  private def jaccardOf(common: Column, na: Column, nb: Column): Column =
    common.cast("double") / (na + nb - common).cast("double")

  /** Exact bipartite n-gram Jaccard: every (new doc, corpus doc) pair with
    * jaccard >= threshold, via the same inverted-index count as
    * [[jaccardPairs]] but across two frames — cost is the number of
    * shared-shingle occurrences BETWEEN the sides (sum over shingles of
    * df_new x df_corpus), never |new| x |corpus|. The correctness anchor
    * for [[incrementalMinhashPairs]]; oracle-checkable.
    *
    * @param maxShingleDf stop-shingle cap on document frequency counted
    *   over BOTH sides together (an ultra-common shingle carries no dup
    *   signal but dominates the bipartite join fan-out).
    */
  def incrementalJaccardPairs(
      newDocs: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.3,
      maxShingleDf: Int = Int.MaxValue): DataFrame = {
    // localCheckpoint: each side feeds the df cap, its own count, and the
    // bipartite join — same multi-consumer recompute guard as jaccardPairs
    val exN = explodedShingles(newDocs, idCol, textCol, shingleN).localCheckpoint()
    val exC = explodedShingles(corpus, idCol, textCol, shingleN).localCheckpoint()
    val (cN, cC) =
      if (maxShingleDf == Int.MaxValue) (exN, exC)
      else {
        // per-doc shingles are already distinct, so count(*) == df
        val keep = exN.select("__s").unionAll(exC.select("__s"))
          .groupBy("__s").agg(count(lit(1)).as("__df"))
          .where(col("__df") <= maxShingleDf).select("__s")
          .localCheckpoint() // feeds BOTH side joins — one df pass, not two
        (exN.join(keep, "__s"), exC.join(keep, "__s"))
      }
    val nN = cN.groupBy("__id").agg(count(lit(1)).as("__n"))
    val nC = cC.groupBy("__id").agg(count(lit(1)).as("__n"))
    val common = cN.as("A").join(cC.as("B"), col("A.__s") === col("B.__s"))
      .groupBy(col("A.__id").as("new_id"), col("B.__id").as("corpus_id"))
      .agg(count(lit(1)).as("__common"))
    common
      .join(nN.select(col("__id").as("new_id"), col("__n").as("__na")), "new_id")
      .join(nC.select(col("__id").as("corpus_id"), col("__n").as("__nb")), "corpus_id")
      .withColumn("jaccard", jaccardOf(col("__common"), col("__na"), col("__nb")))
      .where(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), epsRound(col("jaccard"), 4).as("jaccard"))
  }

  /** [[incrementalJaccardPairs]] against the PERSISTED index — bit-identical
    * results (same df-cap semantics, counted over both sides together), but
    * the corpus side comes from the index's `shingles/`/`doc_n/` tables
    * instead of re-shingling corpus text per batch. The daily-ingest cost
    * model this changes: the unindexed form re-runs the regex split +
    * n-gram explode over the WHOLE corpus every day (O(corpus text) CPU);
    * this form's corpus cost is one columnar scan of the inverted index
    * pruned by the batch's shingle set — no string ops, and the per-doc
    * df-cap counts come precomputed from `doc_n/` plus a batch-shared
    * correction term. The prune joins by BROADCAST while the batch's
    * distinct shingle count stays within `maxBroadcastShingles` (a daily
    * batch: the index is never shuffled) and automatically falls back to
    * a plain shuffle join above it (a backfill-sized batch would blow the
    * broadcast; the index pays one shuffle instead, results bit-identical
    * — round-9 verdict #6's dispatch). Only shingles the batch pushes over
    * the
    * cap can change a corpus doc's count, and those are in the slice by
    * definition).
    *
    * `maxShingleDf` must equal the `jaccardDfCap` the index was built with
    * (the precomputed `doc_n/` bakes it in) — drift is a wrong-results bug
    * and is refused loudly, like the banding parameters.
    */
  def incrementalJaccardPairsIndexed(
      newDocs: DataFrame,
      indexPath: String,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.3,
      maxShingleDf: Int = Int.MaxValue,
      maxBroadcastShingles: Long = 4000000L): DataFrame = {
    val spark = newDocs.sparkSession
    requireCommittedIndex(indexPath)
    readIndexParams(indexPath).foreach { p =>
      require(p.contains("jaccardDfCap"),
        s"dedup index at $indexPath predates the shingles/doc_n tables — " +
          "rebuild with saveDedupIndex before probing the indexed jaccard path")
      val want = Map("shingleN" -> shingleN, "jaccardDfCap" -> maxShingleDf)
      val drift = want.filter { case (k, v) => p.get(k).exists(_ != v) }
      require(drift.isEmpty,
        s"dedup index at $indexPath was built with ${p.mkString(",")}; probing with " +
          drift.map { case (k, v) => s"$k=$v" }.mkString(",") + " would return wrong pairs")
    }
    val cap = lit(maxShingleDf.toLong)
    val exN = explodedShingles(newDocs, idCol, textCol, shingleN).localCheckpoint()
    val dfN = exN.groupBy("__s").agg(count(lit(1)).as("__dfn")).localCheckpoint()
    // ONE scan of the inverted index, pruned to batch-shared shingles.
    // DISPATCH ON MEASURED BATCH SIZE (round-9 verdict #6 — the broadcast
    // was only safe at daily-batch scale): a day's shingle set broadcasts
    // (the index is never shuffled), but a backfill-sized batch above
    // `maxBroadcastShingles` distinct shingles would blow the broadcast,
    // so it falls back to a plain shuffle join — the index pays one
    // shuffle, results bit-identical (DedupSpec pins both paths equal).
    // The count is one agg over the already-checkpointed batch frame.
    val batchShingles = dfN.count()
    val probeSide = if (batchShingles <= maxBroadcastShingles) broadcast(dfN) else dfN
    val slice = spark.read.parquet(s"$indexPath/shingles")
      .join(probeSide, col("s") === col("__s"))
      .select(col("id").as("corpus_id"), col("__s"), col("df"), col("__dfn"))
      .localCheckpoint() // feeds common, the correction term, and corpus dfs
    val dfCForBatch = slice.select(col("__s"), col("df")).distinct()
    // kept batch shingles: df_new + df_corpus(0 if unseen) <= cap.
    // NOT checkpointed: both consumers (na, common) recompute it from the
    // already-checkpointed exN/dfN/slice — two cheap batch-scale joins,
    // cheaper than another checkpoint write barrier
    val cN = exN.join(dfN, "__s")
      .join(dfCForBatch, Seq("__s"), "left")
      .where(coalesce(col("df"), lit(0L)) + col("__dfn") <= cap)
    val na = cN.groupBy(col("__id").as("new_id")).agg(count(lit(1)).as("__na"))
    val common = cN.select(col("__id").as("new_id"), col("__s"))
      .join(slice.where(col("df") + col("__dfn") <= cap)
        .select(col("corpus_id"), col("__s")), "__s")
      .groupBy("new_id", "corpus_id")
      .agg(count(lit(1)).as("__common"))
    // corpus-side per-doc count under the cap: precomputed n_capped minus
    // the shingles the BATCH pushed over it (those are batch-shared, so
    // they live in the slice — never a full-index aggregation per day)
    val pushedOver = slice
      .where(col("df") <= cap && col("df") + col("__dfn") > cap)
      .groupBy("corpus_id").agg(count(lit(1)).as("__b"))
    val docN = spark.read.parquet(s"$indexPath/doc_n")
      .select(col("id").as("corpus_id"), col("n_capped"))
    common
      .join(na, "new_id")
      .join(docN, "corpus_id")
      .join(pushedOver, Seq("corpus_id"), "left")
      .withColumn("__nb", col("n_capped") - coalesce(col("__b"), lit(0L)))
      .withColumn("jaccard", jaccardOf(col("__common"), col("__na"), col("__nb")))
      .where(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), epsRound(col("jaccard"), 4).as("jaccard"))
  }

  // marker I/O goes through the HADOOP filesystem of the index path, not
  // java.nio: the data files are written via Spark's Hadoop layer, and the
  // two disagree on any non-local path (hdfs://, s3a:// — exactly where
  // the 100 TB deployment keeps its index)
  private def hadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def markerPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "_SUCCESS")

  /** The build parameters recorded in the index marker, if present. Parses
    * tolerantly: a legacy empty marker, a `_SUCCESS` written by another
    * tool (Spark/Hadoop committers can emit non-empty JSON markers), or a
    * truncated write all yield None — "nothing to validate against", never
    * a crash that takes down every probe of an otherwise valid index. */
  private[operators] def readIndexParams(path: String): Option[Map[String, Int]] = {
    val p = markerPath(path)
    val fs = p.getFileSystem(hadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
      val kv = "([A-Za-z_][A-Za-z0-9_]*)=(-?\\d+)".r
      val parts = txt.split(',').map(_.trim).toSeq
      val parsed = parts.map {
        // toIntOption, not toInt: a foreign marker's numeric value can
        // exceed Int range (e.g. an epoch-millis 'ts=1700000000000') and
        // matching the shape must not reintroduce the crash this parser
        // exists to avoid
        case kv(k, v) => v.toIntOption.map(k -> _)
        case _        => None
      }
      if (parts.nonEmpty && parsed.forall(_.isDefined)) Some(parsed.flatten.toMap)
      else None // empty, foreign-format, truncated, or out-of-range marker
    }
  }

  /** Persist the corpus-side dedup index (one corpus shingling pass feeding
    * every artifact — committed with a `_SUCCESS` marker that records the
    * build parameters):
    *  - `buckets/`  — (bucket, id, n_shingles): MinHash-LSH band buckets.
    *    The incoming batch probes this with an equi-join; the corpus text
    *    is NEVER rescanned for candidate generation.
    *  - `exact/`    — (text_hash, canonical_id, n_docs): content-hash
    *    groups for exact-dup rejection of incoming docs.
    *  - `shingles/` — (id, s, df): the inverted shingle index with each
    *    shingle's corpus-wide document frequency denormalized per row.
    *    [[incrementalJaccardPairsIndexed]] probes it with a broadcast join
    *    on the batch's shingles, so the daily exact-Jaccard pass never
    *    re-shingles corpus text (the regex/n-gram CPU is the dominant cost
    *    of the unindexed form; a columnar scan of this table replaces it).
    *  - `doc_n/`    — (id, n_capped): per-doc count of shingles whose df is
    *    <= `jaccardDfCap` — the corpus side of the bipartite df-cap rule,
    *    precomputed so probe-time per-doc counts touch only batch-shared
    *    shingles (the batch-dependent correction term).
    */
  def saveDedupIndex(corpus: DataFrame, idCol: String, textCol: String, path: String,
      shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 3,
      jaccardDfCap: Int = Int.MaxValue): Unit = {
    val marker = markerPath(path)
    val fs = marker.getFileSystem(hadoopConf())
    // invalidate FIRST: a crash mid-overwrite must not leave the PREVIOUS
    // build's marker blessing a half-rewritten index as committed
    fs.delete(marker, false)
    val ex = explodedShingles(corpus, idCol, textCol, shingleN).localCheckpoint()
    bandBuckets(ex, bands, rowsPerBand)
      .select(col("__id").as("id"), col("__n").as("n_shingles"), col("__bucket").as("bucket"))
      .write.mode("overwrite").parquet(s"$path/buckets")
    exactGroups(corpus, idCol, textCol)
      .write.mode("overwrite").parquet(s"$path/exact")
    val dfs = ex.groupBy("__s").agg(count(lit(1)).as("df")) // per-doc distinct => count == df
    val withDf = ex.join(dfs, "__s").localCheckpoint()
    withDf.select(col("__id").as("id"), col("__s").as("s"), col("df"))
      .write.mode("overwrite").parquet(s"$path/shingles")
    withDf.where(col("df") <= jaccardDfCap)
      .groupBy(col("__id").as("id")).agg(count(lit(1)).as("n_capped"))
      .write.mode("overwrite").parquet(s"$path/doc_n")
    val out = fs.create(marker, true)
    try out.write((s"shingleN=$shingleN,bands=$bands,rowsPerBand=$rowsPerBand," +
      s"jaccardDfCap=$jaccardDfCap").getBytes("UTF-8"))
    finally out.close()
  }

  def dedupIndexExists(path: String): Boolean = {
    val p = markerPath(path)
    p.getFileSystem(hadoopConf()).exists(p)
  }

  // every incremental READ path must see the marker before probing:
  // saveDedupIndex deletes it FIRST and rewrites it LAST, so its absence
  // means no build ever completed OR a rebuild crashed midway — either
  // way probing would silently join against a stale/half-rewritten table
  // and return wrong dup_of results with no error
  private def requireCommittedIndex(path: String): Unit =
    require(dedupIndexExists(path),
      s"dedup index at $path has no _SUCCESS marker — it was never built, or a " +
        "rebuild crashed mid-overwrite; rerun saveDedupIndex before probing")

  /** Incoming docs that exact-duplicate an already-ingested doc:
    * (new_id, dup_of) via the persisted content-hash index — one
    * hash-equi-join, no corpus scan. */
  def incrementalExactDups(newDocs: DataFrame, idCol: String, textCol: String,
      indexPath: String): DataFrame = {
    requireCommittedIndex(indexPath)
    newDocs.select(col(idCol).as("new_id"), sha2(col(textCol), 256).as("text_hash"))
      .join(newDocs.sparkSession.read.parquet(s"$indexPath/exact")
        .select(col("text_hash"), col("canonical_id").as("dup_of")), "text_hash")
      .select(col("new_id"), col("dup_of"))
  }

  /** Incremental MinHash-LSH near-dups: the incoming batch's band buckets
    * probe the PERSISTED corpus bucket table (equi-join on the band hash);
    * candidates are exact-verified against only the corpus docs they name
    * (left-semi prune on candidate ids before the corpus text explodes).
    * Returns (new_id, corpus_id, jaccard >= threshold) — precision 1.0,
    * recall the banding curve, corpus scan cost zero.
    */
  def incrementalMinhashPairs(
      newDocs: DataFrame,
      corpus: DataFrame,
      indexPath: String,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 3,
      threshold: Double = 0.3,
      maxBucketWidth: Int = 100000): DataFrame = {
    val spark = newDocs.sparkSession
    requireCommittedIndex(indexPath)
    // parameter drift vs the persisted index is a WRONG-RESULTS bug, not a
    // crash: different banding hashes simply match nothing (or combine
    // mismatched shingle counts into garbage jaccard) — validate against
    // the parameters the marker recorded at build time (a committed marker
    // in a foreign/legacy format still parses to None: nothing to validate)
    readIndexParams(indexPath).foreach { p =>
      val want = Map("shingleN" -> shingleN, "bands" -> bands, "rowsPerBand" -> rowsPerBand)
      val drift = want.filter { case (k, v) => p.get(k).exists(_ != v) }
      require(drift.isEmpty,
        s"dedup index at $indexPath was built with ${p.mkString(",")}; probing with " +
          drift.map { case (k, v) => s"$k=$v" }.mkString(",") + " would silently match nothing")
    }
    val exN = explodedShingles(newDocs, idCol, textCol, shingleN).localCheckpoint()
    val idxAll = spark.read.parquet(s"$indexPath/buckets")
    // corpus-side hot-bucket cap, same rule as minhashPairs: the index may
    // hold a degenerate bucket (boilerplate-heavy corpora) whose probe
    // would fan out quadratically in candidates
    val idx =
      if (maxBucketWidth == Int.MaxValue) idxAll
      else {
        val keep = idxAll.groupBy("bucket").agg(count(lit(1)).as("__w"))
          .where(col("__w") <= maxBucketWidth).select("bucket")
        idxAll.join(keep, Seq("bucket"), "left_semi")
      }
    val candidates = bandBuckets(exN, bands, rowsPerBand)
      .select(col("__bucket").as("bucket"), col("__id").as("new_id"), col("__n").as("__na"))
      .join(idx.select(col("bucket"), col("id").as("corpus_id"), col("n_shingles").as("__nb")),
        Seq("bucket"))
      .select("new_id", "corpus_id", "__na", "__nb")
      .dropDuplicates("new_id", "corpus_id")
      .localCheckpoint() // feeds the id prune AND the verify join
    // verification touches only named corpus docs — at 100 TB this is a
    // point-lookup fetch, not a scan (candidate ids << corpus)
    val candIds = candidates.select(col("corpus_id").as(idCol)).distinct()
    val exC = explodedShingles(corpus.join(candIds, Seq(idCol), "left_semi"),
      idCol, textCol, shingleN)
    val common = candidates.select("new_id", "corpus_id")
      .join(exN.select(col("__id").as("new_id"), col("__s")), Seq("new_id"))
      .join(exC.select(col("__id").as("corpus_id"), col("__s")), Seq("corpus_id", "__s"))
      .groupBy("new_id", "corpus_id")
      .agg(count(lit(1)).as("__common"))
    candidates
      .join(common, Seq("new_id", "corpus_id"))
      .withColumn("jaccard", jaccardOf(col("__common"), col("__na"), col("__nb")))
      .where(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), epsRound(col("jaccard"), 4).as("jaccard"))
  }

  /** Retention policy over resolved duplicate clusters: per cluster, KEEP
    * the best member by a score column (ties to the lowest id) — the step
    * after [[connectedComponents]] that a production dedup actually ends
    * with. "Keep the canonical (lowest-id)" is an arbitrary choice; "keep
    * the longest / highest-quality member" is what corpus builds do
    * (longest-member retention is the common near-dup rule). One argmax
    * aggregation on the cluster key — map-side partial, the same E1 shape
    * as [[graft.operators.Latest.latestAgg]].
    *
    * @param clusters `(idCol, canonical_id)` from [[connectedComponents]]
    * @param members  score source, joined on `idCol`
    * @return (canonical_id, keep_id, n_members, best_score)
    */
  def keepBest(clusters: DataFrame, members: DataFrame, idCol: String,
      scoreCol: String): DataFrame = {
    // two-stage argmax (max score, then min id among the achievers) rather
    // than max_by over struct(score, -id): id negation only works for
    // numeric ids — a string id would ANSI-throw (or NULL out the
    // tie-break, making "ties to lowest id" nondeterministic), and Dedup
    // supports string ids everywhere else.
    // NULL discipline: a cluster must ALWAYS emit a keep decision — a
    // retention pipeline that deletes everything not named in keep_id
    // would otherwise drop whole clusters. Members joined LEFT (absence
    // from `members` is a null score, not a vanished row), and the
    // achiever filter is null-SAFE: when every member's score is null,
    // max() is null, null <=> null selects them all, and the tie-break
    // falls back to the lowest id with best_score = null reported as-is.
    val scored = clusters
      .join(members.select(col(idCol), col(scoreCol).as("__score")), Seq(idCol), "left")
    val best = scored.groupBy(col("canonical_id"))
      .agg(max(col("__score")).as("best_score"), count(lit(1)).as("n_members"))
    scored.join(best, Seq("canonical_id"))
      .where(col("__score") <=> col("best_score"))
      .groupBy(col("canonical_id"), col("n_members"), col("best_score"))
      .agg(min(col(idCol)).as("keep_id"))
      .select(col("canonical_id"), col("keep_id"), col("n_members"), col("best_score"))
  }
}

/** Primitive open-addressing long->long hash map (linear probing, power-of-2
  * capacity, grows at 0.5 load): 16 bytes per slot plus a 1-bit occupancy
  * word — the union-find fast path's parent table must not pay boxed-entry
  * overhead (~50-100 bytes each) when it holds millions of nodes in one
  * task. Accepts ANY long key (occupancy is tracked in a bitset, not a
  * sentinel value). Single-threaded by design.
  */
private[operators] final class LongLongMap(initialCapacity: Int) {
  private var cap = Integer.highestOneBit(math.max(16, initialCapacity - 1) * 2)
  private var keys = new Array[Long](cap)
  private var vals = new Array[Long](cap)
  private var occ = new Array[Long](cap / 64 + 1)
  private var n = 0

  private def isOcc(i: Int): Boolean = (occ(i >>> 6) & (1L << (i & 63))) != 0
  private def setOcc(i: Int): Unit = occ(i >>> 6) |= (1L << (i & 63))

  private def mix(k: Long): Int = {
    var h = k * -7046029254386353131L // splitmix64-style scrambler
    h ^= h >>> 32
    (h & (cap - 1)).toInt
  }

  private def slotOf(k: Long): Int = {
    var i = mix(k)
    while (isOcc(i) && keys(i) != k) i = (i + 1) & (cap - 1)
    i
  }

  def contains(k: Long): Boolean = { val i = slotOf(k); isOcc(i) }

  /** Lookup; the union-find caller only reads keys it has put. */
  def apply(k: Long): Long = vals(slotOf(k))

  def put(k: Long, v: Long): Unit = {
    val i = slotOf(k)
    if (!isOcc(i)) {
      if ((n + 1) * 2 > cap) { grow(); put(k, v); return }
      setOcc(i); keys(i) = k; n += 1
    }
    vals(i) = v
  }

  private def grow(): Unit = {
    val ok = keys; val ov = vals; val oo = occ; val ocap = cap
    cap *= 2
    keys = new Array[Long](cap); vals = new Array[Long](cap)
    occ = new Array[Long](cap / 64 + 1); n = 0
    var i = 0
    while (i < ocap) {
      if ((oo(i >>> 6) & (1L << (i & 63))) != 0) put(ok(i), ov(i))
      i += 1
    }
  }

  def keysIterator: Iterator[Long] =
    (0 until cap).iterator.filter(isOcc).map(keys(_))
}
