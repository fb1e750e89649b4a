package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge DataFrames (SURVEY.md §2 G7 — co-occurrence /
  * graph-shaped corpus audits; companion to the connected-components
  * resolver in [[Dedup.connectedComponents]]).
  *
  * The graph is never materialized as an adjacency structure: every
  * operator works on a plain (src, dst, weight) edge DataFrame, so the
  * 100 TB story is the DataFrame story — edges partition by their join
  * key, each iteration is one partial-agg shuffle, and nothing is
  * driver-resident.
  */
object Graph {

  /** Weighted PageRank with uniform dangling-mass redistribution, run for
    * a FIXED number of power iterations (the reproducible, oracle-checkable
    * form; [[pageRankConverged]] is the ε-stopping production form over
    * the SAME [[prStep]], and [[pageRankPersonalized]] the seed-teleport
    * variant).
    *
    * Semantics per iteration (damping d, N nodes):
    * {{{
    *   r_{k+1}(v) = (1-d)/N + d * ( Σ_{u→v} r_k(u) · w(u,v)/W(u)  +  dang_k/N )
    * }}}
    * where W(u) is u's total out-weight and dang_k is the rank mass sitting
    * on dangling nodes (no out-edges) — redistributed uniformly, the
    * standard stochastic-matrix patch, so Σ_v r(v) = 1 holds at every
    * iteration (the invariant [[GraphSpec]] pins).
    *
    * Scale shape: rank propagation is an equi-join of the rank table
    * against the edge table on `src` followed by a partial-agg shuffle on
    * `dst` — cost O(|E|) per iteration with no window, no cross join, no
    * driver collect; the dangling mass and N are 1-row frames broadcast
    * back. The rank table is localCheckpoint'ed each iteration: r_{k+1}
    * reads r_k twice (contribution join + dangling sum), so an un-truncated
    * lineage doubles per iteration — checkpointing keeps plan size linear
    * in `iterations` exactly like [[Dedup.connectedComponents]]'s rounds.
    * On a 1000-executor cluster you would additionally pre-partition the
    * aggregated edge table by `src` once and reuse it across iterations —
    * the loop body's join key never changes.
    *
    * @param edges raw edge rows; parallel edges are summed into one
    *   weighted edge first. Self-loops are legal (a self-loop feeds rank
    *   back to its own node through the normal term).
    * @param weightCol edge multiplicity/weight; pass a `lit(1.0)`-valued
    *   column name for an unweighted graph.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iterations: Int,
      damping: Double = 0.85
  ): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0.0 && damping < 1.0, s"damping must be in (0,1), got $damping")
    val g = prepPr(edges, srcCol, dstCol, weightCol)
    var ranks = uniformRanks(g)
    for (_ <- 1 to iterations)
      ranks = prStep(g, ranks, damping).localCheckpoint()
    ranks.select(col("node"), col("__r").as("pagerank"))
  }

  /** [[pageRank]] with ε-based early stopping: iterate until the L1 delta
    * Σ_v |r_{k+1}(v) − r_k(v)| falls to `tol` or `maxIterations` runs out,
    * whichever first — the production form (the fixed-iteration form stays
    * the declared/oracle-checkable one; at convergence the two agree,
    * which [[GraphSpec]] pins). The per-round L1 deltas come back as the
    * convergence trace — the metric a pipeline logs/alerts on. Each round
    * costs one extra (already-shuffled) join + 1-row agg for the delta;
    * the delta collect is a scalar, not data, on the driver.
    *
    * @return (ranks, per-round L1 deltas — length = rounds actually run).
    */
  def pageRankConverged(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      maxIterations: Int,
      tol: Double,
      damping: Double = 0.85
  ): (DataFrame, Seq[Double]) = {
    require(maxIterations >= 1, s"maxIterations must be >= 1, got $maxIterations")
    require(tol >= 0.0, s"tol must be >= 0, got $tol")
    require(damping > 0.0 && damping < 1.0, s"damping must be in (0,1), got $damping")
    val g = prepPr(edges, srcCol, dstCol, weightCol)
    var ranks = uniformRanks(g)
    val deltas = scala.collection.mutable.ArrayBuffer.empty[Double]
    var k = 0
    var converged = false
    while (k < maxIterations && !converged) {
      val next = prStep(g, ranks, damping).localCheckpoint()
      val d = next.as("n")
        .join(ranks.as("p"), col("n.node") === col("p.node"))
        .agg(coalesce(sum(abs(col("n.__r") - col("p.__r"))), lit(0.0)))
        .collect().head.getDouble(0)
      deltas += d
      ranks = next
      converged = d <= tol
      k += 1
    }
    (ranks.select(col("node"), col("__r").as("pagerank")), deltas.toSeq)
  }

  /** Personalized PageRank (seed-restricted teleport): random walks
    * restart at the SEED set instead of uniformly, so rank mass measures
    * relevance TO the seeds — the recommender / related-items / trust-
    * propagation feature one step past global [[pageRank]]. Per iteration
    * (teleport vector p, uniform over the seed nodes present in the
    * graph):
    * {{{
    *   r_{k+1}(v) = (1-d)·p(v) + d · ( Σ_{u→v} r_k(u)·w(u,v)/W(u) + dang_k·p(v) )
    * }}}
    * Dangling mass restarts at the seeds too (the PPR-standard patch), so
    * Σ r = 1 still holds every round. Seeds not present in the graph are
    * ignored (they can neither receive nor forward walk mass); r_0 = p.
    * Same per-iteration scale shape as [[pageRank]] — the teleport vector
    * replaces the 1/N constant with a node-keyed left join.
    */
  def pageRankPersonalized(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      seeds: DataFrame,
      nodeCol: String,
      iterations: Int,
      damping: Double = 0.85
  ): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0.0 && damping < 1.0, s"damping must be in (0,1), got $damping")
    val g = prepPr(edges, srcCol, dstCol, weightCol)
    val seedNodes = seeds
      .select(col(nodeCol).as("node"))
      .where(col("node").isNotNull)
      .distinct()
      .join(g.nodes, Seq("node"), "left_semi")
      .localCheckpoint()
    val sFrame = seedNodes.agg(count(lit(1)).cast("double").as("__s"))
    // the teleport vector as a node-keyed frame: 1/|S| on seeds, 0 elsewhere
    val p = g.nodes
      .join(seedNodes.withColumn("__hit", lit(1)), Seq("node"), "left")
      .crossJoin(broadcast(sFrame))
      .select(col("node"),
        when(col("__hit").isNotNull, lit(1.0) / col("__s")).otherwise(lit(0.0)).as("__p"))
      .localCheckpoint()
    require(p.where(col("__p") > 0.0).limit(1).count() > 0L,
      "pageRankPersonalized: no seed node is present in the graph")
    var ranks = p.select(col("node"), col("__p").as("__r")).localCheckpoint()
    for (_ <- 1 to iterations) {
      val dang = ranks
        .join(g.outw, ranks("node") === g.outw("__src"), "left_anti")
        .agg(coalesce(sum("__r"), lit(0.0)).as("__dm"))
      val contrib = g.e
        .join(g.outw, "__src")
        .join(ranks, g.e("__src") === ranks("node"))
        .groupBy(col("__dst").as("node"))
        .agg(sum(col("__r") * col("__w") / col("__ow")).as("__c"))
      ranks = p
        .join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          (lit(1.0 - damping) * col("__p") +
            lit(damping) * (coalesce(col("__c"), lit(0.0)) + col("__dm") * col("__p"))).as("__r"))
        .localCheckpoint()
    }
    ranks.select(col("node"), col("__r").as("pagerank"))
  }

  /** The shared PageRank substrate: aggregated positive-weight edges,
    * node set, out-weights, and the 1-row N frame. */
  private case class PrGraph(e: DataFrame, nodes: DataFrame,
      outw: DataFrame, nFrame: DataFrame)

  private def prepPr(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String): PrGraph = {
    val e = edges
      .select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
        col(weightCol).cast("double").as("__w"))
      .where(col("__src").isNotNull && col("__dst").isNotNull)
      .groupBy("__src", "__dst")
      .agg(sum("__w").as("__w"))
      // a null/zero/negative aggregated weight is not an edge: keeping it
      // would put 0 (or worse) in the out-weight denominator. A node whose
      // OUT-edges all vanish here becomes dangling; one with no surviving
      // edge at all leaves the graph.
      .where(col("__w") > 0.0)
      .localCheckpoint()
    val nodes = e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node")))
      .distinct()
      .localCheckpoint()
    val outw = e.groupBy(col("__src")).agg(sum("__w").as("__ow"))
    // 1-row frames, broadcast everywhere a scalar is needed — no collect,
    // the whole loop stays one lazy-or-checkpointed distributed plan
    val nFrame = nodes.agg(count(lit(1)).cast("double").as("__n"))
    PrGraph(e, nodes, outw, nFrame)
  }

  private def uniformRanks(g: PrGraph): DataFrame = g.nodes
    .crossJoin(broadcast(g.nFrame))
    .select(col("node"), (lit(1.0) / col("__n")).as("__r"))
    .localCheckpoint()

  /** One synchronous uniform-teleport power iteration — the single
    * definition [[pageRank]] and [[pageRankConverged]] both run, so the
    * early-stopping form can never drift numerically from the
    * oracle-checked fixed-iteration form. */
  private def prStep(g: PrGraph, ranks: DataFrame, damping: Double): DataFrame = {
    val dang = ranks
      .join(g.outw, ranks("node") === g.outw("__src"), "left_anti")
      .agg(coalesce(sum("__r"), lit(0.0)).as("__dm"))
    val contrib = g.e
      .join(g.outw, "__src")
      .join(ranks, g.e("__src") === ranks("node"))
      .groupBy(col("__dst").as("node"))
      .agg(sum(col("__r") * col("__w") / col("__ow")).as("__c"))
    g.nodes
      .join(contrib, Seq("node"), "left")
      .crossJoin(broadcast(g.nFrame))
      .crossJoin(broadcast(dang))
      .select(col("node"),
        (lit(1.0 - damping) / col("__n") +
          lit(damping) * (coalesce(col("__c"), lit(0.0)) + col("__dm") / col("__n"))).as("__r"))
  }

  /** Bipartite→unipartite projection (the market-basket / co-occurrence
    * graph build): from (key, item) membership rows, emit the weighted
    * item–item edge list where w(a, b) = number of distinct keys
    * containing both, keeping edges with w ≥ `minSupport`. This is the
    * substrate step for co-purchase, co-citation, and shared-context
    * graphs that [[pageRank]] / [[triangleCounts]] / [[labelPropagate]]
    * then consume.
    *
    * Scale shape: ONE membership shuffle (collect_set per key dedups and
    * gathers in the same partial-aggregated pass — no separate distinct),
    * then the C(|basket|, 2) pair expansion happens MAP-SIDE from the
    * sorted array, then one (a, b) partial-agg shuffle — versus the naive
    * self-join on key, which shuffles the membership table twice more
    * and materializes the same pairs as join output. The quadratic risk is a
    * HOT KEY (one basket with 10⁵ items is 5·10⁹ pairs concentrated in
    * one task): `maxBasketSize` drops baskets above the cap — the
    * standard market-basket guard; a basket that large is a bot/aggregate
    * key, not signal. Dropped baskets are gone from the projection
    * (document the cap with the result); pass Int.MaxValue to disable.
    *
    * @return (a, b, w) with a < b, both non-null, w = distinct-key
    *   co-occurrence count as double.
    */
  def bipartiteProject(
      memberships: DataFrame,
      keyCol: String,
      itemCol: String,
      minSupport: Long = 1L,
      maxBasketSize: Int = 100000
  ): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(maxBasketSize >= 2, s"maxBasketSize must be >= 2, got $maxBasketSize")
    memberships
      .select(col(keyCol).as("__k"), col(itemCol).as("__i"))
      .where(col("__k").isNotNull && col("__i").isNotNull)
      .groupBy("__k")
      .agg(sort_array(collect_set(col("__i"))).as("__l"))
      .where(size(col("__l")).between(2, maxBasketSize))
      .select(explode(expr(
        """flatten(transform(__l, (x, i) ->
          |  transform(slice(__l, i + 2, size(__l)), y -> struct(x AS a, y AS b))))""".stripMargin))
        .as("__p"))
      .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
      .agg(count(lit(1)).cast("double").as("w"))
      .where(col("w") >= minSupport)
  }

  /** Positive pointwise mutual information weighting of a co-occurrence
    * edge list (Levy & Goldberg 2014, "Neural Word Embedding as Implicit
    * Matrix Factorization"): for undirected pair weights w(a,b) with
    * D = Σ w and incidence mass c(x) = Σ_y w(x,y),
    *
    * {{{ pmi(a,b) = ln( w(a,b) · D / (c(a) · c(b)) );  sppmi = max(pmi − ln k, 0) }}}
    *
    * — the reweighting that turns raw co-occurrence counts into the
    * matrix SGNS/item2vec implicitly factorizes; `shift` is the
    * negative-sampling k. Rows with sppmi = 0 drop (the "positive" in
    * SPPMI — the sparse matrix keeps only informative pairs).
    *
    * Scale shape: one (node) partial-agg shuffle for the incidence
    * masses (rows ∝ nodes) joined back onto the edge list, plus a 1-row
    * total broadcast; the PMI arithmetic is map-only. Input edges are
    * taken as already-canonical undirected pairs (the
    * [[bipartiteProject]] output shape); weights ≤ 0 are not edges.
    */
  def sppmi(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      shift: Double = 1.0
  ): DataFrame = {
    require(shift >= 1.0, s"shift (negative-sampling k) must be >= 1, got $shift")
    val e = edges
      .select(col(srcCol).as("a"), col(dstCol).as("b"),
        col(weightCol).cast("double").as("w"))
      .where(col("a").isNotNull && col("b").isNotNull && col("w") > 0.0)
      .localCheckpoint()
    val mass = e.select(col("a").as("node"), col("w"))
      .union(e.select(col("b").as("node"), col("w")))
      .groupBy("node")
      .agg(sum("w").as("__c"))
    val total = e.agg(sum("w").as("__d"))
    e
      .join(mass.select(col("node").as("a"), col("__c").as("__ca")), "a")
      .join(mass.select(col("node").as("b"), col("__c").as("__cb")), "b")
      .crossJoin(broadcast(total))
      .withColumn("__pmi",
        log(col("w") * col("__d") / (col("__ca") * col("__cb"))) - lit(math.log(shift)))
      .where(col("__pmi") > 0.0)
      .select(col("a"), col("b"), col("w"), col("__pmi").as("sppmi"))
  }

  /** Canonical undirected edge form shared by the label-propagation pair:
    * (a < b) unique keys, parallel edges summed, self-loops/nulls/non-
    * positive weights dropped. `trusted` skips the aggregation shuffle for
    * callers whose edges already satisfy the contract. */
  private def canonicalEdges(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, trusted: Boolean): DataFrame =
    if (trusted)
      edges.select(col(srcCol).as("__a"), col(dstCol).as("__b"),
        col(weightCol).cast("double").as("__w"))
    else edges
      .select(col(srcCol).as("__x"), col(dstCol).as("__y"),
        col(weightCol).cast("double").as("__w"))
      .where(col("__x").isNotNull && col("__y").isNotNull &&
        col("__x") =!= col("__y"))
      .groupBy(least(col("__x"), col("__y")).as("__a"),
        greatest(col("__x"), col("__y")).as("__b"))
      .agg(sum("__w").as("__w"))
      .where(col("__w") > 0.0)

  /** Semi-supervised label propagation (Zhu & Ghahramani 2002 shape,
    * hard-label variant), run for a FIXED number of synchronous
    * iterations: each round every node adopts the label with the largest
    * incident edge-weight mass among its labeled neighbors — ties break
    * to the SMALLEST label so the whole fixture is deterministic — nodes
    * with no labeled neighbor keep their current label (or stay
    * unlabeled), and seed nodes are CLAMPED (they never change). The
    * training-data use is spreading sparse trusted labels (quality,
    * domain, license) across an affinity graph (near-dup pairs,
    * co-occurrence) to unlabeled items.
    *
    * Edges are undirected (each edge votes in both directions),
    * parallel edges sum, self-loops drop (a node must not vote for
    * itself), null/zero/negative weights are not edges. A node seeded
    * twice takes its smallest label.
    *
    * Scale shape per iteration: one equi-join of the current label table
    * onto the bidirectional edge list + a (node, label) partial-agg
    * shuffle + a min(struct) argmax aggregate + one outer join against
    * the previous labels — no window, no cross join, no driver state;
    * the label table is localCheckpoint'ed each round (same
    * lineage-growth argument as [[pageRank]]).
    *
    * @return (node, label) for every node labeled after `iterations`
    *   rounds (seeds included). [[labelPropagateFrontier]] computes the
    *   SAME result at frontier cost — this synchronous form is the
    *   reference implementation the differential spec pins it against.
    * @param edgesCanonical the caller asserts `edges` is already the
    *   canonical undirected form — (src < dst) unique pairs, no nulls, no
    *   self-loops, weights > 0 (exactly [[bipartiteProject]]'s output
    *   contract) — so the O(E) canonicalization shuffle is skipped. A
    *   materialized edge fixture consumed by many queries should pay that
    *   shuffle once at build time, not once per query.
    */
  def labelPropagate(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      seeds: DataFrame,
      nodeCol: String,
      labelCol: String,
      iterations: Int,
      edgesCanonical: Boolean = false
  ): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // canonicalize BEFORE mirroring: the parallel-edge aggregation then
    // shuffles half the rows, and the mirror is a map-side union of the
    // aggregated result (same totals — both directions of a parallel
    // edge land on one canonical key)
    val canon = canonicalEdges(edges, srcCol, dstCol, weightCol, edgesCanonical)
    val e = canon
      .select(col("__a").as("__src"), col("__b").as("__dst"), col("__w"))
      .union(canon.select(col("__b").as("__src"), col("__a").as("__dst"), col("__w")))
      .localCheckpoint()
    val seed = seeds
      .select(col(nodeCol).as("node"), col(labelCol).as("__lbl"))
      .where(col("node").isNotNull && col("__lbl").isNotNull)
      .groupBy("node")
      .agg(min("__lbl").as("__lbl"))
      .localCheckpoint()

    var labels = seed
    for (_ <- 1 to iterations) {
      val mass = e
        .join(labels, e("__src") === labels("node"))
        .groupBy(col("__dst").as("node"), col("__lbl"))
        .agg(sum("__w").as("__m"))
      // min of (-mass, label): largest mass wins, ties to the smallest label
      val cand = mass
        .groupBy("node")
        .agg(min(struct((-col("__m")).as("__negm"), col("__lbl"))).as("__t"))
        .select(col("node"), col("__t").getField("__lbl").as("__cand"))
      labels = labels
        .join(cand, Seq("node"), "full_outer")
        .join(seed.select(col("node"), col("__lbl").as("__seed")), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("__seed"), col("__cand"), col("__lbl")).as("__lbl"))
        .localCheckpoint()
    }
    labels.select(col("node"), col("__lbl").as("label"))
  }

  /** Delta-propagation [[labelPropagate]] — identical results, frontier
    * cost (round-7 verdict #3). ("Identical" is exact for weights whose
    * per-(node, label) sums are exactly representable — counts, small
    * integers, the affinity-graph norm; with irrational weight sums a
    * label race decided at FP-noise distance could in principle tip
    * differently, in EITHER implementation, because partial-agg order is
    * not deterministic.) The synchronous update has a locality
    * invariant: a node's candidate label can only change when a NEIGHBOR's
    * label changed last round (its incident mass distribution is otherwise
    * identical). So each round recomputes the argmax ONLY over nodes
    * adjacent to the previous round's changed set, takes every other
    * node's label from the stable table unread, and the new frontier is
    * the nodes whose label actually changed. Round cost is O(edges
    * incident to the frontier) instead of O(E) — as labels converge the
    * per-round work decays with the frontier, and an EMPTY frontier exits
    * early (provably nothing can change after it, so early exit ≡ running
    * all remaining rounds — the convergence form of this operator).
    *
    * [[GraphPropertySpec]] pins frontier ≡ synchronous equality on random
    * graphs.
    *
    * HYBRID DISPATCH (round-8 verdict #2): the frontier machinery (touched
    * expansion + neighborhood semi-join + extra checkpoints) only pays for
    * itself when the frontier is SMALL — on a dense round (frontier ≈ the
    * whole graph, e.g. the first rounds after dense seeding) it recomputes
    * nearly every node anyway while paying the bookkeeping on top, which is
    * how the r8 fixture regressed 5.2 → 8.2 s. Each round therefore
    * dispatches on the measured frontier width: while |frontier| ≥
    * `denseFraction` × |nodes| it runs the plain synchronous step (one
    * edge join + argmax over everything — cheaper when everything moved),
    * and switches to delta propagation once the frontier thins. Both steps
    * compute the same labels, so the dispatch point cannot change results.
    * Default 0.1, NOT higher: a random f-fraction node frontier touches
    * ≈ 2f of the edges (every edge has two endpoints), so at f = 0.25 the
    * "sparse" round already recomputes half the graph while paying the
    * touched-set bookkeeping on top — measured slower than sync on the
    * co-purchase fixture at f = 0.2.
    * The per-round frontier count doubles as the early-exit check and is
    * SKIPPED on the final iteration (it can never save work there).
    */
  def labelPropagateFrontier(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      seeds: DataFrame,
      nodeCol: String,
      labelCol: String,
      iterations: Int,
      denseFraction: Double = 0.1,
      edgesCanonical: Boolean = false
  ): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val canon = canonicalEdges(edges, srcCol, dstCol, weightCol, edgesCanonical)
    // Pre-partitioned mirrored edge list — the loop body's join keys never
    // change (mass joins on __src, the neighborhood restriction on __dst),
    // so shuffling the edges ONCE per key removes the per-round 2×O(E)
    // edge shuffle entirely: each round then shuffles only the
    // frontier/touched side. This is the cluster discipline the pageRank
    // doc describes, applied. The __dst copy is built LAZILY — a run that
    // stays dense (or converges) before any sparse round never pays it.
    val eBySrc = canon
      .select(col("__a").as("__src"), col("__b").as("__dst"), col("__w"))
      .union(canon.select(col("__b").as("__src"), col("__a").as("__dst"), col("__w")))
      .repartition(col("__src"))
      .localCheckpoint()
    lazy val eByDst = eBySrc.repartition(col("__dst")).localCheckpoint()
    val seed = seeds
      .select(col(nodeCol).as("node"), col(labelCol).as("__lbl"))
      .where(col("node").isNotNull && col("__lbl").isNotNull)
      .groupBy("node")
      .agg(min("__lbl").as("__lbl"))
      .localCheckpoint()
    val seedS = seed.select(col("node"), col("__lbl").as("__seed"))
    // the dispatch denominator, measured once on the checkpointed edges
    // (every node with an incident edge appears as a __src in the mirror)
    val nNodes = eBySrc.select("__src").distinct().count()
    // checkpointed label tables carry NO size stats (LogicalRDD reports the
    // default size), so the per-round mass join would plan a sort-merge
    // join — shuffling/sorting the EDGE side every round. The label table
    // is bounded by the measured node count, so broadcast it when that
    // bound is broadcast-scale and let it shuffle (against the
    // pre-partitioned edges) when it is not — a measured decision, not a
    // blanket hint that would OOM the driver at node-scale = billions.
    val labelSide = (df: DataFrame) =>
      if (nNodes <= 4000000L) broadcast(df) else df
    val argmax = (mass: DataFrame) => mass
      .groupBy("node")
      .agg(min(struct((-col("__m")).as("__negm"), col("__lbl"))).as("__t"))
      .select(col("node"), col("__t").getField("__lbl").as("__cand"))

    var labels = seed
    // round 1's changed set is the seeds themselves (they went from
    // unlabeled to labeled relative to the empty start)
    var frontier = seed.select("node")
    var frontierCnt = frontier.count()
    var k = 0
    while (k < iterations && frontierCnt > 0L) {
      val lastRound = k == iterations - 1
      if (frontierCnt >= denseFraction * nNodes) {
        // DENSE round: plain synchronous step over the whole edge list —
        // one checkpoint, no touched/updated bookkeeping
        val lab = labelSide(labels)
        val mass = eBySrc
          .join(lab, eBySrc("__src") === lab("node"))
          .groupBy(col("__dst").as("node"), col("__lbl"))
          .agg(sum("__w").as("__m"))
        val merged = labels.select(col("node"), col("__lbl").as("__old"))
          .join(argmax(mass), Seq("node"), "full_outer")
          .join(seedS, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("__seed"), col("__cand"), col("__old")).as("__lbl"),
            col("__old"))
          .localCheckpoint()
        labels = merged.select("node", "__lbl")
        frontier = merged.where(!(col("__lbl") <=> col("__old"))).select("node")
      } else {
        // SPARSE round: recompute only the frontier's neighborhoods —
        // nodes whose incident mass could have changed are the frontier's
        // neighbors (the ONLY join touching the edge list at frontier width)
        val touched = eBySrc
          .join(frontier, eBySrc("__src") === frontier("node"))
          .select(col("__dst").as("node"))
          .distinct()
          .localCheckpoint()
        val eT = eByDst.join(touched, eByDst("__dst") === touched("node"), "left_semi")
        val lab = labelSide(labels)
        val mass = eT
          .join(lab, eT("__src") === lab("node"))
          .groupBy(col("__dst").as("node"), col("__lbl"))
          .agg(sum("__w").as("__m"))
        val updated = touched
          .join(argmax(mass), Seq("node"), "left")
          .join(seedS, Seq("node"), "left")
          .join(labels.select(col("node"), col("__lbl").as("__old")), Seq("node"), "left")
          .select(col("node"),
            coalesce(col("__seed"), col("__cand"), col("__old")).as("__new"),
            col("__old"))
          .where(col("__new").isNotNull) // touched but still unlabeled: no row
          .localCheckpoint()
        frontier = updated
          .where(!(col("__new") <=> col("__old")))
          .select("node")
        labels = labels
          .join(updated.select(col("node"), col("__new")), Seq("node"), "full_outer")
          .select(col("node"), coalesce(col("__new"), col("__lbl")).as("__lbl"))
          .localCheckpoint()
      }
      // one count serves BOTH the early exit (empty frontier → provably
      // nothing can change later) and the next round's dispatch; the final
      // iteration skips it — there is no later round for it to save.
      // frontier reads the round's already-checkpointed table either way.
      frontierCnt = if (lastRound) 0L else frontier.count()
      k += 1
    }
    labels.select(col("node"), col("__lbl").as("label"))
  }

  /** Multi-source BFS hop distance: for every node within `maxHops`
    * undirected edges of any seed, the MINIMUM hop count (0 for seeds) —
    * the "distance to a trusted/labeled node" feature (provenance
    * distance, contamination blast radius, crawl-frontier depth).
    *
    * Iterative frontier expansion: round k joins ONLY the hops = k−1
    * frontier against the edge list (not the whole distance table), so
    * per-round cost is O(edges incident to the frontier); the distance
    * table dedups with a (node, min) partial agg and localCheckpoints per
    * round like [[pageRank]]. Nodes beyond `maxHops` are absent, never
    * null. Edge weight is irrelevant (hops, not shortest weighted path);
    * direction is ignored; self-loops are harmless (a node is already at
    * its own distance).
    */
  def hopsFrom(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      nodeCol: String,
      maxHops: Int
  ): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    // dedup on the canonical orientation (half the distinct's shuffle),
    // then mirror map-side; self-loops drop — a node is already at its
    // own distance, and a mirrored loop would just duplicate rows
    val canon = edges
      .select(col(srcCol).as("__x"), col(dstCol).as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull &&
        col("__x") =!= col("__y"))
      .select(least(col("__x"), col("__y")).as("__a"),
        greatest(col("__x"), col("__y")).as("__b"))
      .distinct()
    val e = canon
      .select(col("__a").as("__src"), col("__b").as("__dst"))
      .union(canon.select(col("__b").as("__src"), col("__a").as("__dst")))
      .localCheckpoint()
    var dist = seeds
      .select(col(nodeCol).as("node"))
      .where(col("node").isNotNull)
      .distinct()
      .select(col("node"), lit(0L).as("hops"))
      .localCheckpoint()
    // checkpointed distance tables carry no size stats, so the frontier
    // join would plan a sort-merge join shuffling the EDGE side every hop;
    // the frontier is bounded by the node count, so broadcast it when that
    // bound is broadcast-scale (measured once), shuffle when it is not —
    // the same data-driven hint as labelPropagateFrontier's label side
    val nNodes = e.select("__src").distinct().count()
    val frontierSide = (df: DataFrame) =>
      if (nNodes <= 4000000L) broadcast(df) else df
    for (k <- 1 to maxHops) {
      val frontier = frontierSide(dist.where(col("hops") === (k - 1)))
      val next = e
        .join(frontier, e("__src") === frontier("node"))
        .select(col("__dst").as("node"), lit(k.toLong).as("hops"))
      dist = dist
        .union(next)
        .groupBy("node")
        .agg(min("hops").as("hops"))
        .localCheckpoint()
    }
    dist
  }

  /** Per-node triangle counts via degree-ordered edge orientation — the
    * standard scalable formulation (each undirected edge is directed from
    * its lower-(degree, node) endpoint to the higher one, so every
    * triangle is enumerated exactly once from its lowest-ranked corner
    * and the oriented out-degree is bounded by O(√m) on any graph —
    * wedge-join cost Σ outdeg² ≤ O(m^1.5) instead of Σ deg², which a
    * skewed hub would otherwise drive quadratic).
    *
    * Input edges are treated as UNDIRECTED and simple: direction,
    * multiplicity, self-loops, and null endpoints are all normalized
    * away first. Returns (node, n_triangles) for nodes in ≥1 triangle.
    *
    * Scale shape: three equi-joins (degree attach ×2, wedge self-join on
    * the shared corner, closing-edge semi-join) + partial-agg shuffles —
    * no window, no cross join, no driver collect. The normalized edge
    * and oriented-edge frames are each read ≥2 times and are
    * localCheckpoint'ed (durable-checkpoint them on a real cluster);
    * the non-equi rank comparison rides as a post-join filter on the
    * equi-keyed wedge join, never a join strategy of its own.
    */
  def triangleCounts(
      edges: DataFrame,
      srcCol: String,
      dstCol: String
  ): DataFrame = {
    val und = edges
      .select(col(srcCol).as("__x"), col(dstCol).as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull && col("__x") =!= col("__y"))
      .select(least(col("__x"), col("__y")).as("__a"),
        greatest(col("__x"), col("__y")).as("__b"))
      .distinct()
      .localCheckpoint()
    val deg = und.select(col("__a").as("node"))
      .union(und.select(col("__b").as("node")))
      .groupBy("node")
      .agg(count(lit(1)).as("__d"))
    val withDeg = und
      .join(deg.select(col("node").as("__a"), col("__d").as("__da")), "__a")
      .join(deg.select(col("node").as("__b"), col("__d").as("__db")), "__b")
    val aFirst = col("__da") < col("__db") ||
      (col("__da") === col("__db") && col("__a") < col("__b"))
    // (u, v, vd): edge oriented toward the higher (degree, node) rank,
    // carrying v's degree so the wedge step can order its two far ends
    // without re-joining the degree table
    val o = withDeg
      .select(
        when(aFirst, col("__a")).otherwise(col("__b")).as("u"),
        when(aFirst, col("__b")).otherwise(col("__a")).as("v"),
        when(aFirst, col("__db")).otherwise(col("__da")).as("vd"))
      .localCheckpoint()
    val wedges = o.as("o1")
      .join(o.as("o2"),
        col("o1.u") === col("o2.u") &&
          (col("o1.vd") < col("o2.vd") ||
            (col("o1.vd") === col("o2.vd") && col("o1.v") < col("o2.v"))))
      .select(col("o1.u").as("n0"), col("o1.v").as("n1"), col("o2.v").as("n2"))
    // rank(n1) < rank(n2), so the closing edge — if present — is oriented
    // n1→n2; one semi-join decides triangle-ness
    val tri = wedges.join(
      o.select(col("u").as("n1"), col("v").as("n2")), Seq("n1", "n2"), "left_semi")
    tri
      .select(explode(array(col("n0"), col("n1"), col("n2"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_triangles"))
  }
}
