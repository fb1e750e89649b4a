package graftbench

/** Seeded input generators. Every value is a pure function of
  * (seed, index, salt), so a generator gives the same rows for the same
  * seed however Spark partitions the index range, and the benchmark's
  * own model of the expected output can be built from the same functions. */
object Gen {

  /** splitmix64 finalizer over (seed, index, salt). */
  def mix(seed: Long, i: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1). */
  def unit(seed: Long, i: Long, salt: Long): Double =
    (mix(seed, i, salt) >>> 11) * (1.0 / (1L << 53))

  /** Uniform integer in [0, n). */
  def below(seed: Long, i: Long, salt: Long, n: Long): Long =
    math.floorMod(mix(seed, i, salt), n)

  /** A value with two decimals, so equality checks never depend on
    * floating-point summation order. */
  def value(seed: Long, i: Long, salt: Long): Double =
    below(seed, i, salt, 1000000L) / 100.0

  // ---- feature facts (pit_training) -----------------------------------------

  /** Shape of a fact log: `entities` × `features` series of `perSeries`
    * facts, spaced `stepMs` apart from `t0Ms`. Event times are unique within
    * a series (jitter below one step), so the latest fact as of any instant
    * is never a tie. */
  final case class FactShape(entities: Int, features: Int, perSeries: Int,
      t0Ms: Long, stepMs: Long, missingPct: Int) {
    def size: Long = entities.toLong * features * perSeries
    def endMs: Long = t0Ms + perSeries * stepMs
  }

  /** Fact `i` of the log: (entity, feature, event time ms, value), or None
    * for a series the generator leaves empty (about `missingPct`% of them,
    * so explicit nulls are exercised). */
  def fact(seed: Long, s: FactShape, i: Long): Option[(Int, Int, Long, Double)] = {
    val j = (i % s.perSeries).toInt
    val series = i / s.perSeries
    val f = (series % s.features).toInt
    val e = (series / s.features).toInt
    if (below(seed, series, 1, 100) < s.missingPct) None
    else {
      val ts = s.t0Ms + j * s.stepMs + below(seed, i, 2, s.stepMs)
      Some((e, f, ts, value(seed, i, 3)))
    }
  }

  def entityId(e: Int): String = f"p$e%07d"
  def featureName(f: Int): String = s"f$f"

  /** Spine row `i`: (entity, as-of time ms, label), times spread over the
    * fact log's span plus one step on each side. */
  def spineRow(seed: Long, s: FactShape, i: Long): (Int, Long, Int) = {
    val e = below(seed, i, 11, s.entities).toInt
    val ts = s.t0Ms - s.stepMs + below(seed, i, 12, (s.perSeries + 2) * s.stepMs)
    (e, ts, below(seed, i, 13, 2).toInt)
  }

  // ---- CDC batches (lakehouse_cdc) ----------------------------------------

  /** Batch `b` against the live key set: `upserts` distinct keys (half
    * existing, half fresh from `nextKey` upward) with new values, and
    * `deletes` live keys disjoint from the upserts. */
  final case class CdcBatch(upserts: Seq[(Long, Double)], deletes: Seq[Long], nextKey: Long)

  def cdcBatch(seed: Long, b: Long, live: IndexedSeq[Long], nextKey: Long,
      upserts: Int, deletes: Int): CdcBatch = {
    val existing = pick(seed, b, 31, live, upserts / 2 + deletes)
    val updated = existing.take(upserts / 2)
    val deleted = existing.drop(upserts / 2)
    val fresh = (0 until upserts - updated.size).map(k => nextKey + k)
    val ups = (updated ++ fresh).zipWithIndex.map { case (k, n) =>
      (k, value(seed, b * 1000003L + n, 32))
    }
    CdcBatch(ups, deleted, nextKey + fresh.size)
  }

  /** `k` distinct elements of `xs`, chosen by seed. */
  private def pick(seed: Long, b: Long, salt: Long, xs: IndexedSeq[Long], k: Int): Seq[Long] = {
    val chosen = scala.collection.mutable.LinkedHashSet.empty[Long]
    var n = 0L
    while (chosen.size < math.min(k, xs.size)) {
      chosen += xs(below(seed, b * 7919L + n, salt, xs.size).toInt)
      n += 1
    }
    chosen.toSeq
  }
}
