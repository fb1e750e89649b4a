package graft.operators

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Point-in-time (as-of) join: enrich each spine row with the most recent
  * fact whose timestamp is `<=` the spine row's timestamp, per key.
  *
  * Semantics from the reference's per-row loop
  * (/root/reference/src/serving/feature_server.py:355-408 spine iteration;
  * :531-583 entity filter + time filter + per-feature argmax; output columns
  * `{name}` and `{name}__timestamp` at :397-398). The reference is
  * O(|spine| x |facts|) nested scans; the join here is fully distributed.
  *
  * One physical formulation: a partitioned merge-scan
  * ([[org.apache.spark.sql.graft.asof.AsOfJoinExec]]) over both sides
  * hash-clustered on the key and sorted by time — O(S + F) per partition
  * with NO intermediate row explosion (a theta-join `f.ts <= s.ts`
  * materializes O(S*F) pairs per key before the argmax prunes them, which
  * dies at 100 TB on hot keys). The merge carries one fact per slot:
  * [[nativeSlots]] answers k as-of joins (one per slot of the fact rows)
  * in one pass over the facts, and [[native]] is its one-slot case. It
  * replaced a union + window carry-forward formulation that measured 2.8x
  * slower cold and 1.4x slower warm at 20M facts / 2M spine (timed before
  * the merge gained slots).
  * [[locfBounded]] and [[locfSalted]] are a tolerance mask and hot-key
  * salting over [[native]].
  *
  * [[thetaWindow]] (small/verification path): the naive inequality join +
  * row_number, kept only as the differential-test oracle.
  *
  * Tie rules (pinned by AsOfJoinSpec): a fact at exactly the spine timestamp
  * IS visible (inclusive `<=`); among facts with equal timestamps the one
  * with the greatest `tieCol` wins; a spine row with no eligible fact gets
  * nulls (reference: feature_registry.py:486-487).
  */
object AsOfJoin {

  /** Tolerance-bounded point-in-time join (pandas `merge_asof(tolerance=)`,
    * kdb+ `wj`'s window lower bound): like [[native]], but a matched fact
    * OLDER than `toleranceSec` before the spine timestamp counts as no
    * match — the payload (and match timestamp) come back null. This is the
    * feature store's max-staleness read: serving a week-old vital sign is
    * worse than serving none (the reference's freshness tiers, A4, applied
    * at join time instead of after).
    *
    * Masking after the as-of join is exactly equivalent to bounding the
    * join window: the as-of match is the LATEST fact ≤ ts, so if it falls
    * outside the tolerance every earlier fact does too. Zero extra
    * shuffles over [[native]].
    *
    * Null timestamps: a null-ts fact is "infinitely old" (it sorts before
    * everything in [[native]]'s merge order), so it falls outside ANY finite
    * tolerance and is masked here even though plain [[native]] would carry
    * it — the "huge tolerance ≡ native" equivalence therefore holds for
    * non-null fact timestamps (the normal case; a null event time has no
    * age to bound).
    */
  def locfBounded(
      spine: DataFrame,
      facts: DataFrame,
      keyCols: Seq[String],
      spineTs: String,
      factTs: String,
      payloadCols: Seq[String],
      tieCol: String,
      toleranceSec: Long,
      outSuffix: String = ""
  ): DataFrame = {
    require(toleranceSec >= 0, s"tolerance must be non-negative, got $toleranceSec")
    val joined = native(spine, facts, keyCols, spineTs, factTs, payloadCols, tieCol, outSuffix)
    val matchTs = factTs + outSuffix + "__timestamp"
    val inWindow = col(matchTs).isNotNull &&
      col(matchTs) >= col(spineTs).cast("timestamp") - expr(s"INTERVAL $toleranceSec SECOND")
    val masked = (payloadCols.map(_ + outSuffix) :+ matchTs).foldLeft(joined) { (df, c) =>
      df.withColumn(c, when(inWindow, col(c)))
    }
    masked
  }

  /** Skew-mitigated as-of join: a hot entity puts its whole history into
    * ONE merge task in [[native]]. Salting restores parallelism: spine rows
    * scatter across `saltBuckets` sub-partitions of their key
    * (deterministic hash of the spine timestamp), while facts replicate to
    * every bucket — each bucket then runs a full, correct [[native]] join
    * over all of the key's facts. Cost: facts shuffled saltBuckets times;
    * use only for keys known to be hot (route hot keys here, the long tail
    * through [[native]] — AQE can't split a merge partition for you).
    *
    * Historical crossover, measured at commit 75df5c9 by a skew probe
    * since deleted (20M facts / 2M spine / 100k keys, one key holding the
    * hot share, local[32], salt=16, warm rep; all outputs bit-identical).
    * The salted column ran over the union + window join since deleted
    * (11.9 s / 34.7 s unsalted), so it is not re-runnable as printed:
    *
    * {{{
    *   hot share   salted(all)  native
    *   10%           61.7 s      5.0 s
    *   40%           72.8 s     27.2 s
    * }}}
    *
    * Read the table honestly: on a THROUGHPUT-BOUND box (all cores busy —
    * local[32] here), salting never wins, because replicating the hot
    * key's facts saltBuckets× adds more total work than the skew costs,
    * and [[native]]'s merge-scan is the best skew answer. Salting pays on
    * a LATENCY-BOUND cluster: 1000 executors idling behind one straggler
    * task that owns the hot key's whole history — there, saltBuckets×
    * more work on one key to cut the straggler saltBuckets× is the right
    * trade. Default to [[native]] under skew; reach for salting only when
    * the hot task's wall-clock, not cluster throughput, is the constraint.
    */
  def locfSalted(
      spine: DataFrame,
      facts: DataFrame,
      keyCols: Seq[String],
      spineTs: String,
      factTs: String,
      payloadCols: Seq[String],
      tieCol: String,
      saltBuckets: Int,
      outSuffix: String = ""
  ): DataFrame = {
    // saltBuckets = 0 would NOT error: pmod(x, 0) is NULL (non-ANSI
    // division), sequence(0, -1) is [0, -1], NULL matches neither — every
    // payload silently null while the row count looks right
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    val saltedSpine = spine.withColumn(
      "__salt", pmod(xxhash64(col(spineTs)), lit(saltBuckets.toLong)).cast("int"))
    val saltedFacts = facts.withColumn(
      "__salt", explode(sequence(lit(0), lit(saltBuckets - 1))))
    native(saltedSpine, saltedFacts, keyCols :+ "__salt", spineTs, factTs, payloadCols, tieCol, outSuffix)
      .drop("__salt")
  }

  /** The as-of join: plans the custom
    * [[org.apache.spark.sql.graft.asof.AsOfJoinExec]] physical operator —
    * both sides hash-clustered + sorted (EnsureRequirements inserts the
    * exchanges, same as SortMergeJoin), then one O(S+F) forward merge per
    * partition. Differentially tested against [[thetaWindow]]. The output
    * keeps the spine's partitioning and order, so enriching one spine with
    * several fact sets in a row shuffles the spine once. This is the
    * one-slot case of [[nativeSlots]]: same node, exec and strategy.
    *
    * @param spine       left side; ALL its columns pass through to the output
    * @param facts       right side (the fact/value log)
    * @param keyCols     equi-join key column names (present in both sides)
    * @param spineTs     timestamp column name in `spine`
    * @param factTs      timestamp column name in `facts`
    * @param payloadCols fact columns to carry onto matching spine rows
    * @param tieCol      fact column breaking equal-timestamp ties (max wins)
    * @param outSuffix   appended to emitted payload/timestamp column names
    */
  def native(
      spine: DataFrame,
      facts: DataFrame,
      keyCols: Seq[String],
      spineTs: String,
      factTs: String,
      payloadCols: Seq[String],
      tieCol: String,
      outSuffix: String = ""
  ): DataFrame =
    merge(spine, facts, keyCols, spineTs, factTs, payloadCols, tieCol, None,
      Seq(0 -> (payloadCols.map(_ + outSuffix) :+ (factTs + outSuffix + "__timestamp"))))

  /** k as-of joins in ONE merge: each fact row belongs to the slot named by
    * its int `slotCol`, and each spine row gets, per (slot value, name) in
    * `slots`, the `valueCol` of that slot's latest fact with ts <= the spine
    * ts as column `name`, and that fact's timestamp as `name__timestamp`
    * (both null when the slot has no eligible fact). Equal to folding
    * [[native]] over the k single-slot fact sets, but the facts are
    * scanned, shuffled and sorted once instead of k times — the fold
    * shuffles the spine once too, but re-plans and re-sorts the facts per
    * step. Facts whose slot is null or not listed are ignored. Key
    * coercion, timestamp cast and the spine-filter pushdown are those of
    * [[native]].
    */
  def nativeSlots(
      spine: DataFrame,
      facts: DataFrame,
      keyCols: Seq[String],
      spineTs: String,
      factTs: String,
      valueCol: String,
      tieCol: String,
      slotCol: String,
      slots: Seq[(Int, String)]
  ): DataFrame =
    merge(spine, facts, keyCols, spineTs, factTs, Seq(valueCol), tieCol, Some(slotCol),
      slots.map { case (v, n) => v -> Seq(n, n + "__timestamp") })

  /** The one plan constructor behind [[native]] and [[nativeSlots]]: `slots` maps
    * each slot value to the output names of its payload columns followed
    * by the name of its matched-fact timestamp; with no `slotCol` every
    * fact is in slot 0. */
  private def merge(
      spine: DataFrame,
      facts: DataFrame,
      keyCols: Seq[String],
      spineTs: String,
      factTs: String,
      payloadCols: Seq[String],
      tieCol: String,
      slotCol: Option[String],
      slots: Seq[(Int, Seq[String])]
  ): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, Literal}
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.graft.asof.{AsOfJoinNode, AsOfJoinPredicatePushdown, NativeAsOfStrategy}

    // the merge-scan hash-partitions and compares keys AS TYPED (Murmur3 of
    // int 5 != long 5), so a key pair of different types joins on both
    // sides cast to the type unionByName picks for the pair — read off the
    // analyzed schema of a one-column union, no job runs — while the spine
    // column itself passes through unchanged
    val keyTypes = keyCols.map { c =>
      val (lt, rt) = (spine.schema(c).dataType, facts.schema(c).dataType)
      if (lt == rt) lt
      else Try(spine.select(col(c)).unionByName(facts.select(col(c))).schema.head.dataType)
        .getOrElse(throw new IllegalArgumentException(
          s"as-of join key '$c' is ${lt.simpleString} on the spine and ${rt.simpleString} " +
            "on the facts, and the two have no common type — cast one side first"))
    }
    val spark = spine.sparkSession
    if (!spark.experimental.extraStrategies.contains(NativeAsOfStrategy)) {
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ NativeAsOfStrategy
    }
    if (!spark.experimental.extraOptimizations.contains(AsOfJoinPredicatePushdown)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ AsOfJoinPredicatePushdown
    }

    val spineCols = spine.columns.toSeq
    // every expression the node references must be a plain attribute of a
    // projected child (the analyzer does not resolve lazy Column nodes
    // inside a foreign LogicalPlan), so casts happen in these selects; a
    // spine column already of the join type is used as is, which keeps a
    // previous as-of join's (key, ts) order valid for this one
    val spineKeys = keyCols.zip(keyTypes).map { case (c, t) =>
      if (spine.schema(c).dataType == t) c -> None else s"__sk_$c" -> Some(col(c).cast(t))
    }
    val sts = if (spine.schema(spineTs).dataType == TimestampType) spineTs -> None
      else "__sts" -> Some(col(spineTs).cast("timestamp"))
    val added = (spineKeys :+ sts).collect { case (n, Some(e)) => n -> e }
    val sp = if (added.isEmpty) spine else spine.withColumns(added.toMap)
    val f = facts.select(
      keyCols.zip(keyTypes).map { case (c, t) => col(c).cast(t).as(s"__k_$c") } ++ Seq(
        col(factTs).cast("timestamp").as("__fts"),
        Latest.tieLong(facts, tieCol).as("__ftie")) ++
        slotCol.map(c => col(c).cast("int").as("__slot")) ++
        payloadCols.map(c => col(c).as(s"__p_$c")): _*)

    // each slot carries the payload columns and the fact timestamp; the
    // node produces one fresh attribute per (slot, carried column), aliased
    // to its output name only in the select below, so an output name may
    // repeat a spine column's exactly as the per-feature fold allowed
    val payload = (payloadCols.map(c => s"__p_$c") :+ "__fts").map(c => Bridge.expression(f(c)) match {
      case a: Attribute => a
    })
    val slotOutput = slots.indices.flatMap(i =>
      payload.map(a => AttributeReference(s"__s${i}_${a.name}", a.dataType, nullable = true)()))
    val node = AsOfJoinNode(
      Bridge.analyzed(sp),
      Bridge.analyzed(f),
      leftKeys = spineKeys.map { case (n, _) => Bridge.expression(sp(n)) },
      rightKeys = keyCols.map(c => Bridge.expression(f(s"__k_$c"))),
      leftTs = Bridge.expression(sp(sts._1)),
      rightTs = Bridge.expression(f("__fts")),
      rightTie = Bridge.expression(f("__ftie")),
      rightSlot = slotCol.fold[Expression](Literal(0))(_ => Bridge.expression(f("__slot"))),
      payload = payload,
      slotValues = slots.map(_._1),
      slotOutput = slotOutput)

    val names = slots.flatMap(_._2)
    Bridge.ofRows(spark, node).select(
      spineCols.map(col) ++ slotOutput.zip(names).map { case (a, n) => Bridge.column(a).as(n) }: _*)
  }

  /** Naive theta-join + per-spine-row argmax. O(S*F) per key before pruning —
    * verification/small-data only; use [[native]] at scale. One semantic
    * difference: a null-timestamp fact matches nothing here (`NULL <= ts`
    * is not true), while [[native]] carries it as infinitely old.
    */
  def thetaWindow(
      spine: DataFrame,
      facts: DataFrame,
      keyCols: Seq[String],
      spineTs: String,
      factTs: String,
      payloadCols: Seq[String],
      tieCol: String,
      outSuffix: String = ""
  ): DataFrame = {
    val spineCols = spine.columns.toSeq
    val s = spine.withColumn("__sid", monotonically_increasing_id())
    val f = facts.select(
      keyCols.map(c => col(c).as(s"__k_$c")) ++
        payloadCols.map(c => col(c).as(s"__p_$c")) ++
        Seq(col(factTs).cast("timestamp").as("__fts"), Latest.tieLong(facts, tieCol).as("__ftie")): _*
    )
    // null-SAFE key equality: native treats null as a key value
    // (RowOrdering groups nulls together), and this formulation exists to
    // differentially test it — plain === would no-match null keys and
    // report false disagreements
    val joinCond = keyCols
      .map(c => s(c) <=> f(s"__k_$c"))
      .reduce(_ && _) && f("__fts") <= s(spineTs).cast("timestamp")
    val w = Window.partitionBy(col("__sid")).orderBy(col("__fts").desc, col("__ftie").desc)
    s.join(f, joinCond, "left")
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(
        spineCols.map(col) ++
          payloadCols.map(c => col(s"__p_$c").as(c + outSuffix)) :+
          col("__fts").as(factTs + outSuffix + "__timestamp"): _*
      )
  }
}
