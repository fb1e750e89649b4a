package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Latest-value-per-key (the reference's argmax-by-timestamp pattern).
  *
  * Reference semantics: among rows with `ts <= asOf`, per key keep the row
  * with max ts (/root/reference/src/registry/feature_registry.py:480-490
  * single-key; /root/reference/src/serving/feature_server.py:531-583
  * per-feature loop). Ties broken by max `tieCol` (the reference's Python
  * `max()` keeps first-seen — we pin a deterministic total order instead,
  * see SURVEY.md §5.3).
  *
  * Scale notes: [[latestAgg]] is the production path — `max_by` over a
  * struct ordering key is a declarative aggregate, so Catalyst plans a
  * partial (map-side) aggregation before the shuffle: only one row per
  * (key, map-partition) crosses the wire. [[latestWindow]] shuffles every
  * input row and sorts; it exists because window form composes with
  * passthrough columns for free. Prefer latestAgg when you control the
  * projected columns.
  */
object Latest {

  /** Tie key at full precision for the agg/window forms: timestamps
    * convert to MICROSECONDS (`cast("long")` truncated to whole seconds,
    * so two writes 200 ms apart tied arbitrarily and last-write-wins
    * could serve the stale value); every other orderable type (numerics,
    * strings, dates) orders natively — the old cast turned a string tie
    * into NULL and silently disabled tie-breaking. */
  private[operators] def tieKey(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(c))
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col(c).cast("timestamp"))
      case _ => col(c)
    }

  /** [[tieKey]] restricted to LONG output — the as-of join's tie column
    * (`__ftie`, which the native exec sorts equal-timestamp facts by and
    * [[AsOfJoin.thetaWindow]] orders by) is long-typed, so the tie must be
    * long-convertible; a type that cannot be is rejected loudly (the old
    * cast produced NULL and quietly broke the ordering). */
  private[operators] def tieLong(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(c))
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col(c).cast("timestamp"))
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.DateType => col(c).cast("long")
      case t => throw new IllegalArgumentException(
        s"as-of tie column '$c' has non-long-convertible type ${t.simpleString}; " +
          "use a timestamp or integral column")
    }

  /** Aggregate (map-side-combine) formulation: per `keys`, the values of
    * `payloadCols` on the row maximizing (tsCol, tieCol). Adds `tsCol` of
    * the winning row. Optional `asOf` pre-filter (partition-prunable).
    */
  def latestAgg(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      tieCol: String,
      payloadCols: Seq[String],
      asOf: Option[Column] = None
  ): DataFrame = {
    val base = asOf.map(t => df.where(col(tsCol) <= t)).getOrElse(df)
    val ord  = struct(col(tsCol), tieKey(df, tieCol))
    val pay  = struct((payloadCols.map(col) :+ col(tsCol).as("__ts")): _*)
    base
      .groupBy(keys.map(col): _*)
      .agg(max_by(pay, ord).as("__w"))
      .select(
        keys.map(col) ++
          payloadCols.map(c => col("__w").getField(c).as(c)) :+
          col("__w").getField("__ts").as(tsCol): _*
      )
  }

  /** Window formulation: keeps entire winning rows (all columns). */
  def latestWindow(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      tieCol: String,
      asOf: Option[Column] = None
  ): DataFrame = {
    val base = asOf.map(t => df.where(col(tsCol) <= t)).getOrElse(df)
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).desc, tieKey(df, tieCol).desc)
    base
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Last-write-wins upsert (reference online-store semantics,
    * /root/reference/src/serving/feature_server.py:410-455): applying
    * `updates` over `base` must equal recomputing latest over the union —
    * which is exactly how we compute it (idempotent, associative; property
    * tested). Incremental MERGE against a lakehouse table is the
    * production deployment of the same semantics.
    */
  def lwwUpsert(
      base: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      tsCol: String,
      tieCol: String,
      payloadCols: Seq[String]
  ): DataFrame = {
    val cols = (keys ++ payloadCols :+ tsCol :+ tieCol).distinct.map(col)
    // keep tieCol in the snapshot so a further upsert over the result is
    // well-formed (idempotence property: upsert(upsert(b,u),u) == upsert(b,u));
    // tsCol is excluded because latestAgg re-emits the winning row's tsCol —
    // without the exclusion, tieCol == tsCol would duplicate the column
    val pay = (payloadCols :+ tieCol).distinct.filterNot(_ == tsCol)
    latestAgg(base.select(cols: _*).unionByName(updates.select(cols: _*)), keys, tsCol, tieCol, pay)
  }
}
