package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EAV long rows -> one wide feature-vector row per entity (the reference's
  * FeatureVector assembly, /root/reference/src/registry/feature_registry.py:513-529
  * and to_flat_dict /root/reference/src/serving/feature_server.py:90-95).
  *
  * The pivot is always bounded by an explicit `names` list (in the reference
  * the registry supplies the names). Passing names matters at scale twice
  * over: Spark skips the extra distinct-collection job, and the output schema
  * is deterministic — including explicit null columns for features with no
  * rows (the reference's explicit-null contract,
  * feature_server.py:521-527 / :575-581).
  */
object PivotVector {

  /** One row per entity; one column per requested feature name holding the
    * value at max (tsCol, tieCol) — i.e. pivot composed with the latest-
    * per-key argmax in ONE aggregate with one shuffle: per entity, column
    * `n` is `max_by(value, when(name = n, (ts, tie)))`, and max_by skips
    * the rows whose ordering is null, i.e. the other names' rows.
    * (`groupBy.pivot.agg` plans two aggregates — per (entity, name), then
    * PivotFirst per entity — with a shuffle each.)
    */
  def toVector(
      values: DataFrame,
      entityCol: String,
      nameCol: String,
      valueCol: String,
      tsCol: String,
      tieCol: String,
      names: Seq[String]
  ): DataFrame = {
    val ord = struct(col(tsCol), Latest.tieKey(values, tieCol))
    val rows = values.where(col(nameCol).isin(names: _*))
    names.map(n => max_by(col(valueCol), when(col(nameCol) === n, ord)).as(n)) match {
      // no names: the entity column alone, as groupBy.pivot returns it
      case Seq() => rows.select(col(entityCol)).distinct()
      case first +: rest => rows.groupBy(col(entityCol)).agg(first, rest: _*)
    }
  }

  /** Inverse: wide row -> EAV long rows (unpivot), for round-trip property
    * tests (pivot . unpivot == identity on the covered cells).
    */
  def toEav(
      wide: DataFrame,
      entityCol: String,
      names: Seq[String],
      nameCol: String = "feature_name",
      valueCol: String = "value"
  ): DataFrame = {
    val stacked = explode(
      arrays_zip(
        array(names.map(lit): _*).as("n"),
        array(names.map(col): _*).as("v")
      )
    )
    wide
      .select(col(entityCol), stacked.as("__s"))
      .select(
        col(entityCol),
        col("__s.n").as(nameCol),
        col("__s.v").as(valueCol)
      )
  }
}
