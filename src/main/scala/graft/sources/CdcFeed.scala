package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Netting for row-level change feeds (Delta CDF / Iceberg changelog):
  * reduce every key's edge chain to its LAST effect so a downstream
  * materialization applies ONE delete-or-replace per key
  * ([[TxTable.applyCdc]]'s contract).
  *
  * The rules are the CDC-consumer standard (what Delta's own
  * `readChangeFeed` consumers and Iceberg's changelog consumers
  * implement):
  *   - edges order by the feed's commit column (`_commit_version` /
  *     `_change_ordinal`), later commits win;
  *   - WITHIN one commit a key's delete-shaped edge
  *     (`delete` / `update_preimage`) loses to its insert-shaped edge
  *     (`insert` / `update_postimage`) — a MERGE emits both for a
  *     replaced key and the pair nets to the replacement;
  *   - a key whose last effect is delete-shaped nets to a delete; one
  *     whose last effect is insert-shaped nets to that row.
  *
  * Scale shape: one window partitioned BY THE KEYS (never an
  * unpartitioned window) over the consumed range only — CDC ranges are
  * short by nature; the table itself is never touched here.
  */
object CdcFeed {

  /** The change types each side of the netting recognizes. Anything else
    * refuses loudly — silently dropping an unknown edge kind would
    * corrupt the materialization. */
  private val InsertKinds = Set("insert", "update_postimage")
  private val DeleteKinds = Set("delete", "update_preimage")

  /** A netted CDC batch: `upserts` carries full rows for every key whose
    * last edge inserts, `deleteKeys` the key columns of every key whose
    * last edge deletes — both backed by ONE materialized evaluation of
    * the feed. `release()` frees the materialized blocks; the continuous
    * tails call it after each applied batch so per-poll state is freed
    * deterministically instead of waiting for driver GC. */
  final case class NetBatch(upserts: DataFrame, deleteKeys: DataFrame,
      release: () => Unit)

  /** Net `feed` to a [[NetBatch]]. `verCol` is the feed's
    * commit-ordering column and `typeCol` its change-kind column; both
    * are dropped from the outputs.
    *
    * The netted frame MATERIALIZES here (persist + eager count): both
    * outputs are consumed downstream ([[TxTable.applyCdc]] evaluates
    * upserts and deleteKeys separately), and a CDC feed's lazy plan is
    * expensive to re-resolve — an Iceberg changelog's equality-delete
    * edges rescan the parent's live view per evaluation. One evaluation
    * of the feed, bounded by the consumed range, is the contract; the
    * eager pass also makes an unknown change kind refuse AT the call. */
  def net(feed: DataFrame, keys: Seq[String], dataCols: Seq[String],
      verCol: String, typeCol: String): NetBatch = {
    require(keys.nonEmpty, "CdcFeed.net: no key columns")
    val known = (InsertKinds ++ DeleteKinds).toSeq.sorted
    val ranked = feed.withColumn("__cdc_rank",
      when(col(typeCol).isin(InsertKinds.toSeq: _*), 1)
        .when(col(typeCol).isin(DeleteKinds.toSeq: _*), 0)
        .otherwise(raise_error(concat(
          lit("CdcFeed.net: unknown change type '"), col(typeCol),
          lit(s"' — this consumer nets ${known.mkString("/")} only")))))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(verCol).desc, col("__cdc_rank").desc)
    val last = ranked.withColumn("__cdc_rn", row_number().over(w))
      .where(col("__cdc_rn") === 1)
      .persist(StorageLevel.MEMORY_AND_DISK)
    last.count()
    val upserts = last.where(col("__cdc_rank") === 1)
      .select(dataCols.map(col): _*)
    val deleteKeys = last.where(col("__cdc_rank") === 0)
      .select(keys.map(col): _*)
    NetBatch(upserts, deleteKeys, () => { last.unpersist(); () })
  }

  /** The second half of a continuous CDC tail, shared by
    * [[DeltaInterop.tailDeltaCdcInto]] and
    * [[IcebergInterop.tailIcebergCdcInto]]: net `feed` — whose data
    * columns are all but `_change_type`, its commit-ordering `verCol` and
    * the format's other `changeCols` — and apply the batch to `sink` as
    * ONE keyed delete-or-replace commit ([[TxTable.applyCdc]]) txn-marked
    * `(appId, marker)`, freeing the netted blocks afterwards. */
  private[sources] def applyTail(feed: DataFrame, sink: TxTable, keys: Seq[String], caller: String,
      verCol: String, changeCols: Seq[String], appId: String, marker: Long,
      tsMillis: Long): Unit = {
    val meta = Set("_change_type", verCol) ++ changeCols
    val dataCols = feed.columns.filterNot(meta).toSeq
    keys.foreach(k => require(dataCols.contains(k),
      s"$caller: key column '$k' is not a table column"))
    val batch = net(feed, keys, dataCols, verCol = verCol, typeCol = "_change_type")
    try sink.applyCdc(batch.upserts, batch.deleteKeys, keys,
      tsMillis = tsMillis, txn = Some((appId, marker)))
    finally batch.release()
  }
}
