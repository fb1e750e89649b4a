package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.sources.TxTable

/** The corpus-preparation pipeline's per-batch core, shared by the batch
  * (p1), incremental (p2) and streaming (p3) declared forms: quality gate →
  * within-batch exact dedup (canonical = min id per content hash) →
  * rejection against already-processed hashes → benchmark 8-gram
  * decontamination, emitting ONE manifest row per newly-processed hash with
  * a `kept` verdict.
  *
  * The tombstone contract is the part streaming needs and batch gets for
  * free: a hash is PROCESSED the first time any doc carrying it survives
  * the gate, whether or not that doc is kept — so a later batch's duplicate
  * of a contaminated canonical still dies as a duplicate, exactly as it
  * does when all batches run as one (dedup-before-decontamination order).
  * Scale shape: gate map-only; dedup shuffles the batch only; processed-
  * hash rejection is one equi-join against a hash-keyed (stats/bloom-
  * prunable) manifest table; the bench gram set broadcasts.
  *
  * Lifts the reference's per-value ingest validation gate
  * (/root/reference/src/registry/feature_registry.py:420-445) to
  * corpus-batch granularity.
  */
object CorpusPrep {

  /** @param batch           incoming docs: (idCol, textCol, carryCols...)
    * @param bench           held-out benchmark docs (textCol)
    * @param processedHashes prior manifest hashes, kept AND tombstoned —
    *                        None for the first/only batch
    * @return one row per newly-processed hash: carryCols + n_tokens,
    *         quality, text_hash, kept
    */
  def prepareBatch(
      batch: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      carryCols: Seq[String],
      processedHashes: Option[DataFrame],
      gramN: Int = 8,
      minQuality: Double = 0.5): DataFrame = {
    // the pipeline OWNS these output columns — a batch (or carryCol) with
    // one of these names would be silently overwritten by the withColumns
    // below and the final select would emit a duplicate-named column that
    // breaks every downstream reference (review finding)
    val reserved = Set("quality", "n_tokens", "text_hash", "kept",
      "n_stopwords", "avg_token_len", "n_chars_calc")
    val clash = batch.columns.filter(c => reserved.contains(c) && c != idCol)
    require(clash.isEmpty,
      s"batch columns ${clash.mkString(",")} collide with the pipeline's " +
        "reserved output columns — rename them before prepareBatch")
    // collapse SAME-ID duplicates first: an at-least-once source can
    // deliver one record twice WITHIN a micro-batch, and the
    // canonical-per-hash semi-join keys on id, so both copies would
    // survive it and land twice in the manifest (review finding; the
    // cross-batch case dies on the processed-hash anti-join instead)
    val scored = TextAnalysis.withStats(batch.dropDuplicates(idCol), textCol)
      .withColumn("quality", TextAnalysis.qualityScore(
        col("n_tokens"), col("n_stopwords"), col("avg_token_len")))
      .where(col("quality") >= minQuality)
      .withColumn("text_hash", sha2(col(textCol), 256))
    val canon = scored.groupBy("text_hash")
      .agg(min(col(idCol)).as(idCol)).select(idCol)
    val gated = scored.join(canon, Seq(idCol), "left_semi")
    // materialize the surviving manifest once: it anchors BOTH the
    // contamination gram scan and the verdict join below, and without a
    // pinned boundary each reference re-runs the gate+dedup stages from
    // the scan (measured 7.3 s -> ~2 s at sf0.1). localCheckpoint keeps the
    // blocks executor-local: fastest, but lost on executor death.
    val fresh = (processedHashes match {
      case Some(seen) => gated.join(seen.select("text_hash"), Seq("text_hash"), "left_anti")
      case None       => gated
    }).localCheckpoint()
    // null-SAFE verdict join: a contaminated row with a NULL id must still
    // be flagged — plain equality never matches NULL to NULL, so the row
    // would read kept=true and leak benchmark text into the manifest
    val contaminated = Contamination
      .contaminationReport(fresh, bench, idCol = idCol, textCol = textCol, n = gramN)
      .select(col(idCol).as("__cid"), lit(1).as("__c"))
    fresh
      .join(contaminated, col(idCol) <=> col("__cid"), "left")
      .withColumn("kept", col("__c").isNull)
      .withColumn("n_tokens", col("n_tokens").cast("long"))
      .select((idCol +: carryCols).map(col) ++
        Seq(col("n_tokens"), col("quality"), col("text_hash"), col("kept")): _*)
  }

  /** The STREAMING attachment of the pipeline: run [[prepareBatch]] on each
    * micro-batch of a document stream and commit the manifest (kept rows +
    * tombstones) to a TxTable, whose accumulated hashes are the
    * processed-hash set for every later batch — so cross-batch duplicates
    * and at-least-once redeliveries die on one equi-join against the table.
    * Read the corpus back as `table.read().where(col("kept"))`.
    *
    * When arrival order is id-ordered (or any order where the preferred
    * canonical arrives first), the final table equals the batch pipeline's
    * manifest exactly — the p1≡p3 equivalence the driver's shared oracle
    * certifies. Caller supplies output mode/trigger/checkpoint and starts
    * the returned writer.
    */
  /** @param commitTsForBatch commit-log wall-clock stamp per batchId.
    *   Defaults to the REAL clock — the TxTable log's `ts` feeds
    *   `readAsOfTimestamp`, so synthetic stamps would corrupt table-level
    *   time travel for every other consumer (review finding). Deterministic
    *   harnesses override it (the oracle needs reproducible logs). */
  def prepareCorpusSink(
      docStream: DataFrame,
      bench: DataFrame,
      table: TxTable,
      idCol: String,
      textCol: String,
      carryCols: Seq[String],
      gramN: Int = 8,
      minQuality: Double = 0.5,
      txnAppId: String,
      commitTsForBatch: Long => Long = _ => System.currentTimeMillis()): DataStreamWriter[Row] =
    docStream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      // exactly-once under micro-batch RETRY, not just row redelivery:
      // foreachBatch's contract makes the sink responsible for batchId
      // dedup (a batch replayed after a partial failure arrives with the
      // SAME id) — the txn marker makes the re-commit a no-op, while
      // redelivered ROWS inside a genuinely new batch still die on the
      // manifest anti-join below. txnAppId has NO default on purpose: two
      // independent streams sharing one table AND one app id would treat
      // each other's batch numbers as their own redeliveries and silently
      // drop data — the caller must pick an id unique per query (e.g.
      // derived from the checkpoint location)
      val processed =
        if (table.version() >= 0) Some(table.read().select("text_hash")) else None
      val manifest = prepareBatch(batch, bench, idCol, textCol, carryCols,
        processedHashes = processed, gramN = gramN, minQuality = minQuality)
      table.append(manifest, tsMillis = commitTsForBatch(id), txn = Some((txnAppId, id)))
      ()
    }
}
