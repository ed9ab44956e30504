package graft.streaming

import graft.ext.{Dedup, HashMode}
import graft.sources.TxTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Continuous corpus ingestion with incremental dedup — the daily-ingest
  * loop the signature index exists for, run as a structured stream. Each
  * micro-batch of documents is:
  *
  *  1. deduped WITHIN the batch (minhash LSH, keep-first: the smallest id
  *     of every near-dup chain survives);
  *  2. probed against the persisted signature index
  *     ([[graft.ext.Dedup.dedupAgainstIndex]] — manifest-pruned, the
  *     corpus never self-joins);
  *  3. split: near-dups of landed content are QUARANTINED to a report
  *     table (new_id, dup_of, jac — the audit a curation pipeline keeps),
  *     survivors are APPENDED to the curated corpus AND to the signature
  *     index, so the next batch probes them too.
  *
  * ==Delivery contract==
  * Exactly-once for all four tables: the corpus, the report and the
  * index's `buckets/` and `shingles/` are [[TxTable]]s, and each gets
  * one [[TxTable.commitStreaming]] version stamped with the epoch, so a
  * replayed epoch skips every table that already holds it. The corpus
  * and report commit first and the index last: a replay after a crash
  * between commits probes the index the skipped tables were computed
  * against, and recomputes the same answer.
  *
  * At 100 TB: per-trigger work is O(batch² within LSH buckets + probed
  * files), independent of the landed corpus size — the property the
  * whole index machinery buys. Each trigger appends one version per
  * table; [[TxTable.compact]] and [[TxTable.vacuum]] are the
  * maintenance (for the index, [[graft.ext.Dedup.compactSignatureIndex]]).
  */
object IngestStream {

  /** One micro-batch of the ingest loop; public so tests and [[start]]
    * share the body. No-ops on an empty batch.
    */
  def applyIngestBatch(
      batch: DataFrame,
      epoch: Long,
      indexPath: String,
      corpusDir: String,
      reportDir: String,
      textCol: String,
      idCol: String,
      threshold: Double = 0.8,
      n: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 8): Unit = {
    if (batch.isEmpty) return
    // consumed by three derivations (intra pairs, probe, survivors):
    // materialize the batch once — it is trigger-sized, not corpus-sized
    val b = batch.localCheckpoint(true)

    // 1. intra-batch keep-first: drop the LATER member of every pair
    val intraDrops = Dedup.minhashLshDedup(b, textCol, idCol,
        n, bands, rowsPerBand, threshold, HashMode.Portable)
      .select(col("id_b").as("__drop"))
    val intraKept = b.join(intraDrops, col(idCol) === col("__drop"), "left_anti")

    // 2. probe the landed index (manifest-pruned; no corpus self-join)
    val crossDups = Dedup.dedupAgainstIndex(intraKept, textCol, idCol,
      indexPath, n, bands, rowsPerBand, threshold)

    // 3. survivors → curated corpus, near-dups → report, then survivors
    // → the index (last: see the delivery contract)
    val survivors = intraKept.join(
        crossDups.select(col("new_id")).distinct(),
        intraKept(idCol) === col("new_id"), "left_anti")
      .localCheckpoint(true) // read twice: corpus commit + index commit
    TxTable.commitStreaming(survivors, corpusDir, epoch)
    TxTable.commitStreaming(crossDups, reportDir, epoch)
    Dedup.commitSignatureRows(survivors, textCol, idCol, indexPath,
      n, bands, rowsPerBand, bucketParts = 64, "append", Some(epoch))
  }

  /** Stream a document directory through the ingest loop. The index at
    * `indexPath` must exist — seed it with
    * [[graft.ext.Dedup.writeSignatureIndex]] over the landed corpus (an
    * empty one for a cold start). Read the corpus and report with
    * [[TxTable.read]].
    */
  def start(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      indexPath: String,
      corpusDir: String,
      reportDir: String,
      checkpointDir: String,
      textCol: String,
      idCol: String,
      threshold: Double = 0.8,
      trigger: Option[Trigger] = None,
      maxFilesPerTrigger: Int = 100): StreamingQuery =
    FileStreamQuery.start(spark, srcDir, schema, checkpointDir,
      trigger.getOrElse(Trigger.ProcessingTime("5 seconds")),
      maxFilesPerTrigger, "graft-ingest") { (batch, epoch) =>
      applyIngestBatch(batch, epoch, indexPath, corpusDir, reportDir,
        textCol, idCol, threshold)
    }

  /** Drain all pending document files once and stop (AvailableNow). */
  def drain(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      indexPath: String,
      corpusDir: String,
      reportDir: String,
      checkpointDir: String,
      textCol: String,
      idCol: String,
      threshold: Double = 0.8,
      maxFilesPerTrigger: Int = 100): Unit =
    start(spark, srcDir, schema, indexPath, corpusDir, reportDir,
      checkpointDir, textCol, idCol, threshold,
      trigger = Some(Trigger.AvailableNow()),
      maxFilesPerTrigger = maxFilesPerTrigger).awaitTermination()
}
