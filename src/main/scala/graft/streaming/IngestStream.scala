package graft.streaming

import graft.ext.{Dedup, HashMode}
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
  *     ([[graft.ext.Dedup.dedupAgainstIndex]] — partition-pruned, the
  *     corpus never self-joins);
  *  3. split: near-dups of landed content are QUARANTINED to a report
  *     table (new_id, dup_of, jac — the audit a curation pipeline keeps),
  *     survivors are APPENDED to the curated corpus AND to the signature
  *     index ([[graft.ext.Dedup.appendToSignatureIndex]]), so the next
  *     batch probes them too.
  *
  * ==Delivery contract==
  * Corpus and report writes are exactly-once: each lands in an
  * `epoch=<n>` directory overwritten whole on replay. The index append is
  * at-least-once: a replayed epoch re-appends its survivors, landing
  * duplicate (band, bucket, id) and (id, sh) rows — which the probe side
  * tolerates BY DESIGN (`dedupAgainstIndex` collapses duplicate candidate
  * pairs and duplicate shingle rows; `Dedup.scala` documents the retry
  * rationale inline), so a crash between index append and checkpoint
  * commit degrades storage, never correctness. This split — transactional
  * where consumers read rows, idempotent-by-collapse where consumers read
  * an index — is the standard shape when one micro-batch feeds stores
  * with different atomicity guarantees.
  *
  * At 100 TB: per-trigger work is O(batch² within LSH buckets + probed
  * partitions), independent of the landed corpus size — the property the
  * whole index machinery buys. The corpus directory grows one epoch dir
  * per trigger; compact or retire old epoch dirs offline (they are
  * append-only and never rewritten after their epoch commits).
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

    // 2. probe the landed index (partition-pruned; no corpus self-join)
    val crossDups = Dedup.dedupAgainstIndex(intraKept, textCol, idCol,
      indexPath, n, bands, rowsPerBand, threshold)

    // 3a. quarantine report — exactly-once via whole-epoch-dir overwrite
    crossDups.write.mode("overwrite").parquet(s"$reportDir/epoch=$epoch")

    // 3b. survivors → curated corpus (exactly-once, same epoch-dir rule)
    val survivors = intraKept.join(
        crossDups.select(col("new_id")).distinct(),
        intraKept(idCol) === col("new_id"), "left_anti")
      .localCheckpoint(true) // read twice: corpus write + index append
    survivors.write.mode("overwrite").parquet(s"$corpusDir/epoch=$epoch")

    // 3c. survivors → signature index (at-least-once; see class doc)
    if (!survivors.isEmpty)
      Dedup.appendToSignatureIndex(survivors, textCol, idCol, indexPath,
        n, bands, rowsPerBand)
  }

  /** Stream a document directory through the ingest loop. The index at
    * `indexPath` must exist and be non-empty — seed it with
    * [[graft.ext.Dedup.writeSignatureIndex]] over the landed corpus (for
    * a cold start, index the first batch directly and begin streaming
    * from the second; a zero-file parquet index cannot be schema-
    * inferred by the probe).
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

  /** Read the curated corpus (all epochs; the epoch dirs are physical
    * layout, not a data column — recursive lookup + explicit schema).
    */
  def readCorpus(spark: SparkSession, corpusDir: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("recursiveFileLookup", "true").parquet(corpusDir)
}
