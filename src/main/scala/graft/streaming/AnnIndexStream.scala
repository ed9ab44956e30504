package graft.streaming

import graft.ext.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Continuous IVF+PQ serving-index maintenance — the ANN analog of
  * [[IngestStream]]'s signature-index loop: each micro-batch of new
  * vectors is encoded against the index's FROZEN coarse codebook and
  * landed into its coarse-list partitions, so queries see old and new
  * vectors uniformly on the very next probe.
  *
  * ==Delivery contract==
  * Exactly-once, the strong form: every epoch writes
  * `centroid_id=<list>/epoch=<n>/` directories via dynamic-partition
  * overwrite ([[Similarity.appendEpochToIvfPqIndex]]), so a crash-replay
  * rewrites the same directories byte-for-byte instead of appending
  * duplicates. The signature index can afford at-least-once (duplicate
  * bucket rows collapse in the probe); a duplicated PQ code row would
  * occupy two top-k slots, so this tier overwrites its epoch directories
  * whole instead.
  *
  * ==Staleness contract==
  * Appending never moves a centroid: recall degrades as the ingested
  * distribution drifts from the codebook (surface it with
  * `emb_centroid_stats` over recent epochs; a falling mean
  * cosine-to-centroid = re-train and rebuild, exactly as in the batch
  * tier — the stream keeps the index COMPLETE between rebuilds, it does
  * not reposition it).
  *
  * At 100 TB: per-trigger work is O(batch) — the assign is a
  * zero-shuffle literal-codebook map, the encode is a narrow transform,
  * and the single exchange carries (id, m-byte codes, centroid_id),
  * never float vectors. Each epoch adds at most one file per touched
  * list; compact old epochs offline.
  */
object AnnIndexStream {

  /** One micro-batch of the maintenance loop; public so tests and
    * [[start]] share the body. No-ops on an empty batch.
    */
  def applyVectorBatch(
      batch: DataFrame,
      epoch: Long,
      idCol: String,
      vecCol: String,
      cents: Seq[(Long, Seq[Double])],
      m: Int,
      indexPath: String): Unit = {
    if (batch.isEmpty) return
    Similarity.appendEpochToIvfPqIndex(batch, idCol, vecCol, cents, m,
      indexPath, epoch)
  }

  /** Stream a vector directory into the index. The index root must use
    * the epoch-scoped layout — seed it with
    * [[Similarity.appendEpochToIvfPqIndex]] with epoch = -1 over the
    * initial corpus: foreachBatch epochs are checkpoint-assigned FROM 0,
    * so the seed must live outside that space — a seed at epoch 0 would
    * be silently overwritten by the stream's first dynamic-overwrite
    * batch.
    */
  def start(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      indexPath: String,
      checkpointDir: String,
      idCol: String,
      vecCol: String,
      cents: Seq[(Long, Seq[Double])],
      m: Int,
      trigger: Option[Trigger] = None,
      maxFilesPerTrigger: Int = 100): StreamingQuery =
    FileStreamQuery.start(spark, srcDir, schema, checkpointDir,
      trigger.getOrElse(Trigger.ProcessingTime("5 seconds")),
      maxFilesPerTrigger, "graft-ann-index") { (batch, epoch) =>
      applyVectorBatch(batch, epoch, idCol, vecCol, cents, m, indexPath)
    }

  /** Drain all pending vector files once and stop (AvailableNow). */
  def drain(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      indexPath: String,
      checkpointDir: String,
      idCol: String,
      vecCol: String,
      cents: Seq[(Long, Seq[Double])],
      m: Int,
      maxFilesPerTrigger: Int = 100): Unit =
    start(spark, srcDir, schema, indexPath, checkpointDir,
      idCol, vecCol, cents, m,
      trigger = Some(Trigger.AvailableNow()),
      maxFilesPerTrigger = maxFilesPerTrigger).awaitTermination()
}
