package graft.streaming

import graft.ext.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Continuous IVF+PQ serving-index maintenance — the ANN analog of
  * [[IngestStream]]'s signature-index loop: each micro-batch of new
  * vectors is encoded against the index's FROZEN coarse codebook and
  * appended to the index, so queries see old and new vectors uniformly
  * on the very next probe.
  *
  * ==Delivery contract==
  * Exactly-once: the index is a [[graft.sources.TxTable]] and each
  * micro-batch is one [[graft.sources.TxTable.commitStreaming]] version
  * stamped with its epoch, so a crash-replayed epoch is a ledger skip —
  * never a duplicated code row, which would occupy two top-k slots. The
  * seed written by [[Similarity.writeIvfPqIndex]] carries no stamp
  * (ledger mark -1), and stream epochs start at 0.
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
  * list; [[graft.sources.TxTable.compact]] and
  * [[graft.sources.TxTable.vacuum]] are the maintenance.
  */
object AnnIndexStream {

  /** One micro-batch of the maintenance loop; public so tests and
    * [[start]] share the body. Fails fast on a codebook/m mismatch with
    * the index's `_params`.
    */
  def applyVectorBatch(
      batch: DataFrame,
      epoch: Long,
      idCol: String,
      vecCol: String,
      cents: Seq[(Long, Seq[Double])],
      m: Int,
      indexPath: String): Unit =
    Similarity.commitPqCodes(batch, idCol, vecCol, cents, m, indexPath,
      "append", Some(epoch))

  /** Stream a vector directory into the index. Seed the index with
    * [[Similarity.writeIvfPqIndex]] over the initial corpus (an empty
    * one for a cold start).
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
