package graft.streaming

import graft.sources.TxTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming sink into a [[TxTable]] — every micro-batch
  * becomes one ATOMIC table version stamped with its checkpoint epoch,
  * so a crash-replayed epoch finds its stamp and re-commits nothing
  * ([[TxTable.commitStreaming]]): exactly-once end to end, with readers
  * getting snapshot isolation and time travel ACROSS micro-batches for
  * free (version history = batch history). The replayable file source
  * plus this idempotent, versioned sink is the shape every graft stream
  * shares: [[IngestStream]], [[SketchStream]] and [[AnnIndexStream]]
  * end their batch bodies in the same call.
  *
  * `statsColumns` flow through to the manifest, so manifest-level file
  * skipping ([[TxTable.readPruned]]) works on streamed tables too.
  */
object TxSink {

  def start(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      tableDir: String,
      checkpointDir: String,
      mode: String = "append",
      statsColumns: Seq[String] = Nil,
      trigger: Option[Trigger] = None,
      maxFilesPerTrigger: Int = 100): StreamingQuery =
    FileStreamQuery.start(spark, srcDir, schema, checkpointDir,
      trigger.getOrElse(Trigger.ProcessingTime("5 seconds")),
      maxFilesPerTrigger, "graft-tx-sink") { (batch, epoch) =>
      if (!batch.isEmpty) {
        TxTable.commitStreaming(batch, tableDir, epoch, mode, statsColumns)
        ()
      }
    }

  /** Drain all pending files once and stop (AvailableNow). */
  def drain(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      tableDir: String,
      checkpointDir: String,
      mode: String = "append",
      statsColumns: Seq[String] = Nil,
      maxFilesPerTrigger: Int = 100): Unit =
    start(spark, srcDir, schema, tableDir, checkpointDir, mode,
      statsColumns, trigger = Some(Trigger.AvailableNow()),
      maxFilesPerTrigger = maxFilesPerTrigger).awaitTermination()
}
