package graft.streaming

import graft.ext.Sketches
import graft.sources.TxTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming maintenance of a count-min frequency sketch — the "running
  * heavy-hitters over an unbounded stream" operation: every micro-batch
  * folds its rows into a persisted d×w counter table whose estimates are
  * always available without revisiting any history.
  *
  * State layout: one [[TxTable]] of SPARSE (cell, count) rows; each
  * micro-batch appends its batch's cells ([[Sketches.countMinCells]])
  * in one [[TxTable.commitStreaming]] version stamped with its epoch, so
  * a crash-replayed epoch is a ledger skip. Because count-min cells are
  * ADDITIVE and the hash family is fixed literal constants, summing the
  * appended frames cell-wise reproduces the batch sketch over the total
  * stream bit-for-bit: streamed ≡ batch by construction, and the merge
  * is commutative, so [[TxTable.compact]] may regroup the rows freely
  * and [[TxTable.vacuum]] retires what it replaced.
  *
  * Scale shape: per batch, the only data-sized work is the map-side-
  * combined cell aggregate (shuffle bounded by d×w occupied cells, never
  * key cardinality); each epoch adds at most d×w rows; the read-side
  * merge aggregates #epochs × d×w sparse rows — independent of stream
  * volume, the whole point versus an exact per-key count whose state
  * grows with distinct keys.
  */
object SketchStream {

  /** Fold one micro-batch into the sketch table (exactly-once per epoch
    * through the table's ledger).
    */
  def applySketchBatch(
      batch: DataFrame,
      epoch: Long,
      sketchDir: String,
      keyStr: Column,
      d: Int,
      w: Int): Unit = {
    TxTable.commitStreaming(Sketches.countMinCells(batch, keyStr, d, w), sketchDir, epoch)
    ()
  }

  /** The merged dense d×w table over every landed epoch (cell-wise sum —
    * the count-min merge). Driver-side array, same structurally-small
    * class as [[Sketches.countMinTable]]'s result.
    */
  def readTable(spark: SparkSession, sketchDir: String, d: Int, w: Int): Array[Long] = {
    val cells = TxTable.read(spark, sketchDir)
      .groupBy(col("__cell")).agg(sum(col("__n")).as("__n"))
      .collect()
    val arr = new Array[Long](d * w)
    cells.foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  /** Stream a source directory of parquet files through the sketch
    * maintainer.
    */
  def start(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      sketchDir: String,
      checkpointDir: String,
      keyStr: Column,
      d: Int,
      w: Int,
      trigger: Option[Trigger] = None,
      maxFilesPerTrigger: Int = 100): StreamingQuery =
    FileStreamQuery.start(spark, srcDir, schema, checkpointDir,
      trigger.getOrElse(Trigger.ProcessingTime("5 seconds")),
      maxFilesPerTrigger, "graft-sketch") { (batch, epoch) =>
      applySketchBatch(batch, epoch, sketchDir, keyStr, d, w)
    }

  /** Drain all pending files once and stop (AvailableNow). */
  def drain(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      sketchDir: String,
      checkpointDir: String,
      keyStr: Column,
      d: Int,
      w: Int,
      maxFilesPerTrigger: Int = 100): Unit =
    start(spark, srcDir, schema, sketchDir, checkpointDir, keyStr, d, w,
      trigger = Some(Trigger.AvailableNow()),
      maxFilesPerTrigger = maxFilesPerTrigger).awaitTermination()
}
