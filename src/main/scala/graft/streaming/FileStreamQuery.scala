package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Shared readStream/writeStream wiring for the streams over a directory
  * of parquet files ([[CdcStream]], [[IngestStream]], [[SketchStream]],
  * [[AnnIndexStream]], [[TxSink]]): source schema, file throttle, query
  * name, checkpoint and trigger in one place — the file-source twin of
  * [[TxFeedQuery]]. A drain is this query under `Trigger.AvailableNow`
  * followed by `awaitTermination`.
  */
private[streaming] object FileStreamQuery {
  def start(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      checkpointDir: String,
      trigger: Trigger,
      maxFilesPerTrigger: Int,
      queryName: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
      .writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epoch: Long) => body(batch, epoch) }
      .start()
}
