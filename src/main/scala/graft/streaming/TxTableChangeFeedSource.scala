package graft.streaming

import graft.sources.TxTable
import org.apache.spark.sql.{DataFrame, GraftStreamingShim, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** A TRUE Structured Streaming source over a [[TxTable]]'s change feed
  * — `spark.readStream.format(...)` with committed table VERSIONS as
  * the micro-batch offsets, replacing the round-8 stance that "calling
  * [[TxTable.syncReplica]] on a timer IS the streaming form". With this,
  * the engine's two streaming tiers meet: [[CdcStream]] consumes the
  * parquet change LOG, and this source consumes the table FORMAT's own
  * feed, both as managed queries with checkpoints, triggers
  * (ProcessingTime and AvailableNow), retries and graceful stop.
  *
  * ==Offsets and batches==
  * The offset is the last table version delivered (a plain long in the
  * checkpoint's offset log). A batch (start, end] unions one frame per
  * version: the stream's FIRST version is served as the full snapshot
  * with `change_type = insert` (the bootstrap a replica needs), every
  * later version as [[TxTable.changeFeed]]`(v-1, v)` — O(changed data)
  * for append commits via the manifest diff; after a merge or any other
  * rewrite, one full-outer key join of the two whole snapshots.
  * Each row carries `_commit_version`, so a multi-version batch can be
  * applied strictly in version order downstream.
  *
  * ==Built on the V1 `Source` API==
  * `getBatch` returns a DataFrame (the feed JOIN), which the DSv2
  * micro-batch API cannot express without materializing change rows at
  * commit time — the same reason Delta's `DeltaSource` is a V1 source.
  * This is a supported, stable seam: Spark's own `FileStreamSource` is
  * V1.
  *
  * ==Contracts==
  *  - `keys` must be unique per version ([[TxTable.changeFeed]]'s
  *    invariant, maintained by [[TxTable.merge]]).
  *  - Table retention must cover the stream's lag: a vacuumed diff base
  *    fails the batch with an explicit error (Delta's
  *    "version no longer available" contract) — the gap-tolerant pull
  *    path ([[TxTable.syncReplica]]) re-seeds instead.
  *  - Additive schema evolution mid-stream fails the batch with a
  *    restart instruction (the source's schema is pinned at start, as
  *    Delta does); columns REMOVED by an overwrite read as null.
  *
  * ==At 100 TB==
  * Offsets are manifest version numbers — O(1) driver state. A batch
  * over append versions moves O(changed data); a batch over a merge or
  * another rewrite is O(table): [[TxTable.changeFeed]] full-outer-joins
  * both snapshots on the keys (one co-partitioned shuffle, but of every
  * row). The sink side applies per-version merges ([[TxTable.merge]]'s
  * copy-on-write argument).
  */
class TxTableChangeFeedSource(
    spark: SparkSession,
    dir: String,
    keyCols: Seq[String],
    startingVersion: Long,
    maxVersionsPerTrigger: Option[Long] = None,
    metadataPath: String = "",
    ticksOnly: Boolean = false) extends Source {

  /** Data schema pinned at stream start (the Delta contract). */
  private val tableSchema: StructType =
    TxTable.latest(dir).getOrElse(throw new IllegalArgumentException(
      s"no committed TxTable version at $dir")).schema

  override val schema: StructType =
    if (ticksOnly) TxTableChangeFeedSource.TickSchema
    else StructType(tableSchema.fields ++ Seq(
      StructField("change_type", StringType, nullable = false),
      StructField("_commit_version", LongType, nullable = false)))

  // ---- rate limit (maxVersionsPerTrigger) ---------------------------
  // The throttle floor is the highest version ALREADY DELIVERED by a
  // getBatch — not the engine's committed offset, which a V1 Source
  // never sees. It must survive restarts: after recovery Spark only
  // replays the last UNcommitted batch, so a floor that reset to
  // startingVersion-1 would let getOffset regress BELOW the
  // checkpoint's committed offset, log the regressed offset, and
  // re-deliver versions the sink already saw. The floor is therefore
  // write-ahead persisted in the source's own checkpoint metadata dir
  // (`metadataPath`, the FileStreamSource pattern) before getBatch
  // returns — monotone across crashes at any point. Unthrottled
  // streams skip all of this (the offset is just the latest version).

  // The floor file lives in the checkpoint's own filesystem: metadataPath
  // may be hdfs://, s3a://, or a bare local path, so all access goes
  // through CheckpointFileManager (what FileStreamSource itself uses for
  // its metadata log) — java.nio would silently turn an hdfs:// URI into
  // a relative LOCAL path and the floor would not survive driver failover.
  private lazy val checkpointFs =
    org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
      .create(new org.apache.hadoop.fs.Path(metadataPath),
        spark.sessionState.newHadoopConf())

  private def watermarkFile: org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(metadataPath, "graft-delivered")

  private var lastDelivered: Long =
    if (maxVersionsPerTrigger.isEmpty || metadataPath.isEmpty) startingVersion - 1
    else {
      val f = watermarkFile
      if (checkpointFs.exists(f)) {
        val in = checkpointFs.open(f)
        try math.max(
          new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim.toLong,
          startingVersion - 1)
        finally in.close()
      } else startingVersion - 1
    }

  private def persistDelivered(v: Long): Unit =
    if (maxVersionsPerTrigger.isDefined && metadataPath.nonEmpty) {
      checkpointFs.mkdirs(new org.apache.hadoop.fs.Path(metadataPath))
      val out = checkpointFs.createAtomic(watermarkFile, overwriteIfPossible = true)
      try {
        out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.close()
      } catch { case e: Throwable => out.cancel(); throw e }
    }

  override def getOffset: Option[OffsetV1] =
    TxTable.versions(dir).lastOption
      .filter(_ >= startingVersion)
      .map { latest =>
        val capped = maxVersionsPerTrigger match {
          case Some(m) => math.min(latest, lastDelivered + m)
          case None => latest
        }
        LongOffset(capped)
      }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endV = end.json.toLong
    val firstV = start.map(_.json.toLong + 1).getOrElse(startingVersion)
    // one _txlog listing per batch, not per version: ticksFor/feedFor
    // consult this set for the vacuum-gap check, and a long-retention
    // table would otherwise pay O(versions²) directory listings per
    // trigger
    val committed = TxTable.versions(dir).toSet
    val batch =
      if (ticksOnly) ticksFor(firstV, endV, committed)
      else {
        val frames = (firstV to endV).map(feedFor(_, committed))
        if (frames.isEmpty) emptyFeed
        else frames.reduce(_.unionByName(_))
      }
    if (endV > lastDelivered) {
      lastDelivered = endV
      persistDelivered(endV)
    }
    GraftStreamingShim.asStreamingFrame(batch)
  }

  /** Ticks mode: one `_commit_version` row per version, NO feed join —
    * for consumers (the streamed view) that re-derive each version's
    * changes themselves and only need to know which versions arrived.
    * The vacuum-gap contract still holds (the consumer's own
    * `changeFeed*` call would fail later and less legibly).
    */
  private def ticksFor(firstV: Long, endV: Long,
      committed: Set[Long]): DataFrame = {
    (firstV to endV).foreach { v =>
      if (v != startingVersion && !committed.contains(v - 1))
        throw new IllegalStateException(
          s"TxTable change-feed stream at $dir: version ${v - 1} (the diff " +
            s"base for $v) was vacuumed away — retention must cover the " +
            "stream's lag; re-seed from a fresh checkpoint")
    }
    spark.createDataFrame(
      java.util.Arrays.asList(
        (firstV to endV).map(v => org.apache.spark.sql.Row(v)): _*),
      TxTableChangeFeedSource.TickSchema)
  }

  /** One version's feed rows, projected onto the pinned schema. */
  private def feedFor(v: Long, committed: Set[Long]): DataFrame = {
    val feed =
      if (v == startingVersion)
        // the stream's base: the full snapshot is the insert set
        TxTable.read(spark, dir, Some(v))
          .withColumn("change_type", lit("insert"))
      else {
        if (!committed.contains(v - 1))
          throw new IllegalStateException(
            s"TxTable change-feed stream at $dir: version ${v - 1} (the diff " +
              s"base for $v) was vacuumed away — retention must cover the " +
              "stream's lag; re-seed with TxTable.syncReplica or restart " +
              "from a fresh checkpoint")
        TxTable.changeFeed(spark, dir, v - 1, v, keyCols)
      }
    val have = feed.columns.toSet
    val extra = have -- tableSchema.fieldNames.toSet - "change_type"
    if (extra.nonEmpty)
      throw new IllegalStateException(
        s"TxTable change-feed stream at $dir: version $v adds columns " +
          s"${extra.mkString(", ")} — restart the stream to pick up the " +
          "evolved schema")
    feed.select(tableSchema.fields.map { f =>
      if (have(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name)
    } :+ col("change_type") :+ lit(v).as("_commit_version"): _*)
  }

  private def emptyFeed: DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  override def commit(end: OffsetV1): Unit = ()

  override def stop(): Unit = ()
}

object TxTableChangeFeedSource {
  /** Schema of `ticksOnly` mode: version numbers, nothing else. */
  val TickSchema: StructType = StructType(Seq(
    StructField("_commit_version", LongType, nullable = false)))
}

/** `spark.readStream.format("graft.streaming.TxTableChangeFeedProvider")`
  * entry point. Options: `path` (the table dir), `keys` (comma-separated
  * key columns), `startingVersion` (default 0 — serve that version as
  * the bootstrap snapshot, then per-version feeds),
  * `maxVersionsPerTrigger` (optional — cap the versions per micro-batch,
  * Delta's maxFilesPerTrigger analog: a replica that fell 10,000
  * versions behind catches up in bounded batches instead of one giant
  * union plan; the delivered floor is write-ahead persisted in the
  * source's checkpoint metadata dir so it never regresses across
  * restarts). Throttle note: with `Trigger.AvailableNow` the V1 wrapper
  * captures ONE end offset at query start, so a capped run drains one
  * capped batch per start — use ProcessingTime + processAllAvailable
  * (or a drain loop) for throttled catch-up.
  */
class TxTableChangeFeedProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "txtable-cdf"

  private def tableDir(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "txtable-cdf needs option 'path' (the TxTable directory)"))

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    if (parameters.get("ticksOnly").contains("true"))
      return (shortName(), TxTableChangeFeedSource.TickSchema)
    val dir = tableDir(parameters)
    val dataSchema = TxTable.latest(dir).getOrElse(
      throw new IllegalArgumentException(
        s"no committed TxTable version at $dir")).schema
    (shortName(), StructType(dataSchema.fields ++ Seq(
      StructField("change_type", StringType, nullable = false),
      StructField("_commit_version", LongType, nullable = false))))
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source = {
    val keys = parameters.getOrElse("keys", throw new IllegalArgumentException(
      "txtable-cdf needs option 'keys' (comma-separated key columns)"))
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val maxPerTrigger = parameters.get("maxVersionsPerTrigger").map(_.toLong)
    maxPerTrigger.foreach(m => require(m >= 1,
      s"maxVersionsPerTrigger must be >= 1, got $m"))
    new TxTableChangeFeedSource(
      sqlContext.sparkSession, tableDir(parameters), keys,
      parameters.get("startingVersion").map(_.toLong).getOrElse(0L),
      maxVersionsPerTrigger = maxPerTrigger,
      metadataPath = metadataPath,
      ticksOnly = parameters.get("ticksOnly").contains("true"))
  }
}

/** Shared writeStream wiring for the feed consumers ([[TxReplicaStream]],
  * [[TxViewStream]]): reader options, throttle plumbing, checkpoint,
  * trigger — one place to fix, two query shapes.
  */
private[streaming] object TxFeedQuery {
  def start(
      spark: SparkSession,
      primaryDir: String,
      keyCols: Seq[String],
      checkpointDir: String,
      trigger: Trigger,
      maxVersionsPerTrigger: Option[Long],
      queryName: String,
      ticksOnly: Boolean)(
      body: DataFrame => Unit): StreamingQuery = {
    val reader = spark.readStream
      .format("graft.streaming.TxTableChangeFeedProvider")
      .option("path", primaryDir)
      .option("keys", keyCols.mkString(","))
    if (ticksOnly) reader.option("ticksOnly", "true")
    maxVersionsPerTrigger.foreach(m =>
      reader.option("maxVersionsPerTrigger", m.toString))
    reader.load()
      .writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) => body(batch) }
      .start()
  }
}

/** Managed streaming replication: the [[TxTable.syncReplica]] loop as a
  * real StreamingQuery over [[TxTableChangeFeedProvider]]. Each
  * micro-batch applies its versions IN ORDER via [[TxTable.merge]], each
  * stamped `epochId = primaryVersion` on the replica. The replica's
  * latest manifest carries the applied high-water
  * ([[TxTable.appliedEpoch]]), so a crash-replayed batch (or a whole
  * re-run against the same checkpoint) re-applies nothing, even after
  * the replica was vacuumed or compacted: exactly-once end to end, same
  * argument as [[TxTable.commitStreaming]].
  */
object TxReplicaStream {

  def start(
      spark: SparkSession,
      primaryDir: String,
      replicaDir: String,
      keyCols: Seq[String],
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
      maxVersionsPerTrigger: Option[Long] = None): StreamingQuery =
    TxFeedQuery.start(spark, primaryDir, keyCols, checkpointDir, trigger,
      maxVersionsPerTrigger, "graft-tx-replica", ticksOnly = false)(
      batch => applyFeedBatch(batch, replicaDir, keyCols))

  /** Catch the replica up to the primary's current latest and stop. */
  def drain(
      spark: SparkSession,
      primaryDir: String,
      replicaDir: String,
      keyCols: Seq[String],
      checkpointDir: String): Unit = {
    val q = start(spark, primaryDir, replicaDir, keyCols, checkpointDir,
      trigger = Trigger.AvailableNow())
    q.awaitTermination()
  }

  /** Apply one micro-batch of feed rows: strict version order, one
    * idempotent epoch-stamped replica commit per primary version. The
    * batch is persisted because it is re-filtered once per version (a
    * handful of narrow passes over batch-sized data).
    */
  private[graft] def applyFeedBatch(
      batch: DataFrame, replicaDir: String, keyCols: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val cached = batch.persist()
    try {
      val vs = cached.select(col("_commit_version")).distinct()
        .collect().map(_.getLong(0)).sorted // O(versions per trigger)
      // versions apply in order, so the replica's carried ledger is the
      // applied offset: one manifest parse per trigger, vacuum-proof
      val applied = TxTable.appliedEpoch(replicaDir, None)
      vs.filter(_ > applied).foreach { v =>
        val rows = cached.filter(col("_commit_version") === v)
          .drop("_commit_version")
        if (TxTable.latest(replicaDir).isEmpty) {
          // bootstrap: the stream's base version arrives as inserts
          TxTable.commit(
            rows.filter(col("change_type") === "insert").drop("change_type"),
            replicaDir, "overwrite", statsColumns = keyCols,
            epochId = Some(v))
        } else {
          import org.apache.spark.sql.functions.when
          val changes = rows.withColumn("operation",
            when(col("change_type") === "delete", "DELETE")
              .when(col("change_type") === "insert", "INSERT")
              .otherwise("UPDATE"))
            .drop("change_type")
          TxTable.merge(spark, replicaDir, changes, keyCols,
            epochId = Some(v))
        }
        ()
      }
    } finally {
      cached.unpersist()
      ()
    }
  }
}

/** Managed incremental-view maintenance: a stored `groupBy(group).agg(
  * count, sum(value))` view of a primary [[TxTable]], maintained from
  * its change feed as a real StreamingQuery — the "materialized view
  * that keeps itself fresh" tier, composing the three round-9 pieces
  * (the change-feed source, [[graft.apply.IncrementalAgg]], and the
  * table format as the view's own store).
  *
  * Each micro-batch applies its primary versions IN ORDER: the first
  * version seeds the view as `snapshotAgg` over the pinned snapshot;
  * every later version refreshes it from
  * [[TxTable.changeFeedImages]]`(v-1, v)` retraction/assertion pairs —
  * O(changes + groups) per refresh, the base is NEVER rescanned. The
  * view itself is a TxTable: each refresh is one atomic overwrite
  * commit stamped `epochId = primaryVersion`, so the view's carried
  * ledger ([[TxTable.appliedEpoch]]) is the applied offset and
  * crash-replayed batches (or whole checkpoint re-runs) re-apply
  * nothing — the
  * [[TxReplicaStream]] exactly-once argument, applied to views. Readers
  * of the view get snapshot isolation and time travel over REFRESHES
  * for free.
  *
  * The stream runs the source in `ticksOnly` mode — a tick row per
  * version, no feed join (single post-images could not retract an
  * update's old value anyway); the images pair for each version is
  * derived from the manifests inside the batch — one O(changed data)
  * pass per version, not two.
  *
  * At 100 TB: each refresh moves the version's churn plus the
  * O(groups) view; a quiet primary costs nothing. Vacuum retention on
  * the primary must cover the stream's lag (the source's contract).
  * The VIEW table may be vacuumed and compacted freely: every commit
  * carries the ledger forward, so the latest manifest alone holds the
  * applied state. The view dir has ONE writer (this query — same
  * contract as the replica).
  */
object TxViewStream {

  def start(
      spark: SparkSession,
      primaryDir: String,
      viewDir: String,
      keyCols: Seq[String],
      groupCol: String,
      valueCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
      maxVersionsPerTrigger: Option[Long] = None): StreamingQuery =
    TxFeedQuery.start(spark, primaryDir, keyCols, checkpointDir, trigger,
      maxVersionsPerTrigger, "graft-tx-view", ticksOnly = true)(
      batch => applyViewBatch(batch, primaryDir, viewDir, keyCols,
        groupCol, valueCol))

  /** Refresh the view through the primary's current latest and stop. */
  def drain(
      spark: SparkSession,
      primaryDir: String,
      viewDir: String,
      keyCols: Seq[String],
      groupCol: String,
      valueCol: String,
      checkpointDir: String): Unit = {
    val q = start(spark, primaryDir, viewDir, keyCols, groupCol, valueCol,
      checkpointDir, trigger = Trigger.AvailableNow())
    q.awaitTermination()
  }

  private[graft] def applyViewBatch(
      batch: DataFrame, primaryDir: String, viewDir: String,
      keyCols: Seq[String], groupCol: String, valueCol: String): Unit = {
    val spark = batch.sparkSession
    // ticks only: the batch IS the version list — O(versions) rows
    val vs = batch.select(col("_commit_version")).distinct()
      .collect().map(_.getLong(0)).sorted
    val applied = TxTable.appliedEpoch(viewDir, None)
    vs.filter(_ > applied).foreach { v =>
      refresh(spark, viewDir, v) {
        case None =>
          graft.apply.IncrementalAgg.snapshotAgg(
            TxTable.read(spark, primaryDir, Some(v)), groupCol, valueCol)
        case Some(stored) =>
          val images = TxTable.changeFeedImages(
            spark, primaryDir, v - 1, v, keyCols)
          graft.apply.IncrementalAgg.maintain(stored, images, groupCol, valueCol)
      }
    }
  }

  /** One view refresh, shared with [[CdcStream]]'s aggregate views:
    * derive the refreshed view from the stored one (`None` when the view
    * has no table yet) and commit it as one overwrite stamped `epoch`.
    *
    * localCheckpoint: the refresh reads the view's CURRENT version and
    * overwrites it — materialize before the commit swaps the files out
    * from under the lazy plan. Plain commit (not commitStreaming): the
    * caller's high-water check already proved `epoch` unapplied.
    */
  private[streaming] def refresh(
      spark: SparkSession, viewDir: String, epoch: Long)(
      derive: Option[DataFrame] => DataFrame): Unit = {
    val stored = TxTable.latest(viewDir)
      .map(s => TxTable.read(spark, viewDir, Some(s.version)))
    TxTable.commit(derive(stored).localCheckpoint(true), viewDir,
      mode = "overwrite", epochId = Some(epoch))
    ()
  }
}
