package graft.streaming

import graft.apply.{ChangeApplier, IncrementalAgg}
import graft.log.ChangeLog.{CdcId, NewData, Operation, RecordId}
import graft.model.{CdcConfig, CdcTableSpec, ConflictStrategy}
import graft.sources.{CommitArbiter, LocalLinkArbiter, TxTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming replication — the Spark-native form of the
  * reference's hand-rolled poll loop
  * (reference: example_usage.py:192-233: poll every `sync_interval` s,
  * `replicate_changes(batch_size)`, final drain after the loop).
  *
  * Model mapping (SURVEY §2.9):
  *  - T1 poll interval → `Trigger.ProcessingTime(s"$syncIntervalSeconds seconds")`
  *  - T2 batch cap     → `maxFilesPerTrigger` on the file source
  *  - T3 synced flags  → the streaming checkpoint (WAL + committed offsets);
  *                       rows are never rewritten to mark them synced
  *  - T4 delivery      → at-least-once from the checkpoint; end-to-end
  *                       effectively-once because every commit is stamped
  *                       with its batch's max cdc_id and a replayed batch
  *                       at or below that mark is skipped
  *  - T5 ordering      → per-key last-write-wins inside each batch via
  *                       [[graft.apply.ChangeApplier.dedupToLatest]]; the
  *                       log's cdc-id order across batches
  *  - T10 final drain  → [[drainTxTable]] = one `Trigger.AvailableNow` pass
  *
  * ==Storage==
  * Every table written here is a [[graft.sources.TxTable]]: the
  * latest-state target ([[applyTxBatch]]), the SCD2 history
  * ([[applyHistoryBatch]]), the grouped aggregate views
  * ([[applyAggBatch]], [[applyMomentsBatch]], [[applyDistinctBatch]])
  * and the join view ([[applyJoinBatch]]). Each micro-batch lands as one
  * atomic commit stamped `epochId = max(cdc_id)` of the batch, and the
  * table's latest manifest carries the per-stream high-water of those
  * stamps ([[graft.sources.TxTable.appliedEpoch]]): that is the
  * exactly-once ledger. Every commit carries it forward — merges, folds,
  * compactions, overwrites — so it survives vacuum, compaction and
  * checkpoint rebuilds. The latest-state target checks the ledger in
  * the merge's CAS ([[graft.sources.TxTable.mergeStamped]]): the merge
  * computes the stamp over the change set it reads and the publish
  * skips a replay against the base it would land on, so the target runs
  * no gate job and needs no cached batch. The history and the aggregate
  * views, whose batch has several consumers, gate first
  * ([[ledgerGate]]) over a persisted batch ([[withCached]]).
  * Keyed tables are maintained with the copy-on-write
  * [[graft.sources.TxTable.merge]], which rewrites only the files holding
  * touched keys and carries every other file forward by reference, so
  * per-trigger work is O(changed keys + batch), not O(table). The
  * O(groups) aggregate views are rewritten whole per batch.
  */
object CdcStream {

  /** Batches dropped by the replay-skip ledger since JVM start — an
    * observability counter: a drain that expects to apply every batch
    * (the bench, a fresh replay) can assert this did not move.
    */
  val skippedBatchCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Run `body` over `batch` persisted for its lifetime: an applier
    * with several actions over the micro-batch (the history and the
    * aggregate views: the ledger aggregate, then their own reads) would
    * otherwise re-read the streaming file source per action — measured
    * 2.4x numInputRows inflation and the same factor of redundant I/O
    * per trigger (round-13 find). [[applyTxBatch]] needs none: the
    * merge's checkpoint is the batch's one consumer.
    */
  private def withCached(batch: DataFrame)(body: DataFrame => Unit): Unit = {
    batch.persist()
    try body(batch)
    finally {
      batch.unpersist()
      ()
    }
  }

  /** Count and report a batch the exactly-once ledger skipped. */
  private def skipped(dir: String, ledgerId: Long, mark: Long): Unit = {
    // sound only under the in-order-log contract ([[startTxTable]]): a
    // replayed batch skips here; a BACKFILLED file (ids below the mark
    // but never applied) would too — warn loudly so an operator
    // backfilling an old log file sees the drop
    skippedBatchCount.incrementAndGet()
    System.err.println(
      s"[cdc-tx] skipping batch with max cdc_id $ledgerId <= applied " +
        s"high-water $mark at $dir (checkpoint replay under the " +
        "in-order-log contract; a backfill must renumber above the mark)")
  }

  /** The ledger gate the history and aggregate-view appliers run first:
    * ONE action for emptiness plus the batch's max cdc_id, then the
    * table's applied high-water for `streamId`. Returns
    * `(mark, ledgerId)` when the batch has rows above the mark; `None`
    * for an empty batch or a replay, which is [[skipped]].
    *
    * The ledger is DATA-DERIVED — the batch's max cdc_id — not the
    * checkpoint's batch number: a lost/rebuilt checkpoint renumbers
    * batches from 0, and a batch-number ledger would then skip NEW
    * changes that landed in renumbered early batches. With cdc ids, a
    * full checkpoint rebuild replays the log from the start and
    * fully-applied batches skip on the mark. A regrouped batch that
    * straddles the mark reaches the caller; history and the aggregate
    * views apply only its rows above `mark`.
    */
  private def ledgerGate(
      batch: DataFrame,
      dir: String,
      streamId: Option[String]): Option[(Long, Long)] = {
    val head = batch.agg(count(lit(1)), max(col(CdcId))).first()
    if (head.getLong(0) == 0L) return None
    val ledgerId = head.getLong(1)
    // per-stream mark (round 14): only THIS writer stream's committed
    // high-water gates the skip — under N concurrent writers a
    // table-global mark dropped every batch whose max cdc_id trailed
    // another writer's committed max (mostly-lost merges at 2 writers)
    val mark = TxTable.appliedEpoch(dir, streamId)
    if (ledgerId <= mark) { skipped(dir, ledgerId, mark); None }
    else Some((mark, ledgerId))
  }

  /** Land a keyed history change set (`operation` column plus the
    * table's columns) as one commit stamped `ledgerId`: the first batch
    * seeds the table with its non-DELETE rows, every later batch is a
    * [[graft.sources.TxTable.merge]] on `keys`.
    *
    * Seed CAS (round 14): the overwrite is pinned to version 0 — under N
    * concurrent writers both first batches can see an empty table, and an
    * unpinned retry loop turned the loser into an overwrite of the
    * winner's seed. A lost seed race (-1) falls through to the merge
    * path, which applies the same batch against the winner's table.
    */
  private def seedOrMerge(
      changes: DataFrame,
      dir: String,
      keys: Seq[String],
      ledgerId: Long,
      streamId: Option[String]): Unit = {
    val seeded = TxTable.latest(dir).isEmpty && 0L <= TxTable.commit(
      changes.filter(col("operation") =!= "DELETE").drop("operation"),
      dir, "overwrite", statsColumns = keys.take(1),
      epochId = Some(ledgerId), streamId = streamId,
      expectVersion = Some(0L))
    if (!seeded)
      TxTable.merge(changes.sparkSession, dir, changes, keys,
        epochId = Some(ledgerId), streamId = streamId)
    ()
  }

  /** One micro-batch of the change log applied to a [[graft.sources
    * .TxTable]] target — the reference's replicate loop landing in the
    * ACID table format: each epoch is ONE copy-on-write
    * [[graft.sources.TxTable.merge]] (only files containing touched keys
    * rewrite; O(changed keys), never O(table)), atomically visible,
    * time-travelable per epoch, and exactly-once via the data-derived
    * cdc-id ledger (see the class doc); the target is single-writer per
    * stream by contract, like the replica.
    *
    * The first batch seeds the table with its surviving inserts (an
    * overwrite commit); every later batch merges the per-key-latest
    * change set under `strategy`, stamped with the max cdc_id of the
    * rows it applies. The merge computes that stamp from the rows it
    * reads and checks it against the ledger inside its CAS, so the batch
    * has one consumer (the merge's one bounded read, where the dedup
    * runs; a batch over the merge's driver cap is checkpointed instead)
    * and no gate job of its own. A
    * later batch's rows all sit above every applied id, so it never
    * skips; a replay re-derives the same stamp and skips. A batch that
    * straddles the mark re-applies its older changes, and because replay
    * proceeds in log order to the end, the per-key-latest merge
    * converges to the same final state.
    */
  def applyTxBatch(
      batch: DataFrame,
      tableDir: String,
      spec: CdcTableSpec,
      rowSchema: StructType,
      strategy: ConflictStrategy = ConflictStrategy.LastWriteWins,
      writeMode: String = "cow",
      foldEvery: Int = 0,
      foldMinDeletedFraction: Double = 0.0,
      streamId: Option[String] = None): Unit =
    applyTxBatchVia(LocalLinkArbiter)(batch, tableDir, spec, rowSchema,
      strategy, writeMode, foldEvery, foldMinDeletedFraction, streamId)

  /** [[applyTxBatch]] publishing through `arbiter`. */
  private[graft] def applyTxBatchVia(arbiter: CommitArbiter)(
      batch: DataFrame,
      tableDir: String,
      spec: CdcTableSpec,
      rowSchema: StructType,
      strategy: ConflictStrategy,
      writeMode: String,
      foldEvery: Int,
      foldMinDeletedFraction: Double,
      streamId: Option[String]): Unit = {
    val epochCol = "__epoch"
    val pkField = rowSchema.fields.find(_.name == spec.pkCol).getOrElse(
      throw new IllegalArgumentException(
        s"pk ${spec.pkCol} missing from the row schema"))
    val changes = ChangeApplier.dedupToLatest(batch, strategy).select(
      rowSchema.fields.map { f =>
        if (f.name == spec.pkCol)
          // DELETE rows have no new image; the log key IS the pk
          coalesce(col(s"$NewData.${f.name}"),
            col(RecordId).cast(pkField.dataType)).as(f.name)
        else col(s"$NewData.${f.name}").as(f.name)
      } :+ col(Operation).as("operation") :+ col(CdcId).as(epochCol): _*)
    // seed CAS (round 14): the overwrite is pinned to version 0 — under N
    // concurrent writers both first batches can see an empty table, and
    // an unpinned retry loop turned the loser into an overwrite of the
    // winner's seed. A lost seed race (-1) falls through to the merge,
    // whose CAS check skips the batch if the winner was this stream.
    // The seed's own stamp aggregate runs once per table.
    val seeded = TxTable.latest(tableDir).isEmpty && {
      val head = changes.agg(count(lit(1)), max(col(epochCol))).first()
      head.getLong(0) == 0L || 0L <= TxTable.commit(
        changes.filter(col("operation") =!= "DELETE").drop("operation", epochCol),
        tableDir, "overwrite", statsColumns = Seq(spec.pkCol),
        epochId = Some(head.getLong(1)), arbiter = arbiter,
        streamId = streamId, expectVersion = Some(0L))
    }
    val merged = !seeded && 0L <= TxTable.mergeStamped(batch.sparkSession,
      tableDir, changes, Seq(spec.pkCol), opCol = "operation", maxRetries = 10,
      stamp = Right(epochCol), arbiter, writeMode, streamId,
      onReplay = skipped(tableDir, _, _))
    // merge-on-read maintenance cadence: after `foldEvery` MoR merges,
    // fold the accumulated deletion vectors (TxTable.foldDvs rewrites
    // ONLY the dv-carrying files — O(dv'd bytes), not the table). The
    // counter is in-JVM: a restart resets it, which only DELAYS the
    // next fold by <= foldEvery batches — folds are an optimization,
    // never a correctness dependency (every read applies DVs anyway).
    // The fold's CAS commit carries no epoch stamp of its own and
    // carries the table's ledger forward unchanged.
    if (merged && writeMode == "mor" && foldEvery > 0) {
      // increment-and-reset ATOMICALLY (compute holds the bin lock):
      // exactly one caller observes the threshold crossing per cadence
      // window, so two appliers on the same dir can neither double-fold
      // nor lose counts to an interleaved put; returning null on the
      // crossing also evicts the entry, bounding the map to dirs
      // currently mid-window
      var crossed = false
      morMergesSinceFold.compute(tableDir, (_, v: Integer) => {
        val n = (if (v == null) 0 else v.intValue) + 1
        if (n >= foldEvery) { crossed = true; null }
        else Integer.valueOf(n)
      })
      if (crossed) {
        // the POLICY arm when a threshold is configured: only files
        // whose deleted fraction crossed it rewrite — cold files keep
        // their O(1) DVs; 0.0 keeps the full fold
        TxTable.foldDvs(batch.sparkSession, tableDir, foldMinDeletedFraction,
          arbiter = arbiter)
        ()
      }
    }
  }

  /** MoR merges since the last DV fold, per target dir (in-JVM — see
    * the cadence comment in [[applyTxBatch]]).
    */
  private val morMergesSinceFold =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  // ----------------------------------------------- SCD2 history maintenance

  /** Seed the history table from the base snapshot — every base key an
    * open version-0 row (`valid_from = 0`, the position
    * [[graft.log.History.scd2]] reserves for the base), as one overwrite
    * commit with no epoch stamp, so the first streamed batch applies.
    */
  def bootstrapHistory(base: DataFrame, historyDir: String, spec: CdcTableSpec): Unit = {
    TxTable.commit(
      base.select(
        col(spec.pkCol).cast("long").as(RecordId) +:
          spec.columns.map(col) :+
          lit(0L).as("valid_from") :+
          lit(null).cast("long").as("valid_to") :+
          lit(1).as("is_current"): _*),
      historyDir, "overwrite", statsColumns = Seq(RecordId))
    ()
  }

  /** Incrementally maintain the SCD2 history for one micro-batch — the
    * streaming form of [[graft.log.History.scd2]], with the same output
    * schema: `record_id`, the tracked columns, `[valid_from, valid_to)`
    * in log positions, `is_current`.
    *
    * Only the batch's rows above the table's cdc-id mark apply (a
    * re-grouped replay that straddles the mark must not close a version
    * twice). Each batched key's OPEN version is read back with a
    * stats-pruned read over the batch's key range, re-enters the window
    * as a pseudo-event at its `valid_from` together with the batch's
    * events, and the rederived rows merge on `(record_id, valid_from)`:
    * the open version is closed in place, new versions are inserted.
    * Closed versions and unbatched keys are never rewritten — the
    * copy-on-write merge carries their files forward by reference — so
    * per-batch work is O(batch + hit files), never O(history).
    *
    * Ordering contract: batches arrive in log order — every event in a
    * batch has a `cdc_id` greater than any previously applied event for
    * its key. The file stream over an append-only log provides this; an
    * out-of-order backfill must instead rebuild via the batch operator.
    */
  def applyHistoryBatch(
      batch: DataFrame,
      historyDir: String,
      spec: CdcTableSpec,
      rowSchema: StructType,
      streamId: Option[String] = None): Unit = withCached(batch) { b =>
    import org.apache.spark.sql.expressions.Window
    ledgerGate(b, historyDir, streamId).foreach { case (mark, ledgerId) =>
      val spark = b.sparkSession
      val fresh = b.filter(col(CdcId) > mark)
      val openEvents = TxTable.latest(historyDir).map { _ =>
        val range = fresh.agg(min(col(RecordId)), max(col(RecordId))).first()
        TxTable.readPruned(spark, historyDir, RecordId,
            range.getLong(0), range.getLong(1))
          .filter(col("valid_to").isNull)
          .join(fresh.select(col(RecordId)), Seq(RecordId), "left_semi")
          .select(col("valid_from").as(CdcId), col(RecordId),
            struct(spec.columns.map(col): _*).as("__img"))
      }
      val batchEvents = fresh.select(
        col(CdcId), col(RecordId),
        when(col(Operation) === "DELETE", lit(null)).otherwise(col(NewData)).as("__img"))
      val w = Window.partitionBy(col(RecordId)).orderBy(col(CdcId))
      val rederived = openEvents.fold(batchEvents)(_.unionByName(batchEvents))
        .withColumn("valid_to", lead(col(CdcId), 1).over(w))
        .filter(col("__img").isNotNull) // tombstones only close predecessors
        .select(
          col(RecordId) +:
            spec.columns.map(c => col(s"__img.$c").as(c)) :+
            col(CdcId).as("valid_from") :+
            col("valid_to") :+
            when(col("valid_to").isNull, lit(1)).otherwise(lit(0)).as("is_current") :+
            lit("UPDATE").as("operation"): _*)
      seedOrMerge(rederived, historyDir, Seq(RecordId, "valid_from"), ledgerId,
        streamId)
      ()
    }
  }

  // ------------------------------------------- aggregate-view maintenance

  /** Incrementally maintain a grouped count/sum view
    * ([[graft.apply.IncrementalAgg.snapshotAgg]]'s shape) for one
    * micro-batch — the streaming form of
    * [[graft.apply.IncrementalAgg.maintain]]. Bootstrap with
    * `TxTable.commit(IncrementalAgg.snapshotAgg(base, …), dir, "overwrite")`;
    * a view with no table yet starts empty. The view is O(groups) rows,
    * so each batch rewrites it whole as one overwrite commit stamped with
    * the batch's max cdc_id — the same refresh body as [[TxViewStream]].
    * Per-batch work is O(batch) deltas + O(groups) merge; the base table
    * is never rescanned after bootstrap.
    */
  def applyAggBatch(batch: DataFrame, dir: String, keyCol: String, valueCol: String): Unit =
    applyAggregateBatch(batch, dir, keyCol, valueCol)(
      IncrementalAgg.snapshotAgg, IncrementalAgg.maintain)

  /** [[applyAggBatch]] for the count/sum/sum-of-squares view
    * ([[graft.apply.IncrementalAgg.maintainMoments]]), so a
    * mean/variance/stddev dashboard stays exactly fresh per batch.
    */
  def applyMomentsBatch(batch: DataFrame, dir: String, keyCol: String, valueCol: String): Unit =
    applyAggregateBatch(batch, dir, keyCol, valueCol)(
      IncrementalAgg.snapshotMoments, IncrementalAgg.maintainMoments)

  /** [[applyAggBatch]] for the COUNT(DISTINCT) multiplicity support table
    * ([[graft.apply.IncrementalAgg.maintainDistinct]]); derive the
    * dashboard with [[graft.apply.IncrementalAgg.distinctView]].
    */
  def applyDistinctBatch(batch: DataFrame, dir: String, keyCol: String, valueCol: String): Unit =
    applyAggregateBatch(batch, dir, keyCol, valueCol)(
      IncrementalAgg.snapshotDistinct, IncrementalAgg.maintainDistinct)

  /** Shared body of the aggregate views: gate, keep the rows above the
    * mark, and refresh through [[TxViewStream.refresh]]. A missing view
    * is seeded by `snapshot` over a zero-row frame of the batch's
    * `new_data` images, which derives its schema from the input.
    */
  private def applyAggregateBatch(
      batch: DataFrame, dir: String, keyCol: String, valueCol: String)(
      snapshot: (DataFrame, String, String) => DataFrame,
      maintain: (DataFrame, DataFrame, String, String) => DataFrame): Unit =
    withCached(batch) { b =>
      ledgerGate(b, dir, None).foreach { case (mark, ledgerId) =>
        val fresh = b.filter(col(CdcId) > mark)
        TxViewStream.refresh(b.sparkSession, dir, ledgerId) { stored =>
          maintain(stored.getOrElse(snapshot(
              fresh.select(col(s"$NewData.*")).where(lit(false)), keyCol, valueCol)),
            fresh, keyCol, valueCol)
        }
      }
    }

  // ------------------------------------------------ join-view maintenance

  /** Incrementally maintain an enriched JOIN view (`fact ⋈ dim` on
    * `fkCol = dimKey`, carrying `dimCols`) for one micro-batch — the
    * streaming form of [[graft.apply.IncrementalJoin.maintain]]: the
    * batch's images are enriched against the dimension (one
    * O(batch) ⋈ dim join, AQE-broadcast), then applied with
    * [[applyTxBatch]] as a change batch on the VIEW's extended row shape,
    * so only files holding changed keys are rewritten and a replayed
    * batch skips on the view's own cdc-id mark.
    *
    * Inner-join parity: an upsert whose fk has no dim match must REMOVE
    * the key from the view (a recompute would not emit it) — such
    * changes are rewritten to DELETE before the apply. The dimension is
    * taken as-of the batch (static or slowly snapshotted — see
    * [[graft.apply.IncrementalJoin]] for why dim-side deltas are the
    * SCD2/pitLookup path instead).
    *
    * `viewSchema` = fact row schema columns followed by `dimCols` (as
    * produced by [[graft.apply.IncrementalJoin.snapshotView]]).
    */
  def applyJoinBatch(
      batch: DataFrame,
      viewDir: String,
      spec: CdcTableSpec,
      viewSchema: StructType,
      dim: DataFrame,
      fkCol: String,
      dimKey: String,
      dimCols: Seq[String]): Unit = {
    val viewSpec = CdcTableSpec(spec.table + "_join", spec.columns ++ dimCols, spec.pkCol)

    // enrich each non-DELETE image; dangling fk (null dimKey after the
    // left join) demotes the change to DELETE
    val d = dim.select((dimKey +: dimCols).distinct.map(col): _*)
    val enriched = batch
      .join(d, col(s"$NewData.$fkCol") === col(dimKey), "left_outer")
      .withColumn(Operation,
        when(col(Operation) === "DELETE" || col(dimKey).isNull, lit("DELETE"))
          .otherwise(col(Operation)))
      .withColumn(NewData,
        when(col(Operation) === "DELETE",
          lit(null).cast(StructType(viewSchema.fields)))
          .otherwise(struct(
            spec.columns.map(c => col(s"$NewData.$c").as(c)) ++
              dimCols.map(col): _*)))
      .drop((dimKey +: dimCols).distinct: _*)

    applyTxBatch(enriched, viewDir, viewSpec, viewSchema)
  }

  // ------------------------------------------------------- stream wiring

  /** Continuous replication into a [[graft.sources.TxTable]] target: the
    * change log streams into an ACID table — atomic multi-file epoch
    * commits, snapshot isolation for readers, per-epoch time travel, CDF
    * over the applied history, and copy-on-write merges that rewrite
    * O(hit files).
    *
    * ==Contract: the change log is delivered in cdc-id order==
    * The exactly-once ledger is the applied high-water cdc_id
    * ([[applyTxBatch]]): a batch whose max cdc_id is at or below the
    * mark is treated as a checkpoint replay and skipped. That is sound
    * only when log FILES arrive in cdc-id order — the writer appends
    * monotonically-numbered changes and the file stream lists in order.
    * A BACKFILLED log file (all ids below the mark, never applied) would
    * be skipped as a replay; [[applyTxBatch]] logs a loud warning when
    * it skips so the operational signal exists, but a backfill workflow
    * must renumber its changes above the current mark (or replay the
    * whole log into a fresh table).
    *
    * ==Write mode==
    * `writeMode = "mor"` applies each epoch as a merge-on-read commit
    * (deletion vectors + new files; write O(changes) — the high-churn
    * setting), with `foldEvery` N MoR merges triggering a bounded
    * [[graft.sources.TxTable.foldDvs]] (rewrites only the dv-carrying
    * files). The default "cow" keeps the read-optimal copy-on-write
    * merge. Both modes produce IDENTICAL table contents
    * (CdcStreamSpec pins streamed-MoR ≡ streamed-CoW).
    *
    * @param historyDir when set, the SCD2 history table is maintained
    *                   alongside the target ([[applyHistoryBatch]] per
    *                   micro-batch, before the target, under the same
    *                   stream id). It reads the log's full event
    *                   sequence, which the target's change feed would
    *                   collapse to one change per key. Each table skips
    *                   on its own cdc-id mark, so a crash between the two
    *                   commits replays to the same pair of tables.
    */
  def startTxTable(
      spark: SparkSession,
      logDir: String,
      tableDir: String,
      checkpointDir: String,
      spec: CdcTableSpec,
      rowSchema: StructType,
      config: CdcConfig = CdcConfig(),
      trigger: Option[Trigger] = None,
      maxFilesPerTrigger: Int = 100,
      strategy: ConflictStrategy = ConflictStrategy.LastWriteWins,
      writeMode: String = "cow",
      foldEvery: Int = 0,
      foldMinDeletedFraction: Double = 0.0,
      historyDir: Option[String] = None): StreamingQuery = {
    // The stream's ledger identity: deterministic from the checkpoint
    // dir (a restart of the same stream keeps its high-water; distinct
    // writers have distinct checkpoints by construction — Spark itself
    // rejects two active queries on one checkpoint).
    val streamId = java.util.UUID.nameUUIDFromBytes(
      checkpointDir.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
    FileStreamQuery.start(spark, logDir, graft.log.ChangeLog.schema(rowSchema),
      checkpointDir,
      trigger.getOrElse(
        Trigger.ProcessingTime(s"${config.syncIntervalSeconds} seconds")),
      maxFilesPerTrigger,
      // name disambiguated by checkpoint: N writers replicating distinct
      // logs into ONE table are a supported contention pattern (the
      // commit arbiter serializes them) — a fixed per-table name made
      // the second writer's start() throw "query with that name is
      // already active" (round-13 contended-bench find)
      s"cdc-replicate-tx-${spec.table}-" +
        Integer.toHexString(checkpointDir.hashCode)) { (batch, _) =>
      historyDir.foreach(h =>
        applyHistoryBatch(batch, h, spec, rowSchema, Some(streamId)))
      applyTxBatch(batch, tableDir, spec, rowSchema, strategy,
        writeMode, foldEvery, foldMinDeletedFraction, Some(streamId))
    }
  }

  /** Drain all pending changes into the TxTable target once and stop —
    * the reference's final `replicate_changes` after the poll loop ends
    * (reference: example_usage.py:221-223). `Trigger.AvailableNow`
    * processes everything committed to the log, then terminates.
    */
  def drainTxTable(
      spark: SparkSession,
      logDir: String,
      tableDir: String,
      checkpointDir: String,
      spec: CdcTableSpec,
      rowSchema: StructType,
      strategy: ConflictStrategy = ConflictStrategy.LastWriteWins,
      maxFilesPerTrigger: Int = 100,
      writeMode: String = "cow",
      foldEvery: Int = 0,
      foldMinDeletedFraction: Double = 0.0,
      historyDir: Option[String] = None): Unit =
    startTxTable(spark, logDir, tableDir, checkpointDir, spec,
      rowSchema, trigger = Some(Trigger.AvailableNow()),
      maxFilesPerTrigger = maxFilesPerTrigger, strategy = strategy,
      writeMode = writeMode, foldEvery = foldEvery,
      foldMinDeletedFraction = foldMinDeletedFraction,
      historyDir = historyDir).awaitTermination()

  /** Run a streaming query with the reference's retry policy
    * (reference: config.py:35-36: max_retries=3, retry_delay_seconds=10):
    * on failure, restart from the checkpoint up to `maxRetries` times —
    * the checkpoint guarantees no committed batch is lost or re-ordered,
    * only the failed batch is retried (at-least-once, T4/T8).
    */
  def runWithRetries(
      config: CdcConfig)(startQuery: () => StreamingQuery): Unit = {
    var attempt = 0
    var done = false
    // A failure after a healthy stretch is a NEW incident: the retry
    // budget is per-incident (the reference's max_retries semantics,
    // config.py:35), not lifetime-total. "Healthy" = the query ran
    // longer than two retry delays before failing — floored at 1 s:
    // with retryDelaySeconds = 0 (reachable via CDC_RETRY_DELAY) a
    // zero threshold would let every >=1 ms failing run reset the
    // budget, busy-spinning forever on a persistent failure.
    val healthyRunMs = math.max(1000L, config.retryDelaySeconds * 2 * 1000L)
    while (!done) {
      val startedAt = System.nanoTime()
      val q = startQuery()
      try {
        q.awaitTermination()
        done = true
      } catch {
        // NonFatal only: OOM/fatal VM errors and interrupts (shutdown
        // requests) must propagate, not spin through restart+sleep.
        case scala.util.control.NonFatal(e) =>
          val ranMs = (System.nanoTime() - startedAt) / 1000000L
          if (ranMs > healthyRunMs) attempt = 0
          if (attempt >= config.maxRetries) throw e
          attempt += 1
          System.err.println(
            s"[cdc-stream] query failed (${e.getMessage}); retry $attempt/${config.maxRetries} " +
              s"in ${config.retryDelaySeconds}s")
          Thread.sleep(config.retryDelaySeconds * 1000L)
      }
    }
  }

  /** Streaming health monitor (T9): emits the A1/A3/A5 health report on
    * every query-progress event, at the cadence the trigger provides —
    * the streaming analogue of the reference's `metrics_interval_seconds`
    * report loop (reference: config.py:39-40, cdc_system.py:359-393).
    */
  final class HealthListener(
      log: () => DataFrame,
      config: CdcConfig = CdcConfig(),
      emit: Map[String, Any] => Unit = r => println(s"[cdc-health] $r"))
      extends StreamingQueryListener {
    // The report itself runs a Spark aggregation — off the shared
    // listener bus thread, or a slow report would back up the bus and
    // drop events. Single worker + discard-when-busy: at most one report
    // in flight, stale ticks are skipped rather than queued.
    private val worker = new java.util.concurrent.ThreadPoolExecutor(
      1, 1, 0L, java.util.concurrent.TimeUnit.MILLISECONDS,
      new java.util.concurrent.SynchronousQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, "cdc-health-listener"); t.setDaemon(true); t
      },
      new java.util.concurrent.ThreadPoolExecutor.DiscardPolicy())
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (config.enableMetrics)
        worker.execute(() =>
          emit(graft.monitor.CdcMonitor.healthReportRow(log(), config)))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    /** Release the worker thread. Call after `removeListener` — the
      * listener interface has no lifecycle of its own, and the core
      * thread would otherwise live for the process lifetime.
      */
    def close(): Unit = worker.shutdown()
  }
}
