package graft

import graft.apply.IncrementalAgg
import graft.capture.{CdcTable, DemoWorkload}
import graft.log.ChangeLog
import graft.monitor.CdcMonitor
import graft.sources.TxTable
import graft.streaming.CdcStream
import graft.verify.ReplicationVerifier
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** End-to-end streaming parity with the reference's continuous-sync demo
  * (reference: example_usage.py:168-233): replay the demo workload
  * (10 inserts, 5 updates, 2 deletes), stream the change log through
  * foreachBatch replication into a TxTable with an AvailableNow drain,
  * and assert source ≡ target plus the statistics
  * {INSERT:10, UPDATE:5, DELETE:2}; then the streamed SCD2 history and
  * the aggregate and join views, each kept on its own TxTable.
  */
class CdcStreamSpec extends SparkSpecBase {

  private lazy val s = spark

  /** Every table CdcStream writes is a TxTable: a `_txlog`, and none of
    * the epoch-directory layout's `v=<epoch>`, `__b=<bucket>` or
    * `_current` entries anywhere below the root.
    */
  private def assertTxOnly(dir: String): Unit = {
    assert(Files.isDirectory(Paths.get(dir, "_txlog")), s"$dir has no _txlog")
    val names = {
      val it = Files.walk(Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.map(_.getFileName.toString).toVector
      } finally it.close()
    }
    val legacy = names.filter(n =>
      n.startsWith("v=") || n.startsWith("__b=") || n == "_current")
    assert(legacy.isEmpty, s"$dir holds epoch-directory entries: $legacy")
  }

  /** Run `reapply` (a crash-replayed batch): it must skip on the table's
    * cdc-id mark — no new version, and exactly one more skipped batch.
    */
  private def assertReplaySkips(dir: String)(reapply: => Unit): Unit = {
    val versions = TxTable.versions(dir)
    val skipped = CdcStream.skippedBatchCount.get()
    reapply
    assert(TxTable.versions(dir) === versions, "a replayed batch must not commit")
    assert(CdcStream.skippedBatchCount.get() === skipped + 1,
      "a replayed batch must be counted as skipped")
  }

  /** Append `log` rows with cdc_id in [lo, hi] as one single-file chunk
    * whose mtime is `1000 * (i + 1)` ms: the file stream batches by
    * modification time, and the history contract requires batches in
    * log order.
    */
  private def writeChunk(log: DataFrame, logDir: String, lo: Long, hi: Long, i: Int): Unit = {
    log.filter(col("cdc_id").between(lo, hi)).coalesce(1)
      .write.mode("append").parquet(logDir)
    // stamp THIS chunk's (freshly written ⇒ mtime ≈ now, far above any
    // stamp) part files
    val it = Files.list(Paths.get(logDir))
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .filter(p => Files.getLastModifiedTime(p).toMillis > 1000000L)
        .foreach(p => Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(1000L * (i + 1))))
    } finally it.close()
  }

  /** The latest-state target a stream reaches from an empty table: the
    * batch apply of `log` over an empty base.
    */
  private def batchApplied(log: DataFrame, rowSchema: org.apache.spark.sql.types.StructType) = {
    val emptyBase = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], rowSchema)
    graft.apply.ChangeApplier
      .applyChanges(emptyBase, log, DemoWorkload.UsersSpec,
        graft.model.ConflictStrategy.LastWriteWins)
      .collect().toSet
  }

  test("ProcessingTime stream replicates batches that arrive while running (T1)") {
    val tmp = Files.createTempDirectory("cdclive").toString
    val table = DemoWorkload.replay(
      CdcTable(DemoWorkload.users(s, 0), DemoWorkload.UsersSpec), s)
    table.changeLog.write.mode("overwrite").parquet(s"$tmp/log")
    val rowSchema = table.snapshot.schema

    val q = CdcStream.startTxTable(s, s"$tmp/log", s"$tmp/target", s"$tmp/chk",
      DemoWorkload.UsersSpec, rowSchema,
      trigger = Some(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds")))
    try {
      // late batch lands while the query is live
      table.insert(DemoWorkload.users(s, 2, startId = 200L))
      table.changeLog.filter(col("record_id") >= 200L)
        .write.mode("append").parquet(s"$tmp/log")
      val deadline = System.nanoTime() + 60_000_000_000L
      def replicated(): Boolean =
        TxTable.latest(s"$tmp/target").exists { _ =>
          TxTable.read(s, s"$tmp/target").count() == 10
        }
      while (!replicated() && System.nanoTime() < deadline) Thread.sleep(500)
      assert(replicated(), "live stream did not catch up within 60s")
      assert(ReplicationVerifier.fullyReplicated(table.snapshot,
        TxTable.read(s, s"$tmp/target")))
    } finally q.stop()
  }

  test("runWithRetries: per-incident budget, rethrow after exhaustion (T8)") {
    import graft.model.CdcConfig
    import org.apache.spark.sql.streaming.StreamingQuery
    def fakeQuery(behave: () => Unit): StreamingQuery = new StreamingQuery {
      override def name: String = "fake"
      override def id: java.util.UUID = java.util.UUID.randomUUID()
      override def runId: java.util.UUID = java.util.UUID.randomUUID()
      override def sparkSession: org.apache.spark.sql.SparkSession = s
      override def isActive: Boolean = false
      override def exception: Option[org.apache.spark.sql.streaming.StreamingQueryException] = None
      override def status: org.apache.spark.sql.streaming.StreamingQueryStatus = null
      override def recentProgress: Array[org.apache.spark.sql.streaming.StreamingQueryProgress] = Array()
      override def lastProgress: org.apache.spark.sql.streaming.StreamingQueryProgress = null
      override def awaitTermination(): Unit = behave()
      override def awaitTermination(timeoutMs: Long): Boolean = { behave(); true }
      override def processAllAvailable(): Unit = ()
      override def stop(): Unit = ()
      override def explain(): Unit = ()
      override def explain(extended: Boolean): Unit = ()
    }
    // retryDelaySeconds = 1 (not 0): the healthy-run threshold is
    // 2 × delay, and a zero threshold would let a millisecond of clock
    // jitter on a failing run reset the budget → infinite retry loop.
    val cfg = CdcConfig(maxRetries = 3, retryDelaySeconds = 1)

    // transient failures within budget → recovers
    var starts = 0
    CdcStream.runWithRetries(cfg) { () =>
      starts += 1
      fakeQuery(() => if (starts <= 2) throw new RuntimeException(s"boom $starts"))
    }
    assert(starts === 3) // 2 failures + 1 success

    // persistent failure → rethrown after maxRetries extra attempts
    var starts2 = 0
    val e = intercept[RuntimeException] {
      CdcStream.runWithRetries(cfg) { () =>
        starts2 += 1
        fakeQuery(() => throw new RuntimeException("always"))
      }
    }
    assert(e.getMessage === "always")
    assert(starts2 === cfg.maxRetries + 1)
  }

  test("streamed SCD2 history across micro-batches equals batch History.scd2") {
    val tmp = Files.createTempDirectory("cdchist").toString
    val logDir = s"$tmp/log"
    val histDir = s"$tmp/hist"
    val spec = DemoWorkload.UsersSpec

    // non-empty base snapshot: its keys must show up as version-0 rows,
    // get closed by updates/deletes, and survive untouched otherwise
    val base = DemoWorkload.users(s, 3, startId = 200L).localCheckpoint(true)
    val table = DemoWorkload.replay(CdcTable(base, spec), s,
      inserts = 10, updates = 5, deletes = 2)
    table.update(col("id") === 200L, Map("status" -> lit("updated")))
    table.delete(col("id") === 201L)
    val rowSchema = table.snapshot.schema
    val log = table.changeLog.localCheckpoint(true)
    val maxId = log.agg(max(col("cdc_id"))).head().getLong(0)

    // commit the log as ORDERED single-file chunks
    val cuts = Seq((1L, 6L), (7L, 12L), (13L, maxId))
    cuts.zipWithIndex.foreach { case ((lo, hi), i) => writeChunk(log, logDir, lo, hi, i) }

    CdcStream.bootstrapHistory(base, histDir, spec)
    CdcStream.drainTxTable(s, logDir, s"$tmp/target", s"$tmp/chk", spec, rowSchema,
      maxFilesPerTrigger = 1, historyDir = Some(histDir))
    // bootstrap + one commit per chunk: the maintenance really ran
    // incrementally
    assert(TxTable.versions(histDir).size === cuts.length + 1)

    val streamed = TxTable.read(s, histDir).collect().toSet
    val expected = graft.log.History.scd2(
        base.select(spec.columns.map(col): _*), log, spec)
      .collect().toSet
    assert(streamed === expected)
    // the latest-state target stays correct alongside. The target has no
    // base-snapshot bootstrap (it starts empty and the log carries only
    // changes), so the expectation is the batch apply over an empty base
    // — base keys never touched by the log (202) are legitimately absent.
    assert(TxTable.read(s, s"$tmp/target").collect().toSet ===
      batchApplied(log, rowSchema))
    assertTxOnly(histDir)
    assertTxOnly(s"$tmp/target")
  }

  test("re-applying a crashed epoch against the history table is idempotent") {
    val tmp = Files.createTempDirectory("cdchistcrash").toString
    val histDir = s"$tmp/hist"
    val spec = DemoWorkload.UsersSpec
    val base = DemoWorkload.users(s, 2, startId = 300L).localCheckpoint(true)
    val table = DemoWorkload.replay(CdcTable(base, spec), s,
      inserts = 4, updates = 2, deletes = 1)
    table.delete(col("id") === 300L)
    val rowSchema = table.snapshot.schema
    val log = table.changeLog.localCheckpoint(true)
    val batch1 = log.filter(col("cdc_id") <= 4)
    val batch2 = log.filter(col("cdc_id") > 4)

    CdcStream.bootstrapHistory(base, histDir, spec)
    CdcStream.applyHistoryBatch(batch1, histDir, spec, rowSchema)
    CdcStream.applyHistoryBatch(batch2, histDir, spec, rowSchema)
    val after = TxTable.read(s, histDir).collect().toSet
    // crash window: re-run the last batch — skips on the mark instead of
    // closing versions twice
    assertReplaySkips(histDir) {
      CdcStream.applyHistoryBatch(batch2, histDir, spec, rowSchema)
    }
    assert(TxTable.read(s, histDir).collect().toSet === after)
    val expected = graft.log.History.scd2(
        base.select(spec.columns.map(col): _*), log, spec)
      .collect().toSet
    assert(after === expected)
    assertTxOnly(histDir)
  }

  test("history one batch ahead of the target converges") {
    // the crash window between the two commits of one trigger: history
    // (applied first) committed the batch, the target did not
    val tmp = Files.createTempDirectory("cdchistahead").toString
    val logDir = s"$tmp/log"
    val histDir = s"$tmp/hist"
    val spec = DemoWorkload.UsersSpec
    val base = DemoWorkload.users(s, 3, startId = 700L).localCheckpoint(true)
    val table = DemoWorkload.replay(CdcTable(base, spec), s,
      inserts = 10, updates = 5, deletes = 2)
    table.update(col("id") === 700L, Map("status" -> lit("updated")))
    val rowSchema = table.snapshot.schema
    val log = table.changeLog.localCheckpoint(true)
    val maxId = log.agg(max(col("cdc_id"))).head().getLong(0)
    val cuts = Seq((1L, 6L), (7L, 12L), (13L, maxId))

    CdcStream.bootstrapHistory(base, histDir, spec)
    cuts.take(2).zipWithIndex.foreach { case ((lo, hi), i) => writeChunk(log, logDir, lo, hi, i) }
    CdcStream.drainTxTable(s, logDir, s"$tmp/target", s"$tmp/chk", spec, rowSchema,
      maxFilesPerTrigger = 1, historyDir = Some(histDir))
    // chunk 3 reaches the history only
    CdcStream.applyHistoryBatch(log.filter(col("cdc_id") >= cuts(2)._1),
      histDir, spec, rowSchema)
    writeChunk(log, logDir, cuts(2)._1, cuts(2)._2, 2)
    val skipped = CdcStream.skippedBatchCount.get()
    CdcStream.drainTxTable(s, logDir, s"$tmp/target", s"$tmp/chk", spec, rowSchema,
      maxFilesPerTrigger = 1, historyDir = Some(histDir))
    assert(CdcStream.skippedBatchCount.get() === skipped + 1,
      "the history must skip the batch it already holds")

    val history = TxTable.read(s, histDir)
    assert(history.collect().toSet === graft.log.History.scd2(
        base.select(spec.columns.map(col): _*), log, spec).collect().toSet)
    assert(history.groupBy("record_id", "valid_from").count()
      .filter(col("count") > 1).count() === 0L,
      "no (record_id, valid_from) version may repeat")
    assert(TxTable.read(s, s"$tmp/target").collect().toSet ===
      batchApplied(log, rowSchema))
  }

  test("a batch that straddles the cdc-id mark is applied exactly once") {
    // a re-grouped replay (say, after a checkpoint rebuild) can carry
    // rows on both sides of the mark; the views and the history must
    // apply only the rows above it
    val tmp = Files.createTempDirectory("cdcstraddle").toString
    val aggDir = s"$tmp/agg"
    val histDir = s"$tmp/hist"
    val spec = DemoWorkload.UsersSpec
    val base = DemoWorkload.users(s, 3, startId = 800L).localCheckpoint(true)
    val table = DemoWorkload.replay(CdcTable(base, spec), s,
      inserts = 6, updates = 3, deletes = 2)
    table.update(col("id") === 800L, Map("status" -> lit("inactive")))
    val rowSchema = table.snapshot.schema
    val log = table.changeLog.localCheckpoint(true)
    val first = log.filter(col("cdc_id") <= 5)
    val straddling = log.filter(col("cdc_id") >= 3)

    TxTable.commit(IncrementalAgg.snapshotAgg(base, "status", "id"), aggDir, "overwrite")
    CdcStream.bootstrapHistory(base, histDir, spec)
    CdcStream.applyAggBatch(first, aggDir, "status", "id")
    CdcStream.applyHistoryBatch(first, histDir, spec, rowSchema)
    CdcStream.applyAggBatch(straddling, aggDir, "status", "id")
    CdcStream.applyHistoryBatch(straddling, histDir, spec, rowSchema)

    assert(TxTable.read(s, aggDir).collect().toSet ===
      IncrementalAgg.snapshotAgg(table.snapshot, "status", "id").collect().toSet)
    assert(TxTable.read(s, histDir).collect().toSet === graft.log.History.scd2(
        base.select(spec.columns.map(col): _*), log, spec).collect().toSet)
  }

  test("streamed aggregate view across micro-batches equals recompute; crashed epoch idempotent") {
    val tmp = Files.createTempDirectory("cdcagg").toString
    val aggDir = s"$tmp/agg"
    val spec = DemoWorkload.UsersSpec
    val base = DemoWorkload.users(s, 3, startId = 400L).localCheckpoint(true)
    val table = DemoWorkload.replay(CdcTable(base, spec), s,
      inserts = 6, updates = 3, deletes = 2)
    table.update(col("id") === 400L, Map("status" -> lit("inactive")))
    val log = table.changeLog.localCheckpoint(true)
    val batch1 = log.filter(col("cdc_id") <= 5)
    val batch2 = log.filter(col("cdc_id") > 5)

    TxTable.commit(IncrementalAgg.snapshotAgg(base, "status", "id"), aggDir, "overwrite")
    CdcStream.applyAggBatch(batch1, aggDir, "status", "id")
    CdcStream.applyAggBatch(batch2, aggDir, "status", "id")
    val after = TxTable.read(s, aggDir).collect().toSet
    // the maintained view equals a per-status recompute over the final snapshot
    val expected = IncrementalAgg
      .snapshotAgg(table.snapshot, "status", "id").collect().toSet
    assert(after === expected)
    // crash window: re-run the last batch — skips on the mark
    assertReplaySkips(aggDir) {
      CdcStream.applyAggBatch(batch2, aggDir, "status", "id")
    }
    assert(TxTable.read(s, aggDir).collect().toSet === after)
    assertTxOnly(aggDir)
  }

  test("aggregate view compacted and vacuumed: a replayed batch still skips after restart") {
    val tmp = Files.createTempDirectory("cdcaggvac").toString
    val aggDir = s"$tmp/agg"
    val spec = DemoWorkload.UsersSpec
    val base = DemoWorkload.users(s, 3, startId = 400L).localCheckpoint(true)
    val table = DemoWorkload.replay(CdcTable(base, spec), s,
      inserts = 6, updates = 3, deletes = 2)
    val log = table.changeLog.localCheckpoint(true)
    val batch1 = log.filter(col("cdc_id") <= 5)
    val batch2 = log.filter(col("cdc_id") > 5)
    TxTable.commit(IncrementalAgg.snapshotAgg(base, "status", "id"), aggDir, "overwrite")
    CdcStream.applyAggBatch(batch1, aggDir, "status", "id")
    CdcStream.applyAggBatch(batch2, aggDir, "status", "id")
    val after = TxTable.read(s, aggDir).collect().toSet
    // maintenance leaves only an unstamped compaction manifest behind
    TxTable.compact(s, aggDir, 1)
    TxTable.vacuum(aggDir, keepVersions = 1, orphanGraceMs = 0L)
    assert(TxTable.latest(aggDir).get.epoch.isEmpty)
    // the restarted driver finds the view at a new path
    val restarted = copyTableDir(aggDir)
    assertReplaySkips(restarted) {
      CdcStream.applyAggBatch(batch2, restarted, "status", "id")
    }
    assert(TxTable.read(s, restarted).collect().toSet === after,
      "the replay must not count the deltas twice")
  }

  test("streamed moments view across micro-batches equals recompute; crashed epoch idempotent") {
    val tmp = Files.createTempDirectory("cdcmoments").toString
    val mDir = s"$tmp/moments"
    val spec = DemoWorkload.UsersSpec
    // empty base and no bootstrap commit: the first batch seeds the view
    // from an empty snapshot over the batch's own images
    val table = DemoWorkload.replay(CdcTable(DemoWorkload.users(s, 0), spec), s,
      inserts = 6, updates = 3, deletes = 2)
    val log = table.changeLog.localCheckpoint(true)
    val batch1 = log.filter(col("cdc_id") <= 5)
    val batch2 = log.filter(col("cdc_id") > 5)

    CdcStream.applyMomentsBatch(batch1, mDir, "status", "id")
    CdcStream.applyMomentsBatch(batch2, mDir, "status", "id")
    val after = TxTable.read(s, mDir).collect().toSet
    // maintained second moments equal a recompute over the final snapshot
    assert(after === IncrementalAgg
      .snapshotMoments(table.snapshot, "status", "id").collect().toSet)
    // crash window: re-run the last batch — skips on the mark
    assertReplaySkips(mDir) {
      CdcStream.applyMomentsBatch(batch2, mDir, "status", "id")
    }
    assert(TxTable.read(s, mDir).collect().toSet === after)
    assertTxOnly(mDir)
  }

  test("streamed distinct-count view across micro-batches equals recompute; crashed epoch idempotent") {
    val tmp = Files.createTempDirectory("cdcdistinct").toString
    val dDir = s"$tmp/distinct"
    val spec = DemoWorkload.UsersSpec
    val base = DemoWorkload.users(s, 3, startId = 600L).localCheckpoint(true)
    val table = DemoWorkload.replay(CdcTable(base, spec), s,
      inserts = 6, updates = 3, deletes = 2)
    table.update(col("id") === 600L, Map("status" -> lit("inactive")))
    val log = table.changeLog.localCheckpoint(true)
    val batch1 = log.filter(col("cdc_id") <= 5)
    val batch2 = log.filter(col("cdc_id") > 5)

    TxTable.commit(IncrementalAgg.snapshotDistinct(base, "status", "id"), dDir, "overwrite")
    CdcStream.applyDistinctBatch(batch1, dDir, "status", "id")
    CdcStream.applyDistinctBatch(batch2, dDir, "status", "id")
    val after = TxTable.read(s, dDir).collect().toSet
    // the maintained support table equals a recompute over the final
    // snapshot — and so does the derived COUNT(DISTINCT) dashboard
    val expected = IncrementalAgg
      .snapshotDistinct(table.snapshot, "status", "id").collect().toSet
    assert(after === expected)
    assert(IncrementalAgg.distinctView(TxTable.read(s, dDir)).collect().toSet ===
      IncrementalAgg.distinctView(
        IncrementalAgg.snapshotDistinct(table.snapshot, "status", "id"))
        .collect().toSet)
    // crash window: re-run the last batch — skips on the mark
    assertReplaySkips(dDir) {
      CdcStream.applyDistinctBatch(batch2, dDir, "status", "id")
    }
    assert(TxTable.read(s, dDir).collect().toSet === after)
    assertTxOnly(dDir)
  }

  test("streamed join view equals recompute; dangling fk drops; crashed epoch idempotent") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val tmp = Files.createTempDirectory("cdcjoinview").toString
    val viewDir = s"$tmp/view"
    val spec = DemoWorkload.UsersSpec
    val table = DemoWorkload.replay(
      CdcTable(DemoWorkload.users(s, 0), spec), s,
      inserts = 8, updates = 4, deletes = 2)
    val rowSchema = table.snapshot.schema
    val log = table.changeLog.localCheckpoint(true)
    val batch1 = log.filter(col("cdc_id") <= 6)
    val batch2 = log.filter(col("cdc_id") > 6)

    // 'pending' deliberately missing: its rows must LEAVE the view
    import s.implicits._
    val dim = Seq(("active", "tier-A"), ("inactive", "tier-I"))
      .toDF("st", "tier").localCheckpoint(true)
    val viewSchema = StructType(rowSchema.fields :+ StructField("tier", StringType))

    CdcStream.applyJoinBatch(batch1, viewDir, spec, viewSchema, dim,
      "status", "st", Seq("tier"))
    CdcStream.applyJoinBatch(batch2, viewDir, spec, viewSchema, dim,
      "status", "st", Seq("tier"))
    val got = TxTable.read(s, viewDir).collect().toSet

    // recompute: final applied state (stream target starts empty) ⋈ dim
    val emptyBase = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], rowSchema)
    val finalState = graft.apply.ChangeApplier.applyChanges(emptyBase, log, spec)
    val expected = graft.apply.IncrementalJoin.snapshotView(
        finalState, dim, spec, "status", "st", Seq("tier"))
      .collect().toSet
    assert(got === expected)
    assert(!got.exists(_.getAs[String]("status") == "pending"),
      "dangling fk must drop")
    assert(got.nonEmpty)

    // crash window: re-run the last batch — skips on the mark
    assertReplaySkips(viewDir) {
      CdcStream.applyJoinBatch(batch2, viewDir, spec, viewSchema, dim,
        "status", "st", Seq("tier"))
    }
    assert(TxTable.read(s, viewDir).collect().toSet === got)
    assertTxOnly(viewDir)
  }

  test("health listener emits a report per progress event") {
    val tmp = Files.createTempDirectory("cdclisten").toString
    val table = DemoWorkload.replay(
      CdcTable(DemoWorkload.users(s, 0), DemoWorkload.UsersSpec), s)
    table.changeLog.write.mode("overwrite").parquet(s"$tmp/log")
    val rowSchema = table.snapshot.schema

    val reports = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val listener = new CdcStream.HealthListener(
      () => s.read.schema(ChangeLog.schema(rowSchema)).parquet(s"$tmp/log"),
      emit = r => { reports.add(r); () })
    s.streams.addListener(listener)
    try {
      CdcStream.drainTxTable(s, s"$tmp/log", s"$tmp/target", s"$tmp/chk",
        DemoWorkload.UsersSpec, rowSchema)
      // listener events are delivered asynchronously — poll briefly
      val deadline = System.nanoTime() + 15_000_000_000L
      while (reports.isEmpty && System.nanoTime() < deadline) Thread.sleep(200)
      assert(!reports.isEmpty, "no health report within 15s of drain")
      val r = reports.peek()
      assert(r("total_changes").asInstanceOf[Long] === 17L)
      assert(r("health") === "healthy")
    } finally {
      s.streams.removeListener(listener)
      listener.close()
    }
  }

  test("change log streamed into a TxTable target: ACID epochs, time travel, replay no-op") {
    val tmp = Files.createTempDirectory("cdctx").toString
    val logDir = s"$tmp/log"
    val tableDir = s"$tmp/txtarget"
    val ckpt = s"$tmp/chk"

    val table = DemoWorkload.replay(
      CdcTable(DemoWorkload.users(s, 0), DemoWorkload.UsersSpec),
      s, inserts = 10, updates = 5, deletes = 2)
    // statistics parity (reference: example_usage.py:141-143 workload)
    val stats = CdcMonitor.statistics(table.changeLog)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats === Map("INSERT" -> 10L, "UPDATE" -> 5L, "DELETE" -> 2L))
    table.changeLog.write.mode("overwrite").parquet(logDir)
    val rowSchema = table.snapshot.schema

    CdcStream.drainTxTable(s, logDir, tableDir, ckpt,
      DemoWorkload.UsersSpec, rowSchema)

    // target ≡ source snapshot, read through the table format
    assert(ReplicationVerifier.fullyReplicated(table.snapshot,
      TxTable.read(s, tableDir)))
    assert(TxTable.read(s, tableDir).count() === 8)
    // epoch stamps present, strictly increasing
    val epochs = TxTable.versions(tableDir)
      .map(TxTable.snapshot(tableDir, _)).flatMap(_.epoch)
    assert(epochs.nonEmpty && epochs === epochs.sorted)

    // replay on the same checkpoint: no new version
    val before = TxTable.versions(tableDir)
    CdcStream.drainTxTable(s, logDir, tableDir, ckpt,
      DemoWorkload.UsersSpec, rowSchema)
    assert(TxTable.versions(tableDir) === before, "replay must be a no-op")

    // a late batch of inserts lands as ONE CoW merge version; the prior
    // state stays time-travelable
    table.insert(DemoWorkload.users(s, 3, startId = 100L))
    table.changeLog.filter(col("record_id") >= 100L)
      .write.mode("append").parquet(logDir)
    CdcStream.drainTxTable(s, logDir, tableDir, ckpt,
      DemoWorkload.UsersSpec, rowSchema)
    assert(TxTable.read(s, tableDir).count() === 11)
    assert(ReplicationVerifier.fullyReplicated(table.snapshot,
      TxTable.read(s, tableDir)))
    val latestV = TxTable.versions(tableDir).last
    assert(TxTable.read(s, tableDir, Some(latestV - 1)).count() === 8,
      "the pre-catch-up state must remain readable by version")
    // merge carried untouched files forward by reference (CoW, not rewrite)
    val prevFiles = TxTable.snapshot(tableDir, latestV - 1).files.toSet
    val nowFiles = TxTable.snapshot(tableDir, latestV).files.toSet
    assert((prevFiles & nowFiles).nonEmpty,
      "untouched files must carry forward by reference across the merge")
  }

  test("streamed MoR target ≡ streamed CoW target; folds on cadence, zero rewrites between folds") {
    val tmp = Files.createTempDirectory("cdctxmor").toString
    val table = DemoWorkload.replay(
      CdcTable(DemoWorkload.users(s, 0), DemoWorkload.UsersSpec),
      s, inserts = 10, updates = 5, deletes = 2)
    table.changeLog.write.mode("overwrite").parquet(s"$tmp/log")
    val rowSchema = table.snapshot.schema

    // same log drained into both write modes
    CdcStream.drainTxTable(s, s"$tmp/log", s"$tmp/cow", s"$tmp/chk_cow",
      DemoWorkload.UsersSpec, rowSchema)
    CdcStream.drainTxTable(s, s"$tmp/log", s"$tmp/mor", s"$tmp/chk_mor",
      DemoWorkload.UsersSpec, rowSchema, writeMode = "mor")
    assertSameRows(TxTable.read(s, s"$tmp/mor"), TxTable.read(s, s"$tmp/cow"),
      "mor stream ≡ cow stream")
    assert(ReplicationVerifier.fullyReplicated(table.snapshot,
      TxTable.read(s, s"$tmp/mor")))

    // between folds, a MoR epoch rewrites NO base files: drain a second
    // change batch and check every pre-batch file carried forward
    val lastLogged = table.changeLog.agg(max(col("cdc_id"))).first().getLong(0)
    // mutate keys that EXIST in the snapshot (ids are workload-assigned)
    val liveIds = table.snapshot.select(DemoWorkload.UsersSpec.pkCol)
      .orderBy(DemoWorkload.UsersSpec.pkCol).collect().map(_.getLong(0))
    table.update(col(DemoWorkload.UsersSpec.pkCol) === liveIds(0),
      Map("username" -> lit("morx")))
    table.delete(col(DemoWorkload.UsersSpec.pkCol) === liveIds(1))
    val staged = table.changeLog.filter(col("cdc_id") > lastLogged)
    assert(staged.count() === 2L, "the stage-2 mutations must hit live keys")
    staged.write.mode("append").parquet(s"$tmp/log")
    val beforeFiles = TxTable.latest(s"$tmp/mor").get.files.toSet
    CdcStream.drainTxTable(s, s"$tmp/log", s"$tmp/mor", s"$tmp/chk_mor",
      DemoWorkload.UsersSpec, rowSchema, writeMode = "mor")
    val afterSnap = TxTable.latest(s"$tmp/mor").get
    assert(beforeFiles.subsetOf(afterSnap.files.toSet),
      "a MoR epoch must not rewrite base files")
    assert(afterSnap.dvs.nonEmpty, "the epoch's deletes live as DVs")
    assert(ReplicationVerifier.fullyReplicated(table.snapshot,
      TxTable.read(s, s"$tmp/mor")))

    // foldEvery = 1: the next epoch folds the DVs right after merging —
    // bounded maintenance, value-neutral, and only dv'd files rewritten
    val logged2 = table.changeLog.agg(max(col("cdc_id"))).first().getLong(0)
    table.update(col(DemoWorkload.UsersSpec.pkCol) === liveIds(2),
      Map("username" -> lit("mory")))
    val staged3 = table.changeLog.filter(col("cdc_id") > logged2)
    assert(staged3.count() === 1L, "the stage-3 mutation must hit a live key")
    staged3.write.mode("append").parquet(s"$tmp/log")
    CdcStream.drainTxTable(s, s"$tmp/log", s"$tmp/mor", s"$tmp/chk_mor",
      DemoWorkload.UsersSpec, rowSchema, writeMode = "mor", foldEvery = 1)
    val folded = TxTable.latest(s"$tmp/mor").get
    assert(folded.dvs.isEmpty, "the cadence fold must clear the DVs")
    assert(folded.op === "fold")
    assert(ReplicationVerifier.fullyReplicated(table.snapshot,
      TxTable.read(s, s"$tmp/mor")), "fold is value-neutral")
    // the exactly-once ledger survives the fold (no epoch stamp on it):
    // a full replay of the log is still a no-op
    val beforeV = TxTable.versions(s"$tmp/mor")
    CdcStream.drainTxTable(s, s"$tmp/log", s"$tmp/mor", s"$tmp/chk_mor",
      DemoWorkload.UsersSpec, rowSchema, writeMode = "mor", foldEvery = 1)
    assert(TxTable.versions(s"$tmp/mor") === beforeV,
      "replay after a fold must skip on the high-water mark")
  }

  test("applyTxBatch merge path: updates apply and deletes key off record_id") {
    val dir = Files.createTempDirectory("cdctxm").toString
    val table = DemoWorkload.replay(
      CdcTable(DemoWorkload.users(s, 0), DemoWorkload.UsersSpec),
      s, inserts = 6, updates = 3, deletes = 2)
    val rowSchema = table.snapshot.schema
    val log = table.changeLog
    // batch 1: the inserts (seed branch); batch 2: updates + deletes —
    // the merge branch, incl. the DELETE rows whose pk must come from
    // record_id (their new_data image is null)
    CdcStream.applyTxBatch(log.filter(col("operation") === "INSERT"),
      dir, DemoWorkload.UsersSpec, rowSchema)
    CdcStream.applyTxBatch(log.filter(col("operation") =!= "INSERT"),
      dir, DemoWorkload.UsersSpec, rowSchema)
    assert(ReplicationVerifier.fullyReplicated(table.snapshot,
      TxTable.read(s, dir)),
      "merge path must land updates and remove deleted keys")
    assert(TxTable.read(s, dir).count() === 4) // 6 inserts − 2 deletes
    val deleted = log.filter(col("operation") === "DELETE")
      .select("record_id").collect().map(_.getLong(0)).toSet
    val remaining = TxTable.read(s, dir)
      .select(DemoWorkload.UsersSpec.pkCol).collect().map(_.getLong(0)).toSet
    assert((deleted & remaining).isEmpty, "deleted keys must be gone")
    // data-derived ledger: re-applying the SAME second batch is a no-op
    val before = TxTable.versions(dir)
    CdcStream.applyTxBatch(log.filter(col("operation") =!= "INSERT"),
      dir, DemoWorkload.UsersSpec, rowSchema)
    assert(TxTable.versions(dir) === before,
      "a replayed batch must skip on the cdc-id high-water mark")
  }

  /** A target seeded with the log's inserts — laid out with key and
    * string stats and a key Bloom, the layout every merge rebuilds — and
    * the log's later changes as one file-source batch, the shape a
    * trigger hands [[CdcStream.applyTxBatch]].
    */
  private def seededWithBatch(name: String) = {
    val tmp = Files.createTempDirectory(name).toString
    val table = DemoWorkload.replay(
      CdcTable(DemoWorkload.users(s, 0), DemoWorkload.UsersSpec),
      s, inserts = 8, updates = 4, deletes = 2)
    val rowSchema = table.snapshot.schema
    table.changeLog.write.parquet(s"$tmp/log")
    val log = s.read.parquet(s"$tmp/log")
    TxTable.commit(log.filter(col("operation") === "INSERT").select(col("new_data.*")),
      s"$tmp/target", "overwrite", statsColumns = Seq("id", "username"),
      bloomColumns = Seq("id"))
    (table, rowSchema, s"$tmp/target", log.filter(col("operation") =!= "INSERT"))
  }

  test("two appliers replaying one batch commit it once: the CAS loser skips") {
    val (table, rowSchema, dir, batch) = seededWithBatch("cdctxrace")
    // the first two publishes wait for each other, so both appliers
    // derive their merge against the same base before either commits
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val arrivals = new java.util.concurrent.atomic.AtomicInteger(0)
    val arbiter = new graft.sources.CommitArbiter {
      override def putIfAbsent(target: java.nio.file.Path, content: String,
          tmpTag: String): Boolean = {
        if (arrivals.getAndIncrement() < 2)
          barrier.await(120, java.util.concurrent.TimeUnit.SECONDS)
        graft.sources.LocalLinkArbiter.putIfAbsent(target, content, tmpTag)
      }
    }
    val versions = TxTable.versions(dir)
    val skipped = CdcStream.skippedBatchCount.get()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val appliers = (0 until 2).map(_ => Future(
      CdcStream.applyTxBatchVia(arbiter)(batch, dir, DemoWorkload.UsersSpec, rowSchema,
        graft.model.ConflictStrategy.LastWriteWins, "cow", 0, 0.0, Some("s"))))
    appliers.foreach(Await.result(_, 5.minutes))
    assert(TxTable.versions(dir) === versions :+ (versions.last + 1),
      "the replayed batch must commit exactly one version")
    assert(CdcStream.skippedBatchCount.get() === skipped + 1,
      "the CAS loser must skip on the winner's ledger")
    assert(ReplicationVerifier.fullyReplicated(table.snapshot, TxTable.read(s, dir)))
  }

  test("an empty change batch commits nothing and is not a skip") {
    val (_, rowSchema, dir, batch) = seededWithBatch("cdctxempty")
    val versions = TxTable.versions(dir)
    val skipped = CdcStream.skippedBatchCount.get()
    CdcStream.applyTxBatch(batch.where(lit(false)), dir, DemoWorkload.UsersSpec,
      rowSchema, streamId = Some("s"))
    assert(TxTable.versions(dir) === versions)
    // nor does it seed an absent table
    val fresh = s"$dir-fresh"
    CdcStream.applyTxBatch(batch.where(lit(false)), fresh, DemoWorkload.UsersSpec,
      rowSchema, streamId = Some("s"))
    assert(TxTable.versions(fresh).isEmpty)
    assert(CdcStream.skippedBatchCount.get() === skipped)
  }

  test("job-count guard: an applyTxBatch merge stays lean and never reads back its own write") {
    val (table, rowSchema, dir, batch) = seededWithBatch("cdctxjobs")
    val before = TxTable.latest(dir).get.files.toSet
    val (jobs, scans) = jobsAndScansDuring(
      CdcStream.applyTxBatch(batch, dir, DemoWorkload.UsersSpec, rowSchema,
        streamId = Some("s")))
    assert(ReplicationVerifier.fullyReplicated(table.snapshot, TxTable.read(s, dir)))
    // 4 = the one bounded read of the change set (where the dedup runs,
    // with its AQE stage job), the touched keys' broadcast and the data
    // write: no checkpoint, key aggregate, hit scan, gate, stats or Bloom job
    assert(jobs.size <= 4, s"applyTxBatch ran ${jobs.size} jobs: ${jobs.map(_._1)}")
    val written = (TxTable.latest(dir).get.files.toSet -- before)
      .map(_.split('/').take(2).mkString("/"))
    assert(written.nonEmpty)
    def readsBack(locations: Seq[String]) = locations.filter(l => written.exists(l.contains))
    assert(readsBack(scans).isEmpty, s"a job re-read the new commit: ${readsBack(scans)}")
    // the detector is not vacuous: a read of the new files IS seen
    assert(readsBack(jobsAndScansDuring(TxTable.read(s, dir).count())._2).nonEmpty)
  }

  test("concurrent writers into one TxTable: per-stream ledger applies every slice") {
    // Round-14 regression pin: N writers replicate DISJOINT key slices of
    // one change log into the SAME table; each slice carries interleaved
    // cdc_ids from the whole range, so under the old TABLE-global
    // high-water the second writer's batches all trailed the first's
    // committed max and were silently skipped (24/32 batches dropped in
    // the round-13 contended bench). The ledger is now scoped per writer
    // stream (checkpoint-derived streamId stamped into each commit).
    val tmp = Files.createTempDirectory("cdctxcont").toString
    val table = DemoWorkload.replay(
      CdcTable(DemoWorkload.users(s, 0), DemoWorkload.UsersSpec),
      s, inserts = 12, updates = 6, deletes = 3)
    val rowSchema = table.snapshot.schema
    val log = table.changeLog
    // ground truth: the full log drained by a single writer
    log.write.mode("overwrite").parquet(s"$tmp/log_full")
    CdcStream.drainTxTable(s, s"$tmp/log_full", s"$tmp/single",
      s"$tmp/chk_single", DemoWorkload.UsersSpec, rowSchema)
    // two writers: key-parity slices, each split into 2 files of
    // CONTIGUOUS cdc_id ranges (per-writer in-order contract holds, but
    // writer 1's batch maxes interleave below writer 0's)
    (0 until 2).foreach { w =>
      val slice = log.filter(pmod(col("record_id"), lit(2)) === w)
      val b = slice.agg(min(col("cdc_id")), max(col("cdc_id"))).first()
      val span = math.max(1L, (b.getLong(1) - b.getLong(0)) / 2 + 1)
      (0 until 2).foreach { i =>
        slice.filter(expr(s"(cdc_id - ${b.getLong(0)}) div $span") === i)
          .repartition(1).write.mode("append").parquet(s"$tmp/log_$w")
        ()
      }
    }
    val skipped0 = CdcStream.skippedBatchCount.get()
    // writer 0 drains FIRST (commits the higher interleaved cdc_ids),
    // then writer 1 — the exact ordering the table-global mark corrupted
    CdcStream.drainTxTable(s, s"$tmp/log_0", s"$tmp/contended",
      s"$tmp/chk_w0", DemoWorkload.UsersSpec, rowSchema,
      maxFilesPerTrigger = 1)
    CdcStream.drainTxTable(s, s"$tmp/log_1", s"$tmp/contended",
      s"$tmp/chk_w1", DemoWorkload.UsersSpec, rowSchema,
      maxFilesPerTrigger = 1)
    assert(CdcStream.skippedBatchCount.get() === skipped0,
      "no batch may be dropped as a phantom replay")
    assertSameRows(TxTable.read(s, s"$tmp/contended"),
      TxTable.read(s, s"$tmp/single"),
      "two-writer slices must converge to the single-writer table")
    assert(ReplicationVerifier.fullyReplicated(table.snapshot,
      TxTable.read(s, s"$tmp/contended")))
    // and a genuine replay still skips: writer 1 re-drains on a FRESH
    // checkpoint (checkpoint loss) — same streamId derivation would
    // differ, but its own committed cdc_ids are stamped per stream, so
    // only the TABLE-global regression matters here; re-drain on the
    // SAME checkpoint must be a version no-op
    val before = TxTable.versions(s"$tmp/contended")
    CdcStream.drainTxTable(s, s"$tmp/log_1", s"$tmp/contended",
      s"$tmp/chk_w1", DemoWorkload.UsersSpec, rowSchema,
      maxFilesPerTrigger = 1)
    assert(TxTable.versions(s"$tmp/contended") === before,
      "same-checkpoint replay must remain a no-op")
  }
}
