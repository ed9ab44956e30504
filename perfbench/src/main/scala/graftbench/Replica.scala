package graftbench

import graft.Fixtures.OrdersSpec
import graft.monitor.CdcMonitor
import graft.sources.TxTable
import graft.streaming.CdcStream
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.IntegerType
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `cdc_replica`: the reference's replicate-then-report loop on one
  * `orders` TxTable, in two phases.
  *
  *  1. Trickle, open loop. Small change files staged ahead of time are
  *     renamed into the log directory on a fixed schedule by one mover
  *     thread; a `CdcStream.startTxTable` stream with
  *     `Trigger.ProcessingTime(0)` applies each trigger's arrivals
  *     (copy-on-write). Freshness is a file's due time to the mtime of the
  *     first manifest whose epoch covers the file's max cdc_id.
  *  2. Backlog, closed loop. With the stream stopped, one thread applies
  *     large Zipf-skewed batches with `CdcStream.applyTxBatch`; after each
  *     commit it times point lookups on hot and cold keys, a pruned range
  *     read, the newest version's change feed, a time-travel read of the
  *     previous version and a health report over the log applied so far.
  *
  * Every read result is checked against the generator's state, and the
  * final table against a last-write-wins model.
  */
final class Replica(ctx: Ctx) extends Workload {
  import Replica._
  import ctx.spark

  val SeedRows = 150000
  val SeedFiles = 16
  // trickle
  val IntervalMs = 250L
  val PerFile = 100
  val WarmFiles = 1
  val HotShare = 0.05
  val InsertShare = 0.1
  val DeleteShare = 0.1
  val NFiles: Int = WarmFiles + (ctx.seconds * 1000 / IntervalMs).toInt
  // backlog; a measured iteration takes seconds, so batches never run out
  val BatchSize = 5000
  val NBatches: Int = 2 + ctx.seconds / 5
  val ZipfS = 1.0
  val BatchInsertShare = 0.05
  val BatchDeleteShare = 0.1
  val RangeKeys = 1000
  val HotLookups = 4
  val ColdLookups = 4

  final class Prepared(val dir: String, val seedRows: Array[Row],
      val maxCdc: IndexedSeq[Long], val keys: IndexedSeq[Set[Long]],
      val staged: IndexedSeq[Path], val liveAfterTrickle: Long,
      val batches: IndexedSeq[BatchInfo], val lookupKeys: Seq[Long],
      val seedFiles: Set[String], val opCounts: Map[String, Map[String, Long]]) {
    var query: StreamingQuery = _
    def table = s"$dir/table"
    def log = s"$dir/log"
    def batch(i: Int) = spark.read.schema(Gen.LogSchema).parquet(s"$dir/batches/batch_no=$i")
  }

  private def mix(c: Array[Long]) = Map("insert" -> c(0), "update" -> c(1), "delete" -> c(2))

  def setup(dir: String): Prepared = {
    val seedRows = Gen.orders(ctx.seed, SeedRows)
    val sim = new Gen.ChangeSim(seedRows, Gen.rng(ctx.seed, 2L))
    // trickle files: inserts add new keys, everything else lands on the
    // newest keys
    val r = Gen.rng(ctx.seed, 3L)
    val fileRows = new java.util.ArrayList[Row]()
    val maxCdc = mutable.ArrayBuffer.empty[Long]
    val keys = mutable.ArrayBuffer.empty[Set[Long]]
    (0 until NFiles).foreach { f =>
      val ks = mutable.Set.empty[Long]
      (0 until PerFile).foreach { _ =>
        val k =
          if (r.nextDouble() < InsertShare) sim.maxKey + 1
          else sim.maxKey - r.nextInt(math.max(1, (sim.maxKey * HotShare).toInt))
        fileRows.add(Row.fromSeq(sim.change(k, DeleteShare / (1 - InsertShare)).toSeq :+ f))
        ks += k
      }
      maxCdc += sim.nextCdc - 1
      keys += ks.toSet
    }
    val trickleOps = sim.opCounts.clone()
    val liveAfterTrickle = sim.live
    // backlog batches: Zipf ranks map to keys through a permutation, so
    // hot keys are spread over every seed file
    val rb = Gen.rng(ctx.seed, 5L)
    val perm = Gen.permutation(SeedRows, rb)
    val zipf = new Gen.Zipf(SeedRows, ZipfS)
    val lookupKeys = perm.take(HotLookups).toSeq ++
      Seq.fill(ColdLookups)(perm(SeedRows / 2 + rb.nextInt(SeedRows / 2)))
    val batchRows = new java.util.ArrayList[Row]()
    val batches = (0 until NBatches).map { b =>
      val before = mutable.Map.empty[Long, Option[Row]]
      (0 until BatchSize).foreach { _ =>
        val k = if (rb.nextDouble() < BatchInsertShare) sim.maxKey + 1 else perm(zipf.rank(rb))
        if (!before.contains(k)) before(k) = if (k > sim.maxKey) None else sim.image(k)
        batchRows.add(Row.fromSeq(sim.change(k, BatchDeleteShare).toSeq :+ b))
      }
      val lo = 1L + rb.nextInt((sim.maxKey - RangeKeys).toInt)
      BatchInfo(BatchSize, before.size,
        before.count { case (k, img) => img != sim.image(k) }.toLong,
        sim.live, (lo, lo + RangeKeys - 1),
        (lo until lo + RangeKeys).count(k => sim.image(k).isDefined).toLong,
        lookupKeys.map(k => k -> sim.image(k)).toMap)
    }
    val batchOps = sim.opCounts.zip(trickleOps).map { case (a, b) => a - b }
    // each input kind in one Spark write, one file per file_no / batch_no
    spark.createDataFrame(fileRows, Gen.LogSchema.add("file_no", IntegerType))
      .repartition(col("file_no")).write.partitionBy("file_no").parquet(s"$dir/files")
    spark.createDataFrame(batchRows, Gen.LogSchema.add("batch_no", IntegerType))
      .repartition(col("batch_no")).write.partitionBy("batch_no").parquet(s"$dir/batches")
    val staged = (0 until NFiles).map { f =>
      val it = Files.list(Paths.get(dir, "files", s"file_no=$f"))
      try it.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq.head
      finally it.close()
    }
    Tables.seed(spark, seedRows, s"$dir/table", SeedFiles)
    Files.createDirectories(Paths.get(dir, "log"))
    new Prepared(dir, seedRows, maxCdc.toIndexedSeq, keys.toIndexedSeq, staged,
      liveAfterTrickle, batches, lookupKeys, Tables.liveFiles(s"$dir/table"),
      Map("trickle" -> mix(trickleOps), "backlog" -> mix(batchOps)))
  }

  /** Start the stream and let its first trigger apply one file, then run
    * one unchecked round of every read.
    */
  def warmup(p: Prepared): Unit = {
    p.query = CdcStream.startTxTable(spark, p.log, p.table, s"${p.dir}/chk",
      OrdersSpec, Gen.RowSchema, trigger = Some(Trigger.ProcessingTime(0L)))
    (0 until WarmFiles).foreach { i =>
      deliver(p, i)
      require(awaitEpoch(p, p.maxCdc(i), 120000L), s"warm-up file $i not applied")
    }
    val warm = new Outcome
    reads(p, None, p.lookupKeys.take(1), warm, new Iter)
    require(warm.failed == 0, s"warm-up failed: ${warm.notes}")
  }

  def discard(p: Prepared): Unit = {
    Option(p.query).foreach(_.stop())
    Tables.deleteTree(Paths.get(p.dir))
  }

  /** Rename staged file `i` into the log with its mtime set to now. */
  private def deliver(p: Prepared, i: Int): Long = {
    val now = System.currentTimeMillis()
    p.staged(i).toFile.setLastModified(now)
    Files.move(p.staged(i), Paths.get(p.log, f"f$i%05d.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
    now
  }

  private def appliedEpoch(p: Prepared): Long =
    TxTable.latest(p.table).flatMap(_.epoch).getOrElse(-1L)

  private def awaitEpoch(p: Prepared, epoch: Long, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (appliedEpoch(p) < epoch && System.currentTimeMillis() < deadline &&
        p.query.isActive) Thread.sleep(20)
    appliedEpoch(p) >= epoch
  }

  private def timed[T](name: String, out: Outcome)(body: => T): (Option[T], Double) = {
    val t0 = System.nanoTime()
    val r = out.op(name)(ctx.tracer.span(name)(body))
    (r, Stats.ms(t0, System.nanoTime()))
  }

  def measure(p: Prepared, out: Outcome): Unit = {
    trickle(p, out)
    val backlogChanges = backlog(p, out)
    val seedDf = spark.createDataFrame(p.seedRows.toSeq.asJava, Gen.RowSchema)
    val log = spark.read.schema(Gen.LogSchema).parquet(p.log)
      .unionByName(spark.read.schema(Gen.LogSchema)
        .parquet((0 until p.batches.size).map(j => s"${p.dir}/batches/batch_no=$j"): _*)
        .filter(col("cdc_id") <= appliedEpoch(p)))
    out.op("model_check") {
      val diff = Tables.multisetDiff(TxTable.read(spark, p.table), Tables.model(seedDf, log))
      out.check("table_equals_model", diff == 0, s"$diff rows differ")
    }
    Tables.counters(p.table, p.seedFiles, NFiles.toLong * PerFile + backlogChanges, out.perLayer)
    out.notes("inputs") = Map(
      "seed_rows" -> SeedRows, "seed_files" -> SeedFiles,
      "trickle" -> Map("files" -> (NFiles - WarmFiles), "warmup_files" -> WarmFiles,
        "changes_per_file" -> PerFile, "interval_ms" -> IntervalMs,
        "offered_changes_per_s" -> PerFile * 1000.0 / IntervalMs,
        "hot_key_share" -> HotShare, "op_mix" -> p.opCounts("trickle")),
      "backlog" -> Map("batch_size" -> BatchSize, "batches_staged" -> NBatches,
        "key_skew" -> s"zipf s=$ZipfS over the seed keys",
        "new_key_insert_share" -> BatchInsertShare, "lookups_per_batch" ->
          Map("hot" -> HotLookups, "cold" -> ColdLookups),
        "range_keys" -> RangeKeys, "op_mix" -> p.opCounts("backlog")))
    if (ctx.traced) {
      val ratios = Seq("trickle_overhead", "backlog_overhead").flatMap(k =>
        out.notes.get(k).map(_.asInstanceOf[Double]))
      out.perLayer("trace_overhead_ratio") = (ratios.sum / math.max(1, ratios.size), "ratio")
    }
  }

  /** Phase 1: open-loop delivery for `seconds`, then wait for the stream
    * to apply the last file and stop it.
    */
  private def trickle(p: Prepared, out: Outcome): Unit = {
    val warmBatches = p.query.recentProgress.map(_.batchId).maxOption.getOrElse(-1L)
    val measured = WarmFiles until NFiles
    val due = new Array[Long](NFiles)
    val late = new Array[Long](NFiles)
    val t0 = System.currentTimeMillis() + 100
    // the generator: one thread on a fixed schedule that does not slow
    // when the engine does
    val mover = new Thread(() => measured.foreach { i =>
      due(i) = t0 + (i - WarmFiles) * IntervalMs
      val wait = due(i) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      late(i) = deliver(p, i) - due(i)
    }, "perfbench-mover")
    mover.start()
    mover.join()
    val caughtUp = out.op("stream")(awaitEpoch(p, p.maxCdc.last, 60000L)).getOrElse(false)
    out.check("all_files_applied", caughtUp, s"applied epoch ${appliedEpoch(p)} < ${p.maxCdc.last}")
    p.query.stop()
    out.check("stream_healthy", p.query.exception.isEmpty, p.query.exception)

    // freshness per file: due time -> mtime of the first covering manifest
    val manifests = Tables.manifests(p.table).filter(_._2.isDefined)
    val coveredBy = measured.map(i => i -> manifests.find(_._2.get >= p.maxCdc(i)))
    val fresh = coveredBy.flatMap { case (i, m) => m.map(_._3 - due(i)) }
    val triggers = p.query.recentProgress.toSeq
      .filter(pr => pr.batchId > warmBatches && pr.numInputRows > 0)
      .sortBy(_.batchId)
    val trigMs = triggers.map(dur(_, "triggerExecution"))
    val (tail, tailPct) = Stats.tail(fresh)
    out.endToEnd("latency_p50_ms") = (Stats.median(fresh), "ms")
    out.endToEnd("latency_tail_ms") = (tail, "ms")
    out.notes ++= Seq(
      "latency" -> "freshness: due time to the first covering manifest (trickle phase)",
      "latency_samples" -> fresh.size, "latency_tail_percentile" -> tailPct,
      "triggers" -> triggers.size, "trigger_p50_ms" -> Stats.median(trigMs),
      "trickle_changes_per_trigger_s" ->
        triggers.map(_.numInputRows).sum / math.max(1e-9, trigMs.sum / 1000.0))

    val filesOf = coveredBy.collect { case (i, Some(m)) => m._1 -> i }
      .groupBy(_._1).values.map(_.map(_._2))
    out.perLayer("streaming.files_per_trigger") = (Stats.median(filesOf.map(_.size.toDouble).toSeq), "count")
    out.perLayer("generator.late_ms_max") = (measured.map(late(_)).max.toDouble, "ms")
    out.perLayer("streaming.offsets_ms") = (Stats.median(triggers.map(pr =>
      dur(pr, "latestOffset") + dur(pr, "getBatch") + dur(pr, "queryPlanning"))), "ms")
    out.perLayer("streaming.wal_ms") =
      (Stats.median(triggers.map(pr => dur(pr, "walCommit") + dur(pr, "commitOffsets"))), "ms")
    out.perLayer("streaming.add_batch_ms") = (Stats.median(triggers.map(dur(_, "addBatch"))), "ms")
    val q = trigMs.size / 4
    out.perLayer("streaming.trigger_drift") = (if (q == 0) 0.0
      else Stats.median(trigMs.takeRight(q)) / Stats.median(trigMs.slice(q, 2 * q)), "ratio")
    out.notes("trickle_dedup") = Map(
      "changes_per_trigger" -> Stats.median(triggers.map(_.numInputRows.toDouble)),
      "keys_per_trigger" -> Stats.median(filesOf.map(is => is.flatMap(p.keys).toSet.size.toDouble).toSeq))
    if (ctx.traced) {
      ctx.tracer.drain()
      // traced units are the even micro-batches (see Tracer)
      val (traced, untraced) = triggers.partition(pr => Tracer.tracedBatch(pr.batchId))
      val jobs = traced.map(pr => ctx.tracer.jobsOfBatch(pr.id.toString, pr.batchId))
      ctx.tracer.summarize("streaming.trigger", traced.map(dur(_, "triggerExecution")), jobs, out.perLayer)
      out.perLayer("streaming.jobs_per_trigger") = (Stats.median(jobs.map(_.size.toDouble)), "count")
      out.notes("trickle_overhead") = Stats.median(traced.map(dur(_, "triggerExecution"))) /
        math.max(1e-9, Stats.median(untraced.map(dur(_, "triggerExecution"))))
    }
  }

  /** Phase 2: batches and the reads beside them for `seconds`; at least
    * two, and no batch starts that would likely end past the deadline.
    */
  private def backlog(p: Prepared, out: Outcome): Long = {
    val it = new Iter
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var i = 0
    var last = 0L
    while (i < p.batches.size && (i < 2 || System.nanoTime() + last < deadline)) {
      ctx.tracer.on = ctx.traced && i % 2 == 0
      val t0 = System.nanoTime()
      val (applied, applyMs) = timed("streaming.apply_tx_batch", out) {
        CdcStream.applyTxBatch(p.batch(i), p.table, OrdersSpec, Gen.RowSchema)
      }
      if (applied.isEmpty) i = p.batches.size
      else {
        it.apply += applyMs
        reads(p, Some(i), p.lookupKeys, out, it)
        last = System.nanoTime() - t0
        it.unitMs += ((ctx.tracer.on, Stats.ms(t0, System.nanoTime())))
        i += 1
      }
    }
    ctx.tracer.on = false
    val applied = 0 until math.min(i, p.batches.size)
    val changes = applied.map(p.batches(_).changes.toLong).sum
    val (lookTail, lookPct) = Stats.tail(it.lookup.toSeq)
    out.endToEnd("throughput_per_s") = (changes / math.max(1e-9, it.apply.sum / 1000.0), "1/s")
    out.endToEnd("secondary_p50_ms") = (Stats.median(it.lookup.toSeq), "ms")
    out.notes ++= Seq(
      "throughput" -> "changes applied per second inside applyTxBatch (backlog phase)",
      "secondary" -> "TxTable.readPointLookupLong through the collected row (backlog phase)",
      "batches" -> applied.size, "lookup_samples" -> it.lookup.size,
      "lookup_tail_ms" -> lookTail, "lookup_tail_percentile" -> lookPct,
      "feed_p50_ms" -> Stats.median(it.feed.toSeq))
    val keys = applied.map(p.batches(_).keys.toDouble)
    out.perLayer("apply.changes_in") = (BatchSize.toDouble, "count")
    out.perLayer("apply.keys_out") = (Stats.median(keys), "count")
    out.perLayer("apply.dedup_ratio") = (Stats.median(keys) / BatchSize, "ratio")
    out.perLayer("monitor.log_rows") = (it.logRows.lastOption.getOrElse(0L).toDouble, "count")
    if (ctx.traced) {
      ctx.tracer.drain()
      Seq("streaming.apply_tx_batch", "sources.latest", "sources.point_lookup",
        "sources.read_pruned", "sources.change_feed", "sources.time_travel",
        "monitor.health_report").foreach(ctx.tracer.summarizeSpan(_, out.perLayer))
      val applyJobs = ctx.tracer.spansOf("streaming.apply_tx_batch").map(ctx.tracer.jobsOfSpan)
      val n = math.max(1, applyJobs.size).toDouble
      def perBatch(f: Tracer#Job => Boolean, g: Tracer#Job => Long) =
        applyJobs.flatten.filter(f).map(g).sum / n
      out.perLayer("apply.task_ms") = (perBatch(Tracer.isApplyJob, _.taskMs), "ms")
      out.perLayer("apply.shuffle_mb") = (perBatch(Tracer.isApplyJob, _.shuffleBytes) / 1048576.0, "MB")
      out.perLayer("sources.merge_task_ms") = (perBatch(Tracer.isMergeJob, _.taskMs), "ms")
      out.perLayer("sources.lookup_files_scanned") = (Stats.median(it.scans.map(_._1.toDouble).toSeq), "count")
      out.perLayer("sources.lookup_rows_scanned") = (Stats.median(it.scans.map(_._2.toDouble).toSeq), "count")
      val (on, off) = it.unitMs.partition(_._1)
      out.notes("backlog_overhead") =
        Stats.median(on.map(_._2).toSeq) / math.max(1e-9, Stats.median(off.map(_._2).toSeq))
      out.notes("apply_job_sites") = applyJobs.flatten.groupBy(_.site).map { case (s, js) => s -> js.size }
    }
    changes
  }

  /** The reads after a commit. With `batch` set, every result is checked
    * against the generator's state after that batch.
    */
  private def reads(p: Prepared, batch: Option[Int], lookupKeys: Seq[Long], out: Outcome,
      it: Iter): Unit = {
    val info = batch.map(p.batches)
    val v = timed("sources.latest", out)(TxTable.latest(p.table).get.version)._1.getOrElse(return)
    lookupKeys.foreach { k =>
      val (res, ms) = timed("sources.point_lookup", out) {
        val df = TxTable.readPointLookupLong(spark, p.table, Tables.Pk, k)
        (df.collect().toSeq, df)
      }
      res.foreach { case (rows, df) =>
        it.lookup += ms
        info.foreach(b => out.check("lookup_equals_model", rows == b.lookups(k).toSeq,
          s"key $k at batch ${batch.get}: $rows vs ${b.lookups(k)}"))
        if (ctx.traced && ctx.tracer.on) it.scans += Tables.scanMetrics(df)
      }
    }
    val (lo, hi) = info.map(_.range).getOrElse((1L, RangeKeys.toLong))
    timed("sources.read_pruned", out)(TxTable.readPruned(spark, p.table, Tables.Pk, lo, hi).count())
      ._1.foreach(n => info.foreach(b =>
        out.check("pruned_count", n == b.rangeLive, s"$n vs ${b.rangeLive}")))
    val (feed, feedMs) = timed("sources.change_feed", out) {
      TxTable.changeFeed(spark, p.table, v - 1, v, Seq(Tables.Pk)).count()
    }
    feed.foreach { n =>
      it.feed += feedMs
      info.foreach(b => out.check("feed_count", n == b.feedRows, s"$n vs ${b.feedRows}"))
    }
    val liveBefore = batch.map(i => if (i == 0) p.liveAfterTrickle else p.batches(i - 1).liveAfter)
    timed("sources.time_travel", out)(TxTable.read(spark, p.table, Some(v - 1)).count())
      ._1.foreach(n => liveBefore.foreach(l =>
        out.check("time_travel_count", n == l, s"$n vs $l")))
    // the log applied so far: the delivered change files and the batches
    val batchDirs = batch.toSeq.flatMap(i => (0 to i).map(j => s"${p.dir}/batches/batch_no=$j"))
    val log = spark.read.schema(Gen.LogSchema).parquet(p.log +: batchDirs: _*)
    val expected = batch.map(i => NFiles.toLong * PerFile + (i + 1).toLong * BatchSize)
    timed("monitor.health_report", out)(CdcMonitor.healthReportRow(log))._1.foreach { h =>
      val total = h("total_changes").asInstanceOf[Long]
      it.logRows += total
      expected.foreach(e => out.check("health_totals", total == e, s"$total vs $e"))
    }
  }

  private def dur(pr: StreamingQueryProgress, k: String): Double =
    Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
}

object Replica {
  /** What the generator knows about one backlog batch. */
  final case class BatchInfo(changes: Int, keys: Int, feedRows: Long,
      liveAfter: Long, range: (Long, Long), rangeLive: Long,
      lookups: Map[Long, Option[Row]])

  /** Timings of the backlog iterations. */
  final class Iter {
    val apply = mutable.ArrayBuffer.empty[Double]
    val lookup = mutable.ArrayBuffer.empty[Double]
    val feed = mutable.ArrayBuffer.empty[Double]
    val scans = mutable.ArrayBuffer.empty[(Long, Long)]
    val unitMs = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val logRows = mutable.ArrayBuffer.empty[Long]
  }
}
