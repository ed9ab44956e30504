package graft

import graft.sources.TxTable
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Randomized N-writer × M-commit serialization stress (round-11
  * directive #3): many concurrent writers issue sequential merge batches
  * (a MoR/CoW mix) over disjoint key slices while a maintenance thread
  * races folds and small-file compactions against them, and EVERY
  * committed version is then checked to be a legal serial history —
  * either value-neutral maintenance or exactly one writer advancing by
  * exactly its next batch, with per-writer progress monotone and the
  * final state equal to every writer fully applied. This is the
  * scaled-up form of the 2-writer races in `CommitArbiterSpec`/
  * `TxMorSpec`, matching the reference's "capture is transactional with
  * the DML" guarantee (reference: cdc_system.py:143-197) under real
  * contention.
  *
  * Determinism: per-writer seeded RNGs fix WHAT each writer does; the
  * OS scheduler picks the interleaving — the assertions quantify over
  * every interleaving, so the test is order-insensitive by design.
  */
class TxConcurrencySpec extends SparkSpecBase {

  private lazy val s = spark
  import s.implicits._

  private val nWriters = 8
  private val nBatches = 4 // 32 writer commits total
  private val sliceSize = 40

  /** One writer's batch j: a deterministic op set over its OWN slice,
    * each key touched by at most one batch (update/delete partition the
    * shuffled slice; inserts mint fresh negative keys), so prefix states
    * compose by simple map union regardless of in-batch order.
    */
  private final case class Batch(
      updates: Seq[(Long, String)], deletes: Seq[Long],
      inserts: Seq[(Long, String)])

  private def plan(w: Int): Seq[Batch] = {
    val rng = new scala.util.Random(42 + w)
    val slice = (w * sliceSize until (w + 1) * sliceSize).map(_.toLong)
    val shuffled = rng.shuffle(slice)
    val perBatch = sliceSize / nBatches
    (0 until nBatches).map { j =>
      val mine = shuffled.slice(j * perBatch, (j + 1) * perBatch)
      val (del, upd) = mine.splitAt(2) // 2 deletes, rest updates
      Batch(
        updates = upd.map(k => k -> s"w$w-b$j-k$k"),
        deletes = del,
        inserts = (0 until 3).map(i =>
          (-(w * 1000L + j * 100L + i + 1)) -> s"w$w-b$j-new$i"))
    }
  }

  /** Writer w's cumulative expected state after its first `j` batches,
    * restricted to its own key universe.
    */
  private def prefixState(w: Int, j: Int): Map[Long, String] = {
    val seed = (w * sliceSize until (w + 1) * sliceSize)
      .map(k => k.toLong -> s"v$k").toMap
    plan(w).take(j).foldLeft(seed) { (st, b) =>
      (st ++ b.updates ++ b.inserts) -- b.deletes
    }
  }

  /** The key universe version snapshots are classified against, per
    * writer: its seed slice plus every key it will ever insert.
    */
  private def universe(w: Int): Set[Long] =
    (w * sliceSize until (w + 1) * sliceSize).map(_.toLong).toSet ++
      plan(w).flatMap(_.inserts.map(_._1))

  test("randomized writer storm + racing maintenance: every version is a legal serial history") {
    val dir = Files.createTempDirectory("txstorm").toString
    val nKeys = nWriters * sliceSize
    TxTable.commit(
      s.range(0, nKeys).select(col("id"),
        concat(lit("v"), col("id")).as("v"))
        .repartitionByRange(4, col("id")).sortWithinPartitions(col("id")),
      dir, "overwrite", statsColumns = Seq("id"))

    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (0 until nWriters).map { w =>
      new Thread(() => {
        try plan(w).foreach { b =>
          val rows =
            b.updates.map { case (k, v) => (k, v, "UPDATE") } ++
              b.deletes.map(k => (k, null.asInstanceOf[String], "DELETE")) ++
              b.inserts.map { case (k, v) => (k, v, "INSERT") }
          TxTable.merge(s, dir, rows.toDF("id", "v", "operation"),
            Seq("id"), maxRetries = 500,
            writeMode = if (w % 2 == 0) "mor" else "cow")
          ()
        } catch { case t: Throwable => failures.add(t); () }
      })
    }
    val writersDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val maintenance = new Thread(() => {
      val rng = new scala.util.Random(7)
      try while (!writersDone.get()) {
        Thread.sleep(150)
        if (rng.nextBoolean()) TxTable.foldDvs(s, dir, maxRetries = 500)
        else TxTable.compactSmallFiles(s, dir, minBytes = 64 * 1024,
          targetFiles = 2, maxRetries = 500)
        ()
      } catch { case t: Throwable => failures.add(t); () }
    })
    maintenance.start()
    writers.foreach(_.start())
    writers.foreach(_.join())
    writersDone.set(true)
    maintenance.join()
    assert(failures.isEmpty,
      s"no thread may die: ${failures.toArray.mkString("; ")}")

    // --- the linearization check -------------------------------------
    val versions = TxTable.versions(dir)
    assert(versions === (0L until versions.size).toSeq.map(identity),
      "versions must be a contiguous CAS chain")
    val maintOps = Set("fold", "compact-small")
    def state(v: Long): Map[Long, String] =
      TxTable.read(s, dir, Some(v)).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap

    var prev = state(0L)
    val progress = Array.fill(nWriters)(0) // batches applied per writer
    versions.drop(1).foreach { v =>
      val cur = state(v)
      val op = TxTable.snapshot(dir, v).op
      if (cur == prev) {
        // value-neutral: must be a maintenance commit, never a writer's
        assert(maintOps(op), s"v$v changed nothing but has op '$op'")
      } else {
        assert(op === "merge", s"v$v changed values under op '$op' — " +
          "only writer merges may move state")
        // exactly one writer advanced by exactly its next batch
        val changedWriters = (0 until nWriters).filter { w =>
          val u = universe(w)
          cur.view.filterKeys(u).toMap != prev.view.filterKeys(u).toMap
        }
        assert(changedWriters.size === 1,
          s"v$v must advance exactly one writer, got $changedWriters")
        val w = changedWriters.head
        val u = universe(w)
        val got = cur.view.filterKeys(u).toMap
        val expectedNext = prefixState(w, progress(w) + 1)
        assert(got === expectedNext,
          s"v$v: writer $w must advance to its next prefix " +
            s"(batch ${progress(w) + 1})")
        progress(w) += 1
        // and nobody else moved
        (0 until nWriters).filterNot(_ == w).foreach { o =>
          val uo = universe(o)
          assert(cur.view.filterKeys(uo).toMap ===
            prev.view.filterKeys(uo).toMap, s"v$v leaked into writer $o")
        }
      }
      prev = cur
    }
    assert(progress.toSeq === Seq.fill(nWriters)(nBatches),
      "every writer must land every batch exactly once")
    // final state = all writers fully applied
    val want = (0 until nWriters).map(prefixState(_, nBatches))
      .reduce(_ ++ _)
    assert(prev === want, "final state must equal the full serial result")
    // and a terminal fold is value-neutral on top of whatever DVs remain
    TxTable.foldDvs(s, dir)
    assert(state(TxTable.versions(dir).last) === want)
  }

  test("two stamped writers racing the CAS: the latest ledger holds both streams' last epochs") {
    val dir = Files.createTempDirectory("txledgerrace").toString
    TxTable.commit(s.range(0, 40).select(col("id"), concat(lit("v"), col("id")).as("v")),
      dir, "overwrite", statsColumns = Seq("id"))
    val epochs = 1L to 4L
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = Seq("a", "b").zipWithIndex.map { case (stream, w) =>
      new Thread(() => {
        try epochs.foreach { e =>
          // each writer touches its own key, so every batch is a real change
          TxTable.merge(s, dir,
            Seq((w.toLong, s"$stream$e", "UPDATE")).toDF("id", "v", "operation"),
            Seq("id"), maxRetries = 500, epochId = Some(e * 10 + w),
            streamId = Some(stream))
          ()
        } catch { case t: Throwable => failures.add(t); () }
      })
    }
    writers.foreach(_.start())
    writers.foreach(_.join())
    assert(failures.isEmpty, s"no writer may die: ${failures.toArray.mkString("; ")}")
    assert(TxTable.versions(dir).size === 1 + 2 * epochs.size,
      "every stamped merge is its own version")
    val last = TxTable.latest(dir).get
    assert(last.txns === Map("a" -> 40L, "b" -> 41L),
      "a lost CAS re-derives from the winner's manifest and keeps its stamp")
    assert(TxTable.appliedEpoch(dir, Some("a")) === 40L)
    assert(TxTable.appliedEpoch(dir, Some("b")) === 41L)
  }

  test("two appliers of one streaming epoch commit it once: the CAS loser skips") {
    val dir = Files.createTempDirectory("txstreamrace").toString
    TxTable.commit(s.range(0, 10).toDF("id"), dir, "overwrite")
    // the first two publishes wait for each other, so both appliers pass
    // the pre-write ledger check and compose against the same base
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
    val skipped = TxTable.skippedCommitCount.get()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val appliers = (0 until 2).map(_ => Future(
      TxTable.commitStreaming(s.range(100, 105).toDF("id"), dir, 0L, arbiter = arbiter)))
    val got = appliers.map(Await.result(_, 5.minutes))
    assert(TxTable.versions(dir) === Seq(0L, 1L), "the epoch must commit exactly one version")
    assert(got === Seq(1L, 1L), "both appliers answer the version that stamped the epoch")
    assert(TxTable.read(s, dir).count() === 15L, "the batch's rows land once")
    assert(TxTable.skippedCommitCount.get() === skipped + 1, "the CAS loser counts one skip")
  }
}
