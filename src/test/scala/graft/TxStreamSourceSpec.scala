package graft

import graft.sources.TxTable
import graft.streaming.TxReplicaStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The true Structured Streaming source over the TxTable change feed:
  * version offsets in the checkpoint, bootstrap-as-inserts, per-version
  * feeds, and the managed replication loop ([[TxReplicaStream]]) that
  * supersedes the timer-driven [[TxTable.syncReplica]] — proven
  * equivalent to it, including crash replay and restart pickup.
  */
class TxStreamSourceSpec extends SparkSpecBase {

  private lazy val s = spark
  import s.implicits._

  private def newDir(tag: String): String =
    Files.createTempDirectory(tag).toString

  /** primary with a representative version history:
    * v0 overwrite (seed), v1 append, v2 merge (update + delete),
    * v3 append.
    */
  private def buildPrimary(): String = {
    val dir = newDir("txsrc-primary")
    TxTable.commit((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), dir,
      "overwrite", statsColumns = Seq("id"))
    TxTable.commit(Seq((11L, "v11"), (12L, "v12")).toDF("id", "v"), dir,
      "append", statsColumns = Seq("id"))
    TxTable.merge(s, dir, Seq(
      (3L, "V3", "UPDATE"),
      (7L, null.asInstanceOf[String], "DELETE")).toDF("id", "v", "operation"),
      Seq("id"))
    TxTable.commit(Seq((13L, "v13")).toDF("id", "v"), dir,
      "append", statsColumns = Seq("id"))
    dir
  }

  private def contents(dir: String): Map[Long, String] =
    TxTable.read(s, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("the CDF source resolves by SHORTNAME (round-10 service registration)") {
    val dir = buildPrimary()
    val q = s.readStream
      .format("txtable-cdf") // via META-INF/services, not the class name
      .option("path", dir).option("keys", "id")
      .load()
      .writeStream.format("memory").queryName("txsrc_short")
      .option("checkpointLocation", newDir("txsrc-short-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(s.table("txsrc_short").count() > 0,
      "shortname-resolved source must deliver the feed")
  }

  test("raw stream: bootstrap inserts, per-version change rows, version stamps") {
    val dir = buildPrimary()
    val rows = s.readStream
      .format("graft.streaming.TxTableChangeFeedProvider")
      .option("path", dir).option("keys", "id")
      .load()
    val q = rows.writeStream.format("memory").queryName("txsrc_raw")
      .option("checkpointLocation", newDir("txsrc-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = s.table("txsrc_raw")
      .select("id", "v", "change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val byVersion = got.groupBy(_._4)
    // v0: the full snapshot as inserts
    assert(byVersion(0L).map(_._1).toSet === (1L to 10L).toSet)
    assert(byVersion(0L).forall(_._3 == "insert"))
    // v1: the appended delta only
    assert(byVersion(1L).map(x => (x._1, x._3)).toSet
      === Set((11L, "insert"), (12L, "insert")))
    // v2: the merge's update and delete
    assert(byVersion(2L).map(x => (x._1, x._3)).toSet
      === Set((3L, "update"), (7L, "delete")))
    assert(byVersion(2L).collectFirst { case (3L, v, _, _) => v } === Some("V3"))
    // v3: the last append
    assert(byVersion(3L).map(x => (x._1, x._3)).toSet === Set((13L, "insert")))
  }

  test("streamed replication ≡ syncReplica, exactly-once across replays and restarts") {
    val primary = buildPrimary()
    val streamed = newDir("txsrc-replica")
    val ckpt = newDir("txsrc-ckpt2")
    TxReplicaStream.drain(s, primary, streamed, Seq("id"), ckpt)

    // ≡ a pull-based syncReplica replica
    val pulled = newDir("txsrc-pulled")
    TxTable.syncReplica(s, primary, pulled, Seq("id"))
    assert(contents(streamed) === contents(pulled))
    assert(contents(streamed) ===
      ((1L to 10L).filterNot(_ == 7L).map(i => i -> s"v$i")
        ++ Seq(11L -> "v11", 12L -> "v12", 13L -> "v13")).toMap
        + (3L -> "V3"))
    // one epoch-stamped replica version per applied primary version
    val epochs = TxTable.versions(streamed)
      .map(TxTable.snapshot(streamed, _)).flatMap(_.epoch)
    assert(epochs === Seq(0L, 1L, 2L, 3L))

    // replay: a second drain against the same checkpoint applies nothing
    val before = TxTable.versions(streamed)
    TxReplicaStream.drain(s, primary, streamed, Seq("id"), ckpt)
    assert(TxTable.versions(streamed) === before, "replay must be a no-op")

    // restart pickup: new primary commits flow through the SAME checkpoint
    TxTable.merge(s, primary, Seq((11L, "V11", "UPDATE"))
      .toDF("id", "v", "operation"), Seq("id"))
    TxReplicaStream.drain(s, primary, streamed, Seq("id"), ckpt)
    assert(contents(streamed) === contents(primary))
    assert(TxTable.versions(streamed).size === before.size + 1,
      "exactly the new version applied")
  }

  test("crash replay mid-batch: already-applied versions are skipped by epoch") {
    val primary = buildPrimary()
    val replica = newDir("txsrc-crash")
    // simulate a sink crash AFTER v0..v2 were applied but BEFORE the
    // batch's offset committed: the whole 4-version batch replays
    val batchAll = (0L to 3L).map { v =>
      if (v == 0L)
        TxTable.read(s, primary, Some(0L))
          .withColumn("change_type", lit("insert"))
          .withColumn("_commit_version", lit(0L))
      else
        TxTable.changeFeed(s, primary, v - 1, v, Seq("id"))
          .withColumn("_commit_version", lit(v))
    }.reduce(_.unionByName(_))
    val firstThree = batchAll.filter(col("_commit_version") <= 2L)
    TxReplicaStream.applyFeedBatch(firstThree, replica, Seq("id")) // "crash" here
    val midVersions = TxTable.versions(replica)
    TxReplicaStream.applyFeedBatch(batchAll, replica, Seq("id"))   // full replay
    assert(TxTable.versions(replica).size === midVersions.size + 1,
      "replay must apply only the missing version")
    assert(contents(replica) === contents(primary))
  }

  test("replica vacuum + driver restart: a replayed batch re-applies nothing") {
    val primary = newDir("txsrc-vacprim")
    TxTable.commit((1L to 5L).map(i => (i, s"v$i")).toDF("id", "v"), primary,
      "overwrite", statsColumns = Seq("id"))                            // v0
    Seq("a", "b").foreach { x =>                                        // v1, v2
      TxTable.merge(s, primary, Seq((3L, x, "UPDATE"))
        .toDF("id", "v", "operation"), Seq("id"))
      ()
    }
    TxTable.merge(s, primary, Seq((3L, "c", "UPDATE"), (9L, "n", "INSERT"))
      .toDF("id", "v", "operation"), Seq("id"))                         // v3
    val batchAll = (0L to 3L).map { v =>
      if (v == 0L)
        TxTable.read(s, primary, Some(0L))
          .withColumn("change_type", lit("insert"))
          .withColumn("_commit_version", lit(0L))
      else
        TxTable.changeFeed(s, primary, v - 1, v, Seq("id"))
          .withColumn("_commit_version", lit(v))
    }.reduce(_.unionByName(_))
    val replica = newDir("txsrc-vacrepl")
    TxReplicaStream.applyFeedBatch(batchAll, replica, Seq("id"))
    assert(contents(replica) === contents(primary))
    TxTable.vacuum(replica, keepVersions = 1, orphanGraceMs = 0L)
    // the restarted driver finds the vacuumed replica at a new path
    val restarted = copyTableDir(replica)
    val before = TxTable.versions(restarted)
    TxReplicaStream.applyFeedBatch(batchAll, restarted, Seq("id")) // replay
    assert(TxTable.versions(restarted) === before, "replay must be a no-op")
    assert(contents(restarted) === contents(primary))
  }

  test("schema evolution mid-stream fails the batch with a restart instruction") {
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val dir = newDir("txsrc-evolve")
    TxTable.commit(Seq((1L, "a")).toDF("id", "v"), dir, "overwrite")
    // the source pins the schema at creation (stream start)
    val src = new graft.streaming.TxTableChangeFeedSource(s, dir, Seq("id"), 0L)
    // additive evolution lands on the primary mid-stream
    TxTable.commit(Seq((2L, "b", 9L)).toDF("id", "v", "extra"), dir, "append")
    assert(src.getOffset === Some(LongOffset(1L)))
    val err = intercept[IllegalStateException] {
      src.getBatch(Some(LongOffset(0L)), LongOffset(1L)).collect()
    }
    assert(err.getMessage.contains("restart the stream"),
      s"expected the evolved-schema error, got: ${err.getMessage}")
    // and a vacuumed diff base names the retention contract
    val dir2 = newDir("txsrc-vacuumed")
    TxTable.commit(Seq((1L, "a")).toDF("id", "v"), dir2, "overwrite")
    val src2 = new graft.streaming.TxTableChangeFeedSource(s, dir2, Seq("id"), 0L)
    TxTable.commit(Seq((2L, "b")).toDF("id", "v"), dir2, "append")
    TxTable.commit(Seq((3L, "c")).toDF("id", "v"), dir2, "append")
    TxTable.vacuum(dir2, keepVersions = 1, orphanGraceMs = 0L)
    val err2 = intercept[IllegalStateException] {
      src2.getBatch(Some(LongOffset(0L)), LongOffset(2L)).collect()
    }
    assert(err2.getMessage.contains("vacuumed away"),
      s"expected the retention error, got: ${err2.getMessage}")
  }

  test("maxVersionsPerTrigger: bounded catch-up batches, exactly-once, monotone floor") {
    val primary = buildPrimary() // versions 0..3
    val ckpt = newDir("txsrc-throttle-ckpt")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]()
    def runThrottled(): Unit = {
      val q = s.readStream
        .format("graft.streaming.TxTableChangeFeedProvider")
        .option("path", primary).option("keys", "id")
        .option("maxVersionsPerTrigger", "2")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val vs = batch.select("_commit_version").distinct()
            .collect().map(_.getLong(0)).sorted.toSeq
          seen.add(id -> vs); ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runThrottled()
    import scala.jdk.CollectionConverters._
    val collected = seen.iterator().asScala.toSeq
    // every micro-batch carries at most 2 versions; the union covers
    // 0..3 with no version delivered twice
    assert(collected.forall(_._2.size <= 2),
      s"throttle violated: ${collected.mkString(", ")}")
    val delivered = collected.flatMap(_._2)
    assert(delivered.sorted === Seq(0L, 1L, 2L, 3L),
      s"catch-up must deliver every version exactly once: $delivered")
    // the persisted floor is the checkpoint metadata's delivered mark
    val wm = java.nio.file.Paths.get(ckpt, "sources", "0", "graft-delivered")
    assert(java.nio.file.Files.exists(wm) &&
      java.nio.file.Files.readString(wm).trim.toLong === 3L)
    // restart against the same checkpoint: nothing re-delivered, and a
    // new primary commit flows through still throttled
    seen.clear()
    TxTable.commit(Seq((99L, "v99")).toDF("id", "v"), primary, "append",
      statsColumns = Seq("id"))
    runThrottled()
    val after = seen.iterator().asScala.toSeq
    assert(after.flatMap(_._2) === Seq(4L),
      s"restart must deliver only the new version: $after")
  }

  test("streamed materialized view ≡ recompute, exactly-once across replays") {
    // primary keyed by id, grouped by g: values chosen so every change
    // kind moves some group aggregate
    val primary = newDir("txview-primary")
    TxTable.commit(
      (1L to 10L).map(i => (i, s"g${i % 3}", java.math.BigDecimal.valueOf(i * 100L, 2)))
        .toDF("id", "g", "amount"), primary, "overwrite", statsColumns = Seq("id"))
    TxTable.commit(
      Seq((11L, "g0", java.math.BigDecimal.valueOf(5000L, 2))).toDF("id", "g", "amount"),
      primary, "append", statsColumns = Seq("id"))
    TxTable.merge(s, primary, Seq(
      (3L, "g0", java.math.BigDecimal.valueOf(999L, 2), "UPDATE"),   // moves 3 from g0->g0 with new amount
      (7L, null.asInstanceOf[String], null.asInstanceOf[java.math.BigDecimal], "DELETE"))
      .toDF("id", "g", "amount", "operation"), Seq("id"))

    val viewDir = newDir("txview-view")
    val ckpt = newDir("txview-ckpt")
    graft.streaming.TxViewStream.drain(
      s, primary, viewDir, Seq("id"), "g", "amount", ckpt)

    def recompute = graft.apply.IncrementalAgg
      .snapshotAgg(TxTable.read(s, primary), "g", "amount")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    def viewNow = TxTable.read(s, viewDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    assert(viewNow === recompute, "streamed view must equal the recompute")
    // one epoch-stamped refresh per primary version
    assert(TxTable.versions(viewDir).map(TxTable.snapshot(viewDir, _))
      .flatMap(_.epoch) === Seq(0L, 1L, 2L))

    // replay: a second drain against the same checkpoint refreshes nothing
    val before = TxTable.versions(viewDir)
    graft.streaming.TxViewStream.drain(
      s, primary, viewDir, Seq("id"), "g", "amount", ckpt)
    assert(TxTable.versions(viewDir) === before, "replay must be a no-op")

    // a new primary commit flows through the SAME checkpoint and the
    // view still matches a recompute — deleting ALL of g2 (ids 2, 5, 8)
    // exercises maintain's cnt>0 group-removal path end to end
    TxTable.merge(s, primary,
      Seq(2L, 5L, 8L).map(i =>
        (i, null.asInstanceOf[String], null.asInstanceOf[java.math.BigDecimal], "DELETE"))
        .toDF("id", "g", "amount", "operation"), Seq("id"))
    graft.streaming.TxViewStream.drain(
      s, primary, viewDir, Seq("id"), "g", "amount", ckpt)
    assert(viewNow === recompute, "post-delete refresh must equal the recompute")
    assert(!viewNow.exists(_._1 == "g2"),
      "a fully-emptied group must vanish from the streamed view")
    assert(TxTable.versions(viewDir).size === before.size + 1)
    // the view is itself a TxTable: refreshes are time-travelable
    val v0 = TxTable.read(s, viewDir, Some(0L))
      .agg(sum(col("cnt"))).collect()(0).getLong(0)
    assert(v0 === 10L, "refresh 0 pins the v0 snapshot aggregate")
  }

  test("streamed view crash replay: already-refreshed versions are skipped by epoch") {
    val primary = newDir("txview2-primary")
    TxTable.commit(Seq((1L, "a", java.math.BigDecimal.valueOf(100L, 2)))
      .toDF("id", "g", "amount"), primary, "overwrite")
    TxTable.commit(Seq((2L, "a", java.math.BigDecimal.valueOf(200L, 2)))
      .toDF("id", "g", "amount"), primary, "append")
    val viewDir = newDir("txview2-view")
    // simulate a crash that applied v0 but lost the checkpoint: the view
    // table already carries epoch 0
    graft.streaming.TxViewStream.applyViewBatch(
      s.range(1).select(lit(0L).as("_commit_version")),
      primary, viewDir, Seq("id"), "g", "amount")
    assert(TxTable.versions(viewDir).size === 1)
    // a fresh drain (new checkpoint = full replay) must re-apply ONLY v1
    graft.streaming.TxViewStream.drain(
      s, primary, viewDir, Seq("id"), "g", "amount", newDir("txview2-ckpt"))
    val rows = TxTable.read(s, viewDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
    assert(rows.toSeq === Seq(("a", 2L,
      new java.math.BigDecimal("3.0000"))))
    assert(TxTable.versions(viewDir).map(TxTable.snapshot(viewDir, _))
      .flatMap(_.epoch) === Seq(0L, 1L))
  }
}
