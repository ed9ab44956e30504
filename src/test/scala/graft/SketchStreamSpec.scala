package graft

import graft.ext.Sketches
import graft.sources.TxTable
import graft.streaming.SketchStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import java.nio.file.Files

/** Streaming count-min maintenance: the merged per-epoch sketch must
  * equal the one-shot batch sketch over the total stream bit-for-bit
  * (additive cells + fixed hash family), a crashed epoch must replay as
  * a ledger skip without double counting, state must stay d×w-bounded,
  * and estimates must never undercount.
  */
class SketchStreamSpec extends SparkSpecBase {

  private lazy val s = spark
  import s.implicits._

  private val D = 4
  private val W = 64

  private val schema = new StructType()
    .add("k", StringType, nullable = true)
    .add("seq", LongType, nullable = false)

  // skewed keys: "hot" dominates, a tail of cold keys collides freely in
  // the narrow 64-cell rows
  private def batch(tag: Int, hot: Int, tail: Int): DataFrame = {
    val rows = Seq.fill(hot)("hot") ++ (0 until tail).map(i => s"k${tag}_$i")
    rows.zipWithIndex.map { case (k, i) => (k, tag * 1000L + i) }.toDF("k", "seq")
  }

  test("streamed sketch == batch sketch; crashed epoch replays idempotently") {
    val tmp = Files.createTempDirectory("sketch").toString
    val (srcDir, sketchDir, chk) = (s"$tmp/src", s"$tmp/cms", s"$tmp/chk")

    val batches = Seq(batch(1, 20, 15), batch(2, 30, 10), batch(3, 5, 25))
    batches.zipWithIndex.foreach { case (b, i) =>
      b.coalesce(1).write.mode("append").parquet(srcDir)
      val it = Files.list(java.nio.file.Paths.get(srcDir))
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-"))
          .filter(p => Files.getLastModifiedTime(p).toMillis > 5000L)
          .foreach(p => Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(1000L * (i + 1))))
      } finally it.close()
    }

    SketchStream.drain(s, srcDir, schema, sketchDir, chk, col("k"), D, W,
      maxFilesPerTrigger = 1)

    val streamed = SketchStream.readTable(s, sketchDir, D, W)
    val all = batches.reduce(_ unionByName _)
    val oneShot = Sketches.countMinTable(all, col("k"), D, W)
    assert(streamed.toSeq === oneShot.toSeq, "streamed table != one-shot batch table")
    assert(streamed.length === D * W)

    // crashed-epoch replay: re-apply an epoch's batch under its ORIGINAL
    // epoch id — the table's ledger must skip it, leaving the table and
    // its versions unchanged
    val versions = TxTable.versions(sketchDir)
    val epochIds = versions.map(TxTable.snapshot(sketchDir, _).epoch.get)
    assert(epochIds === Seq(0L, 1L, 2L), s"expected one version per epoch, got $epochIds")
    val skipped = TxTable.skippedCommitCount.get()
    SketchStream.applySketchBatch(batches(1), epochIds(1), sketchDir, col("k"), D, W)
    assert(TxTable.versions(sketchDir) === versions, "a replay must add no version")
    assert(TxTable.skippedCommitCount.get() === skipped + 1, "the replay is a counted skip")
    assert(SketchStream.readTable(s, sketchDir, D, W).toSeq === oneShot.toSeq,
      "replayed epoch changed the merged table")

    // estimates never undercount the true frequency
    val trueCounts = all.groupBy("k").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val est = all.select(col("k"),
        Sketches.countMinEstimate(streamed.toSeq, col("k"), D, W).as("e"))
      .distinct().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    trueCounts.foreach { case (k, n) =>
      assert(est(k) >= n, s"estimate for $k undercounts: ${est(k)} < $n")
    }
    // the hot key's estimate is exact-or-inflated, and dominates the tail
    val hotTrue = trueCounts.find(_._1 == "hot").get._2
    assert(hotTrue === 55L && est("hot") >= 55L)
  }

  test("state stays d*w-bounded regardless of key cardinality") {
    val tmp = Files.createTempDirectory("sketchb").toString
    val wide = (0 until 5000).map(i => (s"u$i", i.toLong)).toDF("k", "seq")
    SketchStream.applySketchBatch(wide, 0L, s"$tmp/cms", col("k"), D, W)
    val rows = TxTable.read(s, s"$tmp/cms").count()
    assert(rows <= D * W, s"epoch state $rows rows exceeds d*w = ${D * W}")
    assert(SketchStream.readTable(s, s"$tmp/cms", D, W).sum === 5000L * D)
  }
}
