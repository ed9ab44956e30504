package graft

import graft.ext.Similarity
import graft.sources.TxTable
import graft.streaming.AnnIndexStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructType}
import java.nio.file.Files

/** Streaming IVF+PQ index maintenance: vectors streamed through
  * [[AnnIndexStream]] must serve identically to a one-shot index over
  * the same total corpus (streamed ≡ rebuild), a crashed epoch must
  * replay as a ledger skip WITHOUT duplicating code rows, and the
  * streamed commits must keep centroid_id manifest pruning intact.
  */
class AnnIndexStreamSpec extends SparkSpecBase {

  private lazy val s = spark
  import s.implicits._

  private val schema = new StructType()
    .add("vec_id", LongType, nullable = false)
    .add("embedding", ArrayType(DoubleType), nullable = true)

  private def emb = Fixtures.embeddings(s, "/root/testdata/sf0.001")
  private def cents = Similarity.collectCentroids(
    emb.filter(col("vec_id") % 61 === 0), "vec_id", "embedding")
  private def queries = emb.filter(col("vec_id") % 50 === 0)

  private def serve(idxPath: String) =
    Similarity.ivfPqTopK(Similarity.readIvfIndex(s, idxPath), queries,
        "vec_id", "embedding", cents, m = 4, k = 5, nprobe = 2)
      .orderBy("query_id", "rnk")

  test("streamed index growth serves identically to a one-shot rebuild") {
    val tmp = Files.createTempDirectory("annstream").toString
    val (srcDir, idx, chk) = (s"$tmp/src", s"$tmp/idx", s"$tmp/chk")

    // day 0 corpus seeds the index: an unstamped version (ledger mark
    // -1), so the stream's epochs from 0 all apply
    val day0 = emb.filter(col("vec_id") % 3 === 0)
    Similarity.writeIvfPqIndex(day0, "vec_id", "embedding", cents, m = 4, idx)

    // stream the remaining vectors as two file-batches
    val batch1 = emb.filter(col("vec_id") % 3 === 1)
    val batch2 = emb.filter(col("vec_id") % 3 === 2)
    Seq(batch1, batch2).foreach(
      _.select(col("vec_id"), col("embedding").cast("array<double>"))
        .coalesce(1).write.mode("append").parquet(srcDir))

    AnnIndexStream.drain(s, srcDir, schema, idx, chk,
      "vec_id", "embedding", cents, m = 4, maxFilesPerTrigger = 1)

    // streamed ≡ rebuild: a fresh one-shot index over the full corpus
    val rebuilt = s"$tmp/rebuilt"
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", cents, m = 4, rebuilt)
    assertSameRows(serve(idx), serve(rebuilt), "streamed index vs rebuild")

    // seed + one version per epoch, and the ledger holds the last epoch
    assert(TxTable.versions(idx) === Seq(0L, 1L, 2L))
    assert(TxTable.appliedEpoch(idx, None) === 1L)

    // the streamed commits must keep centroid_id manifest pruning
    val probed = Similarity.readIvfIndex(s, idx)
      .filter(col("centroid_id").isin(cents.take(2).map(_._1): _*))
    assert(assertManifestPruned(probed, idx, "centroid_id") ===
      cents.take(2).map(_._1).toSet)
  }

  test("replaying a crashed epoch rewrites its directories instead of duplicating codes") {
    val tmp = Files.createTempDirectory("annreplay").toString
    val idx = s"$tmp/idx"
    val day0 = emb.filter(col("vec_id") % 3 === 0)
    Similarity.writeIvfPqIndex(day0, "vec_id", "embedding", cents, m = 4, idx)
    val batch = emb.filter(col("vec_id") % 3 === 1)

    AnnIndexStream.applyVectorBatch(batch, 1L, "vec_id", "embedding",
      cents, m = 4, idx)
    val rows1 = Similarity.readIvfIndex(s, idx).count()
    val serve1 = serve(idx).collect().map(_.toSeq).toSeq
    val versions = TxTable.versions(idx)
    val skipped = TxTable.skippedCommitCount.get()

    // crash window: checkpoint never committed, epoch 1 re-runs
    AnnIndexStream.applyVectorBatch(batch, 1L, "vec_id", "embedding",
      cents, m = 4, idx)
    assert(TxTable.versions(idx) === versions, "a replay adds no version")
    assert(TxTable.skippedCommitCount.get() === skipped + 1, "the replay is a counted skip")
    assert(Similarity.readIvfIndex(s, idx).count() === rows1,
      "replayed epoch must not append duplicate code rows")
    assert(serve(idx).collect().map(_.toSeq).toSeq === serve1,
      "serving answers unchanged across replay")
  }

  test("epoch append fails fast on a codebook mismatch") {
    val tmp = Files.createTempDirectory("annmismatch").toString
    val idx = s"$tmp/idx"
    Similarity.writeIvfPqIndex(emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", cents, m = 4, idx)
    val wrongCents = cents.map { case (id, v) => (id, v.map(_ + 0.25)) }
    val e = intercept[IllegalArgumentException] {
      AnnIndexStream.applyVectorBatch(emb.filter(col("vec_id") % 3 === 1), 0L,
        "vec_id", "embedding", wrongCents, m = 4, idx)
    }
    assert(e.getMessage.contains("codebook"))
  }
}
