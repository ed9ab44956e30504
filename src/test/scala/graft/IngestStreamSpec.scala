package graft

import graft.ext.Dedup
import graft.sources.TxTable
import graft.streaming.IngestStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import java.nio.file.Files

/** End-to-end streaming corpus ingestion: batches with intra-batch dups,
  * dups of landed content, and fresh docs flow through
  * [[IngestStream]]; the curated corpus, quarantine report, and grown
  * signature index must come out exactly as the batch operators predict,
  * and a crashed epoch must replay as ledger skips without changing any
  * answer.
  */
class IngestStreamSpec extends SparkSpecBase {

  private lazy val s = spark
  import s.implicits._

  private val schema = new StructType()
    .add("doc_id", LongType, nullable = false)
    .add("text", StringType, nullable = true)

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  // distinct filler texts far apart in jaccard space
  private def filler(i: Int): String =
    Seq.tabulate(8)(j => s"tok${i}_$j").mkString(" ")

  test("streamed ingest: dedup vs landed corpus, quarantine report, index growth") {
    val tmp = Files.createTempDirectory("ingest").toString
    val (srcDir, idx, corpusDir, reportDir, chk) =
      (s"$tmp/src", s"$tmp/idx", s"$tmp/corpus", s"$tmp/report", s"$tmp/chk")

    // landed corpus day 0: two docs
    val day0 = docs(1L -> filler(1), 2L -> filler(2))
    Dedup.writeSignatureIndex(day0, "text", "doc_id", idx)

    // batch A: 10 dups doc 1 (quarantine), 11 & 12 intra-batch dups of
    // each other (12 dropped, 11 survives), 13 fresh
    val batchA = docs(
      10L -> filler(1),     // near-dup of landed doc 1
      11L -> filler(11),    // fresh — and 12 duplicates it
      12L -> filler(11),
      13L -> filler(13))
    // batch B: 20 dups batch A's SURVIVOR 11 (so the appended index must
    // already contain it), 21 fresh
    val batchB = docs(20L -> filler(11), 21L -> filler(21))

    // commit the batches as mtime-ordered single files (same technique as
    // CdcStreamSpec: the history/index contracts want batches in order)
    Seq(batchA, batchB).zipWithIndex.foreach { case (b, i) =>
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

    IngestStream.drain(s, srcDir, schema, idx, corpusDir, reportDir, chk,
      "text", "doc_id", threshold = 0.8, maxFilesPerTrigger = 1)

    // curated corpus = the survivors, exactly
    val corpus = TxTable.read(s, corpusDir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(corpus === Set(11L, 13L, 21L))

    // quarantine report names each drop and what it duplicated
    val report = TxTable.read(s, reportDir)
      .select(col("new_id"), col("dup_of"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(report === Set((10L, 1L), (20L, 11L)))

    // one version per epoch on every table; the index on top of its seed
    Seq(corpusDir, reportDir).foreach { d =>
      assert(TxTable.versions(d) === Seq(0L, 1L), d)
      assert(TxTable.appliedEpoch(d, None) === 1L, d)
    }
    Seq("buckets", "shingles").foreach { t =>
      assert(TxTable.versions(s"$idx/$t") === Seq(0L, 1L, 2L), t)
      assert(TxTable.appliedEpoch(s"$idx/$t", None) === 1L, t)
    }

    // grown index ≡ one-shot rebuild over landed + survivors: a probe
    // batch duplicating every landed doc answers identically through both
    val rebuilt = s"$tmp/rebuilt"
    Dedup.writeSignatureIndex(
      day0.unionByName(docs(11L -> filler(11), 13L -> filler(13), 21L -> filler(21))),
      "text", "doc_id", rebuilt)
    val probe = docs(100L -> filler(1), 101L -> filler(11),
      102L -> filler(13), 103L -> filler(21), 104L -> filler(99))
    val viaStream = Dedup.dedupAgainstIndex(probe, "text", "doc_id", idx,
      threshold = 0.8)
    val viaRebuild = Dedup.dedupAgainstIndex(probe, "text", "doc_id", rebuilt,
      threshold = 0.8)
    assertSameRows(viaStream, viaRebuild, "streamed-grown index vs rebuild")
  }

  test("replaying a crashed ingest epoch changes no answer") {
    val tmp = Files.createTempDirectory("ingestcrash").toString
    val (idx, corpusDir, reportDir) = (s"$tmp/idx", s"$tmp/corpus", s"$tmp/report")
    Dedup.writeSignatureIndex(docs(1L -> filler(1)), "text", "doc_id", idx)

    val batch = docs(10L -> filler(1), 11L -> filler(11))
    def run(): Unit = IngestStream.applyIngestBatch(batch, 0L, idx,
      corpusDir, reportDir, "text", "doc_id", threshold = 0.8)
    def rows(dir: String) = TxTable.read(s, dir).collect().map(_.toSeq).toSet
    val tables = Seq(corpusDir, reportDir, s"$idx/buckets", s"$idx/shingles")
    run()
    val clean = tables.map(rows)
    val versions = tables.map(TxTable.versions)
    val (corpus1, report1) = (clean(0), clean(1))

    // crash window: checkpoint never committed, epoch 0 re-runs — every
    // table's ledger already holds it, so every commit is a counted skip
    val skipped = TxTable.skippedCommitCount.get()
    run()
    assert(tables.map(TxTable.versions) === versions, "a replay adds no version")
    assert(TxTable.skippedCommitCount.get() === skipped + tables.size)
    val corpus2 = rows(corpusDir)
    val report2 = rows(reportDir)
    assert(corpus2 === corpus1, "corpus is exactly-once per epoch")
    assert(report2 === report1, "report is exactly-once per epoch")
    assert(report1.map(r => (r(0), r(1))) === Set((10L, 1L)))

    // crash before the corpus and report CAS: their epoch-0 manifests
    // never published, the index's did. The replay probes an index that
    // already holds the epoch's survivors and must still land the clean
    // answer, without touching the index
    Seq(corpusDir, reportDir).foreach(d =>
      Files.delete(java.nio.file.Paths.get(d, "_txlog", "v0.manifest")))
    run()
    assert(tables.map(rows) === clean, "a partial-commit replay changes no table")
    assert(tables.drop(2).map(TxTable.versions) === versions.drop(2),
      "the index gains no version")

    // the replayed index answers every probe as the clean run's
    val probe = docs(100L -> filler(1), 101L -> filler(11), 102L -> filler(5))
    val got = Dedup.dedupAgainstIndex(probe, "text", "doc_id", idx, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((100L, 1L), (101L, 11L)))
  }
}
