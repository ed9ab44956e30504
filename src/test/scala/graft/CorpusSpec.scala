package graft

import graft.ext.Corpus
import org.apache.spark.sql.functions._

/** Golden checks for the corpus-level pipeline operators. */
class CorpusSpec extends SparkSpecBase {

  private lazy val s = spark
  import s.implicits._

  test("tokenFrequencies counts lowercase tokens with deterministic ties") {
    val df = Seq((1L, "a b a"), (2L, "B c"), (3L, "")).toDF("id", "text")
    val top = Corpus.tokenFrequencies(df, "text", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top === Seq(("a", 2L), ("b", 2L), ("c", 1L)))
  }

  test("sampleByHash is deterministic and respects the permille bounds") {
    val df = s.range(0, 1000).toDF("doc_id")
    val once = Corpus.sampleByHash(df, "doc_id", 200, "s").collect().map(_.getLong(0)).toSet
    val twice = Corpus.sampleByHash(df, "doc_id", 200, "s").collect().map(_.getLong(0)).toSet
    assert(once === twice)
    assert(once.nonEmpty && once.size < 1000)
    // a hash sample of an md5-derived uniform value: ~20% ± a loose band
    assert(once.size > 100 && once.size < 300)
    assert(Corpus.sampleByHash(df, "doc_id", 0, "s").count() === 0)
    assert(Corpus.sampleByHash(df, "doc_id", 1000, "s").count() === 1000)
    // different salt → different split
    val other = Corpus.sampleByHash(df, "doc_id", 200, "t").collect().map(_.getLong(0)).toSet
    assert(other !== once)
  }

  test("chunkDocuments: stride-aligned overlap, full coverage, short tail, empty drops") {
    val df = Seq(
      (1L, "abcdefghij"),      // len 10: starts 1,5,9 at stride 4 → chunks of 6,6,2
      (2L, "xyz"),             // len 3: one short chunk
      (3L, ""),                // empty → no chunks
      (4L, null.asInstanceOf[String])) // null → no chunks
      .toDF("doc_id", "text")
    val out = Corpus.chunkDocuments(df, "doc_id", "text", chunkLen = 6, stride = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(out === Seq(
      (1L, 0L, 1L, "abcdef"),
      (1L, 1L, 5L, "efghij"),
      (1L, 2L, 9L, "ij"),
      (2L, 0L, 1L, "xyz")))
    // adjacent chunks overlap by chunkLen - stride and jointly cover the text
    val doc1 = out.filter(_._1 == 1L).map(_._4)
    assert(doc1.sliding(2).forall { case Seq(a, b) => a.takeRight(2) == b.take(2) })
    // no shuffle: chunking is a narrow map over the scan
    val plan = Corpus.chunkDocuments(df, "doc_id", "text", 6, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking should be shuffle-free:\n$plan")
  }

  test("stratifiedSample: exactly k per stratum, partitioning-invariant, salt-sensitive") {
    val df = s.range(0, 500).toDF("doc_id")
      .withColumn("grp", (col("doc_id") % 3).cast("string"))
    val a = Corpus.stratifiedSample(df, "doc_id", col("grp"), k = 10, salt = "s")
    val counts = a.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("0" -> 10L, "1" -> 10L, "2" -> 10L))
    // deterministic under repartitioning (pure function of salt + id)
    val b = Corpus.stratifiedSample(df.repartition(17, col("doc_id")),
      "doc_id", col("grp"), k = 10, salt = "s")
    assertSameRows(a, b, "stratified sample partitioning invariance")
    // under-k strata return all their rows
    val tiny = Seq((1L, "x"), (2L, "x")).toDF("doc_id", "grp")
    assert(Corpus.stratifiedSample(tiny, "doc_id", col("grp"), 10, "s").count() === 2)
    // a different salt draws a different sample
    val c = Corpus.stratifiedSample(df, "doc_id", col("grp"), k = 10, salt = "t")
      .collect().map(_.getLong(0)).toSet
    assert(c !== a.collect().map(_.getLong(0)).toSet)
  }

  test("packSequences assigns contiguous bins by cumulative token count per stratum") {
    val df = Seq(
      (1L, "a b c", "x"),   // 3 tokens, cumBefore 0 → seq 0
      (2L, "d e", "x"),     // cumBefore 3 → seq 0
      (3L, "f g h i", "x"), // cumBefore 5 → seq 1 (maxTokens = 5)
      (4L, "z", "y"))       // other stratum restarts
      .toDF("doc_id", "text", "lang")
    val out = Corpus.packSequences(df, "doc_id", "text", maxTokens = 5, strataCol = col("lang"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) === (("x", 3L, 0L)))
    assert(out(2L) === (("x", 2L, 0L)))
    assert(out(3L) === (("x", 4L, 1L)))
    assert(out(4L) === (("y", 1L, 0L)))
  }

  test("tfidf ranks rare terms above common ones with rational idf") {
    val df = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "banana")).toDF("doc_id", "text")
    val out = Corpus.tfidf(df, "doc_id", "text", k = 2, docCount = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5))).sortBy(t => (t._1, t._6))
    // score = tf * (N+1)/(df+1) = tf * 4/(df+1)
    assert(out === Seq(
      (1L, "apple", 2L, 1L, 4.0, 1),  // 2 * 4/2
      (1L, "banana", 1L, 3L, 1.0, 2), // 1 * 4/4
      (2L, "cherry", 1L, 1L, 2.0, 1),
      (2L, "banana", 1L, 3L, 1.0, 2),
      (3L, "banana", 1L, 3L, 1.0, 1)))
  }

  test("passageDedup keeps the first (doc,pos) occurrence of each full window") {
    def md5hex(t: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // len 4: doc 1 = aaaa|bbbb|cc, doc 2 = bbbb|aaaa|dd — both full
    // windows of doc 2 recur from doc 1 and are dropped; the short tail
    // survives verbatim. Null text → NULL md5; empty text → md5("").
    val df = Seq(
      (1L, "aaaabbbbcc"), (2L, "bbbbaaaadd"),
      (3L, null.asInstanceOf[String]), (4L, ""))
      .toDF("doc_id", "text")
    val got = Corpus.passageDedup(df, "doc_id", "text", passageLen = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getString(3))).toSeq
    assert(got === Seq(
      (1L, 3L, 3L, md5hex("aaaabbbbcc")),
      (2L, 3L, 1L, md5hex("dd")),
      (3L, 0L, 0L, null),
      (4L, 0L, 0L, md5hex(""))))
  }

  test("decontaminate flags training docs sharing an n-gram with the eval set") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // shares 5-grams with eval doc 10
      (2L, "completely unrelated text with no overlap at all"),
      (3L, "tiny doc")) // < n tokens → whole-text shingle, no match
      .toDF("doc_id", "text")
    val eval = Seq(
      (10L, "we saw the quick brown fox jumps over a fence")).toDF("doc_id", "text")
    val hits = Corpus.decontaminate(train, eval, "text", "doc_id", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // train doc 1 shares exactly "the quick brown fox jumps" and
    // "quick brown fox jumps over" with the eval doc
    assert(hits === Map(1L -> 2L))
  }

  test("curate composes quality gate, keep-one dedup, and decontamination") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", "en"), // kept
      (2L, "the quick brown fox jumps over the lazy dog today", "en"), // exact dup of 1 → dropped
      (3L, "short doc", "en"),                                         // < 5 tokens → dropped
      (4L, "an entirely original document about spark query planning", "en"), // kept
      (5L, "we saw the quick brown fox jumps over a fence yesterday evening", "fr")) // contaminated
      .toDF("doc_id", "text", "lang")
    val eval = Seq(
      (10L, "we saw the quick brown fox jumps over a fence")).toDF("doc_id", "text")
    // doc 5 shares 6 distinct 5-grams with the eval doc (> maxHit 2);
    // doc 1 shares only 2 ("the quick brown fox jumps" is not preceded
    // by "we saw" there) — at the boundary, kept
    val out = Corpus.curate(docs, "doc_id", "text", col("lang"), eval,
        minTokens = 5, n = 5, maxHitNgrams = 2L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(out === Set((1L, "en", 10L), (4L, "en", 8L)))
  }

  test("mixStrata keeps per-stratum hash fractions and drops unknown strata") {
    val df = s.range(0, 3000)
      .withColumn("src", when(col("id") % 3 === 0, "a")
        .when(col("id") % 3 === 1, "b").otherwise("c"))
      .toDF("doc_id", "src")
    val out = Corpus.mixStrata(df, "doc_id", col("src"),
      Map("a" -> 1000, "b" -> 300), salt = "m")
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("a") === 1000L)              // permille 1000 keeps all
    assert(out("b") > 200 && out("b") < 400) // ~30%
    assert(!out.contains("c"))              // absent stratum → dropped
    // deterministic
    val again = Corpus.mixStrata(df, "doc_id", col("src"),
      Map("a" -> 1000, "b" -> 300), salt = "m").count()
    assert(again === out.values.sum)
  }

  test("budgetMix fills each stratum to its token budget with at most one-doc overshoot") {
    val docs = Fixtures.documents(s, "/root/testdata/sf0.001")
    val budgets = Map("en" -> 300L, "de" -> 150L, "zh" -> 1000000L)
    val sel = Corpus.budgetMix(docs, "doc_id", "text", col("lang"), budgets, "t")
      .cache()
    // partitioning invariance
    val sel13 = Corpus.budgetMix(docs.repartition(13), "doc_id", "text",
      col("lang"), budgets, "t")
    assertSameRows(sel, sel13, "budgetMix partitioning invariance")
    // unknown strata dropped
    assert(sel.filter(!col("stratum").isin("en", "de", "zh")).count() === 0)
    val agg = sel.groupBy("stratum")
      .agg(sum("n_tokens").as("tot"), max(col("tok_before")).as("maxBefore"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // every selected doc started under budget; totals reach the budget
    // unless the stratum's supply ran out first
    for ((g, b) <- budgets if agg.contains(g)) {
      val (tot, maxBefore) = agg(g)
      assert(maxBefore < b, s"$g: a doc was taken at/after budget")
      val supply = docs.filter(col("lang") === g)
        .agg(sum(graft.ext.TextAnalysis.tokenCount(col("text")).cast("long")))
        .collect()(0).getLong(0)
      assert(tot >= math.min(b, supply), s"$g: under-filled (tot=$tot budget=$b supply=$supply)")
    }
    // zh budget exceeds supply → every zh doc selected
    assert(sel.filter(col("stratum") === "zh").count() ===
      docs.filter(col("lang") === "zh").count())
    sel.unpersist()
    ()
  }

  test("shuffleAssign gives dense per-shard positions, stable across runs") {
    val df = s.range(0, 500).toDF("doc_id")
    val out = Corpus.shuffleAssign(df, "doc_id", numShards = 8, salt = "x")
    assert(out.count() === 500)
    // positions are dense 1..n within each shard
    val byShard = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), max(col("pos")).as("mx"), min(col("pos")).as("mn"))
      .collect()
    assert(byShard.forall(r => r.getLong(2) === r.getLong(1) && r.getLong(3) === 1L))
    // deterministic permutation
    val a = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val b = Corpus.shuffleAssign(df, "doc_id", numShards = 8, salt = "x")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(a.sameElements(b))
    // the permutation is not the identity order
    val inShardOrder = out.filter(col("shard") === 0).orderBy("pos")
      .collect().map(_.getLong(0))
    assert(!inShardOrder.sameElements(inShardOrder.sorted))
  }

  test("streamingIngest filters low quality and suppresses re-ingested content") {
    val tmp = java.nio.file.Files.createTempDirectory("corpingest").toString
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 10:05:00")
    val good = "the quick brown fox is one of the fine animals that it is and a joy to see"
    val junk = "@@@ ### !!! %%% ^^^ &&& *** ((( )))"
    Seq((1L, good, t0), (2L, junk, t0))
      .toDF("doc_id", "text", "ingest_ts")
      .write.mode("overwrite").parquet(s"$tmp/in")
    val schema = Seq.empty[(Long, String, java.sql.Timestamp)]
      .toDF("doc_id", "text", "ingest_ts").schema
    val stream = s.readStream.schema(schema).parquet(s"$tmp/in")
    val q = Corpus.streamingIngest(stream, "doc_id", "text", "ingest_ts",
        minQuality = 0.5, watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("corp_ingest")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/chk")
      .start()
    try {
      q.processAllAvailable()
      // batch 2: doc 3 re-ingests doc 1's exact content (crawler retry),
      // doc 4 is new good content
      Seq((3L, good, t1), (4L, good + " indeed", t1))
        .toDF("doc_id", "text", "ingest_ts")
        .write.mode("append").parquet(s"$tmp/in")
      q.processAllAvailable()
      val got = s.table("corp_ingest").select("doc_id").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(got === Seq(1L, 4L)) // junk dropped, re-ingest suppressed
    } finally q.stop()
  }

  test("streaming micro-batches dedup against the growing signature index") {
    // the daily-ingest pipeline end-to-end: each micro-batch probes the
    // landed corpus's signature index, quarantines near-dups, and appends
    // only clean docs — composed from streamingIngest-style foreachBatch
    // plus Dedup.dedupAgainstIndex/appendToSignatureIndex
    import graft.ext.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("streamdedup").toString
    val srcDir = s"$tmp/src"
    val idxDir = s"$tmp/idx"
    val chk = s"$tmp/chk"
    val batch1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different text about spark engines at scale"))
      .toDF("doc_id", "text")
    val batch2 = Seq(
      (3L, "the quick brown fox jumps over the lazy dog today"), // near-dup of 1
      (4L, "yet another unrelated document about vector databases"))
      .toDF("doc_id", "text")
    val dupsSeen = scala.collection.mutable.Buffer[(Long, Long)]()
    val buckets = s"$idxDir/buckets"

    def drain(): Unit = {
      val q = s.readStream.schema(batch1.schema).parquet(srcDir)
        .writeStream.option("checkpointLocation", chk)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val hasIndex = new java.io.File(s"$idxDir/buckets").exists()
          val clean =
            if (!hasIndex) b
            else {
              val dups = Dedup.dedupAgainstIndex(b, "text", "doc_id", idxDir,
                threshold = 0.5)
              // the probe opens only the files holding the batch's buckets
              assertManifestPruned(dups, buckets, "pb")
              dupsSeen ++= dups.collect().map(r => (r.getLong(0), r.getLong(1)))
              b.join(dups.select(col("new_id").as("doc_id")).distinct(),
                Seq("doc_id"), "left_anti")
            }
          val before = graft.sources.TxTable.latest(buckets).fold(Set.empty[String])(_.files.toSet)
          Dedup.appendToSignatureIndex(clean, "text", "doc_id", idxDir)
          // the append keeps every earlier file and adds only clean's buckets
          val solo = java.nio.file.Files.createTempDirectory("solo").toString
          Dedup.writeSignatureIndex(clean, "text", "doc_id", solo)
          assertAppendConfined(buckets, before, "pb",
            graft.sources.TxTable.read(s, s"$solo/buckets").select("pb")
              .collect().map(_.getLong(0)).toSet)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    batch1.coalesce(1).write.mode("append").parquet(srcDir)
    drain()
    batch2.coalesce(1).write.mode("append").parquet(srcDir)
    drain()

    assert(dupsSeen.toSeq === Seq((3L, 1L)), "batch-2 near-dup detected against batch-1 index")
    val landed = graft.sources.TxTable.read(s, s"$idxDir/shingles")
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(landed === Set(1L, 2L, 4L), "only clean docs appended to the index")
  }

  test("compactSignatureIndex: fewer files, probe results row-identical") {
    import graft.ext.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("compact").toString
    val idx = s"$tmp/idx"
    def doc(i: Long, suffix: String) =
      (i, s"the quick brown fox jumps over the lazy dog $suffix")
    Dedup.writeSignatureIndex(
      Seq(doc(1, "one"), doc(2, "two")).toDF("doc_id", "text"), "text", "doc_id", idx)
    // three appends -> one small file set per append job per partition
    (3L to 5L).foreach { i =>
      Dedup.appendToSignatureIndex(
        Seq(doc(i, s"v$i")).toDF("doc_id", "text"), "text", "doc_id", idx)
    }
    def parquetFiles(p: String): Int = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.count(_.toString.endsWith(".parquet"))
      } finally walk.close()
    }
    val buckets = s"$idx/buckets"
    def liveFiles: Int = graft.sources.TxTable.latest(buckets).get.files.size
    val probe = Seq(doc(9, "one")).toDF("doc_id", "text") // near-dup of 1
    def probed = Dedup.dedupAgainstIndex(probe, "text", "doc_id", idx, threshold = 0.5)
    val before = probed.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assertManifestPruned(probed, buckets, "pb")
    val filesBefore = liveFiles
    Dedup.compactSignatureIndex(spark, idx)
    val filesAfter = liveFiles
    assert(filesAfter < filesBefore,
      s"expected compaction to shrink file count: $filesBefore -> $filesAfter")
    val after = probed.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(after == before && before.nonEmpty, s"probe changed: $before -> $after")
    // the compacted files are clustered on pb: the probe still prunes
    assertManifestPruned(probed, buckets, "pb")
    // retention is vacuum: only the compacted files stay on disk
    graft.sources.TxTable.vacuum(buckets, 1, 0L)
    assert(parquetFiles(buckets) === filesAfter)
  }

  test("dedupClusters labels transitive duplicate chains with the component min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val labels = Corpus.dedupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    // a longer chain needs several propagation rounds
    val chain = (1L to 10L).sliding(2).map(w => (w(0), w(1))).toSeq.toDF("id_a", "id_b")
    val cl = Corpus.dedupClusters(chain).collect().map(r => r.getLong(1)).toSet
    assert(cl === Set(1L))
  }
}
