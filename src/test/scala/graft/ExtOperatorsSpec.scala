package graft

import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Golden checks for the LLM-pipeline operators on tiny hand-checkable
  * inputs, plus a brute-force-vs-window cross-check for the top-k
  * aggregator rewrite.
  */
class ExtOperatorsSpec extends SparkSpecBase {

  private lazy val s = spark
  import s.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "the quick brown fox jumps over the lazy cat", "en"),
    (3L, "completely different text about spark engines", "en"),
    (4L, "the quick brown fox jumps over the lazy dog", "en"), // exact dup of 1
    (5L, "", "en"),
    (6L, "une phrase en français pour le test", "fr"))
    .toDF("doc_id", "text", "lang")

  test("exactDedup groups exact duplicates and keeps the lowest id") {
    val d = Dedup.exactDedup(docs, "text", "doc_id")
    val dup = d.filter(col("n_dups") > 1).collect()
    assert(dup.length === 1)
    assert(dup.head.getAs[Long]("keep_id") === 1L)
    assert(dup.head.getAs[Long]("n_dups") === 2L)
    assert(d.count() === 5) // 6 docs, one pair merged
  }

  test("ngramJaccardDedup finds the near-dup pair and the exact pair, not the distinct doc") {
    val pairs = Dedup.ngramJaccardDedup(docs, "text", "doc_id", col("lang"), n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup → jaccard 1
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // one-word diff
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("containmentPairs finds the embedded doc jaccard misses; df cap bounds recall") {
    val cdocs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "intro words alpha beta gamma delta epsilon closing words here"),
      (3L, "unrelated text about completely different things entirely"))
      .toDF("doc_id", "text")
    // doc 1's three 3-gram shingles all occur in doc 2: containment 1.0,
    // while jaccard is 3/8 — far below any dedup threshold
    val pairs = Dedup.containmentPairs(cdocs, "text", "doc_id", n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 1.0)))
    // documented recall contract: pairs sharing only grams with df > maxDf
    // are not candidates — maxDf = 1 admits no gram at all
    assert(Dedup.containmentPairs(cdocs, "text", "doc_id", n = 3,
      threshold = 0.8, maxDf = 1).isEmpty)
  }

  test("profiler handles null-heavy and all-null columns") {
    import graft.ext.Profiler
    val df = Seq(
      (1L, Some(2.5), Some("ab")),
      (2L, None, None),
      (3L, Some(2.5), Some("wxyz")))
      .toDF("id", "x", "s")
    val p = Profiler.profile(df,
        Seq("id" -> Profiler.Num, "x" -> Profiler.Num, "s" -> Profiler.Str))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(p("id").getLong(1) === 3 && p("id").getLong(2) === 0 && p("id").getLong(3) === 3)
    assert(p("x").getLong(2) === 1, "one null in x")
    assert(p("x").getLong(3) === 1, "distinct excludes nulls")
    assert(p("x").getDouble(4) === 2.5 && p("x").getDouble(5) === 2.5)
    assert(p("s").getDouble(6) === 3.0, "avg length over non-null strings")
    assert(p("id").isNullAt(6), "avg_len null for non-strings")

    // all-null column: range and length stats surface as NULL, not 0
    val alln = Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]))
      .toDF("id", "s")
    val q = Profiler.profile(alln, Seq("s" -> Profiler.Str))
      .collect()(0)
    assert(q.getLong(1) === 2 && q.getLong(2) === 2 && q.getLong(3) === 0)
    assert(q.isNullAt(4) && q.isNullAt(5) && q.isNullAt(6))
  }

  test("saltedJoin equals the plain join on a skewed key distribution") {
    // 10k rows of one hot key + a tail — the shape salting exists for
    val big = s.range(0, 10000).select(
      when(col("id") < 9000, lit(1L)).otherwise(col("id") % 50).as("k"),
      col("id").as("payload"))
    val small = Seq((1L, "hot"), (7L, "a"), (13L, "b"), (49L, "c"))
      .toDF("k", "name")
    val salted = graft.ext.SkewJoin.saltedJoin(big, small, Seq("k"),
      saltFactor = 8, bigSaltSource = col("payload"))
    val plain = big.join(small, Seq("k"))
    assertSameRows(
      salted.groupBy("k", "name").agg(count(lit(1)).as("n"), sum("payload").as("sp")),
      plain.groupBy("k", "name").agg(count(lit(1)).as("n"), sum("payload").as("sp")),
      "salted vs plain join")
    assert(salted.count() === plain.count())
  }

  test("bloom filter: no false negatives, build is partitioning-invariant, filter reduces") {
    val sf = "/root/testdata/sf0.001"
    val ord = Fixtures.orders(s, sf)
    val hot = ord.filter(col("o_totalprice") > 300000.0).select(col("o_orderkey"))
    val mBits = 1 << 14
    val k = 5
    val w1 = graft.ext.BloomFilter.build(hot, col("o_orderkey").cast("string"), mBits, k)
    val w2 = graft.ext.BloomFilter.build(hot.repartition(7),
      col("o_orderkey").cast("string"), mBits, k)
    assert(w1.toSeq === w2.toSeq, "bit array must not depend on partitioning")

    // every inserted key passes (no false negatives — the bloom contract)
    val misses = hot.filter(!graft.ext.BloomFilter.mightContain(
      w1.toSeq, col("o_orderkey").cast("string"), mBits, k)).count()
    assert(misses === 0)

    // native kernel ≡ columnar twin (the definition the oracle mirrors)
    val liAll = Fixtures.lineitem(s, sf)
    val kern = liAll.filter(graft.ext.BloomFilter.mightContain(
      w1.toSeq, col("l_orderkey").cast("string"), mBits, k))
    val colr = liAll.filter(graft.ext.BloomFilter.mightContainColumnar(
      w1.toSeq, col("l_orderkey").cast("string"), mBits, k))
    assertSameRows(kern.select("l_orderkey", "l_linenumber"),
      colr.select("l_orderkey", "l_linenumber"), "bloom kernel vs columnar")

    // and the filter actually reduces the big side (non-member majority)
    val li = Fixtures.lineitem(s, sf)
    val pass = li.filter(graft.ext.BloomFilter.mightContain(
      w1.toSeq, col("l_orderkey").cast("string"), mBits, k)).count()
    val trueMembers = li.join(hot, col("l_orderkey") === col("o_orderkey"),
      "left_semi").count()
    assert(pass >= trueMembers, "passes must cover all true members")
    assert(pass < li.count(), "filter must reject non-members")
  }

  test("incremental dedup: index probe prunes partitions and matches the direct join") {
    val sf = "/root/testdata/sf0.001"
    val all = Fixtures.documents(s, sf)
    val corpus = all.filter(col("doc_id") % 5 =!= 0)
    val batch = all.filter(col("doc_id") % 5 === 0)
    val tmp = java.nio.file.Files.createTempDirectory("sigidx").toString
    Dedup.writeSignatureIndex(corpus, "text", "doc_id", tmp)
    val got = Dedup.dedupAgainstIndex(batch, "text", "doc_id", tmp, threshold = 0.5)

    // the probe scan over buckets/ lists only the files holding the
    // batch's folded buckets; a one-doc batch folds into few of them
    val buckets = s"$tmp/buckets"
    assert(assertManifestPruned(got, buckets, "pb", strict = false) === pbsOf(batch))
    val one = all.filter(col("doc_id") === 5L)
    assert(assertManifestPruned(Dedup.dedupAgainstIndex(one, "text", "doc_id", tmp,
      threshold = 0.5), buckets, "pb") === pbsOf(one))

    // results equal the direct (no-index) batch-vs-corpus formulation:
    // minhashLshDedup over the union, restricted to cross pairs
    val direct = Dedup.minhashLshDedup(all, "text", "doc_id", threshold = 0.5,
        mode = graft.ext.HashMode.Portable)
      .filter((col("id_a") % 5 === 0) =!= (col("id_b") % 5 === 0))
      .select(
        when(col("id_a") % 5 === 0, col("id_a")).otherwise(col("id_b")).as("new_id"),
        when(col("id_a") % 5 === 0, col("id_b")).otherwise(col("id_a")).as("dup_of"),
        col("jac"))
    assertSameRows(got, direct, "index probe vs direct cross-join")

    // append: day-2 batch lands in the index; a doc probing day-2's
    // content now finds it
    val before = liveFiles(buckets)
    Dedup.appendToSignatureIndex(batch, "text", "doc_id", tmp)
    assertAppendConfined(buckets, before, "pb", pbsOf(batch))
    val reprobe = Dedup.dedupAgainstIndex(batch, "text", "doc_id", tmp, threshold = 0.5)
    // every batch doc now collides with its own indexed copy at jaccard 1
    assert(reprobe.filter(col("new_id") === col("dup_of")).count() === 0,
      "self-id pairs are excluded")
    val selfDup = Dedup.minhashLshDedup(batch, "text", "doc_id", threshold = 0.5,
      mode = graft.ext.HashMode.Portable).count()
    assert(reprobe.count() === got.count() + 2 * selfDup,
      "after append, intra-batch dups appear in both directions on top of day-1 pairs")
  }

  test("minhashLshDedup finds exact duplicates (jaccard 1 pairs always collide)") {
    val pairs = Dedup.minhashLshDedup(docs, "text", "doc_id", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("crossNearDupPairs matches across corpora only; id namespaces are independent") {
    val left = Seq(
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12"),
      (2L, "zebra yak xray walrus viper unau tapir snake")).toDF("doc_id", "text")
    val right = Seq(
      // lightly-edited copy of left doc 1 (token 6 changed): 3-shingle
      // jaccard = 7/13 — found at threshold 0.5 with banding widened to
      // 64x2 (16x8's collision odds at s=0.54 are ~11%: the default is
      // tuned for s>=0.8). SAME id on purpose: ids are separate
      // namespaces, never suppressed as a self-pair.
      (1L, "a1 a2 a3 a4 a5 CHANGED a7 a8 a9 a10 a11 a12"),
      (9L, "quartz opal nickel meteor lumen krypton jade iron")).toDF("doc_id", "text")
    val got = Dedup.crossNearDupPairs(left, right, "text", "doc_id",
        n = 3, bands = 64, rowsPerBand = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === Seq((1L, 1L, 0.538462)))
    // same corpus on both sides: every doc collides with itself at jac 1
    val self = Dedup.crossNearDupPairs(left, left, "text", "doc_id",
        n = 3, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(self === Set((1L, 1L), (2L, 2L)))
  }

  test("simhashDedup: identical docs at distance 0; hamming is symmetric-safe") {
    val pairs = Dedup.simhashDedup(docs, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0))
  }

  test("SortedIntersectCount matches size(array_intersect) on random sorted-distinct arrays") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(200) { i =>
      def arr() = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong)
        .distinct.sorted
      (i.toLong, arr(), arr())
    }
    val df = rows.toDF("id", "a", "b")
    val bad = df.select(
        Dedup.jaccardSorted(col("a"), col("b")).as("fast"),
        Dedup.jaccard(col("a"), col("b")).as("ref"))
      .filter(col("fast") =!= col("ref") ||
        col("fast").isNull =!= col("ref").isNull)
      .count()
    assert(bad === 0)
  }

  test("perceptual dHash: identical buffers at hamming 0; band widths trade recall for floor") {
    import graft.ext.Multimodal
    // docs 1 and 2 share identical text (hamming-0 frames); 3 differs
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content with other bytes entirely here"))
      .toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(
      Multimodal.withFakePayload(docs, "doc_id", "text"), 4)
    def pairs(bits: Int): Map[(Long, Long), Int] =
      Multimodal.framePhashPairs(frames, maxHamming = 6, bandBits = bits)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    val p16 = pairs(16)
    val p32 = pairs(32)
    // identical payloads -> identical dHash -> hamming 0, found by BOTH
    assert(p16.get((1L, 2L)).contains(0) && p32.get((1L, 2L)).contains(0))
    // 32-bit bands are a candidate SUBSET of 16-bit bands (scale knob
    // trades scattered-bit recall for a 2^32 collision floor)
    assert(p32.keySet.subsetOf(p16.keySet))
    // dHash struct halves are non-negative 32-bit values (the portable
    // two-half hamming contract)
    val dh = frames.select(Multimodal.dHash(col("frame_bytes")).as("d"))
      .select(col("d.lo"), col("d.hi")).collect()
    assert(dh.forall(r => r.getLong(0) >= 0L && r.getLong(0) < (1L << 32) &&
      r.getLong(1) >= 0L && r.getLong(1) < (1L << 32)))
  }

  test("TfGrams kernel: (gram, tf) multiset bit-identical to the columnar chain") {
    val rnd = new scala.util.Random(23)
    val words = Vector("alpha", "beta", "Gamma", "DELTA", "e", "ff", "第",
      "x1", "2y", "a-b")
    val edge = Seq("", " ", "  one  ", "one two", "a\tb\nc", "one one one one")
    val texts = edge ++ Seq.tabulate(100) { _ =>
      Seq.fill(1 + rnd.nextInt(30))(words(rnd.nextInt(words.size))).mkString(" ")
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (n <- Seq(1, 3, 5)) {
      // the columnar twin the round-8 cosinePairs plan used
      val tk = graft.ext.TextAnalysis.tokens(lower(col("text")))
      val grams = when(size(tk) < n, array(concat_ws(" ", tk)))
        .otherwise(transform(sequence(lit(0), size(tk) - n),
          i => concat_ws(" ", slice(tk, i + 1, lit(n)))))
      val ref = df.select(col("id"), explode(grams).as("g"))
        .groupBy(col("id"), col("g")).agg(count(lit(1)).as("tf"))
      val fast = df
        .select(col("id"), explode(Dedup.tfGrams(col("text"), n)).as("gt"))
        .select(col("id"), col("gt.g").as("g"), col("gt.tf").as("tf"))
      assert(fast.exceptAll(ref).count() === 0 &&
        ref.exceptAll(fast).count() === 0,
        s"TfGrams multiset mismatch at n=$n")
      // no-fallback mode (the dupNgrams audit contract): docs shorter
      // than n contribute NOTHING instead of the whole-text gram
      val refNf = df.select(col("id"),
          explode(when(size(tk) < n, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(0), size(tk) - n),
              i => concat_ws(" ", slice(tk, i + 1, lit(n)))))).as("g"))
        .groupBy(col("id"), col("g")).agg(count(lit(1)).as("tf"))
      val fastNf = df
        .select(col("id"),
          explode(Dedup.tfGrams(col("text"), n, withShortFallback = false)).as("gt"))
        .select(col("id"), col("gt.g").as("g"), col("gt.tf").as("tf"))
      assert(fastNf.exceptAll(refNf).count() === 0 &&
        refNf.exceptAll(fastNf).count() === 0,
        s"TfGrams no-fallback multiset mismatch at n=$n")
    }
  }

  test("shingle kernels: bit-identical to the columnar chains, including edge cases") {
    val rnd = new scala.util.Random(17)
    val words = Vector("alpha", "beta", "Gamma", "DELTA", "e", "ff", "第",
      "x1", "2y", "a-b")
    val edge = Seq("", " ", "  one  ", "one two", "a\tb\nc", "one one one one")
    val texts = edge ++ Seq.tabulate(100) { _ =>
      Seq.fill(1 + rnd.nextInt(30))(words(rnd.nextInt(words.size))).mkString(" ")
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (n <- Seq(1, 3, 5)) {
      val bad = df.select(
          Dedup.hashedShingles(col("text"), n).as("fast"),
          array_sort(array_distinct(
            transform(Dedup.shingles(col("text"), n), s => xxhash64(s)))).as("ref"))
        .filter(col("fast") =!= col("ref")).count()
      assert(bad === 0, s"hashedShingles mismatch at n=$n")
    }
    val badSig = df.select(
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.expr.PortableMinhashText(
            org.apache.spark.sql.GraftSqlBridge.expression(col("text")),
            3, graft.ext.PortableHash.minhashAB(32))).as("fast"),
        Dedup.minhashSignature(Dedup.shingles(col("text"), 3), 32,
          graft.ext.HashMode.Portable).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(badSig === 0, "PortableMinhashText mismatch vs columnar signature")
  }

  test("bounded intersect kernel: filter-equivalent to the exact kernel at every threshold") {
    val rnd = new scala.util.Random(13)
    val rows = Seq.tabulate(300) { i =>
      def arr() = Seq.fill(1 + rnd.nextInt(40))(rnd.nextInt(50).toLong)
        .distinct.sorted
      (i.toLong, arr(), arr())
    }
    val df = rows.toDF("id", "a", "b")
    for (t <- Seq(0.0, 0.2, 0.5, 0.8, 1.0)) {
      val both = df.select(col("id"),
          round(Dedup.jaccardSorted(col("a"), col("b")), 6).as("exact"),
          round(Dedup.jaccardSortedAtLeast(col("a"), col("b"), t), 6).as("bounded"))
        .collect()
      both.foreach { r =>
        val (exact, bounded) = (r.getDouble(1), r.getDouble(2))
        // identical decision at the filter...
        assert((exact >= t) === (bounded >= t), s"t=$t id=${r.getLong(0)}")
        // ...and identical VALUE for every surviving pair
        if (exact >= t) assert(bounded === exact, s"t=$t id=${r.getLong(0)}")
        // an undercount only ever lowers the value
        assert(bounded <= exact, s"t=$t id=${r.getLong(0)}")
      }
    }
  }

  test("ngram prefix-filtered inverted index preserves the exact all-pairs output on random docs") {
    // Adversarial check of the prefix-filter candidate generation: the
    // operator's output must equal a naive all-pairs jaccard over raw
    // string shingles, for random docs spanning many sizes (prefix
    // lengths) with a tiny shared vocabulary (hot postings).
    val rnd = new scala.util.Random(11)
    val words = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    val docs = Seq.tabulate(60) { i =>
      val len = 1 + rnd.nextInt(25)
      (i.toLong, Seq.fill(len)(words(rnd.nextInt(words.size))).mkString(" "), "x")
    }.toDF("doc_id", "text", "lang")
    val got = Dedup.ngramJaccardDedup(docs, "text", "doc_id", col("lang"),
        n = 3, threshold = 0.35, saltFanout = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val expect = (for {
      a <- sh.keys.toSeq
      b <- sh.keys.toSeq
      if a < b
      inter = (sh(a) & sh(b)).size
      uni = (sh(a) | sh(b)).size
      jac = if (uni == 0) 0.0 else inter.toDouble / uni
      if BigDecimal(jac).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble >= 0.35
    } yield (a, b)).toSet
    assert(got === expect)
  }

  test("containmentPairs equals brute force restricted to rare-gram-sharing pairs") {
    // Adversarial check of the rare-gram blocking + bounded verify: the
    // operator's output must equal a naive computation over exactly the
    // pairs its blocking contract admits (sharing >= 1 gram with
    // document frequency in [2, maxDf]), on random docs.
    val rnd = new scala.util.Random(23)
    val words = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val rdocs = Seq.tabulate(50) { i =>
      val len = 1 + rnd.nextInt(20)
      (i.toLong, Seq.fill(len)(words(rnd.nextInt(words.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val maxDf = 6
    val thr = 0.5
    val got = Dedup.containmentPairs(rdocs, "text", "doc_id",
        n = 3, threshold = thr, maxDf = maxDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sh = rdocs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val dfc = sh.values.toSeq.flatten.groupBy(identity).map { case (g, o) => g -> o.size }
    val rare = dfc.collect { case (g, d) if d >= 2 && d <= maxDf => g }.toSet
    val expect = (for {
      a <- sh.keys.toSeq
      b <- sh.keys.toSeq
      if a < b && (sh(a) & sh(b)).exists(rare)
      cont = (sh(a) & sh(b)).size.toDouble / math.min(sh(a).size, sh(b).size)
      r6 = BigDecimal(cont).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if r6 >= thr
    } yield (a, b, r6)).toSet
    assert(got === expect)
    assert(got.nonEmpty, "degenerate fixture: no pairs admitted")
  }

  test("semanticDedup equals brute-force within-cluster dedup on random vectors") {
    val rnd = new scala.util.Random(7)
    val rvecs = Seq.tabulate(80) { i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f))
    }
    val cents = Seq.tabulate(4) { c =>
      (c.toLong, Seq.fill(8)(rnd.nextDouble() * 2 - 1))
    }
    val thr = 0.5
    val got = Similarity.semanticDedup(rvecs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", cents, thr)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: assign by max cosine (ties -> lower centroid id), drop any
    // vector with a >= thr cosine to a lower-id mate in its cluster
    def cos(a: Array[Float], b: Seq[Double]): Double = {
      val dp = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(y => y * y).sum)
      if (na * nb == 0) 0.0 else dp / (na * nb)
    }
    def cosv(a: Array[Float], b: Array[Float]): Double = {
      val dp = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na * nb == 0) 0.0 else dp / (na * nb)
    }
    val assign = rvecs.map { case (id, v) =>
      id -> cents.map { case (cid, cv) => (cid, cos(v, cv)) }
        .maxBy { case (cid, s) => (s, -cid) }._1
    }.toMap
    val expect = rvecs.collect { case (id, v) if !rvecs.exists { case (id2, v2) =>
      id2 < id && assign(id2) == assign(id) &&
        BigDecimal(cosv(v2, v)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble >= thr
    } => id -> assign(id) }.toMap
    assert(got === expect)
    assert(got.size < rvecs.size, "degenerate fixture: nothing dropped")
  }

  test("ngramJaccardDedup hot-posting guard trips on an over-cap posting list") {
    // 50 docs all sharing the shingles "the quick brown"/"quick brown fox";
    // at threshold 0.2 the prefix is the whole doc, so those postings hold
    // all 50 docs — over the cap of 10
    val many = (1L to 50L).map(i => (i, s"doc $i the quick brown fox", "en"))
      .toDF("doc_id", "text", "lang")
    val e = intercept[IllegalStateException] {
      Dedup.ngramJaccardDedup(many, "text", "doc_id", col("lang"),
        threshold = 0.2, maxBlockRows = Some(10L)).count()
    }
    assert(e.getMessage.contains("maxBlockRows"))
  }

  test("portable hash mode: same pair-finding behavior as engine mode") {
    import graft.ext.HashMode
    // exact dups always collide regardless of hash family
    val mh = Dedup.minhashLshDedup(docs, "text", "doc_id", threshold = 0.9,
        mode = HashMode.Portable)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.contains((1L, 4L)))
    assert(!mh.exists(p => p._1 == 3L || p._2 == 3L))
    val sh = Dedup.simhashDedup(docs, "text", "doc_id", maxHamming = 3,
        mode = HashMode.Portable)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(sh.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0))
    // portable minhash values live in [0, P): the sentinel never leaks
    val sig = docs.filter(col("doc_id") === 1L)
      .select(Dedup.minhashSignature(Dedup.shingles(col("text"), 3), 16,
        HashMode.Portable).as("sig"))
      .collect().head.getSeq[Long](0)
    assert(sig.length === 16 && sig.forall(v => v >= 0 && v < graft.ext.PortableHash.P))
  }

  test("native portable minhash/simhash kernels are bit-exact with the columnar twins") {
    val d = docs.filter(length(col("text")) > 0)
    val mh = d.select(
        Dedup.minhashSignature(Dedup.shingles(col("text"), 3), 32,
          graft.ext.HashMode.Portable).as("fast"),
        Dedup.minhashSignatureColumnar(Dedup.shingles(col("text"), 3), 32).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(mh === 0)
    val sh = d.select(
        Dedup.simhashPortable(col("text")).as("fast"),
        Dedup.simhashPortableColumnar(col("text")).as("ref"))
      .filter(col("fast.hi") =!= col("ref.hi") || col("fast.lo") =!= col("ref.lo"))
      .count()
    assert(sh === 0)
  }

  /** Engine-mode LSH candidate pairs (id_a < id_b sharing a band bucket)
    * of a signature frame (id, sig), with `buckets` mapping sig → bands.
    */
  private def bandCandidates(sigs: org.apache.spark.sql.DataFrame,
      buckets: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : org.apache.spark.sql.DataFrame = {
    val b = sigs.repartition(4) // keep the signature from being recomputed per band
      .select(col("id"), posexplode(buckets(col("sig"))).as(Seq("band", "bucket")))
    b.select(col("id").as("id_a"), col("band"), col("bucket"))
      .join(b.select(col("id").as("id_b"), col("band"), col("bucket")), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Names of the interpreted array-lambda expressions in `df`'s
    * optimized plan (subqueries included).
    */
  private def lambdas(df: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayTransform, ZipWith}
    val exprs = df.queryExecution.optimizedPlan
      .collectWithSubqueries { case p => p }
      .flatMap(_.expressions.flatMap(_.collect { case e => e }))
    exprs.filter(e => e.isInstanceOf[ArrayAggregate] || e.isInstanceOf[ZipWith] ||
      e.isInstanceOf[ArrayTransform]).map(_.getClass.getSimpleName).toSet
  }

  /** Seeded corpus of `nDocs` docs over a 400-word vocabulary, every
    * fifth doc a 1-3 word edit of an earlier one (planted near-dups).
    */
  private def plantedCorpus(nDocs: Int, seed: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector.tabulate(400)(i => s"w$i")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    for (i <- 0 until nDocs) {
      val text = if (i % 5 == 4) {
        val ws = out(rnd.nextInt(out.size))._2.split(" ")
        for (_ <- 0 until 1 + rnd.nextInt(3)) ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(400))
        ws.mkString(" ")
      } else Seq.fill(20 + rnd.nextInt(40))(vocab(rnd.nextInt(400))).mkString(" ")
      out += ((i.toLong, text))
    }
    out.toSeq
  }

  test("native engine minhash/band kernels are bit-exact with the lambda twins") {
    import graft.ext.HashMode
    val rnd = new scala.util.Random(23)
    val words = Vector("alpha", "beta", "Gamma", "e", "ff", "第", "naïve", "café", "x1")
    val edge = Seq("", " ", "  one  ", "a\tb\nc", "one", "one two", "a b a b a b a b",
      "naïve café — 日本語 текст", "Ünïcödé  ÜNÏCÖDÉ ünïcödé", null)
    val texts = edge ++ Seq.tabulate(150) { _ =>
      Seq.fill(1 + rnd.nextInt(30))(words(rnd.nextInt(words.size))).mkString(" ")
    }
    // repartitioned so the kernels run in generated code, not folded into
    // a LocalRelation by the optimizer
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .repartition(2)
    // (numHashes, bands, rowsPerBand): the default layout; a short last
    // band (slots 16..19); a band past the signature's end (slots 24..)
    val layouts = Seq((128, 16, 8), (20, 3, 8), (20, 4, 8))
    for (n <- Seq(1, 3, 5); (k, bands, r) <- layouts) {
      val ref = df.select(col("id"),
        Dedup.minhashSignatureEngineColumnar(Dedup.shingles(col("text"), n), k).as("ref"),
        Dedup.minhashSignature(Dedup.shingles(col("text"), n), k, HashMode.Engine).as("arr"))
      val both = Dedup.minhashSignatures(df, "text", "id", n, k, HashMode.Engine)
        .join(ref, "id")
        .withColumn("fastB", Dedup.lshBandBuckets(col("ref"), bands, r, HashMode.Engine))
        .withColumn("refB", Dedup.lshBandBucketsColumnar(col("ref"), bands, r))
        .cache()
      assert(both.count() === texts.size)
      assert(both.filter(!(col("sig") <=> col("ref"))).count() === 0,
        s"EngineMinhashText mismatch at n=$n k=$k")
      assert(both.filter(!(col("arr") <=> col("ref"))).count() === 0,
        s"EngineMinhash mismatch at n=$n k=$k")
      assert(both.filter(col("ref").isNotNull && !(col("fastB") <=> col("refB"))).count() === 0,
        s"EngineBandBuckets mismatch at n=$n $bands x $r")
      // the one deliberate difference: a null signature (null text) has
      // null buckets, where xxhash64 over the null slice gives the seeds
      assert(both.filter(col("ref").isNull).count() === 1)
      assert(both.filter(col("ref").isNull && col("fastB").isNull && col("refB").isNotNull)
        .count() === 1)
      both.unpersist()
    }
    // array input: a null element hashes to the slot seed alone; a null
    // array stays null; an empty array keeps the Long.MaxValue sentinel
    val arrs = Seq(Some(Seq("a b", null, "c d")), Some(Seq.empty[String]),
      Some(Seq(null: String)), Some(Seq("x", "x", "ü ß")), None).toDF("arr").repartition(2)
    val badArr = arrs
      .select(Dedup.minhashSignature(col("arr"), 32, HashMode.Engine).as("fast"),
        Dedup.minhashSignatureEngineColumnar(col("arr"), 32).as("ref"))
      .filter(!(col("fast") <=> col("ref"))).count()
    assert(badArr === 0, "EngineMinhash mismatch on array input")
  }

  test("engine minhashLshDedup returns the lambda-twin pipeline's pairs on a planted corpus") {
    val corpus = plantedCorpus(1200, seed = 5)
    val df = corpus.toDF("doc_id", "text").repartition(4)
    val threshold = 0.7
    val got = Dedup.minhashLshDedup(df, "text", "doc_id", threshold = threshold)
    // the same pipeline spelled with the lambda twins
    val sigs = df.select(col("doc_id").as("id"),
      Dedup.minhashSignatureEngineColumnar(Dedup.shingles(col("text"), 3), 128).as("sig"))
    val sh = df.select(col("doc_id").as("id"), Dedup.hashedShingles(col("text"), 3).as("sh"))
    val want = bandCandidates(sigs, Dedup.lshBandBucketsColumnar(_, 16, 8))
      .join(sh.select(col("id").as("id_a"), col("sh").as("sa")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sb")), "id_b")
      .withColumn("jac", round(Dedup.jaccardSorted(col("sa"), col("sb")), 6))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("jac"))
    assertSameRows(got, want, "engine kernels vs lambda twins")
    assert(got.count() >= 150, "degenerate fixture: too few planted pairs found")
  }

  test("engine mode: null texts get null band buckets and add no candidates") {
    import graft.ext.HashMode
    val docs200 = plantedCorpus(200, seed = 9).toDF("doc_id", "text")
    val nulls = (1000L until 1300L).map(i => (i, null: String)).toDF("doc_id", "text")
    val withNulls = docs200.unionByName(nulls).repartition(4)
    val sigs = Dedup.minhashSignatures(withNulls, "text", "doc_id", 3, 128, HashMode.Engine)
    val nullSig = sigs.filter(col("id") >= 1000L)
      .select(Dedup.lshBandBuckets(col("sig"), 16, 8, HashMode.Engine).as("b"))
      .filter(col("b").isNotNull).count()
    assert(nullSig === 0, "null text must give null buckets")
    // candidates: the kernel's null buckets keep every null-text doc out
    // of the band join; the lambda twin's band seeds pair all of them
    val fast = bandCandidates(sigs, Dedup.lshBandBuckets(_, 16, 8, HashMode.Engine))
    val twin = bandCandidates(sigs, Dedup.lshBandBucketsColumnar(_, 16, 8))
    assert(fast.filter(col("id_b") >= 1000L).count() === 0)
    assert(twin.filter(col("id_a") >= 1000L).count() === 300L * 299 / 2)
    assert(fast.count() === twin.filter(col("id_b") < 1000L).count())
    // the verified pair output is unchanged by the null rows
    assertSameRows(Dedup.minhashLshDedup(withNulls, "text", "doc_id", threshold = 0.5),
      Dedup.minhashLshDedup(docs200, "text", "doc_id", threshold = 0.5), "null rows")
  }

  test("default (Engine) minhash plans contain no interpreted array lambdas") {
    import graft.ext.HashMode
    // a shuffle above the local rows keeps the optimizer from folding the
    // projections into a precomputed LocalRelation
    val d = docs.repartition(2)
    assert(lambdas(Dedup.minhashSignatures(d, "text", "doc_id", 3, 128,
      HashMode.Engine)).isEmpty)
    assert(lambdas(Dedup.minhashLshDedup(d, "text", "doc_id")).isEmpty)
    // the guard sees the lambda twins, so the checks above are not vacuous
    val twins = d.select(Dedup.lshBandBucketsColumnar(
      Dedup.minhashSignatureEngineColumnar(Dedup.shingles(col("text"), 3), 128), 16, 8))
    assert(lambdas(twins) === Set("ArrayAggregate", "ZipWith", "ArrayTransform"))
  }

  test("portable rollingHash is order-sensitive and bounded by P") {
    import graft.ext.HashMode
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "")).toDF("id", "t")
    val r = df.orderBy("id").select(
      TextAnalysis.rollingHash(col("t"), HashMode.Portable).as("rh")).collect()
    assert(r(0).getLong(0) !== r(1).getLong(0))
    assert(r(2).getLong(0) === graft.ext.PortableHash.Init) // empty → seed
    assert(r.forall(x => x.getLong(0) >= 0 && x.getLong(0) < graft.ext.PortableHash.P))
  }

  test("textStats computes token counts, ratios and language guess") {
    val st = TextAnalysis.textStats(docs, "text")
      .select("doc_id", "n_tokens", "stopword_ratio", "lang_guess", "quality")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(st(1L).getInt(1) === 9)
    assert(st(5L).getInt(1) === 0) // empty text → 0 tokens, no NaNs
    assert(st(1L).getString(3) === "en")
    assert(st(6L).getString(3) === "fr")
    assert(st(5L).getDouble(4) >= 0.0) // quality defined on empty docs
  }

  test("rollingHash is order-sensitive where fingerprint is not") {
    val df = Seq((1L, "a b c"), (2L, "c b a")).toDF("id", "t")
    val r = df.select(
      TextAnalysis.rollingHash(col("t")).as("rh"),
      TextAnalysis.fingerprint(col("t")).as("fp")).collect()
    assert(r(0).getLong(0) !== r(1).getLong(0))
  }

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
    (4L, Array(0.5f, 0.5f, 0.0f, 0.0f)),
    (5L, Array(0.0f, 0.0f, 0.0f, 0.0f))) // zero vector: cosine defined as 0
    .toDF("vec_id", "embedding")

  test("bruteForceTopK ranks by cosine with deterministic ties") {
    val q = vecs.filter(col("vec_id") === 0)
    val top = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", "vec_id", "embedding", 3)
      .orderBy("rnk").collect()
    assert(top.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 4L, 2L))
    assert(top.head.getAs[Double]("score") > 0.99)
  }

  test("top-k aggregator matches a window-based reference implementation") {
    val q = vecs.filter(col("vec_id") <= 1)
    val viaAgg = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", "vec_id", "embedding", 4)
    // reference: same scoring, window rank (fine at test scale)
    val scored = vecs.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .crossJoin(q.select(col("vec_id").as("query_id"), col("embedding").as("qv")))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", round(Similarity.cosine(col("cv"), col("qv")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)
    val viaWindow = scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 4)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rnk").cast("int"))
    assertSameRows(viaAgg, viaWindow, "topk-agg vs window")
  }

  test("ivfAssign picks the nearest centroid with zero-shuffle plan") {
    val cents = vecs.filter(col("vec_id").isin(0L, 2L, 3L))
    val assigned = Similarity.ivfAssign(vecs, cents, "vec_id", "embedding", "vec_id", "embedding")
    val m = assigned.select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) === 0L) // 0.9/0.1 → nearest axis x
    assert(m(4L) === 0L) // tie between centroids 0 and 2 → smaller id
    assert(m(2L) === 2L)
    // zero-shuffle: no Exchange in the assignment plan
    val plan = assigned.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), s"ivfAssign plan must not shuffle:\n$plan")
    // ragged vector (dim mismatch vs centroids) → NULL assignment, not a
    // sentinel id that silently vanishes in joins
    val ragged = Seq((9L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val r = Similarity.ivfAssign(ragged, cents, "vec_id", "embedding", "vec_id", "embedding")
      .select("centroid_id").head()
    assert(r.isNullAt(0))
  }

  test("semanticDedup drops higher-id near-dups within a cluster only") {
    val sv = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.01f)),  // ~cos 1 with id 1, same cluster → dropped
      (3L, Array(0.9f, 0.5f)),   // cluster 0 but cos(1,3) ≈ 0.874 → survives
      (4L, Array(0.01f, 1.0f)))  // alone in cluster 1 → survives
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
    val out = Similarity.semanticDedup(sv, "vec_id", "embedding", cents, threshold = 0.99)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 0L, 3L -> 0L, 4L -> 1L))
  }

  test("lmScore: common-token docs outscore rare-token docs; empty doc is NULL") {
    val d = Seq(
      (1L, "the the the"),     // only common tokens
      (2L, "the rare"),        // one rare token
      (3L, ""))                // empty
      .toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // corpus: the×4, rare×1, T=5. doc1 = ln(4/5); doc2 = (ln(4/5)+ln(1/5))/2
    assert(out(1L).getLong(1) === 3L)
    assert(math.abs(out(1L).getDouble(2) - math.log(4.0 / 5.0)) < 1e-5)
    assert(math.abs(out(2L).getDouble(2) -
      (math.log(4.0 / 5.0) + math.log(1.0 / 5.0)) / 2.0) < 1e-5)
    assert(out(1L).getDouble(2) > out(2L).getDouble(2), "rare tokens score lower")
    assert(out(3L).getLong(1) === 0L && out(3L).isNullAt(2), "empty doc → NULL, not 0")
    // Degenerate corpus: zero tokens anywhere → every doc takes the
    // empty-doc contract (n_tokens=0, NULL score); no NPE on the NULL sum.
    val deg = TextAnalysis.lmScore(
      Seq((1L, ""), (2L, "   "), (3L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(deg.size === 3)
    deg.values.foreach { r => assert(r.getLong(1) === 0L && r.isNullAt(2)) }
  }

  test("embeddingNearDup finds exact duplicates (guaranteed same bucket in every band)") {
    // An LSH-blocked near-dup has recall < 1 for merely-similar pairs by
    // construction (formula-dependent), but an EXACT duplicate shares
    // every sign pattern, so (0,1) must always surface; orthogonal
    // vectors fail the cosine threshold even when buckets collide.
    val nd = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)), // exact dup of 0
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDup(nd, "vec_id", "embedding", threshold = 0.95, planes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("embeddingNearDup candidate exchanges carry ids only, never vectors") {
    val emb = Fixtures.embeddings(s, "/root/testdata/sf0.001")
    val nd = Similarity.embeddingNearDup(emb, "vec_id", "embedding", threshold = 0.3)
    // the candidate join must ship scalar columns only — the point of
    // the id-only design is that no shuffle carries the embedding
    // payload until the per-pair verify re-fetch
    val candJoin = nd.queryExecution.optimizedPlan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.output.map(_.name).forall(n => n == "id_a" || n == "id_b" ||
            n == "band" || n == "bkt") => j
    }
    assert(candJoin.isDefined, "candidate join not found in plan")
    candJoin.foreach { j =>
      val carried = (j.left.output ++ j.right.output).map(_.dataType)
      assert(!carried.exists(_.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
        s"candidate join must not carry array (vector) payloads: $j")
    }
  }

  test("ivfTrainStep: means are member averages; every vector counted once") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(3.0f, 0.0f)),   // both nearest to centroid 10 (cosine ties to smaller id on (1,0))
      (3L, Array(0.0f, 2.0f)))   // nearest to centroid 20
      .toDF("vec_id", "embedding")
    val cents = Seq((10L, Seq(1.0, 0.0)), (20L, Seq(0.0, 1.0)))
    val out = Similarity.ivfTrainStep(corpus, cents, "embedding", dim = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Double](2))).toMap
    assert(out(10L) === ((2L, Seq(2.0, 0.0)))) // mean of (1,0) and (3,0)
    assert(out(20L) === ((1L, Seq(0.0, 2.0))))
    assert(out.values.map(_._1).sum === corpus.count())
  }

  test("portable SQL functions: rolling hash, hash32, sample bucket") {
    val r = s.sql(
      "SELECT graft_portable_rolling_hash('a b c') AS rh," +
        " graft_portable_rolling_hash('c b a') AS rh2," +
        " graft_hash32('hello') AS h," +
        " graft_sample_bucket(42, 'graft') AS b").head()
    assert(r.getLong(0) !== r.getLong(1)) // order-sensitive
    assert(r.getLong(2) === 1564557354L)  // first 8 md5 hex digits of 'hello'
    assert(r.getLong(3) >= 0 && r.getLong(3) < 1000)
    // graft_sample_bucket matches Corpus.sampleByHash's decision
    import graft.ext.Corpus
    val df = s.range(0, 100).toDF("doc_id")
    val viaOp = Corpus.sampleByHash(df, "doc_id", 300, "graft")
      .collect().map(_.getLong(0)).toSet
    df.createOrReplaceTempView("ids")
    val viaSql = s.sql(
      "SELECT doc_id FROM ids WHERE graft_sample_bucket(doc_id, 'graft') < 300")
      .collect().map(_.getLong(0)).toSet
    assert(viaOp === viaSql)
  }

  test("IVF index on disk: probe scans are partition-pruned to the probed lists") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfidx").toString
    val emb = Fixtures.embeddings(s, "/root/testdata/sf0.001")
    val cents = Similarity.collectCentroids(
      emb.filter(col("vec_id") % 61 === 0), "vec_id", "embedding")
    Similarity.writeIvfIndex(
      Similarity.ivfAssign(emb, cents, "embedding"), s"$tmp/idx")
    val idx = Similarity.readIvfIndex(s, s"$tmp/idx")
    val probed = idx.filter(col("centroid_id").isin(cents.take(2).map(_._1): _*))
    // manifest pruning: only the files holding the probed lists are listed
    assert(assertManifestPruned(probed, s"$tmp/idx", "centroid_id") ===
      cents.take(2).map(_._1).toSet)
    val expected = Similarity.ivfAssign(emb, cents, "embedding")
      .filter(col("centroid_id").isin(cents.take(2).map(_._1): _*)).count()
    assert(probed.count() === expected)
    // same search results through the on-disk index
    val q = emb.filter(col("vec_id") % 50 === 0)
    val viaIdx = Similarity.ivfTopK(idx, cents, q,
        "vec_id", "embedding", "vec_id", "embedding", k = 5, nprobe = 3)
      .orderBy("query_id", "rnk").collect().map(_.toString).toSeq
    val direct = Similarity.ivfTopK(Similarity.ivfAssign(emb, cents, "embedding"),
        cents, q, "vec_id", "embedding", "vec_id", "embedding", k = 5, nprobe = 3)
      .orderBy("query_id", "rnk").collect().map(_.toString).toSeq
    assert(viaIdx === direct)
    // the search itself prunes: its scan lists only the probed lists' files
    assertManifestPruned(Similarity.ivfTopK(idx, cents, q, "vec_id", "embedding",
      "vec_id", "embedding", k = 5, nprobe = 3), s"$tmp/idx", "centroid_id", strict = false)
    assertManifestPruned(Similarity.ivfTopK(idx, cents, q.filter(col("vec_id") === 50L),
      "vec_id", "embedding", "vec_id", "embedding", k = 5, nprobe = 2),
      s"$tmp/idx", "centroid_id")
  }

  // The Spark-side probe selection ivfTopK used before probes were picked
  // on the driver: explode the literal codebook per query, keep the top
  // nprobe by TopK.perGroup. Output (query_id, centroid_id, rnk).
  private def joinPlanProbes(queries: org.apache.spark.sql.DataFrame,
      cents: Seq[(Long, Seq[Double])], queryId: String, queryVec: String,
      nprobe: Int): org.apache.spark.sql.DataFrame = {
    val qc = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .select(col("query_id"), col("__qv"), explode(typedLit(cents)).as("__ct"))
      .select(col("query_id"), col("__qv"),
        col("__ct._1").cast("long").as("centroid_id"),
        round(Similarity.cosine(col("__qv"), col("__ct._2")), 6).as("__cdist"))
    graft.ext.TopK.perGroup(qc, Seq("query_id"), col("__cdist"), col("centroid_id"), nprobe,
        idAlias = "centroid_id", scoreAlias = "__cdist")
      .select(col("query_id"), col("centroid_id"), col("rnk"))
  }

  // ivfTopK's earlier plan, kept as the parity twin: the probes join
  // back to the queries and meet the corpus through a broadcast join.
  private def joinPlanIvfTopK(assigned: org.apache.spark.sql.DataFrame,
      cents: Seq[(Long, Seq[Double])], queries: org.apache.spark.sql.DataFrame,
      corpusId: String, corpusVec: String, queryId: String, queryVec: String,
      k: Int, nprobe: Int): org.apache.spark.sql.DataFrame = {
    val probes = joinPlanProbes(queries, cents, queryId, queryVec, nprobe)
      .select(col("query_id"), col("centroid_id"))
      .join(queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv")), Seq("query_id"))
    val scored = assigned
      .select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"), col("centroid_id"))
      .join(broadcast(probes), Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", round(Similarity.cosine(col("__cv"), col("__qv")), 6))
    graft.ext.TopK.perGroup(scored, Seq("query_id"), col("score"), col("neighbor_id"), k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rnk"))
  }

  test("driver probe picker is bit-equal to the explode + TopK.perGroup selection") {
    val rnd = new scala.util.Random(13)
    // one-decimal components: collinear pairs and exact score ties abound
    def vec(d: Int) = Seq.fill(d)(math.round(rnd.nextGaussian() * 10) / 10.0)
    val base = Seq.tabulate(9)(i => (i.toLong * 3, vec(6)))
    // a near-tie with axis 0: cosines 0.6000002 and 0.5999998 round to the same 6-dp score
    def atCos(c: Double) = Seq(1.0, math.sqrt(1 - c * c) / c, 0.0, 0.0, 0.0, 0.0)
    val cents = base ++ Seq(
      (40L, base(2)._2),                    // duplicate vector: exact tie, id decides
      (41L, base(4)._2.map(_ * 3)),         // scaled copy: same cosine up to rounding
      (42L, Seq.fill(6)(0.0)),              // zero centroid scores 0.0
      (43L, atCos(0.6000002)), (44L, atCos(0.5999998)))
    val axis = Array(1.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    def sc(id: Long, raw: Boolean) = graft.expr.NearestCentroid.score(axis,
      cents.find(_._1 == id).get._2.toArray, raw)
    assert(sc(43L, raw = true) != sc(44L, raw = true) && sc(43L, raw = false) == sc(44L, raw = false))
    val qs: Seq[(Long, Seq[java.lang.Double])] =
      Seq.tabulate(40)(i => (i.toLong, vec(6).map(Double.box))) ++ Seq(
        (100L, axis.toSeq.map(Double.box)),
        (101L, Seq.fill(6)(Double.box(0.0))),             // zero query: every score 0.0
        (102L, Seq[java.lang.Double](1.0, null, 0.0, 0.0, 0.0, 0.0)), // null element
        (103L, Seq(1.0, 2.0, 3.0).map(Double.box)),        // ragged: shorter
        (104L, vec(8).map(Double.box)),                    // ragged: longer
        (105L, base(4)._2.map(Double.box)))                // ties 12 vs 41
    val qdf = qs.toDF("qid", "qv")
    for (nprobe <- Seq(1, 3, 8, cents.size + 5)) {
      val viaPlan = joinPlanProbes(qdf, cents, "qid", "qv", nprobe).collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }
      qs.foreach { case (q, v) =>
        val arr = if (v.contains(null)) null else v.map(_.doubleValue).toArray
        assert(Similarity.pickProbes(Seq(arr), cents, nprobe) ===
          viaPlan.getOrElse(q, Seq.empty), s"query $q, nprobe $nprobe")
      }
    }
  }

  test("ivfTopK equals the join-plan twin on edge-case query sets") {
    val emb = Fixtures.embeddings(s, "/root/testdata/sf0.001")
    val cents = Similarity.collectCentroids(
      emb.filter(col("vec_id") % 61 === 0), "vec_id", "embedding")
    val assigned = Similarity.ivfAssign(emb, cents, "embedding")
    def rows(ids: Long*) = emb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val vecType = emb.schema("embedding").dataType
    val q = rows(50L, 100L)                                  // query ids that are corpus ids
      .unionByName(rows(150L).select(lit(null).cast("long").as("qid"), col("qv"))) // null id
      .unionByName(Seq(900001L).toDF("qid").select(col("qid"),
        lit(null).cast(vecType).as("qv")))                   // null vector
      .unionByName(s.sql("SELECT 900002L AS qid, array(0.5F, 0.5F, 0.0F) AS qv")) // ragged
      .unionByName(s.sql("SELECT 900003L AS qid, array(1.0F, CAST(NULL AS FLOAT)" +
        (", 0.0F" * 62) + ") AS qv"))                        // null element
      .unionByName(rows(200L)).unionByName(rows(250L).select(lit(200L).as("qid"), col("qv")))
      .unionByName(rows(300L)).unionByName(rows(300L))      // duplicate ids
      .unionByName(s.sql("SELECT 400L AS qid, CAST(NULL AS ARRAY<FLOAT>) AS qv"))
      .unionByName(rows(400L))                               // a duplicate id with a null vector
    for ((k, nprobe) <- Seq((5, 1), (5, 3), (10000, 2))) // k = 10000 exceeds every candidate set
      assertSameRows(
        Similarity.ivfTopK(assigned, cents, q, "vec_id", "embedding", "qid", "qv", k, nprobe),
        joinPlanIvfTopK(assigned, cents, q, "vec_id", "embedding", "qid", "qv", k, nprobe),
        s"k=$k nprobe=$nprobe")
  }

  test("ivfTopK over a parquet query set runs at most 3 Spark jobs") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfjobs").toString
    val emb = Fixtures.embeddings(s, "/root/testdata/sf0.001")
    val cents = Similarity.collectCentroids(
      emb.filter(col("vec_id") % 61 === 0), "vec_id", "embedding")
    val assigned = Similarity.ivfAssign(emb, cents, "embedding")
    emb.filter(col("vec_id") % 50 === 0).limit(8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .write.parquet(s"$tmp/q")
    val q = s.read.parquet(s"$tmp/q")
    // the query collect, then the scan's shuffle stage and its result stage
    val jobs = jobsDuring(Similarity.ivfTopK(assigned, cents, q, "vec_id", "embedding",
      "qid", "qvec", k = 10, nprobe = 4).collect())
    assert(jobs.size <= 3, jobs.map(_._1).mkString("\n"))
    // the join-plan twin pays for its probe plan and broadcast in more jobs
    val twinJobs = jobsDuring(joinPlanIvfTopK(assigned, cents, q, "vec_id", "embedding",
      "qid", "qvec", k = 10, nprobe = 4).collect())
    assert(twinJobs.size > 3, twinJobs.map(_._1).mkString("\n"))
  }

  test("an index written before the TxTable layout fails with its rebuild call") {
    val tmp = java.nio.file.Files.createTempDirectory("legacyidx").toString
    Seq((1L, 2L)).toDF("id", "centroid_id")
      .write.partitionBy("centroid_id").parquet(s"$tmp/ivf")
    val ivf = intercept[IllegalArgumentException](Similarity.readIvfIndex(s, s"$tmp/ivf"))
    assert(ivf.getMessage.contains("rebuild it with Similarity.writeIvfIndex"))
    Seq((1L, 0, 7L, 7L)).toDF("id", "band", "bucket", "pb")
      .write.partitionBy("pb").parquet(s"$tmp/sig/buckets")
    val sig = intercept[IllegalArgumentException](
      Dedup.dedupAgainstIndex(docs, "text", "doc_id", s"$tmp/sig"))
    assert(sig.getMessage.contains("rebuild it with Dedup.writeSignatureIndex"))
  }

  test("IVF+PQ serving: pruned code-only scan, results match restricted direct scoring") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfpq").toString
    val emb = Fixtures.embeddings(s, "/root/testdata/sf0.001")
    val cents = Similarity.collectCentroids(
      emb.filter(col("vec_id") % 61 === 0), "vec_id", "embedding")
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", cents, m = 4, s"$tmp/idx")
    val q = emb.filter(col("vec_id") % 50 === 0)
    val got = Similarity.ivfPqTopK(Similarity.readIvfIndex(s, s"$tmp/idx"), q,
      "vec_id", "embedding", cents, m = 4, k = 5, nprobe = 2)

    val idxScans = fileScans(got.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("idx")))
    assert(idxScans.nonEmpty, "expected a scan over the IVF+PQ index")
    // manifest-pruned to the files holding the probed inverted lists;
    // these 10 queries probe lists in every file, one query in fewer
    assertManifestPruned(got, s"$tmp/idx", "centroid_id", strict = false)
    assertManifestPruned(Similarity.ivfPqTopK(Similarity.readIvfIndex(s, s"$tmp/idx"),
      q.filter(col("vec_id") === 50L), "vec_id", "embedding", cents, m = 4, k = 5,
      nprobe = 2), s"$tmp/idx", "centroid_id")
    // code-only: the scan reads no float/double (vector) column
    idxScans.foreach { f =>
      val leafTypes = f.schema.fields.flatMap { fld =>
        fld.dataType match {
          case org.apache.spark.sql.types.ArrayType(et, _) => Seq(et)
          case t => Seq(t)
        }
      }
      assert(!leafTypes.exists(t =>
        t == org.apache.spark.sql.types.FloatType ||
        t == org.apache.spark.sql.types.DoubleType),
        s"candidate scan must be code-only, read schema was ${f.schema.simpleString}")
    }

    // equivalence: direct (no-index) formulation — PQ-code the corpus,
    // restrict to each query's probed lists, ADC-score, top-k
    val assigned = Similarity.ivfAssign(emb, cents, "embedding")
    val codes = Similarity.pqCodes(emb, "vec_id", "embedding", cents, m = 4)
      .join(assigned.select(col("vec_id"), col("centroid_id")), Seq("vec_id"))
    val direct = Similarity.ivfPqTopK(
      codes.select(col("vec_id").as("id"), col("codes"), col("centroid_id")),
      q, "vec_id", "embedding", cents, m = 4, k = 5, nprobe = 2)
    assertSameRows(got, direct, "on-disk index vs in-memory codes")
  }

  test("IVF+PQ data-space serving is row-identical to the literal-codebook path") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfpqds").toString
    val emb = Fixtures.embeddings(s, "/root/testdata/sf0.001")
    val cbDf = emb.filter(col("vec_id") % 61 === 0)
    val cents = Similarity.collectCentroids(cbDf, "vec_id", "embedding")
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", cents, m = 4, s"$tmp/idx")
    val q = emb.filter(col("vec_id") % 50 === 0)
    val literal = Similarity.ivfPqTopK(Similarity.readIvfIndex(s, s"$tmp/idx"), q,
      "vec_id", "embedding", cents, m = 4, k = 5, nprobe = 2)
    val dataSpace = Similarity.ivfPqTopKDataSpace(
      Similarity.readIvfIndex(s, s"$tmp/idx"), q, "vec_id", "embedding",
      cbDf, "vec_id", "embedding", m = 4, k = 5, nprobe = 2)
    // exact equality, scores included: the data-space fold reproduces
    // PqAdcScore's ascending-subspace accumulation bit-for-bit
    assertSameRows(literal, dataSpace, "literal vs data-space ADC serving")
  }

  test("data-space serving fails loudly on a codebook/index mismatch") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfpqmm").toString
    val emb = Fixtures.embeddings(s, "/root/testdata/sf0.001")
    val cbDf = emb.filter(col("vec_id") % 61 === 0)
    val cents = Similarity.collectCentroids(cbDf, "vec_id", "embedding")
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", cents, m = 4, s"$tmp/idx")
    val q = emb.filter(col("vec_id") % 50 === 0)
    // a strict SUBSET codebook: stored codes outside it find no distance
    // row — the guard must raise, never return a fewer-subspace ranking
    val subset = cbDf.filter(col("vec_id") =!= cents.last._1)
    val ex = intercept[Exception] {
      Similarity.ivfPqTopKDataSpace(
        Similarity.readIvfIndex(s, s"$tmp/idx"), q, "vec_id", "embedding",
        subset, "vec_id", "embedding", m = 4, k = 5, nprobe = 2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("absent from the passed codebook")),
      s"expected the mismatch guard, got: $ex")
  }

  test("data-space serving fails loudly when a candidate misses the codebook " +
      "in ALL m subspaces (not silently dropped)") {
    // hand-built index: candidate 42's stored codes reference cid 99,
    // absent from the codebook in every subspace — an inner dsubs join
    // would produce ZERO rows for it, dropping it from the ranking with
    // no error; the left-join + matched-count guard must raise instead
    val cb = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cid", "cv")
    val q = Seq((100L, Seq(1.0, 0.1, 0.0, 0.0))).toDF("query_id", "qv")
    val index = Seq(
      (7L, Seq(1L, 2L, 1L, 2L), 1L),   // fully matched — scores fine alone
      (42L, Seq(99L, 99L, 99L, 99L), 1L)) // fully UNmatched — must raise
      .toDF("id", "codes", "centroid_id")
    val ex = intercept[Exception] {
      Similarity.ivfPqTopKDataSpace(index, q, "query_id", "qv",
        cb, "cid", "cv", m = 4, k = 5, nprobe = 2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(m =>
      m.contains("scored on 0 of 4 subspaces") &&
        m.contains("absent from the passed codebook")),
      s"expected the all-subspace mismatch guard, got: $ex")
    // and without the poisoned candidate the same plan serves normally
    val ok = Similarity.ivfPqTopKDataSpace(
      index.filter(col("id") =!= 42L), q, "query_id", "qv",
      cb, "cid", "cv", m = 4, k = 5, nprobe = 2).collect()
    assert(ok.length === 1 && ok.head.getAs[Long]("neighbor_id") === 7L)
  }

  test("readIvfPqCodebook rejects a _codebook sidecar that disagrees with " +
      "the codebook_fp sealed in _params") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfpqfp").toString
    val emb = Fixtures.embeddings(s, "/root/testdata/sf0.001")
    val cbDf = emb.filter(col("vec_id") % 61 === 0)
    val cents = Similarity.collectCentroids(cbDf, "vec_id", "embedding")
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", cents, m = 4, s"$tmp/idx")
    // untampered sidecar verifies clean
    assert(Similarity.readIvfPqCodebook(s, s"$tmp/idx").count() === cents.size.toLong)
    // tamper: perturb one centroid component and rewrite the sidecar
    // (collect first — overwriting a parquet path being lazily read from
    // would truncate it before the scan)
    val rows = s.read.parquet(s"$tmp/idx/_codebook")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val tampered = rows.toSeq.map { case (cid, cv) =>
      if (cid == rows.head._1) (cid, cv.updated(0, cv.head + 0.25)) else (cid, cv)
    }
    tampered.toDF("cid", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/idx/_codebook")
    val ex = intercept[IllegalArgumentException] {
      Similarity.readIvfPqCodebook(s, s"$tmp/idx")
    }
    assert(ex.getMessage.contains("sealed in _params"),
      s"expected the fingerprint guard, got: $ex")
  }

  private def liveFiles(dir: String): Set[String] =
    graft.sources.TxTable.latest(dir).get.files.toSet

  /** The folded buckets (`pb`) a batch's signature rows land in: its own
    * one-shot index's.
    */
  private def pbsOf(batch: org.apache.spark.sql.DataFrame): Set[Long] = {
    val solo = java.nio.file.Files.createTempDirectory("solo").toString
    Dedup.writeSignatureIndex(batch, "text", "doc_id", solo)
    graft.sources.TxTable.read(s, s"$solo/buckets").select("pb").distinct()
      .collect().map(_.getLong(0)).toSet
  }

  test("signature-index append writes only the batch's folded-bucket partitions") {
    val sf = "/root/testdata/sf0.001"
    val all = Fixtures.documents(s, sf)
    val day1 = all.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1)
    val day2 = all.filter(col("doc_id") % 5 === 1)
    val probe = all.filter(col("doc_id") % 5 === 0)
    val tmp = java.nio.file.Files.createTempDirectory("sigapp").toString

    Dedup.writeSignatureIndex(day1, "text", "doc_id", s"$tmp/idx")
    val before = liveFiles(s"$tmp/idx/buckets")
    Dedup.appendToSignatureIndex(day2, "text", "doc_id", s"$tmp/idx")
    // append never rewrites: every earlier file stays listed, and the new
    // files hold only day-2's folded buckets
    assertAppendConfined(s"$tmp/idx/buckets", before, "pb", pbsOf(day2))

    // probe over the appended index ≡ probe over a one-shot rebuild
    Dedup.writeSignatureIndex(all.filter(col("doc_id") % 5 =!= 0),
      "text", "doc_id", s"$tmp/full")
    val viaAppend = Dedup.dedupAgainstIndex(probe, "text", "doc_id",
      s"$tmp/idx", threshold = 0.5)
    val viaFull = Dedup.dedupAgainstIndex(probe, "text", "doc_id",
      s"$tmp/full", threshold = 0.5)
    assertSameRows(viaAppend, viaFull, "appended index vs one-shot rebuild")
    assertManifestPruned(viaAppend, s"$tmp/idx/buckets", "pb", strict = false)
    val one = probe.filter(col("doc_id") === 5L)
    assertManifestPruned(Dedup.dedupAgainstIndex(one, "text", "doc_id",
      s"$tmp/idx", threshold = 0.5), s"$tmp/idx/buckets", "pb")
  }

  test("IVF+PQ append: only its coarse lists grow, probe ≡ rebuild, params guarded") {
    val emb = Fixtures.embeddings(s, "/root/testdata/sf0.001")
    val cents = Similarity.collectCentroids(
      emb.filter(col("vec_id") % 61 === 0), "vec_id", "embedding")
    val day1 = emb.filter(col("vec_id") % 3 =!= 0)
    val day2 = emb.filter(col("vec_id") % 3 === 0)
    val tmp = java.nio.file.Files.createTempDirectory("ivfpqapp").toString

    Similarity.writeIvfPqIndex(day1, "vec_id", "embedding", cents, m = 4, s"$tmp/idx")
    val before = liveFiles(s"$tmp/idx")
    Similarity.appendToIvfPqIndex(day2, "vec_id", "embedding", cents, m = 4, s"$tmp/idx")
    val day2Lists = Similarity.ivfAssign(day2, cents, "embedding")
      .select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assertAppendConfined(s"$tmp/idx", before, "centroid_id", day2Lists)

    // probe equivalence vs a one-shot rebuild over the same total corpus
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", cents, m = 4, s"$tmp/full")
    val q = emb.filter(col("vec_id") % 50 === 0)
    val viaAppend = Similarity.ivfPqTopK(Similarity.readIvfIndex(s, s"$tmp/idx"),
      q, "vec_id", "embedding", cents, m = 4, k = 5, nprobe = 2)
    val viaFull = Similarity.ivfPqTopK(Similarity.readIvfIndex(s, s"$tmp/full"),
      q, "vec_id", "embedding", cents, m = 4, k = 5, nprobe = 2)
    assertSameRows(viaAppend, viaFull, "appended IVF+PQ index vs rebuild")
    assertManifestPruned(viaAppend, s"$tmp/idx", "centroid_id", strict = false)
    assertManifestPruned(Similarity.ivfPqTopK(Similarity.readIvfIndex(s, s"$tmp/idx"),
      q.filter(col("vec_id") === 50L), "vec_id", "embedding", cents, m = 4, k = 5,
      nprobe = 2), s"$tmp/idx", "centroid_id")

    // a mismatched codebook/m must fail fast, not silently mix codes
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToIvfPqIndex(day2, "vec_id", "embedding", cents,
        m = 2, s"$tmp/idx")
    }
    assert(e.getMessage.contains("incomparable codes"))
  }

  test("NearestCentroid kernel is bit-identical to the columnar fold") {
    val emb = Fixtures.embeddings(s, "/root/testdata/sf0.001")
    val cents = Similarity.collectCentroids(
      emb.filter(col("vec_id") % 61 === 0), "vec_id", "embedding")
    val both = emb.select(col("vec_id"),
      Similarity.nearestCentroid(col("embedding"), cents).as("k"),
      Similarity.nearestCentroidColumnar(col("embedding"), cents).as("c"))
    assert(both.filter(!(col("k") <=> col("c"))).count() === 0)

    // edge cases: ragged vector and null element → NULL from both forms
    val edge = Seq(
      (1L, Seq(1.0, 2.0)),                       // ragged (dim mismatch)
      (2L, null.asInstanceOf[Seq[Double]]))      // null vector
      .toDF("id", "v")
      .unionByName(s.sql("SELECT 3L AS id, array(1.0, CAST(NULL AS DOUBLE)" +
        (", 0.0" * 62) + ") AS v"))
    val e = edge.select(col("id"),
      Similarity.nearestCentroid(col("v"), cents).as("k"),
      Similarity.nearestCentroidColumnar(col("v"), cents).as("c"))
    assert(e.filter(!(col("k") <=> col("c"))).count() === 0)
    assert(e.filter(col("k").isNotNull).count() === 0)
  }

  test("ivfTrain converges to the two directional clusters and is deterministic") {
    // two tight angular clusters around (1,0) and (0,1)
    val corpus = (Seq.tabulate(10)(i => (i.toLong, Array(1.0f, 0.05f * i))) ++
      Seq.tabulate(10)(i => (100L + i, Array(0.05f * i, 1.0f))))
      .toDF("vec_id", "embedding")
    val cb1 = Similarity.ivfTrain(corpus, "vec_id", "embedding", k = 2, iters = 4)
    val cb2 = Similarity.ivfTrain(corpus, "vec_id", "embedding", k = 2, iters = 4)
    assert(cb1 === cb2) // deterministic end to end
    // after training, assignment must separate the two clusters
    val assigned = Similarity.ivfAssign(corpus, cb1, "embedding")
      .select(col("vec_id"), col("centroid_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byCluster = assigned.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byCluster.size === 2)
    assert(byCluster.values.toSet ===
      Set((0L to 9L).toSet, (100L to 109L).toSet))
  }

  test("native cosine expression: bit-identical to the Column formulation, SQL-registered") {
    // bit-equality over real embeddings (codegen path exercised by the scan)
    val emb = Fixtures.embeddings(s, "/root/testdata/sf0.001").limit(100)
    val both = emb.crossJoin(emb.select(col("vec_id").as("id2"), col("embedding").as("e2")).limit(5))
      .select(
        Similarity.cosine(col("embedding"), col("e2")).as("native"),
        Similarity.cosineColumnar(col("embedding"), col("e2")).as("columnar"))
    assert(both.filter(!(col("native") <=> col("columnar"))).count() === 0)
    // SQL surface via GraftExtensions
    val r = s.sql("SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c," +
        " graft_cosine(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS o," +
        " graft_cosine(array(0.0d), array(0.0d)) AS z").head()
    assert(r.getDouble(0) === 1.0)
    assert(r.getDouble(1) === 0.0)
    assert(r.getDouble(2) === 0.0)
    // length mismatch and null element → null
    val n = s.sql("SELECT graft_cosine(array(1.0d), array(1.0d, 2.0d)) AS a," +
        " graft_cosine(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d)) AS b").head()
    assert(n.isNullAt(0) && n.isNullAt(1))
  }

  test("multimodal plumbing: fake payload → features and frames, meta is exact") {
    import Multimodal._
    val media = withFakePayload(docs.filter(col("doc_id") <= 2), "doc_id", "text")
    val meta = mediaMeta(media).orderBy("media_id").collect()
    assert(meta.length === 2)
    assert(meta.head.getAs[Int]("byte_len") === docs.head().getString(1).getBytes("UTF-8").length)
    val typed = media.as[MediaRecord](org.apache.spark.sql.Encoders.product[MediaRecord])
    val feats = extractFeatures(typed, dim = 8).collect()
    assert(feats.forall(_.features.length == 8))
    // determinism: same payload → same checksum
    val again = extractFeatures(typed, dim = 8).collect()
    assert(feats.map(_.checksum).toSeq === again.map(_.checksum).toSeq)
    val frames = sampleFrames(media, 4)
    assert(frames.count() === 8)
  }

  test("repetitionStats: duplicate-token fraction and top-2-gram share") {
    val df = Seq(
      (1L, "a a a b"),   // 4 tokens, 2 distinct → dup 0.5; 2-grams: "a a"×2, "a b" → top 2/3
      (2L, "x y z"),     // no repeats → dup 0; all 2-grams unique → top 1/2
      (3L, "solo"),      // single token → no 2-grams at all
      (4L, ""))          // empty → all zeros
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((4, 0.5, 0.666667)))
    assert(out(2L) === ((3, 0.0, 0.5)))
    assert(out(3L) === ((1, 0.0, 0.0)))
    assert(out(4L) === ((0, 0.0, 0.0)))
  }

  test("piiRedact: counts and masks emails and IPv4 literals") {
    val df = Seq(
      (1L, "mail bob.smith+x@example.co.uk or root@10.0.0.1 from 192.168.1.254 ok"),
      (2L, "no pii here, just 1.2 numbers and at signs @ alone"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.piiRedact(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    val (e1, ip1, red1) = out(1L)
    // root@10.0.0.1 is NOT an email (TLD must be alphabetic) but IS an IP hit
    assert(e1 === 1 && ip1 === 2)
    assert(red1 === "mail <EMAIL> or root@<IP> from <IP> ok")
    assert(out(2L) === ((0, 0, "no pii here, just 1.2 numbers and at signs @ alone")))
  }

  test("pqAssign: per-subspace nearest codeword, ties to lower id, zero shuffle") {
    val cents = Seq(
      (1L, Seq(0.0, 0.0, 10.0, 10.0)),
      (2L, Seq(5.0, 5.0, 0.0, 0.0)))
    val df = Seq(
      (10L, Seq(0.4f, 0.1f, 9.0f, 9.0f)),   // sub0 → cw1, sub1 → cw1
      (20L, Seq(5.0f, 5.0f, 0.0f, 1.0f)),   // sub0 → cw2, sub1 → cw2
      (30L, Seq(2.5f, 2.5f, 5.0f, 5.0f)))   // sub0 tie (12.5 both) → cw1
      .toDF("vec_id", "embedding")
    val out = Similarity.pqAssign(df, "vec_id", "embedding", cents, m = 2)
    val codes = out.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(codes((10L, 0)) === ((1L, 0.17)))
    assert(codes((10L, 1)) === ((1L, 2.0)))
    assert(codes((20L, 0)) === ((2L, 0.0)))
    assert(codes((20L, 1)) === ((2L, 1.0)))
    assert(codes((30L, 0))._1 === 1L) // tie breaks to the smaller codeword id
    // narrow map: no exchange anywhere in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"pqAssign plan should be shuffle-free:\n$plan")
  }

  test("bandJoin: containment matches at boundaries, across buckets; no duplicates") {
    val pts = Seq((1L, 5.0), (2L, 10.0), (3L, 19.999), (4L, 25.0), (5L, 47.0))
      .toDF("pid", "p")
    val iv = Seq(
      (100L, 5.0, 20.0),   // spans buckets 0..2 at width 10; matches 1,2,3 (both bounds inclusive)
      (200L, 24.0, 26.0),  // matches 4
      (300L, 60.0, 50.0))  // inverted → matches nothing
      .toDF("band_id", "lo", "hi")
    val out = graft.ext.RangeJoin.bandJoin(pts, iv, "p", "lo", "hi", bucketWidth = 10.0)
      .select("pid", "band_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(out === Seq((1L, 100L), (2L, 100L), (3L, 100L), (4L, 200L)))
    // cross-check against the direct theta join on random data
    val rnd = new scala.util.Random(31)
    val rpts = Seq.tabulate(200)(i => (i.toLong, rnd.nextDouble() * 100)).toDF("pid", "p")
    val riv = Seq.tabulate(40) { i =>
      val lo = rnd.nextDouble() * 100
      (i.toLong, lo, lo + rnd.nextDouble() * 15)
    }.toDF("band_id", "lo", "hi")
    val bucketed = graft.ext.RangeJoin.bandJoin(rpts, riv, "p", "lo", "hi", bucketWidth = 7.0)
      .select("pid", "band_id")
    val theta = rpts.join(riv, col("p") >= col("lo") && col("p") <= col("hi"))
      .select("pid", "band_id")
    assertSameRows(bucketed, theta, "bandJoin vs theta join")
  }

  test("overlapJoin: interval×interval equals theta join, one row per pair, any width") {
    val left = Seq(
      (1L, 0.0, 10.0),    // overlaps A (boundary touch at 10), B
      (2L, 35.0, 36.0),   // overlaps nothing
      (3L, 50.0, 90.0),   // spans many buckets; overlaps C twice? no — once
      (4L, 9.0, 5.0))     // inverted → nothing
      .toDF("lid", "ls", "le")
    val right = Seq(
      (100L, 10.0, 20.0), // touches 1 at the closed boundary
      (200L, 3.0, 4.0),   // inside 1
      (300L, 60.0, 70.0)) // inside 3
      .toDF("rid", "rs", "re")
    val out = graft.ext.RangeJoin.overlapJoin(left, right,
        "ls", "le", "rs", "re", bucketWidth = 8.0)
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(out === Seq((1L, 100L), (1L, 200L), (3L, 300L)))
    // randomized cross-check vs the direct theta join, two bucket widths —
    // results must be width-independent and duplicate-free
    val rnd = new scala.util.Random(47)
    def intervals(n: Int, pre: String) = Seq.tabulate(n) { i =>
      val lo = rnd.nextDouble() * 100
      (i.toLong, lo, lo + rnd.nextDouble() * 12)
    }.toDF(s"${pre}id", s"${pre}lo", s"${pre}hi")
    val l = intervals(150, "a")
    val r = intervals(60, "b")
    val theta = l.join(r, col("alo") <= col("bhi") && col("blo") <= col("ahi"))
      .select("aid", "bid")
    for (w <- Seq(5.0, 19.0)) {
      val bucketed = graft.ext.RangeJoin.overlapJoin(l, r, "alo", "ahi", "blo", "bhi", w)
        .select("aid", "bid")
      assertSameRows(bucketed, theta, s"overlapJoin(width=$w) vs theta join")
      assert(bucketed.count() === bucketed.distinct().count(),
        s"width=$w produced duplicate pairs")
    }
  }

  test("PqEncode kernel bit-identical to the columnar argmin fold on random vectors") {
    val rnd = new scala.util.Random(23)
    val cents = (0 until 9)
      .map(i => ((i * 7 + 3).toLong, Seq.fill(16)(rnd.nextDouble() * 4 - 2)))
      .toVector.sortBy(_._1)
    val df = Seq.tabulate(50)(i => (i.toLong, Seq.fill(16)(rnd.nextDouble() * 4 - 2)))
      .toDF("id", "v")
    val kernel = Similarity.pqAssign(df, "id", "v", cents, m = 4)
    val columnar = df.select(col("id"), posexplode(array(
        Similarity.pqBestColumnar(col("v").cast("array<double>"), cents, 4)
          .zipWithIndex.map { case (b, i) =>
            struct(lit(i).as("sub_i"), b.getField("c").cast("long").as("code"),
              round(b.getField("d"), 6).as("dist2"))
          }: _*)).as(Seq("pos", "sc")))
      .select(col("id"), col("sc.sub_i").as("sub_i"),
        col("sc.code").as("code"), col("sc.dist2").as("dist2"))
    assertSameRows(kernel, columnar, "PqEncode vs columnar")
  }

  test("pqTopK: ADC distances are sums of query-to-codeword subspace distances") {
    val cents = Seq(
      (1L, Seq(0.0, 0.0, 10.0, 10.0)),
      (2L, Seq(5.0, 5.0, 0.0, 0.0)))
    val corpus = Seq(
      (10L, Seq(0.4f, 0.1f, 9.0f, 9.0f)),  // codes (1, 1)
      (20L, Seq(5.0f, 5.0f, 0.0f, 1.0f)),  // codes (2, 2)
      (30L, Seq(2.5f, 2.5f, 5.0f, 5.0f)))  // codes (1, 1) — sub1 ties → cw1
      .toDF("vec_id", "embedding")
    val queries = Seq((99L, Seq(0.0f, 0.0f, 10.0f, 10.0f))) // = codeword 1
      .toDF("vec_id", "embedding")
    val codes = Similarity.pqCodes(corpus, "vec_id", "embedding", cents, m = 2)
    val out = Similarity.pqTopK(codes, queries, "vec_id", "codes",
        "vec_id", "embedding", cents, m = 2, k = 3)
      .orderBy("rnk")
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    // docs 10 and 30 both encode to (cw1, cw1): ADC distance 0 from the
    // query (which IS codeword 1); tie breaks on id. doc 20 → (cw2, cw2):
    // ||(0,0)-(5,5)||² + ||(10,10)-(0,0)||² = 50 + 200
    assert(out === Seq((10L, 0.0, 1), (30L, 0.0, 2), (20L, 250.0, 3)))
  }

  test("quantizeInt8: codes, scale, and reconstruction error") {
    val df = Seq(
      (1L, Seq(1.0f, -1.0f, 0.5f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))) // zero vector → scale 1.0, zero codes
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(df, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getSeq[Long](3)))).toMap
    val (sc1, err1, codes1) = out(1L)
    assert(sc1 === 127.0)
    // floor(0.5*127 + 0.5) = floor(64.0) = 64
    assert(codes1 === Seq(127L, -127L, 64L, 0L))
    // only the 0.5 component has error: |0.5 - 64/127| = 1/254
    assert(math.abs(err1 - 1.0 / 254.0) < 1e-6)
    assert(out(2L) === ((1.0, 0.0, Seq(0L, 0L, 0L, 0L))))
  }
}
