package graft

import graft.ext._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalacheck.Prop.propBoolean

/** Null-adversarial properties over the LLM-pipeline families. The
  * round-5 advice pass showed null-handling bugs hide at the
  * typed-aggregator / kernel boundary (3 of its 5 findings), so every
  * family gets a generator that mixes degenerate rows — null / empty /
  * whitespace text, null blocking keys, null / empty / null-element /
  * ragged vectors, null sketch keys and null GROUP keys — into normal
  * data, and asserts the operators' degenerate contracts:
  *
  *  - dedup: null-text docs never pair (no shingles → no candidates);
  *    null-BLOCK docs never pair (equi-join null semantics); empty and
  *    whitespace-only docs are mutual exact-duplicates (their shingle
  *    set is the single empty shingle — deterministic, disclosed);
  *    exactDedup accounts for every input row exactly once (null texts
  *    group under the null fingerprint).
  *  - similarity: degenerate vectors assign NULL centroids, never
  *    surface as neighbors, survive semantic dedup (they pair with
  *    nothing), and quantize to the whole-row-null contract.
  *  - sketches: estimates are invariant to null keys (a null key is no
  *    distinct value); null GROUP keys form their own group, like SQL
  *    GROUP BY; null ticks are not measurements.
  *
  * Cases are few but adversarial — Spark actions dominate runtime, and
  * the point is the invariant, not volume (same budget rationale as
  * [[CdcPropertiesSpec]]).
  */
class NullAdversarialSpec extends SparkSpecBase {

  private lazy val s = spark
  import s.implicits._

  private def checkProp(prop: Prop, minSuccessful: Int): Unit = {
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(minSuccessful), prop)
    assert(res.passed, s"property failed: ${res.status}")
  }

  // ------------------------------------------------------------ dedup

  private val words =
    Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")

  private val genText: Gen[String] = Gen.frequency(
    4 -> (for {
      n <- Gen.choose(4, 9)
      ws <- Gen.listOfN(n, Gen.oneOf(words))
    } yield ws.mkString(" ")),
    1 -> Gen.const(""),
    1 -> Gen.const("   "),
    1 -> Gen.const(null))

  private val genLang: Gen[String] =
    Gen.frequency(3 -> Gen.oneOf("en", "fr"), 1 -> Gen.const(null))

  /** Small corpora with a forced duplicate of row 0 (so pair emission has
    * work even when the random texts happen to be distinct).
    */
  private val genDocs: Gen[List[(Long, String, String)]] = for {
    n <- Gen.choose(4, 8)
    rows <- Gen.listOfN(n, for { l <- genLang; t <- genText } yield (l, t))
  } yield {
    val base = rows.zipWithIndex.map { case ((l, t), i) => (i.toLong, l, t) }
    base :+ ((base.size.toLong, base.head._2, base.head._3))
  }

  test("dedup family: null text/blocks never pair; every op deterministic") {
    val prop = Prop.forAllNoShrink(genDocs) { rows =>
      val df = rows.toDF("doc_id", "lang", "text").repartition(4)
      val nullText = rows.collect { case (id, _, t) if t == null => id }.toSet
      val nullLang = rows.collect { case (id, l, _) if l == null => id }.toSet

      val ex = Dedup.exactDedup(df, "text", "doc_id").collect()
      def pairs(d: DataFrame): Set[(Long, Long)] =
        d.select(col(d.columns(0)), col(d.columns(1)))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val mh = pairs(Dedup.minhashLshDedup(df, "text", "doc_id",
        threshold = 0.5, mode = HashMode.Portable))
      val mh2 = pairs(Dedup.minhashLshDedup(df, "text", "doc_id",
        threshold = 0.5, mode = HashMode.Portable))
      // the default mode (Engine: seeded xxhash64 kernels)
      val mhE = pairs(Dedup.minhashLshDedup(df, "text", "doc_id", threshold = 0.5))
      val mhE2 = pairs(Dedup.minhashLshDedup(df, "text", "doc_id", threshold = 0.5))
      val sh = pairs(Dedup.simhashDedup(df, "text", "doc_id",
        maxHamming = 3, mode = HashMode.Portable))
      val ng = pairs(Dedup.ngramJaccardDedup(df, "text", "doc_id", col("lang"),
        n = 3, threshold = 0.2, saltFanout = 4, maxBlockRows = Some(1000L)))
      val ct = pairs(Dedup.containmentPairs(df, "text", "doc_id",
        n = 3, threshold = 0.5, maxDf = 10))
      val all = mh ++ mhE ++ sh ++ ng ++ ct

      (ex.map(_.getLong(2)).sum == rows.size) :|
        s"exactDedup covers every row once (got ${ex.map(_.getLong(2)).sum} of ${rows.size})" &&
      (mh == mh2) :| "minhash deterministic across runs" &&
      (mhE == mhE2) :| "engine-mode minhash deterministic across runs" &&
      all.forall { case (a, b) => a < b } :| "pair emission ordered id_a < id_b" &&
      all.forall { case (a, b) => !nullText(a) && !nullText(b) } :|
        s"null-text docs must never pair ($all vs null set $nullText)" &&
      ng.forall { case (a, b) => !nullLang(a) && !nullLang(b) } :|
        s"null-block docs must never ngram-pair ($ng vs null langs $nullLang)"
    }
    checkProp(prop, 6)
  }

  // ------------------------------------------------------- similarity

  /** Vector corpus via SQL VALUES so null ELEMENTS are constructible:
    * kinds 0=normal, 1=null vector, 2=empty, 3=null element, 4=ragged.
    */
  private def vecDf(kinds: List[Int]): DataFrame = {
    def lit4(seed: Int): String = {
      val r = new scala.util.Random(seed)
      Seq.fill(4)(f"CAST(${r.nextDouble()}%.3f AS DOUBLE)").mkString("array(", ", ", ")")
    }
    val rows = kinds.zipWithIndex.map { case (k, i) =>
      val v = k match {
        case 0 => lit4(i)
        case 1 => "CAST(NULL AS ARRAY<DOUBLE>)"
        case 2 => "CAST(array() AS ARRAY<DOUBLE>)"
        case 3 => "array(CAST(1.0 AS DOUBLE), CAST(NULL AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE))"
        case _ => "array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE))"
      }
      s"SELECT ${i}L AS vec_id, $v AS embedding"
    }
    // duplicate of vector 0 under a fresh id: a guaranteed near-dup pair
    val dup = s"SELECT ${kinds.size}L AS vec_id, ${lit4(0)} AS embedding"
    s.sql((rows :+ dup).mkString(" UNION ALL "))
  }

  private val genKinds: Gen[List[Int]] = for {
    n <- Gen.choose(3, 6)
    ks <- Gen.listOfN(n, Gen.frequency(3 -> 0, 1 -> 1, 1 -> 2, 1 -> 3, 1 -> 4))
  } yield 0 :: ks // row 0 always normal (it gets the forced duplicate)

  test("similarity family: degenerate vectors assign/score/quantize to NULL, never as neighbors") {
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0, 0.0)))
    val prop = Prop.forAllNoShrink(genKinds) { kinds =>
      val df = vecDf(kinds)
      val degenerate = kinds.zipWithIndex.collect { case (k, i) if k != 0 => i.toLong }.toSet
      val normals = (0 until kinds.size).map(_.toLong).toSet -- degenerate + kinds.size.toLong

      val assigned = Similarity.ivfAssign(df, cents, "embedding")
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      val queries = df.filter(col("vec_id") === 0L)
      val bf = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding",
        "vec_id", "embedding", k = kinds.size + 1)
        .collect().map(_.getLong(1)).toSet
      val qz = Similarity.quantizeInt8(df, "vec_id", "embedding")
        .collect().map(r => r.getLong(0) -> r).toMap
      val sd = Similarity.semanticDedup(df, "vec_id", "embedding", cents, threshold = 0.99)
        .collect().map(_.getLong(0)).toSet
      val nd = Similarity.embeddingNearDup(df, "vec_id", "embedding",
        threshold = 0.95, planes = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      degenerate.forall(id => assigned(id).isEmpty) :|
        s"degenerate vectors must assign NULL centroid ($assigned)" &&
      normals.forall(id => assigned(id).isDefined) :|
        s"normal vectors must assign a centroid ($assigned)" &&
      bf.intersect(degenerate).isEmpty :|
        s"degenerate vectors must never rank as neighbors ($bf)" &&
      bf.contains(kinds.size.toLong) :|
        "the exact duplicate must rank as a neighbor of vector 0" &&
      kinds.zipWithIndex.collect { case (k, i) if k == 1 || k == 3 => i.toLong }
        .forall { id =>
          val r = qz(id); r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3)
        } :| "null/null-element vectors quantize to the whole-row-null contract" &&
      kinds.zipWithIndex.collect { case (2, i) => i.toLong }
        .forall { id =>
          val r = qz(id)
          r.getDouble(1) == 1.0 && r.getDouble(2) == 0.0 && r.getSeq[Long](3).isEmpty
        } :| "the empty vector quantizes to the identity (scale 1, no codes, zero err)" &&
      degenerate.subsetOf(sd) :|
        s"degenerate vectors pair with nothing, so semantic dedup keeps them ($sd)" &&
      nd.forall { case (a, b) => !degenerate(a) && !degenerate(b) } :|
        s"embeddingNearDup must never pair degenerate vectors ($nd)"
    }
    checkProp(prop, 6)
  }

  // ---------------------------------------------------------- sketches

  private val genKeyRows: Gen[List[(Option[String], Option[String])]] = for {
    n <- Gen.choose(4, 12)
    rows <- Gen.listOfN(n, for {
      g <- Gen.frequency(2 -> Gen.some(Gen.oneOf("x", "y")), 1 -> Gen.const(None))
      k <- Gen.frequency(3 -> Gen.some(Gen.oneOf("a", "b", "c", "d")), 1 -> Gen.const(None))
    } yield (g, k))
  } yield rows

  test("sketch family: estimates invariant to null keys; null group keys are their own group") {
    val prop = Prop.forAllNoShrink(genKeyRows) { rows =>
      val df = rows.map { case (g, k) => (g.orNull, k.orNull) }
        .toDF("g", "k").repartition(4)
      val noNullKeys = df.filter(col("k").isNotNull)

      def kmv(d: DataFrame) = Sketches.kmvDistinct(d, Seq("g"), col("k"), 8)
        .collect().map(r => Option(r.getString(0)) -> r.getDouble(3)).toMap
      def hll(d: DataFrame) = Sketches.hllDistinct(d, Seq("g"), col("k"), 4)
        .collect().map(r => Option(r.getString(0)) -> r.getDouble(2)).toMap
      val cmWith = Sketches.countMinTable(df, col("k"), 3, 16).toSeq
      val cmWithout = Sketches.countMinTable(noNullKeys, col("k"), 3, 16).toSeq

      // groups that hold ONLY null keys vanish entirely (no distinct
      // values to estimate) — compare on the common group set
      val (kw, kwo) = (kmv(df), kmv(noNullKeys))
      val (hw, hwo) = (hll(df), hll(noNullKeys))
      val expectGroups = rows.collect { case (g, Some(_)) => g }.toSet

      (kw.keySet == expectGroups && kwo.keySet == expectGroups) :|
        s"kmv groups = groups owning ≥1 non-null key ($kw vs $expectGroups)" &&
      expectGroups.forall(g => kw(g) == kwo(g)) :|
        s"kmv estimate invariant to null keys ($kw vs $kwo)" &&
      expectGroups.forall(g => hw(g) == hwo(g)) :|
        s"hll estimate invariant to null keys ($hw vs $hwo)" &&
      (cmWith == cmWithout) :|
        "count-min table invariant to null keys" &&
      expectGroups.forall { g =>
        val trueDistinct =
          rows.collect { case (`g`, Some(k)) => k }.toSet.size
        kw(g) == trueDistinct.toDouble
      } :| "kmv below k is exact per group (incl. the null group)"
    }
    checkProp(prop, 6)

    // null ticks are not measurements: quantiles identical with and
    // without them, in particular NOT dragged toward -inf by Spark's
    // nulls-first ascending sort (and DuckDB disagrees on that order —
    // the filter keeps both engines aligned).
    val gq = s.sql("SELECT * FROM VALUES (1L, 10L),(2L, 20L),(3L, CAST(NULL AS BIGINT)),(4L, 30L) AS t(id, v)")
    val withNull = Sketches.gridQuantiles(gq, Seq.empty, col("v"), 5L, Seq(50, 100))
      .collect().map(_.toSeq).toSet
    val withoutNull = Sketches.gridQuantiles(gq.filter(col("v").isNotNull),
        Seq.empty, col("v"), 5L, Seq(50, 100))
      .collect().map(_.toSeq).toSet
    assert(withNull === withoutNull, "null ticks must not shift quantiles")
  }

  // ------------------------------------------------------------ events

  /** Event rows: (id unique, user nullable, ts_us nullable, type
    * nullable). A null user is a real window partition (SQL GROUP BY /
    * PARTITION BY semantics); a null type matches no funnel step
    * (`col === lit` is never true on null); a null ts orders
    * deterministically via the id tiebreak.
    */
  private val genEvents: Gen[List[(Long, Option[String], Option[Long], Option[String])]] =
    for {
      n <- Gen.choose(6, 14)
      rows <- Gen.listOfN(n, for {
        u <- Gen.frequency(4 -> Gen.some(Gen.oneOf("u1", "u2", "u3")), 1 -> Gen.const(None))
        t <- Gen.frequency(4 -> Gen.some(Gen.choose(0L, 3600L * 1000000L)), 1 -> Gen.const(None))
        e <- Gen.frequency(4 -> Gen.some(Gen.oneOf("view", "click", "buy")), 1 -> Gen.const(None))
      } yield (u, t, e))
    } yield rows.zipWithIndex.map { case ((u, t, e), i) => (i.toLong, u, t, e) }

  test("events family: null users/ts/types follow SQL window+join semantics, rows never vanish") {
    val steps = Seq("view", "click", "buy")
    val prop = Prop.forAllNoShrink(genEvents) { rows =>
      val df = rows
        .map { case (id, u, t, e) =>
          (id, u.orNull, t.map(java.lang.Long.valueOf).orNull, e.orNull)
        }
        .toDF("event_id", "user_id", "ts_us", "event_type")
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .repartition(4)
      val nonNullType = df.filter(col("event_type").isNotNull)

      val sess = EventAnalytics.sessionize(df, "user_id", "ts", "event_id")
      val sessRows = sess.collect()
      val stats = EventAnalytics.sessionStats(
        df.withColumn("value", lit(1.0)), "user_id", "ts", "event_id", "value")
      val statsSum = stats.agg(sum("n_events")).head().getLong(0)

      def funnelCounts(d: DataFrame): Seq[Long] =
        EventAnalytics.funnel(d, "user_id", "ts", "event_type", steps)
          .orderBy("step_idx").collect().map(_.getLong(2)).toSeq
      val fAll = funnelCounts(df)
      val fNoNullType = funnelCounts(nonNullType)
      val fWithin = EventAnalytics.funnelWithin(
          df, "user_id", "ts", "event_type", steps, maxGapUs = 600L * 1000000L)
        .orderBy("step_idx").collect().map(_.getLong(2)).toSeq

      val trans = EventAnalytics.transitions(
        nonNullType, "user_id", "ts", "event_type", "event_id")
      val transTotal =
        trans.agg(coalesce(sum("n"), lit(0L))).head().getLong(0)
      // each user partition (null user included) contributes n-1
      // transitions when every type is non-null
      val expectTrans = rows.filter(_._4.isDefined).groupBy(_._2)
        .map { case (_, es) => (es.size - 1).toLong }.sum

      (sessRows.length == rows.size) :|
        s"sessionize must keep every row (${sessRows.length} of ${rows.size})" &&
      sessRows.forall(r => !r.isNullAt(r.fieldIndex("session_seq"))) :|
        "session_seq is never null (first row of any partition opens a session)" &&
      (statsSum == rows.size) :|
        s"sessionStats accounts for every event exactly once ($statsSum of ${rows.size})" &&
      fAll.zip(fAll.tail).forall { case (a, b) => a >= b } :|
        s"funnel step counts must be monotone non-increasing ($fAll)" &&
      (fAll == fNoNullType) :|
        s"funnel invariant to null-type events ($fAll vs $fNoNullType)" &&
      fWithin.zip(fAll).forall { case (w, f) => w <= f } :|
        s"deadline funnel never exceeds the unbounded funnel ($fWithin vs $fAll)" &&
      (transTotal == expectTrans) :|
        s"transitions total = sum over user partitions of n-1 ($transTotal vs $expectTrans)"
    }
    checkProp(prop, 6)
  }

  // ------------------------------------------------------------ corpus
  //
  // Contracts: a null id has no hash, so hash-keyed sampling can never
  // admit it — even at permille=1000 / weight=1.0 (documented: sampling
  // requires an id); null/empty texts chunk to nothing, contribute no
  // tokens to frequency tables, and pack with a NULL sequence without
  // consuming any stratum budget; a null stratum is its own stratum.

  private val genCorpus: Gen[List[(Option[Long], String, String)]] = for {
    n <- Gen.choose(5, 10)
    rows <- Gen.listOfN(n, for {
      hasId <- Gen.frequency(4 -> true, 1 -> false)
      t <- genText
      l <- genLang
    } yield (hasId, t, l))
  } yield rows.zipWithIndex.map { case ((hasId, t, l), i) =>
    (if (hasId) Some(i.toLong) else None, t, l)
  }

  test("curation family (r7): null sources are a cappable group, null texts audit as null, fusion ranks never vanish") {
    val docs = Seq(
      (1L, "alpha beta gamma delta", "s1"),
      (2L, "beta gamma delta epsilon", null.asInstanceOf[String]),
      (3L, null.asInstanceOf[String], "s1"),
      (4L, "", "s2"),
      (5L, "zeta eta theta iota", null.asInstanceOf[String])
    ).toDF("doc_id", "text", "source")

    // sourceCap: a NULL source is its own group (SQL GROUP/PARTITION BY
    // semantics) — its docs are capped together, never silently dropped
    val capped = Corpus.sourceCap(docs, "doc_id", "source", cap = 1, salt = "n")
      .collect().map(r => (Option(r.getString(1)), r.getLong(0), r.getLong(2)))
    assert(capped.count(_._1.isEmpty) == 1, s"null-source group not capped: ${capped.toSeq}")
    assert(capped.length == 3) // s1, s2, null — one survivor each at cap=1

    // lineDedup: null text → (0, 0, NULL) audit row, present exactly once;
    // empty text is ONE empty line, exempt as short, kept
    val ld = Corpus.lineDedup(docs, "doc_id", "text", maxDocs = 1, minLineLen = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.getString(3)))).toMap
    assert(ld.size == 5)
    assert(ld(3L) == ((0L, 0L, None)))
    assert(ld(4L)._1 == 1L && ld(4L)._2 == 1L && ld(4L)._3.isDefined)

    // rrfFuse: a null id joins as its own key (full-outer null row) —
    // but ranked frames can't produce null ids by construction; assert
    // instead that disjoint runs lose no ids and ranks stay dense 1..n
    val lex = Seq((1L, 1L), (2L, 2L)).toDF("id", "rank")
    val vec = Seq((3L, 1L)).toDF("id", "rank")
    val fused = Search.rrfFuse(lex, vec, "id", "rank", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(4)))
    assert(fused.map(_._1).toSet == Set(1L, 2L, 3L))
    assert(fused.map(_._2).sorted.sameElements(Array(1L, 2L, 3L)))

    // keySkew: null keys count as a key (cast to string keeps them as a
    // NULL group); totals must account for every input row
    val sk = Profiler.keySkew(
        Seq((1L, "a"), (2L, "a"), (3L, null.asInstanceOf[String])).toDF("id", "k"),
        "k", topK = 5)
      .collect().map(r => (r.getString(0), Option(r.getString(1)), r.getDouble(2)))
    val stats = sk.filter(_._2.isEmpty).map(t => t._1 -> t._3).toMap
    assert(stats("n_rows") == 3.0 && stats("n_keys") == 2.0,
      s"null key lost from totals: ${sk.toSeq}")
  }

  test("corpus family: null ids never sample, null texts never tokenize, null strata are strata") {
    val prop = Prop.forAllNoShrink(genCorpus) { rows =>
      val df = rows
        .map { case (id, t, l) => (id.map(java.lang.Long.valueOf).orNull, t, l) }
        .toDF("doc_id", "text", "lang").repartition(4)
      val ids = rows.flatMap(_._1).toSet

      def kept(d: DataFrame): Set[Long] =
        d.select("doc_id").collect().map(_.getLong(0)).toSet
      val all1000 = kept(Corpus.sampleByHash(df, "doc_id", 1000, "s"))
      val none0 = kept(Corpus.sampleByHash(df, "doc_id", 0, "s"))
      val w1 = kept(Corpus.weightedSampleByHash(df, "doc_id", lit(1.0), "s"))
      val w0 = kept(Corpus.weightedSampleByHash(df, "doc_id", lit(0.0), "s"))

      val chunks = Corpus.chunkDocuments(df, "doc_id", "text", 4, 4)
        .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getString(3))
      val chunkable = rows.collect {
        case (id, t, _) if t != null && t.nonEmpty => id
      }.toSet

      val tfAll = Corpus.tokenFrequencies(df, "text", 100)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val tfNoNull = Corpus.tokenFrequencies(df.filter(col("text").isNotNull), "text", 100)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

      val strat = Corpus.stratifiedSample(df, "doc_id", col("lang"), 2, "s")
        .collect().map(r => Option(r.getString(1))).toList
      val strataSizes = rows.groupBy(_._3 match {
        case null => None; case l => Option(l)
      }).map { case (l, g) => l -> g.size }
      val packed = Corpus.packSequences(df, "doc_id", "text", 8, col("lang"))
        .collect().map { r =>
          (if (r.isNullAt(0)) None else Some(r.getLong(0)),
           if (r.isNullAt(3)) None else Some(r.getLong(3)))
        }
      val nullTextIds = rows.collect { case (id, null, _) => id }.toSet

      (all1000 == ids) :|
        s"permille=1000 keeps exactly the rows owning an id ($all1000 vs $ids)" &&
      (none0.isEmpty && w0.isEmpty) :| "permille=0 / weight=0 keep nothing" &&
      (w1 == ids) :|
        s"weight=1.0 keeps exactly the rows owning an id ($w1 vs $ids)" &&
      (chunks.map(_._1).toSet == chunkable) :|
        s"exactly the non-empty texts chunk (${chunks.map(_._1).toSet} vs $chunkable)" &&
      (tfAll == tfNoNull) :|
        s"token frequencies invariant to null-text docs ($tfAll vs $tfNoNull)" &&
      strat.groupBy(identity).forall { case (l, g) =>
        g.size == math.min(2, strataSizes.getOrElse(l, 0))
      } :| s"stratified sample: min(k, |stratum|) rows per stratum incl. the null stratum ($strat vs $strataSizes)" &&
      packed.forall { case (id, seq) =>
        // restrict to rows owning an id: None-id rows are ambiguous keys
        id.isEmpty || (if (nullTextIds.contains(id)) seq.isEmpty else seq.isDefined)
      } :| s"null texts pack with NULL seq, all others with a real one ($packed)"
    }
    checkProp(prop, 6)
  }
}
