package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over embedding columns (`array<float>`) —
  * north-star surface for the `embeddings` table.
  *
  * All math is `zip_with`/`aggregate` higher-order functions in double
  * precision: codegen-friendly, no UDF, no driver-side loops. Three tiers:
  *
  *  - [[bruteForceTopK]] — exact baseline: broadcast the (small) query set
  *    against the corpus; the corpus is scanned ONCE regardless of query
  *    count, and the per-query top-k is a partial-aggregating
  *    [[TopKAggregator]] — each map task reduces its partition to <= k
  *    candidates per query before the shuffle, so nothing quadratic (and
  *    nothing corpus-sized) is ever shuffled or held by one task.
  *  - [[lshTopK]] — approximate: random-hyperplane sign buckets prune the
  *    corpus to same-bucket candidates (recall tunable via planes/probes).
  *  - [[ivfTopK]] — approximate: IVF coarse quantization; corpus vectors
  *    are assigned to their nearest centroid once ([[ivfAssign]], a
  *    zero-shuffle map using a literal centroid table), and a query
  *    searches only its `nprobe` nearest inverted lists.
  */
object Similarity {

  /** Dot product of two numeric arrays in double precision. Sequential
    * left-fold, so the summation order is deterministic (stable hashes
    * across runs and vs the DuckDB oracle).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Euclidean norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector is all-zero; null on
    * length mismatch or null elements. Backed by the native codegen'd
    * [[graft.expr.CosineSim]] expression (one fused loop inside
    * whole-stage codegen); [[cosineColumnar]] is the equivalent pure
    * `Column` formulation, kept as the built-ins-only reference — the
    * two are bit-identical by construction and cross-checked in tests.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.expr.CosineSim(
        org.apache.spark.sql.GraftSqlBridge.expression(a.cast("array<double>")),
        org.apache.spark.sql.GraftSqlBridge.expression(b.cast("array<double>"))))

  /** Pure-built-ins cosine (interpreted higher-order functions). */
  def cosineColumnar(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** L2-normalize a vector (pass-through for all-zero vectors). */
  def l2Normalize(a: Column): Column = {
    val n = norm(a)
    when(n === 0, a.cast("array<double>"))
      .otherwise(transform(a, x => x.cast("double") / n))
  }

  /** Vector length of the first non-null vector in `vecCol` — used to
    * size hyperplanes when the caller doesn't pass `dim`. One tiny
    * driver-side action on a single row (LIMIT 1 scan, no shuffle).
    */
  def inferDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol)).as("d")).filter(col("d") > 0).limit(1)
      .collect().headOption.map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException(
        s"cannot infer vector dim: '$vecCol' has no non-empty vectors; pass dim explicitly"))

  /** Exact top-k cosine neighbors for each query vector.
    *
    * `queries` must be small (it is broadcast); `corpus` is arbitrary
    * size. Plan: one corpus scan → broadcast-nested-loop against queries →
    * per-query top-k via [[TopKAggregator]] (partial aggregation; see its
    * doc for why a window would not scale here). Scores are rounded to
    * 6 dp BEFORE ranking so rank boundaries are stable under
    * floating-point noise; ties break on the neighbor id.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: String,
      corpusVec: String,
      queryId: String,
      queryVec: String,
      k: Int): DataFrame = {
    val scored = corpus
      .select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
      .crossJoin(broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", round(cosine(col("__cv"), col("__qv")), 6))
    TopK.perGroup(scored, Seq("query_id"), col("score"), col("neighbor_id"), k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rnk"))
  }

  /** Deterministic pseudo-random hyperplanes: `planes` × `dim` doubles in
    * [-0.5, 0.5) from a CLOSED-FORM integer recipe — multiply-mod with
    * two xor-shift mixing steps (splitmix-style, all values < 2^31 so the
    * arithmetic is exact in any engine's 64-bit integers) — rather than a
    * JVM RNG, so the DuckDB oracle reproduces the exact same planes.
    * The xor-shifts break the linear correlation a plain congruence
    * leaves between planes (each plane would otherwise be an arithmetic
    * progression of its neighbor, weakening sign-pattern independence /
    * LSH recall). Stable across cluster sizes, JVM versions, and engines;
    * mirrored by the generated SQL in `SparkEntry.hyperplaneSql`.
    */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] =
    Vector.tabulate(planes, dim) { (i, j) =>
      val P = PortableHash.P
      val v = i.toLong * dim + j + seed * 40503L
      val h1 = (v * 1103515245L + 12345L) % P
      val h2 = h1 ^ (h1 >> 15)
      val h3 = (h2 * 69069L) % P
      val h4 = h3 ^ (h3 >> 13)
      (h4 % 100003L).toDouble / 100003.0 - 0.5
    }

  /** Sign-pattern LSH bucket id for a vector: bit i = sign of the dot
    * product with hyperplane i, folded into one long.
    *
    * The hyperplane dim must equal the vector length: `zip_with` pads the
    * short side with nulls, which would silently null out the dot product.
    * [[lshTopK]] / [[embeddingNearDup]] infer the dim from the data when
    * not given; callers composing [[lshBucket]] directly must match dims.
    */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, typedLit(p)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Approximate top-k: compare only vectors sharing the query's LSH
    * bucket. With `planes` = 12–16 the corpus is cut by ~2^planes while
    * keeping high-cosine pairs (their sign patterns agree w.h.p.).
    * Same output shape as [[bruteForceTopK]]; recall < 1 by construction.
    * Pass `dim <= 0` to infer the vector length from the corpus.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: String,
      corpusVec: String,
      queryId: String,
      queryVec: String,
      k: Int,
      planes: Int = 12,
      dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else inferDim(corpus, corpusVec)
    val hp = hyperplanes(planes, d)
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"),
      lshBucket(col(corpusVec), hp).as("__bkt"))
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"),
      lshBucket(col(queryVec), hp).as("__bkt"))
    val scored = c.join(broadcast(q), Seq("__bkt"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", round(cosine(col("__cv"), col("__qv")), 6))
    TopK.perGroup(scored, Seq("query_id"), col("score"), col("neighbor_id"), k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rnk"))
  }

  /** Nearest-centroid id for a vector, computed per row against a literal
    * centroid table — a pure map expression: NO join, NO shuffle, no
    * window. `aggregate` loops over the centroid array at runtime, so the
    * expression size is constant in the number of centroids. Ties break
    * on the smaller centroid id; scores are rounded to 6 dp first so the
    * argmax is stable under float noise.
    */
  def nearestCentroid(vec: Column, cents: Seq[(Long, Seq[Double])],
      rawScore: Boolean = false): Column = {
    require(cents.nonEmpty, "centroid set must be non-empty")
    // native fused argmax ([[graft.expr.NearestCentroid]]) — one
    // primitive loop per row; bit-identical to [[nearestCentroidColumnar]]
    // (the definition the oracle SQL mirrors), cross-checked in tests.
    // rawScore ranks by the unrounded cosine (see the kernel's note).
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.expr.NearestCentroid(
        org.apache.spark.sql.GraftSqlBridge.expression(vec.cast("array<double>")),
        cents, rawScore))
  }

  /** Pure-built-ins twin of [[nearestCentroid]] — interpreted `aggregate`
    * fold, kept as the reference the native kernel is cross-checked
    * against.
    */
  def nearestCentroidColumnar(vec: Column, cents: Seq[(Long, Seq[Double])]): Column = {
    require(cents.nonEmpty, "centroid set must be non-empty")
    val arr = typedLit(cents)
    val best = aggregate(
      arr,
      struct(lit(-2.0).as("s"), lit(Long.MaxValue).as("c")),
      (acc, ct) => {
        val s = round(cosineColumnar(vec.cast("array<double>"), ct.getField("_2")), 6)
        val cid = ct.getField("_1")
        when(s > acc.getField("s") ||
             (s === acc.getField("s") && cid < acc.getField("c")),
          struct(s.as("s"), cid.cast("long").as("c"))).otherwise(acc)
      }).getField("c")
    // all-NULL similarities (ragged/mismatched vector) leave the sentinel
    // accumulator untouched — surface that as NULL, not Long.MaxValue
    // (which would silently drop the row from every downstream join).
    when(best === Long.MaxValue, lit(null).cast("long")).otherwise(best)
  }

  /** Assign every corpus vector to its nearest centroid (IVF list).
    *
    * `centroids` must be small — it is collected to the driver and shipped
    * inside the plan as a literal (same size constraint a broadcast would
    * impose; IVF coarse codebooks are 2^8..2^16 entries). The assignment
    * itself is a narrow map over the corpus: zero shuffle, in contrast to
    * the naive crossJoin+window formulation which shuffles N×C rows.
    * At scale the output is persisted with [[writeIvfIndex]], making
    * [[ivfTopK]]'s probe a manifest-pruned scan.
    */
  def ivfAssign(
      corpus: DataFrame,
      centroids: DataFrame,
      corpusId: String,
      corpusVec: String,
      centroidId: String,
      centroidVec: String): DataFrame =
    ivfAssign(corpus, collectCentroids(centroids, centroidId, centroidVec), corpusVec)

  /** Overload taking a pre-collected centroid table, so a pipeline doing
    * assign + search collects the codebook from the cluster ONCE (see
    * [[collectCentroids]]) instead of once per stage.
    */
  def ivfAssign(
      corpus: DataFrame,
      cents: Seq[(Long, Seq[Double])],
      corpusVec: String): DataFrame =
    corpus.withColumn("centroid_id", nearestCentroid(col(corpusVec), cents))

  /** [[ivfAssign]] ranking by the UNROUNDED cosine: the assignment is
    * then a pure function of bit-identical IEEE doubles on any engine —
    * no round-boundary hazard in the argmax (the 6-dp-ranked default
    * can flip a member when two engines round a 7th-digit '5'
    * differently; caught by the round-11 sf1 oracle sweep).
    */
  def ivfAssignRaw(
      corpus: DataFrame,
      cents: Seq[(Long, Seq[Double])],
      corpusVec: String): DataFrame =
    corpus.withColumn("centroid_id",
      nearestCentroid(col(corpusVec), cents, rawScore = true))

  /** Collect a (small) centroid table to the driver — structurally the
    * same bound a broadcast implies; IVF coarse codebooks are 2^8..2^16
    * entries. Collect once and share across [[ivfAssign]]/[[ivfTopK]].
    */
  def collectCentroids(
      centroids: DataFrame,
      centroidId: String,
      centroidVec: String): Seq[(Long, Seq[Double])] =
    centroids
      .select(col(centroidId).cast("long"), col(centroidVec).cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toVector))
      .toVector
      .sortBy(_._1)

  /** IVF approximate top-k: search only the `nprobe` inverted lists whose
    * centroids are nearest to the query. `assigned` is [[ivfAssign]]
    * output (corpus + centroid_id). The probe-list choice is a per-query
    * map over the literal centroid table ([[TopKAggregator]] over a tiny
    * queries×nprobe frame); the candidate scan shuffles only rows in the
    * probed lists, then reduces per query via partial top-k aggregation.
    */
  def ivfTopK(
      assigned: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      corpusId: String,
      corpusVec: String,
      centroidId: String,
      centroidVec: String,
      queryId: String,
      queryVec: String,
      k: Int,
      nprobe: Int): DataFrame =
    ivfTopK(assigned, collectCentroids(centroids, centroidId, centroidVec),
      queries, corpusId, corpusVec, queryId, queryVec, k, nprobe)

  /** Overload taking the pre-collected codebook (see [[ivfAssign]]). */
  def ivfTopK(
      assigned: DataFrame,
      cents: Seq[(Long, Seq[Double])],
      queries: DataFrame,
      corpusId: String,
      corpusVec: String,
      queryId: String,
      queryVec: String,
      k: Int,
      nprobe: Int = 4): DataFrame = {
    // nprobe nearest centroids per query: explode the literal centroid
    // table against the (small) query set — queries×C rows, then top-nprobe
    // per query via the same bounded aggregator.
    val qc = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .select(col("query_id"), col("__qv"),
        explode(typedLit(cents)).as("__ct"))
      .select(col("query_id"), col("__qv"),
        col("__ct._1").cast("long").as("centroid_id"),
        round(cosine(col("__qv"), col("__ct._2")), 6).as("__cdist"))
    val probes = TopK.perGroup(qc, Seq("query_id"), col("__cdist"), col("centroid_id"), nprobe,
        idAlias = "centroid_id", scoreAlias = "__cdist")
      .select(col("query_id"), col("centroid_id"))
      .join(queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv")), Seq("query_id"))

    val scored = assigned
      .select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"), col("centroid_id"))
      .join(broadcast(probes), Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", round(cosine(col("__cv"), col("__qv")), 6))
    TopK.perGroup(scored, Seq("query_id"), col("score"), col("neighbor_id"), k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rnk"))
  }

  /** Persist an [[ivfAssign]]-ed corpus as an on-disk IVF index: a
    * [[graft.sources.TxTable]] hash-clustered on `centroid_id` (a few
    * lists per file) whose manifest records `centroid_id` stats and a
    * Bloom per file, so a probe's `centroid_id IN (…)` opens ONLY the
    * files holding its `nprobe` inverted lists. This is the
    * materialization [[ivfTopK]]'s docs promise at scale: index build is
    * one commit; each query's candidate scan is O(corpus / lists ×
    * nprobe) I/O.
    */
  def writeIvfIndex(assigned: DataFrame, path: String, mode: String = "overwrite"): Unit = {
    // cluster by the probe column first: files that each hold every list
    // would all be admitted by every probe
    val parts = assigned.sparkSession.sessionState.conf.numShufflePartitions
    graft.sources.TxTable.commitIndex(assigned.repartition(parts, col("centroid_id")),
      path, mode, Seq("centroid_id"), epoch = None)
    ()
  }

  /** Read an IVF index written by [[writeIvfIndex]] or
    * [[writeIvfPqIndex]] through the `txtable` provider: filters on
    * `centroid_id` skip files by their manifest stats and Blooms.
    */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    requireTxIndex(path)
    spark.read.format("txtable").load(path)
  }

  private def requireTxIndex(path: String): Unit =
    require(graft.sources.TxTable.latest(path).isDefined,
      s"no TxTable IVF index at $path (an index written before the TxTable " +
        "layout has plain parquet centroid_id= directories); rebuild it with " +
        "Similarity.writeIvfIndex or Similarity.writeIvfPqIndex")

  /** One Lloyd (k-means) refinement iteration for the IVF coarse
    * codebook: assign every corpus vector to its nearest centroid (the
    * zero-shuffle [[ivfAssign]] map), then recompute each centroid as the
    * component-wise mean of its inverted list. ONE shuffle total (the
    * mean aggregation, with map-side partial aggregation of decimal
    * sums); the corpus is scanned once. Component sums use exact decimal
    * arithmetic so the means are bit-stable under any partitioning (and
    * reproducible by the SQL oracle); rounded to 6 dp. Centroids whose
    * list is empty produce no row (callers keep the previous centroid).
    *
    * Output: (centroid_id, n_members, mean) with `mean` an
    * `array<double>` of length `dim`. Iterate by feeding the collected
    * output back through [[collectCentroids]]-shaped tuples.
    */
  def ivfTrainStep(
      corpus: DataFrame,
      cents: Seq[(Long, Seq[Double])],
      corpusVec: String,
      dim: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val assigned = ivfAssign(corpus, cents, corpusVec)
    val v = col(corpusVec).cast("array<double>")
    assigned.groupBy(col("centroid_id"))
      .agg(
        count(lit(1)).as("n_members"),
        array((1 to dim).map(i =>
          round(
            sum(element_at(v, i).cast(DecimalType(28, 10))).cast("double")
              / count(lit(1)), 6)): _*).as("mean"))
  }

  /** Full IVF codebook training: deterministic init + `iters` Lloyd
    * iterations of [[ivfTrainStep]]. Initial centroids are the `k` rows
    * with the smallest portable hash of their id — a reproducible
    * pseudo-random sample (same trick as `Corpus.sampleByHash`), stable
    * across runs/engines/cluster sizes. Each iteration scans the corpus
    * once; only the codebook (k × dim doubles — the same bound
    * [[collectCentroids]] documents) ever reaches the driver. Centroids
    * whose inverted list goes empty keep their previous position.
    */
  def ivfTrain(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      k: Int,
      iters: Int,
      dim: Int = -1,
      salt: String = "ivf"): Seq[(Long, Seq[Double])] = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got k=$k iters=$iters")
    val d = if (dim > 0) dim else inferDim(corpus, corpusVec)
    // null ids / ragged vectors are excluded up front: a null id would
    // sort FIRST (guaranteeing itself a seed slot) and a ragged vector
    // yields a NULL assignment downstream — both would NPE the collects.
    var cents: Seq[(Long, Seq[Double])] = collectCentroids(
      corpus
        .select(col(corpusId).cast("long").as("id"),
          col(corpusVec).cast("array<double>").as("v"),
          PortableHash.hash32(concat(lit(salt), col(corpusId).cast("string"))).as("h"))
        .filter(col("id").isNotNull && size(col("v")) === d)
        .orderBy(col("h"), col("id"))
        .limit(k),
      "id", "v")
    var it = 0
    while (it < iters) {
      val means = ivfTrainStep(corpus, cents, corpusVec, d)
        .filter(col("centroid_id").isNotNull) // ragged rows assign to NULL
        .select(col("centroid_id"), col("mean"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toVector)
        .toMap
      cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
      it += 1
    }
    cents
  }

  /** Embedding near-duplicate pairs: cosine >= `threshold`, LSH-blocked
    * so only same-bucket pairs are compared (the scale path for
    * "embedding-cosine near-dup" dedup). Pass `dim <= 0` to infer the
    * vector length from the data.
    *
    * Scale shape (the same discipline as `Dedup.minhashLshDedup`):
    *
    *  - `bands` independent bucket families (planes `[b·planes,
    *    (b+1)·planes)` of one hyperplane table) — candidate recall is an
    *    OR over bands, and parallelism is bands × 2^planes join cells
    *    instead of a single 2^planes family;
    *  - the candidate self-join carries ONLY (id, band, bucket) triples —
    *    24 bytes/row — never the vectors; full vectors are re-fetched
    *    once per surviving pair for the exact-cosine verify. At 100 TB
    *    the candidate exchange is what must stay small, and it is
    *    O(bands × corpus) ids, not O(corpus) × vector-bytes.
    */
  /** Product-quantization code assignment: split each vector into `m`
    * equal subspaces and assign each subvector to its nearest (squared-L2)
    * codeword — the PQ rung of an IVF-PQ index, which is what actually
    * makes 100 TB of embeddings searchable (m bytes per vector instead of
    * 4·dim). Same execution shape as [[ivfAssign]]: the codebook rides
    * in the plan as a literal, the assignment is a narrow map over the
    * corpus — zero shuffle, constant expression size via runtime
    * `aggregate` folds. Ties break to the smaller codeword id (strict-<
    * fold over the id-sorted codebook).
    *
    * Output: one row per (vector, subspace): (id, sub_i, code, dist2).
    */
  /** Subspace width for an `m`-way split of the codebook's dim. */
  private def pqSubWidth(cents: Seq[(Long, Seq[Double])], m: Int): Int = {
    require(cents.nonEmpty, "codebook must be non-empty")
    val dim = cents.head._2.length
    require(m > 0 && dim % m == 0, s"dim $dim not divisible into $m subspaces")
    dim / m
  }

  /** The tie-break contract ("ties go to the smaller codeword id") holds
    * because every fold walks the codebook in ascending-id order — so the
    * public PQ entry points normalize the caller's codebook here instead
    * of silently depending on it arriving sorted ([[collectCentroids]]
    * sorts, but the API accepts any Seq).
    */
  private def pqSorted(cents: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Double])] =
    cents.sortBy(_._1)

  /** One-pass native PQ encoding: array of m struct(code, dist2) — see
    * [[graft.expr.PqEncode]]. Bit-exact with [[pqBestColumnar]]
    * (cross-checked in tests); the columnar twin is what the oracle SQL
    * mirrors.
    */
  private def pqEncoded(v: Column, cents: Seq[(Long, Seq[Double])], m: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.expr.PqEncode(
        org.apache.spark.sql.GraftSqlBridge.expression(v), cents, m))

  /** Per-subspace argmin struct(d: best squared-L2, c: best codeword id)
    * for vector `v` — the pure-built-ins twin of [[graft.expr.PqEncode]],
    * kept as the definition the oracle mirrors and the kernel is
    * cross-checked against. Strict-< fold over the id-sorted codebook ⇒
    * ties to the smaller id.
    */
  private[graft] def pqBestColumnar(
      v: Column, cents: Seq[(Long, Seq[Double])], m: Int): Seq[Column] = {
    val sub = pqSubWidth(cents, m)
    (0 until m).map { i =>
      val codebook = typedLit(cents.map { case (cid, c) =>
        (cid, c.slice(i * sub, (i + 1) * sub))
      })
      val subv = slice(v, i * sub + 1, sub)
      aggregate(
        codebook,
        struct(lit(Double.MaxValue).as("d"), lit(Long.MaxValue).as("c")),
        (acc, ct) => {
          // sequential left fold over the subspace dims — the exact
          // arithmetic order the oracle's list_reduce reproduces
          val d2 = aggregate(
            zip_with(subv, ct.getField("_2"), (x, c) => (x - c) * (x - c)),
            lit(0.0), (a, e) => a + e)
          when(d2 < acc.getField("d"),
            struct(d2.as("d"), ct.getField("_1").cast("long").as("c")))
            .otherwise(acc)
        })
    }
  }

  /** Null-normalized codeword id from a [[pqBest]] struct: a null vector
    * never beats the sentinel accumulator — surface NULL, not Long.MaxValue.
    */
  private def pqCode(best: Column): Column =
    when(best.getField("c") === Long.MaxValue, lit(null).cast("long"))
      .otherwise(best.getField("c"))

  def pqAssign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Seq[(Long, Seq[Double])],
      m: Int): DataFrame =
    df.select(col(idCol),
        posexplode(pqEncoded(col(vecCol).cast("array<double>"), pqSorted(cents), m))
          .as(Seq("sub_i", "sc")))
      .select(col(idCol), col("sub_i").cast("int").as("sub_i"),
        col("sc.code").as("code"), round(col("sc.dist2"), 6).as("dist2"))

  /** The compressed PQ representation itself: one `array<long>` of `m`
    * codeword ids per vector — m bytes-equivalent per vector in a real
    * byte-packed layout, vs 4·dim for the floats. The input
    * [[pqTopK]] searches over; persist it partitioned/bucketed like any
    * other corpus column. Zero-shuffle narrow map like [[pqAssign]].
    */
  def pqCodes(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Seq[(Long, Seq[Double])],
      m: Int): DataFrame =
    df.select(col(idCol),
      transform(pqEncoded(col(vecCol).cast("array<double>"), pqSorted(cents), m),
        e => e.getField("code")).as("codes"))

  /** Approximate top-k by ASYMMETRIC DISTANCE COMPUTATION over PQ codes —
    * how a 100 TB ANN index is actually served: the corpus is only its
    * m-byte codes; each query precomputes a distance TABLE (query
    * subvector → every codeword, m·|codebook| doubles) ONCE, and scoring
    * a corpus vector is m table lookups + adds, never touching floats.
    *
    * Plan: queries (small) build their tables in one narrow projection
    * and are BROADCAST; the codes corpus streams through a
    * broadcast-nested-loop + [[TopKAggregator]] partial top-k — shuffle
    * traffic k × maps × queries, independent of corpus size, same shape
    * as [[bruteForceTopK]] but with code-lookup scoring. Distances are
    * rounded to 6 dp before ranking; ties break on neighbor id.
    *
    * Output: (query_id, neighbor_id, adc_dist2, rnk) — rank 1 = nearest.
    */
  def pqTopK(
      codes: DataFrame,
      queries: DataFrame,
      codesId: String,
      codesCol: String,
      queryId: String,
      queryVec: String,
      cents: Seq[(Long, Seq[Double])],
      m: Int,
      k: Int): DataFrame = {
    val sorted = pqSorted(cents) // dtab positions must match the kernel's
    val sub = pqSubWidth(sorted, m)
    val qv = col(queryVec).cast("array<double>")
    // per-query ADC table: for each subspace, distances to every codeword
    // in CODEBOOK-POSITION order (the scoring kernel maps code ids to
    // positions). Interpreted HOFs are fine here — one row per QUERY.
    val dtab = array((0 until m).map { i =>
      array(sorted.map { case (_, c) =>
        aggregate(
          zip_with(slice(qv, i * sub + 1, sub),
            typedLit(c.slice(i * sub, (i + 1) * sub)),
            (x, cc) => (x - cc) * (x - cc)),
          lit(0.0), (a, e) => a + e)
      }: _*)
    }: _*)
    val q = queries.select(col(queryId).as("query_id"), dtab.as("__dtab"))
    // score = m table lookups summed in ascending-subspace order by the
    // native [[graft.expr.PqAdcScore]] kernel (the exact fold the oracle
    // reproduces); negated because TopK keeps score DESC
    val adc = org.apache.spark.sql.GraftSqlBridge.column(
      graft.expr.PqAdcScore(
        org.apache.spark.sql.GraftSqlBridge.expression(col("__codes")),
        org.apache.spark.sql.GraftSqlBridge.expression(col("__dtab")),
        sorted, m))
    val scored = codes
      .select(col(codesId).as("neighbor_id"), col(codesCol).as("__codes"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", round(-adc, 6))
    TopK.perGroup(scored, Seq("query_id"), col("score"), col("neighbor_id"), k)
      .select(col("query_id"), col("neighbor_id"),
        abs(col("score")).as("adc_dist2"), col("rnk"))
  }

  /** Persist the production IVF+PQ serving index: one (id, codes,
    * centroid_id) row per corpus vector in a [[graft.sources.TxTable]]
    * laid out like [[writeIvfIndex]]'s. The index stores ONLY the m-long
    * PQ code arrays — no float vectors anywhere in the layout — so
    * serving I/O per probe is O(list_size × m longs), the whole point of
    * PQ at 100 TB. The codebook rides along in the `_params`/`_codebook`
    * sidecars, which the table's vacuum never touches.
    */
  def writeIvfPqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Seq[(Long, Seq[Double])],
      m: Int,
      path: String,
      mode: String = "overwrite"): Unit =
    commitPqCodes(corpus, idCol, vecCol, cents, m, path, mode, epoch = None)

  /** [[writeIvfPqIndex]]'s body, shared with
    * [[graft.streaming.AnnIndexStream]], which commits the same code
    * rows exactly-once under its `epoch`.
    */
  private[graft] def commitPqCodes(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Seq[(Long, Seq[Double])],
      m: Int,
      path: String,
      mode: String,
      epoch: Option[Long]): Unit = {
    val spark = corpus.sparkSession
    if (mode != "overwrite") requireIvfPqParams(spark, path, cents, m)
    val codes = ivfAssign(corpus, cents, vecCol)
      .select(col(idCol).as("id"),
        transform(pqEncoded(col(vecCol).cast("array<double>"), pqSorted(cents), m),
          e => e.getField("code")).as("codes"),
        col("centroid_id"))
      // hash-cluster on the list id, one slot per list: a few lists per
      // file, and the exchange carries only (id, codes, centroid_id) — m
      // bytes of codes per vector, never the float vectors
      .repartition(math.max(1, cents.size), col("centroid_id"))
    graft.sources.TxTable.commitIndex(codes, path, mode, Seq("centroid_id"), epoch)
    // Persist the codebook fingerprint + m with the index — an append
    // encoded against a different codebook would produce codes the
    // serving ADC tables silently mis-score. Written AFTER the data, so
    // a failed build leaves no sidecar vouching for it.
    if (mode == "overwrite") writeIvfPqParams(spark, path, cents, m)
  }

  private def writeIvfPqParams(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      cents: Seq[(Long, Seq[Double])],
      m: Int): Unit = {
    import spark.implicits._
    Seq((m, cents.size, cents.headOption.map(_._2.size).getOrElse(0),
        codebookFingerprint(cents)))
      .toDF("m", "k", "dim", "codebook_fp")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_params")
    // the codebook VECTORS ride with the index (FAISS-style
    // self-containment): a consumer serves the index without re-deriving
    // the training-time centroid set — see [[readIvfPqCodebook]]. Appends
    // never rewrite it (they are fingerprint-checked against it).
    cents.toDF("cid", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_codebook")
  }

  /** The codebook persisted with a [[writeIvfPqIndex]] index —
    * `(cid: long, cv: array<double>)`, exactly the `cents` the index was
    * built with. With [[ivfPqTopKDataSpace]] this makes the on-disk
    * index SELF-CONTAINED: serve it from a path alone (the SQL
    * `graft_ann_ivfpq` TVF is this composition). Fails loudly on a
    * pre-round-11 index that predates codebook persistence, AND on a
    * sidecar whose recomputed fingerprint disagrees with the
    * `codebook_fp` sealed into `_params` at write time — a partially
    * copied or hand-edited index must not serve with a stale codebook
    * (which would surface only as the downstream subspace-mismatch
    * error, or worse, as silently shifted rankings when the stale
    * codebook happens to share code ids). The verification collect is
    * bounded by the codebook size k — the same O(k) class as every
    * other codebook action in this file.
    */
  def readIvfPqCodebook(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val cb =
      try spark.read.parquet(s"$path/_codebook")
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"IVF+PQ index at $path carries no _codebook (written before " +
              "codebook persistence); rebuild with writeIvfPqIndex or pass " +
              "the centroids explicitly", e)
      }
    val cents: Seq[(Long, Seq[Double])] = cb
      .select(col("cid").cast("long"), col("cv").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .toSeq
    val storedFp = spark.read.parquet(s"$path/_params")
      .select("codebook_fp").head().getLong(0)
    val sidecarFp = codebookFingerprint(cents)
    require(sidecarFp == storedFp,
      s"IVF+PQ index at $path: _codebook sidecar fingerprint $sidecarFp " +
        s"does not match the codebook_fp $storedFp sealed in _params — " +
        "the sidecar was replaced or edited after the index was built; " +
        "serving it would score codes against the wrong centroids")
    cb
  }

  /** The `m` recorded in a [[writeIvfPqIndex]] index's `_params`. */
  def readIvfPqM(spark: org.apache.spark.sql.SparkSession, path: String): Int =
    spark.read.parquet(s"$path/_params").select("m").head().getInt(0)

  /** Grow an existing [[writeIvfPqIndex]] index with a new vector batch —
    * the daily-ingest operation: encode against the index's ORIGINAL
    * codebook and append one commit whose files hold only the batch's
    * coarse lists (every earlier file stays listed; probes see old and
    * new vectors uniformly). Fails fast on a codebook/m mismatch via the
    * persisted `_params`.
    *
    * Appending shifts no centroid, so recall degrades as the corpus
    * drifts from the codebook; surface staleness with the centroid-stats
    * query (`emb_centroid_stats`: per-list size + mean cosine-to-centroid)
    * over the appended batch — a falling mean cosine = time to re-train
    * and rebuild.
    */
  def appendToIvfPqIndex(
      newVecs: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Seq[(Long, Seq[Double])],
      m: Int,
      path: String): Unit =
    writeIvfPqIndex(newVecs, idCol, vecCol, cents, m, path, mode = "append")

  /** Order-independent fingerprint of a coarse codebook: murmur3 of the
    * id-sorted (id, components) sequence — stable across JVM runs for
    * the exact-decimal centroids the trainer emits.
    */
  private def codebookFingerprint(cents: Seq[(Long, Seq[Double])]): Long =
    scala.util.hashing.MurmurHash3.orderedHash(
      pqSorted(cents).flatMap { case (id, v) =>
        id +: v.map(java.lang.Double.doubleToLongBits)
      }).toLong

  private def requireIvfPqParams(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      cents: Seq[(Long, Seq[Double])],
      m: Int): Unit = {
    requireTxIndex(path)
    val r = spark.read.parquet(s"$path/_params").collect()(0)
    val stored = (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))
    val passed = (m, cents.size, cents.headOption.map(_._2.size).getOrElse(0),
      codebookFingerprint(cents))
    require(stored == passed,
      s"IVF+PQ index at $path was built with (m, k, dim, codebook_fp) = " +
        s"$stored; caller passed $passed — appending would mix " +
        "incomparable codes")
  }

  /** Composed IVF+PQ serving — the end-to-end production ANN query shape:
    * ADC scoring restricted to the `nprobe` probed inverted lists of an
    * on-disk [[writeIvfPqIndex]] index.
    *
    *  1. Probe selection: per query, the `nprobe` nearest coarse
    *     centroids (cosine, identical recipe to [[ivfTopK]] — literal
    *     codebook, bounded top-k aggregation).
    *  2. The union of probed centroid ids — a bounded driver-side list
    *     (≤ queries × nprobe, capped by the codebook size, same O(small)
    *     class as the codebook collect) — becomes an `IN` filter on
    *     the index ([[readIvfIndex]]): the candidate scan LISTS AND
    *     OPENS ONLY the files whose manifest stats and Bloom admit a
    *     probed list (asserted in the spec), and projects only
    *     (id, codes) — never a float vector.
    *  3. Each candidate row joins its probing queries on centroid_id
    *     (broadcast — queries are small; a corpus vector meets each
    *     query at most once since it lives in exactly one list) and is
    *     ADC-scored by the native [[graft.expr.PqAdcScore]] kernel
    *     against the query's broadcast distance table.
    *  4. Per-query partial top-k ([[TopKAggregator]]) — shuffle traffic
    *     k × maps × queries, independent of corpus size.
    */
  def ivfPqTopK(
      index: DataFrame,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      cents: Seq[(Long, Seq[Double])],
      m: Int,
      k: Int,
      nprobe: Int): DataFrame = {
    val sorted = pqSorted(cents)
    val sub = pqSubWidth(sorted, m)
    val qv = col(queryVec).cast("array<double>")
    // 1. probe-list selection (same arithmetic as ivfTopK)
    val qc = queries.select(col(queryId).as("query_id"), qv.as("__qv"))
      .select(col("query_id"), col("__qv"),
        explode(typedLit(cents)).as("__ct"))
      .select(col("query_id"), col("__qv"),
        col("__ct._1").cast("long").as("centroid_id"),
        round(cosine(col("__qv"), col("__ct._2")), 6).as("__cdist"))
    val probes = TopK.perGroup(qc, Seq("query_id"), col("__cdist"),
        col("centroid_id"), nprobe, idAlias = "centroid_id", scoreAlias = "__cdist")
      .select(col("query_id"), col("centroid_id"))
    // per-query ADC distance table, codebook-position order (see pqTopK)
    val dtab = array((0 until m).map { i =>
      array(sorted.map { case (_, c) =>
        aggregate(
          zip_with(slice(qv, i * sub + 1, sub),
            typedLit(c.slice(i * sub, (i + 1) * sub)),
            (x, cc) => (x - cc) * (x - cc)),
          lit(0.0), (a, e) => a + e)
      }: _*)
    }: _*)
    val probeTabs = probes.join(
        queries.select(col(queryId).as("query_id"), dtab.as("__dtab")), Seq("query_id"))
      // consumed twice (probed-id collect + broadcast join): materialize
      // the queries×centroids probe selection and ADC tables once
      .localCheckpoint(true)
    // 2. bounded probed-list union → manifest-pruning IN filter
    val probedIds = probeTabs.select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val adc = org.apache.spark.sql.GraftSqlBridge.column(
      graft.expr.PqAdcScore(
        org.apache.spark.sql.GraftSqlBridge.expression(col("__codes")),
        org.apache.spark.sql.GraftSqlBridge.expression(col("__dtab")),
        sorted, m))
    // 3-4. pruned code-only scan → per-query ADC score → partial top-k
    val scored = index
      .filter(col("centroid_id").isin(probedIds: _*))
      .select(col("id").as("neighbor_id"), col("codes").as("__codes"),
        col("centroid_id"))
      .join(broadcast(probeTabs), Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", round(-adc, 6))
    TopK.perGroup(scored, Seq("query_id"), col("score"), col("neighbor_id"), k)
      .select(col("query_id"), col("neighbor_id"),
        abs(col("score")).as("adc_dist2"), col("rnk"))
  }

  /** DATA-SPACE twin of [[ivfPqTopK]] — the k ≳ 1e3 serving path. The
    * literal-codebook form carries the codebook in PLAN space: the ADC
    * distance table is O(m·k) expression nodes and probe selection
    * explodes a typedLit of all k centroids, so a codebook past ~1e3
    * entries blows up the serialized task binary (measured at the sf10
    * probe tier, k = 3,280). Here the codebook stays a DataFrame:
    *
    *  1. Probe selection: queries × broadcast(codebook) — an intentional
    *     bounded cross product (every query scores every centroid, the
    *     same q×k work the literal path does via typedLit explode), as
    *     ROWS instead of plan nodes.
    *  2. Per-(query, subspace, codeword) ADC distances as a RELATION
    *     (`q·m·k` rows) built from the same slice/zip_with/fold chain as
    *     the literal distance table — bit-identical doubles.
    *  3. Candidate codes explode to (sub_i, code) and equi-join that
    *     relation; the per-candidate sum folds in ascending-subspace
    *     order from 0.0, reproducing [[graft.expr.PqAdcScore]]'s
    *     accumulation exactly.
    *
    * Output is row-for-row identical to [[ivfPqTopK]] over the same
    * index (spec-asserted, and the board query shares the literal path's
    * oracle). File pruning degrades gracefully: ≤ 1024 distinct probed
    * lists use the static `IN` prune (manifest stats and Blooms through
    * [[readIvfIndex]]); beyond that a semi-join prunes after listing —
    * the price of a codebook too large to inline anywhere.
    */
  def ivfPqTopKDataSpace(
      index: DataFrame,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      cents: DataFrame,
      centroidId: String,
      centroidVec: String,
      m: Int,
      k: Int,
      nprobe: Int): DataFrame = {
    val cb = cents.select(col(centroidId).cast("long").as("__code"),
      col(centroidVec).cast("array<double>").as("__cv"))
    // subspace width needs the dim as a plan-time Int: one single-value
    // driver action (bounded — one int), not a vector collect
    val dim = cb.select(size(col("__cv"))).head().getInt(0)
    require(m > 0 && dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val q = queries.select(col(queryId).as("query_id"),
      col(queryVec).cast("array<double>").as("__qv"))
    // intentional bounded cross product: build side = the codebook
    // (small RELATIVE to the corpus; far past any plan-literal bound),
    // stream side keeps the query set's parallelism — the same shape
    // bruteForceTopK/pqTopK use for their broadcast sweeps
    val qxc = q.crossJoin(broadcast(cb))
    // 1. probe-list selection — same cosine + bounded top-k as the
    // literal path, with the centroid vector read from the column
    val qc = qxc.select(col("query_id"),
      col("__code").as("centroid_id"),
      round(cosine(col("__qv"), col("__cv")), 6).as("__cdist"))
    val probes = TopK.perGroup(qc, Seq("query_id"), col("__cdist"),
        col("centroid_id"), nprobe, idAlias = "centroid_id", scoreAlias = "__cdist")
      .select(col("query_id"), col("centroid_id"))
      .localCheckpoint(true)
    // 2. ADC distance RELATION: per (query, sub_i, codeword), the same
    // slice/zip_with/sequential-fold chain the literal dtab uses
    val dsubArr = array((0 until m).map { i =>
      aggregate(
        zip_with(slice(col("__qv"), i * sub + 1, sub),
          slice(col("__cv"), i * sub + 1, sub),
          (x, cc) => (x - cc) * (x - cc)),
        lit(0.0), (a, e) => a + e)
    }: _*)
    val dsubs = qxc.select(col("query_id"), col("__code"),
      posexplode(dsubArr).as(Seq("sub_i", "__dsub")))
    // 3. pruned code scan → per-code distance join → ordered fold
    val probedIds = probes.select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val base = index.select(col("id").as("neighbor_id"),
      col("codes").as("__codes"), col("centroid_id"))
    val pruned =
      if (probedIds.length <= 1024) base.filter(col("centroid_id").isin(probedIds: _*))
      else base.join(probes.select("centroid_id").distinct(), Seq("centroid_id"), "left_semi")
    val percode = pruned.join(probes, Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        posexplode(col("__codes")).as(Seq("sub_i", "__code")))
    // LEFT join, not inner: an inner join would silently DROP a candidate
    // whose stored codes miss the passed codebook in ALL m subspaces (zero
    // surviving rows → no group → absent from the ranking with no error,
    // contradicting the fail-loudly contract). Left-joined, every percode
    // row survives with a null __dsub on a miss, so the guard below sees
    // partial AND total mismatches alike.
    val scored = percode.join(dsubs, Seq("query_id", "sub_i", "__code"), "left")
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sort_array(collect_list(struct(col("sub_i"), col("__dsub")))).as("__ds"))
      // ascending-sub_i fold from 0.0 = PqAdcScore's accumulation order.
      // The matched-count guard is load-bearing: a stored code absent from
      // `cents` rides through the left join as a null __dsub, and a fold
      // over it would produce a null (= silently wrong) score — the
      // literal path fails loudly via the codebook lookup; the append
      // flow via requireIvfPqParams. raise_error sits in the taken branch
      // of the If, so it cannot be pruned and fires only on an actual
      // mismatch.
      .withColumn("__matched",
        size(filter(col("__ds"), s => s.getField("__dsub").isNotNull)))
      .withColumn("score", when(col("__matched") === m,
        round(-aggregate(col("__ds"), lit(0.0),
          (a, e) => a + e.getField("__dsub")), 6))
        .otherwise(raise_error(concat(
          lit("ivfPqTopKDataSpace: candidate "), col("neighbor_id").cast("string"),
          lit(s" scored on "), col("__matched").cast("string"),
          lit(s" of $m subspaces — a stored code is absent from the passed" +
            " codebook (index built with a different cents set)")))))
    TopK.perGroup(scored, Seq("query_id"), col("score"), col("neighbor_id"), k)
      .select(col("query_id"), col("neighbor_id"),
        abs(col("score")).as("adc_dist2"), col("rnk"))
  }

  /** Symmetric int8 quantization of an embedding column — the 4× memory/
    * bandwidth compression that makes a 100 TB float corpus a 25 TB ANN
    * index (the standard first rung before product quantization). Per
    * vector: scale = 127 / max|v_i| (1.0 for the zero vector), code_i =
    * floor(v_i·scale + 0.5) clamped to [-127, 127], plus the L2
    * reconstruction error as the quality audit. A narrow map — no
    * shuffle, no state; every arithmetic step (sequential fold for the
    * max and the error sum, explicit floor(x+0.5) instead of engine-
    * dependent round-half modes) is chosen to be bit-reproducible by any
    * IEEE-754 engine, which is what makes the output oracle-checkable.
    *
    * Output: (id, qscale, l2_err, codes).
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val scale = when(col("amax") === 0.0, lit(1.0)).otherwise(lit(127.0) / col("amax"))
    // floor(x + 0.5): identical in every engine, unlike round()'s
    // half-up-vs-banker's ambiguity. floor() returns LONG in Spark.
    val codes = transform(col("v"), x =>
      greatest(lit(-127L), least(lit(127L), floor(x * col("qscale") + 0.5))).cast("long"))
    // A vector CONTAINING null elements takes the whole-row null contract
    // of a null vector (same rule the PQ encode kernel applies): without
    // this, Spark's null-skipping least/greatest would silently clamp
    // every null element to code 127 — a plausible-looking, maximally-
    // wrong code — and the null-skipping amax fold would scale the rest
    // as if nothing were missing. Nulling v FIRST makes amax, qscale,
    // codes, and l2_err all null together.
    df.select(col(idCol),
        when(exists(v, x => x.isNull), lit(null).cast("array<double>"))
          .otherwise(v).as("v"))
      .withColumn("amax", aggregate(col("v"), lit(0.0), (acc, x) => greatest(acc, abs(x))))
      .withColumn("qscale", scale)
      .drop("amax")
      // materializing qscale as a column (not inlining) keeps the fold
      // below from re-deriving the max per element under projection
      // collapse — and floor(x*qscale + 0.5) reads it twice more
      .withColumn("codes", codes)
      .withColumn("err2",
        aggregate(
          zip_with(col("v"), col("codes"), (x, c) => {
            val d = x - c.cast("double") / col("qscale")
            d * d
          }),
          lit(0.0), (acc, e) => acc + e))
      .select(col(idCol), round(col("qscale"), 6).as("qscale"),
        round(sqrt(col("err2")), 6).as("l2_err"), col("codes"))
  }

  /** Embedding-space decontamination: for every corpus vector, its
    * cosine matches in a (small) evaluation set at or above `threshold`
    * — the semantic sibling of the n-gram `Corpus.decontaminate` and the
    * fuzzy `Dedup.crossNearDupPairs`: a paraphrased or translated eval
    * item shares no n-grams with its leaked twin, but their embeddings
    * still collide. Output: one row per CONTAMINATED corpus vector
    * (idCol, n_eval_matches BIGINT, max_score DOUBLE 6-dp).
    *
    * Scale shape: the eval set is broadcast (eval sets are thousands of
    * rows — the same "queries are small" argument as
    * [[bruteForceTopK]]), so the sweep is a narrow map over ONE corpus
    * scan with a map-side-combined per-id aggregate; nothing shuffles
    * but the matched ids. For eval sets too big to broadcast, route
    * both sides through [[ivfAssign]] and join within coarse lists
    * (the [[semanticDedup]] bounding argument).
    */
  def embeddingDecontaminate(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__cv"))
    val e = evalSet.select(col(idCol).as("__eid"),
      col(vecCol).cast("array<double>").as("__ev"))
    c.crossJoin(broadcast(e))
      .select(col(idCol),
        round(cosine(col("__cv"), col("__ev")), 6).as("__score"))
      .filter(col("__score") >= threshold)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_eval_matches"), max(col("__score")).as("max_score"))
  }

  /** Hard-negative mining for contrastive/retrieval training: for each
    * query vector, the top-`k` corpus vectors whose cosine lands in
    * [`lo`, `hi`) — similar enough to be informative negatives, below
    * the positive/duplicate band (`hi` should sit at or under the
    * near-dup threshold so a leaked positive never becomes a
    * "negative"). Output: (query_id, neighbor_id, score 6-dp, rank),
    * rank 1..k per query by score desc, id asc on ties.
    *
    * Scale shape: queries broadcast (the [[bruteForceTopK]] "queries
    * are small" argument), ONE corpus scan, per-query partial top-k
    * via the window over the band-filtered narrow frame — only banded
    * rows shuffle. For corpus-scale query sets route through
    * [[ivfPqTopK]] and band-filter its ADC scores instead.
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      lo: Double,
      hi: Double): DataFrame = {
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("__cv"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("__cv"), col("__qv")), 6).as("score"))
      .filter(col("score") >= lo && col("score") < hi)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  def embeddingNearDup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      planes: Int = 8,
      bands: Int = 2,
      dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else inferDim(df, vecCol)
    val hp = hyperplanes(bands * planes, d)
    // degenerate guard: null / empty / null-element vectors already fall
    // out (null bucket or null cosine), but a RAGGED vector of the wrong
    // dimension can meet another of the SAME wrong length and score a
    // full cosine — the property sweep caught exactly that pair. A
    // vector that doesn't match the corpus dimension is not a
    // neighbor candidate, period.
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull && size(col("v")) === d &&
        !exists(col("v"), _.isNull))
    val buckets = vecs.select(col("id"),
      posexplode(array((0 until bands).map(b =>
        lshBucket(col("v"), hp.slice(b * planes, (b + 1) * planes))): _*))
        .as(Seq("band", "bkt")))
    val a = buckets.select(col("id").as("id_a"), col("band"), col("bkt"))
    val b = buckets.select(col("id").as("id_b"), col("band"), col("bkt"))
    val pairs = a.join(b, Seq("band", "bkt"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b") // a pair may collide in several bands
    pairs
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("score", round(cosine(col("v_a"), col("v_b")), 6))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("score"))
  }

  /** SemDeDup-style cluster-scoped semantic dedup: assign every vector to
    * its nearest coarse centroid (narrow map, zero shuffle — the literal
    * codebook of [[ivfAssign]]), generate candidate pairs ONLY within a
    * cluster, and drop every vector whose cosine to a LOWER-id cluster
    * mate reaches `threshold`. Returns the survivors `(id, centroid_id)`.
    *
    * The k-means partition is what bounds the quadratic: with k clusters
    * of ~N/k members, total pair work is N²/k — tuned by k alone, each
    * cluster an independent task (the published SemDeDup recipe; the
    * [[embeddingNearDup]] LSH bands are the blocking alternative when no
    * codebook exists). The candidate join carries ids only; vectors are
    * re-fetched per pair. The lowest-id-survives keeper rule is
    * deterministic and order-independent, so the result is identical
    * under any execution order — and oracle-checkable.
    *
    * The drop decision for `id_b` is made against ALL lower-id cluster
    * mates, including mates that are themselves dropped — so chained
    * near-dups prune transitively: with cos(1,2)≥t, cos(2,3)≥t,
    * cos(1,3)<t, vector 3 is dropped via 2 even though its only
    * SURVIVING mate (1) is below threshold. This over-prunes relative to
    * a keeper-graph / exactly-one-survivor-per-duplicate-group semantic;
    * it is the deterministic single-pass contract (one pair join, no
    * iterative keeper propagation), matching the SemDeDup recipe. Callers
    * needing group-wise keep-one should cluster first
    * ([[graft.ext.Dedup]] `clusters`) and keep per component.
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Seq[(Long, Seq[Double])],
      threshold: Double): DataFrame = {
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val assigned = ivfAssign(vecs, cents, "v")
    val ids = assigned.select(col("id"), col("centroid_id"))
    val pairs = ids.select(col("id").as("id_a"), col("centroid_id"))
      .join(ids.select(col("id").as("id_b"), col("centroid_id")), Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val dropped = pairs
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .filter(round(cosine(col("v_a"), col("v_b")), 6) >= threshold)
      .select(col("id_b").as("id"))
      .distinct()
    assigned
      .join(dropped, Seq("id"), "left_anti")
      .select(col("id"), col("centroid_id"))
  }

  /** Cluster-scoped k-nearest-neighbor GRAPH: for every corpus vector,
    * its top-`k` cosine neighbors among its own coarse cluster's members
    * — the all-corpus neighbor structure behind SemDeDup scoring,
    * SSL-prototype filtering, and graph-based diversity sampling, where
    * [[ivfTopK]] answers a small query SET instead.
    *
    * Exact all-pairs is N² and unrunnable at corpus scale; the coarse
    * partition bounds total pair work at N²/k_clusters (the caller's
    * scale knob, same bound as [[semanticDedup]] — clusters are
    * independent tasks). Assignment is the zero-shuffle literal-codebook
    * map of [[ivfAssign]]; the candidate join carries ids only (vectors
    * re-fetched per side); per-source reduction is the partial top-k
    * aggregator ([[graft.ext.TopK.perGroup]]), so the final shuffle is
    * O(N·k) candidate structs, never the O(N·clusterSize) raw pair set.
    * Neighbors whose cosine is NULL (ragged/degenerate vectors) are
    * dropped, not ranked — the [[TopKAggregator]] contract shared by
    * every ANN surface here.
    *
    * Cross-cluster near-neighbors are invisible by construction (the
    * recall/k_clusters trade documented for SemDeDup applies verbatim);
    * callers needing recall across boundaries probe with nprobe > 1 via
    * [[ivfTopK]] using the corpus itself as the query set.
    */
  def knnGraph(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Seq[(Long, Seq[Double])],
      k: Int): DataFrame = {
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val ids = ivfAssign(vecs, cents, "v").select(col("id"), col("centroid_id"))
    val cand = ids.select(col("id").as("src_id"), col("centroid_id"))
      .join(ids.select(col("id").as("neighbor_id"), col("centroid_id")),
        Seq("centroid_id"))
      .filter(col("src_id") =!= col("neighbor_id"))
      .select("src_id", "neighbor_id")
    val scored = cand
      .join(vecs.select(col("id").as("src_id"), col("v").as("va")), Seq("src_id"))
      .join(vecs.select(col("id").as("neighbor_id"), col("v").as("vb")),
        Seq("neighbor_id"))
      .select(col("src_id"), col("neighbor_id"),
        round(cosine(col("va"), col("vb")), 6).as("score"))
    TopK.perGroup(scored, Seq("src_id"), col("score"), col("neighbor_id"), k)
  }

  /** Per-cluster cosine-to-centroid outliers: members whose similarity
    * to their own coarse centroid falls more than `sigmas` standard
    * deviations below the cluster mean — the embedding-hygiene sweep
    * that surfaces garbage/poisoned/mis-encoded vectors AFTER
    * quantization has hidden them inside a list. Same narrow-map
    * assignment as serving; the mean/std come from one O(|centroids|)
    * aggregate (decimal-exact moments, the [[dimStats]] recipe)
    * broadcast back onto the member stream — two corpus-sized narrow
    * passes, zero corpus-sized shuffles. Single-member clusters have
    * std 0 and can never flag their one member (strict `<`).
    *
    * Output: (idCol, centroid_id, score, c_mean, c_std), outliers only.
    */
  def clusterOutliers(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centroidId: String,
      centroidVec: String,
      sigmas: Double = 2.0): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cents = collectCentroids(centroids, centroidId, centroidVec)
    val centDf = centroids.select(col(centroidId).cast("long").as("centroid_id"),
      col(centroidVec).cast("array<double>").as("__cv"))
    val scored = corpus
      .withColumn("centroid_id", nearestCentroid(col(vecCol), cents))
      .join(broadcast(centDf), Seq("centroid_id"))
      .select(col(idCol), col("centroid_id"),
        round(cosine(col(vecCol).cast("array<double>"), col("__cv")), 6).as("score"))
    // per-cluster moments via the dimStats recipe: DECIMAL(28,10) sums →
    // association-order-exact mean/std, rounded once; O(|centroids|)
    // stats frame broadcast back onto the member stream
    val stats = scored.groupBy(col("centroid_id"))
      .agg(
        count(lit(1)).as("__n"),
        sum(col("score").cast(DecimalType(28, 10))).as("__s1"),
        sum((col("score") * col("score")).cast(DecimalType(28, 10))).as("__s2"))
      .select(
        col("centroid_id"),
        round(col("__s1").cast("double") / col("__n"), 6).as("c_mean"),
        round(sqrt(greatest(
          col("__s2").cast("double") / col("__n") -
            (col("__s1").cast("double") / col("__n")) *
            (col("__s1").cast("double") / col("__n")),
          lit(0.0))), 6).as("c_std"))
    scored.join(broadcast(stats), Seq("centroid_id"))
      .filter(col("score") < round(col("c_mean") - lit(sigmas) * col("c_std"), 6))
      .select(col(idCol), col("centroid_id"), col("score"), col("c_mean"), col("c_std"))
  }

  /** Upper-triangle covariance matrix of the embedding coordinates —
    * the input to PCA/whitening decisions and the [[topComponent]]
    * power iteration. `cov(i,j) = E[xᵢxⱼ] − E[xᵢ]E[xⱼ]` with the
    * cross-moment sums carried as DECIMAL(28,10) (the [[dimStats]]
    * recipe) so every entry is association-order-exact and
    * engine-identical after its single 6-dp round.
    *
    * Scale shape: ONE narrow pass emits the dim·(dim+1)/2 upper-triangle
    * products per row via the native [[graft.expr.UpperTriProducts]]
    * kernel (a primitive-loop codegen expression — the nested-`transform`
    * HOF formulation it replaced ran interpreted, 2,080 boxed struct
    * allocations per row; measured 7.7 → ~2 s on the sf0.1 artifact
    * build), then a map-side-combined hash aggregate keyed on the
    * triangle POSITION collapses to O(dim²) cells — for dim 64 that is
    * 2,080 rows of state at any corpus size; the position→(dim_i, dim_j)
    * map joins back broadcast on the aggregated frame, and means ride
    * the same pattern at O(dim). Rows with a wrong-length or
    * null-element vector are excluded up front (a partial row would
    * silently bias every cell it touches).
    *
    * Output: (dim_i INT, dim_j INT, cov DOUBLE), i ≤ j.
    */
  def covariance(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(dim > 0, s"dim must be positive, got $dim")
    val spark = df.sparkSession
    val v = col(vecCol).cast("array<double>")
    val clean = df
      .filter(size(v) === dim && !exists(v, _.isNull))
      .select(v.as("__v"))
    val n1 = clean.agg(count(lit(1)).as("__n"))
    // native kernel emits the triangle as a primitive double array
    // (position p = row-major (i, j ≥ i) enumeration); the 2,080-cell
    // position→(i, j) map joins back AFTER the aggregate, on the
    // O(dim²) frame — never per corpus row
    val posMap = {
      import spark.implicits._
      (for (i <- 0 until dim; j <- i until dim)
        yield (i * dim - i * (i - 1) / 2 + (j - i), i, j))
        .toDF("pos", "dim_i", "dim_j")
    }
    val pairs = clean
      .select(posexplode(org.apache.spark.sql.GraftSqlBridge.column(
        graft.expr.UpperTriProducts(
          org.apache.spark.sql.GraftSqlBridge.expression(col("__v")), dim)))
        .as(Seq("pos", "xy")))
      .groupBy(col("pos"))
      .agg(sum(col("xy").cast(DecimalType(28, 10))).as("__s2"))
      .join(broadcast(posMap), Seq("pos"))
    val means = clean
      .select(posexplode(col("__v")).as(Seq("dim_i", "x")))
      .groupBy(col("dim_i"))
      .agg(sum(col("x").cast(DecimalType(28, 10))).as("__s1"))
    pairs
      .join(broadcast(means.select(col("dim_i"), col("__s1").as("__s1i"))), Seq("dim_i"))
      .join(broadcast(means.select(col("dim_i").as("dim_j"), col("__s1").as("__s1j"))),
        Seq("dim_j"))
      .crossJoin(broadcast(n1))
      .select(col("dim_i"), col("dim_j"),
        round(col("__s2").cast("double") / col("__n") -
          (col("__s1i").cast("double") / col("__n")) *
          (col("__s1j").cast("double") / col("__n")), 6).as("cov"))
  }

  /** Leading principal component by power iteration over a
    * [[covariance]] frame: `z_{k+1} = C·z_k / ‖C·z_k‖`, `rounds` times
    * from the deterministic all-positive start `z₀ = 1/√dim`, returning
    * the loading vector and the Rayleigh-style eigenvalue estimate
    * (‖C·z‖ at the final step).
    *
    * The distributed work IS the covariance pass; the iteration runs on
    * the collected O(dim²) cell table — the IVF-codebook driver-size
    * argument. Determinism is engineered so the DuckDB oracle replays
    * the exact trajectory: C and every z are 6-dp decimals, each matvec
    * accumulates exact decimal products (order-free), the norm squares
    * exact scale-12 decimals, and the ONLY floating steps are the final
    * divide + 6-dp HALF_UP round per entry — bit-identical on both
    * engines. Power iteration's sign ambiguity is pinned by the
    * all-positive start and the shared trajectory.
    *
    * Output: (dim_i INT, loading DOUBLE, eigenvalue DOUBLE), dim rows.
    */
  def topComponent(
      cov: DataFrame,
      dim: Int,
      rounds: Int = 3): DataFrame = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    require(rounds > 0, s"rounds must be positive, got $rounds")
    val c = Array.ofDim[JBD](dim, dim)
    val zero = JBD.ZERO.setScale(6)
    for (i <- 0 until dim; j <- 0 until dim) c(i)(j) = zero
    cov.select(col("dim_i").cast("int"), col("dim_j").cast("int"),
        col("cov").cast("double"))
      .collect().foreach { r =>
        val v = JBD.valueOf(r.getDouble(2)).setScale(6, RoundingMode.HALF_UP)
        c(r.getInt(0))(r.getInt(1)) = v
        c(r.getInt(1))(r.getInt(0)) = v
      }
    var z = Array.fill(dim)(
      JBD.valueOf(1.0 / math.sqrt(dim.toDouble)).setScale(6, RoundingMode.HALF_UP))
    var norm = 0.0
    for (_ <- 1 to rounds) {
      // exact decimal matvec (order-free), exact scale-12 squares
      val raw = Array.tabulate(dim) { i =>
        (0 until dim).foldLeft(JBD.ZERO) { (acc, j) =>
          acc.add(c(i)(j).multiply(z(j)))
        }.setScale(12, RoundingMode.HALF_UP)
      }
      val sumSq = raw.foldLeft(JBD.ZERO)((acc, r) => acc.add(r.multiply(r)))
      norm = math.sqrt(sumSq.doubleValue())
      z = raw.map(r =>
        JBD.valueOf(r.doubleValue() / norm).setScale(6, RoundingMode.HALF_UP))
    }
    val spark = cov.sparkSession
    import spark.implicits._
    val ev = JBD.valueOf(norm).setScale(6, RoundingMode.HALF_UP).doubleValue()
    z.zipWithIndex.map { case (l, i) => (i, l.doubleValue(), ev) }.toSeq
      .toDF("dim_i", "loading", "eigenvalue")
  }

  /** Per-dimension embedding health report: count / mean / std / min /
    * max for every coordinate across the corpus — the anisotropy &
    * collapse audit run before trusting cosine geometry (a dimension
    * with near-zero variance contributes nothing; wildly uncentered
    * dimensions dominate dot products; a handful of rogue dimensions is
    * the classic symptom of a degenerate encoder).
    *
    * One `posexplode` + one hash aggregate keyed by dimension index:
    * map-side combine collapses each partition to `dim` partial rows, so
    * the shuffle and final state are O(dim), never O(corpus). Sums are
    * carried as DECIMAL(28,10) (the [[ivfTrain]] recipe) so mean and
    * variance are association-order-exact and engine-identical; the
    * variance uses the moment identity E[x²]−E[x]² on the UNROUNDED
    * decimal-exact means, rounded once at the end. NULL vectors
    * contribute no rows; NULL elements are excluded per-dimension
    * (`count` is per-dimension non-null, not corpus size).
    */
  /** Embedding-distribution drift between two halves of the corpus
    * (`idCol % 2` — the stand-in for "last batch vs this batch"): per
    * label, the L2 distance between the two halves' per-dimension mean
    * vectors, the "did the embedding space move?" check run before
    * trusting a nearest-neighbor index built on yesterday's vectors.
    *
    * Determinism at scale: per-(label, dim) element sums are
    * DECIMAL(28,10)-exact (the [[dimStats]] recipe — partition-order
    * free); each dimension's squared mean gap is one fixed double
    * chain rounded to 8 dp, and the over-dims reduction is again a
    * decimal sum ([[Metrics.chiSquare]]'s bounded-grid pattern — the
    * state after the one corpus scan is |labels| × dim). Labels with
    * an empty half report NULL drift rather than a fake 0.
    */
  def drift(df: DataFrame, vecCol: String, idCol: String, labelCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(28, 10)
    val ex = df
      .select(col(labelCol).as("label"), (col(idCol) % 2 === 0).as("ev"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim_i", "x")))
      .filter(col("x").isNotNull)
    val per = ex.groupBy(col("label"), col("dim_i"))
      .agg(
        sum(when(col("ev"), 1L).otherwise(0L)).as("ne"),
        sum(when(col("ev"), col("x")).otherwise(lit(0.0)).cast(dec)).as("se"),
        sum(when(!col("ev"), 1L).otherwise(0L)).as("no"),
        sum(when(!col("ev"), col("x")).otherwise(lit(0.0)).cast(dec)).as("so"))
    val gap = col("se").cast("double") / col("ne").cast("double") -
      col("so").cast("double") / col("no").cast("double")
    per
      .withColumn("g2",
        when(col("ne") > 0 && col("no") > 0, round(gap * gap, 8)))
      .groupBy(col("label"))
      .agg(
        max(col("ne")).as("n_even"), max(col("no")).as("n_odd"),
        count(lit(1)).as("n_dims"),
        sum(col("g2").cast(DecimalType(28, 8))).as("__sg"),
        count(col("g2")).as("__ok"))
      .select(col("label"), col("n_even"), col("n_odd"), col("n_dims"),
        when(col("__ok") === col("n_dims"),
          round(sqrt(col("__sg").cast("double")), 6)).as("drift_l2"))
      .orderBy("label")
  }

  def dimStats(df: DataFrame, vecCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ex = df
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("dim_i", "x")))
      .filter(col("x").isNotNull)
    ex.groupBy(col("dim_i"))
      .agg(
        count(col("x")).as("n_vals"),
        sum(col("x").cast(DecimalType(28, 10))).as("__s1"),
        sum((col("x") * col("x")).cast(DecimalType(28, 10))).as("__s2"),
        round(min(col("x")), 6).as("min_val"),
        round(max(col("x")), 6).as("max_val"))
      .select(
        col("dim_i"), col("n_vals"),
        round(col("__s1").cast("double") / col("n_vals"), 6).as("mean_val"),
        round(sqrt(greatest(
          col("__s2").cast("double") / col("n_vals") -
            (col("__s1").cast("double") / col("n_vals")) *
            (col("__s1").cast("double") / col("n_vals")),
          lit(0.0))), 6).as("std_val"),
        col("min_val"), col("max_val"))
  }

  /** Per-dimension whitening (standardization): `w_i = (x_i − μ_i)/σ_i`
    * with the corpus moments from [[dimStats]] — the preprocessing that
    * re-centers and re-scales embedding space before cosine/dot-product
    * geometry is trusted (uncentered or rogue-variance dimensions
    * dominate dot products; see the dimStats rationale). Zero-variance
    * dimensions whiten to 0.0 (they carry no information; dividing
    * would poison the vector with ±∞).
    *
    * Scale shape: the stats collapse to ONE O(dim) driver row set (the
    * codebook pattern — same as IVF centroids), inlined as array
    * literals into a `zip_with` chain: the whitening itself is a NARROW
    * MAP over the corpus, no join, no shuffle, no per-element lambda
    * indexing (the corpus_bigrams interpreted-lambda lesson). Vectors
    * of a different length than the stats (ragged) produce NULL tail
    * elements via zip_with's padding — visibly wrong rather than
    * silently mis-scaled; NULL vectors stay NULL.
    *
    * Determinism: μ/σ are dimStats' 6-dp-rounded decimal-exact moments;
    * each whitened element rounds to 6 dp — the composition is
    * bit-identical across engines.
    *
    * Output: (idCol, w ARRAY<DOUBLE>).
    */
  def whiten(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val stats = dimStats(df, vecCol)
      .select(col("dim_i"), col("mean_val"), col("std_val"))
      .orderBy("dim_i")
      .collect()
    require(stats.nonEmpty, "whiten: corpus has no non-null vector elements")
    val means = array(stats.map(r => lit(r.getDouble(1))).toSeq: _*)
    val stds = array(stats.map(r => lit(r.getDouble(2))).toSeq: _*)
    val centered = zip_with(col(vecCol).cast("array<double>"), means, (x, m) => x - m)
    val whitened = zip_with(centered, stds, (x, s) =>
      when(x.isNull, lit(null).cast("double"))
        .when(s === 0.0, lit(0.0))
        .otherwise(round(x / s, 6)))
    df.select(col(idCol), whitened.as("w"))
  }

  /** Energy-retention curve under prefix truncation: for each cutoff d,
    * the mean over vectors of ‖v[0:d]‖ / ‖v‖ — the number a
    * Matryoshka-style "can we serve the first d dims?" decision reads.
    * The cutoffs ride in as one broadcast literal frame (rows ×
    * |dims| narrow expansion, no shuffle until the O(|dims|)
    * aggregate); per-vector ratios are deterministic double folds
    * ([[dot]] is a sequential fold) rounded to 6 dp, then averaged as
    * exact decimals — adding cutoffs never rescans the corpus twice.
    * All-zero vectors count as fully retained (ratio 1) rather than
    * poisoning the mean with NaN.
    */
  def energyCurve(df: DataFrame, vecCol: String, dims: Seq[Int]): DataFrame = {
    val dimFrame = df.sparkSession.range(1).select(
      explode(array(dims.map(d => lit(d)): _*)).as("d"))
    df.select(col(vecCol).as("v"))
      .withColumn("ssq_full", dot(col("v"), col("v")))
      .crossJoin(broadcast(dimFrame))
      .withColumn("ssq_d",
        dot(slice(col("v"), lit(1), col("d")), slice(col("v"), lit(1), col("d"))))
      .withColumn("ratio",
        when(col("ssq_full") === 0.0, lit(1.0))
          .otherwise(round(sqrt(col("ssq_d") / col("ssq_full")), 6)))
      .groupBy(col("d"))
      .agg(
        count(lit(1)).as("n_vecs"),
        round(sum(col("ratio").cast(org.apache.spark.sql.types.DecimalType(28, 10)))
          .cast("double") / count(lit(1)), 6).as("mean_retention"))
  }
}
