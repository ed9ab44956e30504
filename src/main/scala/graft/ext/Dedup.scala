package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Which hash family a hash-valued operator uses.
  *
  *  - [[HashMode.Engine]] — seeded `xxhash64`, engine-internal: outputs
  *    depending on it can only be rows-checked. MinHash signatures and
  *    band buckets run as native kernels ([[graft.expr.EngineMinhashText]],
  *    [[graft.expr.EngineBandBuckets]]).
  *  - [[HashMode.Portable]] — [[PortableHash]]: md5-derived 32-bit base
  *    hash + literal-constant integer arithmetic, bit-identical in any
  *    engine; outputs are fully oracle-checkable. MinHash runs as a
  *    native kernel too ([[graft.expr.PortableMinhashText]]; per-shingle
  *    cost in the [[PortableHash]] doc).
  */
sealed trait HashMode
object HashMode {
  case object Engine extends HashMode
  case object Portable extends HashMode
}

/** Deduplication operators for LLM training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard (embedding near-dup lives in
  * [[Similarity]]). North-star surface — the reference has no dedup; its
  * closest concept is idempotent re-apply keyed on the PK
  * (reference: cdc_system.py:327).
  *
  * Scale design: every near-dup variant is CANDIDATE GENERATION (bounded
  * blocking join) + VERIFICATION (exact measure on candidates only). The
  * all-pairs O(n²) comparison never materializes; candidate count is
  * bounded by band/bucket collision rates, which is what makes these
  * runnable at 100 TB. Hashing is seeded `xxhash64` (Engine mode) or the
  * md5-derived [[PortableHash]] family (Portable mode); both are stable
  * across runs and cluster sizes. In both modes the shingle → signature →
  * band-bucket chain runs as native kernels (`graft.expr`), never as
  * interpreted higher-order lambdas; the lambda formulations stay as the
  * `*Columnar` reference twins the tests check the kernels against.
  */
object Dedup {

  /** Exact dedup on a normalized content hash. Returns one keeper row per
    * distinct text (lowest id wins — deterministic), plus the duplicate
    * count. One hash-aggregate shuffle on the fingerprint; at 100 TB this
    * is the cheapest possible dedup (no joins, map-side partial agg).
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(TextAnalysis.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Word n-gram shingles of the text, distinct. Documents shorter than
    * `n` tokens yield their whole text as a single shingle.
    */
  def shingles(text: Column, n: Int): Column = {
    val tk = TextAnalysis.tokens(lower(text))
    when(size(tk) < n, array(concat_ws(" ", tk)))
      .otherwise(array_distinct(
        transform(sequence(lit(0), size(tk) - n),
          i => concat_ws(" ", slice(tk, i + 1, lit(n))))))
  }

  /** Sorted distinct xxhash64 hashes of [[shingles]], via the one-pass
    * native [[graft.expr.HashedShingles]] kernel — bit-identical to
    * `array_sort(array_distinct(transform(shingles(text, n), xxhash64)))`
    * (cross-checked in tests) at a fraction of the cost: the Column chain
    * was ~8 s of every fuzzy-dedup query at sf0.1, all of it interpreted
    * lambdas and per-window string/array allocation.
    */
  def hashedShingles(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.expr.HashedShingles(
        org.apache.spark.sql.GraftSqlBridge.expression(text), n))

  /** Native word-n-gram (gram, tf) pairs per document — see
    * [[graft.expr.TfGrams]]. `withShortFallback = false` drops docs
    * shorter than `n` tokens instead of emitting the whole-text gram.
    */
  def tfGrams(text: Column, n: Int, withShortFallback: Boolean = true): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.expr.TfGrams(
        org.apache.spark.sql.GraftSqlBridge.expression(text), n, withShortFallback))

  /** Native word-n-grams IN TEXT ORDER with multiplicity — see
    * [[graft.expr.PosGrams]]. `posexplode` over it yields `(pos, gram)`
    * with 0-based token offsets; docs shorter than `n` tokens yield an
    * empty array (span audits want real n-grams only).
    */
  def posGrams(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.expr.PosGrams(
        org.apache.spark.sql.GraftSqlBridge.expression(text), n))

  /** Exact Jaccard similarity of two PRE-DISTINCT shingle arrays.
    * |A∪B| is derived as |A|+|B|−|A∩B| — valid ONLY for distinct inputs
    * (every internal caller produces distinct shingle sets), saving the
    * second hash-set build per pair. Callers with possibly-repeating
    * arrays (e.g. the SQL surface) must use [[jaccardGeneral]].
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** Jaccard for arbitrary (possibly repeating) arrays: distinct-ifies
    * both sides first.
    */
  def jaccardGeneral(a: Column, b: Column): Column =
    jaccard(array_distinct(a), array_distinct(b))

  /** Jaccard of two SORTED, DISTINCT `array<long>` columns via the native
    * two-pointer [[graft.expr.SortedIntersectCount]] kernel — same values
    * as [[jaccard]] (identical arithmetic on identical counts), several
    * times cheaper per pair: no per-pair hash-set allocation, fully
    * inside whole-stage codegen. The pair-verify hot path of
    * [[ngramJaccardDedup]] / [[minhashLshDedup]].
    */
  def jaccardSorted(a: Column, b: Column): Column = {
    val inter = org.apache.spark.sql.GraftSqlBridge.column(
      graft.expr.SortedIntersectCount(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(b))).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** [[jaccardSorted]] for callers that immediately filter
    * `round(jac, 6) >= minJaccard`: runs the threshold-bounded kernel
    * ([[graft.expr.SortedIntersectCountBounded]]), which early-exits —
    * returning a provably-below-threshold undercount — as soon as the
    * remaining elements cannot lift the pair over the filter. Values for
    * pairs AT or ABOVE the threshold are identical to [[jaccardSorted]];
    * values below it may be smaller but never cross the filter in either
    * direction, so the post-filter result set is exactly the same.
    */
  def jaccardSortedAtLeast(a: Column, b: Column, minJaccard: Double): Column = {
    val inter = org.apache.spark.sql.GraftSqlBridge.column(
      graft.expr.SortedIntersectCountBounded(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(b),
        org.apache.spark.sql.GraftSqlBridge.expression(lit(minJaccard)))).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** All pairs within the same block with n-gram Jaccard >= `threshold`
    * — EXACT output (equal to the naive within-block all-pairs), from
    * PREFIX-FILTERED inverted-index candidate generation (the AllPairs/
    * PPJoin principle, Bayardo et al. WWW'07; Xiao et al. WWW'08).
    *
    * `blockCol` scopes comparability (same-language, same source
    * bucket, ...). Output: (id_a, id_b, jac) with id_a < id_b.
    *
    * Candidate generation: each doc's sorted-distinct hashed shingles
    * are ranked by ascending within-block document frequency (ties by
    * shingle value — a total order shared by every doc in the block);
    * only the first `|d| - ceil(tPre·|d|) + 1` shingles (the PREFIX,
    * tPre = threshold minus the 6-dp rounding half-step) enter the
    * inverted index. A pair with round(jac,6) >= threshold has
    * intersection >= ceil(tPre·|d|) on both sides, and by the prefix-
    * filtering lemma must share at least one PREFIX shingle — so the
    * equi-join of prefix postings on (block, shingle) is a superset of
    * the qualifying pairs and the output is exact. Rarest-first ordering
    * is what makes it scale: globally common shingles (the df² fanout
    * killers) rank LAST inside every doc and fall out of the prefix, so
    * posting lists in the index stay short; candidate work is
    * Σ_s dfP(s)² over PREFIX document frequencies, not block².
    * Parallelism comes from the shingle-key join itself (the shuffle
    * distributes by (block, shingle) — millions of keys, not 5 language
    * blocks), so no salting is needed; `saltFanout` is retained for
    * source compatibility and ignored.
    *
    * Verification re-fetches the two sorted long arrays by id and runs
    * the native threshold-bounded two-pointer kernel
    * ([[jaccardSortedAtLeast]]); a size-ratio prefilter prunes
    * candidates that cannot reach the threshold before any array moves.
    *
    * NOTE: building the returned DataFrame RUNS Spark jobs eagerly (the
    * shingled base is checkpointed; with `maxBlockRows` set the guard
    * additionally counts posting lists) — plan-only inspection of the
    * result is not free.
    */
  /** Sorted-neighborhood near-dup pairs (SNM — Hernández/Stolfo's
    * merge/purge): sort each block by a normalized key and compare only
    * rows within `window` positions of each other — the THIRD candidate
    * class beside hash blocking (rare-gram / LSH buckets) and the
    * inverted index: candidate count is exactly `window` per row BY
    * CONSTRUCTION (no collision-rate tail at all), at the price of
    * recall limited to what the sort key makes adjacent (an edit in the
    * leading tokens teleports a dup away — classic multi-pass SNM runs
    * several keys; one pass here, the property documented).
    *
    * Shape: the sort is PER BLOCK (a window over the block key — never
    * global), and the window carries only ids; shingle sets join back
    * by id afterward, so the sorted shuffle moves keys, not arrays.
    * Per-row fanout `window` keeps the verify join linear. Pairs are
    * emitted once (each neighbor pair has exactly one (row, offset)
    * generator), normalized to id_a < id_b, 6-dp-rounded Jaccard BEFORE
    * the threshold filter.
    */
  def sortedNeighborhoodPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      blockCol: Column,
      window: Int = 4,
      n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val base = df.select(col(idCol).as("__id"), blockCol.as("__blk"),
      TextAnalysis.normalizeText(col(textCol)).as("__key"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__blk")).orderBy(col("__key"), col("__id"))
    val cand = base
      .withColumn("__nbrs", array((1 to window).map(i =>
        lead(col("__id"), i).over(w)): _*))
      .select(col("__id"), explode(col("__nbrs")).as("__nid"))
      .filter(col("__nid").isNotNull)
      .select(least(col("__id"), col("__nid")).as("id_a"),
        greatest(col("__id"), col("__nid")).as("id_b"))
    // verify on the native sorted-hash kernel (the ngramJaccardDedup
    // production path — measured 9.5 s -> ~3 s at sf0.1 vs the string
    // array_intersect form, which re-ran the interpreted shingle
    // transform once per join side)
    val shingled = df.select(col(idCol).as("__sid"),
      hashedShingles(col(textCol), n).as("__sh"))
    cand
      .join(shingled.select(col("__sid").as("id_a"), col("__sh").as("__sa")), "id_a")
      .join(shingled.select(col("__sid").as("id_b"), col("__sh").as("__sb")), "id_b")
      .withColumn("jac", round(jaccardSortedAtLeast(col("__sa"), col("__sb"), threshold), 6))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("jac"))
  }

  /** Sparse TF-cosine near-duplicate pairs via an inverted-index
    * self-join — the WEIGHTED sibling of [[ngramJaccardDedup]]: Jaccard
    * sees shingle SETS, cosine sees shingle COUNTS, so a document that
    * repeats one passage ten times looks very different to the two
    * (repetition-heavy spam clusters are exactly where they disagree).
    *
    * Per doc, word-`n`-gram shingles WITH multiplicity become a sparse
    * TF vector; the pair dot products come from a self-join of the
    * posting list `(gram, doc, tf)` on the gram key — each gram
    * contributes `df²` candidate pairs, so grams with `df > maxDf` are
    * dropped from the vector space (both the dot AND the norms — the
    * cosine is exact within the pruned subspace). That cap is the
    * scale contract: per-gram fanout is ≤ maxDf², the join is an
    * equi-join on the gram key (one shuffle partitioning, reused by the
    * df-annotating window on the same key), and dot products / norms
    * are exact integer sums — the only doubles are the final
    * sqrt-divide, identical in any engine. Pairs are emitted once
    * (id_a < id_b), rounded to 6 dp BEFORE the threshold filter.
    */
  def cosinePairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      maxDf: Long = 64): DataFrame = {
    // grams WITH multiplicity (tf weights are the point of this op),
    // counted per document inside the native [[graft.expr.TfGrams]]
    // kernel: the exploded output IS the (gram, doc, tf) posting list —
    // no interpreted window HOF, no (gram, doc) aggregation exchange
    // (round-9: the gram-string build dominated the board's slowest
    // query; bit-equality with the columnar form is spec-pinned)
    val tf = df
      .select(col(idCol).as("__id"), explode(tfGrams(col(textCol), n)).as("__gt"))
      .select(col("__id"), col("__gt.g").as("__g"), col("__gt.tf").as("__tf"))
    // df via a window on the gram key: reuses the groupBy's hash
    // partitioning instead of shuffling a separate df aggregate back in
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(col("__g"))
    val posting = tf.withColumn("__df", count(lit(1)).over(wg))
      .filter(col("__df") <= maxDf)
    val norms = posting.groupBy(col("__id"))
      .agg(sum(col("__tf") * col("__tf")).as("__n2"))
    val dots = posting.as("a")
      .join(posting.as("b"),
        col("a.__g") === col("b.__g") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"))
      .agg(sum(col("a.__tf") * col("b.__tf")).as("__dot"))
    dots
      .join(norms.select(col("__id").as("doc_a"), col("__n2").as("__na")), "doc_a")
      .join(norms.select(col("__id").as("doc_b"), col("__n2").as("__nb")), "doc_b")
      .withColumn("cosine",
        round(col("__dot").cast("double") /
          (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double"))), 6))
      .filter(col("cosine") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cosine"))
  }

  /** Shared candidate-generation path for the posting-list pair finders
    * ([[ngramJaccardDedup]]'s prefix postings, [[containmentPairs]]'
    * rare-gram postings — round-13 unification): self-join the postings
    * on their key columns into distinct ordered id pairs. When the
    * postings carry `nsh` and a `sizeRatioPre` bound t is given, the
    * size-ratio prefilter runs BEFORE the distinct and any payload
    * fetch: jaccard <= min(|A|,|B|)/max(|A|,|B|), so pairs failing the
    * ratio can never reach the threshold. The shuffle key is the full
    * posting key (shingle-grained — huge key space), so parallelism is
    * the cluster's without salting.
    */
  private def postingCandidates(
      posts: DataFrame,
      key: Seq[String],
      sizeRatioPre: Option[Double]): DataFrame = {
    val withSize = posts.columns.contains("nsh")
    val a = posts.select(key.map(col) ++ Seq(col("id").as("id_a")) ++
      (if (withSize) Seq(col("nsh").as("na")) else Nil): _*)
    val b = posts.select(key.map(col) ++ Seq(col("id").as("id_b")) ++
      (if (withSize) Seq(col("nsh").as("nb")) else Nil): _*)
    val joined = a.join(b, key).filter(col("id_a") < col("id_b"))
    sizeRatioPre.fold(joined) { t =>
      joined.filter(least(col("na"), col("nb")).cast("double")
        >= greatest(col("na"), col("nb")) * t)
    }.select(col("id_a"), col("id_b")).distinct()
  }

  /** Shared verify stage: re-fetch the two sorted hashed-shingle arrays
    * by id (candidates carry ids only, never payloads), compute the
    * pair measure, keep rows at/above `threshold`. `base` must expose
    * (id, sh).
    */
  private def verifyCandidates(
      cand: DataFrame,
      base: DataFrame,
      measure: (Column, Column) => Column,
      outName: String,
      threshold: Double): DataFrame =
    cand
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn(outName, measure(col("sh_a"), col("sh_b")))
      .filter(col(outName) >= threshold)
      .select(col("id_a"), col("id_b"), col(outName))

  def ngramJaccardDedup(
      df: DataFrame,
      textCol: String,
      idCol: String,
      blockCol: Column,
      n: Int = 3,
      threshold: Double = 0.8,
      saltFanout: Int = 32,
      maxBlockRows: Option[Long] = None): DataFrame = {
    val _ = saltFanout // ignored — see scaladoc (inverted index needs no salt)
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val tPre = threshold - 5e-7 // 6-dp rounding half-step, see prefilter note
    // Shingles hashed to 64-bit longs, SORTED DISTINCT at build time
    // ([[graft.expr.HashedShingles]]): the verify runs the native
    // two-pointer intersect kernel over primitive-long arrays. Jaccard
    // values are unchanged absent an xxhash64 collision inside one
    // block's shingle universe (P ≈ u²/2⁶⁵ — for u = 10⁶ distinct
    // shingles, ~3e-8).
    //
    // Consumed three times (posting build + both verify re-fetches):
    // localCheckpoint runs the shingle kernel once. Checkpoint, not
    // persist: checkpoint blocks are released when the plan is GC'd,
    // whereas a CacheManager persist with no unpersist() would accumulate
    // per invocation in a long-lived session. O(corpus) storage — the
    // quantity that must NOT be materialized is the pair set, and never is.
    val base = df.select(
        col(idCol).as("id"),
        blockCol.as("blk"),
        hashedShingles(col(textCol), n).as("sh"))
      .withColumn("nsh", size(col("sh")))
      // null/empty shingle sets can never reach a positive threshold
      // (null text → null jaccard; empty → jac 0, both filtered): drop
      // them before they enter the df statistics
      .filter(col("nsh") > 0)
      .repartition(parallelism)
      .localCheckpoint(true)

    // (blk, s, id, nsh) postings, each annotated with the shingle's
    // within-block document frequency — a windowed count on the (blk, s)
    // key (reuses the hash partitioning the join below wants) rather
    // than a separate df aggregate shuffled back in.
    val posts = base.select(col("id"), col("blk"), col("nsh"),
      explode(col("sh")).as("s"))
    val wdf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("blk"), col("s"))
    val wdoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("blk"), col("id"))
      .orderBy(col("__df"), col("s"))
    // Prefix length |d| - α + 1 with α = ceil(tPre·|d|): a qualifying
    // pair has jac >= tPre, so |A∩B| >= tPre·|A∪B| >= tPre·|A|, and an
    // integer >= tPre·|A| is >= α — the prefix lemma then guarantees a
    // shared prefix shingle (take the α-th-from-last intersection
    // element in the shared (df, s) order: at least α-1 intersection
    // elements follow it in BOTH docs, so it sits within both prefixes).
    // The 1e-9 nudge keeps double rounding of tPre·|d| from ever
    // inflating α past the true real value (missing a boundary pair);
    // it can only lengthen a prefix by one — correctness-neutral.
    val prefix = posts
      .withColumn("__df", count(lit(1)).over(wdf))
      .withColumn("__rk", row_number().over(wdoc))
      .filter(col("__rk") <=
        col("nsh") - ceil(lit(tPre) * col("nsh") - lit(1e-9)) + 1)
      .select(col("blk"), col("s"), col("id"), col("nsh"))

    // Hot-posting guard: candidate fanout per prefix posting is
    // O(list²); silently letting one ultra-hot posting (a boilerplate
    // shingle ranking rare inside millions of near-identical docs) go
    // quadratic is the 100 TB failure mode. When a cap is set, fail fast
    // naming the offending keys instead. (Such a posting means the TRUE
    // pair OUTPUT is itself near-quadratic in that clone cluster — no
    // exact algorithm avoids that work; the guard makes it a named,
    // bounded decision.)
    maxBlockRows.foreach { cap =>
      val hot = prefix.groupBy(col("blk"), col("s")).count()
        .filter(col("count") > cap)
        .orderBy(col("count").desc).limit(5)
        .collect()
      if (hot.nonEmpty) {
        val desc = hot.map(r =>
          s"(blk=${r.get(0)}, shingle=${r.get(1)}: ${r.getLong(2)} docs)")
          .mkString(", ")
        throw new IllegalStateException(
          s"ngramJaccardDedup: prefix-posting lists exceed maxBlockRows=$cap — $desc. " +
            "Compose a finer block key or use minhashLshDedup for this corpus.")
      }
    }

    // Candidates: prefix postings self-joined on the (block, shingle)
    // key via the shared [[postingCandidates]] path. The size-ratio
    // prefilter bound is loosened by the 6-dp half-step: the final
    // filter accepts round(jac,6) >= t, i.e. jac >= t - 5e-7, so the
    // prefilter must not cut pairs inside that half-step.
    val cand = postingCandidates(prefix, Seq("blk", "s"), Some(tPre))
    verifyCandidates(cand, base.select(col("id"), col("sh")),
      (a, b) => round(jaccardSortedAtLeast(a, b, threshold), 6),
      "jac", threshold)
  }

  /** Blocked fuzzy (edit-distance) duplicate pairs: all pairs within a
    * block whose `strCol` Levenshtein distance is <= `maxDistance` —
    * the classic fuzzy-match dedup for short fields (names, titles,
    * SKUs). Same blocking discipline as [[ngramJaccardDedup]]: the
    * quadratic comparison never leaves a block. `levenshtein` is a
    * codegen'd built-in in both Spark and the DuckDB oracle.
    */
  def fuzzyPairs(
      df: DataFrame,
      strCol: String,
      idCol: String,
      blockCol: Column,
      maxDistance: Int = 2): DataFrame = {
    val base = df.select(col(idCol).as("id"), blockCol.as("blk"), col(strCol).as("s"))
    val a = base.select(col("id").as("id_a"), col("blk"), col("s").as("s_a"))
    val b = base.select(col("id").as("id_b"), col("blk"), col("s").as("s_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      // cheap length prefilter: |len(a)-len(b)| is a Levenshtein lower bound
      .filter(abs(length(col("s_a")) - length(col("s_b"))) <= maxDistance)
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= maxDistance)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Rare-gram-blocked CONTAINMENT pairs: max-containment
    * `|A∩B| / min(|A|,|B|)` over n-gram shingle sets — the asymmetric
    * near-dup measure Jaccard misses (a short doc quoted whole inside a
    * long one has high containment but low Jaccard; boilerplate and
    * quotation detection in a training corpus is exactly this query).
    *
    * Candidate generation is PREFIX-FILTER-style rare-gram blocking: two
    * docs become a candidate pair only if they share at least one gram
    * whose corpus-wide document frequency is in [2, maxDf]. The df cap
    * bounds pair fanout at O(maxDf²) per gram — no block ever goes
    * corpus-quadratic — and the df table itself is one hash aggregate
    * over the exploded grams. The trade, documented: a pair sharing ONLY
    * grams more common than `maxDf` is not found; for containment work
    * (quotes, boilerplate, embedded docs) shared runs of text are
    * precisely runs of rare grams, so recall concentrates where the
    * operator is aimed. Verification re-fetches the two sorted hashed
    * shingle arrays by id (the candidate join carries ids only, never
    * payloads) and runs the native two-pointer intersect kernel.
    *
    * Output: `(id_a, id_b, cont)` with `id_a < id_b`,
    * `cont = round(|A∩B|/min(|A|,|B|), 6) >= threshold`.
    */
  def containmentPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxDf: Int = 20): DataFrame = {
    // The shingled base has FIVE consumers (df count, both sides of the
    // blocked candidate join, both verify re-fetches), and predicate
    // pushdown re-inlines the kernel into each — measured 14 kernel
    // sites in the un-materialized plan, i.e. the corpus re-shingled
    // over and over. localCheckpoint (released with the plan, unlike an
    // un-unpersisted cache) runs the kernel once; O(corpus) storage,
    // same trade as ngramJaccardDedup's guard-mode base.
    val base = df.select(col(idCol).as("id"), hashedShingles(col(textCol), n).as("sh"))
      .withColumn("nsh", size(col("sh")))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint(true)
    // (id, nsh, gram) — shingle arrays are distinct per doc by
    // construction, so no per-doc dedup is needed before the df count;
    // df rides in as a window over the gram key (one exchange) instead
    // of a separate aggregate joined back (round 14).
    val grams = base.select(col("id"), col("nsh"), explode(col("sh")).as("gram"))
    val wdf = org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))
    val blocked = grams.withColumn("__df", count(lit(1)).over(wdf))
      .filter(col("__df") >= 2 && col("__df") <= maxDf)
    // CONTAINMENT PREFIX FILTER (round 14): for cont >= t the SMALLER
    // doc S has at most |S| - ceil(t·|S|) shingles outside the
    // intersection, so among ANY |S| - ceil(t·|S|) + 1 of S's shingles
    // at least one is shared. Take that many of each doc's RAREST
    // blocked grams ((df, gram) order — the prefix elements are full
    // members of S, so the pigeonhole holds even though only blocked
    // grams are indexed); a qualifying pair must then surface where the
    // smaller member's PREFIX meets the larger member's FULL blocked
    // postings. Candidates shrink from O(df²) per gram to O(df·prefix)
    // with the verified output provably unchanged: a pair sharing
    // blocked grams only OUTSIDE the smaller side's prefix has
    // |S\B| >= |S| - ceil(tPre·|S|) + 1, i.e. cont < tPre, and is
    // dropped by the final filter anyway. tPre backs the threshold off
    // by the 6-dp rounding half-step (the final filter accepts
    // round(cont, 6) >= t, i.e. cont >= t - 5e-7), and the 1e-9 nudge
    // keeps double rounding of tPre·|d| from inflating the ceil.
    val tPre = threshold - 5e-7
    val wdoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("__df"), col("gram"))
    val prefix = blocked
      .withColumn("__rk", row_number().over(wdoc))
      .filter(col("__rk") <=
        col("nsh") - ceil(lit(tPre) * col("nsh") - lit(1e-9)) + 1)
    val pairs = prefix.select(col("gram"), col("id").as("id_a"))
      .join(blocked.select(col("gram"), col("id").as("id_b")), Seq("gram"))
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
    def inter(a: Column, b: Column): Column =
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.expr.SortedIntersectCount(
          org.apache.spark.sql.GraftSqlBridge.expression(a),
          org.apache.spark.sql.GraftSqlBridge.expression(b))).cast("double")
    verifyCandidates(pairs, base,
      (a, b) => round(inter(a, b) / least(size(a), size(b)).cast("double"), 6),
      "cont", threshold)
  }

  /** MinHash signature: `numHashes` independent permutations simulated by
    * seeded hashes; element i is min over shingles of hash_i(shingle).
    * Computed inside the scan stage, no shuffle.
    *
    * Engine mode runs the native [[graft.expr.EngineMinhash]] kernel: per
    * shingle, `xxhash64(i, s)` for every slot i, elementwise-min into the
    * accumulator in a primitive loop — bit-exact with
    * [[minhashSignatureEngineColumnar]], cross-checked in tests.
    */
  def minhashSignature(
      shingleArr: Column,
      numHashes: Int,
      mode: HashMode = HashMode.Engine): Column = mode match {
    case HashMode.Engine =>
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.expr.EngineMinhash(
          org.apache.spark.sql.GraftSqlBridge.expression(shingleArr), numHashes))
    case HashMode.Portable =>
      // Classic universal-hash minhash: x = 32-bit shingle hash, slot i is
      // min over shingles of (a_i*x + b_i) mod P, with (a_i, b_i) literal
      // constants shared with the oracle SQL. Runs as the native
      // [[graft.expr.PortableMinhash]] kernel (one md5 + numHashes
      // multiply-add-mods per shingle in a primitive loop) — bit-exact
      // with [[minhashSignatureColumnar]], cross-checked in tests.
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.expr.PortableMinhash(
          org.apache.spark.sql.GraftSqlBridge.expression(shingleArr),
          PortableHash.minhashAB(numHashes)))
  }

  /** Pure-built-ins twin of the Engine [[minhashSignature]] — the
    * reference the native kernels are cross-checked against; production
    * paths never run its interpreted lambdas.
    *
    * Formulated as ONE aggregate fold over the shingle array (per shingle:
    * hash under every seed, elementwise-min into the accumulator) rather
    * than a per-seed transform that re-scans the shingles: higher-order
    * functions re-evaluate their argument expression on every lambda
    * invocation, so the per-seed formulation costs numHashes × the shingle
    * expression.
    */
  def minhashSignatureEngineColumnar(shingleArr: Column, numHashes: Int): Column =
    aggregate(
      shingleArr,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, s) => zip_with(
        acc,
        transform(sequence(lit(0), lit(numHashes - 1)), seed => xxhash64(seed, s)),
        (a, h) => least(a, h)))

  /** Pure-built-ins twin of the portable [[minhashSignature]] — the
    * definition the oracle SQL is generated from; kept as the reference
    * the native kernel is cross-checked against.
    */
  def minhashSignatureColumnar(shingleArr: Column, numHashes: Int): Column = {
    import PortableHash.P
    val abLit = typedLit(PortableHash.minhashAB(numHashes))
    aggregate(
      transform(shingleArr, s => PortableHash.hash32(s) % P),
      array_repeat(lit(P), numHashes), // P > every h value: +inf sentinel
      (acc, x) => zip_with(
        acc, abLit,
        (a, p) => least(a, (p.getField("_1") * x + p.getField("_2")) % P)))
  }

  /** LSH band buckets for a MinHash signature: `bands` buckets, each the
    * hash of `rowsPerBand` consecutive signature slots. Two docs share a
    * bucket in some band iff that band's slots all match — the classic
    * (1-(1-s^r)^b) S-curve. A null signature (null text) has null
    * buckets in both modes, so it never enters a band join.
    *
    * Engine mode runs the native [[graft.expr.EngineBandBuckets]] kernel,
    * bit-exact with [[lshBandBucketsColumnar]] on non-null signatures.
    */
  def lshBandBuckets(
      sig: Column,
      bands: Int,
      rowsPerBand: Int,
      mode: HashMode = HashMode.Engine): Column = mode match {
    case HashMode.Engine =>
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.expr.EngineBandBuckets(
          org.apache.spark.sql.GraftSqlBridge.expression(sig), bands, rowsPerBand))
    case HashMode.Portable =>
      // Fold the band's slots with the portable chain, seeded by the band
      // index (cross-band collisions are harmless — the band index is part
      // of the join key — but a seed keeps buckets distinct anyway).
      transform(sequence(lit(0), lit(bands - 1)),
        bnd => PortableHash.fold(
          slice(sig, bnd * rowsPerBand + 1, lit(rowsPerBand)),
          (bnd + 1).cast("long")))
  }

  /** Pure-built-ins twin of the Engine [[lshBandBuckets]]:
    * `xxhash64(b, slice(sig, b*r + 1, r))` per band — the reference the
    * native kernel is cross-checked against. Unlike the kernel it maps a
    * null signature to the band seeds (`xxhash64` skips the null slice).
    */
  def lshBandBucketsColumnar(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      bnd => xxhash64(bnd, slice(sig, bnd * rowsPerBand + 1, lit(rowsPerBand))))

  /** Public face of [[signatureScan]] — one (id, sig) row per document,
    * for consumers that need raw signatures next to the pair set (e.g.
    * the signature-estimate accuracy audit).
    */
  def minhashSignatures(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      numHashes: Int,
      mode: HashMode): DataFrame =
    signatureScan(df, textCol, idCol, n, numHashes, mode)

  /** One (id, sig) row per document — signature length `numHashes`. In
    * either mode a fused native kernel runs tokenize + window + hash +
    * min-fold in one pass and never materializes a shingle array (see
    * [[minhashLshDedup]] docs).
    */
  private def signatureScan(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      numHashes: Int,
      mode: HashMode): DataFrame = mode match {
    case HashMode.Portable =>
      df.select(col(idCol).as("id"),
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.expr.PortableMinhashText(
            org.apache.spark.sql.GraftSqlBridge.expression(col(textCol)),
            n, PortableHash.minhashAB(numHashes))).as("sig"))
    case HashMode.Engine =>
      df.select(col(idCol).as("id"),
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.expr.EngineMinhashText(
            org.apache.spark.sql.GraftSqlBridge.expression(col(textCol)),
            n, numHashes)).as("sig"))
  }

  /** MinHash+LSH near-duplicate pairs, verified by exact Jaccard.
    *
    * Pipeline: shingle → signature (map) → explode bands (map) →
    * ID-ONLY self-join on (band, bucket) → distinct candidate pairs →
    * join back to fetch each side's shingles ONCE per surviving pair →
    * exact-Jaccard verify. The band self-join carries only (id, band,
    * bucket) triples, not shingle arrays — candidate-generation shuffle
    * weight is bands × 24 bytes/doc instead of bands × shingle-bytes/doc,
    * which is what keeps this runnable when documents are MB-sized.
    * Defaults 16 bands × 8 rows = 128 hashes: 50% capture at s≈0.77.
    */
  def minhashLshDedup(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 8,
      threshold: Double = 0.8,
      mode: HashMode = HashMode.Engine): DataFrame = {
    // Verify-side representation: sorted distinct hashed shingles from
    // the one-pass native kernel — the pair-level verify intersects
    // primitive arrays, never strings. Jaccard values are hash-invariant
    // (set cardinalities), so this is independent of `mode` — the oracle
    // computes the same counts over raw string shingles. Checkpointed
    // because the verify fetch-joins consume it twice; localCheckpoint
    // (not persist) so blocks release on GC rather than accumulating in
    // the CacheManager across invocations. O(corpus) storage — never the
    // pair set.
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val hashed = df.select(col(idCol).as("id"), hashedShingles(col(textCol), n).as("sh"))
      .repartition(parallelism)
      .localCheckpoint(true)

    // Signature scan: in either mode the fused text→signature kernel
    // never materializes a shingle array (tokenize + window + hash + fold
    // in one pass — the interpreted shingle/fold lambdas this replaces
    // were ~8 s of the query at sf0.1). The repartition is a
    // materialization barrier: without it projection collapse inlines the
    // signature expression into the per-band bucket expression and the
    // full 128-hash signature is recomputed once per band. Shuffle weight is one (id, sig) row
    // per doc.
    val sigd = signatureScan(df, textCol, idCol, n, bands * rowsPerBand, mode)
      .repartition(parallelism)

    val buckets = sigd
      .select(col("id"),
        posexplode(lshBandBuckets(col("sig"), bands, rowsPerBand, mode))
          .as(Seq("band", "bucket")))

    val a = buckets.select(col("id").as("id_a"), col("band"), col("bucket"))
    val b = buckets.select(col("id").as("id_b"), col("band"), col("bucket"))
    val pairs = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b") // same pair may collide in several bands

    pairs
      .join(hashed.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(hashed.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jac",
        round(jaccardSortedAtLeast(col("sh_a"), col("sh_b"), threshold), 6))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("jac"))
  }

  /** Cross-corpus MinHash near-duplicate pairs — [[minhashLshDedup]]'s
    * machinery with the candidate join taken LEFT × RIGHT instead of
    * self: every (left doc, right doc) pair sharing an LSH band bucket,
    * verified by exact Jaccard ≥ `threshold`. The fuzzy analog of
    * [[Corpus.decontaminate]] (which requires an EXACT shared n-gram):
    * a lightly-edited eval document still collides in minhash bands.
    *
    * Scale shape: identical to the self-join variant — signatures are a
    * map over each corpus, the band join carries id-only triples, and
    * the verify fetch touches only surviving candidates. When `right` is
    * an eval/benchmark set (the decontamination case) its bucket frame
    * is small and broadcast by AQE, so the big side never shuffles for
    * candidate generation.
    *
    * Output: (id_l, id_r, jac DOUBLE rounded 6dp) — `id_l` from `left`,
    * `id_r` from `right`; ids are separate namespaces and never compared
    * to each other.
    */
  def crossNearDupPairs(
      left: DataFrame,
      right: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 8,
      threshold: Double = 0.8,
      mode: HashMode = HashMode.Engine): DataFrame = {
    val parallelism = left.sparkSession.sparkContext.defaultParallelism
    def hashedSide(df: DataFrame): DataFrame =
      df.select(col(idCol).as("id"), hashedShingles(col(textCol), n).as("sh"))
        .repartition(parallelism)
        .localCheckpoint(true)
    def bucketSide(df: DataFrame): DataFrame =
      signatureScan(df, textCol, idCol, n, bands * rowsPerBand, mode)
        .repartition(parallelism)
        .select(col("id"),
          posexplode(lshBandBuckets(col("sig"), bands, rowsPerBand, mode))
            .as(Seq("band", "bucket")))

    val pairs = bucketSide(left).select(col("id").as("id_l"), col("band"), col("bucket"))
      .join(bucketSide(right).select(col("id").as("id_r"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(col("id_l"), col("id_r"))
      .dropDuplicates("id_l", "id_r")

    pairs
      .join(hashedSide(left).select(col("id").as("id_l"), col("sh").as("sh_l")), Seq("id_l"))
      .join(hashedSide(right).select(col("id").as("id_r"), col("sh").as("sh_r")), Seq("id_r"))
      .withColumn("jac",
        round(jaccardSortedAtLeast(col("sh_l"), col("sh_r"), threshold), 6))
      .filter(col("jac") >= threshold)
      .select(col("id_l"), col("id_r"), col("jac"))
  }

  /** 64-bit SimHash over tokens: bit j of the hash votes +1/-1 per token
    * according to bit j of xxhash64(token); sign of the tally is the
    * fingerprint bit. Near-dups have small Hamming distance.
    */
  def simhash(text: Column): Column = {
    val tk = TextAnalysis.tokens(lower(text))
    val tallies = aggregate(
      tk,
      array_repeat(lit(0), 64),
      (acc, t) => zip_with(acc, bitVotes(xxhash64(t)), (a, v) => a + v))
    // fold sign bits into one long: bit j set iff tally_j > 0
    // (shiftleft/shiftright via call_function because the functions-object
    // overloads only take a literal Int shift, not a Column)
    aggregate(
      zip_with(tallies, sequence(lit(0), lit(63)), (tally, j) =>
        when(tally > 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** +1/-1 vote per bit position of a 64-bit hash. */
  private def bitVotes(h: Column): Column =
    transform(sequence(lit(0), lit(63)),
      j => when(call_function("shiftright", h, j).bitwiseAND(lit(1L)) === 1L, lit(1)).otherwise(lit(-1)))

  /** Portable 64-bit SimHash, represented as two non-negative 32-bit
    * halves `struct(hi, lo)` (bit j of the conceptual 64-bit fingerprint
    * lives in `lo` for j < 32, else in `hi`). Two halves instead of one
    * packed long keep every value non-negative, so the oracle's BIGINT
    * shifts/xors agree with Spark bit-for-bit (a packed 64-bit value
    * could set the sign bit, where the engines' shift semantics differ).
    * Token votes come from [[PortableHash.hash32]]/[[PortableHash.hash32Lo]]
    * (one md5 per token) instead of xxhash64.
    */
  def simhashPortable(text: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.expr.PortableSimhash(
        org.apache.spark.sql.GraftSqlBridge.expression(
          TextAnalysis.tokens(lower(text)))))

  /** Pure-built-ins twin of [[simhashPortable]] — the definition the
    * oracle SQL mirrors; cross-checked against the native kernel in tests.
    */
  def simhashPortableColumnar(text: Column): Column = {
    val tk = TextAnalysis.tokens(lower(text))
    val th = transform(tk, t => array(PortableHash.hash32(t), PortableHash.hash32Lo(t)))
    val tallies = aggregate(
      th,
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, bitVotes2(h), (a, v) => a + v))
    // pack tallies[1..32] (bits 0..31) into lo, tallies[33..64] into hi
    def pack(tallies32: Column): Column =
      aggregate(
        zip_with(tallies32, sequence(lit(0), lit(31)), (tally, j) =>
          when(tally > 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
        lit(0L), (acc, x) => acc.bitwiseOR(x))
    struct(
      pack(slice(tallies, 33, 32)).as("hi"),
      pack(slice(tallies, 1, 32)).as("lo"))
  }

  /** +1/-1 vote per bit 0..63 given `h` = [hi32, lo32]. */
  private def bitVotes2(h: Column): Column =
    transform(sequence(lit(0), lit(63)), j => {
      val half = when(j < 32, element_at(h, 2)).otherwise(element_at(h, 1))
      val sh = when(j < 32, j).otherwise(j - 32)
      when(call_function("shiftright", half, sh).bitwiseAND(lit(1L)) === 1L, lit(1))
        .otherwise(lit(-1))
    })

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs with Hamming distance <= `maxHamming`.
    *
    * Blocking by pigeonhole: split the 64-bit hash into `maxHamming + 1`
    * chunks; any pair within distance d must agree exactly on >= 1 chunk,
    * so joining on (chunk_index, chunk_value) finds all true pairs while
    * only comparing hashes that already share 16+ bits.
    */
  def simhashDedup(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      mode: HashMode = HashMode.Engine): DataFrame = mode match {
    case HashMode.Engine =>
      val chunks = maxHamming + 1
      val bitsPer = 64 / chunks
      // repartition: materialize the hash + spread CPU-bound rows (see
      // minhashLshDedup for why); one (id, long) row per doc of shuffle.
      val withHash = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sh64"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
      val exploded = withHash.select(col("id"), col("sh64"),
        posexplode(transform(sequence(lit(0), lit(chunks - 1)),
          i => call_function("shiftrightunsigned", col("sh64"), i * bitsPer)
            .bitwiseAND(lit((1L << bitsPer) - 1)))).as(Seq("chunk_i", "chunk_v")))
      val a = exploded.select(col("id").as("id_a"), col("sh64").as("h_a"), col("chunk_i"), col("chunk_v"))
      val b = exploded.select(col("id").as("id_b"), col("sh64").as("h_b"), col("chunk_i"), col("chunk_v"))
      a.join(b, Seq("chunk_i", "chunk_v"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), hamming(col("h_a"), col("h_b")).as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .distinct()

    case HashMode.Portable =>
      val chunks = maxHamming + 1
      val bitsPer = 64 / chunks
      // Chunk boundaries must not straddle the hi/lo split — shifting a
      // 32-bit half stays non-negative in both engines, a straddling
      // extraction would not.
      require(64 % chunks == 0 && 32 % bitsPer == 0,
        s"portable simhashDedup supports maxHamming in {1,3,7,15,31}, got $maxHamming")
      val mask = (1L << bitsPer) - 1
      val withHash = df.select(col(idCol).as("id"), simhashPortable(col(textCol)).as("f"))
        .select(col("id"), col("f.hi").as("f_hi"), col("f.lo").as("f_lo"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
      val chunkArr = array((0 until chunks).map { i =>
        val off = i * bitsPer
        val (half, sh) = if (off < 32) (col("f_lo"), off) else (col("f_hi"), off - 32)
        shiftrightunsigned(half, sh).bitwiseAND(lit(mask))
      }: _*)
      val exploded = withHash.select(col("id"), col("f_hi"), col("f_lo"),
        posexplode(chunkArr).as(Seq("chunk_i", "chunk_v")))
      val a = exploded.select(col("id").as("id_a"),
        col("f_hi").as("hi_a"), col("f_lo").as("lo_a"), col("chunk_i"), col("chunk_v"))
      val b = exploded.select(col("id").as("id_b"),
        col("f_hi").as("hi_b"), col("f_lo").as("lo_b"), col("chunk_i"), col("chunk_v"))
      a.join(b, Seq("chunk_i", "chunk_v"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
            bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .distinct()
  }

  // --------------------------------------------- incremental (index) dedup

  /** Persist a MinHash signature index for INCREMENTAL dedup — the
    * operation a daily-ingest pipeline actually runs: "dedup today's
    * crawl against the landed corpus" without re-joining the corpus
    * against itself. (The reference's closest concept is its idempotent
    * re-apply keyed on PK — reference: cdc_system.py:327 — the degenerate
    * exact-key form of probing an index of what already landed.)
    *
    * Layout under `path`, two [[graft.sources.TxTable]]s and a sidecar:
    *  - `buckets/` — one (id, band, bucket, pb) row per doc×band, with
    *    `pb = pmod(bucket, bucketParts)`. `bucket` is a 64-bit hash;
    *    folding it into `bucketParts` values gives a bounded probe list.
    *    Rows are hash-clustered on `pb` (a few `pb` values per file) and
    *    every file's manifest entry records `pb` stats and a Bloom, so a
    *    probe's `pb IN (…)` opens only the files holding its batch's
    *    folded buckets — for a small daily batch, a fraction of the index.
    *  - `shingles/` — (id, sh) sorted distinct hashed shingles, the
    *    verify-side representation fetched per surviving candidate.
    *  - `params` — the hash/layout parameters, checked by every append
    *    and probe.
    *
    * Index build is one corpus scan + two commits; growing it
    * day-over-day is an append of the just-deduped batch
    * ([[appendToSignatureIndex]]). A cold start is an index over an
    * empty corpus: the manifest carries the schema.
    */
  def writeSignatureIndex(
      df: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      n: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 8,
      bucketParts: Int = 64,
      saveMode: String = "overwrite"): Unit =
    commitSignatureRows(df, textCol, idCol, path, n, bands, rowsPerBand,
      bucketParts, saveMode, epoch = None)

  /** [[writeSignatureIndex]]'s body, shared with
    * [[graft.streaming.IngestStream]], which commits the same rows
    * exactly-once under its `epoch`. Appending to an absent index
    * creates it.
    */
  private[graft] def commitSignatureRows(
      df: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      n: Int,
      bands: Int,
      rowsPerBand: Int,
      bucketParts: Int,
      saveMode: String,
      epoch: Option[Long]): Unit = {
    val spark = df.sparkSession
    val fresh = saveMode == "overwrite" ||
      !java.nio.file.Files.exists(java.nio.file.Paths.get(path, "buckets"))
    if (fresh) {
      // persist the hash/layout parameters with the index: a probe or
      // append with different parameters computes incomparable signatures
      // or prunes the wrong files — silently missing duplicates.
      import spark.implicits._
      Seq((n, bands, rowsPerBand, bucketParts))
        .toDF("n", "bands", "rows_per_band", "bucket_parts")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
    } else {
      requireIndexParams(spark, path, n, bands, rowsPerBand, bucketParts)
    }
    // NOTE: two corpus scans by design (bucket triples and verify-side
    // shingles are different derivations of the text); at index scale,
    // re-scanning columnar input beats pinning the corpus in memory.
    val buckets = signatureScan(df, textCol, idCol, n, bands * rowsPerBand, HashMode.Portable)
      .select(col("id"),
        posexplode(lshBandBuckets(col("sig"), bands, rowsPerBand, HashMode.Portable))
          .as(Seq("band", "bucket")))
      .withColumn("pb", pmod(col("bucket"), lit(bucketParts.toLong)))
      // hash-cluster on pb: each file holds a few pb values, so its pb
      // Bloom admits only those; the exchange carries only (id, band,
      // bucket, pb) rows — bands rows per doc, never text
      .repartition(bucketParts, col("pb"))
    graft.sources.TxTable.commitIndex(buckets, s"$path/buckets", saveMode, Seq("pb"), epoch)
    graft.sources.TxTable.commitIndex(
      df.select(col(idCol).as("id"), hashedShingles(col(textCol), n).as("sh")),
      s"$path/shingles", saveMode, Nil, epoch)
    ()
  }

  /** Fail fast when an index predates the TxTable layout, or when an
    * append/probe's parameters disagree with the ones the index was
    * built with (a mismatch is silent wrong results, not an error,
    * without this check).
    */
  private def requireIndexParams(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      n: Int,
      bands: Int,
      rowsPerBand: Int,
      bucketParts: Int): Unit = {
    require(graft.sources.TxTable.latest(s"$path/buckets").isDefined,
      s"no TxTable signature index at $path (an index written before the " +
        "TxTable layout has plain parquet pb= directories); rebuild it with " +
        "Dedup.writeSignatureIndex")
    val r = spark.read.parquet(s"$path/params").collect()(0)
    val stored = (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
    require(stored == ((n, bands, rowsPerBand, bucketParts)),
      s"signature index at $path was built with (n, bands, rowsPerBand, " +
        s"bucketParts) = $stored; caller passed (${(n, bands, rowsPerBand, bucketParts)})")
  }

  /** Append a new batch to an existing signature index (same parameters
    * as the original [[writeSignatureIndex]] call — the hash constants
    * are deterministic functions of (bands × rowsPerBand), so appended
    * signatures are comparable with the landed ones).
    */
  def appendToSignatureIndex(
      df: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      n: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 8,
      bucketParts: Int = 64): Unit =
    writeSignatureIndex(df, textCol, idCol, path, n, bands, rowsPerBand,
      bucketParts, saveMode = "append")

  /** Compact an appended signature index: every [[appendToSignatureIndex]]
    * adds its own files, so a daily-append index accumulates small files
    * until listing/open overhead dominates probe cost (the classic LSM
    * problem, hit by any file-based index). This rewrites `buckets/` into
    * `bucketParts` files range-clustered on `pb` and `shingles/` into
    * `shingleFiles` files, each one [[graft.sources.TxTable.compact]]
    * commit: contents are preserved exactly (probes before and after are
    * row-identical, spec-pinned), readers see the old or the new version,
    * and [[graft.sources.TxTable.vacuum]] retires the old files.
    */
  def compactSignatureIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      bucketParts: Int = 64,
      shingleFiles: Int = 8): Unit = {
    graft.sources.TxTable.compact(spark, s"$path/buckets", bucketParts, clusterBy = Seq("pb"))
    graft.sources.TxTable.compact(spark, s"$path/shingles", shingleFiles)
    ()
  }

  /** Near-duplicates of `newBatch` against a persisted signature index:
    * (new_id, dup_of, jac) for every batch doc whose exact Jaccard with
    * an indexed doc reaches `threshold`.
    *
    * Scale shape — the whole point of the index:
    *  1. The batch is signed and bucketed (one scan, fused kernel).
    *  2. The batch's distinct `pb` values — AT MOST `bucketParts` of
    *    them, a bounded driver-side list by construction — become an
    *    `IN` filter on the bucket index, read through the `txtable`
    *    provider: the probe scan LISTS AND OPENS ONLY the files whose
    *    manifest stats and Bloom admit one of them (asserted in the
    *    spec). A small batch touches few files; corpus I/O is
    *    proportional to the batch's bucket spread, never corpus size.
    *  3. Candidate join carries (id, band, bucket) triples only — no
    *    text, no signatures; AQE picks broadcast when the batch is small
    *    (no forced hint: a backfill-sized batch must stay sort-merge).
    *  4. Only surviving candidate pairs fetch shingles (corpus side from
    *    `shingles/` by id, batch side recomputed in-scan) for the exact
    *    threshold-bounded verify kernel.
    *
    * The batch never joins itself — intra-batch dups are [[minhashLshDedup]]
    * on the batch alone, composable with this.
    */
  def dedupAgainstIndex(
      newBatch: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      n: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 8,
      threshold: Double = 0.8,
      bucketParts: Int = 64): DataFrame = {
    val spark = newBatch.sparkSession
    requireIndexParams(spark, path, n, bands, rowsPerBand, bucketParts)
    val bb = signatureScan(newBatch, textCol, idCol, n, bands * rowsPerBand, HashMode.Portable)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("id").as("new_id"),
        posexplode(lshBandBuckets(col("sig"), bands, rowsPerBand, HashMode.Portable))
          .as(Seq("band", "bucket")))
      .withColumn("pb", pmod(col("bucket"), lit(bucketParts.toLong)))
      // consumed twice (pb collect + candidate join): materialize once
      .localCheckpoint(true)
    // O(bucketParts) values by construction — a bounded driver action
    // regardless of batch size (documented collect, like IVF codebooks)
    val pbs = bb.select(col("pb")).distinct().collect().map(_.getLong(0))
    val idx = spark.read.format("txtable").load(s"$path/buckets")
      .filter(col("pb").isin(pbs: _*)) // manifest-pruned probe scan
    val cand = idx.join(bb.select(col("new_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("id") =!= col("new_id"))
      .select(col("new_id"), col("id").as("dup_of"))
      .dropDuplicates("new_id", "dup_of")
    val bsh = newBatch.select(col(idCol).as("new_id"),
      hashedShingles(col(textCol), n).as("sh_n"))
    cand
      .join(spark.read.format("txtable").load(s"$path/shingles")
        .select(col("id").as("dup_of"), col("sh").as("sh_c")), Seq("dup_of"))
      .join(bsh, Seq("new_id"))
      .withColumn("jac",
        round(jaccardSortedAtLeast(col("sh_n"), col("sh_c"), threshold), 6))
      .filter(col("jac") >= threshold)
      // appending the same docs twice (appendToSignatureIndex is not
      // idempotent) lands the same (id, sh) row in shingles/ twice,
      // fanning a surviving pair into identical output rows through the
      // verify join — collapse them (jac is a pure function of the pair,
      // so min ≡ the single value)
      .groupBy(col("new_id"), col("dup_of"))
      .agg(min(col("jac")).as("jac"))
  }

  /** Measured recall of the LSH banding against exhaustive ground truth
    * on a deterministic hash sample — the index-quality metric an
    * approximate dedup must ship with (the [[graft.ext.Similarity]]
    * `ann_recall` argument, applied to minhash): per Jaccard decile,
    * what fraction of truly-similar pairs does the banding surface?
    *
    * Ground truth is EXHAUSTIVE only over a FIXED-SIZE sample — the
    * `sampleSize` docs with the smallest portable hash (deterministic,
    * uniform, engine-identical), selected by `TakeOrderedAndProject`.
    * Fixed COUNT, not fixed rate, is what makes the metric's cost
    * CONSTANT in corpus size: a rate sample's all-pairs truth grows
    * quadratically with the corpus (measured: 2.1 s → 68 s at 10× under
    * the earlier permille form), while a metric's accuracy depends on
    * the absolute pair count, not coverage. The sweep itself is a
    * deliberate sampleSize²-bounded broadcast nested-loop, same design
    * as the brute-force ANN ground truth. The LSH side runs the
    * production [[minhashLshDedup]] path on the same sample, so the
    * measured recall is the served pipeline's, not a simulation's.
    *
    * Output: (jac_lo DOUBLE decile lower bound, n_pairs BIGINT true
    * pairs in decile, n_caught BIGINT surfaced by LSH, recall DOUBLE).
    */
  def lshRecall(
      df: DataFrame,
      textCol: String,
      idCol: String,
      sampleSize: Int,
      salt: String,
      n: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 8,
      minJaccard: Double = 0.5,
      mode: HashMode = HashMode.Engine): DataFrame = {
    require(sampleSize > 1, s"sampleSize must be > 1, got $sampleSize")
    val sample = df
      .withColumn("__rh",
        PortableHash.hash32(concat(lit(salt), col(idCol).cast("string"))))
      .orderBy(col("__rh"), col(idCol))
      .limit(sampleSize)
      .drop("__rh")
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val hashed = sample
      .select(col(idCol).as("id"), hashedShingles(col(textCol), n).as("sh"))
      .repartition(parallelism)
      .localCheckpoint(true) // consumed by both sweep sides
    val truth = hashed.select(col("id").as("id_a"), col("sh").as("sh_a"))
      .join(hashed.select(col("id").as("id_b"), col("sh").as("sh_b")),
        col("id_a") < col("id_b"))
      .withColumn("jac", round(jaccardSortedAtLeast(col("sh_a"), col("sh_b"), minJaccard), 6))
      .filter(col("jac") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jac"))
    val caught = minhashLshDedup(sample, textCol, idCol, n, bands, rowsPerBand,
        threshold = minJaccard, mode = mode)
      .select(col("id_a"), col("id_b"), lit(true).as("__c"))
    truth.join(caught, Seq("id_a", "id_b"), "left_outer")
      .withColumn("jac_lo", floor(col("jac") * 10) / 10.0)
      .groupBy(col("jac_lo"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("__c"), 1L).otherwise(0L)).as("n_caught"))
      .withColumn("recall",
        round(col("n_caught").cast("double") / col("n_pairs"), 6))
  }
}
