package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Everything the engine receives is built here,
  * in this JVM, from one `SplittableRandom` per input; the same seed gives
  * byte-identical inputs. The generators also keep the ground truth the
  * output checks need (per-key images, planted duplicate pairs).
  */
object Gen {

  val RowSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val LogSchema: StructType = graft.log.ChangeLog.schema(RowSchema)

  private val Statuses = Array("O", "F", "P")
  private val Priorities =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val DayMs = 86400000L
  private val Epoch1992 = 694224000000L
  private val ChangeBase = 1767225600000L // 2026-01-01T00:00:00Z

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  private def price(r: SplittableRandom): Double =
    math.rint((900.0 + r.nextDouble() * 400000.0) * 100.0) / 100.0

  def orderRow(key: Long, r: SplittableRandom): Row = Row(
    key, 1L + r.nextInt(15000), Statuses(r.nextInt(3)), price(r),
    new Timestamp(Epoch1992 + r.nextInt(2400) * DayMs),
    Priorities(r.nextInt(5)))

  /** An updated image: status and price change, the rest stays. */
  private def updated(old: Row, r: SplittableRandom): Row = {
    val p = price(r)
    Row(old.getLong(0), old.getLong(1), Statuses(r.nextInt(3)),
      if (p == old.getDouble(3)) p + 0.01 else p, old.get(4), old.get(5))
  }

  /** The `orders` seed table: keys 1..n, the sf0.1 row count at 150000. */
  def orders(seed: Long, n: Int): Array[Row] = {
    val r = rng(seed, 1L)
    Array.tabulate(n)(i => orderRow(i + 1L, r))
  }

  /** Change-log simulator over a seed table: emits canonical change-log
    * rows with consistent images (an UPDATE or DELETE only hits a live
    * key, an INSERT only a dead or new one) and tracks the live state.
    */
  final class ChangeSim(seedRows: Array[Row], r: SplittableRandom) {
    val state: ArrayBuffer[Row] = ArrayBuffer.from(seedRows) // key k at k-1
    var live: Long = seedRows.length.toLong
    var nextCdc: Long = 1L
    val opCounts: Array[Long] = Array(0L, 0L, 0L) // insert, update, delete
    def maxKey: Long = state.length.toLong
    def image(k: Long): Option[Row] = Option(state((k - 1).toInt))

    private def emit(op: String, k: Long, oldI: Row, newI: Row): Row = {
      val id = nextCdc
      nextCdc += 1
      Row(id, op, k, oldI, newI, new Timestamp(ChangeBase + id), 0, null)
    }

    /** One change on key `k` (`k == maxKey + 1` inserts a new key):
      * a dead key is re-inserted, a live key is deleted with probability
      * `pDelete` and updated otherwise.
      */
    def change(k: Long, pDelete: Double): Row = {
      if (k == maxKey + 1) state += null
      val cur = state((k - 1).toInt)
      if (cur == null) {
        val img = orderRow(k, r)
        state((k - 1).toInt) = img
        live += 1; opCounts(0) += 1
        emit("INSERT", k, null, img)
      } else if (r.nextDouble() < pDelete) {
        state((k - 1).toInt) = null
        live -= 1; opCounts(2) += 1
        emit("DELETE", k, cur, null)
      } else {
        val img = updated(cur, r)
        state((k - 1).toInt) = img
        opCounts(1) += 1
        emit("UPDATE", k, cur, img)
      }
    }
  }

  /** Zipf(s) sampler over ranks 1..n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      var acc = 0.0
      val c = new Array[Double](n)
      var i = 0
      while (i < n) { acc += w(i); c(i) = acc; i += 1 }
      c.map(_ / acc)
    }
    def rank(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** A seeded permutation of 1..n (Fisher-Yates). */
  def permutation(n: Int, r: SplittableRandom): Array[Long] = {
    val a = Array.tabulate(n)(i => i + 1L)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  // ---- corpus -----------------------------------------------------------

  final case class Doc(id: Long, text: String)

  final case class Corpus(
      docs: Array[Doc],
      eval: Array[Doc],
      /** (original id, near-duplicate id, true 3-shingle Jaccard) */
      planted: Array[(Long, Long, Double)],
      /** corpus ids whose text was copied into the eval set */
      contaminated: Set[Long],
      props: Map[String, Any])

  val Stopwords: Seq[String] = graft.ext.TextAnalysis.EnglishStopwords

  /** 3-word shingle set of a lowercase single-spaced text. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val t = text.split(" ")
    if (t.length < n) Set(text)
    else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** A training-data corpus: originals drawn from a Zipf vocabulary with
    * stopwords mixed in, planted exact copies, clusters of near-duplicates
    * made by token substitution, low-quality docs (too short, or symbol
    * soup), and an eval set part-copied from the corpus.
    */
  def corpus(seed: Long, originals: Int, exactShare: Double,
      nearShare: Double, maxCopies: Int, editRate: Double,
      lowQualityShare: Double, evalDocs: Int, evalFromCorpus: Int): Corpus = {
    val r = rng(seed, 7L)
    val vocab = Array.tabulate(4000) { _ =>
      val len = 3 + r.nextInt(7)
      (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val zipf = new Zipf(vocab.length, 1.0)
    def word(): String =
      if (r.nextDouble() < 0.2) Stopwords(r.nextInt(Stopwords.size))
      else vocab(zipf.rank(r))
    def text(len: Int): String = Array.fill(len)(word()).mkString(" ")
    val texts = ArrayBuffer.empty[String]
    val origin = ArrayBuffer.empty[Int] // index of the original, -1 if none
    (0 until originals).foreach { _ =>
      texts += text(30 + r.nextInt(120)); origin += -1
    }
    val nExact = (originals * exactShare).toInt
    (0 until nExact).foreach { _ =>
      val o = r.nextInt(originals)
      texts += texts(o); origin += -1
    }
    val nearBase = (originals * nearShare).toInt
    var nearCopies = 0
    (0 until nearBase).foreach { _ =>
      val o = r.nextInt(originals)
      val copies = 1 + r.nextInt(maxCopies)
      (0 until copies).foreach { _ =>
        val toks = texts(o).split(" ")
        val edited = toks.map(t => if (r.nextDouble() < editRate) word() else t)
        texts += edited.mkString(" "); origin += o
        nearCopies += 1
      }
    }
    val nLow = (originals * lowQualityShare).toInt
    (0 until nLow).foreach { i =>
      val t =
        if (i % 2 == 0) text(2 + r.nextInt(4))
        else Array.fill(20 + r.nextInt(40))(
          (0 until 14 + r.nextInt(10)).map(_ => ('a' + r.nextInt(26)).toChar)
            .mkString).mkString(" ")
      texts += t; origin += -1
    }
    // shuffled ids: planted copies are not adjacent to their originals
    val order = permutation(texts.length, r).map(_ - 1)
    val idOf = new Array[Long](texts.length)
    order.zipWithIndex.foreach { case (src, pos) => idOf(src.toInt) = pos.toLong }
    val docs = texts.indices.map(i => Doc(idOf(i), texts(i))).sortBy(_.id).toArray
    val planted = texts.indices.collect {
      case i if origin(i) >= 0 =>
        val o = origin(i)
        (idOf(o), idOf(i), jaccard(shingles(texts(o)), shingles(texts(i))))
    }.toArray
    val fromCorpus = (0 until evalFromCorpus).map(_ => r.nextInt(originals))
    val eval = (fromCorpus.map(texts(_)) ++
      (0 until evalDocs - evalFromCorpus).map(_ => text(30 + r.nextInt(120))))
      .zipWithIndex.map { case (t, i) => Doc(i.toLong, t) }.toArray
    Corpus(docs, eval, planted, fromCorpus.map(idOf(_)).toSet, Map(
      "docs" -> docs.length, "originals" -> originals,
      "exact_copies" -> nExact, "near_dup_clusters" -> nearBase,
      "near_dup_copies" -> nearCopies, "max_copies_per_cluster" -> maxCopies,
      "edit_rate" -> editRate, "low_quality_docs" -> nLow,
      "duplicate_share" -> (nExact + nearCopies).toDouble / docs.length,
      "eval_docs" -> evalDocs, "eval_overlap_docs" -> evalFromCorpus,
      "vocab" -> vocab.length))
  }

  /** Clustered vectors: `clusters` random unit centers, each vector a
    * center plus gaussian noise; queries are drawn the same way. Clusters
    * are filled round-robin, so every seed gives equal cluster sizes.
    */
  def vectors(seed: Long, n: Int, queries: Int, dim: Int, clusters: Int,
      noise: Double): (Array[(Long, Array[Float])], Array[(Long, Array[Float])]) = {
    val r = rng(seed, 11L)
    val g = new java.util.Random(r.nextLong())
    val centers = Array.fill(clusters) {
      val v = Array.fill(dim)(g.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm)
    }
    def draw(i: Int): Array[Float] =
      centers(i % clusters).map(x => (x + noise * g.nextGaussian() / math.sqrt(dim)).toFloat)
    (Array.tabulate(n)(i => (i.toLong, draw(i))),
      Array.tabulate(queries)(i => (1000000L + i, draw(i))))
  }
}
