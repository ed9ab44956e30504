package graftbench

import graft.ext.{Corpus, Dedup, Similarity, TextAnalysis}
import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `corpus_curation`: a closed-loop training-data pass over a seeded
  * corpus with planted duplicates and eval overlap — quality filter,
  * exact dedup, MinHash-LSH near-dup detection, decontamination — then an
  * IVF index build and batched top-k queries over clustered vectors.
  */
final class Curation(ctx: Ctx) extends Workload {
  import ctx.spark

  val Originals = 1200
  val ExactShare = 0.1
  val NearShare = 0.2
  val MaxCopies = 3
  val EditRate = 0.02
  val LowQualityShare = 0.08
  val EvalDocs = 100
  val EvalFromCorpus = 20
  val Vectors = 4000
  val Queries = 48
  val QueryBatch = 8
  val Dim = 32
  val VecClusters = 16
  val Noise = 0.35
  val IvfLists = 16
  val IvfIters = 3
  val NProbe = 4
  val K = 10
  val Threshold = 0.8
  val DecontamN = 8

  final class Prepared(val dir: String, val corpus: Gen.Corpus,
      val docs: DataFrame, val eval: DataFrame, val vecs: DataFrame,
      val queries: DataFrame, val queryBatches: Seq[DataFrame], val props: Map[String, Any])

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val VecSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  def setup(dir: String): Prepared = {
    val c = Gen.corpus(ctx.seed, Originals, ExactShare, NearShare, MaxCopies,
      EditRate, LowQualityShare, EvalDocs, EvalFromCorpus)
    val (vs, qs) = Gen.vectors(ctx.seed, Vectors, Queries, Dim, VecClusters, Noise)
    def save(rows: Seq[Row], schema: StructType, name: String, parts: Int): DataFrame = {
      spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
        .write.parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    val cpus = spark.sparkContext.defaultParallelism
    // one file per query batch: the batches then plan (and code-generate)
    // identically, with no per-batch literal
    val batches = qs.indices.grouped(QueryBatch).toSeq.map { is =>
      save(is.map(i => Row(qs(i)._1, qs(i)._2.toSeq)), VecSchema, s"queries/b${is.head}", 1)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    }
    new Prepared(dir, c,
      save(c.docs.toSeq.map(d => Row(d.id, d.text)), DocSchema, "docs", cpus),
      save(c.eval.toSeq.map(d => Row(d.id, d.text)), DocSchema, "eval", 1),
      save(vs.toSeq.map(v => Row(v._1, v._2.toSeq)), VecSchema, "vectors", cpus),
      spark.read.schema(VecSchema).parquet(s"$dir/queries/*"), batches,
      c.props ++ Map("vectors" -> Vectors, "queries" -> Queries, "dim" -> Dim,
        "vector_clusters" -> VecClusters, "noise" -> Noise, "query_batch" -> QueryBatch,
        "ivf_lists" -> IvfLists, "ivf_iters" -> IvfIters, "nprobe" -> NProbe, "k" -> K))
  }

  /** One pass over a slice of every input. */
  def warmup(p: Prepared): Unit = {
    val warm = new Outcome
    pass(p, p.docs.filter(col("doc_id") < 300), p.vecs.filter(col("vec_id") < 500),
      warm, new Pass, checks = false)
    require(warm.failed == 0, s"warm-up failed: ${warm.notes}")
  }

  def discard(p: Prepared): Unit = Tables.deleteTree(Paths.get(p.dir))

  /** Timings and results of the measured passes. */
  final class Pass {
    val curateMs = mutable.ArrayBuffer.empty[Double]
    val buildMs = mutable.ArrayBuffer.empty[Double]
    val queryMs = mutable.ArrayBuffer.empty[Double]
    val unitMs = mutable.ArrayBuffer.empty[(Boolean, Double)]
    var kept = 0L
    var groups = 0L
    var pairs = 0L
    var recall = 0.0
    var contaminated = 0L
    var topk: Map[Long, Set[Long]] = Map.empty
  }

  private def timed[T](name: String, out: Outcome)(body: => T): (Option[T], Double) = {
    val t0 = System.nanoTime()
    val r = out.op(name)(ctx.tracer.span(name)(body))
    (r, Stats.ms(t0, System.nanoTime()))
  }

  /** One curation pass and one index build plus queries. */
  private def pass(p: Prepared, docs: DataFrame, vecs: DataFrame, out: Outcome,
      acc: Pass, checks: Boolean): Unit = {
    val t0 = System.nanoTime()
    val (kept, qMs) = timed("text.quality_filter", out) {
      val keep = TextAnalysis.qualityFilter(docs, "doc_id", "text", 8, 1000, 2.5, 10.0, 2,
        Gen.Stopwords).filter(col("keep")).select(col("doc_id"))
      docs.join(broadcast(keep), Seq("doc_id")).localCheckpoint(true)
    }
    val (keepers, eMs) = timed("dedup.exact", out) {
      val groups = Dedup.exactDedup(kept.get, "text", "doc_id").collect()
      val ids = groups.map(_.getAs[Long]("keep_id"))
      (groups.length.toLong, kept.get.join(broadcast(
        spark.createDataFrame(ids.toSeq.map(Row(_)).asJava,
          StructType(Seq(StructField("doc_id", LongType))))), Seq("doc_id"))
        .localCheckpoint(true))
    }
    val (pairs, mMs) = timed("dedup.minhash_lsh", out) {
      Dedup.minhashLshDedup(keepers.get._2, "text", "doc_id", threshold = Threshold).collect()
    }
    val (hits, dMs) = timed("corpus.decontaminate", out) {
      Corpus.decontaminate(keepers.get._2, p.eval, "text", "doc_id", DecontamN).collect()
    }
    acc.curateMs += qMs + eMs + mMs + dMs
    val (cents, tMs) = timed("similarity.ivf_train", out) {
      Similarity.ivfTrain(vecs, "vec_id", "embedding", IvfLists, IvfIters, Dim)
    }
    val (assigned, aMs) = timed("similarity.ivf_assign", out) {
      Similarity.ivfAssign(vecs, cents.get, "embedding").localCheckpoint(true)
    }
    acc.buildMs += tMs + aMs
    val results = mutable.Map.empty[Long, Set[Long]]
    p.queryBatches.foreach { qb =>
      val (res, ms) = timed("similarity.ivf_topk", out) {
        Similarity.ivfTopK(assigned.get, cents.get, qb, "vec_id", "embedding", "qid", "qvec",
          K, NProbe).collect()
      }
      res.foreach { rows =>
        acc.queryMs += ms
        rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
          results(q) = rs.map(_.getAs[Long]("neighbor_id")).toSet
        }
      }
    }
    acc.unitMs += ((ctx.tracer.on, Stats.ms(t0, System.nanoTime())))
    acc.topk = results.toMap
    if (checks) verify(p, kept.get, keepers.get, pairs.get, hits.get, acc, out)
  }

  /** Output checks against what the generator planted, computed apart
    * from the engine.
    */
  private def verify(p: Prepared, kept: DataFrame, keepers: (Long, DataFrame),
      pairs: Array[Row], hits: Array[Row], acc: Pass, out: Outcome): Unit = {
    val text = p.corpus.docs.map(d => d.id -> d.text).toMap
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    // exact dedup: one group per distinct normalized text among kept docs
    val norm = (s: String) => s.trim.toLowerCase.replaceAll("\\s+", " ")
    val distinct = keptIds.toSeq.map(id => norm(text(id))).distinct.size.toLong
    out.check("exact_groups", keepers._1 == distinct, s"${keepers._1} vs $distinct")
    // keeper of each kept doc: the lowest id with the same text
    val keeperOf = keptIds.toSeq.groupBy(id => norm(text(id)))
      .flatMap { case (_, ids) => ids.map(_ -> ids.min) }
    // MinHash: every reported pair meets the threshold
    val shingles = mutable.Map.empty[Long, Set[String]]
    def sh(id: Long) = shingles.getOrElseUpdate(id, Gen.shingles(text(id)))
    val found = pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val below = found.count { case (a, b) => Gen.jaccard(sh(a), sh(b)) < Threshold - 1e-9 }
    out.check("minhash_pairs_meet_threshold", below == 0, s"$below pairs below $Threshold")
    // recall over planted near-duplicates that reach the threshold
    val planted = p.corpus.planted.collect {
      case (o, d, j) if j >= Threshold && keeperOf.contains(o) && keeperOf.contains(d) &&
          keeperOf(o) != keeperOf(d) =>
        (math.min(keeperOf(o), keeperOf(d)), math.max(keeperOf(o), keeperOf(d)))
    }.toSet
    acc.recall = if (planted.isEmpty) 1.0 else planted.count(found.contains).toDouble / planted.size
    out.check("minhash_recall", acc.recall >= 0.8, s"recall ${acc.recall} over ${planted.size}")
    // decontamination: every kept copy of an eval text is flagged
    val flagged = hits.filter(_.getAs[Long]("n_hit_ngrams") > 0).map(_.getAs[Long]("doc_id")).toSet
    val mustFlag = p.corpus.contaminated.flatMap(keeperOf.get)
    out.check("contaminated_flagged", mustFlag.subsetOf(flagged),
      s"${(mustFlag -- flagged).size} of ${mustFlag.size} missed")
    acc.kept = keptIds.size
    acc.groups = keepers._1
    acc.pairs = found.size
    acc.contaminated = flagged.size
  }

  def measure(p: Prepared, out: Outcome): Unit = {
    val acc = new Pass
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var n = 0
    while (n < (if (ctx.traced) 2 else 1) || System.nanoTime() < deadline) {
      ctx.tracer.on = ctx.traced && n % 2 == 0
      pass(p, p.docs, p.vecs, out, acc, checks = true)
      n += 1
    }
    ctx.tracer.on = false
    // ANN recall@10 against exact search, on the last pass's results
    out.op("recall_check") {
      val truth = Similarity.bruteForceTopK(p.vecs, p.queries, "vec_id", "embedding",
        "vec_id", "embedding", K).collect()
        .groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
          q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
      val recall = truth.map { case (q, t) =>
        acc.topk.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }.sum / truth.size
      out.perLayer("similarity.recall_at_10") = (recall, "ratio")
      out.check("ann_recall", recall >= 0.5, s"recall@$K $recall")
    }
    val docs = p.corpus.docs.length.toDouble
    val (tail, tailPct) = Stats.tail(acc.queryMs.toSeq)
    out.endToEnd("latency_p50_ms") = (Stats.median(acc.queryMs.toSeq), "ms")
    out.endToEnd("latency_tail_ms") = (tail, "ms")
    out.endToEnd("throughput_per_s") = (docs * acc.curateMs.size / (acc.curateMs.sum / 1000.0), "1/s")
    out.endToEnd("secondary_p50_ms") = (Stats.median(acc.buildMs.toSeq), "ms")
    out.notes ++= Seq(
      "latency" -> s"Similarity.ivfTopK over a batch of $QueryBatch queries",
      "latency_samples" -> acc.queryMs.size, "latency_tail_percentile" -> tailPct,
      "throughput" -> "input docs per second, quality filter through decontamination",
      "secondary" -> "index build: ivfTrain + ivfAssign", "passes" -> n,
      "inputs" -> p.props)
    out.perLayer("text.kept_ratio") = (acc.kept / docs, "ratio")
    out.perLayer("dedup.exact_groups") = (acc.groups.toDouble, "count")
    out.perLayer("dedup.minhash_pairs") = (acc.pairs.toDouble, "count")
    out.perLayer("dedup.minhash_recall") = (acc.recall, "ratio")
    out.perLayer("corpus.contaminated_docs") = (acc.contaminated.toDouble, "count")
    if (ctx.traced) {
      ctx.tracer.drain()
      Tracer.Spans.foreach(s => if (ctx.tracer.spansOf(s).nonEmpty) ctx.tracer.summarizeSpan(s, out.perLayer))
      out.perLayer("similarity.train_jobs") = (Stats.median(ctx.tracer.spansOf("similarity.ivf_train")
        .map(s => ctx.tracer.jobsOfSpan(s).size.toDouble)), "count")
      val (on, off) = acc.unitMs.partition(_._1)
      out.perLayer("trace_overhead_ratio") =
        (Stats.median(on.map(_._2).toSeq) / math.max(1e-9, Stats.median(off.map(_._2).toSeq)), "ratio")
    }
  }
}
