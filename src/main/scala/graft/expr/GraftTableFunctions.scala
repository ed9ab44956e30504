package graft.expr

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Decimal

/** DataFrame-returning SQL entry points for the operator families —
  * table-valued functions registered by [[GraftExtensions]], so a SQL
  * console reaches the dedup / ANN / retrieval / curation / sketch /
  * BPE / embedding tiers without Scala:
  *
  * {{{
  * SELECT * FROM graft_dedup_minhash('docs', 'text', 'doc_id', 0.5)
  * SELECT * FROM graft_ann_topk('embeddings', 'queries', 'vec_id', 'embedding', 10)
  * SELECT * FROM graft_text_bm25('docs', 'doc_id', 'text', 'dup,spark,key', 20)
  * }}}
  *
  * Naming scheme: `graft_<family>_<operator>` (`graft_ann_topk`,
  * `graft_dedup_exact`, `graft_corpus_source_cap`, …). Arguments are
  * FOLDABLE SQL literals: table/view names and column names as strings
  * (resolved through the session catalog at call time, so temp views
  * work), numeric knobs as int/double literals. Every TVF delegates to
  * the SAME DataFrame operator the Scala API exposes — one
  * implementation, two surfaces — so plans, scale shapes, and results
  * are identical to the Scala calls the oracle already checks.
  *
  * The `graft_tx_*` family includes a WRITE tier (`graft_tx_append`,
  * `graft_tx_merge`) and a MAINTENANCE tier (`graft_tx_compact`,
  * `graft_tx_fold`, `graft_tx_vacuum`): a SQL console can commit an
  * append, apply a CDC merge batch, rewrite small files (optionally
  * range/z-order clustered), fold merge-on-read deletion vectors, or
  * retire history on a [[graft.sources.TxTable]], not just read one. Write/maintenance TVFs
  * execute at the statement's FIRST ACTION (memoized per statement —
  * EXPLAIN and dry planning never commit; round 10 retired the
  * execute-at-resolution behavior) and return the committed
  * `(version, op)` row (vacuum: the retained-version summary).
  */
object GraftTableFunctions {

  /** One TVF: usage string, declared arity bounds, builder. `deferred`
    * marks a WRITE/maintenance TVF with its fixed output schema: its
    * builder then runs at first EXECUTION (memoized per statement), not
    * at resolution — so EXPLAIN/dry planning of `graft_tx_append(...)`
    * no longer commits (the round-9 "EXPLAIN executes" nit).
    */
  private final case class Tvf(usage: String, minArgs: Int, maxArgs: Int,
      build: (SparkSession, Seq[Any]) => DataFrame,
      deferred: Option[org.apache.spark.sql.types.StructType] = None)

  private def tvf(usage: String, minArgs: Int, maxArgs: Int)(
      build: (SparkSession, Seq[Any]) => DataFrame): Tvf =
    Tvf(usage, minArgs, maxArgs, build)

  private val VersionOp = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("version",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("op",
      org.apache.spark.sql.types.StringType, nullable = true)))

  private def wtvf(usage: String, minArgs: Int, maxArgs: Int,
      schema: org.apache.spark.sql.types.StructType = VersionOp)(
      build: (SparkSession, Seq[Any]) => DataFrame): Tvf =
    Tvf(usage, minArgs, maxArgs, build, deferred = Some(schema))

  /** The deferred-write leaf: planning touches only `schema`; the body
    * (the commit + its result rows) runs at the statement's FIRST action
    * and is memoized for later actions on the same statement — EXPLAIN
    * never commits, one statement commits at most once.
    *
    * V1 `TableScan.buildScan` is invoked at PHYSICAL PLANNING (the
    * strategy builds the scan node around the RDD object), so the
    * deferral lives one level deeper: [[DriverDeferredRDD]] runs the
    * body on the DRIVER inside `getPartitions`, which Spark first calls
    * at job submission — after planning, before any task.
    */
  private final class DeferredWriteRelation(spark: SparkSession,
      schema0: org.apache.spark.sql.types.StructType,
      body: SparkSession => Seq[org.apache.spark.sql.Row])
      extends org.apache.spark.sql.sources.BaseRelation
      with org.apache.spark.sql.sources.TableScan {
    override def sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    override def schema: org.apache.spark.sql.types.StructType = schema0
    private lazy val result: Seq[org.apache.spark.sql.Row] = body(spark)
    override def buildScan()
        : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
      new DriverDeferredRDD(spark.sparkContext, () => result)
  }

  private final case class DeferredResultPartition(index: Int,
      rows: Seq[org.apache.spark.sql.Row])
      extends org.apache.spark.Partition

  /** One-partition RDD whose rows come from a DRIVER-side thunk forced
    * at `getPartitions` (job submission) — never at planning. The rows
    * ride inside the partition object to the single task (status rows,
    * tiny by construction).
    */
  private final class DriverDeferredRDD(
      sc: org.apache.spark.SparkContext,
      @transient private val thunk: () => Seq[org.apache.spark.sql.Row])
      extends org.apache.spark.rdd.RDD[org.apache.spark.sql.Row](sc, Nil) {
    // the thunk (and the relation it closes over) never leaves the
    // driver: getPartitions runs driver-side and bakes the rows into the
    // serialized partition; tasks see only those rows
    override protected def getPartitions: Array[org.apache.spark.Partition] =
      Array(DeferredResultPartition(0, thunk()))
    override def compute(split: org.apache.spark.Partition,
        context: org.apache.spark.TaskContext)
        : Iterator[org.apache.spark.sql.Row] =
      split.asInstanceOf[DeferredResultPartition].rows.iterator
  }

  private val registry: Map[String, Tvf] = Map(
    "graft_dedup_exact" -> tvf("(table, textCol, idCol)", 3, 3)(
      (s: SparkSession, a: Seq[Any]) =>
        graft.ext.Dedup.exactDedup(s.table(str(a(0))), str(a(1)), str(a(2)))),
    "graft_dedup_minhash" -> tvf("(table, textCol, idCol, threshold)", 4, 4)(
      (s: SparkSession, a: Seq[Any]) =>
        graft.ext.Dedup.minhashLshDedup(s.table(str(a(0))), str(a(1)), str(a(2)),
          threshold = dbl(a(3)), mode = graft.ext.HashMode.Portable)),
    "graft_ann_topk" -> tvf("(corpusTable, queryTable, idCol, vecCol, k)", 5, 5)(
      (s: SparkSession, a: Seq[Any]) =>
        graft.ext.Similarity.bruteForceTopK(s.table(str(a(0))), s.table(str(a(1))),
          str(a(2)), str(a(3)), str(a(2)), str(a(3)), k = int(a(4)))),
    // self-contained index serving: the codebook and m come from the
    // index's own _codebook/_params sidecars, routed through the
    // data-space path — a SQL user serves a path without ever holding
    // the training-time centroid set (and without any k ceiling)
    "graft_ann_ivfpq" -> tvf("(indexPath, queryTable, idCol, vecCol, k, nprobe)", 6, 6)(
      (s: SparkSession, a: Seq[Any]) =>
        graft.ext.Similarity.ivfPqTopKDataSpace(
          graft.ext.Similarity.readIvfIndex(s, str(a(0))), s.table(str(a(1))),
          str(a(2)), str(a(3)),
          graft.ext.Similarity.readIvfPqCodebook(s, str(a(0))), "cid", "cv",
          m = graft.ext.Similarity.readIvfPqM(s, str(a(0))),
          k = int(a(4)), nprobe = int(a(5)))),
    "graft_text_bm25" -> tvf("(table, idCol, textCol, termsCsv, k)", 5, 5)(
      (s: SparkSession, a: Seq[Any]) => {
        val postings = graft.ext.Search.invertedPostings(
          s.table(str(a(0))), str(a(1)), str(a(2)))
        graft.ext.Search.bm25TopK(postings, graft.ext.Search.docStats(postings),
          str(a(3)).split(",").map(_.trim).toSeq, k = int(a(4)))
      }),
    "graft_corpus_source_cap" -> tvf("(table, idCol, sourceCol, cap, salt)", 5, 5)(
      (s: SparkSession, a: Seq[Any]) =>
        graft.ext.Corpus.sourceCap(s.table(str(a(0))), str(a(1)), str(a(2)),
          cap = int(a(3)), salt = str(a(4)))),
    "graft_corpus_temperature" -> tvf("(table, sourceCol, alpha)", 3, 3)(
      (s: SparkSession, a: Seq[Any]) =>
        graft.ext.Corpus.temperatureWeights(s.table(str(a(0))), str(a(1)),
          alpha = dbl(a(2)))),
    "graft_sketch_hll" -> tvf("(table, keyCol, b)", 3, 3)(
      (s: SparkSession, a: Seq[Any]) =>
        graft.ext.Sketches.hllDistinct(s.table(str(a(0))), Seq.empty,
          col(str(a(1))).cast("string"), b = int(a(2)))),
    "graft_bpe_train" -> tvf("(table, textCol, numMerges)", 3, 3)(
      (s: SparkSession, a: Seq[Any]) => {
        import s.implicits._
        graft.ext.Bpe.trainInMemory(s.table(str(a(0))), str(a(1)), int(a(2)))
          .merges.toDF("merge_rank", "merge_left", "merge_right", "pair_freq")
      }),
    "graft_emb_dim_stats" -> tvf("(table, vecCol)", 2, 2)(
      (s: SparkSession, a: Seq[Any]) =>
        graft.ext.Similarity.dimStats(s.table(str(a(0))), str(a(1)))),
    // the REGISTERED source: the relation carries the manifest-consulting
    // FileIndex, so a WHERE over the TVF prunes files exactly like a
    // catalog table or TxTable.read, and a MoR snapshot reads through
    // the DV scan rule
    "graft_tx_read" -> tvf("(tableDir [, version])", 1, 2)(
      (s: SparkSession, a: Seq[Any]) => {
        val r = s.read.format("txtable")
        (if (a.length > 1) r.option("versionAsOf", int(a(1)).toLong) else r)
          .load(str(a(0)))
      }),
    // metadata-only COUNT(*): the manifest answer when complete
    "graft_tx_count" -> tvf("(tableDir [, version])", 1, 2)(
      (s: SparkSession, a: Seq[Any]) => {
        import s.implicits._
        val dir = str(a(0))
        val v = if (a.length > 1) Some(int(a(1)).toLong) else None
        graft.sources.TxTable.manifestRowCount(dir, v) match {
          case Some(n) => Seq((n, "manifest")).toDF("n_rows", "count_source")
          case None => Seq((graft.sources.TxTable.read(s, dir, v).count(),
            "scan")).toDF("n_rows", "count_source")
        }
      }),
    "graft_tx_versions" -> tvf("(tableDir)", 1, 1)(
      (s: SparkSession, a: Seq[Any]) => {
        import s.implicits._
        graft.sources.TxTable.versions(str(a(0))).toDF("version")
      }),
    "graft_tx_change_feed" -> tvf("(tableDir, fromVersion, toVersion, keyColsCsv)", 4, 4)(
      (s: SparkSession, a: Seq[Any]) =>
        graft.sources.TxTable.changeFeed(s, str(a(0)), int(a(1)).toLong,
          int(a(2)).toLong, str(a(3)).split(",").map(_.trim).toSeq)),
    "graft_emb_hard_negatives" -> tvf("(corpusTable, queryTable, idCol, vecCol, k, lo, hi)", 7, 7)(
      (s: SparkSession, a: Seq[Any]) =>
        graft.ext.Similarity.hardNegatives(s.table(str(a(0))), s.table(str(a(1))),
          str(a(2)), str(a(3)), k = int(a(4)), lo = dbl(a(5)), hi = dbl(a(6)))),
    "graft_dedup_canonical" -> tvf("(pairsTable, docsTable, idCol, textCol)", 4, 4)(
      (s: SparkSession, a: Seq[Any]) =>
        graft.ext.Corpus.dedupCanonical(s.table(str(a(0))), s.table(str(a(1))),
          str(a(2)), str(a(3)))),
    "graft_tx_history" -> tvf("(tableDir)", 1, 1)(
      (s: SparkSession, a: Seq[Any]) =>
        graft.sources.TxTable.history(s, str(a(0)))),
    // ---- write surface: these COMMIT when the statement resolves ----
    "graft_tx_append" -> wtvf("(tableDir, sourceTable[, statsColsCsv])", 2, 3)(
      (s: SparkSession, a: Seq[Any]) => {
        import s.implicits._
        val stats = if (a.length > 2) csv(a(2)) else Nil
        val v = graft.sources.TxTable.commit(
          s.table(str(a(1))), str(a(0)), "append", statsColumns = stats)
        Seq((v, "append")).toDF("version", "op")
      }),
    "graft_tx_merge" -> wtvf("(tableDir, changesTable, keyColsCsv[, writeMode])", 3, 4)(
      (s: SparkSession, a: Seq[Any]) => {
        import s.implicits._
        val mode = if (a.length > 3) str(a(3)) else "cow"
        val v = graft.sources.TxTable.merge(
          s, str(a(0)), s.table(str(a(1))), csv(a(2)), writeMode = mode)
        Seq((v, if (mode == "mor") "merge-mor" else "merge"))
          .toDF("version", "op")
      }),
    "graft_tx_compact" -> wtvf("(tableDir, targetFiles[, clusterByCsv])", 2, 3)(
      (s: SparkSession, a: Seq[Any]) => {
        import s.implicits._
        val cluster = if (a.length > 2) csv(a(2)) else Nil
        val v = graft.sources.TxTable.compact(
          s, str(a(0)), int(a(1)), clusterBy = cluster)
        Seq((v, "compact")).toDF("version", "op")
      }),
    // incremental bin-packing: rewrites ONLY files below minBytes
    "graft_tx_compact_small" -> wtvf("(tableDir, minBytes[, targetFiles])", 2, 3)(
      (s: SparkSession, a: Seq[Any]) => {
        import s.implicits._
        val v = graft.sources.TxTable.compactSmallFiles(s, str(a(0)),
          int(a(1)).toLong, if (a.length > 2) int(a(2)) else 1)
        Seq((v, "compact-small")).toDF("version", "op")
      }),
    // bounded MoR maintenance: rewrites ONLY dv-carrying files; with the
    // optional threshold, only those whose deleted fraction crosses it
    // (the auto-compaction POLICY arm — lightly-deleted files keep
    // their O(1) DVs instead of paying an O(file) rewrite)
    "graft_tx_fold" -> wtvf("(tableDir[, minDeletedFraction])", 1, 2)(
      (s: SparkSession, a: Seq[Any]) => {
        import s.implicits._
        val v = graft.sources.TxTable.foldDvs(s, str(a(0)),
          if (a.length > 1) dbl(a(1)) else 0.0)
        Seq((v, "fold")).toDF("version", "op")
      }),
    "graft_tx_vacuum" -> wtvf("(tableDir, keepVersions)", 2, 2,
      schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("versions_retained",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("latest_version",
          org.apache.spark.sql.types.LongType, nullable = false))))(
      (s: SparkSession, a: Seq[Any]) => {
        import s.implicits._
        graft.sources.TxTable.vacuum(str(a(0)), int(a(1)))
        val retained = graft.sources.TxTable.versions(str(a(0)))
        Seq((retained.size.toLong, retained.lastOption.getOrElse(-1L)))
          .toDF("versions_retained", "latest_version")
      }),
    "graft_corpus_contamination" -> tvf("(docsTable, embTable, idCol, textCol, vecIdCol, vecCol)", 6, 6)(
      (s: SparkSession, a: Seq[Any]) =>
        graft.ext.Corpus.contaminationReport(s.table(str(a(0))), s.table(str(a(1))),
          str(a(2)), str(a(3)), str(a(4)), str(a(5)))),
    // Bloom-pruned point lookup: the probe repr is picked from the TABLE
    // column's actual type (one manifest read), never from the literal's
    // SQL type — dispatching on the literal would probe a STRING column's
    // blooms with an integer repr that coercion-matched rows don't share
    "graft_tx_point_lookup" -> tvf("(tableDir, column, value)", 3, 3)(
      (s: SparkSession, a: Seq[Any]) => {
        val (dir, column) = (str(a(0)), str(a(1)))
        val schema = graft.sources.TxTable.latest(dir).getOrElse(
          throw new IllegalArgumentException(
            s"no committed version at $dir")).schema
        val dt = schema.fields.find(_.name == column).getOrElse(
          throw new IllegalArgumentException(
            s"column '$column' not in the table at $dir")).dataType
        import org.apache.spark.sql.types._
        dt match {
          case ByteType | ShortType | IntegerType | LongType =>
            val v = a(2) match {
              case i: Int => i.toLong
              case l: Long => l
              case other => str(other).toLong // parseable or loud failure
            }
            graft.sources.TxTable.readPointLookupLong(s, dir, column, v)
          case StringType =>
            graft.sources.TxTable.readPointLookupString(s, dir, column, str(a(2)))
          case other => throw new IllegalArgumentException(
            s"point lookup supports integral and string columns, '$column' is $other")
        }
      }),
    "graft_corpus_dup_spans" -> tvf("(table, idCol, textCol, n, k)", 5, 5)(
      (s: SparkSession, a: Seq[Any]) =>
        graft.ext.Corpus.dupSpans(s.table(str(a(0))), str(a(1)), str(a(2)),
          n = int(a(3)), k = int(a(4)))),
    "graft_corpus_pack_stats" -> tvf("(table, idCol, textCol, strataCol, ctxCsv)", 5, 5)(
      (s: SparkSession, a: Seq[Any]) =>
        graft.ext.Corpus.packStats(s.table(str(a(0))), str(a(1)), str(a(2)),
          ctxs = csv(a(4)).map(_.toInt), strataCol = col(str(a(3))))),
    // one-shot materialized-view refresh: apply every primary version the
    // view hasn't seen (the TxViewStream batch body without the stream),
    // then return the refreshed view — a WRITE TVF, same caveats as
    // graft_tx_append/_merge
    "graft_tx_view_refresh" -> tvf("(primaryDir, viewDir, keyColsCsv, groupCol, valueCol)", 5, 5)(
      (s: SparkSession, a: Seq[Any]) => {
        import s.implicits._
        val ticks = graft.sources.TxTable.versions(str(a(0)))
          .toDF("_commit_version")
        graft.streaming.TxViewStream.applyViewBatch(
          ticks, str(a(0)), str(a(1)), csv(a(2)), str(a(3)), str(a(4)))
        graft.sources.TxTable.read(s, str(a(1)))
      }))

  /** The registered TVF names (for docs/tests). */
  def names: Seq[String] = registry.keys.toSeq.sorted

  private def csv(a: Any): Seq[String] =
    str(a).split(',').map(_.trim).filter(_.nonEmpty).toSeq

  private def str(a: Any): String = {
    require(a != null, "string argument must not be NULL")
    a.toString // UTF8String.toString
  }

  private def int(a: Any): Int = a match {
    case i: Int => i
    case l: Long => math.toIntExact(l)
    case s: Short => s.toInt
    case b: Byte => b.toInt
    case other => throw new IllegalArgumentException(
      s"expected an integer literal, got $other")
  }

  private def dbl(a: Any): Double = a match {
    case d: Double => d
    case f: Float => f.toDouble
    case dec: Decimal => dec.toDouble // SQL `0.5` parses as DECIMAL(1,1)
    case i: Int => i.toDouble
    case l: Long => l.toDouble
    case other => throw new IllegalArgumentException(
      s"expected a numeric literal, got $other")
  }

  private[expr] def register(ext: SparkSessionExtensions): Unit =
    registry.foreach { case (name, t) =>
      ext.injectTableFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(GraftTableFunctions.getClass.getName, name),
        (children: Seq[Expression]) => plan(name, t, children)))
    }

  /** Resolve one TVF call to its operator's logical plan.
    *
    * Arity is validated against the registry's DECLARED bounds before
    * the builder runs (an index error escaping a builder is then a real
    * bug in the delegated operator, never mislabeled as a usage error).
    * Note the builder runs AT RESOLUTION: most operators only construct
    * a lazy DataFrame here, but driver-side builders (`graft_bpe_train`'s
    * trainer) and the write TVFs (`graft_tx_append`/`graft_tx_merge`)
    * do their work when the statement resolves — re-resolving (EXPLAIN,
    * view re-expansion) re-runs them; the write TVFs stay idempotent-safe
    * only through TxTable's own CAS/versioning, so treat them as
    * statements, not subqueries.
    */
  private def plan(
      name: String,
      t: Tvf,
      children: Seq[Expression]): LogicalPlan = {
    require(children.forall(_.foldable),
      s"$name arguments must be literals; usage: $name${t.usage}")
    require(children.length >= t.minArgs && children.length <= t.maxArgs,
      s"$name: expected ${if (t.minArgs == t.maxArgs) t.minArgs.toString
        else s"${t.minArgs}..${t.maxArgs}"} arguments, got " +
        s"${children.length}; usage: $name${t.usage}")
    val args = children.map(_.eval())
    val spark = SparkSession.active
    t.deferred match {
      case Some(schema) =>
        org.apache.spark.sql.execution.datasources.LogicalRelation(
          new DeferredWriteRelation(spark, schema,
            s => t.build(s, args).collect().toIndexedSeq),
          isStreaming = false)
      case None => t.build(spark, args).queryExecution.logical
    }
  }
}
