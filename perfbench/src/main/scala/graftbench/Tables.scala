package graftbench

import graft.sources.TxTable
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Table-side helpers shared by the CDC workloads: the seed commit, the
  * last-write-wins model, counters read from the table directory, and
  * the scan metrics of an executed read.
  */
object Tables {
  val Pk = "o_orderkey"

  /** Commit the seed as `files` key-clustered files with key stats and a
    * key Bloom filter; later merges inherit both.
    */
  def seed(spark: SparkSession, rows: Array[Row], dir: String, files: Int): Unit = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, files), Gen.RowSchema)
    TxTable.commit(df, dir, "overwrite", statsColumns = Seq(Pk), bloomColumns = Seq(Pk))
    ()
  }

  /** The expected table: last-write-wins over `changes` (canonical log
    * rows) applied to `seed`, with plain DataFrame operations.
    */
  def model(seed: DataFrame, changes: DataFrame): DataFrame = {
    val latest = changes
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("record_id")).orderBy(col("cdc_id").desc)))
      .filter(col("__rn") === 1)
    val untouched = seed.join(latest.select(col("record_id").as(Pk)), Seq(Pk), "left_anti")
    val written = latest.filter(col("operation") =!= "DELETE").select(col("new_data.*"))
    untouched.unionByName(written)
  }

  /** Rows by which the two frames differ as multisets (0 when equal). */
  def multisetDiff(a: DataFrame, b: DataFrame): Long = {
    val cols = Gen.RowSchema.fieldNames.toSeq.map(col)
    a.select(cols :+ lit(1L).as("__s"): _*)
      .unionByName(b.select(cols :+ lit(-1L).as("__s"): _*))
      .groupBy(cols: _*).agg(sum(col("__s")).as("__n"))
      .filter(col("__n") =!= 0).count()
  }

  /** (version, epoch, manifest mtime in epoch ms) for every manifest. */
  def manifests(dir: String): Seq[(Long, Option[Long], Double)] =
    TxTable.versions(dir).map { v =>
      val p = Paths.get(dir, "_txlog", s"v$v.manifest")
      val mtime = Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0
      val epoch = Files.readAllLines(p).asScala
        .collectFirst { case l if l.startsWith("epoch=") => l.stripPrefix("epoch=").toLong }
      (v, epoch, mtime)
    }

  /** Counters read from the table directory after a run. The seed commit
    * and its `seedFiles` belong to set-up and are left out of the
    * per-commit figures.
    */
  def counters(dir: String, seedFiles: Set[String], changesApplied: Long,
      out: mutable.LinkedHashMap[String, (Double, String)]): Unit = {
    val vs = TxTable.versions(dir)
    val snap = TxTable.latest(dir).get
    val root = Paths.get(dir)
    val data: Seq[(String, Long)] = {
      val it = Files.walk(root)
      try it.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet") &&
          !root.relativize(p).toString.startsWith("_txlog"))
        .map(p => root.relativize(p).toString -> Files.size(p)).toSeq
      finally it.close()
    }
    val written = data.filterNot(d => seedFiles.contains(d._1))
    val commits = math.max(1, vs.size - 1)
    val liveBytes = snap.files.map(f => Files.size(root.resolve(f))).sum
    val liveRows = snap.files.flatMap(snap.rows.get).sum
    val manifest = Files.size(Paths.get(dir, "_txlog", s"v${snap.version}.manifest"))
    out("sources.versions") = (vs.size.toDouble, "count")
    out("sources.manifest_kb") = (manifest / 1024.0, "KB")
    out("sources.live_files") = (snap.files.size.toDouble, "count")
    out("sources.files_written_per_commit") = (written.size.toDouble / commits, "count")
    out("sources.bytes_written_per_change") =
      (if (changesApplied > 0) written.map(_._2).sum.toDouble / changesApplied else 0.0, "B")
    out("sources.bytes_per_live_row") =
      (if (liveRows > 0) liveBytes.toDouble / liveRows else 0.0, "B")
  }

  /** Data files of the latest version (relative paths). */
  def liveFiles(dir: String): Set[String] = TxTable.latest(dir).get.files.toSet

  /** (files, rows) read by the file scans of an executed DataFrame. */
  def scanMetrics(df: DataFrame): (Long, Long) = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val scans = walk(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec => s }
    (scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum,
      scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val it = Files.walk(p)
    try it.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
    finally it.close()
  }
}
