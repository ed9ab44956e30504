package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * sessions are expensive; ScalaTest runs suites sequentially in-JVM).
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpecBase.session

  override protected def afterAll(): Unit = {
    // keep the session alive across suites; stopped by the JVM exit hook
    super.afterAll()
  }

  /** Multiset equality via exceptAll both ways (schema-order tolerant). */
  def assertSameRows(actual: DataFrame, expected: DataFrame, hint: String = ""): Unit = {
    val a = actual.select(expected.columns.map(org.apache.spark.sql.functions.col): _*)
    val onlyA = a.exceptAll(expected).count()
    val onlyE = expected.exceptAll(a).count()
    assert(onlyA == 0 && onlyE == 0,
      s"$hint rows differ: ${onlyA} only-in-actual, ${onlyE} only-in-expected\n" +
        s"actual:\n${a.orderBy(a.columns.map(org.apache.spark.sql.functions.col): _*).showString()}" +
        s"expected:\n${expected.orderBy(expected.columns.map(org.apache.spark.sql.functions.col): _*).showString()}")
  }

  /** A copy of table dir `src` at a fresh path — what a restarted driver
    * sees of a table: its files and nothing of this JVM's in-process
    * state about `src`. Returns the new path.
    */
  def copyTableDir(src: String): String = {
    import java.nio.file.{Files, Paths}
    val dst = Files.createTempDirectory("txcopy")
    val walk = Files.walk(Paths.get(src))
    try walk.forEach { p =>
      val q = dst.resolve(Paths.get(src).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
      ()
    } finally walk.close()
    dst.toString
  }

  /** All FileSourceScanExec nodes of a plan, descending through the
    * AQE/stage wrappers that hide children from a plain `collect`.
    */
  def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.inputPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    (p match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case _ => Nil
    }) ++ kids.flatMap(fileScans)
  }

  /** Manifest-relative path (`data/<commit>/<file>`) of a data file URI. */
  def manifestRel(path: String): String =
    path.split('/').takeRight(3).mkString("/")

  /** The `txtable` scans of `df` over table `dir`. */
  private def txScans(df: DataFrame, dir: String)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    val scans = fileScans(df.queryExecution.executedPlan).filter(_.relation.location match {
      case t: graft.sources.TxFileIndex => t.tableDir == dir
      case _ => false
    })
    assert(scans.nonEmpty, s"no txtable scan over $dir")
    scans
  }

  /** The files the `txtable` scans of `df` over table `dir` list after
    * manifest pruning.
    */
  def listedFiles(df: DataFrame, dir: String): Set[String] =
    txScans(df, dir).flatMap(f => f.relation.location.listFiles(f.partitionFilters, f.dataFilters))
      .flatMap(_.files.map(st => manifestRel(st.getPath.toString))).toSet

  /** [[listedFiles]], and the long values the scans' `IN` filters on
    * `column` probe.
    */
  def probedListing(df: DataFrame, dir: String, column: String): (Set[String], Set[Long]) = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, In, InSet, Literal}
    val listed = listedFiles(df, dir)
    val probed = txScans(df, dir).flatMap(_.dataFilters.flatMap(_.collect {
      case In(a: AttributeReference, vs) if a.name == column =>
        vs.collect { case Literal(v: Long, _) => v }
      case InSet(a: AttributeReference, vs) if a.name == column =>
        vs.toSeq.collect { case v: Long => v }
    }).flatten).toSet
    (listed, probed)
  }

  /** Files of table `dir`'s latest version holding a row whose long
    * `column` is one of `values`.
    */
  def filesHolding(dir: String, column: String, values: Set[Long]): Set[String] =
    graft.sources.TxTable.read(spark, dir)
      .filter(org.apache.spark.sql.functions.col(column).isin(values.toSeq: _*))
      .select(org.apache.spark.sql.functions.col("_metadata.file_path")).distinct()
      .collect().map(r => manifestRel(r.getString(0))).toSet

  /** An index probe opens exactly the files holding a probed value of
    * `column` — the files whose manifest stats and Bloom admit one — and
    * fewer than the table holds (`strict`). Returns the probed values.
    */
  def assertManifestPruned(df: DataFrame, dir: String, column: String,
      strict: Boolean = true): Set[Long] = {
    val (listed, probed) = probedListing(df, dir, column)
    assert(probed.nonEmpty, s"the scan over $dir carries no IN filter on $column")
    val holding = filesHolding(dir, column, probed)
    assert(listed === holding, s"probe over $dir listed $listed, files holding " +
      s"$column in $probed are $holding")
    val all = graft.sources.TxTable.latest(dir).get.files.toSet
    if (strict) assert(listed.size < all.size,
      s"probe over $dir listed all ${all.size} files")
    probed
  }

  /** An append to table `dir` keeps every file of `before` listed, and
    * the long `column` stats of each new file fall inside `values`.
    */
  def assertAppendConfined(dir: String, before: Set[String], column: String,
      values: Set[Long]): Unit = {
    val snap = graft.sources.TxTable.latest(dir).get
    val added = snap.files.toSet -- before
    assert(before.subsetOf(snap.files.toSet), s"append unlisted ${before -- snap.files}")
    assert(added.nonEmpty, "append listed no new file")
    added.foreach { f =>
      val r = snap.stats(f)(column)
      assert(values(r.min.toLong) && values(r.max.toLong),
        s"new file $f has $column in [${r.min}, ${r.max}], outside the batch's $values")
    }
  }

  /** Spark jobs started while `body` runs, as (stage name, call-site
    * details), plus the file-scan locations of the SQL executions it
    * started — bracketed by marker jobs so the asynchronous listener bus
    * has delivered every event in between.
    */
  def jobsAndScansDuring(body: => Unit): (Seq[(String, String)], Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    // (job group, stage name, details) for a job, or a SQL execution's scan locations
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Either[(String, String, String), Seq[String]]]()
    def locations(p: SparkPlanInfo): Seq[String] =
      p.metadata.get("Location").toSeq ++ p.children.flatMap(locations)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val group = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        seen.add(Left((group, e.stageInfos.map(_.name).headOption.getOrElse(""),
          e.stageInfos.map(_.details).mkString("\n"))))
        ()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => seen.add(Right(locations(x.sparkPlanInfo))); ()
        case _ => ()
      }
    }
    def marker(name: String): Unit = {
      sc.setJobGroup(s"$tag-$name", name)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      ()
    }
    def isMarker(e: Either[(String, String, String), Seq[String]], name: String) =
      e match {
        case Left((group, _, _)) => group == s"$tag-$name"
        case _ => false
      }
    sc.addSparkListener(listener)
    try {
      marker("start")
      body
      marker("end")
      val deadline = System.currentTimeMillis() + 30000L
      while (!seen.asScala.exists(isMarker(_, "end")) &&
          System.currentTimeMillis() < deadline) Thread.sleep(10)
      val ordered = seen.asScala.toSeq
      val from = ordered.indexWhere(isMarker(_, "start"))
      val to = ordered.indexWhere(isMarker(_, "end"))
      assert(from >= 0 && to > from, "listener bus did not deliver the marker jobs")
      val window = ordered.slice(from + 1, to)
      (window.collect { case Left((_, name, details)) => (name, details) },
        window.collect { case Right(locs) => locs }.flatten)
    } finally sc.removeSparkListener(listener)
  }

  /** The Spark jobs of [[jobsAndScansDuring]]. */
  def jobsDuring(body: => Unit): Seq[(String, String)] = jobsAndScansDuring(body)._1

  implicit class ShowString(df: DataFrame) {
    def showString(): String = {
      val rows = df.limit(20).collect()
      df.columns.mkString(", ") + "\n" + rows.map(_.toString).mkString("\n") + "\n"
    }
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.ui.enabled", "false")
    .getOrCreate()
}
