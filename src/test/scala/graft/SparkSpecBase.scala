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
