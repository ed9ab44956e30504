package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{InsertIntoDataSourceCommand, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.sources.{BaseRelation, InsertableRelation}
import org.apache.spark.sql.types.StructType

/** `INSERT INTO/OVERWRITE <txtable table>` → [[TxTable.commit]].
  *
  * Spark's post-hoc resolution converts any insert over a
  * [[org.apache.spark.sql.execution.datasources.HadoopFsRelation]]
  * (which the txtable scan relation is, [[TxTableProvider]]) into
  * `InsertIntoHadoopFsRelationCommand` — a raw directory write. Run
  * against a manifest-governed table that is catastrophic in two
  * different ways: INSERT INTO lands part-files in the table root
  * OUTSIDE any manifest (the statement "succeeds", readers correctly
  * never see the rows — silent data loss), and INSERT OVERWRITE clears
  * the directory first, DESTROYING `_txlog` and every committed version
  * (both observed empirically; `TxProviderSpec` pins them as regression
  * tests). This rule is registered AFTER the built-in post-hoc rules
  * ([[graft.expr.GraftExtensions]] injects it via
  * `injectPostHocResolutionRule`, and custom rules run last), so it sees
  * the converted command — identified by its [[TxFileIndex]] — and
  * rewrites it to Spark's own [[InsertIntoDataSourceCommand]] over an
  * [[InsertableRelation]] adapter that routes to the transactional
  * commit protocol. Intercepting the COMMAND rather than the raw
  * `InsertIntoStatement` keeps Spark's `PreprocessTableInsertion` in the
  * loop (column-count checks, positional casts, BY NAME resolution), and
  * catches both the append and overwrite forms at one seam.
  */
case class TxTableInsertRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case cmd: InsertIntoHadoopFsRelationCommand =>
      cmd.fileIndex match {
        case Some(idx: TxFileIndex) =>
          require(cmd.staticPartitions.isEmpty,
            s"txtable at ${idx.tableDir} is not partition-addressed; " +
              "INSERT without a PARTITION clause")
          val overwrite = cmd.mode == SaveMode.Overwrite
          InsertIntoDataSourceCommand(
            LogicalRelation(
              new TxTableInsertableRelation(spark, idx.tableDir,
                idx.snap.schema,
                refreshAfter = cmd.catalogTable.map(_.identifier)),
              isStreaming = false),
            cmd.query, overwrite)
        case _ => plan
      }
    // (round 11: DV-carrying snapshots now plan as marked
    // HadoopFsRelations too — their inserts arrive as the SAME
    // InsertIntoHadoopFsRelationCommand and route through the arm
    // above, so the former TxDvRelation special case is gone.)
    case _ => plan.mapChildren(apply)
  }
}

/** The [[InsertableRelation]] arm of the txtable source: append or
  * overwrite as one transactional commit, preserving the latest
  * version's stats columns and per-column Bloom geometry
  * ([[TxTable.layoutOf]]) so file skipping survives SQL writes (the
  * same carry-forward [[TxTable.merge]] performs).
  */
class TxTableInsertableRelation(spark: SparkSession, dir: String,
    override val schema: StructType,
    refreshAfter: Option[org.apache.spark.sql.catalyst.TableIdentifier] = None)
    extends BaseRelation with InsertableRelation {

  override def sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext

  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    TxTable.commitLaid(data, dir, if (overwrite) "overwrite" else "append",
      TxTable.latest(dir).fold((Seq.empty[String], Map.empty[String, (Int, Int)]))(
        TxTable.layoutOf))
    // the catalog caches the resolved relation pinned at its creation
    // snapshot; without this, the table NAME keeps serving pre-insert
    // rows (path-loaded DataFrames stay pinned by design)
    refreshAfter.foreach(spark.sessionState.catalog.refreshTable)
    ()
  }
}
