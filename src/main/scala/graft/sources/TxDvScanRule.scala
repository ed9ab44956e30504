package graft.sources

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Deletion-vector read expansion for the `txtable` source: every
  * relation [[TxTableProvider.relationFor]] marked (snapshot carries
  * DVs) is rewritten during post-hoc resolution into
  *
  * {{{ Project(original output, CleanScan ⟕̸ broadcast(dv pairs)) }}}
  *
  * — the clean scan is the SAME `HadoopFsRelation`/[[TxFileIndex]]
  * parquet path a DV-free table plans (vectorized reads, whole-stage
  * codegen, manifest-stat + Bloom file skipping via `listFiles`,
  * parquet row-group pushdown), and the anti-join drops exactly the
  * (file-relative path, row position) pairs the snapshot's sidecars
  * record. This is the Delta `TahoeLogFileIndex`+DV composition: MoR
  * residue costs one codegen'd broadcast-hash anti probe per surviving
  * row, never a plan downgrade. Filters above the rewrite push through
  * the Project and the anti-join's left side (deterministic
  * expressions, left-side references), so `WHERE` clauses still reach
  * `TxFileIndex.listFiles` for file skipping and the parquet footer for
  * row-group skipping.
  *
  * The final [[Project]] re-emits the ORIGINAL relation's output
  * attributes (including `_metadata`, when the analyzer materialized it
  * into the relation output), so parent operators keep resolving
  * against the same expression ids.
  *
  * Safety: the marked relation carries [[DvGuardParquetFileFormat]];
  * the rewrite swaps in the real [[ParquetFileFormat]]. A session that
  * never registered `graft.expr.GraftExtensions` therefore fails loudly
  * at execution instead of silently resurrecting deleted rows.
  * [[TxTable]]'s own reads never carry the guard: they build the same
  * relation over their picked files and apply [[TxTable.dvJoined]]
  * themselves, so they need no rule.
  *
  * Insert targets never reach this rule as marked relations: by the
  * time custom post-hoc rules run (last), the built-in conversions have
  * already turned inserts over file relations into
  * `InsertIntoHadoopFsRelationCommand` (which holds the [[TxFileIndex]]
  * as a field, not a child plan) — [[TxTableInsertRule]] intercepts
  * those, DV-carrying or not.
  */
case class TxDvScanRule(spark: SparkSession) extends Rule[LogicalPlan] {

  // plain recursion, NOT resolveOperators*: a DataFrame built from a
  // path load carries an already-`analyzed` relation subtree, which
  // resolveOperators would skip when a later query re-analyzes around
  // it (the same reason TxTableInsertRule recurses manually). Insert
  // targets are safe: by custom-post-hoc time they are commands holding
  // the relation/file-index as a FIELD, which mapChildren never visits.
  // Subquery expressions are not traversed — a DV relation reached only
  // through one keeps its guard format and fails LOUDLY, never silently.
  // Detection keys on the GUARD FILE FORMAT, not relation options: the
  // catalog's relation cache REBUILDS the resolved relation with the
  // CatalogTable's storage options (`path` only), discarding whatever
  // option map the provider attached — but it preserves the fileFormat
  // and the TxFileIndex, which pin everything the rewrite needs (the
  // table dir and the exact snapshot). An option-marker match worked for
  // path loads and the FIRST catalog resolution, then silently missed
  // every cache hit (caught by TxMorSpec's catalog reads going loud
  // through the guard).
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case lr @ LogicalRelation(fsRel: HadoopFsRelation, _, _, _, _)
        if fsRel.fileFormat.isInstanceOf[DvGuardParquetFileFormat] =>
      fsRel.location match {
        case idx: TxFileIndex => expand(lr, fsRel, idx)
        case _ => lr // unexpected pairing: leave the guard to fail loudly
      }
    case _ => plan.mapChildren(apply)
  }

  private def expand(lr: LogicalRelation, fsRel: HadoopFsRelation,
      idx: TxFileIndex): LogicalPlan = {
    val clean = lr.copy(relation = fsRel.copy(
      fileFormat = new ParquetFileFormat())(spark))
    TxTable.dvJoined(spark, idx.tableDir, idx.snap,
        GraftSqlBridge.ofRows(spark, clean))
      .map(joined => Project(lr.output, joined.queryExecution.analyzed))
      // no DV pairs resolved (all sidecar entries stale) → clean scan
      .getOrElse(clean)
  }
}
