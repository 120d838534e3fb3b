package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{AnalyzeColumn, AnalyzeTable, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.catalyst.analysis.ResolvedTable

import graft.sources.SnapshotTable
import graft.sources.connector.SnapshotV2Table

/** SQL `ANALYZE TABLE` for snapshot-catalog tables. Spark parses the
  * statement but its planner rejects every V2 table ("ANALYZE TABLE is
  * not supported for v2 tables"), so this rule intercepts the analyzed
  * plan and lowers it onto the engine's own stats plumbing:
  *
  *  - `ANALYZE TABLE t COMPUTE STATISTICS [NOSCAN]` →
  *    [[SnapshotTable.analyzeTable]]: rowCount/sizeBytes recorded as
  *    `stats.*` TBLPROPERTIES — visible in `DESCRIBE EXTENDED` and
  *    `SHOW TBLPROPERTIES`, the standard place a SQL user looks.
  *  - `ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS a, b` (or
  *    `FOR ALL COLUMNS`) → [[SnapshotTable.analyzeColumns]]: the
  *    columns join the table's `ndvCols` AND existing files get their
  *    per-file KMV sketches backfilled in one grouped job, so the CBO
  *    sees distinct counts immediately (`FOR ALL COLUMNS` takes the
  *    stats-typed columns — integral/string — and skips the rest,
  *    matching Spark's own behavior of analyzing what it can).
  *
  * The row-count the CBO reads does NOT come from these properties —
  * the scan reports manifest-exact statistics on every query already
  * ([[graft.sources.connector.SnapshotScan.estimateStatistics]]); the
  * properties exist so the numbers are INSPECTABLE, and FOR COLUMNS
  * is what flips on (and backfills) NDV for identity-clustered keys
  * that the bucket-only default leaves unsketched. */
case class GraftAnalyzeSql(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case a @ AnalyzeTable(r: ResolvedTable, partitionSpec, noScan)
        if r.table.isInstanceOf[SnapshotV2Table] =>
      require(partitionSpec.isEmpty,
        "ANALYZE TABLE ... PARTITION is not supported: snapshot tables " +
          "keep per-file stats, not per-partition catalogs")
      AnalyzeSnapshotCommand(dirOf(r, a.toString), noScan, None,
        allColumns = false)
    case a @ AnalyzeColumn(r: ResolvedTable, columnNames, allColumns)
        if r.table.isInstanceOf[SnapshotV2Table] =>
      AnalyzeSnapshotCommand(dirOf(r, a.toString), noscan = true,
        columnNames, allColumns)
  }

  private def dirOf(r: ResolvedTable, stmt: String): String =
    r.table match {
      case t: SnapshotV2Table if t.pinned.isEmpty => t.tableDir
      case t: SnapshotV2Table => throw new UnsupportedOperationException(
        s"cannot ANALYZE time-traveled table ${t.name()} ($stmt)")
      case other => throw new IllegalStateException(s"not a snapshot table: $other")
    }
}

/** Driver-side execution of the lowered ANALYZE: always records the
  * table-level stats properties; with columns, also runs the sketch
  * backfill. Returns nothing (Spark's own ANALYZE is output-free). */
case class AnalyzeSnapshotCommand(dir: String, noscan: Boolean,
                                  columnNames: Option[Seq[String]],
                                  allColumns: Boolean)
  extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    SnapshotTable.analyzeTable(spark, dir, noscan)
    val cols: Seq[String] =
      if (allColumns) {
        val v = SnapshotTable.latestVersion(spark, dir).get
        import org.apache.spark.sql.types._
        SnapshotTable.tableSchema(spark, dir, v).fields.toSeq
          .filter(f => Seq(ByteType, ShortType, IntegerType, LongType,
            StringType).contains(f.dataType))
          .map(_.name)
      } else columnNames.getOrElse(Nil)
    if (cols.nonEmpty) SnapshotTable.analyzeColumns(spark, dir, cols)
    Nil
  }
}
