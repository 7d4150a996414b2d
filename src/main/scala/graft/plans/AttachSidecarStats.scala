package graft.plans

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** PRE-CBO RULE: feed the [[StatsStore]] ANALYZE sidecar into
  * CATALYST'S OWN cost-based decisions.
  *
  * Path-based parquet scans carry no catalog entry, so Spark's
  * optimizer sees only `sizeInBytes` from the file listing — join
  * reordering never fires (it needs row counts on every input),
  * broadcast selection guesses from compressed file bytes, and filter
  * cardinality estimation has no NDV/null information. The reference
  * delegates ALL of this to Postgres's statistics-fed planner
  * (SURVEY.md §4.1 — `ANALYZE` once, every plan benefits).
  *
  * Injected via `injectPreCBORule` ([[graft.functions.GraftExtensions]])
  * — the extension point that runs AFTER operator optimization (so
  * column pruning/pushdown are settled) and BEFORE the
  * `CostBasedJoinReorder` batch, which is exactly where statistics
  * must be present to steer it. For every [[LogicalRelation]] over a
  * [[HadoopFsRelation]] whose data fingerprint has a sidecar entry,
  * the rule attaches a synthetic `CatalogTable` carrying
  * `CatalogStatistics(sizeInBytes, rowCount, colStats)`:
  * `LogicalRelation.computeStats` then serves
  * `Statistics(rowCount, attributeStats)` instead of the bare file
  * size, and every downstream estimator — `JoinEstimation`,
  * `FilterEstimation`, `JoinSelection`'s broadcast threshold — reads
  * measured numbers. Single-column sidecar entries map to
  * `CatalogColumnStat(distinctCount, nullCount, avgLen, maxLen)`; the
  * avg/max string lengths ANALYZE measures matter at scale: Spark's
  * default string width is 20 bytes, under-estimating a text-heavy
  * table (`documents.text` ≈ 1 KB/row) by 50× — exactly the mistake
  * that would broadcast a 50 GB table at 100 TB.
  *
  * Discipline: the rule does ZERO jobs —
  * one in-process map lookup per file scan, backed by a stamped
  * sidecar-file read. Un-analyzed tables are left untouched
  * (size-only estimation, today's behavior); fingerprint keying makes
  * stale statistics unreachable after any overwrite. Gated on
  * `spark.sql.cbo.enabled` so a session that turns CBO off gets
  * byte-identical plans to stock Spark. Streaming relations are
  * skipped (micro-batch sub-plans re-optimize per batch; CBO is a
  * batch-side surface), as are relations that already carry a real
  * catalog entry (a governed table's own ANALYZE wins).
  *
  * StatsCboSpec pins the observable contract: a broadcast decision
  * and a 3-relation join order both FLIP when sidecar statistics are
  * present vs absent, the flipped plans stay oracle-green, and the
  * optimization triggers no Spark jobs.
  */
object AttachSidecarStats extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.cboEnabled) return plan
    plan.transformUpWithSubqueries {
      case lr @ LogicalRelation(fs: HadoopFsRelation, _, None, false, _) =>
        statsFor(fs, lr).fold(lr: LogicalPlan)(ct =>
          lr.copy(catalogTable = Some(ct)))
    }
  }

  private def statsFor(fs: HadoopFsRelation,
      lr: LogicalRelation): Option[CatalogTable] = {
    val fp = StatsStore.relationFingerprint(fs)
    StatsStore.tableStats(fp).map { case (rows, cols) =>
      val colStats = lr.output.flatMap { a =>
        // Only the types FilterEstimation can evaluate: its binary-
        // comparison path pattern-matches numeric/date/timestamp/
        // boolean (strings/binary take a separate branch) and throws
        // MatchError on anything else — observed live on
        // TimestampNTZType (q14's o_orderdate filter). A column
        // without stats just falls back to default selectivity;
        // a MatchError kills the query.
        val estimable = a.dataType match {
          case _: org.apache.spark.sql.types.NumericType |
               org.apache.spark.sql.types.DateType |
               org.apache.spark.sql.types.TimestampType |
               org.apache.spark.sql.types.BooleanType |
               org.apache.spark.sql.types.StringType |
               org.apache.spark.sql.types.BinaryType => true
          case _ => false
        }
        cols.get(a.name).filter(_ => estimable).map { c =>
          a.name -> CatalogColumnStat(
            distinctCount = Some(BigInt(c.ndv)),
            // external string forms; toPlanStat parses by dataType.
            // Recorded only for numeric columns, where they give
            // FilterEstimation its range-selectivity interpolation.
            min = c.min,
            max = c.max,
            nullCount = c.nulls.map(BigInt(_)),
            avgLen = c.avgLen,
            maxLen = c.maxLen)
        }
      }.toMap
      CatalogTable(
        identifier =
          TableIdentifier(s"graft_stats_${java.lang.Long.toHexString(fp)}"),
        tableType = CatalogTableType.EXTERNAL,
        storage = CatalogStorageFormat.empty,
        schema = lr.schema,
        stats = Some(CatalogStatistics(
          sizeInBytes = BigInt(fs.sizeInBytes),
          rowCount = Some(BigInt(rows)),
          colStats = colStats)))
    }
  }
}
