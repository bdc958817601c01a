package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import graft.sources.GraftRelation

/** Surfaces the manifest ledger's EXACT row count through the V1
  * statistics path: `LogicalRelation.computeStats` consults its
  * CatalogTable's stats before falling back to sizeInBytes-only, so
  * attaching a synthetic CatalogTable carrying (bytes, rows) lets
  * cost-based join reordering and any cardinality-driven planning see
  * ROW COUNTS, not just volume — `spark.sql.cbo.enabled` (or plan
  * stats) gates how much Spark's own `toPlanStats` exposes, exactly
  * as for an ANALYZEd catalog table. The byte figure is the same
  * compression-factored ledger sum [[GraftRelation.sizeInBytes]]
  * serves, so auto-broadcast behavior is unchanged.
  *
  * Runs in the operator-optimization batch (before Join Reorder,
  * which is what consumes the row counts); idempotent — only
  * relations without a catalogTable are touched.
  */
case class RelationLedgerStats(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case lr @ LogicalRelation(g: GraftRelation, _, None, _, _) =>
        // per-column stats from the manifest's mergeable sketches,
        // exactly what ANALYZE TABLE ... FOR COLUMNS (with
        // spark.sql.statistics.histogram.enabled) would have computed,
        // served from metadata with no scan:
        //  - distinctCount: merged HLL NDV (join-reorder cardinality)
        //  - histogram: merged KLL equi-height bins (range/equality
        //    SELECTIVITY on skewed columns — without it FilterEstimation
        //    interpolates uniformly between min and max, and a skewed
        //    predicate misestimates by orders of magnitude, mis-sizing
        //    joins downstream)
        //  - min/max/nullCount: folded footer stats (the companions
        //    the estimators consult next to a histogram)
        // `graft.stats.histograms=false` drops the histogram+range
        // feed (the A/B toggle the u48 witness pins).
        val serveHist =
          graft.GraftConf.bool(spark, "graft.stats.histograms", true)
        val hists = if (serveHist) g.columnHistograms
          else Map.empty[String,
            org.apache.spark.sql.catalyst.plans.logical.Histogram]
        val ranges = if (serveHist) g.columnRanges
          else Map.empty[String, (String, String, Option[Long])]
        val colStats = (g.columnNdvs.keySet ++ hists.keySet ++ ranges.keySet)
          .iterator.map { c =>
            val r = ranges.get(c)
            c -> org.apache.spark.sql.catalyst.catalog.CatalogColumnStat(
              distinctCount = g.columnNdvs.get(c).map(BigInt(_)),
              min = r.map(_._1),
              max = r.map(_._2),
              nullCount = r.flatMap(_._3).map(BigInt(_)),
              histogram = hists.get(c))
          }.toMap
        lr.copy(catalogTable = Some(CatalogTable(
          identifier = TableIdentifier(
            s"graft_${Integer.toHexString(g.tableDir.hashCode)}"),
          tableType = CatalogTableType.EXTERNAL,
          storage = CatalogStorageFormat.empty,
          schema = g.schema,
          provider = Some("graft"),
          stats = Some(CatalogStatistics(
            sizeInBytes = BigInt(g.sizeInBytes),
            rowCount = Some(BigInt(g.ledgerCount)),
            colStats = colStats)))))
    }
}
