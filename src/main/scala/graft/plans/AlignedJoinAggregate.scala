package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.LogicalRDD
import graft.sources.Snapshots

/** SQL surface for the FUSED storage-partitioned join + aggregation
  * (r17): `SELECT k, aggs FROM a JOIN b ON a.k = b.k GROUP BY k` over
  * two tables co-clustered on the join keys rewrites to
  * [[Snapshots.bucketAlignedJoinAggregate]] — the 100 TB star query
  * executed with ZERO Exchange END TO END: each bucket merge-joins in
  * key order and folds its complete groups IN THE SAME TASK, so
  * neither the table rows (the join) nor the grouped rows (the
  * aggregate) ever cross the network. [[AlignedJoin]] alone leaves
  * the planner a two-phase hash aggregate with an exchange over the
  * joined output; this rule — injected BEFORE it, so the
  * Aggregate-over-Join shape is still intact when it looks — removes
  * that too.
  *
  * Narrow by composition of the two parents' contracts:
  *  - the Aggregate groups by exactly ONE attribute: either side's
  *    JOIN KEY (an inner equi-join makes them equal, and both sides
  *    drop NULL keys — grouping by either is the same row set);
  *  - every select-list item is a deterministic, subquery-free
  *    scalar expression over the supported aggregates
  *    ([[AggMining]] — same composed-select-list service as
  *    [[AlignedAggregate]]) and the grouping key;
  *  - aggregate columns resolve UNAMBIGUOUSLY against the joined
  *    schema (left fields then right — a name on both sides refuses
  *    inside the operator and the rule bails);
  *  - both sides are bare or pruning-projected graft relations whose
  *    peeled filters (if any) mine EXACTLY into inclusive BETWEEN
  *    windows riding the fused operator's pre-join ranges — the
  *    `WHERE day BETWEEN ? AND ? GROUP BY key` star shape; a fold
  *    consumes its rows, so nothing can re-apply above and the
  *    mining contract is exactness ([[RangeMining.exact]]). A
  *    non-minable filter falls to [[AlignedJoin]], which hoists the
  *    filters above its join rewrite — correct, one grouped-row
  *    exchange. Matching bucket layouts, non-float keys of one type;
  *  - the result-schema guard bails on any type mismatch, so the
  *    rewrite can never change a query's schema.
  * Disable with `graft.sql.alignedJoinAgg.enabled = false` (the
  * join and aggregate rules keep their own switches).
  */
case class AlignedJoinAggregate(spark: SparkSession)
    extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    graft.GraftConf.bool(spark, "graft.sql.alignedJoinAgg.enabled", true)

  /** The Join under the Aggregate, through the pure attribute
    * projections the USING-join resolution and ColumnPruning insert.
    */
  private def joinOf(p: LogicalPlan): Option[Join] = p match {
    case j: Join => Some(j)
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      joinOf(c)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformDown {
      case agg @ Aggregate(Seq(key: AttributeReference), items, aggChild,
          None)
          if items.forall(AggMining.servableItem(_, key)) &&
            items.exists(_.exists(_.isInstanceOf[AggregateExpression])) &&
            joinOf(aggChild).isDefined =>
        joinOf(aggChild).get match {
          case j @ Join(lp, rp, Inner, Some(EqualTo(
              a: AttributeReference, b: AttributeReference)),
              JoinHint.NONE) =>
            (AlignedSides.peel(lp), AlignedSides.peel(rp)) match {
              case (Some(ls), Some(rs))
                  // the grouping attribute IS one of the join keys
                  if key.exprId == a.exprId || key.exprId == b.exprId =>
                // filters under a FOLD cannot re-apply above (the
                // grouped rows are gone) — each side's conjuncts must
                // mine EXACTLY into its pre-join range window
                // ([[RangeMining.exact]]: the per-file row filter is
                // the lossless inclusive predicate), else the layered
                // fallback serves ([[AlignedJoin]] hoists + the
                // planner aggregates). An inner join drops NULL keys
                // at BOTH scans, so inferred IS NOT NULL conjuncts on
                // the join keys are consumed (ADVICE r17).
                AlignedSides.orient(a, b, ls.out, rs.out) match {
                  case Some((lKey, rKey))
                      if RangeMining.exact(ls.filters, Set(lKey))
                          .isDefined &&
                        RangeMining.exact(rs.filters, Set(rKey))
                          .isDefined &&
                        AlignedSides.alignablePair(spark, ls.g, lKey,
                          rs.g, rKey) &&
                        AggMining.mineFolds(items).isDefined =>
                    val windows = (
                      RangeMining.exact(ls.filters, Set(lKey)),
                      RangeMining.exact(rs.filters, Set(rKey)))
                    // mined twice only on the fire path (guard + here)
                    // — the never-fire common case pays one walk
                    val folds = AggMining.mineFolds(items).get
                    // the operator resolves agg columns against the
                    // JOINED schema and refuses ambiguity/NULL-key
                    // hazards itself — any refusal bails the rewrite
                    // (logged once per tables+shape: RewriteDiag)
                    val alignedOpt = RewriteDiag.attempt("join-aggregate",
                      s"${RewriteDiag.tag(ls.g)}+${RewriteDiag.tag(rs.g)}")(
                      Snapshots.bucketAlignedJoinAggregate(spark,
                        ls.g.tableDir, rs.g.tableDir, lKey, rKey,
                        folds.specs.zipWithIndex.map { case ((fn, c), i) =>
                          (fn, c, s"__agg_$i") },
                        leftVersion = Some(ls.g.version),
                        rightVersion = Some(rs.g.version),
                        leftRanges = windows._1.get,
                        rightRanges = windows._2.get))
                    val typesOk = alignedOpt.exists { al =>
                      val s = al.schema
                      folds.specs.zipWithIndex.forall { case (sp, i) =>
                        s(1 + i).dataType == folds.types(sp)._1 } &&
                        s(0).dataType == key.dataType
                    }
                    if (!typesOk) agg
                    else {
                      val aligned = alignedOpt.get
                      val specAttr = folds.specs.zipWithIndex.map {
                        case (sp, i) => sp -> AttributeReference(
                          s"__agg_$i", folds.types(sp)._1,
                          folds.types(sp)._2)()
                      }.toMap
                      val rddOut: Seq[Attribute] =
                        key +: folds.specs.map(specAttr)
                      val full = LogicalRDD(rddOut,
                        aligned.queryExecution.toRdd,
                        org.apache.spark.sql.catalyst.plans.physical
                          .UnknownPartitioning(0),
                        Nil, isStreaming = false, None)(
                        spark.asInstanceOf[
                          org.apache.spark.sql.classic.SparkSession],
                        None, None)
                      val rebound = folds.rebind(items, specAttr)
                      if (rebound == rddOut) full
                      else Project(rebound, full)
                    }
                  case _ => agg
                }
              case _ => agg
            }
          case _ => agg
        }
    }
  }
}
