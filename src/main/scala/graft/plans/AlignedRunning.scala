package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, CurrentRow, NamedExpression, NullsFirst, RangeFrame, SortOrder, SpecifiedWindowFrame, UnboundedPreceding, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.LogicalRDD
import graft.sources.Snapshots

/** SQL surface for the storage-partitioned RUNNING WINDOW (r18,
  * VERDICT r17 stretch #9): `agg(x) OVER (PARTITION BY k ORDER BY t)`
  * — SQL's DEFAULT frame, `RANGE UNBOUNDED PRECEDING..CURRENT ROW` —
  * over a table bucket-clustered on `k` rewrites to
  * [[Snapshots.bucketAlignedRunning]]'s per-bucket streaming fold:
  * zero Exchange (the planner's WindowExec shuffles the WHOLE table
  * on the key and sorts every partition), zero Sort on
  * composite-sorted (`sortAlso = t`) layouts, task memory O(one tie
  * group). Semantics are identical by the operator's contract — the
  * default frame's RANGE (peer) semantics, NULL keys one partition,
  * NULL order values sorting first as each other's peers — and every
  * leg is planner-parity-checked in the specs.
  *
  * Narrow, like its siblings:
  *  - the child peels to a graft relation ([[AlignedSides.peel]]);
  *    any peeled Filter must mine EXACTLY into BETWEEN range windows
  *    ([[RangeMining.exact]] — σ under a window defines the window's
  *    input and can never hoist above it), riding the operator's
  *    `ranges`;
  *  - ONE partition attribute — the table's bucket key — and ONE
  *    ascending NULLS FIRST order attribute;
  *  - every window expression is a non-DISTINCT un-FILTERed Complete
  *    `count(*) | count(c) | sum(c) | min(c) | max(c)` over the
  *    DEFAULT frame on this exact (partition, order) spec;
  *  - the result-schema guard bails on any type mismatch.
  * A fire replaces the Window with a [[LogicalRDD]] over the aligned
  * fold (full table columns + one column per DISTINCT running fold)
  * and a Project restoring the Window's own output attributes — same
  * exprIds, so references above stay bound. Disable with
  * `graft.sql.alignedRunning.enabled = false`.
  */
case class AlignedRunning(spark: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    graft.GraftConf.bool(spark, "graft.sql.alignedRunning.enabled", true)

  /** The window expression's (alias, aggregate call) when it is a
    * default-frame running aggregate over exactly (part, ord) and the
    * call is a DIRECT aligned fold (count/sum/min/max — AVG over a
    * running window stays with the planner for now).
    */
  private def runningCall(e: NamedExpression, part: AttributeReference,
                          ord: AttributeReference)
      : Option[(Alias, AggregateExpression, (String, String))] = e match {
    case a @ Alias(WindowExpression(ae: AggregateExpression,
        WindowSpecDefinition(Seq(p: AttributeReference),
          Seq(SortOrder(o: AttributeReference, Ascending, NullsFirst, _)),
          SpecifiedWindowFrame(RangeFrame, UnboundedPreceding,
            CurrentRow))), _)
        if p.exprId == part.exprId && o.exprId == ord.exprId =>
      AggMining.planOf(ae) match {
        case Some(AggMining.DirectAgg(fn, c)) => Some((a, ae, (fn, c)))
        case _ => None
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformDown {
      case w @ Window(winExprs, Seq(part: AttributeReference),
          Seq(SortOrder(ord: AttributeReference, Ascending, NullsFirst,
            _)), child, _)
          if winExprs.nonEmpty &&
            winExprs.forall(runningCall(_, part, ord).isDefined) =>
        (AlignedSides.peel(child).map { s =>
          (s, RangeMining.exact(s.filters),
            AlignedSides.facts(spark, s.g, part.name).isDefined)
        }) match {
          case Some((side, Some(ranges), true)) =>
            val calls = winExprs.map(runningCall(_, part, ord).get)
            val specs = calls.map(_._3).distinct
            // a representative call per spec pins the planner's exact
            // result type for the substitute attribute
            val repr = calls.map(c => c._3 -> c._2).toMap
            val alignedOpt = RewriteDiag.attempt("running",
              RewriteDiag.tag(side.g))(Snapshots.bucketAlignedRunning(
              spark, side.g.tableDir, ord.name,
              specs.zipWithIndex.map { case ((fn, c), i) =>
                (fn, c, s"__run_$i") },
              version = Some(side.g.version), ranges = ranges))
            val width = side.out.length
            val typesOk = alignedOpt.exists { a =>
              val s = a.schema
              s.length == width + specs.length &&
                side.out.zipWithIndex.forall { case (o, i) =>
                  s(i).dataType == o.dataType } &&
                specs.zipWithIndex.forall { case (sp, i) =>
                  s(width + i).dataType == repr(sp).dataType }
            }
            if (!typesOk) w
            else {
              val aligned = alignedOpt.get
              val specAttr: Map[(String, String), AttributeReference] =
                specs.zipWithIndex.map { case (sp, i) =>
                  sp -> AttributeReference(s"__run_$i",
                    repr(sp).dataType, repr(sp).nullable)()
                }.toMap
              val rddOut: Seq[Attribute] =
                side.out ++ specs.map(specAttr)
              val full = LogicalRDD(rddOut, aligned.queryExecution.toRdd,
                org.apache.spark.sql.catalyst.plans.physical
                  .UnknownPartitioning(0),
                Nil, isStreaming = false, None)(
                spark.asInstanceOf[
                  org.apache.spark.sql.classic.SparkSession],
                None, None)
              // the Window's own output: child.output (bound — ⊆
              // side.out by exprId) then each window alias re-issued
              // over its fold column UNDER ITS OWN exprId
              val projList: Seq[NamedExpression] =
                child.output ++ calls.map { case (a, _, sp) =>
                  Alias(specAttr(sp), a.name)(exprId = a.exprId,
                    qualifier = a.qualifier,
                    explicitMetadata = Some(a.metadata))
                }
              Project(projList, full)
            }
          case _ => w
        }
    }
  }
}
