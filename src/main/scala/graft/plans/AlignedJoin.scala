package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.LogicalRDD
import graft.sources.Snapshots

/** SQL surface for the storage-partitioned join (VERDICT r15 task #3,
  * extended to the join FAMILY in r17 per VERDICT r16 task #3): an
  * optimizer rule that recognizes `graft ⋈ graft` single-key
  * equi-joins — INNER, LEFT OUTER and (r18) FULL OUTER here; LEFT
  * SEMI / LEFT ANTI live in [[AlignedJoinStrategy]], because Spark
  * plants them in the subquery-rewrite batch AFTER every injected
  * optimizer rule has run
  * — whose two sides are bucket-clustered ON THE JOIN KEYS with the
  * same modulus and fully clustered, and replaces the Join with
  * [[Snapshots.bucketAlignedJoin]]'s zero-Exchange per-bucket zip.
  * So the flagship shuffle-free path is reachable from pure SQL, not
  * just the Scala API. Semantics are identical BY the join's own
  * contract (SQL NULL never matches; leftouter null-extends); the
  * rewrite only changes the physical strategy, exactly the decision
  * Spark's own storage-partitioned join makes for DSv2 sources that
  * report compatible KeyGroupedPartitioning.
  *
  * Deliberately narrow — the rule fires ONLY when every precondition
  * is checkable and met, and leaves the plan untouched otherwise (the
  * planner's join is always correct, just shuffled):
  *  - both sides are servable per [[AlignedSides.peel]]. LEFT-side
  *    filters hoist for INNER/LEFT OUTER: σ_L(A) ⋈ B ≡ σ_L(A ⋈ B)
  *    when σ_L references only left attributes (they were peeled from
  *    the left subtree), so the original expressions re-apply ABOVE
  *    the replacement verbatim, while any BETWEEN-shaped conjuncts
  *    additionally ride the left scan as RELAXED reducers
  *    ([[RangeMining.relaxed]] — file pruning + an inclusive row
  *    filter the outer Filter tightens). RIGHT-side filters hoist the
  *    same way for INNER; for LEFT OUTER they are part of the right
  *    side's DEFINITION (`A LEFT JOIN (SELECT .. FROM b WHERE ..)`)
  *    and must apply BEFORE the join — served exactly when every
  *    conjunct mines losslessly into the aligned join's range windows
  *    ([[RangeMining.exact]], whose per-file row filter is the exact
  *    inclusive predicate), else the rule bails. FULL OUTER can hoist
  *    NEITHER side (each filter defines its side before
  *    null-extension), so BOTH sides' filters must mine exactly;
  *  - the condition contains an `l.k = r.k` equality between
  *    attributes of the two sides that lands on their bucket keys, no
  *    join hint. For INNER (r18) the condition may carry FURTHER
  *    conjuncts — extra equalities, non-equi comparisons — which
  *    re-apply as a Filter above the replacement (σ_res(A ⋈_k B) ≡
  *    A ⋈_{k ∧ res} B); for LEFT OUTER the residual is part of the
  *    match condition (it changes which rows null-extend), so only
  *    the bare single equality serves;
  *  - both manifests carry the bucket layout on the join keys with
  *    equal bucket counts, every file clustered, non-float keys of
  *    one type ([[AlignedSides.alignablePair]]).
  * A fire replaces the Join with a [[LogicalRDD]] carrying the JOIN'S
  * OWN output attributes (left then right, leftouter's right side
  * nullable — the aligned join's exact column order), so everything
  * bound above stays bound. Disable with
  * `graft.sql.alignedJoin.enabled = false` (shared with the
  * strategy).
  *
  * At 100 TB this is the difference between a SQL analyst's fact⋈fact
  * query shuffling both tables and reading them in place: zero network
  * bytes for table data, one task per bucket.
  */
case class AlignedJoin(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  private def enabled: Boolean =
    graft.GraftConf.bool(spark, "graft.sql.alignedJoin.enabled", true)

  private def typeName(jt: JoinType): String = jt match {
    case Inner => "inner"
    case LeftOuter => "left_outer"
    case FullOuter => "full_outer"
    case _ => ""
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformDown {
      case j @ Join(lp, rp, jt, Some(cond), JoinHint.NONE)
          if typeName(jt).nonEmpty =>
        // multi-conjunct conditions (r18, VERDICT r17 task #4):
        // `ON a.k = b.k AND <residual>` splits into candidate
        // equi-conjuncts (the zip key) and the residual, which
        // re-applies as σ ABOVE the replacement — sound for INNER
        // (σ_res(A ⋈_k B) ≡ A ⋈_{k ∧ res} B), but for LEFT OUTER the
        // residual is part of the MATCH condition (it changes which
        // rows null-extend), so multi-conjunct outer joins bail
        val conjuncts = splitConjunctivePredicates(cond)
        val eqs = conjuncts.collect {
          case e @ EqualTo(_: AttributeReference, _: AttributeReference) => e
        }
        val residualServable = conjuncts.forall(e => e.deterministic &&
          !e.containsPattern(org.apache.spark.sql.catalyst.trees
            .TreePattern.PLAN_EXPRESSION))
        if (eqs.isEmpty || !residualServable ||
            (conjuncts.lengthCompare(1) > 0 && jt != Inner)) j
        else (AlignedSides.peel(lp), AlignedSides.peel(rp)) match {
          case (Some(ls), Some(rs)) =>
            // the FIRST equi-conjunct that orients to the sides and
            // lands on their bucket keys becomes the zip key; the
            // other conjuncts (equalities included) join the residual
            val choice = eqs.iterator.flatMap { e =>
              val (a, b) = (e.left.asInstanceOf[AttributeReference],
                e.right.asInstanceOf[AttributeReference])
              AlignedSides.orient(a, b, ls.out, rs.out).collect {
                case (lKey, rKey) if AlignedSides.alignablePair(
                    spark, ls.g, lKey, rs.g, rKey) => (e, lKey, rKey)
              }
            }.nextOption()
            // INNER hoists both sides' filters above the replacement;
            // LEFT OUTER hoists only the LEFT side's — the right's
            // must mine EXACTLY into the pre-join range window or the
            // rule leaves the planner's join in place. FULL OUTER
            // (r18) can hoist NEITHER side (each side's filter
            // defines that side BEFORE null-extension), so both must
            // mine exactly. `IS NOT NULL` on a dropped-at-scan join
            // key is consumable (ADVICE r17): leftouter's right scan
            // drops NULL keys, so InferFiltersFromConstraints'
            // planted conjunct must not bail the rewrite — but FULL
            // OUTER keeps NULL keys, so nothing is consumable there.
            val windows: Option[(Seq[(String, Any, Any)],
                Seq[(String, Any, Any)])] = choice.flatMap {
              case (_, _, rKey) =>
                val lw =
                  if (jt == FullOuter) RangeMining.exact(ls.filters)
                  else Some(RangeMining.relaxed(ls.filters))
                val rw = jt match {
                  case Inner => Some(RangeMining.relaxed(rs.filters))
                  case FullOuter => RangeMining.exact(rs.filters)
                  case _ => RangeMining.exact(rs.filters, Set(rKey))
                }
                lw.zip(rw)
            }
            choice match {
              case Some((eq, lKey, rKey)) if windows.isDefined =>
                val (leftRanges, rightRanges) = windows.get
                val residual = conjuncts.filterNot(_ eq eq)
                // any operator refusal the probe could not foresee
                // leaves the planner's join in place — the rewrite
                // must never turn a plannable query into an error
                // (logged once per tables@versions+shape: RewriteDiag)
                val alignedOpt = RewriteDiag.attempt(
                  s"join:${typeName(jt)}",
                  s"${RewriteDiag.tag(ls.g)}+${RewriteDiag.tag(rs.g)}")(
                  Snapshots.bucketAlignedJoin(spark,
                    ls.g.tableDir, rs.g.tableDir, lKey, rKey,
                    leftVersion = Some(ls.g.version),
                    rightVersion = Some(rs.g.version),
                    joinType = typeName(jt),
                    leftRanges = leftRanges,
                    rightRanges = rightRanges))
                if (alignedOpt.isEmpty) j else {
                val aligned = alignedOpt.get
                // the aligned output order is the JOIN's own: left
                // fields then right fields (leftouter's right
                // attributes nullable — the data carries NULLs for
                // unmatched rows, so the RDD must not claim
                // otherwise). Same exprIds as the relations'
                // attributes, so references above stay bound and the
                // pruned shape survives.
                val rddOut: Seq[Attribute] =
                  if (jt == LeftOuter)
                    ls.out ++ rs.out.map(_.withNullability(true))
                  else if (jt == FullOuter)
                    (ls.out ++ rs.out).map(_.withNullability(true))
                  else ls.out ++ rs.out
                val full = LogicalRDD(rddOut,
                  aligned.queryExecution.toRdd,
                  org.apache.spark.sql.catalyst.plans.physical
                    .UnknownPartitioning(0),
                  Nil, isStreaming = false, None)(
                  spark.asInstanceOf[
                    org.apache.spark.sql.classic.SparkSession],
                  None, None)
                // hoisted filters re-apply verbatim above (left side
                // for inner/leftouter; the right's too for INNER —
                // σ(A) ⋈ σ(B) ≡ σ(A ⋈ B) there), and so does the
                // condition's residual (INNER only — guarded above).
                // Exactly-mined windows consumed the rest: the outer
                // right side's, and BOTH sides' for full outer.
                val hoisted = (jt match {
                  case Inner => ls.filters ++ rs.filters
                  case FullOuter => Nil
                  case _ => ls.filters
                }) ++ residual
                val filtered = hoisted
                  .reduceOption(And).map(Filter(_, full)).getOrElse(full)
                if (j.output == full.output && hoisted.isEmpty) full
                else Project(j.output, filtered)
                }
              case _ => j
            }
          case _ => j
        }
    }
  }
}
