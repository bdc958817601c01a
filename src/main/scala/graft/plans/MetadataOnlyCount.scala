package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, Literal, NamedExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.{GraftRelation, Snapshots}

/** Catalyst optimizer rule: serve `SELECT COUNT(*)` over a graft
  * relation from the manifest ledger — zero file reads, zero Spark
  * jobs' worth of scan. The SQL-surface twin of
  * [[graft.sources.Snapshots.fastCount]] (u23): `fastCount` is an API
  * call; this makes the same O(manifest) answer automatic for every
  * `spark.sql("SELECT COUNT(*) FROM view")` and `df.count()` against
  * `format("graft")` — the lakehouse metadata-only-query optimization
  * re-expressed as a 40-line `Rule[LogicalPlan]` injected through
  * `SparkSessionExtensions` (the idiomatic Spark extension point; no
  * fork, no reflection).
  *
  * The rewrite fires ONLY when it is provably exact:
  *   - ungrouped Aggregate whose every output is a bare COUNT(*)
  *     (no DISTINCT, no FILTER clause, no other aggregates),
  *   - over the relation with nothing between them but aliases and
  *     projections (row-count-preserving by construction; a Filter
  *     blocks the rewrite),
  *   - and the pinned snapshot's manifest carries known row
  *     accounting (dataRows/dvRows ≥ 0 — the ledger the randomized
  *     protocol spec proves exact on every commit interleaving).
  * The relation pinned its version at creation, so the manifest is
  * immutable and the served count can never race a concurrent commit.
  */
case class MetadataOnlyCount(spark: SparkSession) extends Rule[LogicalPlan] {

  /** The graft relation under row-count-preserving wrappers, if any. */
  private def underlying(plan: LogicalPlan): Option[GraftRelation] = plan match {
    case SubqueryAlias(_, child) => underlying(child)
    case Project(_, child)       => underlying(child)
    case l: LogicalRelation =>
      l.relation match {
        case g: GraftRelation => Some(g)
        case _                => None
      }
    case _ => None
  }

  private def isBareCountStar(e: NamedExpression): Boolean = e match {
    case Alias(ae: AggregateExpression, _)
        if !ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        case Count(Seq(Literal(1, _))) => true
        case _                         => false
      }
    case _ => false
  }

  /** The graft relation under row-count-preserving wrappers plus at
    * most one Filter, tracked with the attribute name map: wrappers
    * may prune columns but must not compute (an attribute-only
    * Project keeps exprIds, so the Aggregate's references map
    * straight onto relation column names).
    */
  private def underlyingFiltered(plan: LogicalPlan)
      : Option[(GraftRelation, Seq[Attribute], Option[Expression])] =
    plan match {
      case SubqueryAlias(_, child) => underlyingFiltered(child)
      case Project(ps, child) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        underlyingFiltered(child)
      case Filter(cond, child) =>
        underlyingFiltered(child) match {
          case Some((g, out, None)) => Some((g, out, Some(cond)))
          case _ => None // two filters: conservatively bail
        }
      case l: LogicalRelation =>
        l.relation match {
          case g: GraftRelation => Some((g, l.output, None))
          case _                => None
        }
      case _ => None
    }

  /** The EXACT per-file constant for `name`, when the manifest pins
    * one: a min==max stat on a DECLARED PARTITION column, converted to
    * the column's Catalyst-internal representation. Restricted to
    * partition columns deliberately — they are non-null by
    * construction and path-derived, so min==max covers EVERY row of
    * the file. A plain footer stat with min==max does NOT: parquet
    * min/max ignore NULLs, so a file holding {42, NULL} reads as a
    * "constant 42" and would misattribute the NULL row's count.
    * None = not a partition constant → the rewrite bails, the scan
    * path answers.
    */
  private def fileConstant(m: Snapshots.Manifest, rel: String,
                           name: String, dt: DataType): Option[Any] =
    (if (m.partitionCols.contains(name)) m.stats.get((rel, name)) else None)
      .filter(st => st.min == st.max).flatMap { st =>
      (st.kind, dt) match {
        case ("long", ByteType)    => Some(st.min.toByte)
        case ("long", ShortType)   => Some(st.min.toShort)
        case ("long", IntegerType) => Some(st.min.toInt)
        case ("long", LongType)    => Some(st.min.toLong)
        case ("long", DateType)    => Some(st.min.toInt) // epoch days
        case ("string", StringType) => Some(UTF8String.fromString(st.min))
        case _ => None
      }
    }

  /** Grouped/filtered metadata count: every live file's contribution
    * to every group is decidable from the manifest alone — per-file
    * row counts (`fileRows`) plus per-file CONSTANT values for each
    * referenced column (partition stats). Returns the output rows, or
    * None when any file is undecidable (missing or non-constant stat,
    * masked rows present, unevaluable predicate) —
    * the scan path then answers exactly.
    */
  private def metadataGroups(g: GraftRelation, relOut: Seq[Attribute],
                             groupAttrs: Seq[Attribute],
                             cond: Option[Expression]): Option[Seq[(Seq[Any], Long)]] = {
    val m = g.manifestSnapshot
    // deletion vectors mask unknown per-file/per-group rows: bail
    if (m.dvs.nonEmpty) return None
    val byId = relOut.map(a => a.exprId -> a.name).toMap
    val condAttrs = cond.toSeq.flatMap(_.references.toSeq)
    if (cond.exists(c => !c.deterministic ||
        c.exists(_.isInstanceOf[SubqueryExpression]))) return None
    if (condAttrs.exists(a => !byId.contains(a.exprId)) ||
        groupAttrs.exists(a => !byId.contains(a.exprId))) return None
    val groups = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Long]
    for (rel <- m.files) {
      // every referenced column must be a per-file constant
      val condVals: Option[Map[Attribute, Any]] =
        condAttrs.foldLeft(Option(Map.empty[Attribute, Any])) {
          case (acc, a) => acc.flatMap(mm =>
            fileConstant(m, rel, byId(a.exprId), a.dataType).map(v => mm + (a -> v)))
        }
      val keep: Option[Boolean] = condVals.flatMap { vals =>
        cond match {
          case None => Some(true)
          case Some(c) =>
            val lit = c.transform {
              case a: AttributeReference if vals.contains(a) =>
                Literal(vals(a), a.dataType)
            }
            // all leaves are literals now; a NULL result filters out
            try Some(java.lang.Boolean.TRUE == lit.eval(InternalRow.empty))
            catch { case _: Exception => None }
        }
      }
      keep match {
        case None => return None // undecidable file: bail entirely
        case Some(false) => ()
        case Some(true) =>
          val key: Option[Seq[Any]] =
            groupAttrs.foldLeft(Option(Seq.empty[Any])) {
              case (acc, a) => acc.flatMap(ks =>
                fileConstant(m, rel, byId(a.exprId), a.dataType).map(ks :+ _))
            }
          key match {
            case None => return None
            case Some(k) =>
              groups(k) = groups.getOrElse(k, 0L) + m.fileRows(rel)
          }
      }
    }
    Some(groups.toSeq)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // ungrouped, unfiltered COUNT(*): the ledger answers even with
    // deletion vectors present (dvRows is exact accounting)
    case agg: Aggregate
        if agg.groupingExpressions.isEmpty &&
          agg.aggregateExpressions.nonEmpty &&
          agg.aggregateExpressions.forall(isBareCountStar) =>
      underlying(agg.child).map(_.ledgerCount) match {
        case Some(n) =>
          LocalRelation(agg.output,
            Seq(InternalRow.fromSeq(agg.output.map(_ => n))))
        case None =>
          // filtered total: decidable when the predicate touches only
          // per-file constants (partition columns)
          rewriteFromMetadata(agg).getOrElse(agg)
      }
    // grouped count / filtered count over per-file-constant columns
    // (partition columns): COUNT(*) GROUP BY p and COUNT(*) WHERE
    // p = v answer from fileRows × partition stats, zero file reads
    case agg: Aggregate
        if agg.aggregateExpressions.nonEmpty &&
          agg.groupingExpressions.forall(_.isInstanceOf[Attribute]) &&
          agg.aggregateExpressions.forall(e => isBareCountStar(e) ||
            (e.isInstanceOf[Attribute] &&
              agg.groupingExpressions.contains(e))) &&
          agg.aggregateExpressions.exists(isBareCountStar) =>
      rewriteFromMetadata(agg).getOrElse(agg)
  }

  /** Shared rewrite: Aggregate(groups ⊆ per-file constants,
    * output = group attrs + COUNT(*) aliases) [over Filter on the
    * same] → LocalRelation with one row per group.
    */
  private def rewriteFromMetadata(agg: Aggregate): Option[LogicalPlan] = {
    val groupAttrs = agg.groupingExpressions.collect { case a: Attribute => a }
    if (groupAttrs.size != agg.groupingExpressions.size) return None
    if (!agg.aggregateExpressions.forall(e => isBareCountStar(e) ||
        (e.isInstanceOf[Attribute] && groupAttrs.contains(e)))) return None
    underlyingFiltered(agg.child).flatMap { case (g, relOut, cond) =>
      metadataGroups(g, relOut, groupAttrs, cond).map { rows0 =>
        // an UNGROUPED aggregate over zero surviving files still
        // returns one row: COUNT(*) = 0 (grouped returns no rows)
        val rows =
          if (rows0.isEmpty && groupAttrs.isEmpty) Seq((Seq.empty[Any], 0L))
          else rows0
        val out = rows.map { case (key, n) =>
          val byAttr = groupAttrs.zip(key).toMap
          InternalRow.fromSeq(agg.aggregateExpressions.map {
            case a: Attribute => byAttr(a)
            case _ => n // the COUNT(*) alias
          })
        }
        LocalRelation(agg.output, out)
      }
    }
  }
}
