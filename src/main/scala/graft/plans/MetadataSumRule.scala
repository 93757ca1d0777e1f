package graft.plans

import graft.sources.{GridPlanIndex, GridTable, ZoneMapPruning}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, AttributeReference, Cast, Coalesce, Divide, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftinterop.FilterInterop
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Global SUM(var) / AVG(var) over a grid answered from per-chunk value
  * sums (AVG = metadata sums over metadata row counts, the canonical
  * "climatology mean over a range" shape) — the
  * partial-aggregate sibling of [[MetadataCountRule]] (SURVEY §2A A4/A9
  * beyond the reference: the reference keeps no value statistics at
  * all, reader.py:279-335 prunes on dim bounds only).
  *
  * A store that records chunk sums at write time (the Zarr writers'
  * `.graft-stats.json` sidecar, [[graft.grid.ChunkStats.chunkSum]]) can
  * answer `SUM(var) [WHERE dim-predicates]` without opening any chunk
  * that falls provably inside the predicate region: the included
  * chunks contribute their metadata sums, and the scan is restricted
  * to the straddling (boundary) chunks alone. At
  * 100 TB, a zonal total over a large space/time range reads only the
  * boundary chunks of the range — O(surface) instead of O(volume)
  * I/O, the same asymptotics the metadata COUNT rewrite gets.
  *
  * Soundness gates, all conservative:
  *   - only DATA VARIABLES of float/double kind (Spark's SUM output is
  *     DoubleType, matching the folded constant's type);
  *   - chunks with any non-finite value carry no metadata sum (the
  *     store's varSums contract), so they fall into the boundary scan
  *     and NaN/Inf propagate through the real aggregate;
  *   - a non-translatable predicate, a data-variable reference in the
  *     predicate that zone maps cannot fully decide, DISTINCT, an
  *     aggregate FILTER clause, or grouping keys all bail to the
  *     normal pruned scan;
  *   - when the filter excludes every chunk the rewrite yields NULL
  *     (SUM over zero rows), not 0.
  *
  * Like any distributed SUM, the result fixes one accumulation order;
  * metadata sums use write-time C-order per chunk, bit-identical to a
  * sequential read of the same chunk.
  */
case class MetadataSumRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg: Aggregate if agg.groupingExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 =>
      (agg.aggregateExpressions.head match {
        case a @ Alias(ae: AggregateExpression, _) =>
          matchAgg(ae).flatMap { case (attr, isAvg) =>
            rewrite(agg, a, ae, attr, isAvg) }
        case _ => None
      }).getOrElse(agg)
  }

  /** The aggregated column (and whether the aggregate is AVG) when this
    * is a plain SUM/AVG over a float/double attribute (no DISTINCT, no
    * FILTER clause).
    */
  private def matchAgg(
      ae: AggregateExpression): Option[(AttributeReference, Boolean)] =
    if (ae.isDistinct || ae.filter.isDefined) None
    else ae.aggregateFunction match {
      case Sum(attr: AttributeReference, _)
        if attr.dataType == DoubleType || attr.dataType == FloatType =>
        Some((attr, false))
      case Average(attr: AttributeReference, _)
        if attr.dataType == DoubleType || attr.dataType == FloatType =>
        Some((attr, true))
      case _ => None
    }

  private def stripProjects(p: LogicalPlan): LogicalPlan = p match {
    // only column-pruning projects are safe to look through; a Project
    // that computes the summed column would change its meaning, but then
    // the summed attr would not resolve to a store variable below
    case Project(_, c) => stripProjects(c)
    case other => other
  }

  private def rewrite(agg: Aggregate, alias: Alias,
      ae: AggregateExpression,
      attr: AttributeReference, isAvg: Boolean): Option[LogicalPlan] = {
    val (cond, relPlan) = stripProjects(agg.child) match {
      case Filter(c, rest) => (Some(c), stripProjects(rest))
      case other => (None, other)
    }
    relPlan match {
      case rel: DataSourceV2Relation =>
        rel.table match {
          case gt: GridTable if gt.onlyBlocks.isEmpty =>
            val schema = gt.store.schema
            val groupVars = schema.vars.filter(_.dims == gt.groupDims)
            if (!groupVars.exists(_.name == attr.name)) return None
            val translated = cond.map(FilterInterop.translate)
            if (translated.exists(_.isEmpty)) return None // untranslatable
            val f = translated.flatten
            val pidx = new GridPlanIndex(gt.store, gt.groupDims,
              gt.chunks, groupVars, Nil)
            val refVars = groupVars.filter(v =>
              f.exists(_.references.contains(v.name)))
            var total = 0.0
            var rows = 0L // row count behind the metadata sums
            var includedBlocks = 0L
            val boundary = Seq.newBuilder[Seq[(Int, Int)]]
            pidx.allBlockIdx.foreach { ci =>
              // tri-state: None = excluded, Some(true) = fully included,
              // Some(false) = straddles the predicate boundary
              val verdict: Option[Boolean] = f match {
                case None => Some(true)
                case Some(flt) =>
                  val bounds = pidx.boundsMap(ci, refVars)
                  if (ZoneMapPruning.excludes(flt, bounds)) None
                  else Some(ZoneMapPruning.includes(flt, bounds))
              }
              verdict match {
                case None => () // excluded: contributes nothing
                case Some(true) =>
                  gt.store.varSums(attr.name, pidx.slices(ci)) match {
                    case Some(s) =>
                      total += s; rows += pidx.fullRows(ci)
                      includedBlocks += 1
                    case None => boundary += pidx.slices(ci)
                  }
                case Some(false) => boundary += pidx.slices(ci)
              }
            }
            val bnd = boundary.result()
            if (bnd.isEmpty) {
              // fully metadata-decidable; zero included rows => NULL
              // (AVG divides the metadata sums by the exact metadata
              // row count — the same one final double division the
              // normal Average evaluator performs)
              val v: Any =
                if (includedBlocks == 0) null
                else if (isAvg) total / rows.toDouble
                else total
              Some(LocalRelation(Seq(alias.toAttribute),
                Seq(new GenericInternalRow(Array[Any](v)): InternalRow)))
            } else if (includedBlocks > 0) {
              // metadata sums for included chunks + a real aggregate
              // over ONLY the boundary chunks; COALESCE because an
              // empty boundary result must not null out the metadata
              // part. For AVG the boundary contributes (sum, count)
              // partials and ONE final division combines them with the
              // metadata partials — the evaluator's own shape.
              val restricted = rel.copy(table = gt.restrictedTo(bnd))
              val innerChild =
                cond.map(Filter(_, restricted)).getOrElse(restricted)
              if (!isAvg) {
                val inner = Alias(ae, "boundary_sum")()
                Some(Project(Seq(Alias(
                  Add(Coalesce(Seq(inner.toAttribute,
                    Literal(0.0, DoubleType))), Literal(total, DoubleType)),
                  alias.name)(exprId = alias.exprId)),
                  Aggregate(Nil, Seq(inner), innerChild)))
              } else {
                val bSum = Alias(AggregateExpression(Sum(attr),
                  Complete, isDistinct = false), "boundary_sum")()
                // Count(attr), not Count(*): exactly Average's non-null
                // semantics (grid values are non-null by construction,
                // but stay aligned with the evaluator regardless)
                val bCnt = Alias(AggregateExpression(Count(Seq(attr)),
                  Complete, isDistinct = false), "boundary_cnt")()
                Some(Project(Seq(Alias(Divide(
                  Add(Coalesce(Seq(bSum.toAttribute,
                    Literal(0.0, DoubleType))), Literal(total, DoubleType)),
                  Cast(Add(bCnt.toAttribute, Literal(rows)), DoubleType)),
                  alias.name)(exprId = alias.exprId)),
                  Aggregate(Nil, Seq(bSum, bCnt), innerChild)))
              }
            } else None // nothing saved: keep the normal pruned scan
          case _ => None
        }
      case _ => None
    }
  }
}
