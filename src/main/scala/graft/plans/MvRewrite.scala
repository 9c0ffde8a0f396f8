package graft.plans

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{
  Alias, AttributeReference, Cast, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Materialized-view registry for [[MvRewrite]] — one summary table at a
  * time (the demo scope; a production registry holds many and picks the
  * cheapest covering view).
  *
  * A registered MV declares its grouping dimensions, a measure map from
  * base-side aggregate shapes to MV columns (key = `fn:column:castType`,
  * the canonical spelling [[MvRewrite]] derives from a plan), the column
  * names that identify the BASE table's scan, and the MV's parquet path.
  */
object MaterializedViews {
  case class MvDef(dims: Set[String], measures: Map[String, String],
                   baseCols: Set[String], path: String, basePath: String)

  @volatile private var current: Option[MvDef] = None
  def register(mv: MvDef): Unit = current = Some(mv)
  def clear(): Unit = current = None
  def get: Option[MvDef] = current
}

/** Optimizer rule: AGGREGATE NAVIGATION onto a materialized view — the
  * classic OLAP rewrite. An `Aggregate` whose grouping keys are a subset
  * of a registered MV's dimensions and whose aggregate functions are all
  * derivable from the MV's measures (`count(*)` → `sum(cnt)`,
  * `sum(x)` → `sum(sum_x)`, `min/max(x)` → `min/max(min_x/max_x)`) is
  * re-targeted from the base scan to the MV scan: a 100 TB fact rollup
  * becomes a read of a few thousand summary rows, with NO change to user
  * SQL. Decimal sums keep the `Exact` discipline — re-aggregating partial
  * decimal sums is associative, so the rewrite is bit-identical to the
  * direct plan (the q280 oracle hash-checks exactly that).
  *
  * Guards, deliberately narrow:
  *   - gated on `spark.graft.mv.rewrite=true` (scoped by the caller, the
  *     way q258 scopes CBO confs) so no other query's plan ever shifts;
  *   - the child must be THE base scan — identified by its file path via
  *     [[ScanIdentity]], not by column names (a name-subset test would
  *     silently retarget any lineitem-derived parquet or the bucketed
  *     twin) — under column-pruning Projects only; any Filter present and
  *     the rewrite is off (a filtered rollup is not derivable from
  *     totals);
  *   - GLOBAL aggregates (empty grouping list) are refused: over an empty
  *     base, `count(*)` returns one row of 0 but `sum(cnt)` over an empty
  *     MV returns NULL — the grouped shapes have no such edge (no groups
  *     → no rows on both paths);
  *   - every aggregate must map (no distinct, no agg filter), every
  *     grouping key must be an MV dimension — one miss and the plan is
  *     left untouched;
  *   - rewritten aggregates are Cast back to their original types and
  *     keep their original exprIds, so parents resolve unchanged.
  */
object MvRewrite extends Rule[LogicalPlan] {

  /** Canonical measure key of an aggregate input: bare attr or Cast(attr). */
  private def keyOf(fn: String, e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(s"$fn:${a.name}:_")
    case c: Cast => c.child match {
      case a: AttributeReference => Some(s"$fn:${a.name}:${c.dataType.simpleString}")
      case _ => None
    }
    case _ => None
  }

  /** Strip column-pruning Projects; Some(leaf) only if nothing else sits
    * between the Aggregate and the scan.
    */
  private def bareScan(p: LogicalPlan): Option[LogicalPlan] = p match {
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      bareScan(child)
    case leaf if leaf.children.isEmpty => Some(leaf)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString("spark.graft.mv.rewrite", "false") != "true") return plan
    val mvDef = MaterializedViews.get.getOrElse(return plan)
    val baseId = Set(ScanIdentity.normalize(mvDef.basePath))
    plan.transformUp {
      case agg @ Aggregate(groupings, results, child, _)
          if groupings.nonEmpty &&
            bareScan(child).exists(l =>
              ScanIdentity.pathsOf(l) == baseId &&
                mvDef.baseCols.subsetOf(l.output.map(_.name).toSet)) &&
            groupings.forall {
              case a: AttributeReference => mvDef.dims.contains(a.name)
              case _ => false
            } =>
        rewrite(agg, groupings, results, mvDef).getOrElse(agg)
    }
  }

  private def rewrite(agg: Aggregate, groupings: Seq[Expression],
                      results: Seq[NamedExpression],
                      mvDef: MaterializedViews.MvDef): Option[LogicalPlan] = {
    val mvPlan = Tables.parquet(SparkSession.active, mvDef.path)
      .queryExecution.analyzed
    val mvAttr = mvPlan.output.map(a => a.name -> a).toMap
    val mvOut = mvPlan.outputSet
    var ok = true
    def mapAgg(ae: AggregateExpression): Expression = {
      // transformDown re-visits the replacement's children: an aggregate
      // already re-targeted at MV columns is done, not a failure (the
      // nonEmpty guard keeps reference-free originals like count(1) in
      // the mapping path)
      if (ae.references.nonEmpty && ae.references.subsetOf(mvOut)) return ae
      if (ae.isDistinct || ae.filter.isDefined) { ok = false; return ae }
      val mapped = ae.aggregateFunction match {
        case Count(Seq(_: Literal)) =>
          mvDef.measures.get("count").flatMap(mvAttr.get).map(c => ae.copy(
            aggregateFunction = Sum(c)))
        case Sum(e, _) => keyOf("sum", e).flatMap(mvDef.measures.get)
          .flatMap(mvAttr.get).map(c => ae.copy(aggregateFunction = Sum(c)))
        case Min(e) => keyOf("min", e).flatMap(mvDef.measures.get)
          .flatMap(mvAttr.get).map(c => ae.copy(aggregateFunction = Min(c)))
        case Max(e) => keyOf("max", e).flatMap(mvDef.measures.get)
          .flatMap(mvAttr.get).map(c => ae.copy(aggregateFunction = Max(c)))
        case _ => None
      }
      mapped match {
        case Some(na) =>
          if (na.dataType == ae.dataType) na else Cast(na, ae.dataType)
        case None => ok = false; ae
      }
    }
    val newResults = results.map { ne =>
      ne.transformDown {
        case ae: AggregateExpression => mapAgg(ae)
        case a: AttributeReference if mvDef.dims.contains(a.name) =>
          mvAttr.getOrElse(a.name, { ok = false; a })
      }.asInstanceOf[NamedExpression]
    }
    // every output keeps its exprId: grouping attrs were replaced in place
    // inside their parent expressions; bare grouping outputs need an Alias
    // carrying the ORIGINAL id
    val stable = newResults.zip(results).map {
      case (n: AttributeReference, o: AttributeReference) if n.exprId != o.exprId =>
        Alias(n, o.name)(exprId = o.exprId)
      case (n, _) => n
    }
    val newGroupings = groupings.map {
      case a: AttributeReference => mvAttr.getOrElse(a.name, { ok = false; a })
      case e => e
    }
    if (ok) Some(Aggregate(newGroupings, stable, mvPlan)) else None
  }
}
