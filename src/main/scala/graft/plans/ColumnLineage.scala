package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, ExprId, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Column-level lineage extracted from an ANALYZED logical plan — the
  * governance answer to "which source columns feed this output column?"
  * (impact analysis before a schema change, PII propagation audits — the
  * question GDPR reviews ask of every derived table; reference analog:
  * knowing which scraped page field each saved CSV column came from).
  *
  * The walk exploits Catalyst's attribute identity: only FOUR node kinds
  * mint new attributes in an analyzed plan — [[Project]], [[Aggregate]],
  * [[Window]], [[Generate]] (plus [[Union]], which re-keys by position) —
  * every other operator (Filter, Join, Sort, SubqueryAlias, Limit, …)
  * passes its children's attributes through BY [[ExprId]]. So one
  * bottom-up fold over the plan, unioning the transitive source sets at
  * exactly those minting points, resolves every output attribute to leaf
  * (table, column) pairs. Window lineage deliberately includes partition/
  * order keys (they determine the value, not just the frame); a
  * reference-free expression (count(*), a literal column) yields the
  * empty set — no lineage row, by design.
  *
  * Cost: O(plan size) DRIVER-side metadata work — the data is never
  * touched, so auditing the lineage of a query over 100 TB costs the
  * same as over 100 rows.
  */
object ColumnLineage {

  /** (output column, source table, source column) rows for the frame's
    * analyzed plan, sorted for deterministic presentation.
    */
  def lineage(df: DataFrame): Seq[(String, String, String)] = {
    val plan = df.queryExecution.analyzed
    val m = build(plan)
    plan.output.flatMap { a =>
      m.getOrElse(a.exprId, Set.empty[(String, String)]).toSeq
        .map { case (t, c) => (a.name, t, c) }
    }.distinct.sorted
  }

  private type Sources = Map[ExprId, Set[(String, String)]]

  private def refsOf(e: Expression, m: Sources): Set[(String, String)] =
    e.references.toSeq.flatMap(a => m.getOrElse(a.exprId, Set.empty)).toSet

  private def mint(nes: Seq[NamedExpression], m: Sources): Sources =
    m ++ nes.map(ne => ne.exprId -> refsOf(ne, m))

  /** The table identity of a leaf: the file source's root path basename
    * (minus extension) for the v1 path, the catalog name for DSv2.
    */
  private def tableOf(leaf: LogicalPlan): String = leaf match {
    case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
      h.location.rootPaths.headOption
        .map(_.getName.replaceAll("\\.[A-Za-z0-9]+$", ""))
        .getOrElse("unknown")
    case r: DataSourceV2Relation => r.table.name()
    case _: LocalRelation => "inline"
    case other => other.nodeName.toLowerCase
  }

  private def build(p: LogicalPlan): Sources = {
    val fromChildren: Sources =
      p.children.map(build).foldLeft(Map.empty: Sources)(_ ++ _)
    p match {
      case leaf: LeafNode =>
        val t = tableOf(leaf)
        leaf.output.map(a => a.exprId -> Set(t -> a.name)).toMap
      case Project(pl, _) => mint(pl, fromChildren)
      case Aggregate(_, aggs, _, _) => mint(aggs, fromChildren)
      case w: Window => mint(w.windowExpressions, fromChildren)
      case g: Generate =>
        val gen = refsOf(g.generator, fromChildren)
        fromChildren ++ g.generatorOutput.map(a => a.exprId -> gen)
      case u: Union =>
        fromChildren ++ u.output.zipWithIndex.map { case (a, i) =>
          a.exprId -> u.children.flatMap(ch =>
            fromChildren.getOrElse(ch.output(i).exprId,
              Set.empty[(String, String)])).toSet
        }
      case _ => fromChildren
    }
  }

  /** Lineage rows of several named frames as one relation — the shape the
    * q365 audit lands in the catalog.
    */
  def table(frames: Seq[(String, DataFrame)]): Seq[(String, String, String, String)] =
    frames.flatMap { case (name, df) =>
      lineage(df).map { case (o, t, c) => (name, o, t, c) }
    }.sorted
}
