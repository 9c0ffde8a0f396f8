package graft.plans

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{Identifier, ViewCatalog}

/** Resolution rule that wires DSv2 `ViewCatalog` views into the analyzer.
  *
  * Spark 4.1 ships the `ViewCatalog` connector interface but nothing in
  * the stock analyzer ever calls `loadView` — catalogs that publish views
  * (Iceberg is the canonical case) each inject their own resolution rule,
  * and this is ours ([[graft.GraftExtensions]]): a 3-part identifier whose
  * head names a registered `ViewCatalog` is answered by parsing the
  * view's stored SQL and splicing it in as a subquery, with the view's
  * own catalog/namespace context qualifying any relative table names in
  * its body. Resolution of the spliced body then proceeds through the
  * NORMAL V2 path — pushdown, pruning and the rest of the scan machinery
  * see the view as if the consumer had written the masked query by hand
  * (q266: zero materialization, the projection fuses into the scan).
  */
class ResolveV2Views(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case u @ UnresolvedRelation(parts, _, false) if parts.length >= 3 =>
        substitute(parts).getOrElse(u)
    }

  private def substitute(parts: Seq[String]): Option[LogicalPlan] = {
    // only the LOOKUP is allowed to fail soft (an unknown catalog /
    // non-view identifier is simply not ours to resolve); once a view IS
    // found, a broken stored body must surface as its own error, not
    // degrade to TABLE_OR_VIEW_NOT_FOUND
    val viewOpt =
      try {
        GraftSqlBridge.catalog(spark, parts.head) match {
          case v: ViewCatalog =>
            val ident = Identifier.of(
              parts.slice(1, parts.length - 1).toArray, parts.last)
            if (v.viewExists(ident)) Some(v.loadView(ident)) else None
          case _ => None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    viewOpt.map { view =>
      val body = GraftSqlBridge.parsePlan(spark, view.query)
      // the body is spliced in AFTER the analyzer's Substitution batch
      // has run, so its own WITH clauses must be substituted here or
      // they would never resolve (and their names would be mistaken for
      // estate tables by the qualification below)
      val substituted =
        org.apache.spark.sql.catalyst.analysis.CTESubstitution(body)
      // the view body resolves relative names in ITS OWN context, not
      // the consumer's: qualify 1-/2-part relations — including those
      // inside expression subqueries — with the view's
      // currentCatalog/currentNamespace
      val qualified = substituted.transformUpWithSubqueries {
        case UnresolvedRelation(p, opts, streaming) if p.length < 3 =>
          val full =
            if (p.length == 1) view.currentCatalog +: (view.currentNamespace.toSeq ++ p)
            else view.currentCatalog +: p
          UnresolvedRelation(full, opts, streaming)
      }
      SubqueryAlias(parts.last, qualified)
    }
  }
}
