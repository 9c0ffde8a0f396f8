package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  AttributeReference, EqualTo, NamedExpression}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Declared referential-integrity constraints for [[JoinElimination]].
  *
  * A constraint states: `factCol` is NON-NULL and every value appears
  * EXACTLY ONCE in the dimension's `dimKey` (the dimension identified by
  * its file path via [[ScanIdentity]], like [[MaterializedViews]]
  * identifies the base table — name-based matching would drop joins to
  * any column-superset relation).
  * Spark has no DDL surface for enforced FK/PK, so callers AUDIT the pair
  * before registering (q281 does: null-FK count, dangling-FK anti join,
  * dim-key uniqueness — declared constraints are verified, not trusted).
  */
object DeclaredConstraints {
  case class FkPk(factCol: String, dimCols: Set[String], dimKey: String,
                  dimPath: String)

  @volatile private var current: Seq[FkPk] = Seq.empty
  def register(c: FkPk): Unit = current = (current :+ c).distinct
  def clear(): Unit = current = Seq.empty
  def all: Seq[FkPk] = current
}

/** Optimizer rule: PK–FK JOIN ELIMINATION — the semantic-layer rewrite
  * behind every BI "wide view": an INNER equi-join to a dimension whose
  * columns nothing above uses is the identity on the fact side IFF the
  * declared RI holds (non-null FK, key-complete and key-unique dim), so
  * the join — and the whole dimension scan — is dropped. Queries written
  * against a convenience view joining every dimension pay only for the
  * tables they actually touch.
  *
  * Matches `Project` directly over `Join` (the shape column pruning
  * guarantees once the dimension's columns are unused), requires the
  * registered (factCol = dimKey) equi-condition and a bare dimension scan
  * (no Filter — a filtered dimension would make the join selective), and
  * leaves anything else untouched. Gated on
  * `spark.graft.ri.eliminate=true`, scoped by the caller. The fixed-point
  * optimizer batch cascades the rule through nested joins (a two-dim view
  * loses both joins one pass at a time).
  */
object JoinElimination extends Rule[LogicalPlan] {

  private def bareScan(p: LogicalPlan): Option[LogicalPlan] = p match {
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      bareScan(child)
    case leaf if leaf.children.isEmpty => Some(leaf)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString("spark.graft.ri.eliminate", "false") != "true") return plan
    val cs = DeclaredConstraints.all
    if (cs.isEmpty) return plan
    plan.transformUp {
      case Project(projList, Join(left, right, Inner, Some(cond), _))
          if eliminable(projList, left, right, cond, cs) =>
        Project(projList, left)
    }
  }

  private def eliminable(projList: Seq[NamedExpression], left: LogicalPlan,
                         right: LogicalPlan,
                         cond: org.apache.spark.sql.catalyst.expressions.Expression,
                         cs: Seq[DeclaredConstraints.FkPk]): Boolean = {
    // nothing above touches the dimension side
    if (projList.exists(_.references.exists(right.outputSet.contains))) return false
    val (fkAttr, pkAttr) = cond match {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        if (left.outputSet.contains(a) && right.outputSet.contains(b)) (a, b)
        else if (left.outputSet.contains(b) && right.outputSet.contains(a)) (b, a)
        else return false
      case _ => return false
    }
    bareScan(right).exists { dim =>
      // the dim side must be THE registered dimension — file-path identity
      // via ScanIdentity, not a column-name subset (which any superset
      // relation would satisfy and get its join silently dropped)
      val dimNames = dim.output.map(_.name).toSet
      val dimId = ScanIdentity.pathsOf(dim)
      cs.exists(c => c.factCol == fkAttr.name && c.dimKey == pkAttr.name &&
        dimId == Set(ScanIdentity.normalize(c.dimPath)) &&
        c.dimCols.subsetOf(dimNames))
    }
  }
}
