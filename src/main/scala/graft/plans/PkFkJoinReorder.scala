package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** PK-FK-aware join reordering — the Spark rendition of the reference's
  * "Optimize PK-FK Join" batch (MarkJoinIntegrityConstraintProperty +
  * OptimizePKFKJoin, optimization/rules/mark.scala:83, join.scala:88-222).
  *
  * Spark has no primary-key concept, so keys live in a registry scoped to
  * the rule's SparkSession, written by [[PkFkJoinReorder.registerPrimaryKey]]
  * (column-name based, mirroring the reference's catalog-level
  * `primaryKeys`, catalog/interface.scala:102): clearing one session's keys
  * never touches another's, even a `newSession()` sibling. The rule
  * flattens a tree of condition-bearing inner joins, then greedily rebuilds
  * it left-deep: starting from the largest relation (stats), always
  * preferring an edge whose join keys are a registered primary key of the
  * attached side — a PK side can only preserve-or-shrink the running result
  * (each row matches ≤ 1 PK row), while FK-FK edges can amplify.
  *
  * Conservative by design: only complete conjunctions of attribute
  * equalities over Inner joins with no hints are touched; anything else is
  * left to Catalyst untouched.
  */
object PkFkJoinReorder {

  // table -> primary-key columns, one map per session; weak keys, so a
  // registry is dropped with its session
  private val registries =
    new java.util.WeakHashMap[SparkSession, TrieMap[String, Seq[String]]]()

  private def keysOf(s: SparkSession): TrieMap[String, Seq[String]] =
    registries.synchronized { registries.computeIfAbsent(s, _ => TrieMap.empty) }

  /** Add the rule to `s`'s optimizer (idempotent). */
  def install(s: SparkSession): Unit =
    if (!s.experimental.extraOptimizations.contains(PkFkJoinReorder(s)))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ PkFkJoinReorder(s)

  def registerPrimaryKey(s: SparkSession, table: String, cols: Seq[String]): Unit =
    keysOf(s).put(table, cols): Unit

  def primaryKeyOf(s: SparkSession, table: String): Option[Seq[String]] =
    keysOf(s).get(table)

  def clear(s: SparkSession): Unit = keysOf(s).clear()
}

final case class PkFkJoinReorder(session: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  private def primaryKeys = PkFkJoinReorder.keysOf(session)

  private def isPk(attrs: Seq[Attribute]): Boolean = {
    val names = attrs.map(_.name.toLowerCase).toSet
    primaryKeys.values.exists(_.map(_.toLowerCase).toSet == names)
  }

  /** flatten left-deep/bushy inner-join trees into (relations, equi conds).
    * Attribute-only Projects (column pruning inserted by the main optimizer
    * batches) are looked through — their effect is re-derived by
    * [[pruned]] after reordering.
    */
  private def flatten(plan: LogicalPlan): (Seq[LogicalPlan], Seq[Expression], Boolean) = plan match {
    case Join(l, r, Inner, Some(cond), hint) if hint == JoinHint.NONE =>
      val (lRels, lConds, lOk) = flatten(l)
      val (rRels, rConds, rOk) = flatten(r)
      (lRels ++ rRels, lConds ++ rConds ++ splitConjunctivePredicates(cond), lOk && rOk)
    case Project(projectList, child) if projectList.forall(_.isInstanceOf[Attribute]) &&
        child.isInstanceOf[Join] =>
      flatten(child)
    case other => (Seq(other), Nil, true)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (primaryKeys.isEmpty) return plan
    plan.transformDown {
      case j @ Join(_, _, Inner, Some(_), hint) if hint == JoinHint.NONE =>
        val (rels, conds, ok) = flatten(j)
        if (!ok || rels.size < 3 || rels.size > 10) j
        else if (!conds.forall {
          case EqualTo(_: Attribute, _: Attribute) => true
          case _ => false
        }) j
        else reorder(rels, conds.map(_.asInstanceOf[EqualTo]), j.outputSet.toSeq)
          // a reordered join emits the same attribute SET in a different
          // ORDER; restore the original order for parents that care
          .map(nj => Project(j.output, nj)).getOrElse(j)
    }
  }

  private def reorder(rels0: Seq[LogicalPlan], conds: Seq[EqualTo],
      requiredOut: Seq[Attribute]): Option[LogicalPlan] = {
    // re-derive column pruning lost by looking through Projects: each
    // relation only carries attrs used in a condition or in the final output
    val needed = (requiredOut ++ conds.flatMap(c => Seq(c.left, c.right))).collect {
      case a: Attribute => a.exprId
    }.toSet
    val rels = rels0.map { r =>
      val keep = r.output.filter(a => needed.contains(a.exprId))
      if (keep.size == r.output.size || keep.isEmpty) r else Project(keep, r)
    }
    // map each condition to the pair of relation indices it connects
    def relOf(a: Attribute): Option[Int] =
      rels.indices.find(i => rels(i).outputSet.contains(a))

    val edges = conds.flatMap { c =>
      (c.left, c.right) match {
        case (a: Attribute, b: Attribute) =>
          for { ra <- relOf(a); rb <- relOf(b); if ra != rb } yield (ra, rb, c)
        case _ => None
      }
    }
    if (edges.size != conds.size) return None // a condition we can't place

    // group conditions per relation pair; identify PK sides by key-name sets
    val byPair = edges.groupBy { case (a, b, _) => if (a < b) (a, b) else (b, a) }

    // this rule's mandate is PK-FK ordering: when NO edge touches a
    // registered primary key there is nothing it knows that Catalyst's own
    // cost-based ordering doesn't — and a size-only greedy rewrite of (say)
    // a pattern query joining one edge table to itself N times is all ties,
    // where any instability in tie-breaking makes the fixed-point batch
    // oscillate, growing the plan each iteration until traversal overflows
    // the stack. Leave those plans alone entirely.

    def pkSide(pair: ((Int, Int), Seq[(Int, Int, EqualTo)])): Option[Int] = {
      val ((ra, rb), es) = pair
      // align each condition's attributes to the relation that owns them
      val (ofA, ofB) = es.foldLeft((Seq.empty[Attribute], Seq.empty[Attribute])) {
        case ((as, bs), (_, _, c)) =>
          val l = c.left.asInstanceOf[Attribute]; val r = c.right.asInstanceOf[Attribute]
          if (rels(ra).outputSet.contains(l)) (as :+ l, bs :+ r) else (as :+ r, bs :+ l)
      }
      if (isPk(ofA)) Some(ra) else if (isPk(ofB)) Some(rb) else None
    }
    if (!byPair.exists(p => pkSide(p).isDefined)) return None

    val sizes = rels.map(r => r.stats.sizeInBytes)
    val start = sizes.zipWithIndex.maxBy(_._1)._2

    val joined = scala.collection.mutable.Set(start)
    val attachOrder = scala.collection.mutable.ArrayBuffer(start)
    val remainingConds = scala.collection.mutable.ArrayBuffer(conds: _*)
    var current: LogicalPlan = rels(start)

    while (joined.size < rels.size) {
      // connected candidates: pairs with exactly one endpoint joined
      val cands = byPair.filter { case ((a, b), _) => joined(a) ^ joined(b) }
      if (cands.isEmpty) return None // disconnected (cross join somewhere): leave alone
      // prefer: PK on the new side; then smaller new side; then the lowest
      // relation index — a TOTAL order, so ties cannot fall back to Map
      // iteration order and flip between fixed-point iterations (the
      // oscillation that grew plans unboundedly)
      val pick = cands.toSeq.sortBy { case (pair @ ((a, b)), es) =>
        val newSide = if (joined(a)) b else a
        val pkNew = pkSide((pair, es)).contains(newSide)
        (if (pkNew) 0 else 1, sizes(newSide), newSide)
      }.head
      val newIdx = if (joined(pick._1._1)) pick._1._2 else pick._1._1
      joined += newIdx
      attachOrder += newIdx
      // all conditions now placeable (both endpoints joined)
      val (placeable, rest) = remainingConds.partition { c =>
        val l = c.left.asInstanceOf[Attribute]; val r = c.right.asInstanceOf[Attribute]
        val li = relOf(l).get; val ri = relOf(r).get
        joined(li) && joined(ri)
      }
      remainingConds.clear(); remainingConds ++= rest
      val cond = placeable.reduceOption[Expression](And)
      current = Join(current, rels(newIdx), Inner, cond, JoinHint.NONE)
    }
    if (remainingConds.nonEmpty) None
    // idempotence: the flattened sequence IS the current left-deep order; if
    // greedy picked exactly that, leave the plan alone (the rule runs in a
    // fixed-point batch and must not rewrite its own output forever).
    else if (attachOrder.toSeq == rels.indices.toSeq) None
    else Some(current)
  }
}

/** SparkSessionExtensions installer:
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or config
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(PkFkJoinReorder(_))
    e.injectPlannerStrategy(_ => graft.wcoj.WcojStrategy)
  }
}
