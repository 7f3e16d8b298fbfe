package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.ArrayType

/** Skeleton of the blocked theta-join rewrites: a naive theta-join, which
  * Spark can only execute as a broadcast-nested-loop / cartesian product,
  * becomes
  *
  *   Project(j.output, Join(keyed(L), keyed(R), keysL = keysR ∧ owner ∧ cond))
  *
  * where each side gains its block keys (an exploded key array, or one
  * scalar key), block-key equality is the new hash key, the OWNER conjunct
  * keeps exactly one copy of a pair that shares several blocks (the
  * reference-point duplicate test — no dedup shuffle, arbitrary payload
  * columns preserved), and the original condition (less a conjunct the key
  * equality implies) stays as the exact refinement: the naive join's rows.
  *
  * A rule fires only on an inner join whose condition has NO equi-join
  * conjunct between the sides (if one exists, Spark already has a hash key)
  * and whose blocked predicate splits into deterministic per-side
  * expressions. The guard also makes every rule idempotent: the rewritten
  * join carries a block-key equality. Subclasses supply the pattern match,
  * the key generator and the owner conjunct.
  *
  * Registered at session build via `spark.sql.extensions=graft.plans.GraftExtensions`
  * or injected into a live session with `GraftPlans.enable(spark)`.
  */
abstract class BlockedJoin extends Rule[LogicalPlan] with PredicateHelper {

  /** the rewritten join, if some conjunct of `j`'s condition is this rule's
    * blocked predicate */
  protected def rewrite(j: Join, conjuncts: Seq[Expression]): Option[LogicalPlan]

  final override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), _) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val equiKey = conjuncts.exists {
        case EqualTo(a, b)       => orient(a, b, left, right).isDefined
        case EqualNullSafe(a, b) => orient(a, b, left, right).isDefined
        case _                   => false
      }
      if (equiKey) j else rewrite(j, conjuncts).getOrElse(j)
  }

  protected def fromSide(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet) && e.deterministic

  /** (a, b) as (expression from left, expression from right), if they split
    * across the sides. */
  protected def orient(a: Expression, b: Expression, left: LogicalPlan,
                       right: LogicalPlan): Option[(Expression, Expression)] =
    if (fromSide(a, left) && fromSide(b, right)) Some((a, b))
    else if (fromSide(a, right) && fromSide(b, left)) Some((b, a))
    else None

  /** one row per element of the array `keys`, the element as `name` */
  protected def exploded(child: LogicalPlan, keys: Expression, name: String)
      : (LogicalPlan, Attribute) = {
    val attr = AttributeReference(name,
      keys.dataType.asInstanceOf[ArrayType].elementType, nullable = false)()
    (Generate(Explode(keys), unrequiredChildIndex = Nil, outer = false,
      qualifier = None, generatorOutput = Seq(attr), child = child), attr)
  }

  /** the scalar `key` appended to every row as `name` */
  protected def keyed(child: LogicalPlan, key: Expression, name: String)
      : (LogicalPlan, Attribute) = {
    val alias = Alias(key, name)()
    (Project(child.output :+ alias, child), alias.toAttribute)
  }

  /** `keys` pairs (left, right) as the hash key, then the owner conjunct,
    * then `residual`, what is left of `j`'s condition; `j`'s output only. */
  protected def assemble(j: Join, left: LogicalPlan, right: LogicalPlan,
                         keys: Seq[(Attribute, Attribute)], owner: Option[Expression],
                         residual: Seq[Expression]): LogicalPlan = {
    val cond = (keys.map { case (l, r) => EqualTo(l, r): Expression } ++ owner ++
      residual).reduce(And)
    Project(j.output, Join(left, right, Inner, Some(cond), j.hint))
  }
}

object BlockedJoin {
  val rules: Seq[BlockedJoin] =
    Seq(CoverJoinRewrite, DistanceJoinRewrite, HammingJoinRewrite, RangeJoinRewrite)
}

/** `spark.sql.extensions` entry point: registers the blocked-join rules in
  * the session optimizer and the `graft_*` SQL function surface at build time. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    BlockedJoin.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftFunctions.all.foreach(ext.injectFunction)
  }
}

/** Injection into a LIVE session (the driver owns session construction, so
  * queries can't pass `spark.sql.extensions`): appends the rules to the
  * experimental optimizer batch and registers the `graft_*` SQL functions,
  * idempotently. */
object GraftPlans {
  def enable(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    val add = BlockedJoin.rules.filterNot(cur.contains)
    if (add.nonEmpty)
      spark.experimental.extraOptimizations = cur ++ add
    org.apache.spark.sql.graft.FunctionBridge.register(spark, GraftFunctions.all)
  }
}
