package graft

import graft.functions.expressions.{DotProduct, PolyHash}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions registration: exposes the engine's native
  * expressions to SQL (`SELECT graft_dot(a, b)`, `graft_poly_hash(s)`)
  * and injects the engine's optimizer pass
  * ([[graft.plans.CollapseIdempotent]]) — together the analog of the
  * reference's custom-op registration + graph-rewriting surface
  * (reference: hybridbackend/tensorflow/framework/view.py OperationLike,
  * framework/rewriting.py GraphRewriting; SURVEY §2.12). Activate with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // FIRST among the engine's optimizer rules: the materialized-join
    // match wants the join subtree as authored (pruned by the standard
    // batch, but not yet reshaped by EagerAggregation)
    e.injectOptimizerRule(graft.plans.RewriteMaterializedJoin(_))
    // after the join rewrite (aggregate shapes are matched as
    // authored), before EagerAggregation (whose inserted semi-probe
    // DISTINCT the rollup's key-set form also serves — the two rules
    // compose in either firing order)
    e.injectOptimizerRule(graft.plans.RewriteMaterializedAgg(_))
    e.injectOptimizerRule(_ => graft.plans.CollapseIdempotent)
    e.injectOptimizerRule(graft.plans.EagerAggregation(_))
    // post-hoc resolution, NOT optimizer: must run before ColumnPruning
    // hides the stored column (see the rule's scaladoc)
    e.injectPostHocResolutionRule(_ => graft.plans.RewriteStoredCents)
    def arity(name: String, n: Int)(args: Seq[Expression]): Unit =
      if (args.length != n) throw new IllegalArgumentException(
        s"$name requires exactly $n argument(s), got ${args.length}")
    e.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => { arity("graft_dot", 2)(args); DotProduct(args(0), args(1)) }))
    e.injectFunction((
      FunctionIdentifier("graft_poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "graft_poly_hash"),
      (args: Seq[Expression]) => { arity("graft_poly_hash", 1)(args); PolyHash(args.head) }))
  }
}
