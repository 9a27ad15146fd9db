package graft

import graft.functions.expressions.{GraftExpressions, NativeKernel}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.Bridge.{column, expression}

/** SparkSessionExtensions registration: exposes two of the engine's
  * native kernels to SQL (`SELECT graft_dot(a, b)`, `graft_poly_hash(s)`)
  * and injects the engine's plan rewrites (the materialized join and
  * aggregate rewrites, eager aggregation, stored-cents resolution) —
  * together the analog of the reference's custom-op registration +
  * graph-rewriting surface
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
    e.injectOptimizerRule(graft.plans.EagerAggregation(_))
    // post-hoc resolution, NOT optimizer: must run before ColumnPruning
    // hides the stored column (see the rule's scaladoc)
    e.injectPostHocResolutionRule(_ => graft.plans.RewriteStoredCents)
    def arity(name: String, n: Int)(args: Seq[Expression]): Unit =
      if (args.length != n) throw new IllegalArgumentException(
        s"$name requires exactly $n argument(s), got ${args.length}")
    e.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[NativeKernel].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        arity("graft_dot", 2)(args)
        expression(GraftExpressions.dot_product(column(args(0)), column(args(1))))
      }))
    e.injectFunction((
      FunctionIdentifier("graft_poly_hash"),
      new ExpressionInfo(classOf[NativeKernel].getName, "graft_poly_hash"),
      (args: Seq[Expression]) => {
        arity("graft_poly_hash", 1)(args)
        expression(GraftExpressions.poly_hash(column(args.head)))
      }))
  }
}
