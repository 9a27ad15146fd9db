package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` embedding columns, built from
  * higher-order functions (zip_with / aggregate) so everything is
  * codegen'd and needs no UDF. Folds run left-to-right in element
  * order — deterministic and reproducible by an external oracle.
  */
object VectorFunctions {

  /** Cast an array<float> to array<double> for stable arithmetic. */
  def toDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Native codegen'd dot product ([[expressions.GraftExpressions.dot_product]]); same
    * left-to-right accumulation as the HOF fold it replaces. */
  def dot(a: Column, b: Column): Column =
    expressions.GraftExpressions.dot_product(a, b)

  /** Reference formulation via higher-order functions — kept as the
    * semantic spec for [[dot]] (asserted equal in tests). Elements are
    * widened to double BEFORE multiplying, matching the native kernel's
    * float path (a float×float multiply would round differently). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity; NULL when either vector has zero norm (a
    * failed-encode sentinel) — similarity to the zero vector is
    * undefined, and under ANSI mode the bare division would otherwise
    * throw DIVIDE_BY_ZERO and kill the whole query over one bad row.
    * nullif, NOT a when/otherwise: division by a NULL divisor is NULL
    * with no error, and the nullif form evaluates each norm exactly
    * once — a when(denom === 0) branch evaluated denom in the
    * condition AND the division (5 kernel calls per cosine instead of
    * 3), which multiplied against predicate pushdown into a measured
    * 20x regression on the x200 near-dup join. Consumers
    * ([[graft.operators.Ann]]) drop NULL/NaN similarities before
    * ranking or thresholding. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / nullif(l2Norm(a) * l2Norm(b), lit(0.0))

  /** Coarse IVF-style bucket id from the signs of the first `bits`
    * dimensions: Σ (v[k] > 0) << k. Cheap, deterministic, and gives
    * 2^bits partitions for bucketed (approximate) search. */
  def signBucket(v: Column, bits: Int = 8): Column =
    (0 until bits).map(k =>
      when(element_at(v, k + 1) > 0, lit(1L << k)).otherwise(lit(0L)))
      .reduce(_ + _)
}
