package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.LongType

/** Optimizer rule: read STORED integer cents instead of recomputing
  * them from doubles.
  *
  * The engine's exact-money discipline evaluates
  * `cast(round(x * 100) as bigint)` per row per money column — on a
  * 120M-row fact scan that expression (plus the double decode under it)
  * IS the q1/q6/q14/q15 cost (PERF.md: the decode-constant class,
  * 3.3–4.5× vs DuckDB with every conf lever exhausted). A layout that
  * stores the cents at WRITE time removes both: this rule rewrites the
  * expression to the stored `<col>_cents` column, and Catalyst's column
  * pruning then drops the raw double from the scan entirely. Measured
  * x200 (PERF.md "Round-10: stored integer cents", same-window
  * DuckDB pairs): q1 2.0×,
  * q6 1.48×, q14 1.57×, q15 1.50× — the class lands at/under 2× for
  * the first time.
  *
  * SAFETY: the rewrite changes results unless the stored column is
  * bit-identical to the expression, so it fires ONLY on relations whose
  * catalog table carries the `graft.derived.cents` property naming the
  * source column — written exclusively by
  * [[LayoutAdvisor.stageDerived]], which computes the column with the
  * exact same expression. A user table that merely happens to have an
  * `x_cents` column is never touched. The replacement is additionally
  * gated on the cents attribute being in scope at the node (a user
  * projection that dropped it blocks the rewrite rather than producing
  * an unresolved plan).
  *
  * Injected as a POST-HOC RESOLUTION rule, not an optimizer rule: the
  * operator-optimization batch runs ColumnPruning before extended
  * rules, and the pruning Project it inserts above the relation
  * excludes the (then-unreferenced) cents column — the in-scope guard
  * would block every rewrite. At post-hoc resolution the plan carries
  * only USER projections, so the stored column is still reachable
  * exactly when the user didn't drop it. At this phase implicit casts
  * are not yet folded (`x * 100` is `x * cast(100 as double)`), so
  * literal matching unwraps casts.
  *
  * Reference analog: the reference's graph-rewriting passes swap
  * subgraphs for precomputed equivalents at build time
  * (framework/rewriting.py); here the precomputation is a column the
  * layout carries. */
object RewriteStoredCents extends Rule[LogicalPlan] {

  /** Catalog-table property naming the comma-separated SOURCE columns
    * whose `<name>_cents` siblings were stored as
    * `cast(round(<name> * 100) as bigint)` at write time. */
  val Property = "graft.derived.cents"

  /** Catalog-table property naming the subset of [[Property]] columns
    * VERIFIED all-finite (no NaN/±Inf) at stage time. The DECIMAL money
    * idiom `cast(x as decimal(p,2))` equals `MakeDecimal(x_cents, p, 2)`
    * for every finite double (same half-up rounding, same
    * overflow→NULL for p ≤ 18) but differs on NaN — the decimal cast
    * returns NULL while `cast(round(NaN*100) as bigint)` stores 0 — so
    * that rewrite fires only on columns this property names.
    * [[LayoutAdvisor.stageDerived]] writes it from a one-pass
    * finiteness audit run BEFORE the write; columns that fail the
    * audit get no stored cents at all (under ANSI the staging cast
    * itself would throw on NaN), so in practice this property equals
    * [[Property]] — kept separate as the explicit marker the decimal
    * rewrite checks, and so a legacy table staged before the audit
    * existed (no `finite` audit recorded) can never fire it. */
  val FiniteProperty = "graft.derived.cents.finite"

  private def isHundred(l: Literal): Boolean = l.value match {
    case i: Int => i == 100
    case lo: Long => lo == 100L
    case d: Double => d == 100.0
    case f: Float => f == 100.0f
    case d: org.apache.spark.sql.types.Decimal => d.toDouble == 100.0
    case _ => false
  }

  private def isZero(e: Expression): Boolean = e match {
    case l: Literal => l.value match {
      case i: Int => i == 0
      case lo: Long => lo == 0L
      case s: Short => s == 0
      case _ => false
    }
    case _ => false
  }

  /** THE exact-money idiom this rule rewrites —
    * `cast(round(x * 100) as bigint)` with a scale-0 round and the 100
    * literal matched through implicit casts: Some(x). Shared with
    * [[LayoutAdvisor.adviseDerivedCents]] so the advice can never count
    * a hit the rule will not rewrite (a drifted copy once counted
    * `round(x * 100, 2)` — scale 2 — as a cents hit and staged a dead
    * column for it). */
  private[plans] def centsIdiom(e: Expression): Option[AttributeReference] = {
    def strip(x: Expression): Expression = x match {
      case cc: Cast => strip(cc.child)
      case other => other
    }
    e match {
      case c: Cast if c.dataType == LongType => c.child match {
        case r: Round if isZero(r.scale) => r.child match {
          case m: Multiply => (strip(m.left), strip(m.right)) match {
            case (a: AttributeReference, l: Literal) if isHundred(l) => Some(a)
            case (l: Literal, a: AttributeReference) if isHundred(l) => Some(a)
            case _ => None
          }
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }
  }

  /** The DECIMAL money idiom — `cast(x as decimal(p, 2))` directly over
    * a double/float column, p ≤ 18 (see [[FiniteProperty]] for why the
    * equivalence `MakeDecimal(x_cents, p, 2)` holds exactly there and
    * only there): Some(attr, precision). The q6-shaped exact-money
    * arithmetic (`sum(cast(a as decimal(12,2)) * cast(b as
    * decimal(12,2)))`) is made of these. */
  private[plans] def decimalIdiom(e: Expression): Option[(AttributeReference, Int)] =
    e match {
      case c: Cast => (c.child, c.dataType) match {
        case (a: AttributeReference, d: org.apache.spark.sql.types.DecimalType)
            if d.scale == 2 && d.precision <= 18 &&
              (a.dataType == org.apache.spark.sql.types.DoubleType ||
                a.dataType == org.apache.spark.sql.types.FloatType) =>
          Some((a, d.precision))
        case _ => None
      }
      case _ => None
    }

  /** Every money idiom the rule rewrites (and therefore every idiom
    * [[LayoutAdvisor.adviseDerivedCents]] counts and
    * [[LayoutAdvisor.routeAll]] scores): the long-cents idiom plus the
    * decimal one. */
  private[plans] def moneyIdiom(e: Expression): Option[AttributeReference] =
    centsIdiom(e).orElse(decimalIdiom(e).map(_._1))

  /** Rewrite every money idiom in `plan` over an attribute `stored` maps
    * (by exprId) to its stored cents attribute and finite flag: the
    * long-cents idiom to the cents attribute, the decimal idiom to
    * `MakeDecimal(cents, p, 2)` when the column is finite. `keep(n,
    * cents)` decides each rewrite at node `n`. */
  private[plans] def rewriteMoney(plan: LogicalPlan, stored: Map[Long, (Attribute, Boolean)])(
      keep: (LogicalPlan, Attribute) => Boolean): LogicalPlan =
    plan.transformUp {
      case n if n.children.nonEmpty =>
        def cents(a: AttributeReference, finiteOnly: Boolean): Option[Attribute] =
          stored.get(a.exprId.id).collect {
            case (c, finite) if (finite || !finiteOnly) && keep(n, c) => c
          }
        n.transformExpressionsUp {
          case c: Cast if c.dataType == LongType =>
            centsIdiom(c).flatMap(cents(_, finiteOnly = false)).getOrElse(c)
          case c: Cast =>
            decimalIdiom(c).flatMap { case (a, p) =>
              cents(a, finiteOnly = true).map(MakeDecimal(_, p, 2))
            }.getOrElse(c)
        }
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // source-attribute exprId -> stored cents attribute, over marked
    // relations only; finite = verified NaN-free at stage time (the
    // decimal idiom's precondition)
    val stored: Map[Long, (Attribute, Boolean)] = plan.collect {
      case lr: LogicalRelation =>
        lr.catalogTable.toSeq.flatMap { ct =>
          val srcs = ct.properties.get(Property).toSeq
            .flatMap(_.split(",")).map(_.trim.toLowerCase).filter(_.nonEmpty)
          val finite = ct.properties.get(FiniteProperty).toSeq
            .flatMap(_.split(",")).map(_.trim.toLowerCase).filter(_.nonEmpty).toSet
          val byName = lr.output.map(a => a.name.toLowerCase -> a).toMap
          srcs.flatMap { s =>
            for {
              src <- byName.get(s)
              cents <- byName.get(s + "_cents") if cents.dataType == LongType
            } yield src.exprId.id -> (cents, finite(s))
          }
        }
    }.flatten.toMap
    if (stored.isEmpty) return plan
    rewriteMoney(plan, stored)((n, cents) => n.children.exists(_.outputSet.contains(cents)))
  }
}
