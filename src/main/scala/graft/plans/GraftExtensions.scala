package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** Engine-specific Catalyst optimizer rule, registered through
  * `SparkSessionExtensions` (the (c)-tier extension point; SURVEY §4 notes
  * no custom rule is *required* — this one is a domain algebraic rewrite
  * that pays for itself in dB-heavy pipelines).
  *
  * dB <-> linear round-trips compose to identity:
  *   10^((10*log10(x))/10)  -> x      (dbToPow . powToDb)
  *   10*log10(10^(x/10))    -> x      (powToDb . dbToPow)
  * and likewise for the envelope (20·) forms. Pipelines that convert to
  * linear space for aggregation and back per stage generate these pairs at
  * stage boundaries; eliminating them removes two transcendental ops per
  * row from codegen'd loops.
  */
object SimplifyDbRoundTrips extends Rule[LogicalPlan] {

  private object DoubleLit {
    def unapply(e: Expression): Option[Double] = e match {
      case Literal(v: Double, _) => Some(v)
      case Cast(Literal(v: Double, _), _, _, _) => Some(v)
      case _ => None
    }
  }

  // 10^(inner/scale) with scale 10 or 20
  private object PowOfTen {
    def unapply(e: Expression): Option[(Expression, Double)] = e match {
      case Pow(DoubleLit(10.0), Divide(inner, DoubleLit(s), _))
          if s == 10.0 || s == 20.0 => Some((inner, s))
      case _ => None
    }
  }

  // scale * log10(inner) with scale 10 or 20
  private object ScaledLog {
    def unapply(e: Expression): Option[(Expression, Double)] = e match {
      case Multiply(DoubleLit(s), Log10(inner), _)
          if s == 10.0 || s == 20.0 => Some((inner, s))
      case Multiply(Log10(inner), DoubleLit(s), _)
          if s == 10.0 || s == 20.0 => Some((inner, s))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // 10^((s*log10(x))/s) -> x ONLY for x > 0: Spark's log10 returns NULL
      // for x <= 0, so the unrewritten form yields NULL there — the guard
      // preserves that (ADVICE r1) while still removing both transcendental
      // ops from the hot path.
      case PowOfTen(ScaledLog(x, s1), s2) if s1 == s2 =>
        If(And(IsNotNull(x), GreaterThan(x, Literal(0.0))),
          x, Literal(null, org.apache.spark.sql.types.DoubleType))
      // s*log10(10^(x/s)) -> x. NULL-preserving as-is (null x propagates).
      // Known domain assumption: for |x| > ~3082 dB the unrewritten form
      // over/underflows the double intermediate (+Inf / NULL) while the
      // rewrite returns x; 3000+ dB is 300 orders of magnitude beyond any
      // physical power ratio, so the rewrite stays unconditional.
      case ScaledLog(PowOfTen(x, s1), s2) if s1 == s2 => x
    }
}

/** Session extensions installer:
  * `GraftSession.builder().withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => SimplifyDbRoundTrips)
    e.injectOptimizerRule(_ => graft.sources.SeamfStreamingPrune)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

/** Idempotent installers for sessions built without [[GraftExtensions]]
  * (a query or helper that needs one rule on whatever session it is
  * handed). Each appends at most once per session, so the rules already
  * installed keep their order and plans do not change.
  */
object GraftExtensions {
  def installRule(spark: SparkSession, rule: Rule[LogicalPlan]): Unit =
    spark.experimental.synchronized {
      if (!spark.experimental.extraOptimizations.contains(rule))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ rule
    }

  def installStrategy(spark: SparkSession, strategy: SparkStrategy): Unit =
    spark.experimental.synchronized {
      if (!spark.experimental.extraStrategies.contains(strategy))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ strategy
    }
}
