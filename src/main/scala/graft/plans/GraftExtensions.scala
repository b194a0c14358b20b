package graft.plans

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Algebraic rewrite over the graft vector expressions:
  * `vec_dot(a, a)` → `vec_norm_sq(a)` — a self-dot IS the squared norm
  * (identical left-to-right double arithmetic, so the rewrite is
  * bit-exact; PlanSuite pins both the firing and the values). Guarded on
  * determinism: rewriting a non-deterministic child would collapse two
  * evaluations into one and change semantics.
  *
  * Deliberately a tiny rule — its job is to demonstrate the optimizer
  * extension seam the engine reserves for plan-level work that
  * per-expression registration can't reach (SURVEY §2.2): the same
  * injection point would carry e.g. a pushdown of hamming-band filters
  * into the scan, or a join-to-broadcast promotion keyed on sketch
  * cardinalities.
  */
object VecSelfDotRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case VecDot(a, b) if a.deterministic && a.semanticEquals(b) =>
        VecNormSq(a)
    }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` wires the whole
  * library into a session at build time — every function of
  * [[graft.functions.FunctionTable]] plus the optimizer rule and the
  * as-of planner strategy — with no imperative `Tables.conf` call. This
  * is the integration path for a cluster deployment (spark-defaults.conf
  * / spark-submit --conf); `Tables.conf` registers the same table
  * imperatively on driver-built sessions that predate the config.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    FunctionTable.all.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo("graft", null, f.name, f.usage, ""), f.builder))
    }
    ext.injectOptimizerRule(_ => VecSelfDotRule)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}
