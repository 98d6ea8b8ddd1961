package graft.plans

import graft.functions.{CosineSimilarity, DotProduct}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Optimizer rule: when the session asserts that embedding vectors are
  * unit-normalized (`spark.graft.assumeUnitVectors=true`), rewrite
  * `cosine_sim(a,b)` to the plain dot product — algebraically identical for
  * ‖a‖=‖b‖=1 and a third of the per-pair FLOPs, which matters on the
  * 10^11-pair scoring scans similarity search runs at 100 TB.
  *
  * Installed by [[graft.GraftExtensions]]: injected when a session is built
  * with the extension, else added to `experimental.extraOptimizations` by
  * `GraftExtensions.install`; also directly applicable to a plan in tests.
  * The conf gate keeps the rewrite sound: without the normalization
  * assertion the rule is a no-op.
  */
object RewriteCosineToDot extends Rule[LogicalPlan] {
  private def enabled: Boolean =
    SQLConf.get.getConfString("spark.graft.assumeUnitVectors", "false") == "true"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformAllExpressions {
      case CosineSimilarity(a, b) => DotProduct(a, b)
    }
}
