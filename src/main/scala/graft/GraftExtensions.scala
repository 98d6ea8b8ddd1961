package graft

import graft.plans.RewriteCosineToDot
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Session extension entry point: injects every native function and the
  * [[RewriteCosineToDot]] rule when a session is built with
  * `--conf spark.sql.extensions=graft.GraftExtensions`, the deployment path
  * for clusters, where functions must resolve before any SQL is parsed.
  * [[GraftExtensions.install]] puts the same on a session built without it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), GraftExtensions.info(name), builder))
    }
    ext.injectOptimizerRule(_ => RewriteCosineToDot)
  }
}

/** What graft puts on a Spark session, decided in one place: its native
  * functions, the [[RewriteCosineToDot]] rule and the listener that logs
  * `graft.*` observed metrics. Query builds and operators put nothing on
  * the session; the entry points ([[SparkEntry.queries]],
  * `Pipeline.runDaily`, the diagnostic mains) call [[install]] once.
  */
object GraftExtensions {

  /** Every native function graft defines, the one list both the extension
    * and [[install]] put on a session. */
  private[graft] val functions: Seq[(String, Seq[Expression] => Expression)] =
    graft.functions.VectorFunctions.builders ++ graft.functions.NativeTextExpressions.builders

  private def info(name: String) = new ExpressionInfo(classOf[GraftExtensions].getName, null, name)

  /** Sessions [[install]] has finished; weak keys, so a stopped session is
    * not kept alive. Guarded by its own monitor. */
  private val installed = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Installs graft on `spark`: each function the registry lacks, the
    * rewrite rule unless the session already has it (a session built with
    * the extension has both), and the observed-metrics listener. Idempotent
    * per session and safe to call from several threads at once. A session
    * cloned from an installed one (a stream's batch session) inherits all
    * three; a `newSession()` needs its own call.
    */
  def install(spark: SparkSession): Unit = installed.synchronized {
    if (!installed.contains(spark)) {
      val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val registry = s.sessionState.functionRegistry
      functions.foreach { case (name, builder) =>
        val id = FunctionIdentifier(name)
        if (!registry.functionExists(id)) registry.registerFunction(id, info(name), builder)
      }
      val rules = s.sessionState.optimizer.extendedOperatorOptimizationRules ++
        s.experimental.extraOptimizations
      if (!rules.contains(RewriteCosineToDot))
        s.experimental.extraOptimizations :+= RewriteCosineToDot
      s.listenerManager.register(ObservedMetricsLog)
      installed.add(spark)
    }
  }

  /** Logs `graft.*`-named `Dataset.observe` metrics when their query
    * completes: the zero-extra-job channel for data-dependent plan
    * telemetry (e.g. the minhash verify screen's candidates/survivors
    * counts).
    */
  private object ObservedMetricsLog extends QueryExecutionListener {
    private val log = org.slf4j.LoggerFactory.getLogger(getClass)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val m = qe.observedMetrics.filter(_._1.startsWith("graft."))
      if (m.nonEmpty)
        log.info(m.map { case (k, r) => s"$k=$r" }.mkString("observed metrics: ", ", ", ""))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}
