package graft

import graft.plans.RewriteCosineToDot
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

/** What graft puts on a Spark session, and what it leaves alone:
  * [[GraftExtensions.install]] puts graft's functions, its rewrite rule and
  * its observed-metrics listener on a session once, and building a query
  * changes nothing on the session it is built in.
  */
class SessionContractSpec extends SparkSpec {

  private def classic(s: SparkSession) = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Messages the function registry logs while `body` runs that say a
    * function was registered over an existing one. */
  private def reRegistrations[A](body: => A): (A, Seq[String]) = {
    val (out, msgs) = LogCapture("org.apache.spark.sql.catalyst.analysis")(body)
    (out, msgs.filter(_.contains("previously registered")))
  }

  /** The `graft.*` observed-metrics lines one observed query logs. */
  private def observedLines(s: SparkSession): Seq[String] = {
    val (_, msgs) = LogCapture("graft") {
      s.range(10).observe("graft.spec_rows", count(lit(1)).as("n")).collect()
      org.apache.spark.ListenerBusAccess.drain(s.sparkContext)
    }
    msgs.filter(_.startsWith("observed metrics: graft.spec_rows"))
  }

  test("building every query changes no session conf and re-registers no function") {
    val s = spark.newSession()
    val before = s.conf.getAll
    val (_, logged) = reRegistrations {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, build) => build(s, sf0001) }
      assert(Tables(s, sf0001, "events").count() > 0)
    }
    assert(s.conf.getAll == before)
    assert(logged.isEmpty, logged.take(3).mkString("\n"))
    // the capture sees a re-registration when one happens (the registry
    // logs it only for a different (info, builder) pair)
    val reg = classic(s).sessionState.functionRegistry
    val id = FunctionIdentifier("cosine_sim")
    val builder = reg.lookupFunctionBuilder(id).get
    val (_, control) = reRegistrations(
      reg.registerFunction(id, reg.lookupFunction(id).get, builder(_)))
    assert(control.size == 1, control)
  }

  test("install is idempotent per session, also from several threads at once") {
    val s = spark.newSession()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try (1 to 8).map(_ => pool.submit(new Runnable {
      override def run(): Unit = GraftExtensions.install(s)
    })).foreach(_.get())
    finally pool.shutdown()
    GraftExtensions.install(s)
    assert(classic(s).experimental.extraOptimizations.count(_ eq RewriteCosineToDot) == 1)
    val reg = classic(s).sessionState.functionRegistry
    assert(GraftExtensions.functions.forall { case (n, _) => reg.functionExists(FunctionIdentifier(n)) })
    assert(observedLines(s).size == 1)
  }

  test("a session built with the extension gets nothing twice from install") {
    val (oldDefault, oldActive) = (SparkSession.getDefaultSession, SparkSession.getActiveSession)
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
      val (_, logged) = reRegistrations(GraftExtensions.install(s))
      assert(logged.isEmpty, logged.take(3).mkString("\n"))
      assert(!classic(s).experimental.extraOptimizations.contains(RewriteCosineToDot))
      assert(classic(s).sessionState.optimizer.extendedOperatorOptimizationRules
        .count(_ eq RewriteCosineToDot) == 1)
      assert(observedLines(s).size == 1)
      assert(s.sql("SELECT size(word_ngram_hashes('a b c d', 3))").first().getInt(0) == 2)
    } finally {
      oldDefault.foreach(SparkSession.setDefaultSession)
      oldActive.foreach(SparkSession.setActiveSession)
    }
  }
}
