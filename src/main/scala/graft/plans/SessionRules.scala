package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** The one registrar for the engine's live-session installs into
  * `spark.experimental`. `extraOptimizations` and `extraStrategies` are
  * plain vars on the session's `ExperimentalMethods`, so an unlocked
  * read-append-write from two threads (two concurrent pipeline table runs
  * both reading through [[graft.Tables.t]] or both planning a custom query)
  * can drop the other thread's entry. Every append here holds the
  * session's `ExperimentalMethods` monitor and is idempotent.
  */
object SessionRules {

  /** Append `rule` to the session's extra optimizations unless present. */
  def addOptimization(spark: SparkSession, rule: Rule[LogicalPlan]): Unit = {
    val em = spark.experimental
    em.synchronized {
      if (!em.extraOptimizations.contains(rule)) em.extraOptimizations = em.extraOptimizations :+ rule
    }
  }

  /** Append `strategy` to the session's extra strategies unless the planner
    * already carries it — via an earlier call or [[graft.GraftExtensions]]'
    * `injectPlannerStrategy`, which leaves `extraStrategies` empty
    * (ExtensionsSpec pins that).
    */
  def addStrategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val planner = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.planner
    val em = spark.experimental
    em.synchronized {
      if (!planner.strategies.contains(strategy)) em.extraStrategies = em.extraStrategies :+ strategy
    }
  }
}
