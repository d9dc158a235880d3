package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Plans the engine's own leaves, [[KleenePlus]] and [[Deferred]]; registered
  * per session by [[GraftStrategy.register]]. */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case KleenePlus(edges, seed, output) => KleenePlusExec(edges, seed, output) :: Nil
    case Deferred(pin, output) => DeferredExec(pin, output) :: Nil
    case _ => Nil
  }

  /** Idempotent per session: add this strategy to the session's planner. */
  def register(s: SparkSession): Unit = {
    val ex = s.experimental
    if (!ex.extraStrategies.contains(GraftStrategy)) ex.synchronized {
      if (!ex.extraStrategies.contains(GraftStrategy))
        ex.extraStrategies = GraftStrategy +: ex.extraStrategies
    }
  }
}
