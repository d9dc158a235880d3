package graft.engine

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Plans the engine's own leaves, [[KleenePlus]] and [[Deferred]]. Every
  * session built with graft on the classpath has it: [[GraftExtensions]] is
  * listed in `META-INF/services`, so `SparkSession.Builder` injects it. */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case KleenePlus(edges, seed, output) => KleenePlusExec(edges, seed, output) :: Nil
    case Deferred(pin, output) => DeferredExec(pin, output) :: Nil
    case _ => Nil
  }
}

/** Session extension that adds [[GraftStrategy]] to the planner. */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectPlannerStrategy(_ => GraftStrategy)
}
