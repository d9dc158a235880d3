package graft.engine

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.GraftExprBridge
import org.apache.spark.sql.execution.LeafExecNode
import org.apache.spark.sql.types.StructType

/**
 * A relation computed when its plan first executes, then pinned: the one way
 * the engine pins an intermediate result while it builds a query.
 *
 * Pins are needed where one relation is read by several branches of a plan
 * and must give every branch the same rows: a `monotonically_increasing_id`
 * row id depends on the partition layout, so two evaluations may deal
 * different ids to the same solution. `Dataset.localCheckpoint` pins too, but
 * it runs the plan (or, lazily, its shuffle stages under adaptive execution)
 * when it is called, so a plan built from it runs Spark jobs before anyone
 * asks for a result. This leaf runs nothing until [[DeferredExec]] executes.
 *
 * Every copy of the node (the analyzer copies a relation that occurs twice in
 * a self-join) shares one [[Deferred.Pin]], so all references in the plan and
 * every later action on a DataFrame built from it read the same pinned rows.
 * The pin is a local checkpoint: if its blocks are lost, reading it fails
 * with Spark's missing-checkpoint-block error rather than recomputing
 * different rows.
 */
final case class Deferred(pin: Deferred.Pin, output: Seq[Attribute])
    extends LeafNode with MultiInstanceRelation {
  override def newInstance(): Deferred = copy(output = output.map(_.newInstance()))
  /** The optimizer's estimate of the DataFrame the pin computes, when there
    * is one (the pin does not change the relation's size; the compute reuses
    * that optimized plan). */
  override def computeStats(): Statistics = pin.source.fold(
    Statistics(sizeInBytes = conf.defaultSizeInBytes)) { df =>
    val s = df.queryExecution.optimizedPlan.stats
    Statistics(sizeInBytes = s.sizeInBytes, rowCount = s.rowCount)
  }
  override def innerChildren: Seq[QueryPlan[_]] = pin.source.map(_.queryExecution.analyzed).toSeq
  override def simpleString(maxFields: Int): String =
    s"Deferred ${pin.label} ${output.mkString("[", ", ", "]")}"
}

/** Runs [[Deferred]]: the first execution of any copy computes and pins the
  * rows; later ones read the pin. `pin` is used on the driver only (generated
  * code ships this node to tasks). */
final case class DeferredExec(@transient pin: Deferred.Pin, output: Seq[Attribute])
    extends LeafExecNode {
  override def simpleString(maxFields: Int): String =
    s"DeferredExec ${pin.label} ${output.mkString("[", ", ", "]")}"
  override protected def doExecute(): RDD[InternalRow] = pin.rdd
}

object Deferred {

  /** What every copy of one [[Deferred]] node shares: the computation, the
    * DataFrame it stands for (if any, for estimates and `explain`), and the
    * pinned rows once an execution has computed them. */
  final class Pin private[Deferred] (val label: String, schema: StructType,
                                     compute: () => DataFrame, val source: Option[DataFrame]) {
    @volatile private var pinned: RDD[InternalRow] = _

    /** The pinned rows. The first call runs `compute`, local-checkpoints its
      * rows and counts them (one job), so no later reader recomputes them. */
    def rdd: RDD[InternalRow] = {
      if (pinned == null) synchronized {
        if (pinned == null) {
          val df = compute()
          require(DataTypeUtils.sameType(df.schema, schema),
            s"Deferred $label computed ${df.schema.simpleString}, declared ${schema.simpleString}")
          val rows = df.queryExecution.toRdd.map(_.copy()).localCheckpoint()
          rows.count()
          pinned = rows
        }
      }
      pinned
    }
  }

  /** `df`, pinned on first execution. */
  def apply(df: DataFrame, label: String): DataFrame =
    of(df.sparkSession, df.schema, label, Some(df))(df)

  /** The rows of `compute`, a computation producing `schema`, run on first
    * execution and pinned. `source` is the DataFrame it stands for, if any. */
  def of(spark: SparkSession, schema: StructType, label: String,
         source: Option[DataFrame] = None)(compute: => DataFrame): DataFrame = {
    GraftExprBridge.ofRows(spark,
      Deferred(new Pin(label, schema, () => compute, source), DataTypeUtils.toAttributes(schema)))
  }
}
