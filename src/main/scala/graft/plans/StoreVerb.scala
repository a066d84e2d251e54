package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.StructType

/** One SQL store verb (`graft_ivf_append`, `graft_ivf_maintain`,
  * `graft_export_delta`, …) as a deferred leaf: the table-function builder
  * checks the argument count and returns this node; the verb's body, and
  * the view and literal lookups inside it, wait for execution.
  *
  * When the verb runs: on the driver, at the first action that executes a
  * plan containing the node (`collect`, `count`, `show`, a write). Parsing,
  * analysis, `explain()` and physical planning never run it, so
  * `EXPLAIN SELECT * FROM graft_snapshot_prune(...)` deletes nothing.
  *
  * What memoizes: the receipt rows, in the [[StoreVerb.Once]] holder the
  * builder creates once per resolution of the call. The holder is a
  * constructor field, so plan copies, re-planning and every Dataset derived
  * from the statement (`count`, `show`, `limit`, a join) share it: one
  * analyzed statement runs its verb at most once. A body that throws is not
  * memoized; the next action tries again.
  *
  * What re-runs: anything that resolves the call again. A fresh `spark.sql`
  * of the same text runs the verb again, like re-running an INSERT. A SQL
  * `CREATE TEMP VIEW v AS SELECT * FROM graft_ivf_append(...)` keeps the
  * text, so creating it runs nothing and every query over `v` runs the
  * verb once more. A Dataset-API view (`df.createOrReplaceTempView`) keeps
  * the analyzed plan, so queries over it share the statement's holder and
  * the verb still runs at most once.
  *
  * The receipt is the `(verb, store, ok)` row ([[StoreVerb.ok]]) or the
  * DataFrame the operator returns, whose schema its module declares once
  * and the node takes as its output.
  */
case class StoreVerb(verb: String, store: String, receipt: StoreVerb.Once,
                     // constructor field, LocalRelation-style: plan copies
                     // keep the SAME exprIds or parent references dangle
                     override val output: Seq[Attribute]) extends LeafNode {
  // without this override LeafNode.computeStats throws
  override def computeStats(): Statistics = Statistics(sizeInBytes = 256)
  override protected def stringArgs: Iterator[Any] = Iterator(verb, store)
}

object StoreVerb {

  /** The receipt of a verb whose operator returns nothing. */
  val okSchema: StructType =
    StructType.fromDDL("verb STRING NOT NULL, store STRING NOT NULL, ok BOOLEAN NOT NULL")

  /** Runs `body` at most once and keeps its receipt as unsafe rows. */
  final class Once(body: () => DataFrame) {
    lazy val rows: Array[InternalRow] =
      body().queryExecution.executedPlan.executeCollect().map(_.copy())
  }

  /** A verb whose receipt is the DataFrame `body` returns, of `schema`. */
  def apply(verb: String, store: String, schema: StructType)
           (body: => DataFrame): StoreVerb =
    StoreVerb(verb, store, new Once(() => body),
      DataTypeUtils.toAttributes(schema))

  /** A verb whose operator returns nothing: receipt `(verb, store, true)`. */
  def ok(verb: String, store: String)(body: => Unit): StoreVerb =
    apply(verb, store, okSchema) {
      body
      SparkSession.active.createDataFrame(
        java.util.List.of(Row(verb, store, true)), okSchema)
    }
}

/** The physical node: hands out the holder's rows, running the verb first
  * if no plan of this statement has yet.
  */
case class StoreVerbExec(verb: String, store: String,
                         @transient receipt: StoreVerb.Once,
                         override val output: Seq[Attribute])
    extends LeafExecNode {
  override protected def stringArgs: Iterator[Any] = Iterator(verb, store)
  override def executeCollect(): Array[InternalRow] =
    receipt.rows.map(_.copy())
  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(receipt.rows.toSeq, 1)
}

/** Plans [[StoreVerb]] into [[StoreVerbExec]], keeping the logical node's
  * attribute ids. Injected per session by
  * [[graft.functions.GraftTableFunctions.ensureRegistered]].
  */
object StoreVerbStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case StoreVerb(v, s, r, out) => StoreVerbExec(v, s, r, out) :: Nil
    case _ => Nil
  }

  def ensureInjected(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies =
        this +: spark.experimental.extraStrategies
  }
}
