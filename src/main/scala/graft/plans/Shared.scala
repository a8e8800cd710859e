package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** A shared subplan: `Shared(df)` marks `df` as a subtree that several
  * branches of one returned plan read, so that every branch executes the
  * same physical subtree and the action computes it once — without any
  * job while the plan is built (the eager `localCheckpoint` it replaces
  * ran one).
  *
  * The rule: a shared subtree runs once per execution when it ends in an
  * exchange — an aggregate, a distinct, a repartition. Every reader then
  * plans an identical exchange, and exchange reuse (AQE's stage cache,
  * `spark.sql.exchange.reuse`) runs that stage once and serves the other
  * readers a `ReusedExchange`/reused stage; only the operators above the
  * exchange (a final aggregate's merge, a projection) run per reader.
  * Otherwise each reader recomputes the subtree, and an eager
  * materialization is the right tool.
  *
  * Why a marker is needed at all: without it the optimizer rewrites each
  * reader's copy of the subtree differently — a `left_semi` join or a
  * filter above it is pushed below its distinct or explode, a projection
  * prunes its columns per reader — and copies that no longer match share
  * no exchange. [[SharedNode]] stops all three: no pushdown rule knows it,
  * and it references every column of its child. It adds no operator:
  * [[SharedStrategy]] plans it as its child. */
object Shared {

  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    inject(spark, SharedStrategy)
    GraftSqlBridge.ofRows(spark, SharedNode(GraftSqlBridge.planOf(df)))
  }
}

/** Logical barrier: output and rows are the child's. */
case class SharedNode(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  // every child column counts as used, so column pruning never narrows
  // the subtree for one reader
  override lazy val references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan =
    copy(child = c)
}

/** Plans [[SharedNode]] as its child's physical plan. */
object SharedStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SharedNode(child) => planLater(child) :: Nil
    case _ => Nil
  }
}
