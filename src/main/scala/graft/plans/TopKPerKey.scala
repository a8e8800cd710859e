package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator top-k-per-key, planned as a custom physical operator —
  * the (c) rung of the custom-operator ladder (custom `LogicalPlan` +
  * `SparkStrategy` + `SparkPlan`).
  *
  * This operator keeps a bounded heap per key on each input partition
  * (partial phase, before the exchange), so the shuffle carries at most
  * k rows per key per partition; the final phase re-prunes after the
  * exchange. Nothing is sorted — heap maintenance is O(log k) per row.
  *
  * Why not `row_number() <= k`: Spark 4.1 plans that form with a partial
  * `WindowGroupLimit`, which also prunes before the exchange, but it
  * sorts every partition on (key, order) on both sides of the exchange.
  * Measured on 4 cores (sf0.01, median of 15 runs, rows identical), the
  * heap was faster on every shape tried: `q_embed_knn` 215 vs 243 ms,
  * an orders top-5 118 vs 154 ms, a 250k-pair top-5 292 vs 362 ms; at
  * sf0.1 the gap widened (orders top-5 159 vs 306 ms). A whole-stage
  * codegen form of the heap measured no faster than this iterator form
  * (229 vs 215 ms on `q_embed_knn`), so only the iterator form exists.
  *
  * The physical pattern mirrors partial/final aggregation:
  * `EnsureRequirements` inserts the hash exchange between the two phases
  * because only the final exec declares a clustered distribution
  * requirement.
  */
object TopKPerKey {

  /** Top `k` rows per key group in `orderBy` order (ascending list
    * semantics — pass `col(...).desc` Columns for descending). Output
    * rows are NOT globally ordered; order downstream if needed. */
  def apply(df: DataFrame, keys: Seq[String], orderBy: Seq[Column], k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    inject(spark, TopKStrategy)
    val child = GraftSqlBridge.planOf(df)
    val keyExprs = keys.map(n => GraftSqlBridge.toEagerExpression(df(n)))
    val order = orderBy.map(GraftSqlBridge.toEagerExpression(_) match {
      case so: SortOrder => so
      case e => SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending)
    })
    GraftSqlBridge.ofRows(spark, TopKPerKeyNode(keyExprs, order, k, child))
  }
}

/** Logical node: semantics only (output = child output, k rows per key). */
case class TopKPerKeyNode(grouping: Seq[Expression], order: Seq[SortOrder],
                          k: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan =
    copy(child = c)
}

/** Plans the logical node as partial → (exchange via EnsureRequirements)
  * → final. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(g, o, k, child) =>
      val partial = TopKPerKeyExec(g, o, k, planLater(child), partial = true)
      TopKPerKeyExec(g, o, k, partial, partial = false) :: Nil
    case _ => Nil
  }
}

/** Per-partition bounded-heap state of [[TopKPerKeyExec]]: `doExecute`
  * feeds every input row to [[insert]] and drains [[result]]. Accepts any
  * `InternalRow` — rows are normalized through an identity
  * UnsafeProjection unless already unsafe (a child outside whole-stage
  * codegen may emit generic rows). */
final class TopKPartitionState(grouping: Seq[Expression], order: Seq[SortOrder],
                               childOutput: Seq[Attribute], limit: Int) {
  private val keyProj = UnsafeProjection.create(grouping, childOutput)
  private val toUnsafeProj = UnsafeProjection.create(childOutput, childOutput)
  // generated row comparator for the SortOrder list; heap keeps its
  // MAX (= worst kept row) at the head for O(log k) replacement
  private val cmp = new LazilyGeneratedOrdering(order, childOutput)
  private val heaps =
    mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]

  private def toUnsafe(row: InternalRow): UnsafeRow = row match {
    case u: UnsafeRow => u
    case r => toUnsafeProj(r)
  }

  def insert(row: InternalRow): Unit = {
    val key = keyProj(row)
    val heap = heaps.get(key) match {
      case Some(h) => h
      case None =>
        val h = mutable.PriorityQueue.empty[UnsafeRow](
          cmp.asInstanceOf[Ordering[UnsafeRow]])
        heaps.put(key.copy(), h)
        h
    }
    if (heap.size < limit) {
      heap += toUnsafe(row).copy()
    } else if (cmp.compare(row, heap.head) < 0) {
      heap.dequeue()
      heap += toUnsafe(row).copy()
    }
  }

  def result(): Iterator[UnsafeRow] = heaps.valuesIterator.flatMap(_.iterator)
}

/** Bounded-heap top-k per key within each partition. `partial = true`
  * runs before the exchange (no distribution requirement, prunes the
  * shuffle); `partial = false` requires rows clustered by the key and
  * emits the exact per-key result. Runs as an iterator operator: the
  * stages below and above it still fuse, and the heap is Scala code only.
  */
case class TopKPerKeyExec(grouping: Seq[Expression], order: Seq[SortOrder],
                          k: Int, child: SparkPlan, partial: Boolean)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning

  // observability: the partial phase's output vs its input is the
  // shuffle-pruning ratio
  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(grouping) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutput = longMetric("numOutputRows")
    // locals, not `this`: the task closure ships expressions + schema
    // only, never the child plan
    val (g, o, out, limit) = (grouping, order, child.output, k)
    child.execute().mapPartitions { it =>
      val state = new TopKPartitionState(g, o, out, limit)
      it.foreach(state.insert)
      state.result().map { r => numOutput += 1; r }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
    copy(child = c)
}
