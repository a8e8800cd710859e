package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, LazilyGeneratedOrdering}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BlockingOperatorWithCodegen, CodegenSupport, SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator top-k-per-key, planned as a custom physical operator —
  * the (c) rung of the custom-operator ladder (custom `LogicalPlan` +
  * `SparkStrategy` + `SparkPlan`), used where composition is wasteful:
  * the window-function formulation (`row_number() ≤ k`) shuffles and
  * sorts EVERY row of every key before discarding all but k of them.
  *
  * This operator keeps a bounded heap per key on each input partition
  * (partial phase, before the exchange), so the shuffle carries at most
  * k rows per key per partition; the final phase re-prunes after the
  * exchange. At 100 TB the shuffle shrinks from the full fact table to
  * ~k × keys × partitions rows, and nothing is ever globally sorted —
  * heap maintenance is O(log k) per row.
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

/** Per-partition bounded-heap state, shared verbatim by the interpreted
  * path (`doExecute`'s mapPartitions) and the generated path (whole-stage
  * codegen calls [[insert]] from the fused child loop and drains
  * [[result]]). Accepts any `InternalRow` — rows are normalized through
  * an identity UnsafeProjection unless already unsafe (LocalTableScan /
  * InputAdapter children emit generic rows). */
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
  * emits the exact per-key result.
  *
  * Participates in WHOLE-STAGE CODEGEN as a blocking operator (the
  * SortExec pattern): the child's generated loop calls
  * `TopKPartitionState.insert` directly — no iterator boundary on the
  * input side — and the drain loop above feeds the parent's generated
  * code. The partial phase therefore fuses with the scan/project below
  * it, the final phase with whatever consumes it. */
case class TopKPerKeyExec(grouping: Seq[Expression], order: Seq[SortOrder],
                          k: Int, child: SparkPlan, partial: Boolean)
    extends UnaryExecNode with BlockingOperatorWithCodegen {
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

  /** Executor-side factory (the exec ships as a codegen reference
    * object; projections/orderings are built lazily per partition). */
  def newPartitionState(): TopKPartitionState =
    new TopKPartitionState(grouping, order, child.output, k)

  // heap rows are per-row copies already — parents may buffer them safely
  override def needCopyResult: Boolean = false

  // SortExec's contract: every input column is consumed through the packed
  // rowVar consume()'s prepareRowVar builds, never as an individual
  // variable. Without this, consume() pre-evaluates the
  // grouping/order columns from its COPIES of the child's ExprCodes while
  // prepareRowVar already emitted the same code into the row — a child
  // whose output vars carry deferred expression code (e.g. Project over
  // BroadcastNestedLoopJoin computing a score) then emits the same locals
  // twice and janino rejects the stage ("Redefinition of local variable"),
  // silently dropping the whole fused stage to interpreted execution.
  override def usedInputs: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet.empty

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  private var stateTerm: String = _

  override protected def doProduce(ctx: CodegenContext): String = {
    val needToProcess = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN,
      "topkNeedsProcess", v => s"$v = true;")
    val thisPlan = ctx.addReferenceObj("topkPlan", this)
    stateTerm = ctx.addMutableState(classOf[TopKPartitionState].getName, "topkState")
    val iterTerm = ctx.addMutableState("scala.collection.Iterator", "topkOut")
    val fillFunc = ctx.freshName("insertTopKRows")
    val rowTerm = ctx.freshName("topkRow")
    val numOutput = metricTerm(ctx, "numOutputRows")
    // the child's produce loop lands in its own function whose doConsume
    // (below) pushes every row into the heap state — the blocking half
    val fill = ctx.addNewFunction(fillFunc,
      s"""
         |private void $fillFunc() throws java.io.IOException {
         |  ${child.asInstanceOf[CodegenSupport].produce(ctx, this)}
         |}
       """.stripMargin.trim)
    s"""
       |if ($needToProcess) {
       |  $stateTerm = $thisPlan.newPartitionState();
       |  $fill();
       |  $iterTerm = $stateTerm.result();
       |  $needToProcess = false;
       |}
       |while ($limitNotReachedCond $iterTerm.hasNext()) {
       |  org.apache.spark.sql.catalyst.expressions.UnsafeRow $rowTerm =
       |    (org.apache.spark.sql.catalyst.expressions.UnsafeRow) $iterTerm.next();
       |  $numOutput.add(1);
       |  ${consume(ctx, null, rowTerm)}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode],
                         row: ExprCode): String = {
    // consume()'s prepareRowVar ALWAYS hands a non-null row ExprCode —
    // when the child produced exploded columns it is an UnsafeRowWriter
    // projection that also evaluates any deferred input codes (which is
    // why usedInputs stays empty above). SortExec relies on the same
    // contract. The row ExprCode's CODE populates the row — it MUST be
    // emitted before row.value is touched, or insert() sees an unwritten
    // buffer (garbage lengths → segfault in downstream hashing). insert()
    // normalizes generic rows, so cast to InternalRow, not UnsafeRow.
    assert(row != null,
      "WholeStageCodegen consume() must prepare a row for a blocking op")
    s"""
       |${row.code}
       |$stateTerm.insert((org.apache.spark.sql.catalyst.InternalRow) ${row.value});
     """.stripMargin
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutput = longMetric("numOutputRows")
    // locals, not `this`: the task closure ships expressions + schema
    // only, never the child plan (the codegen path necessarily references
    // the plan object — that is Spark's own pattern for blocking ops)
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
