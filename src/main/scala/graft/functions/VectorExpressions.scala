package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for the vector hot path. The higher-order
  * `zip_with`/`aggregate` forms evaluate an interpreted lambda per array
  * element (~dim × 3 closures per row); each expression here is one Scala
  * kernel that reads the `ArrayData` elements in place — no per-pair
  * array copy (a first cut copied both sides with `toDoubleArray`, and at
  * 4M candidate pairs the copies dominated the ANN queries). Eval calls
  * the kernel directly; generated code calls the same kernel through a
  * reference object, so the enclosing WholeStageCodegen stage stays fused
  * and both paths give bit-identical results.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  /** Public for the generated code path (called through a reference obj).
    * Accumulates left to right, so the result equals a left fold. */
  def kernel(a: ArrayData, b: ArrayData): Double

  override def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.kernel($a, $b);")
  }

  /** The common length of `a` and `b`; throws when they differ. */
  protected final def length(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (n != b.numElements()) throw new IllegalArgumentException(
      s"vector length mismatch: $n vs ${b.numElements()}")
    n
  }
}

/** Sequential-order dot product (bit-parity with a left fold). */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def kernel(a: ArrayData, b: ArrayData): Double = {
    val n = length(a, b)
    var dot = 0.0
    var i = 0
    while (i < n) { dot += a.getDouble(i) * b.getDouble(i); i += 1 }
    dot
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}

/** Cosine similarity: dot / (‖x‖·‖y‖), all three accumulations
  * left-to-right. */
case class CosineSim(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def kernel(a: ArrayData, b: ArrayData): Double = {
    val n = length(a, b)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}

/** Squared Euclidean distance (IVF assignment metric). */
case class SqDist(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def kernel(a: ArrayData, b: ArrayData): Double = {
    val n = length(a, b)
    var acc = 0.0
    var i = 0
    while (i < n) { val d = a.getDouble(i) - b.getDouble(i); acc += d * d; i += 1 }
    acc
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}

/** All multi-table LSH buckets in ONE pass over the vector: element
  * `t` of the result is table `t`'s bucket id (bit `b` set iff
  * dot(v, plane[t*nPlanes+b]) > 0). Replaces the first-cut formulation of
  * nTables × nPlanes separate [[DotProduct]](v, literal-array) expressions,
  * whose plan was 64 expressions × 64-element literal arrays — slow to
  * analyze, slow to evaluate (v re-read per plane). Per-row cost here is
  * dim × totalPlanes fused multiply-adds; the plane matrix rides along as
  * a plain constructor value, not a literal subtree.
  *
  * The generated code calls the kernel through a reference object: one
  * virtual call per input row, and the banding stage's
  * scan->project->posexplode span stays fused (a CodegenFallback would
  * split it out of WholeStageCodegen, as for `WordShingleHashes`).
  */
case class SignLshBuckets(child: Expression,
                          planes: IndexedSeq[IndexedSeq[Double]],
                          nTables: Int, nPlanes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(planes.length == nTables * nPlanes, "plane count must be nTables*nPlanes")

  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, false)
  override def nullable: Boolean = true
  override def prettyName: String = "sign_lsh_buckets"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double>, got ${other.simpleString}")
  }

  @transient private lazy val flat: Array[Double] = planes.flatten.toArray
  @transient private lazy val dim: Int = planes.head.length

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  /** Public for the generated code path (called through a reference obj). */
  def kernel(v: ArrayData): ArrayData = {
    require(v.numElements() == dim, s"vector length mismatch: ${v.numElements()} vs $dim")
    val total = nTables * nPlanes
    val acc = new Array[Double](total)
    var i = 0
    while (i < dim) {
      val x = v.getDouble(i)
      var j = 0
      while (j < total) { acc(j) += x * flat(j * dim + i); j += 1 }
      i += 1
    }
    val buckets = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bits = 0L
      var b = 0
      while (b < nPlanes) {
        if (acc(t * nPlanes + b) > 0.0) bits |= (1L << b)
        b += 1
      }
      buckets(t) = bits
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buckets)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("signLshBuckets", this, classOf[SignLshBuckets].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The `k` nearest centroid indices (squared Euclidean, ties by index) in
  * one pass — IVF cell assignment and multi-probe in a single expression.
  * Same plan-size rationale as [[SignLshBuckets]]: the centroid matrix is
  * a constructor value, not k × dim literal subtrees.
  */
case class NearestCells(child: Expression,
                        centroids: IndexedSeq[IndexedSeq[Double]], k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(k >= 1 && k <= centroids.length, "1 <= k <= centroid count")

  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.IntegerType, false)
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_cells"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double>, got ${other.simpleString}")
  }

  @transient private lazy val cents: Array[Array[Double]] = centroids.map(_.toArray).toArray

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  /** Public for the generated code path (called through a reference obj). */
  def kernel(v: ArrayData): ArrayData = {
    val dim = cents(0).length
    require(v.numElements() == dim, s"vector length mismatch: ${v.numElements()} vs $dim")
    val x = v.toDoubleArray()
    val dists = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      var acc = 0.0
      var i = 0
      while (i < dim) { val d = x(i) - cv(i); acc += d * d; i += 1 }
      dists(c) = acc
      c += 1
    }
    // selection of k smallest (k, ncells both tiny — O(k*n) fine)
    val picked = new Array[Int](k)
    val used = new Array[Boolean](cents.length)
    var p = 0
    while (p < k) {
      var best = -1
      var c2 = 0
      while (c2 < cents.length) {
        if (!used(c2) && (best < 0 || dists(c2) < dists(best))) best = c2
        c2 += 1
      }
      used(best) = true
      picked(p) = best
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(picked)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCells", this, classOf[NearestCells].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object VectorExpressions {
  import org.apache.spark.sql.GraftSqlBridge.{toColumn, toExpression}
  def dot(a: Column, b: Column): Column = toColumn(DotProduct(toExpression(a), toExpression(b)))
  def cosine(a: Column, b: Column): Column = toColumn(CosineSim(toExpression(a), toExpression(b)))
  def sqDist(a: Column, b: Column): Column = toColumn(SqDist(toExpression(a), toExpression(b)))
  def signLshBuckets(v: Column, planes: IndexedSeq[IndexedSeq[Double]],
                     nTables: Int, nPlanes: Int): Column =
    toColumn(SignLshBuckets(toExpression(v), planes, nTables, nPlanes))
  def nearestCells(v: Column, centroids: IndexedSeq[IndexedSeq[Double]], k: Int): Column =
    toColumn(NearestCells(toExpression(v), centroids, k))
}
