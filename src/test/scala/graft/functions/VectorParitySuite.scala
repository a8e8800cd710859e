package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

/** Each vector expression is one Scala kernel that eval calls directly
  * and generated code calls through a reference object. This suite pins
  * that the two paths agree bit for bit on seeded vectors read from a
  * parquet column (zero vectors, zero and negative components included),
  * and that both raise on a length mismatch.
  */
class VectorParitySuite extends graft.SparkSpec {
  import spark.implicits._

  private val dim = 8
  private val (nTables, nPlanes) = (4, 3)
  private val planes = SignLsh.planes(nTables * nPlanes, dim, seed = 7L)
  private val centroids = SignLsh.planes(6, dim, seed = 11L)

  private lazy val vectors: DataFrame = {
    val rnd = new scala.util.Random(20261021L)
    def vec(n: Int): Array[Double] =
      Array.fill(n)(if (rnd.nextInt(6) == 0) 0.0 else rnd.nextGaussian() * 3.0)
    val rows = (0 until 300).map { id =>
      val a = if (id == 0) Array.fill(dim)(0.0) else vec(dim)
      val b = if (id == 1) Array.fill(dim)(0.0) else vec(dim)
      (id, a, b, vec(dim - 3))
    }
    // read back from parquet: a Project over a local relation would be
    // folded by the optimizer and never reach either execution path
    val path = tmpDir("vector-parity").resolve("v").toString
    rows.toDF("id", "a", "b", "short").repartition(3).write.parquet(path)
    spark.read.parquet(path)
  }

  private def kernels(b: String): Seq[(String, Column)] = Seq(
    "dot_product" -> VectorExpressions.dot(col("a"), col(b)),
    "cosine_sim" -> VectorExpressions.cosine(col("a"), col(b)),
    "sq_dist" -> VectorExpressions.sqDist(col("a"), col(b)),
    "sign_lsh_buckets" -> VectorExpressions.signLshBuckets(col(b), planes, nTables, nPlanes),
    "nearest_cells" -> VectorExpressions.nearestCells(col(b), centroids, 2))

  private val generated = Seq("spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false",
    "spark.sql.adaptive.enabled" -> "false")
  private val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  private def withConfs[A](confs: Seq[(String, String)])(body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def stages(df: DataFrame): Seq[String] = df.queryExecution.executedPlan.collect {
    case w: WholeStageCodegenExec => w.doCodeGen()._2.body
  }

  /** Rows by id: doubles as their bits, arrays as Scala seqs. */
  private def run(confs: Seq[(String, String)]): (Seq[Seq[Any]], Seq[String]) =
    withConfs(confs) {
      val df = vectors.select(col("id") +: kernels("b").map { case (n, c) => c.as(n) }: _*)
      val rows = df.collect().toSeq.sortBy(_.getInt(0)).map { r =>
        Seq(r.getInt(0)) ++ (1 to 3).map(i => java.lang.Double.doubleToRawLongBits(r.getDouble(i))) ++
          Seq(r.getSeq[Long](4), r.getSeq[Int](5))
      }
      (rows, stages(df))
    }

  test("generated and interpreted paths agree bit for bit") {
    val (gen, genStages) = run(generated)
    val (interp, interpStages) = run(interpreted)
    assert(genStages.exists(s => s.sliding(8).count(_ == ".kernel(") >= 5),
      s"the kernels did not run from generated code:\n${genStages.mkString("\n")}")
    assert(interpStages.isEmpty, "interpreted run still planned a codegen stage")
    assert(gen.size == 300 && gen == interp)
    // the inputs reach the edge cases: a zero vector's cosine is NaN, and
    // negative components give negative dot products
    val cos = gen.map(r => java.lang.Double.longBitsToDouble(r(2).asInstanceOf[Long]))
    val dot = gen.map(r => java.lang.Double.longBitsToDouble(r(1).asInstanceOf[Long]))
    assert(cos.count(_.isNaN) == 2 && dot.exists(_ < 0.0))
  }

  test("a length mismatch raises on both paths") {
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    for (confs <- Seq(generated, interpreted); (name, c) <- kernels("short")) {
      val e = intercept[Exception](withConfs(confs)(vectors.select(c).collect()))
      assert(causes(e).exists(x => String.valueOf(x.getMessage).contains("vector length mismatch")),
        s"$name under ${confs.head}: $e")
    }
  }
}
