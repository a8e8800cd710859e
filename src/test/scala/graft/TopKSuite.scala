package graft

import graft.plans.TopKPerKey
import org.apache.spark.sql.functions._

class TopKSuite extends SparkSpec {
  import spark.implicits._

  test("custom top-k operator matches the window formulation") {
    val df = (1 to 1000).map(i => (s"g${i % 7}", i, (i * 37 % 1000).toDouble))
      .toDF("g", "id", "score").repartition(4)
    val native = TopKPerKey(df, Seq("g"), Seq(col("score").desc, col("id").asc), 3)
      .select("g", "id", "score").orderBy("g", "id")
      .as[(String, Int, Double)].collect().toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("score").desc, col("id").asc)
    val windowed = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("g", "id", "score").orderBy("g", "id")
      .as[(String, Int, Double)].collect().toSeq
    assert(native == windowed)
  }

  test("k larger than group keeps whole groups; ascending order works") {
    val df = Seq(("a", 3), ("a", 1), ("b", 2)).toDF("g", "v")
    val out = TopKPerKey(df, Seq("g"), Seq(col("v").asc), 10)
      .orderBy("g", "v").as[(String, Int)].collect().toSeq
    assert(out == Seq(("a", 1), ("a", 3), ("b", 2)))
    val top1 = TopKPerKey(df, Seq("g"), Seq(col("v").asc), 1)
      .orderBy("g").as[(String, Int)].collect().toSeq
    assert(top1 == Seq(("a", 1), ("b", 2)))
  }

  test("plans partial -> exchange -> final (shuffle pruned to k per key per partition)") {
    val df = (1 to 100).map(i => (i % 3, i)).toDF("g", "v").repartition(4)
    val plan = TopKPerKey(df, Seq("g"), Seq(col("v").asc), 2)
      .queryExecution.executedPlan.toString
    assert("TopKPerKey \\[".r.findAllIn(plan).size == 2, s"expected two phases:\n$plan")
    assert(plan.contains("Exchange"), s"expected an exchange between phases:\n$plan")
    // and no sort anywhere — the whole point vs the window formulation
    assert(!plan.contains("Sort "), s"top-k must not sort:\n$plan")
  }

  test("generated code COMPILES when the child defers expression code") {
    // The child here is a fused stage whose Project defers the cosine
    // kernel call over a broadcast cross join. TopKPerKey runs as an
    // iterator operator above it; compile every generated stage of the
    // plan directly so a codegen failure is loud instead of a silent
    // fallback to interpreted execution.
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    // AQE wraps codegen stages in QueryStageExec nodes that hide them
    // from collect(); plan without it so the stages are inspectable
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probes = (1 to 5).map(i => (i, Array.fill(4)(i.toDouble))).toDF("src", "va")
      val cands = (1 to 50).map(i => (i, Array.fill(4)(1.0 / i))).toDF("nbr", "vb")
      val scored = broadcast(probes).crossJoin(cands)
        .filter(col("nbr") =!= col("src"))
        .select(col("src"), col("nbr"),
          round(graft.functions.VectorFunctions.cosine(col("va"), col("vb")), 6).as("sim"))
      val order = Seq(col("sim").desc, col("nbr").asc)
      val out = TopKPerKey(scored, Seq("src"), order, 3)
      val rows = out.select("src", "nbr", "sim").orderBy("src", "nbr")
        .as[(Int, Int, Double)].collect().toSeq
      val w = org.apache.spark.sql.expressions.Window.partitionBy("src").orderBy(order: _*)
      val windowed = scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select("src", "nbr", "sim").orderBy("src", "nbr")
        .as[(Int, Int, Double)].collect().toSeq
      assert(rows.size == 15 && rows == windowed)
      val sources = out.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec => w.doCodeGen()._2
      }
      assert(sources.exists(_.body.contains(".kernel(")),
        s"no generated stage calls the cosine kernel:\n${out.queryExecution.executedPlan}")
      // throws CompileException on a malformed stage
      sources.foreach(org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compile)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
