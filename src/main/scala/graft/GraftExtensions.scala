package graft

import graft.functions.{CosineSim, DotProduct, HeavyHitters, MinHashSignature, SqDist}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions, so `spark.sql("SELECT cosine_sim(a,b)")`
  * works in any session built with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in") // full ctor: the 5-arg one is deprecated

  override def apply(e: SparkSessionExtensions): Unit = {
    // whole-operator planning (TopKPerKey) and the shared-subplan marker
    // — sessions built with these extensions don't need the runtime
    // experimental-strategy injection
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    e.injectPlannerStrategy(_ => graft.plans.SharedStrategy)
    e.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(array<double>, array<double>) - cosine similarity"),
      (args: Seq[Expression]) => CosineSim(args(0), args(1))))
    e.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(array<double>, array<double>) - dot product"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
    e.injectFunction((FunctionIdentifier("sq_dist"),
      info("sq_dist", "sq_dist(array<double>, array<double>) - squared L2 distance"),
      (args: Seq[Expression]) => SqDist(args(0), args(1))))
    // sketch aggregates (SQL GROUP BY usable)
    e.injectFunction((FunctionIdentifier("heavy_hitters"),
      info("heavy_hitters", "heavy_hitters(col[, capacity]) - Misra-Gries top items"),
      (args: Seq[Expression]) => HeavyHitters(args.head,
        if (args.length > 1) args(1).eval().asInstanceOf[Int] else 64)))
    e.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(col[, k]) - MinHash signature array"),
      (args: Seq[Expression]) => MinHashSignature(args.head,
        if (args.length > 1) args(1).eval().asInstanceOf[Int] else 32)))
    // multi-table LSH bucketing straight from SQL; plane matrix derives
    // deterministically from the (literal) shape arguments at plan time
    e.injectFunction((FunctionIdentifier("sign_lsh_buckets"),
      info("sign_lsh_buckets",
        "sign_lsh_buckets(v[, nTables, nPlanes, dim, seed]) - per-table LSH bucket ids"),
      (args: Seq[Expression]) => {
        def intArg(i: Int, dflt: Int) =
          if (args.length > i) args(i).eval().asInstanceOf[Number].intValue() else dflt
        val (nT, nP, dim) = (intArg(1, 16), intArg(2, 4), intArg(3, 64))
        val seed = if (args.length > 4) args(4).eval().asInstanceOf[Number].longValue() else 42L
        graft.functions.SignLshBuckets(args.head,
          graft.functions.SignLsh.planes(nT * nP, dim, seed), nT, nP)
      }))
    e.injectFunction((FunctionIdentifier("ordered_pairs"),
      info("ordered_pairs",
        "ordered_pairs(array<bigint>) - every ordered (i<j) element pair as struct<doc_a,doc_b>"),
      (args: Seq[Expression]) => graft.functions.OrderedPairs(args.head)))
    e.injectFunction((FunctionIdentifier("winnow_fingerprints"),
      info("winnow_fingerprints",
        "winnow_fingerprints(text[, k, window]) - winnowed rolling-hash fingerprints"),
      (args: Seq[Expression]) => {
        def intArg(i: Int, dflt: Int) =
          if (args.length > i) args(i).eval().asInstanceOf[Number].intValue() else dflt
        graft.functions.WinnowFingerprints(args.head, intArg(1, 8), intArg(2, 4))
      }))
  }
}
