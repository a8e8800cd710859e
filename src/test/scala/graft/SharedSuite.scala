package graft

import graft.plans.{Shared, SharedNode, SharedStrategy}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

/** The shared-subplan marker: a subtree several branches read is built
  * with no job, runs once inside the action when it ends in an exchange,
  * and is not rewritten through by the optimizer. */
class SharedSuite extends SparkSpec {

  // (k, x) pairs behind an explode and a distinct — the shape of the
  // dedup shingle relations
  private def shingles(s: org.apache.spark.sql.SparkSession): DataFrame =
    s.range(0, 4000, 1, 4)
      .select((col("id") % 101).as("k"), (col("id") % 7).as("v"))
      .select(col("k"), explode(array(col("v"), col("v") + 1)).as("x"))
      .distinct()

  // two readers: a per-x aggregate picks keys, and a left_semi on those
  // keys above the shared relation feeds a per-k count
  private def twoReaders(sh: DataFrame): DataFrame = {
    val keys = sh.groupBy(col("x")).agg(min(col("k")).as("k")).select(col("k"))
    sh.join(keys, Seq("k"), "left_semi")
      .groupBy(col("k")).agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy(col("k")).collect().map(_.toString).toSeq

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def sharedSubtrees(p: LogicalPlan): Seq[LogicalPlan] =
    p.collect { case n: SharedNode => n.child }

  test("building a plan that reads a shared subtree twice starts no job") {
    val (df, jobs) = jobsDuring(twoReaders(Shared(shingles(spark))))
    assert(jobs == 0, s"building ran $jobs job(s)")
    val (_, eagerJobs) = jobsDuring(twoReaders(shingles(spark).localCheckpoint()))
    assert(eagerJobs > 0, "the eager form this replaces runs a job while building")
    assert(df.count() > 0)
  }

  test("the shared subtree's exchange runs once; the other reader reuses its stage") {
    val df = twoReaders(Shared(shingles(spark)))
    df.collect()
    val all = nodes(df.queryExecution.executedPlan)
    val explodes = all.count(_.isInstanceOf[GenerateExec])
    assert(explodes == 1, s"the shared explode ran $explodes times:\n" +
      df.queryExecution.executedPlan)
    assert(all.exists(_.isInstanceOf[ReusedExchangeExec]),
      s"no reused exchange in the final plan:\n${df.queryExecution.executedPlan}")
    // without the mark the readers' copies are rewritten apart and the
    // explode runs once per reader
    val bare = twoReaders(shingles(spark))
    bare.collect()
    assert(nodes(bare.queryExecution.executedPlan).count(_.isInstanceOf[GenerateExec]) > 1)
  }

  test("a left_semi join or a filter above the mark is not pushed below it") {
    val semi = twoReaders(Shared(shingles(spark))).queryExecution.optimizedPlan
    val filtered = Shared(shingles(spark)).filter(col("k") > 5 && col("x") < 3)
      .queryExecution.optimizedPlan
    for (p <- Seq(semi, filtered)) {
      val subs = sharedSubtrees(p)
      assert(subs.nonEmpty, s"the mark was lost:\n$p")
      subs.foreach { sub =>
        assert(sub.collectFirst { case j: Join => j }.isEmpty,
          s"a join was pushed below the mark:\n$p")
        assert(sub.collectFirst { case f: Filter => f }.isEmpty,
          s"a filter was pushed below the mark:\n$p")
      }
    }
    assert(filtered.isInstanceOf[Filter], s"the filter left its place:\n$filtered")
    // unmarked, the optimizer does push both below the distinct
    val bareFiltered = shingles(spark).filter(col("k") > 5 && col("x") < 3)
      .queryExecution.optimizedPlan
    assert(!bareFiltered.isInstanceOf[Filter])
  }

  test("a projection above the mark does not prune the shared subtree's columns") {
    val p = Shared(shingles(spark)).select(col("k")).queryExecution.optimizedPlan
    val subs = sharedSubtrees(p)
    assert(subs.size == 1 && subs.head.output.map(_.name) == Seq("k", "x"), s"$p")
  }

  test("rows equal the eager-checkpoint form") {
    assert(rows(twoReaders(Shared(shingles(spark)))) ==
      rows(twoReaders(shingles(spark).localCheckpoint())))
  }

  test("works on a vanilla session through runtime strategy injection") {
    val vanilla = spark.newSession()
    assert(!vanilla.experimental.extraStrategies.contains(SharedStrategy))
    val df = twoReaders(Shared(shingles(vanilla)))
    assert(vanilla.experimental.extraStrategies.count(_ == SharedStrategy) == 1)
    assert(rows(df) == rows(twoReaders(shingles(spark))))
    Shared(vanilla.range(3).toDF("k"))
    assert(vanilla.experimental.extraStrategies.count(_ == SharedStrategy) == 1,
      "injection is not idempotent")
  }
}
