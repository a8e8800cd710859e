package graft.queries

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Materialization has one owner ([[Artifacts]]) and leaves nothing
  * behind: no query's build leaves an entry in the session-wide
  * `CacheManager` (Spark would substitute it into later queries that
  * share a subtree), scopes release on every path, and the per-table
  * schema cache never serves a rewritten table's old schema. */
class MaterializationSuite extends SparkSpec {

  // the shipped sf0.001 fixture (TESTDATA.md)
  private val d = Paths.get(sys.props("user.home"), "testdata", "sf0.001").toString

  private def cacheManager = spark.sharedState.cacheManager

  test("persist, cache and unpersist appear in src/main only in Artifacts") {
    val root = Paths.get("src/main/scala")
    val site = """\.persist\(|\.cache\(\)|unpersist\(""".r
    val walk = Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString ->
          site.findAllIn(Files.readString(p)).size)
        .filter(_._2 > 0).toMap
      finally walk.close()
    assert(files.keySet == Set("graft/queries/Artifacts.scala"),
      s"hold relations through Artifacts.scoped / rounds: $files")
  }

  test("building a query that holds relations leaves CacheManager empty") {
    // the queries whose builds held a relation past `run` before the
    // materialization owner existed
    val names = Seq("q_ann_ivf", "q_ann_lsh", "q_ann_pq",
      "q_bigram_lm_perplexity", "q_char_entropy", "q_char_lm_perplexity",
      "q_curriculum_buckets", "q_decontaminate_bloom", "q_dup_pagerank",
      "q_embed_outliers", "q_kneser_ney_perplexity", "q_lm_quality",
      "q_ngram_jaccard", "q_shingle_novelty", "q_stream_bigram_lm",
      "q_tfidf_top", "q_winnow_dedup")
    cacheManager.clearCache() // other suites share this session
    val leaked = names.filter { n =>
      SparkEntry.queries(n)(spark, d)
      !cacheManager.isEmpty
    }
    assert(leaked.isEmpty, s"builds left CacheManager entries: $leaked")
  }

  test("scoped releases its relation when the body returns and when it throws") {
    val df = spark.range(100).toDF("x").filter("x % 3 = 0")
    val n = Artifacts.scoped(df) { held =>
      assert(held.storageLevel != StorageLevel.NONE)
      held.count()
    }
    assert(n == 34)
    assert(df.storageLevel == StorageLevel.NONE)
    val e = intercept[IllegalStateException] {
      Artifacts.scoped(df) { held =>
        assert(held.storageLevel != StorageLevel.NONE)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("rounds frees every round but the last, on success and on failure") {
    def persisted = spark.sparkContext.getPersistentRDDs
    def rddId(w: DataFrame): Int = w.queryExecution.analyzed.collectFirst {
      case l: LogicalRDD => l.rdd.id
    }.get
    val seen = scala.collection.mutable.Buffer.empty[DataFrame]
    val w0 = spark.range(10).toDF("x")
    val last = Artifacts.rounds(w0, 3) { (_, w) =>
      seen += w
      Some(w.selectExpr("x + 1 AS x"))
    }
    assert(last.selectExpr("sum(x)").head().getLong(0) == 75L)
    // seen = round 0 (persisted) + checkpointed rounds 1 and 2
    assert(w0.storageLevel == StorageLevel.NONE)
    seen.drop(1).foreach(w => assert(!persisted.contains(rddId(w))))
    assert(persisted.contains(rddId(last)))

    val failed = scala.collection.mutable.Buffer.empty[DataFrame]
    intercept[IllegalStateException] {
      Artifacts.rounds(w0, 3) { (r, w) =>
        failed += w
        if (r == 3) throw new IllegalStateException("round failed")
        Some(w.selectExpr("x + 1 AS x"))
      }
    }
    assert(w0.storageLevel == StorageLevel.NONE)
    failed.drop(1).foreach(w => assert(!persisted.contains(rddId(w))))

    // no round ran: round 0 comes back checkpointed, its cache released
    val seed = Artifacts.rounds(w0, 3)((_, _) => None)
    assert(seed.count() == 10 && w0.storageLevel == StorageLevel.NONE)
  }

  test("Tables.t reads a rewritten table's new schema") {
    val dir = tmpDir("tables_schema").toString
    import spark.implicits._
    Seq(1L, 2L).toDF("a").write.mode("overwrite").parquet(s"$dir/tbl.parquet")
    assert(Tables.t(spark, dir, "tbl").schema.fieldNames.toSeq == Seq("a"))
    Seq("x").toDF("b").write.mode("overwrite").parquet(s"$dir/tbl.parquet")
    val again = Tables.t(spark, dir, "tbl")
    assert(again.schema.fieldNames.toSeq == Seq("b"))
    assert(again.as[String].collect().toSeq == Seq("x"))
  }
}
