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

  /** `localCheckpoint(` call sites under `src/main`: 36 before the
    * shared-subplan marker, this many after. */
  private val MaxEagerSites = 30

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

  // perfbench's batch gate (perfbench `Gate.BatchQueries`) and the jobs a
  // warm build of each may start: none, except the tokenizer trainer,
  // whose merge rounds are data-dependent and run as jobs by design
  private val gateBuildJobs = Seq(
    "q_containment_dedup" -> 0, "q_char_lm_perplexity" -> 0, "q_skew_join" -> 0,
    "q6_forecast_revenue" -> 0, "q_unigram_tokenizer" -> 13, "q_pii_redact" -> 0,
    "q_embed_knn" -> 0, "q_bm25" -> 0, "q_media_dedup" -> 0,
    "q_codec_roundtrip" -> 0, "q_wasm_map" -> 0)

  test("a warm build of a gate query starts no job; the tokenizer's are capped") {
    val sf001 = Paths.get(sys.props("user.home"), "testdata", "sf0.01").toString
    val over = gateBuildJobs.flatMap { case (n, cap) =>
      SparkEntry.queries(n)(spark, sf001).collect() // warm: artifacts, schemas
      val (_, jobs) = jobsDuring(SparkEntry.queries(n)(spark, sf001))
      if (jobs > cap) Some(s"$n: $jobs > $cap") else None
    }
    assert(over.isEmpty, s"builds over their job ceiling: $over")
  }

  test("localCheckpoint( sites under src/main do not grow, and each says why it is eager") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    // a site is a code line calling it; its reason is an `// eager: …`
    // comment (a driver action reads it, an iterative loop, a plan test
    // pins it, no exchange the readers could share, or the lazy form
    // measured slower) on that line or within the 8 lines above it
    val reason = """// eager: \S""".r
    val sites = sources.flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toIndexedSeq
      lines.indices.collect {
        case i if lines(i).contains("localCheckpoint(") &&
            !lines(i).trim.startsWith("*") && !lines(i).trim.startsWith("//") =>
          val why = lines.slice(math.max(0, i - 8), i + 1)
            .exists(l => reason.findFirstIn(l).isDefined)
          (s"${root.relativize(p)}:${i + 1}", why)
      }
    }
    assert(sites.size <= MaxEagerSites,
      s"${sites.size} localCheckpoint( sites (at most $MaxEagerSites): " +
      "mark a subtree several branches read with Artifacts.shared instead")
    val unexplained = sites.filterNot(_._2).map(_._1)
    assert(unexplained.isEmpty, s"eager sites without an `// eager:` reason: $unexplained")
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
