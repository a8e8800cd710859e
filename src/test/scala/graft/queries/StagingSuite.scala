package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** The Staging driver's cleanup CONTRACT is load-bearing for long-lived
  * sessions (a failed gate query must not leak memory-sink views, running
  * streams, or temp trees) — so the failure paths are tested directly,
  * not assumed from the happy path.
  */
class StagingSuite extends graft.SparkSpec {

  private val sf0001 =
    java.nio.file.Paths.get(sys.props("user.home"), "testdata", "sf0.001").toString

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  private def causes(t: Throwable): Iterator[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)

  test("view drops the sink view even when the streaming run throws") {
    import spark.implicits._
    val before = tempViews()
    // the memory sink registers its view at start; the first micro-batch
    // then fails
    val failing = udf { (id: Long) =>
      if (id >= 0) throw new RuntimeException("batch failed")
      id
    }
    val boom = intercept[StreamingQueryException] {
      Staging.replay(Seq((1L, "a")).toDF("id", "v"), Seq(col("id")), 1) { src =>
        Staging.view(src.select(failing(col("id")).as("id")))(identity)
      }
    }
    assert(causes(boom).exists(e => Option(e.getMessage).exists(_.contains("batch failed"))))
    assert(tempViews() == before, "failed run leaked the memory-sink view")
  }

  test("view tolerates a failure BEFORE the sink view exists") {
    import spark.implicits._
    val before = tempViews()
    // complete mode without an aggregation is refused at start, before
    // the memory sink registers anything
    val thrown = intercept[AnalysisException] {
      Staging.replay(Seq((1L, "a")).toDF("id", "v"), Seq(col("id")), 1) { src =>
        Staging.view(src, "complete")(identity)
      }
    }
    assert(thrown.getMessage.contains("Invalid streaming output mode: complete"))
    assert(tempViews() == before)
  }

  test("stage removes the staged tree on success and on failure") {
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
    var staged: java.nio.file.Path = null
    Staging.stage(df, Seq(col("doc_id")), nFiles = 2) { in =>
      staged = java.nio.file.Paths.get(in)
      assert(java.nio.file.Files.exists(staged), "input not staged")
      assert(spark.read.parquet(in).count() == 2)
    }
    assert(!java.nio.file.Files.exists(staged), "staged tree survived success")

    var staged2: java.nio.file.Path = null
    intercept[RuntimeException] {
      Staging.stage(df, Seq(col("doc_id")), nFiles = 2) { in =>
        staged2 = java.nio.file.Paths.get(in)
        throw new RuntimeException("body failed")
      }
    }
    assert(!java.nio.file.Files.exists(staged2), "staged tree survived failure")
  }

  test("view returns a LOCAL relation (survives sink drop)") {
    import spark.implicits._
    val before = tempViews()
    val out = Staging.replay(Seq((2L, "b"), (1L, "a")).toDF("id", "v"),
        Seq(col("id")), 2) { src =>
      Staging.view(src)(_.orderBy(col("id")))
    }
    assert(tempViews() == before)
    assert(out.queryExecution.analyzed.isInstanceOf[LocalRelation])
    // the sink view is gone — the result must still be materializable
    assert(out.select("id").as[Long].collect().toSeq == Seq(1L, 2L))
  }

  test("writeBatch is idempotent: a replayed batch id rewrites, never appends") {
    import spark.implicits._
    val dir = tmpDir("wb").toString
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    Staging.writeBatch(df, dir, 7L)
    Staging.writeBatch(df, dir, 7L) // foreachBatch at-least-once replay
    val out = Staging.drainParquet(spark, dir, col("id"))
    assert(out.count() == 3, "replayed batch duplicated rows")
    assert(out.select("id").as[Long].collect().toSeq == Seq(1L, 2L, 3L))
  }

  test("foreachBatch pipeline restarts from checkpoint exactly-once") {
    import spark.implicits._
    // 4 staged files → 4 micro-batches; kill after ≥2 committed, restart
    // with the SAME checkpoint + out dir, and the drained result must be
    // exactly the batch answer — nothing missing, nothing doubled.
    val docs = (0L until 40L).map(i => (i, s"v$i")).toDF("doc_id", "text")
    val outRoot = tmpDir("wb_restart").toString
    Staging.stage(docs, Seq(col("doc_id")), nFiles = 4) { in =>
      val schema = spark.read.parquet(in).schema
      def run(stopAfterBatches: Option[Int]): Unit = {
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(in)
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$outRoot/ck")
          .foreachBatch { (bdf: org.apache.spark.sql.DataFrame, id: Long) =>
            Staging.writeBatch(
              bdf.select(col("doc_id"), upper(col("text")).as("u")),
              s"$outRoot/res", id)
          }
          .start()
        try stopAfterBatches match {
          case Some(n) =>
            val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
            while (Option(q.lastProgress).forall(_.batchId < n - 1) &&
              System.nanoTime < deadline) Thread.sleep(50)
          case None => q.processAllAvailable()
        } finally q.stop()
      }
      run(stopAfterBatches = Some(2)) // kill mid-stream
      run(stopAfterBatches = None)    // restart, drain the rest
      val out = Staging.drainParquet(spark, s"$outRoot/res", col("doc_id"))
      val got = out.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == (0L until 40L).map(i => (i, s"V$i")),
        s"restart lost or duplicated rows: ${got.size} rows")
    }
  }

  test("streaming twins leave no temp view and no active stream in the session") {
    // the memory-sink twins that once returned a lazy read of their sink
    // (each kept its rows in driver memory for the session lifetime)
    val names = Seq("q_stream_window", "q_stream_channel", "q_stream_dedup",
      "q_stream_join", "q_stream_state_fold")
    val before = tempViews()
    names.foreach { n =>
      val rows = graft.SparkEntry.queries(n)(spark, sf0001).collect()
      assert(rows.nonEmpty, s"$n returned no rows")
    }
    assert(tempViews() == before, s"leftover temp views: ${tempViews() -- before}")
    assert(spark.streams.active.isEmpty,
      s"active streams left: ${spark.streams.active.map(_.name).mkString(", ")}")
  }

  test("only Staging runs streams: no stream scaffold elsewhere under queries/") {
    val dir = java.nio.file.Paths.get("src/main/scala/graft/queries")
    assert(java.nio.file.Files.isDirectory(dir), s"sources not found at $dir")
    val files = dir.toFile.listFiles().filter(_.getName.endsWith(".scala"))
    val patterns = Seq("processAllAvailable", "maxFilesPerTrigger",
      "checkpointLocation", "format(\"memory\")")
    val hits = for {
      f <- files.toSeq if f.getName != "Staging.scala"
      src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      p <- patterns if src.contains(p)
    } yield s"${f.getName}: $p"
    assert(files.exists(_.getName == "Staging.scala"))
    assert(hits.isEmpty, s"stream scaffolds outside Staging: ${hits.mkString("; ")}")
    // a staged ledger is read back only through Staging.readBatches
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val recursive = try walk.iterator().asScala.toList
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Staging.scala")
      .filter(p => java.nio.file.Files.readString(p).contains("\"recursiveFileLookup\""))
      finally walk.close()
    assert(recursive.isEmpty, s"recursiveFileLookup set outside Staging: ${recursive.mkString("; ")}")
  }
}
