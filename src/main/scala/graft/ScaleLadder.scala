package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale ladder (r16 verdict #1): measure — not plan-assert —
  * how the highest-cpu operators grow from sf0.1 to a synthetic ×10
  * corpus, so a super-linear constant hiding behind a correct plan
  * SHAPE (hot-shingle fan-out, per-trigger planning overhead) shows up
  * as a measured exponent instead of passing every gate.
  *
  * The ×10 corpus re-keys sf0.1's `documents`/`embeddings` ten times
  * with id offsets that are multiples of 8 (preserving the
  * new-batch/historical split every incremental seam keys on —
  * [[graft.queries.DedupOps.isNewDoc]]) and perturbs replica text /
  * vectors so replicas are NOT near-duplicates of the base — EXCEPT the
  * planted cross-copy duplicates (`doc_id % 100 == 0` keeps its text
  * verbatim in every replica), which verify that dedup at ×10 still
  * finds long-range duplicate structure rather than having been scaled
  * into a corpus with nothing to find. Duplicate DENSITY therefore
  * stays ~constant while rows grow 10× — the regime the linear-growth
  * claim is about (an all-copies corpus would instead grow every
  * within-cluster pair set quadratically by construction).
  *
  * Per (query, scale): one untimed warm pass then two timed passes,
  * keeping the faster (the Bench steady-state protocol); each timed
  * window snapshots a task-metrics listener for executor cpu, shuffle
  * read/write bytes, input bytes and peak execution memory. Output:
  * SCALE_LADDER.json (+ a human table on stdout) with the ×10/×1
  * growth ratios that SCALE.md's round-17 table quotes.
  */
object ScaleLadder {

  /** The ladder set: the verdict's ~10 highest-cpu rows — bucketed
    * dedup paths, ANN serving/maintenance, retrieval, and the artifact
    * refresh seams. For the seams the untimed warm pass stages the
    * bootstrap artifacts, so the timed passes measure the REFRESH-run
    * shape — the steady-state production cost whose growth the
    * incremental claim is about. */
  val LadderQueries: Seq[String] = Seq(
    "q_winnow_dedup", "q_allpairs_sim", "q_containment_dedup",
    "q_minhash_lsh", "q_ngram_jaccard", "q_bm25",
    "q_ann_ivf", "q_stream_ann", "q_stream_index_update",
    "q_incremental_dedup", "q_incremental_dsir", "q_ann_drift_rebuild",
    // the cross-batch STATEFUL streaming family (r17 verdict #4): their
    // state-scaling claims were suite-asserted at toy scale only — the
    // ladder measures state-store rows/bytes (via the streaming-progress
    // listener below) alongside cpu as keys grow 10×
    "q_stream_neardup", "q_stream_sessions", "q_stream_span_dedup")

  private class MetricsAgg extends SparkListener {
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val shufR = new java.util.concurrent.atomic.AtomicLong(0L)
    val shufW = new java.util.concurrent.atomic.AtomicLong(0L)
    val input = new java.util.concurrent.atomic.AtomicLong(0L)
    val peakMem = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(m.inputMetrics.bytesRead)
        peakMem.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
      }
    }
    def snap(): (Long, Long, Long, Long, Long) =
      (cpuNs.get, shufR.get, shufW.get, input.get, peakMem.get)
  }

  /** Streaming state-store window: max total state rows / bytes observed
    * across any trigger's progress while armed. The stateful ladder rows
    * (neardup / sessions / span-dedup) carry cross-batch state whose
    * growth-in-keys is the 100 TB claim — task metrics can't see it, the
    * progress events can. Max (not last): a query's terminal progress can
    * report an already-evicted store. */
  private class StateAgg extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val rows = new java.util.concurrent.atomic.AtomicLong(0L)
    val mem = new java.util.concurrent.atomic.AtomicLong(0L)
    def reset(): Unit = { rows.set(0L); mem.set(0L) }
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val ops = e.progress.stateOperators
      if (ops.nonEmpty) {
        rows.accumulateAndGet(ops.map(_.numRowsTotal).sum, math.max(_, _))
        mem.accumulateAndGet(ops.map(_.memoryUsedBytes).sum, math.max(_, _))
      }
    }
  }

  /** Task-metrics window for a block: returns (shuffleWriteBytes,
    * executorCpuNs) attributed to `body`'s jobs. Public-ish so the
    * growth regression guard (ScaleGrowthSuite) measures through the
    * same listener the ladder uses. */
  private[graft] def measure(s: SparkSession)(body: => Unit): (Long, Long) = {
    val agg = new MetricsAgg
    s.sparkContext.addSparkListener(agg)
    try {
      body
      settle(agg)
      (agg.shufW.get, agg.cpuNs.get)
    } finally s.sparkContext.removeSparkListener(agg)
  }

  /** The listener bus is async — wait until the counters stop moving
    * before snapshotting (two consecutive equal reads 200 ms apart). */
  private def settle(agg: MetricsAgg): Unit = {
    var prev = agg.snap(); var same = 0
    while (same < 2) {
      Thread.sleep(200)
      val cur = agg.snap()
      if (cur == prev) same += 1 else { same = 0; prev = cur }
    }
  }

  /** Build the ×`factor` corpus under `out` from `base` (idempotent —
    * keyed on a sentinel file). Non-laddered tables are symlinked. */
  def buildCorpus(s: SparkSession, base: String, out: String, factor: Int): Unit = {
    val outP = java.nio.file.Paths.get(out)
    val done = outP.resolve("_LADDER_DONE")
    if (java.nio.file.Files.exists(done)) return
    java.nio.file.Files.createDirectories(outP)

    def offsetOf(df: DataFrame, idCol: String): Long = {
      val m = df.agg(max(col(idCol))).head().getLong(0)
      ((m + 1 + 7) / 8) * 8 // multiple of 8: preserves the %8 batch split
    }

    val docs = s.read.parquet(s"$base/documents.parquet")
    val dOff = offsetOf(docs, "doc_id")
    val docReplicas = (0 until factor).map { r =>
      val perturbed =
        if (r == 0) docs.select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))
        else docs.select(
          (col("doc_id") + lit(r * dOff)).as("doc_id"),
          // planted cross-copy duplicates keep their text verbatim in
          // every replica; every OTHER doc gets a replica suffix on EVERY
          // word, so replicas share zero shingles with the base or each
          // other — duplicate/shared-shingle DENSITY stays constant as
          // rows grow 10× (each replica carries the base corpus's own
          // internal near-dup structure under its own vocabulary). The
          // first ladder build tagged only every 4th word: the ~25%
          // surviving shingles made every shingle group 10× denser and
          // candidate pair counts grew ~quadratically BY CORPUS
          // CONSTRUCTION, swamping the engine growth being measured.
          when(col("doc_id") % 100 === 0, col("text"))
            .otherwise(regexp_replace(col("text"),
              "(\\S+)", s"$$1x$r")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      perturbed.withColumn("n_chars", length(col("text")).cast("long"))
    }
    docReplicas.reduce(_.union(_))
      .repartition(32, col("doc_id"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = s.read.parquet(s"$base/embeddings.parquet")
    val eOff = offsetOf(emb, "vec_id")
    val embReplicas = (0 until factor).map { r =>
      if (r == 0) emb.select(col("vec_id"), col("embedding"), col("label"))
      else emb.select(
        (col("vec_id") + lit(r * eOff)).as("vec_id"),
        // small deterministic per-replica jitter on component 0 so
        // replicas are near but not identical (identical vectors would
        // make every ANN best-sim a planted 10-way tie)
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + (pmod(col("vec_id") * 31 + lit(r * 17), lit(100))
            .cast("float") - 50.0f) / 1000.0f).otherwise(x)).as("embedding"),
        col("label"))
    }
    embReplicas.reduce(_.union(_))
      .repartition(8, col("vec_id"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // the rest of the schema rides along untouched (ladder queries only
    // touch documents/embeddings, but SparkEntry queries resolve tables
    // relative to the dir)
    val linked = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events")
    linked.foreach { t =>
      val link = outP.resolve(s"$t.parquet")
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(link,
          java.nio.file.Paths.get(s"$base/$t.parquet"))
    }
    java.nio.file.Files.write(done, Array.emptyByteArray)
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val ladderDir = sys.env.getOrElse("SPARK_GRAFT_LADDER_DIR", "/tmp/graft_scale_x10")
    val factor = sys.env.getOrElse("SPARK_GRAFT_LADDER_FACTOR", "10").toInt
    val nameFilter = args.lift(0).map(_.r)
    val spark = Tables.localSession()

    buildCorpus(spark, base, ladderDir, factor)

    val agg = new MetricsAgg
    spark.sparkContext.addSparkListener(agg)
    val stateAgg = new StateAgg
    spark.streams.addListener(stateAgg)

    val names = LadderQueries
      .filter(n => nameFilter.forall(_.findFirstIn(n).isDefined))

    // JIT warmup at the smallest sf (the Bench protocol)
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    System.gc()

    case class Run(wall: Double, cpu: Double, shufR: Long, shufW: Long,
                   input: Long, peakMem: Long, stateRows: Long, stateMem: Long)
    def timed(name: String, dir: String): Run = {
      settle(agg)
      stateAgg.reset()
      val s0 = agg.snap()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      settle(agg) // also long enough for in-flight progress events
      val s1 = agg.snap()
      System.gc()
      Run(wall, (s1._1 - s0._1) / 1e9, s1._2 - s0._2, s1._3 - s0._3,
        s1._4 - s0._4, s1._5, stateAgg.rows.get, stateAgg.mem.get)
    }
    def best(name: String, dir: String): Run = {
      timed(name, dir) // warm pass (parquet footers, codegen) — untimed
      val a = timed(name, dir); val b = timed(name, dir)
      if (a.wall <= b.wall) a else b
    }

    val rows = names.map { n =>
      def attempt(dir: String): Option[Run] =
        try Some(best(n, dir))
        catch { case e: Throwable =>
          println(s"LADDER_FAIL $n @ $dir: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
          None
        }
      val r1 = attempt(base)
      val rN = attempt(ladderDir)
      println(f"LADDER $n%-24s " + ((r1, rN) match {
        case (Some(a), Some(b)) =>
          f"wall ${a.wall}%7.2f -> ${b.wall}%7.2f (${b.wall / a.wall}%4.1fx)  " +
          f"cpu ${a.cpu}%7.1f -> ${b.cpu}%7.1f (${b.cpu / math.max(a.cpu, 1e-9)}%4.1fx)  " +
          f"shufW ${a.shufW / 1e6}%8.1f -> ${b.shufW / 1e6}%8.1fMB (${b.shufW.toDouble / math.max(a.shufW, 1)}%4.1fx)" +
          (if (a.stateRows > 0 || b.stateRows > 0)
            f"  state ${a.stateRows}%d -> ${b.stateRows}%d rows " +
            f"(${a.stateMem / 1e6}%.1f -> ${b.stateMem / 1e6}%.1fMB)"
          else "")
        case _ => "FAILED"
      }))
      n -> (r1, rN)
    }

    def j(r: Option[Run]): String = r match {
      case Some(x) => f"""{"wall":${x.wall}%.3f,"cpu":${x.cpu}%.3f,"shuffle_read":${x.shufR},"shuffle_write":${x.shufW},"input":${x.input},"peak_mem":${x.peakMem},"state_rows":${x.stateRows},"state_mem":${x.stateMem}}"""
      case None => "null"
    }
    val json = rows.map { case (n, (a, b)) =>
      s""""$n":{"x1":${j(a)},"x$factor":${j(b)}}""" }.mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get("SCALE_LADDER.json"),
      (s"""{"base":"$base","factor":$factor,"queries":$json}""" + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println("LADDER_DONE")
    spark.stop()
  }
}
