package graft.queries

import graft.channel.Channel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared harness plumbing for the gate's STREAMING queries: staging a
  * batch relation as a directory of N parquet files (one per intended
  * micro-batch) and draining a bounded memory sink into a local relation.
  * Test/gate scaffolding only — production pipelines read live channels,
  * not staged temp dirs. Centralized so the cleanup contract (temp tree
  * removed, sink view dropped — on failure paths too) lives in one place.
  */
private[queries] object Staging {

  /** Fresh temp dir handed to `body`, deleted on the way out — success or
    * failure. */
  def withTempDir[T](prefix: String)(body: java.nio.file.Path => T): T = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    try body(tmp) finally Channel.deleteRecursively(tmp)
  }

  /** Write `df` as `nFiles` range-partitioned parquet files under a fresh
    * temp dir and hand `body` the input path; the tree is deleted on the
    * way out, success or failure. Range partitioning on `rangeCol` gives
    * deterministic batch membership (file N = Nth key range), so
    * cross-batch state claims are reproducible. */
  def withStagedInput[T](df: DataFrame, rangeCol: String, nFiles: Int,
                         prefix: String)(body: String => T): T =
    withTempDir(prefix) { tmp =>
      df.repartitionByRange(nFiles, col(rangeCol))
        .write.mode("overwrite").parquet(s"$tmp/in")
      // Pin ARRIVAL order to range order: the file source replays files
      // by mod-time (path only tie-breaks), and a same-millisecond write
      // leaves the order effectively arbitrary — queries whose semantics
      // depend on batch order (first-occurrence span dedup) silently
      // judged later ranges first.
      pinArrivalOrder(s"$tmp/in")
      body(s"$tmp/in")
    }

  /** THE one copy of the arrival-order pin: distinct ascending mod-times
    * by file name (= partition = range order), so the file source's
    * mod-time replay order equals ascending-key order. setLastModified
    * returns false instead of throwing where utimes is not permitted —
    * order-SENSITIVE queries (first-occurrence span dedup) would then
    * nondeterministically mismatch their oracle with no hint why, so a
    * failed pin is a loud staging failure instead. */
  private def pinArrivalOrder(dir: String): Unit =
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        require(f.setLastModified(1000L * (i + 1)),
          s"cannot pin staged arrival order: setLastModified failed on $f")
      }

  /** Start a streaming query with `spark.sql.shuffle.partitions` pinned
    * to `parts` for the duration of the start call — stateful operators
    * freeze their state-partition count into the checkpoint at first
    * start, and 32 mostly-idle state-store tasks per trigger dominate
    * small-batch wall time. Also pins
    * `spark.sql.streaming.noDataMicroBatches.enabled=false`: the staged
    * replays drive every watermark-gated emission with trailing DATA
    * sentinels ([[withOrderedReplay]] — append-mode emission lags the
    * watermark by one batch, hence TWO sentinels, the second emitting
    * everything the first unlocked), so the zero-row batch Spark would
    * append after the last file only re-commits every state store
    * (~0.5–1 s/query) to emit sentinel-keyed rows the drains filter out.
    * Scoped HERE, not session-wide: library streams (graft.streaming.*)
    * keep the default — their event-time TTLs legitimately sweep state
    * in no-data batches (EngineSuite pins that semantic). Streaming
    * queries clone the session conf at `start`, so pinning around the
    * start call is airtight; the session conf is restored afterwards. */
  def sizedStart(s: SparkSession, parts: Int)(
      start: => org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    s.conf.set("spark.sql.shuffle.partitions", parts.toString)
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try start finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
    }
  }
  // Measured and rejected here (r19, verdict task #1): pinning the RocksDB
  // state-store provider (+ changelog checkpointing) around `start` the
  // same way. Per-trigger profile on q_stream_right_join/q_stream_sessions
  // (durationMs phases, quiet host): wall 7.16→7.35 s / 4.20→4.05 s —
  // sentinel batches ~10% faster (addBatch 716→641 ms), data batches
  // slower (summed store update 1081→1745 ms), summed commit flat
  // (~2.0-2.4 s over 32 instances either way), per-store memory 3.3→33 MB.
  // The trigger floor is task scheduling + incremental planning + commit
  // bookkeeping, not the store backend; HDFSBacked stays.

  /** Stage `df` as an event-time-ordered replay: `nFiles` range-partitioned
    * parquet files on `rangeCols` (batch k+1 never carries a key below
    * batch k's max — with time-leading range cols, a 0-second watermark
    * drops nothing), followed by the single-partition `flushes` frames as
    * trailing sentinel files (watermark drivers — append-mode emission
    * lags the watermark by one batch, so a final sentinel triggers the
    * batch that emits everything the previous one unlocked). Arrival
    * order is pinned with distinct mod-times (the file source orders by
    * mod-time; same-millisecond writes would tie-break on path). The tree
    * is deleted on the way out, success or failure. */
  def withOrderedReplay[T](df: DataFrame, rangeCols: Seq[org.apache.spark.sql.Column],
                           nFiles: Int, prefix: String, flushes: Seq[DataFrame])
                          (body: String => T): T =
    withTempDir(prefix) { tmp =>
      val in = s"$tmp/in"
      df.repartitionByRange(nFiles, rangeCols: _*).write.parquet(in)
      flushes.zipWithIndex.foreach { case (fl, i) =>
        val dir = s"$tmp/flush$i"
        fl.coalesce(1).write.parquet(dir)
        val part = new java.io.File(dir).listFiles()
          .filter(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(in, f"part-zz-flush$i%02d.parquet"))
      }
      pinArrivalOrder(in)
      body(in)
    }

  /** Read a foreachBatch parquet drain back, order it, and copy it into
    * a LOCAL relation — the staged tree is deleted on the way out, so
    * the result must not keep lineage onto it. Bounded by construction:
    * one row per entity the streaming query emitted. THE one copy of
    * the drain contract (four streaming queries route through it). */
  def drainParquet(s: SparkSession, dir: String,
                   order: org.apache.spark.sql.Column*): DataFrame = {
    val read = s.read.option("recursiveFileLookup", "true").parquet(dir)
    val res = if (order.isEmpty) read else read.orderBy(order: _*)
    s.createDataFrame(res.collectAsList(), res.schema)
  }

  /** Exactly-once foreachBatch parquet write: each micro-batch OVERWRITES
    * its own deterministic subdirectory, so a batch replayed after a
    * failure/restart rewrites the same files instead of appending
    * duplicates (plain `mode("append")` is not idempotent under
    * foreachBatch's at-least-once contract). [[drainParquet]] reads the
    * subdirectories back recursively. */
  def writeBatch(df: DataFrame, dir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$dir/b$batchId")

  /** Run `run` (which starts and finishes a memory-sink streaming query
    * named `sink`), then copy the (bounded) sink out through `shape` into
    * a LOCAL relation. The sink view is dropped in a finally that covers
    * BOTH the streaming run and the drain — a failed micro-batch must not
    * park a uniquely-named MemorySink's rows in driver memory for the
    * session lifetime (dropTempView on a never-registered view is a
    * harmless no-op, so the guard also covers a failure before start). */
  def runAndDrain(s: SparkSession, sink: String)(run: => Unit)
                 (shape: DataFrame => DataFrame): DataFrame =
    try {
      run
      val res = shape(s.table(sink))
      s.createDataFrame(res.collectAsList(), res.schema)
    } finally s.catalog.dropTempView(sink)
}
