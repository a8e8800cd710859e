package graft.queries

import graft.Tables
import graft.channel.Channel
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** THE streaming driver for the gate's streaming twins: stage a batch
  * relation as a directory of N parquet files (one per micro-batch),
  * replay it one file per trigger, run the stream to the end, and hand
  * back a LOCAL result. Two sink forms cover every twin:
  *   - [[ledger]]: `foreachBatch` into per-batch parquet dirs
  *     ([[writeBatch]]), finished by a caller drain ([[drainParquet]]);
  *   - [[view]]: a memory sink the driver names, sizes, drains and drops.
  * Test/gate scaffolding only — production pipelines read live channels,
  * not staged temp dirs. Centralized so the cleanup contract (temp tree
  * removed, stream stopped, sink view dropped — on failure paths too)
  * lives in one place: no twin leaves a view, a stream or a temp tree in
  * the session.
  */
private[queries] object Staging {

  /** The one prefix for staged temp trees and memory-sink names. */
  private val Prefix = "graft_stream_"
  private val sinks = new java.util.concurrent.atomic.AtomicLong()

  /** State/shuffle width the view form starts its streams at (see
    * [[sizedStart]]). */
  private val Width = 8

  /** Fresh temp dir handed to `body`, deleted on the way out — success or
    * failure. */
  def withTempDir[T](body: java.nio.file.Path => T): T = {
    val tmp = java.nio.file.Files.createTempDirectory(Prefix)
    try body(tmp) finally Channel.deleteRecursively(tmp)
  }

  /** Stage `df` under a fresh temp dir and hand `body` the input path; the
    * tree is deleted on the way out, success or failure. `nFiles`
    * range-partitioned parquet files on `rangeCols` give deterministic
    * batch membership (file N = Nth key range), so cross-batch state
    * claims are reproducible; with time-leading range cols batch k+1
    * never carries a key below batch k's max, so a 0-second watermark
    * drops nothing. The single-partition `flushes` frames follow as
    * trailing sentinel files (watermark drivers — append-mode emission
    * lags the watermark by one batch, so a final sentinel triggers the
    * batch that emits everything the previous one unlocked). */
  def stage[T](df: DataFrame, rangeCols: Seq[Column], nFiles: Int,
               flushes: Seq[DataFrame] = Nil)(body: String => T): T =
    withTempDir { tmp =>
      val in = s"$tmp/in"
      // one file needs no range exchange: the whole relation is batch 0
      val ranged =
        if (nFiles == 1) df.coalesce(1) else df.repartitionByRange(nFiles, rangeCols: _*)
      ranged.write.parquet(in)
      flushes.zipWithIndex.foreach { case (fl, i) =>
        val dir = s"$tmp/flush$i"
        fl.coalesce(1).write.parquet(dir)
        val part = new java.io.File(dir).listFiles()
          .filter(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(in, f"part-zz-flush$i%02d.parquet"))
      }
      // Pin ARRIVAL order to range order: the file source replays files
      // by mod-time (path only tie-breaks), and a same-millisecond write
      // leaves the order effectively arbitrary — queries whose semantics
      // depend on batch order (first-occurrence span dedup) silently
      // judged later ranges first.
      pinArrivalOrder(in)
      body(in)
    }

  /** [[stage]] `df`, then hand `body` the staged directory as a stream
    * that replays one file per trigger. View-form twins build their
    * output stream on it and run it through [[view]]. */
  def replay[T](df: DataFrame, rangeCols: Seq[Column], nFiles: Int,
                flushes: Seq[DataFrame] = Nil)(body: DataFrame => T): T =
    stage(df, rangeCols, nFiles, flushes)(in => body(source(df.sparkSession, in)))

  /** Ledger form: stage `df` as `nFiles` files ranged on `rangeCol`,
    * replay them one per trigger into `batch(micro-batch, batchId, outDir)`
    * (which writes its ledger under `outDir`, normally via
    * [[writeBatch]]), stop the stream on every path, and return
    * `finish(outDir)` — called before the temp trees are deleted, so it
    * must localize what it returns ([[drainParquet]]). Runs at session
    * width: `foreachBatch` bodies run on the stream's cloned conf, and
    * the per-batch work is batch-shaped. */
  def ledger[T](df: DataFrame, rangeCol: String, nFiles: Int)
               (batch: (DataFrame, Long, String) => Unit)(finish: String => T): T =
    withTempDir { tmp =>
      val out = s"$tmp/out"
      stage(df, Seq(col(rangeCol)), nFiles) { in =>
        val q = source(df.sparkSession, in).writeStream.outputMode("append")
          .option("checkpointLocation", s"$tmp/ck")
          .foreachBatch { (b: DataFrame, id: Long) => batch(b, id, out) }
          .start()
        try q.processAllAvailable() finally q.stop()
        finish(out)
      }
    }

  /** View form: run the output stream `out` (built on a [[replay]] source
    * or a channel topic) into a memory sink the driver names, started
    * through [[sizedStart]], to the end; then copy the (bounded) sink out
    * through `shape` into a LOCAL relation. The sink view is dropped in a
    * finally that covers BOTH the streaming run and the drain — a failed
    * micro-batch must not park a MemorySink's rows in driver memory for
    * the session lifetime (dropTempView on a never-registered view is a
    * harmless no-op, so the guard also covers a failure before start). */
  def view(out: Dataset[_], mode: String = "append")
          (shape: DataFrame => DataFrame): DataFrame = {
    val s = out.sparkSession
    val sink = s"$Prefix${sinks.incrementAndGet()}"
    try {
      val q = sizedStart(s)(out.writeStream.outputMode(mode)
        .format("memory").queryName(sink).start())
      try q.processAllAvailable() finally q.stop()
      val res = shape(s.table(sink))
      s.createDataFrame(res.collectAsList(), res.schema)
    } finally s.catalog.dropTempView(sink)
  }

  /** The staged directory `in` as a stream, one file per trigger. The
    * graft confs are set before the staged schema is read. */
  private def source(s: SparkSession, in: String): DataFrame = {
    Tables.ensureConf(s)
    s.readStream.schema(s.read.parquet(in).schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
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
    * to [[Width]] for the duration of the start call — stateful operators
    * freeze their state-partition count into the checkpoint at first
    * start, and a session-wide count (`SPARK_GRAFT_CPUS` wide) of
    * mostly-idle state-store tasks per trigger dominates small-batch wall
    * time once the host is wider than the batches. Also pins
    * `spark.sql.streaming.noDataMicroBatches.enabled=false`: the staged
    * replays drive every watermark-gated emission with trailing DATA
    * sentinels (the `flushes` of [[stage]] — append-mode emission lags
    * the watermark by one batch, hence TWO sentinels, the second emitting
    * everything the first unlocked), so the zero-row batch Spark would
    * append after the last file only re-commits every state store
    * (~0.5–1 s/query) to emit sentinel-keyed rows the drains filter out.
    * Stateless, shuffle-free streams are unaffected by both pins.
    * Scoped HERE, not session-wide: library streams (graft.streaming.*)
    * keep the default — their event-time TTLs legitimately sweep state
    * in no-data batches (EngineSuite pins that semantic). Streaming
    * queries clone the session conf at `start`, so pinning around the
    * start call is airtight; the session conf is restored afterwards. */
  private def sizedStart(s: SparkSession)(start: => StreamingQuery): StreamingQuery = {
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    s.conf.set("spark.sql.shuffle.partitions", Width.toString)
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

  /** Read a foreachBatch parquet drain back, order it, and copy it into
    * a LOCAL relation — the staged tree is deleted on the way out, so
    * the result must not keep lineage onto it. Bounded by construction:
    * one row per entity the streaming query emitted. THE one copy of
    * the drain contract for the ledger form's finishing functions. */
  def drainParquet(s: SparkSession, dir: String, order: Column*): DataFrame = {
    val read = readBatches(s, dir)
    val res = if (order.isEmpty) read else read.orderBy(order: _*)
    s.createDataFrame(res.collectAsList(), res.schema)
  }

  /** Exactly-once foreachBatch parquet write: each micro-batch OVERWRITES
    * its own deterministic subdirectory, so a batch replayed after a
    * failure/restart rewrites the same files instead of appending
    * duplicates (plain `mode("append")` is not idempotent under
    * foreachBatch's at-least-once contract). [[readBatches]] reads the
    * subdirectories back. */
  def writeBatch(df: DataFrame, dir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$dir/b$batchId")

  /** Every batch [[writeBatch]] wrote under `dir`, as one parquet scan:
    * the one reader of a staged ledger. */
  def readBatches(s: SparkSession, dir: String): DataFrame =
    s.read.option("recursiveFileLookup", "true").parquet(dir)
}
