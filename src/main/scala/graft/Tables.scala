package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Table loaders + session configuration shared by every query.
  *
  * All reads go through [[Tables.t]] so that required runtime confs are in
  * place no matter who constructed the SparkSession (the driver's smoke
  * harness builds its own); graft's own mains build theirs with
  * [[Tables.localSession]].
  */
object Tables {

  /** Confs that must hold for correctness parity with the DuckDB oracle,
    * plus the spawn-free `file:` filesystem ([[graft.fs.LocalFs]]). All of
    * these are runtime-settable (no session restart needed), so a session
    * graft did not build gets them too: the filesystem keys flow into
    * every `newHadoopConf()`, which Spark's offset log, commit log and
    * state-store files open their FileContext from.
    */
  def ensureConf(spark: SparkSession): Unit = {
    graft.fs.LocalFs.applyTo(spark.conf.set)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // events.parquet stores INT64 TIMESTAMP(NANOS); Spark has no ns
    // timestamp type and rejects the file outright. Reading the raw
    // nanosecond longs keeps ordering/bucketing EXACT (bit-equal with the
    // oracle's TIMESTAMP_NS) instead of silently truncating to micros.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Deterministic plans at small scale, efficient at large: AQE coalesces
    // the session's shuffle partitions (SPARK_GRAFT_CPUS wide) when maps
    // are tiny.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** THE session every graft main runs on: `local[n]` with n =
    * `SPARK_GRAFT_CPUS` (default: the host's available processors),
    * shuffle width n, UI off, plus [[ensureConf]]. A `spark.master` Spark
    * was already given (spark-submit `--master`, `-Dspark.master`) wins —
    * the master is a deployment setting, not a per-main choice. The
    * filesystem keys also go in as `spark.hadoop.*`, so the JVM-wide
    * cached `file:` FileSystem is the spawn-free one from the start. */
  def localSession(): SparkSession = {
    val n = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // STATIC conf, must be set at session build: the default 100-entry
      // codegen class cache evicts every query's generated classes long
      // before its second run in a 233-query session (~900 codegen
      // stages per pass), so each rerun re-pays Janino compilation and
      // fresh JIT — cpu inflation with flat gc. Sized to hold the whole
      // session's stages.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    graft.fs.LocalFs.applyTo((k, v) => builder.config(s"spark.hadoop.$k", v))
    if (!sys.props.contains("spark.master")) builder.master(s"local[$n]")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensureConf(spark)
    spark
  }

  /** Footer-inferred schema per table version: every
    * `spark.read.parquet(path)` without an explicit schema runs parquet
    * footer inference at plan time, and a 233-query bench session makes
    * ~1200 `t()` calls (queries × tables × warmup + 2 passes) — each one
    * re-reading the footer of an unchanged file (r18 verdict task #6, the
    * batch-tail planning floor). METADATA cache only (a StructType per
    * version), never data or results: every query still computes from
    * the parquet bytes. The key is the path plus the modification time
    * and length of the file — or of every file directly under it when
    * the table is a directory — so a rewritten table infers afresh
    * instead of reading through a stale schema. `ts` physical-form
    * variance (nanos-as-long vs µs timestamp) is per-file and therefore
    * per-key — captured correctly. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[(String, Long, Long)]), org.apache.spark.sql.types.StructType]()

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    ensureConf(spark)
    val path = s"$dir/$name.parquet"
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val version = fs.listStatus(hp).toSeq
      .map(f => (f.getPath.getName, f.getModificationTime, f.getLen)).sorted
    val schema = schemaCache.computeIfAbsent((path, version),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  /** `events.ts` has shipped in two physical forms: INT64 TIMESTAMP(NANOS)
    * (read as raw nano longs via `nanosAsLong`) and plain µs TIMESTAMP
    * (isAdjustedToUTC=false → TIMESTAMP_NTZ under the default NTZ
    * inference). Engine-side code and the DuckDB oracle agree on
    * MICROSECONDS (`ts div 1000` ↔ `epoch_us(ts)`), so normalize the
    * timestamp form back to nano longs here — `unix_micros` × 1000 is
    * exact (epoch µs ≈ 1.7e15, ×1000 is far below Long.Max), and the NTZ
    * → LTZ cast is identity under the UTC session timezone ensureConf
    * pins, matching DuckDB's naive-as-UTC `epoch_us`. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventsTs(t(s, d, "events"))

  /** The [[events]] normalization on a DataFrame read off events.parquet.
    * Safe on either form. */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ => df.withColumn("ts",
        expr("unix_micros(cast(ts as timestamp)) * 1000L"))
    }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Spread a narrow relation across the session width BEFORE a CPU-heavy
    * map pass (explode / JSON parse / guest interpreter) — but ONLY when
    * the plan actually under-parallelizes. The bench fixture's parquet
    * tables are a single row group each, so the scan plans ONE split and
    * the whole map pass runs on one core; a production multi-file table
    * (a 100 TB input has thousands of splits) already parallelizes, and
    * there an unconditional corpus-wide exchange before a map-only pass
    * is a real, avoidable cost. The partition-count probe is NOT always
    * plan-time only: when `df` contains a shuffle, adaptive execution
    * runs that shuffle stage to learn the final partition count
    * (`df.rdd.getNumPartitions` materializes it), and the action later
    * runs the stage again in its own execution; over a plan without a
    * shuffle no job runs. When `keys` are
    * given the spread is hash-partitioned on them so a downstream
    * groupBy/join on the same keys reuses the exchange. */
  def spread(df: DataFrame, keys: Column*): DataFrame = {
    val target =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (df.rdd.getNumPartitions >= target) df
    else if (keys.isEmpty) df.repartition(target)
    else df.repartition(target, keys: _*)
  }

  /** Exact-sum idiom: double sums are order-dependent (shuffle order is not
    * deterministic, and the oracle engine sums in its own order), so every
    * money/measure sum goes through a per-row DECIMAL cast — identical on
    * both engines — and the exact decimal total is cast back to double.
    */
  def exactSum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** Exact average: exact decimal sum divided by count, both deterministic,
    * so the double division result is bit-identical across engines. */
  def exactAvg(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double") / count(lit(1))

  /** `ts` nanos → 'yyyy-MM-dd' day string in UTC (oracle:
    * strftime(date_trunc('day', ts), '%Y-%m-%d')). SQL `div` is exact
    * integer division — `/` goes through double and loses precision at
    * 1.7e18 epoch-nanos. */
  def tsDay(tsCol: String): Column =
    expr(s"date_format(timestamp_micros($tsCol div 1000), 'yyyy-MM-dd')")
}
