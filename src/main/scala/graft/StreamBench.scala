package graft

import java.nio.file.Files

import graft.channel.ChannelRegistry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming micro-benchmark (BASELINE.md "streaming micro-bench" row):
  * events (sf dir from SPARK_GRAFT_SF_DIR) are written into a durable
  * channel in micro-batches, then a channel subscription (the
  * `graft-channel` connector) → tumbling-window-agg → sink query consumes
  * everything; reports end-to-end rows/s for both legs (the query leg
  * timed after an untimed warm-up run of the same query). This is the M2
  * slice under load rather than under test.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.localSession()
    val width = spark.conf.get("spark.sql.shuffle.partitions")

    val events = Tables.events(spark, sfDir)
    val n = events.count()
    val root = Files.createTempDirectory("graft_streambench")
    val registry = new ChannelRegistry(spark, root)
    val ch = registry.create("events", events.schema,
      capacityBytes = 4L * 1024 * 1024 * 1024)

    // ingest leg: 8 CONCURRENT writers (the many-writer shape, for real —
    // each thread races the atomic seq reservation like independent
    // processes would; local[n] schedules their jobs in parallel)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val t0 = System.nanoTime()
    Await.result(Future.sequence((0 until 8).map { w =>
      Future(ch.write(events.filter(col("event_id") % 8 === w), writerId = w))
    }), Duration.Inf)
    val ingestSec = (System.nanoTime() - t0) / 1e9
    require(ch.read().count() == n, "concurrent ingest lost or duplicated rows")

    // query leg: strong seq-offset subscription → day window → counts by
    // type. State partitions sized to the aggregate's key count (150
    // windows): the shuffle-partition width freezes into the streaming
    // checkpoint, and near-empty state stores are pure per-batch overhead.
    def byDay(df: DataFrame): DataFrame =
      df.groupBy(Tables.tsDay("ts").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), Tables.exactSum(col("value")).as("v"))
    def queryLeg(sink: String): Double = {
      val t1 = System.nanoTime()
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val q = try byDay(ch.readStreamV2())
          .writeStream.outputMode("complete").format("memory")
          .queryName(sink).start()
        finally spark.conf.set("spark.sql.shuffle.partitions", width)
      try q.processAllAvailable() finally q.stop()
      (System.nanoTime() - t1) / 1e9
    }
    // An untimed leg first: the first streaming query of a JVM pays the
    // JIT/codegen warm-up (1.2-1.5 s at sf0.1 on 4 cores), which the
    // timed leg would otherwise measure instead of the subscription.
    val warmSec = queryLeg("streambench_warm")
    spark.catalog.dropTempView("streambench_warm")
    val querySec = queryLeg("streambench")
    val streamed = spark.table("streambench")
    val outRows = streamed.count()
    // cross-check: the stream's window rows equal the same aggregation
    // over a batch read of the topic
    val batch = byDay(ch.read())
    require(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed window rows differ from the batch aggregation over ch.read()")

    println(f"""{"metric":"stream_rows_per_sec","ingest_rps":${n / ingestSec}%.0f,"query_rps":${n / querySec}%.0f,"rows":$n,"ingest_sec":$ingestSec%.2f,"query_sec":$querySec%.2f,"warm_sec":$warmSec%.2f,"window_rows":$outRows,"sf":"$sfDir"}""")
    spark.stop()
  }
}
