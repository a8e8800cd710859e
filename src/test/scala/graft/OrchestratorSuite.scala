package graft

import graft.channel.ChannelRegistry
import graft.streaming.ConfigFold
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The orchestrator example replayed over real channels (M3, reference
  * examples/orchestrator/src/lib.rs): a ConfigUpdate channel and a
  * WorkItem channel are unioned into the tagged control/data stream,
  * folded per worker key with flatMapGroupsWithState, and the applied
  * results land in a results channel. Everything durable, everything
  * streaming.
  */
class OrchestratorSuite extends SparkSpec {
  import spark.implicits._

  test("config + work channels → tagged union → stateful fold → results channel") {
    val reg = new ChannelRegistry(spark, tmpDir("orch"))
    val configSchema = StructType(Seq(
      StructField("key", StringType), StructField("seq", LongType),
      StructField("multiplier", IntegerType)))
    val workSchema = StructType(Seq(
      StructField("key", StringType), StructField("seq", LongType),
      StructField("payload", StringType)))
    val cfg = reg.create("orch_config", configSchema)
    val work = reg.create("orch_work", workSchema)

    // deterministic schedule (FIXTURES.md §4): config v1 (mult 3) between
    // two work items for w1; w2 never configured
    cfg.write(Seq(("w1", 1L, 3)).toDF("key", "seq", "multiplier"), 1)
    work.write(Seq(("w1", 0L, "p0"), ("w1", 2L, "p1"), ("w2", 0L, "q0"))
      .toDF("key", "seq", "payload"), 2)

    val tagged =
      cfg.readStreamV2().select(col("key"), col("seq"), lit(true).as("isConfig"),
          col("multiplier"), lit("").as("payload"))
        .unionByName(
          work.readStreamV2().select(col("key"), col("seq"), lit(false).as("isConfig"),
            lit(0).as("multiplier"), col("payload")))
        .as[ConfigFold.Tagged]

    val resultSchema = implicitly[org.apache.spark.sql.Encoder[ConfigFold.Applied]].schema
    val results = reg.create("orch_results", resultSchema)
    val q = results.sink(ConfigFold(tagged).toDF(), writerId = 3, tmpDir("ck"),
      availableNow = true)
    q.awaitTermination(60000)

    val out = results.read()
      .select("key", "seq", "configVersion", "multiplier", "output")
      .as[(String, Long, Int, Int, String)].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq == Seq(
      ("w1", 0L, 0, 1, "p0 x 1"),   // before config
      ("w1", 2L, 1, 3, "p1 x 3"),   // after config v1
      ("w2", 0L, 0, 1, "q0 x 1")))  // untouched worker
    // writer attribution of the fold stage
    assert(results.read().select("_writer_id").distinct().as[Int].collect().toSeq == Seq(3))
  }
}
