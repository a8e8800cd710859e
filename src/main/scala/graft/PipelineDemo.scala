package graft

import java.nio.file.Files

import graft.catalog.Atlas
import graft.channel.ChannelRegistry
import graft.runtime.{Capability, ModuleSpec, QueryManager, Session}
import graft.streaming.LogAnalyser
import graft.udf.WasmHost
import org.apache.spark.sql.functions._

/** End-to-end consumer-style drive of the engine core: boots a registry +
  * atlas + query manager, deploys a log-analyser pipeline from a module
  * spec, pushes typed records through a durable channel, runs the streaming
  * alert query, and applies a WASM transform — the reference's
  * runtime-boot flow (system/runtime/src/modules.rs) on Spark.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = Tables.localSession()
    import spark.implicits._

    val root = Files.createTempDirectory("graft_demo")
    val engine = Graft.boot(spark, root)
    val registry = engine.registry
    val atlas = engine.atlas
    val qm = engine.queries

    // deploy from a boot module-spec (declarative deployment parity)
    val spec = ModuleSpec.parse(
      "name=log-analyser;capabilities=ChannelCreate,ChannelRead,ChannelWrite;arg:in=sel://logs/app")
    val session = Session(spec.name, spec.capabilities)
    session.authorise(Capability.ChannelCreate)

    // typed channel for LogRecords
    val logSchema = implicitly[org.apache.spark.sql.Encoder[LogAnalyser.LogRecord]].schema
    val ch = registry.create("logs_app", logSchema)
    atlas.insert(spec.args("in"), "logs_app")

    // two writers publish interleaved typed records
    val errs = (0 until 12).map(i =>
      LogAnalyser.LogRecord("Error", "svc", s"boom$i", Nil, Nil, 1000L + i))
    val warns = (0 until 4).map(i =>
      LogAnalyser.LogRecord("Warn", "svc", s"meh$i", Nil, Nil, 7000L + i))
    ch.write(errs.toDF(), writerId = 1)
    ch.write(warns.toDF(), writerId = 2)

    // pipeline: channel → window → threshold alert (streaming)
    val q = qm.start("log-analyser", session, Set(Capability.ChannelRead)) { s =>
      LogAnalyser.alerts(ch.readStreamV2(), windowSeconds = 5)
        .writeStream.outputMode("complete").format("memory")
        .queryName("alerts").start()
    }
    q.processAllAvailable()
    qm.stop("log-analyser")
    val alerts = spark.table("alerts").collect()
    println(s"DEMO_ALERTS=${alerts.length} :: ${alerts.mkString(" | ")}")

    // WASM transform leg over the same channel's payloads
    WasmHost.register("demo", () => new WasmHost.WasmModule.Stub())
    val upper = WasmHost.transform(
      ch.read().select(col("message").cast("binary").as("payload"), col("_writer_id")),
      "demo", "upper", "payload")
      .select(col("payload").cast("string")).as[String].collect()
    println(s"DEMO_WASM=${upper.take(3).mkString(",")} (${upper.length} rows)")

    val attribution = ch.read().groupBy("_writer_id").count()
      .as[(Int, Long)].collect().sortBy(_._1)
    println(s"DEMO_WRITERS=${attribution.mkString(",")}")
    // engine observability: lifecycle events landed on the logs channel
    println(s"DEMO_ENGINE_LOGS=${engine.logs.read().count()}")
    spark.stop()
  }
}
