package graft

import java.nio.file.{Files, Paths}

import graft.runtime.{Capability, ModuleSpec, Session}
import graft.streaming.LogAnalyser
import org.apache.spark.sql.functions._

/** Engine boot binary — declarative deployment parity with the reference
  * runtime (`--module 'path=…;capabilities=…;args=…'` CLI,
  * system/runtime/src/modules.rs:153-302). Each `--module` flag deploys a
  * named pipeline from the built-in pipeline catalog with exactly the
  * capabilities the spec grants; the engine then serves until all
  * pipelines terminate (or immediately for run-to-completion pipelines).
  *
  * Usage:
  *   runMain graft.Main --root /tmp/graft \
  *     --module "name=log-analyser;capabilities=ChannelCreate,ChannelRead,ChannelWrite;arg:in=sel://logs/app"
  */
object Main {

  /** Built-in pipeline catalog: name → (engine, session, args) => Unit. */
  private val pipelines: Map[String, (Graft, Session, Map[String, String]) => Unit] = Map(
    "log-analyser" -> { (g, session, args) =>
      session.authorise(Capability.ChannelCreate)
      val uri = args.getOrElse("in", "sel://logs/app")
      val schema = org.apache.spark.sql.Encoders.product[LogAnalyser.LogRecord].schema
      val ch = g.registry.getOrCreate(uri.replaceAll("[^A-Za-z0-9]", "_"), schema)
      g.atlas.insert(uri, ch.name)
      val q = g.queries.start("log-analyser", session, Set(Capability.ChannelRead)) { _ =>
        LogAnalyser.alerts(ch.readStreamV2(),
          windowSeconds = args.getOrElse("window", "5").toInt)
          .writeStream.outputMode("complete").format("console").start()
      }
      println(s"[graft] log-analyser serving $uri (query ${q.id})")
    },
    "waf" -> { (g, session, args) =>
      session.authorise(Capability.ChannelCreate)
      val ch = g.registry.getOrCreate("waf_in", graft.net.HttpIngress.schema)
      val ingress = graft.net.HttpIngress.start(g.spark, ch,
        port = args.getOrElse("port", "0").toInt)
      println(s"[graft] waf ingress on port ${ingress.port} → channel ${ch.name}")
    })

  def main(args: Array[String]): Unit = {
    var root = Files.createTempDirectory("graft_runtime")
    val specs = Seq.newBuilder[ModuleSpec.Spec]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--root" => root = Paths.get(args(i + 1)); i += 2
        case "--module" => specs += ModuleSpec.parse(args(i + 1)); i += 2
        case other => throw new IllegalArgumentException(s"unknown flag: $other")
      }
    }
    val spark = Tables.localSession()
    val engine = Graft.boot(spark, root)

    specs.result().foreach { spec =>
      val pipeline = pipelines.getOrElse(spec.name,
        throw new IllegalArgumentException(
          s"unknown pipeline '${spec.name}' (have: ${pipelines.keys.mkString(", ")})"))
      // any path a spec carries must resolve INSIDE the module store —
      // refusal (logged on the engine channel) aborts the deployment
      // before the pipeline sees the spec (reference: FilesystemStore
      // validates every fetch path against its base dir). The pipeline
      // receives the RESOLVED store path, not the raw spec string, so a
      // consumer that opens args("path") directly reads the contained
      // location — the validation is binding, not advisory (byte reads
      // should still prefer engine.modules.fetch, which re-resolves).
      val safeArgs = spec.args.get("path") match {
        case Some(p) => spec.args.updated("path", engine.modules.resolve(p).toString)
        case None => spec.args
      }
      // link-time capability attenuation parity: the session holds ONLY
      // what the spec granted
      pipeline(engine, Session(spec.name, spec.capabilities), safeArgs)
    }
    // engine log channel echoes deployments
    engine.logs.read().select(col("level"), col("message")).show(10, false)
    if (engine.queries.list.nonEmpty) {
      println(s"[graft] serving pipelines: ${engine.queries.list.mkString(", ")}")
      spark.streams.awaitAnyTermination()
    }
  }
}
