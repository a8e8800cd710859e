package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Options of one benchmark run (see run.py, which builds the program and
  * launches this main). `spawnMs` is when run.py started the process;
  * `gitCommit` and `codeDigest` identify the code measured. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      data: Path, work: Path, out: Path, template: Path, spawnMs: Long,
                      gitCommit: String, codeDigest: String)

/** What a workload hands back: end-to-end metrics with their sample
  * counts, per-layer metrics (traced runs), and the correctness tally. */
final case class Outcome(e2e: Map[String, Double], samples: Map[String, Long],
                         layers: Map[String, Double], attempted: Long, failed: Long,
                         detail: Map[String, Any])

trait Workload {
  /** The workload's part of the set-up, after the session exists. */
  def setup(spark: SparkSession): Unit
  /** Measure for the run's duration, check outputs, report. */
  def run(spark: SparkSession): Outcome
}

object Main {
  /** Every run uses all the host's cores, as graft.Bench does. */
  val Cpus: Int = Runtime.getRuntime.availableProcessors

  /** The session settings of graft.Bench: local[n], n shuffle partitions,
    * UTC, a 10 000-entry codegen cache, then Tables.ensureConf. */
  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.Tables.ensureConf(s)
    s
  }

  def sessionSettings(cpus: Int): Map[String, String] = Map(
    "master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "then" -> "graft.Tables.ensureConf")

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      Paths.get(kv("data")).toAbsolutePath, Paths.get(kv("work")).toAbsolutePath,
      Paths.get(kv("out")).toAbsolutePath, Paths.get(kv("template")).toAbsolutePath,
      kv("spawn-ms").toLong, kv("git-commit"), kv("code-digest"))
  }

  /** Exits explicitly: a failed run must not hang on the non-daemon
    * threads (HTTP server, flusher, stream) it leaves behind. */
  def main(args: Array[String]): Unit = {
    val code = try { runMain(args); 0 } catch { case t: Throwable => t.printStackTrace(); 1 }
    System.exit(code)
  }

  private def runMain(args: Array[String]): Unit = {
    args.headOption match {
      case Some("make-topic") => Ingest.makeTemplate(Paths.get(args(1)), args(2).toInt); return
      case Some("dump") => Gate.dump(Paths.get(args(1)), Paths.get(args(2))); return
      case _ =>
    }
    val o = parse(args)
    Files.createDirectories(o.work)
    val loadAtStart = Jvm.loadAverage()
    val tracer = new Tracer(s"${o.workload}-${o.seed}-${System.currentTimeMillis()}", o.trace)
    val w: Workload = o.workload match {
      case "batch_gate" => new Gate(o, tracer)
      case "ingest_pipeline" => new Ingest(o, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // One cold set-up, from process spawn (JVM start included) to the
    // end of the workload's set-up; the run's first timed operation
    // follows.
    val spark = session(Cpus, o.work)
    w.setup(spark)
    val setupS = (Clock.us() - o.spawnMs * 1000) / 1e6
    val out = w.run(spark)
    spark.stop()

    val e2e = out.e2e ++ Map("setup_s" -> setupS)
    val samples = out.samples ++ Map("setup_s" -> 1L)
    // Peak RSS follows G1's heap sizing (±20% between runs of one
    // workload), so it is reported with the per-layer metrics.
    val layers = if (o.trace) out.layers ++ Map("jvm.peak_rss_mb" -> Jvm.peakRssMb()) else out.layers
    val result = Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "run_id" -> tracer.runId,
      "env" -> Map(
        "git_commit" -> o.gitCommit, "code_digest" -> o.codeDigest,
        "nproc" -> Cpus.toString, "load_avg_start" -> loadAtStart.toString,
        "jvm_flags" -> Jvm.inputArguments.mkString(" "),
        "java_version" -> System.getProperty("java.version")),
      "session" -> sessionSettings(Cpus),
      "e2e" -> e2e, "samples" -> samples, "layers" -> layers,
      "peak_rss_mb" -> Jvm.peakRssMb(),
      "attempted" -> out.attempted, "failed" -> out.failed,
      "failed_frac" -> out.failed.toDouble / math.max(1L, out.attempted),
      "detail" -> out.detail)
    Files.writeString(o.out, Json.render(result) + "\n")
    if (o.trace) tracer.writeJsonl(Paths.get(o.out.toString.stripSuffix(".json") + ".spans.jsonl"))
  }
}
