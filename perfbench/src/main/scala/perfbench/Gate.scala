package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}

/** The batch gate, closed loop: one client runs a fixed list of
  * `SparkEntry.queries` one at a time, in an order the seed permutes.
  * [[Gate.WarmPasses]] untimed passes let the JIT compile the list's code
  * (in a fresh process the first is 3x slower, and how much a query pays
  * depends on its place in the order); then one whole pass per
  * [[Gate.PassSeconds]] of the run's duration is timed. Each query is
  * timed as its build (the `SparkEntry.queries(name)(spark, dir)` call,
  * eager work included) plus its action (`collect`); every result is
  * hashed and checked against the committed expected hash. The end-to-end
  * metrics are taken over each query's median across the timed passes. */
final class Gate(o: Opts, tracer: Tracer) extends Workload {
  import Gate._

  private val queries = BatchQueries

  private val data = o.data.toString
  /** Spans go to the run's tracer, except during the warm passes and the
    * width baseline. */
  private var tr = tracer

  def setup(spark: SparkSession): Unit = { graft.Tables.events(spark, data).count(); () }

  private case class Exec(name: String, module: String, pass: Int, buildS: Double,
                          actionS: Double, ok: Boolean, hash: String, error: String,
                          buildSpan: String) {
    def wallS: Double = buildS + actionS
  }

  /** Build, act, hash one query; the span tree is query → build/action,
    * and Spark jobs started meanwhile are tagged with those spans. */
  private def exec(spark: SparkSession, name: String, pass: Int): Exec = {
    val sc = spark.sparkContext
    val module = moduleOf(name)
    var b = 0.0
    var a = 0.0
    var buildSpan = ""
    val res = tr.span(name, s"queries.$module", "") { qid =>
      try {
        val df = tr.span("build", s"queries.$module", qid) { id =>
          buildSpan = id
          sc.setLocalProperty("perfbench.span", id)
          sc.setLocalProperty("perfbench.phase", "build")
          val t0 = System.nanoTime()
          val d = graft.SparkEntry.queries(name)(spark, data)
          b = (System.nanoTime() - t0) / 1e9
          d
        }
        val rows = tr.span("action", s"queries.$module", qid) { id =>
          sc.setLocalProperty("perfbench.span", id)
          sc.setLocalProperty("perfbench.phase", "action")
          val t0 = System.nanoTime()
          val r = df.collect()
          a = (System.nanoTime() - t0) / 1e9
          r
        }
        Right(hashRows(df.schema.fieldNames.toSeq, rows))
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      finally {
        sc.setLocalProperty("perfbench.span", null)
        sc.setLocalProperty("perfbench.phase", null)
        spark.sharedState.cacheManager.clearCache()
      }
    }
    res match {
      case Right(h) => Exec(name, module, pass, b, a, ok = true, h, "", buildSpan)
      case Left(err) => Exec(name, module, pass, b, a, ok = false, "", err, buildSpan)
    }
  }

  private case class Pass(execs: Seq[Exec], cpuS: Double) {
    def wallS: Double = execs.map(_.wallS).sum
  }

  private def pass(spark: SparkSession, order: Seq[String], n: Int): Pass = {
    val c0 = Jvm.cpuSeconds()
    val execs = order.map(q => exec(spark, q, n))
    val p = Pass(execs, Jvm.cpuSeconds() - c0)
    System.gc() // reclaim the pass's garbage outside the next pass
    p
  }

  def run(spark0: SparkSession): Outcome = {
    var spark = spark0
    val order = new scala.util.Random(o.seed).shuffle(queries)
    tr = new Tracer(tracer.runId + "-warm", enabled = false)
    val warm = (1 to WarmPasses).map(n => pass(spark, order, -n))
    tr = tracer

    val observers = if (o.trace) Some(new Observers(spark, tracer)) else None
    val jvm0 = (Jvm.gcSeconds(), Jvm.jitSeconds())
    Jvm.resetPeaks()
    val t0 = System.nanoTime()
    val passes = (0 until math.max(1, o.seconds / PassSeconds)).map(n => pass(spark, order, n))
    val measuredS = (System.nanoTime() - t0) / 1e9
    val execs = passes.flatMap(_.execs)

    val expected = Expected.load(o.data.getParent.resolve("expected_hashes.json"))
    def mismatch(e: Exec) = !e.ok || !expected.get(e.name).contains(e.hash)
    val bad = (warm.flatMap(_.execs) ++ execs).filter(mismatch)

    // each query's median over the timed passes
    val byQuery = execs.groupBy(_.name).values.toSeq
    val walls = byQuery.map(es => Stats.median(es.map(_.wallS * 1000)))
    val builds = byQuery.map(es => Stats.median(es.map(_.buildS * 1000)))
    // Over a fixed query list the p90 names a query, not a random tail,
    // so the gate reports it whatever the sample count.
    val e2e = Map(
      "latency_p50_ms" -> Stats.pct(walls, 0.5),
      "latency_tail_ms" -> Stats.pct(walls, 0.9),
      "accept_ms" -> builds.sum / builds.size,
      "throughput_per_s" -> walls.size / (walls.sum / 1000),
      "cpu_s" -> Stats.median(passes.map(_.cpuS)))
    val samples = Map(
      "latency_p50_ms" -> execs.size.toLong, "latency_tail_ms" -> execs.size.toLong,
      "accept_ms" -> execs.size.toLong, "throughput_per_s" -> execs.size.toLong,
      "cpu_s" -> passes.size.toLong)

    var layers = Map.empty[String, Double]
    var baseline = Map.empty[String, Any]
    var widthBad = 0
    observers.foreach { obs =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      obs.close()
      layers = traceLayers(obs, execs.toSeq, passes.size) ++ Map(
        "jvm.gc_s" -> (Jvm.gcSeconds() - jvm0._1), "jvm.jit_s" -> (Jvm.jitSeconds() - jvm0._2),
        "jvm.heap_peak_mb" -> Jvm.heapPeakMb())
      baseline = Map("self_ms" -> tracer.selfMsByLayer())
      tr = new Tracer(tracer.runId + "-w1", enabled = false)
      // Single-thread baseline: one pass at local[1] with the same order;
      // outputs must hash identically at both widths.
      spark.stop()
      spark = Main.session(1, o.work)
      val obs1 = new Observers(spark, tr)
      val p1 = pass(spark, order, 0)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      obs1.close()
      val wide = passes.head.execs.map(e => e.name -> e.hash).toMap
      val narrow = p1.execs.map(e => e.name -> e.hash).toMap
      val diffs = narrow.filter { case (k, h) => wide.get(k) != Some(h) }.keys.toSeq.sorted
      widthBad = diffs.size
      baseline ++= Map("width_mismatches" -> diffs)
      layers ++= Map(
        "baseline1.pass_wall_s" -> p1.wallS, "baseline1.cpu_s" -> p1.cpuS,
        "baseline1.exec_tasks" -> obs1.exec.tasks.sum.toDouble,
        "widthN.pass_wall_s" -> passes.head.wallS, "widthN.cpu_s" -> passes.head.cpuS)
      spark.stop()
    }

    Outcome(e2e, samples, layers,
      attempted = warm.map(_.execs.size).sum.toLong + execs.size + (if (o.trace) queries.size else 0),
      failed = bad.size.toLong + widthBad,
      detail = Map(
        "order" -> order, "passes" -> passes.size, "measured_s" -> measuredS,
        "warm_pass_wall_s" -> warm.map(_.wallS), "warm_pass_cpu_s" -> warm.map(_.cpuS),
        "pass_wall_s" -> passes.map(_.wallS), "pass_cpu_s" -> passes.map(_.cpuS),
        "latency_tail_pct" -> "p90",
        "queries" -> execs.map(e => Map("name" -> e.name, "module" -> e.module, "pass" -> e.pass,
          "build_s" -> e.buildS, "action_s" -> e.actionS, "ok" -> e.ok, "hash" -> e.hash,
          "error" -> e.error)),
        "failures" -> bad.map(e => Map("name" -> e.name, "hash" -> e.hash,
          "expected" -> expected.getOrElse(e.name, ""), "error" -> e.error)),
        "trace" -> baseline))
  }

  private def traceLayers(obs: Observers, execs: Seq[Exec], nPasses: Int): Map[String, Double] = {
    val perPass = 1.0 / math.max(1, nPasses)
    val byModule = queries.map(moduleOf).distinct.flatMap { m =>
      val es = execs.filter(_.module == m)
      Seq(s"queries.$m.wall_s" -> es.map(_.wallS).sum * perPass,
        s"queries.$m.build_s" -> es.map(_.buildS).sum * perPass,
        s"queries.$m.action_s" -> es.map(_.actionS).sum * perPass,
        s"queries.$m.build_jobs" -> es.map(e => obs.exec.jobsOf(e.buildSpan)).sum * perPass)
    }.toMap
    byModule ++ obs.exec.metrics ++ obs.plan.metrics ++ obs.stream.metrics(_ => true)
  }
}

object Gate {
  /** The batch gate: one query from each of the eleven batch modules,
    * two of the heaviest kernels (containment dedup, char-LM perplexity)
    * and a majority of sub-second queries, so that fixed per-query cost
    * shows. */
  val BatchQueries: Seq[String] = Seq(
    "q_containment_dedup", "q_char_lm_perplexity", "q_skew_join", "q6_forecast_revenue",
    "q_unigram_tokenizer", "q_pii_redact", "q_embed_knn", "q_bm25", "q_media_dedup",
    "q_codec_roundtrip", "q_wasm_map")

  /** Untimed passes before the timed ones: after one, the next pass still
    * spends 1.5x the CPU of later ones, most of it compiling. */
  val WarmPasses = 2

  /** Seconds of run duration per timed pass (after the warm passes a pass
    * takes 6-7 s on 4 cores). The count is fixed, not read off the clock,
    * so that every run takes its medians over the same number of passes. */
  val PassSeconds = 7

  val Modules: Seq[(String, Seq[graft.Q])] = {
    import graft.{queries => qs}
    Seq("Relational" -> qs.Relational.all, "TpchCanon" -> qs.TpchCanon.all,
      "TemporalOps" -> qs.TemporalOps.all, "Streamish" -> qs.Streamish.all,
      "TextOps" -> qs.TextOps.all, "CurationOps" -> qs.CurationOps.all,
      "UnigramOps" -> qs.UnigramOps.all, "DedupOps" -> qs.DedupOps.all,
      "PrivacyOps" -> qs.PrivacyOps.all, "RetrievalOps" -> qs.RetrievalOps.all,
      "VectorOps" -> qs.VectorOps.all, "MultimodalOps" -> qs.MultimodalOps.all,
      "CodecOps" -> qs.CodecOps.all, "WasmOps" -> qs.WasmOps.all)
  }
  def moduleOf(q: String): String = Modules.find(_._2.exists(_.name == q)).map(_._1).getOrElse("other")

  /** Every gate query's output as parquet under `out`, with its hash
    * (`hashes.json`) and its DuckDB oracle (`oracle_sql.json`), for the
    * one-off cross-check in oracle_check.py. */
  def dump(data: Path, out: Path): Unit = {
    val spark = Main.session(Main.Cpus, out)
    val names = BatchQueries
    val hashes = names.map { n =>
      val df = graft.SparkEntry.queries(n)(spark, data.toString)
      val rows = df.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(out.resolve(n).toString)
      spark.sharedState.cacheManager.clearCache()
      n -> hashRows(df.schema.fieldNames.toSeq, rows)
    }.toMap
    Files.writeString(out.resolve("hashes.json"), Json.render(hashes) + "\n")
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.render(graft.SparkEntry.oracleSql.filter(e => names.contains(e._1))) + "\n")
    spark.stop()
  }

  /** Order- and width-insensitive digest of a result: columns by name,
    * values rendered exactly, rows sorted. */
  def hashRows(cols: Seq[String], rows: Array[Row]): String = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(cols.sorted.mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.toPlainString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}

/** Committed expected output hashes, `{"query": "hash", ...}`. */
object Expected {
  def load(p: java.nio.file.Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else "\"([^\"]+)\"\\s*:\\s*\"([0-9a-f]+)\"".r
      .findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> m.group(2)).toMap
}
