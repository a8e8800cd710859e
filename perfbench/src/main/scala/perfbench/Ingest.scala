package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.channel.{Channel, ChannelRegistry}
import graft.net.HttpIngress
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger => StreamTrigger}
import org.apache.spark.sql.types._

/** The ingest pipeline, open loop: a separate generator process (LoadGen)
  * POSTs one JSON event per request to `HttpIngress` on a fixed schedule;
  * a flusher calls `flush()` every [[Ingest.FlushEveryMs]]; a
  * `readStreamV2` subscription, triggered every [[Ingest.TriggerEveryMs]],
  * decodes the events, counts them per
  * 1-second event-time window and (level, target), and an update-mode
  * foreachBatch sink stamps each result row with its emission time.
  *
  * The topic starts with [[Ingest.HistoryBatches]] historical batches
  * (copied from a template built once per checkout through
  * `Channel.write`), because park-mode writes walk every batch directory
  * and a fresh topic would not cost what a long-lived one does.
  *
  * Phases: a warm-up at the nominal rate (not measured), the nominal rate
  * (latency, acknowledgement latency and CPU), then the overload rate
  * (capacity: events committed to the sink per second). */
final class Ingest(o: Opts, tracer: Tracer) extends Workload {
  import Ingest._

  private var topicRoot: Path = _
  private var ch: Channel = _
  private var ingress: HttpIngress.Ingress = _
  private var flusher: java.util.concurrent.ScheduledExecutorService = _
  private var query: StreamingQuery = _
  private var startSeq = 0L
  private var spark: SparkSession = _

  // flusher and sink records, read after the run
  private val flushes = new ConcurrentLinkedQueue[Flush]()
  private val sinkBatches = new AtomicLong(0)
  /** (emission µs, latency ms) of every emitted row. */
  private val rowLatency = new ConcurrentLinkedQueue[(Long, Double)]()
  /** Latest cumulative count per (window_ms, level, target). */
  private val windowCounts = new java.util.concurrent.ConcurrentHashMap[(Long, String, String), Long]()

  def setup(s: SparkSession): Unit = {
    spark = s
    topicRoot = o.work.resolve("topics")
    copyTree(o.template, topicRoot)
    ch = new ChannelRegistry(s, topicRoot).get(Topic)
    startSeq = ch.cursor()
    ingress = HttpIngress.start(s, ch)
    flusher = Executors.newSingleThreadScheduledExecutor()
    flusher.scheduleAtFixedRate(() => flushOnce(), FlushEveryMs, FlushEveryMs, TimeUnit.MILLISECONDS)
  }

  /** The subscription starts after set-up, during the warm-up phase. */
  private def startQuery(): Unit =
    query = pipeline(ch.readStreamV2(fromSeq = Some(startSeq)))
      .writeStream.outputMode("update").queryName("perfbench_ingest")
      .trigger(StreamTrigger.ProcessingTime(TriggerEveryMs))
      .option("checkpointLocation", o.work.resolve("ckpt").toString)
      .foreachBatch((df: DataFrame, id: Long) => sink(df, id))
      .start()

  private def release(): Unit = {
    flusher.shutdown(); flusher.awaitTermination(10, TimeUnit.SECONDS)
    if (query != null) query.stop()
    ingress.stop()
    deleteTree(topicRoot)
  }

  /** A failed flush keeps its records buffered (IngressBuffer restores
    * them) and is retried on the next tick; it is counted, not fatal. */
  private val flushErrors = new AtomicLong(0)
  private def flushOnce(): Unit = {
    val sc = spark.sparkContext
    val pending = ingress.pendingCount
    val id = tracer.newId("f")
    sc.setLocalProperty("perfbench.span", id)
    try {
      val t0 = Clock.us()
      val n = ingress.flush()
      val t1 = Clock.us()
      if (n > 0) {
        flushes.add(Flush(t0, t1, n, pending))
        tracer.add(Span(id, "", "flush", "net", t0, t1, Map("records" -> n)))
      }
    } catch { case scala.util.control.NonFatal(_) => flushErrors.incrementAndGet() }
    finally sc.setLocalProperty("perfbench.span", null)
  }

  private def sink(df: DataFrame, batchId: Long): Unit = {
    val t0 = Clock.us()
    val rows = df.collect()
    val emitted = Clock.us()
    rows.foreach { r =>
      windowCounts.put((r.getLong(0), r.getString(1), r.getString(2)), r.getLong(3))
      rowLatency.add((emitted, (emitted - r.getLong(4)) / 1000.0))
    }
    sinkBatches.incrementAndGet()
    tracer.add(Span(tracer.newId("e"), "", "emit", "sink", t0, emitted, Map("batch" -> batchId)))
  }

  def run(s: SparkSession): Outcome = {
    val obs = if (o.trace) Some(new Observers(s, tracer)) else None
    startQuery()
    val m0 = ch.metrics().collect().head
    val (batches0, bytes0) = (m0.getAs[Long]("n_batches"), m0.getAs[Long]("bytes"))
    val jvm0 = (Jvm.gcSeconds(), Jvm.jitSeconds())
    Jvm.resetPeaks()

    // CPU and channel lag sampled every 100 ms while the generator runs
    val cpuSamples = new ConcurrentLinkedQueue[(Long, Double)]()
    val lagSamples = new ConcurrentLinkedQueue[Double]()
    val sampler = Executors.newSingleThreadScheduledExecutor()
    sampler.scheduleAtFixedRate(() => {
      cpuSamples.add((Clock.us(), Jvm.cpuSeconds()))
      if (o.trace) Option(query.lastProgress).flatMap(_.sources.headOption)
        .flatMap(src => Option(src.endOffset)).foreach { end =>
          lagSamples.add((ch.cursor() - end.trim.toLong).toDouble)
        }
    }, 0, 100, TimeUnit.MILLISECONDS)

    val overloadS = 6.0
    val nominalS = math.max(3.0, o.seconds - overloadS)
    val genOut = o.work.resolve("generator.txt")
    val threads = math.min(MaxGenThreads, Main.Cpus)
    runGenerator(Seq("--port", ingress.port.toString, "--threads", threads.toString,
      "--seed", o.seed.toString, "--out", genOut.toString,
      "--phases", s"$NominalRate:$WarmS,$NominalRate:$nominalS,$OverloadRate:$overloadS"))
    val gen = Generated.parse(genOut)

    // drain: the last flush, then everything it made visible
    flushOnce()
    query.processAllAvailable()
    sampler.shutdown(); sampler.awaitTermination(5, TimeUnit.SECONDS)
    val endSeq = ch.cursor()

    // exactly-once: every acknowledged event is in the channel once
    val r0 = System.nanoTime()
    val landed = ch.readSnapshot(endSeq, startSeq)
      .select(get_json_object(col("body").cast("string"), "$.id").cast("int"))
      .collect().map(_.getInt(0))
    val readMs = (System.nanoTime() - r0) / 1e6
    val acked = gen.status.indices.filter(gen.status(_) == 'a').toSet
    val landedSet = landed.toSet
    val dup = landed.length - landedSet.size
    val lost = (acked -- landedSet).size
    val unacked = (landedSet -- acked).size
    // the sink's final window counts equal the generator's tallies
    val sinkCounts = windowCounts.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val windowBad = (sinkCounts.keySet ++ gen.tally.keySet).count(k => sinkCounts.get(k) != gen.tally.get(k))

    val Seq(_, nominal, overload) = gen.phases
    val nomLat = rowLatency.asScala.filter { case (t, _) => t >= nominal.startUs && t < nominal.endUs }.map(_._2).toSeq
    val (tailName, tailMs) = Stats.tail(nomLat)
    val (capacity, capacityWindows) = committedRate(overload.startUs + 1000000L, overload.endUs)
    val cpuS = cpuAt(cpuSamples, nominal.endUs) - cpuAt(cpuSamples, nominal.startUs)
    val e2e = Map(
      "latency_p50_ms" -> Stats.pct(nomLat, 0.5),
      "latency_tail_ms" -> tailMs,
      // the median: at the nominal rate acknowledgements take ~1 ms with
      // rare multi-ms server pauses, which make the tail and the mean
      // move with the host more than with the code
      "accept_ms" -> nominal.ackP50,
      "throughput_per_s" -> capacity,
      "cpu_s" -> cpuS)
    val samples = Map("latency_p50_ms" -> nomLat.size.toLong, "latency_tail_ms" -> nomLat.size.toLong,
      "accept_ms" -> nominal.ackSamples, "throughput_per_s" -> capacityWindows.toLong,
      "cpu_s" -> cpuSamples.size.toLong)

    val flags = mutable.ArrayBuffer.empty[String]
    if (nominal.latenessP99 > LatenessBoundMs)
      flags += s"generator late at the nominal rate: p99 ${nominal.latenessP99} ms > $LatenessBoundMs ms"

    var layers = Map.empty[String, Double]
    var traceDetail = Map.empty[String, Any]
    obs.foreach { ob =>
      org.apache.spark.PerfbenchBus.drain(s.sparkContext)
      ob.close()
      val mine = (t: Trigger) => t.query == query.name
      val m1 = ch.metrics().collect().head
      val fl = flushes.asScala.toSeq
      val ceilingEps = generatorCeiling(threads)
      if (OverloadRate > CeilingShare * ceilingEps || capacity > CeilingShare * ceilingEps)
        flags += s"capacity may measure the generator: ceiling $ceilingEps eps"
      val chTrig = ob.stream.triggers.asScala.toSeq.filter(t => mine(t) && t.channelSource)
      layers = Map(
        "net.accepted" -> acked.size.toDouble,
        "net.refused" -> (gen.status.count(_ == 'r') + gen.status.count(_ == 'e')).toDouble,
        "net.flush_ms_p50" -> Stats.pct(fl.map(f => (f.endUs - f.startUs) / 1000.0), 0.5),
        "net.flush_ms_p99" -> Stats.pct(fl.map(f => (f.endUs - f.startUs) / 1000.0), 0.99),
        "net.flush_records_p50" -> Stats.pct(fl.map(_.records.toDouble), 0.5),
        "net.pending_max" -> (0 +: fl.map(_.pending)).max.toDouble,
        "channel.batches_at_start" -> batches0.toDouble,
        "channel.batches_at_end" -> m1.getAs[Long]("n_batches").toDouble,
        "channel.bytes_written" -> (m1.getAs[Long]("bytes") - bytes0).toDouble,
        "channel.lag_seq_p50" -> Stats.pct(lagSamples.asScala, 0.5),
        "channel.lag_seq_max" -> (0.0 +: lagSamples.asScala.toSeq).max,
        "channel.dropped_bytes" -> ch.droppedBytes.toDouble,
        "channel.read_ms" -> readMs,
        "sources.latest_offset_ms_p50" -> Stats.pct(chTrig.map(_.latestOffsetMs.toDouble), 0.5),
        "sources.rows_per_trigger_p50" -> Stats.pct(chTrig.map(_.inputRows.toDouble), 0.5),
        "sources.processed_rps" -> chTrig.map(_.inputRows).sum /
          math.max(1e-9, chTrig.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1000.0),
        "gen.nominal_lateness_p99_ms" -> nominal.latenessP99,
        "gen.overload_lateness_p99_ms" -> overload.latenessP99,
        "gen.ceiling_eps" -> ceilingEps,
        "jvm.gc_s" -> (Jvm.gcSeconds() - jvm0._1), "jvm.jit_s" -> (Jvm.jitSeconds() - jvm0._2),
        "jvm.heap_peak_mb" -> Jvm.heapPeakMb()) ++
        ob.exec.metrics ++ ob.plan.metrics ++ ob.stream.metrics(mine)
      // request spans (every 10th request): queued at the generator, then
      // in flight until acknowledged
      gen.requests.foreach { case (i, due, sent, ack) =>
        val id = s"r$i"
        tracer.add(Span(id, "", "request", "net", due, ack, Map("event" -> i)))
        tracer.add(Span(s"$id/queued", id, "queued", "gen", due, sent))
      }
      ob.stream.spans(mine).foreach(tracer.add)
      tracer.nest(s => s.name.startsWith("job ") || s.name == "emit",
        s => s.layer == "streaming" && Trigger.Phases.contains(s.name))
      traceDetail = Map("self_ms" -> tracer.selfMsByLayer(), "ceiling_eps" -> ceilingEps)
    }

    val refused = gen.status.count(c => c == 'r' || c == 'e')
    release()
    Outcome(e2e, samples, layers,
      attempted = gen.status.count(_ != 'u').toLong,
      failed = (refused + lost + dup + windowBad).toLong,
      detail = Map(
        "rates_eps" -> Map("nominal" -> NominalRate, "overload" -> OverloadRate),
        "phases_s" -> Map("warm" -> WarmS, "nominal" -> nominalS, "overload" -> overloadS),
        "history_batches" -> HistoryBatches, "flush_every_ms" -> FlushEveryMs,
        "generator_threads" -> threads, "generator" -> gen.summary,
        "latency_tail_pct" -> tailName,
        "checks" -> Map("acked" -> acked.size, "landed" -> landed.length, "duplicates" -> dup,
          "lost" -> lost, "landed_unacked" -> unacked, "refused_or_error" -> refused,
          "window_keys" -> sinkCounts.size, "window_mismatches" -> windowBad),
        "flags" -> flags.toSeq, "flush_errors" -> flushErrors.get,
        "triggers" -> sinkBatches.get,
        "trace" -> traceDetail))
  }

  /** Events committed to the sink per second of event time between two
    * instants: the sink's final counts of the 1 s windows that lie wholly
    * between them, over the windows' span. Events carry their creation
    * time, so where the trigger grid falls does not matter. Returns the
    * rate and the number of windows used. */
  private def committedRate(fromUs: Long, toUs: Long): (Double, Int) = {
    val first = (fromUs / 1000 + 999) / 1000 * 1000
    val windows = (first until toUs / 1000 - 999 by 1000L).toSet
    val committed = windowCounts.asScala.collect { case ((w, _, _), n) if windows(w) => n.longValue }.sum
    (if (windows.isEmpty) 0.0 else committed / windows.size.toDouble, windows.size)
  }

  private def cpuAt(samples: ConcurrentLinkedQueue[(Long, Double)], us: Long): Double =
    samples.asScala.toSeq.sortBy(_._1).takeWhile(_._1 <= us).lastOption
      .orElse(samples.asScala.headOption).map(_._2).getOrElse(0.0)

  private def runGenerator(args: Seq[String]): Unit = {
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx256m",
      "-cp", System.getProperty("java.class.path"), "perfbench.LoadGen") ++ args
    val p = new ProcessBuilder(cmd.asJava).inheritIO().start()
    try require(p.waitFor(170, TimeUnit.SECONDS) && p.exitValue() == 0, "generator failed")
    finally if (p.isAlive) { p.destroyForcibly(); p.waitFor() }
  }

  /** The generator's own ceiling: a closed loop against a no-op endpoint
    * that answers each request with one TCP_NODELAY write from a thread
    * per connection, so the endpoint is not the limit. */
  private def generatorCeiling(threads: Int): Double = {
    val server = new java.net.ServerSocket(0, 64, java.net.InetAddress.getLoopbackAddress)
    val reply = "HTTP/1.1 202 Accepted\r\nContent-Length: 8\r\n\r\naccepted".getBytes("UTF-8")
    val acceptor = new Thread(() => {
      try while (true) {
        val sock = server.accept()
        sock.setTcpNoDelay(true)
        val t = new Thread(() => {
          val in = new java.io.BufferedInputStream(sock.getInputStream)
          val out = sock.getOutputStream
          try while (true) {
            val head = new StringBuilder
            while (!head.endsWith("\r\n\r\n")) {
              val c = in.read(); if (c < 0) throw new java.io.EOFException(); head += c.toChar
            }
            val len = "(?i)content-length:\\s*(\\d+)".r.findFirstMatchIn(head).map(_.group(1).toInt).getOrElse(0)
            in.readNBytes(len)
            out.write(reply); out.flush()
          } catch { case _: java.io.IOException => () } finally sock.close()
        })
        t.setDaemon(true); t.start()
      } catch { case _: java.io.IOException => () }
    })
    acceptor.setDaemon(true)
    acceptor.start()
    val out = o.work.resolve("ceiling.txt")
    try {
      val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx256m",
        "-cp", System.getProperty("java.class.path"), "perfbench.LoadGen",
        "--port", server.getLocalPort.toString, "--threads", threads.toString, "--ceiling", "2")
      val p = new ProcessBuilder(cmd.asJava).redirectOutput(out.toFile).start()
      try require(p.waitFor(60, TimeUnit.SECONDS) && p.exitValue() == 0, "ceiling probe failed")
      finally if (p.isAlive) { p.destroyForcibly(); p.waitFor() }
      "\"ceiling_eps\":([0-9.eE+-]+)".r.findFirstMatchIn(Files.readString(out)).map(_.group(1).toDouble).getOrElse(0.0)
    } finally { server.close(); acceptor.join(5000) }
  }
}

object Ingest {
  final case class Flush(startUs: Long, endUs: Long, records: Int, pending: Int)

  val Topic = "events"
  /** Nominal rate (events/s), well under the knee: on a 4-core host the
    * edge acknowledges about 100 requests/s over four keep-alive
    * connections (each response waits ~40 ms on delayed ACK, as the JDK
    * HTTP server writes headers and body without TCP_NODELAY). */
  val NominalRate = 40
  /** Overload rate (events/s), well above the knee. */
  val OverloadRate = 400
  val FlushEveryMs = 100L
  /** The subscription's trigger interval, as a long-lived channel query
    * runs. A micro-batch here takes 0.7-1.1 s on 4 cores; with a loop
    * that is as-soon-as-possible, or an interval the batch does not always
    * fit, runs of identical code fell into two regimes (p50 1.3 vs 1.8 s). */
  val TriggerEveryMs = 2000L
  /** Unmeasured lead-in at the nominal rate, before the measured phases:
    * the JIT compiles the pipeline's code here. */
  val WarmS = 12.0
  val HistoryBatches = 400
  val MaxGenThreads = 4
  /** A generator whose p99 lateness at the nominal rate exceeds this is
    * flagged: its schedule, not the engine, shaped the run. */
  val LatenessBoundMs = 20.0
  /** Capacity within this share of the generator's own ceiling is flagged. */
  val CeilingShare = 0.8

  val EventSchema: StructType = new StructType()
    .add("id", LongType).add("level", StringType).add("target", StringType)
    .add("message", StringType)
    .add("fields", ArrayType(new StructType().add("key", StringType).add("value", StringType)))
    .add("spans", ArrayType(new StructType().add("name", StringType)))
    .add("timestamp_ms", LongType).add("created_us", LongType)

  /** decode → tumbling 1 s event-time window per (level, target). */
  def pipeline(in: DataFrame): DataFrame =
    in.select(graft.functions.Codec.decode(col("body"), EventSchema).as("e"))
      .select("e.*")
      .groupBy(window(timestamp_millis(col("timestamp_ms")), "1 second").as("w"), col("level"), col("target"))
      .agg(count(lit(1)).as("n"), max(col("created_us")).as("last_created_us"))
      .select(unix_millis(col("w.start")).as("window_ms"), col("level"), col("target"),
        col("n"), col("last_created_us"))

  /** The historical topic every run starts from, written once through the
    * public channel API: `batches` batches of 50 records each. */
  def makeTemplate(dir: Path, batches: Int): Unit = {
    val spark = Main.session(Main.Cpus, dir.getParent)
    try {
      val ch = new ChannelRegistry(spark, dir).create(Topic, HttpIngress.schema,
        capacityBytes = 8L * 1024 * 1024 * 1024)
      val evs = LoadGen.events(0L, 50)
      import spark.implicits._
      // four concurrent writers: seq reservation keeps their batches apart
      val pool = Executors.newFixedThreadPool(4)
      val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
      val writes = (0 until batches).map { b => scala.concurrent.Future {
        val recs = evs.indices.map { j =>
          val id = -(b * 50 + j + 1)
          HttpIngress.HttpRequest(-id.toLong, "POST", "/ingest", "127.0.0.1",
            LoadGen.body(id, evs(j), 1700000000000000L + b * 1000000L + j))
        }
        ch.write(recs.toDS().toDF(), writerId = 1)
      }(ec) }
      try writes.foreach(f => scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
      finally pool.shutdown()
    } finally spark.stop()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_)) finally walk.close()
  }
}

/** The generator's output file, parsed. */
final case class Phase(startUs: Long, endUs: Long, latenessP99: Double, ackP50: Double, ackSamples: Long)
final case class Generated(summary: String, phases: Seq[Phase], status: String,
                           tally: Map[(Long, String, String), Long],
                           requests: Seq[(Int, Long, Long, Long)])

object Generated {
  def parse(p: Path): Generated = {
    val lines = Files.readAllLines(p).asScala.toSeq
    val summary = lines.head
    def num(obj: String, k: String): Double =
      s""""$k":([0-9.eE+-]+)""".r.findFirstMatchIn(obj).map(_.group(1).toDouble).getOrElse(0.0)
    // the phase objects are the summary's only objects with a "rate"
    val phases = "\\{[^{}]*\"rate\"[^{}]*\\}".r.findAllIn(summary).toSeq.map { ph =>
      Phase(num(ph, "start_us").toLong, num(ph, "end_us").toLong, num(ph, "lateness_ms_p99"),
        num(ph, "ack_ms_p50"), num(ph, "ack_samples").toLong)
    }
    val tally = lines.filter(_.startsWith("T ")).map { l =>
      val Array(_, w, lv, t, c) = l.split(" ")
      (w.toLong, lv, t) -> c.toLong
    }.toMap
    val status = lines.find(_.startsWith("S ")).map(_.drop(2)).getOrElse("")
    val reqs = lines.filter(_.startsWith("R ")).map { l =>
      val Array(_, i, d, s, a) = l.split(" ")
      (i.toInt, d.toLong, s.toLong, a.toLong)
    }
    Generated(summary, phases, status, tally, reqs)
  }
}
