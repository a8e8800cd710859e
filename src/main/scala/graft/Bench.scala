package graft

/** Benchmark main: one JSON line with per-query `[wall, cpu, gc]` seconds
  * and totals at the scale factor in SPARK_GRAFT_SF_DIR. A warmup pass at
  * sf0.001 first JIT-compiles the generated code paths so the timings
  * measure the engine, not the JVM's first-run compilation; each query
  * then reports the faster of two interleaved full passes (steady-state),
  * with its process-CPU burn so host co-tenancy distortion is visible in
  * the emitted JSON itself (busy ratio — see below) and its in-window GC
  * time so cross-query heap debt is attributable per query (see the
  * reclaim note in `time`).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.localSession()

    // optional arg: regex over query names (local iteration only — the
    // driver always runs with no args)
    val nameFilter = args.lift(0).map(_.r)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => nameFilter.forall(_.findFirstIn(n).isDefined))

    // Process-CPU seconds alongside wall seconds: this machine has shown
    // 5-60× wall-clock distortion from host co-tenancy (r5's driver bench),
    // and cpu/wall is the self-diagnosing signal — a query that burns
    // ~constant CPU across rounds but balloons in wall time was descheduled
    // by the host, not regressed. Read: busy_ratio = cpu / (wall × cores);
    // a healthy local[32] run of a shuffle-heavy query sits well above
    // ~0.2, while a co-tenant-starved run collapses toward 0.
    // Pattern-matched, not cast — and the match itself guarded against
    // LinkageError: the instanceof needs the com.sun class to LOAD, and a
    // JVM that doesn't ship the package throws NoClassDefFoundError
    // instead of falling to `case _`. Either way the bench degrades to
    // wall-only (cpu −1) instead of dying on a metrics nicety.
    val osBean: Option[com.sun.management.OperatingSystemMXBean] =
      try java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case b: com.sun.management.OperatingSystemMXBean => Some(b)
        case _ => None
      } catch { case _: LinkageError => None }
    def cpuNanos(): Long = osBean.map(_.getProcessCpuTime).getOrElse(-1L)

    // Cumulative stop-the-world GC milliseconds across all collectors —
    // the delta over a timed window attributes heap-debt burn to the
    // query that PAID it, not the one that caused it. r10's driver run
    // showed q_json_extract at 38.1 cpu-s vs 2.35 quiet and
    // q_stream_bpe_encode at 45.6 vs 11.9 — pure cross-query GC pressure
    // inside the one 162-query JVM, indistinguishable from a real
    // regression in a [wall, cpu] row. The gc column makes the artifact
    // self-diagnosing: inflated cpu WITH matching gc is session debt;
    // inflated cpu with flat gc is a genuine regression.
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMillis(): Long = {
      var t = 0L
      gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
      t
    }

    // Attribution columns for the residual session inflation the gc
    // protocol exposed in r11 (~1.7× cpu on common queries with FLAT gc —
    // so not heap debt). The three candidate causes each get a direct
    // per-query measurement in BENCH_DETAIL:
    //  - host co-tenancy → 1-min load average snapshot at window start;
    //  - JIT churn (181 queries × generated classes exceed the codegen
    //    class cache AND pressure the JVM code cache, so compiler threads
    //    burn process-CPU inside later windows) → delta of the JVM's
    //    cumulative JIT compilation time over the window;
    //  - code-cache occupancy → CodeHeap used MB at window end (a full
    //    code cache disables compilation: cpu inflates, gc stays flat).
    val compBean = java.lang.management.ManagementFactory.getCompilationMXBean
    def jitMillis(): Long =
      if (compBean != null && compBean.isCompilationTimeMonitoringSupported)
        compBean.getTotalCompilationTime else -1L
    val codeHeapPools = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("CodeHeap")).toSeq
    }
    def codeCacheMb(): Double =
      if (codeHeapPools.isEmpty) -1.0
      else codeHeapPools.map(_.getUsage.getUsed).sum / 1048576.0
    def loadAvg1m(): Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

    /** (wall, cpu, gc, load, jit, codecache) for one run — seconds,
      * seconds, seconds, 1-min load at start, JIT-compile seconds in
      * window, CodeHeap used MB at end; wall/cpu/gc −1 on failure. */
    def time(name: String): (Double, Double, Double, Double, Double, Double) = {
      val l0 = loadAvg1m()
      val j0 = jitMillis()
      val g0 = gcMillis()
      val c0 = cpuNanos()
      val t0 = System.nanoTime()
      val ok =
        try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      val dc = if (c0 < 0) -1.0 else (cpuNanos() - c0) / 1e9
      val dg = (gcMillis() - g0) / 1e3
      val dj = if (j0 < 0) -1.0 else (jitMillis() - j0) / 1e3
      val cc = codeCacheMb()
      // Reclaim the heap debt OUTSIDE the timed window too: without this,
      // garbage from earlier queries gets collected inside LATER queries'
      // windows and the 2× baseline contract rides on numbers that can
      // inflate 12× in-session. One explicit full GC between runs costs
      // ~0.1-0.3 s of untimed wall each and also ticks ContextCleaner
      // (shuffle/broadcast cleanup is GC-triggered), so every timed
      // window starts from a reclaimed heap.
      System.gc()
      if (ok) (dt, dc, dg, l0, dj, cc) else (-1.0, -1.0, -1.0, l0, dj, cc)
    }

    // warmup at the smallest sf (JIT + parquet footer caches)
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    System.gc() // drop the warmup's debris before the first timed window

    // Two FULL PASSES (not two consecutive runs): the first ~60-90s after
    // an 80-query warmup carry a decaying JVM transient (C2 compile
    // backlog + GC/cleaner debris) that inflates whichever queries run
    // first by 3-10× — measured by reversing the timed order, which moved
    // the inflation to the other end of the alphabet. Interleaving whole
    // passes puts every query's second run in steady state, so
    // min(passA, passB) is transient-free for all of them.
    val passA = names.map(name => name -> time(name)).toMap
    // keep the full tuple of the faster pass — mixing passes would pair
    // a wall time with another run's CPU/GC/JIT burn
    val resultsFull = names.map { name =>
      val a = passA(name)
      val b = time(name)
      name -> (if (a._1 < 0 || b._1 < 0) (-1.0, -1.0, -1.0, a._4, a._5, a._6)
               else if (a._1 <= b._1) a else b)
    }.sortBy(_._1)
    val results = resultsFull.map { case (k, t) => k -> ((t._1, t._2, t._3)) }
    // ONE row builder for both 6-element emissions (the stdout
    // BENCH_DETAIL line and the bench_queries.json artifact) — they must
    // stay structurally identical, differing only in value formatting.
    // Rows are [wall, cpu, gc, load@start, jit_sec, codecache_mb].
    def rows6(fmt: Double => String): String = resultsFull
      .map { case (k, (w, c, g, l, j, cc)) =>
        "\"" + k + "\":[" + Seq(w, c, g, l, j, cc).map(fmt).mkString(",") + "]" }
      .mkString("{", ",", "}")
    // fixed 6-decimal format on the (non-final) log line — NOT
    // Double.toString, whose scientific notation (1.0E-4) trips naive
    // decimal-regex line parsers and diverges from the r3-formatted
    // artifact rows (ADVICE r15 #4); 6dp loses nothing at seconds/MB scale
    def r6d(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))
    println(s"""BENCH_DETAIL {"queries":${rows6(r6d)},"sf":"$sfDir"}""")

    // The driver captures only the last ~2000 chars of output and parses the
    // final JSON line from it. Keep that line comfortably under the window:
    // 3-decimal values, and if the map still doesn't fit, keep the slowest
    // queries that do (the full map is on the BENCH_DETAIL line above).
    def r3(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val total = results.map(_._2._1).filter(_ >= 0).sum
    val cpuTotal = results.map(_._2._2).filter(_ >= 0).sum
    val gcTotal = results.map(_._2._3).filter(_ >= 0).sum
    // cores = the parallelism the run ACTUALLY used, not the host's
    // processor count: the bench is re-run at a lower SPARK_GRAFT_CPUS to
    // measure scaling, and an 8-core artifact that says "cores":32
    // poisons that analysis.
    val cores = spark.sparkContext.defaultParallelism
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    def render(qs: Seq[(String, (Double, Double, Double))]): String = {
      // per-query rows are [wall, cpu, gc] — busy-ratio + gc-debt notes
      // above. SELF-CONSISTENT line (r18 verdict finding #2): n_queries
      // counts the rows CARRIED ON THIS LINE (the driver's comparator
      // rejected lines whose n_queries disagreed with the map it parsed,
      // zeroing PERF per_query/geomean/scaling for two rounds);
      // n_total/value keep the full-surface count and wall total, and the
      // complete per-query table stays on BENCH_DETAIL + bench_queries.json.
      val m = qs.map { case (k, (w, c, g)) =>
        "\"" + k + "\":[" + r3(w) + "," + r3(c) + "," + r3(g) + "]" }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","cpu_total":${r3(cpuTotal)},"gc_total":${r3(gcTotal)},"cores":$cores,"load_avg":${r3(loadAvg)},"n_total":${results.size},"n_queries":${qs.size},"queries":$m,"sf":"$sfDir"}"""
    }
    // The driver parses the final JSON line out of a ~2000-char tail
    // capture. A 1700-char budget leaves ~300 chars of margin for the
    // newline and anything printed after the line. Over budget, keep the
    // slowest queries that fit, down to none: the query-less line is ~230
    // chars plus the sf path, so the loop always ends within budget.
    val budget = 1700
    val bySlowest = results.sortBy(-_._2._1)
    def lineKeeping(k: Int): String = render(bySlowest.take(k).sortBy(_._1))
    var keep = bySlowest.size
    var line = lineKeeping(keep)
    while (keep > 0 && line.length > budget) { keep -= 1; line = lineKeeping(keep) }
    // Machine-parseable artifact with the FULL per-query table (the
    // stdout line is budgeted to the driver's tail window and may drop
    // fast queries): one JSON object at a stable path in the repo root.
    // Rows here carry the full 6-element attribution detail
    // [wall, cpu, gc, load@start, jit_sec, codecache_mb] — the stdout
    // BENCH_DETAIL line is truncated by the driver's 2000-char capture,
    // so this file is the artifact that makes a builder-vs-driver bench
    // disagreement self-diagnosing (r14's q_allpairs_sim breach had no
    // surviving load/JIT columns to attribute it with).
    val fullRows = rows6(r3)
    val full =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","cpu_total":${r3(cpuTotal)},"gc_total":${r3(gcTotal)},"cores":$cores,"load_avg":${r3(loadAvg)},"n_queries":${results.size},"detail_cols":["wall","cpu","gc","load","jit_sec","codecache_mb"],"queries":$fullRows,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_queries.json"),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => () }
    println(line)
    spark.stop()
  }
}
