package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds, shared by every span this process
  * records (Spark's listener events carry epoch milliseconds). */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000L + now.getNano / 1000
  }
  def us(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One traced interval. `layer` names the repo module the interval's own
  * (self) time is charged to. */
final case class Span(id: String, parent: String, name: String, layer: String,
                      startUs: Long, endUs: Long, attrs: Map[String, Any] = Map.empty)

/** In-memory span buffer for one run; written out when the run ends.
  * Disabled tracers record nothing, so untraced runs pay no tracing cost. */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def newId(prefix: String): String = s"$prefix${ids.incrementAndGet()}"
  def add(s: Span): Unit = if (enabled) spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq

  /** Time `body` as a span; the span id is handed to the body so that
    * nested work (and Spark jobs tagged with it) can name its parent. */
  def span[T](name: String, layer: String, parent: String)(body: String => T): T = {
    val id = newId("s")
    val t0 = Clock.us()
    try body(id) finally add(Span(id, parent, name, layer, t0, Clock.us()))
  }

  /** Re-parent each span matching `child` under the tightest span matching
    * `container` whose interval holds the child's start. Jobs, micro-batch
    * phases and sink calls are reported from different threads, so their
    * nesting is recovered from time containment. */
  def nest(child: Span => Boolean, container: Span => Boolean): Unit = {
    val ss = all
    val cs = ss.filter(container)
    val out = ss.map { s =>
      if (!child(s)) s
      else {
        val holders = cs.filter(c => c.id != s.id && c.startUs <= s.startUs && s.startUs < c.endUs)
        if (holders.isEmpty) s else s.copy(parent = holders.minBy(c => c.endUs - c.startUs).id)
      }
    }
    spans.clear()
    out.foreach(spans.add)
  }

  /** Self time per layer, ms: each span's duration minus the part of it
    * that its children cover. */
  def selfMsByLayer(): Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    ss.foreach { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
      out(s.layer) += math.max(0L, s.endUs - s.startUs - covered) / 1000.0
    }
    out.toMap
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.startUs).foreach { s =>
      sb ++= Json.render(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_us" -> s.startUs,
        "end_us" -> s.endUs, "attrs" -> s.attrs)) += '\n'
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Spark-side observation for traced runs: jobs and stages become spans
  * under the span named by the `perfbench.span` local property, and task
  * metrics are summed into the `exec` layer counters. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  val jobs = new LongAdder
  val stages = new LongAdder
  val tasks = new LongAdder
  val emptyTasks = new LongAdder
  val executorCpuS = new DoubleAdder
  val shuffleReadMb = new DoubleAdder
  val shuffleWriteMb = new DoubleAdder
  val spillMb = new DoubleAdder
  private val taskMs = new ConcurrentLinkedQueue[Double]()
  /** jobs started per `perfbench.span` property value. */
  private val jobsBySpan = new ConcurrentHashMap[String, LongAdder]()
  def jobsOf(span: String): Double = Option(jobsBySpan.get(span)).map(_.sum.toDouble).getOrElse(0.0)

  private case class JobInfo(spanId: String, parent: String, phase: String, startMs: Long)
  private val jobInfo = new ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new ConcurrentHashMap[Int, String]()

  def taskMsP50: Double = Stats.pct(taskMs.asScala, 0.5)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty("perfbench.span"))).getOrElse("")
    val phase = props.flatMap(p => Option(p.getProperty("perfbench.phase"))).getOrElse("other")
    jobsBySpan.computeIfAbsent(parent, _ => new LongAdder).increment()
    val id = tracer.newId("j")
    jobInfo.put(e.jobId, JobInfo(id, parent, phase, e.time))
    e.stageIds.foreach(s => stageJob.put(s, id))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobInfo.remove(e.jobId)).foreach { j =>
      tracer.add(Span(j.spanId, j.parent, s"job ${e.jobId}", "exec", j.startMs * 1000, e.time * 1000,
        Map("phase" -> j.phase)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.increment()
    val si = e.stageInfo
    for (s <- si.submissionTime; c <- si.completionTime)
      tracer.add(Span(tracer.newId("st"), Option(stageJob.remove(si.stageId)).getOrElse(""),
        s"stage ${si.stageId}", "exec", s * 1000, c * 1000, Map("tasks" -> si.numTasks)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    taskMs.add(e.taskInfo.duration.toDouble)
    Option(e.taskMetrics).foreach { m =>
      executorCpuS.add(m.executorCpuTime / 1e9)
      shuffleReadMb.add(m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      shuffleWriteMb.add(m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      spillMb.add((m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      val written = m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
      if (read == 0 && written == 0) emptyTasks.increment()
    }
  }

  def metrics: Map[String, Double] = {
    val n = tasks.sum.toDouble
    Map(
      "exec.jobs" -> jobs.sum.toDouble,
      "exec.stages" -> stages.sum.toDouble,
      "exec.tasks" -> n,
      "exec.empty_task_frac" -> (if (n > 0) emptyTasks.sum / n else 0.0),
      "exec.executor_cpu_s" -> executorCpuS.sum,
      "exec.task_ms_p50" -> taskMsP50,
      "exec.shuffle_read_mb" -> shuffleReadMb.sum,
      "exec.shuffle_write_mb" -> shuffleWriteMb.sum,
      "exec.spill_mb" -> spillMb.sum)
  }
}

/** Catalyst phase times of every action's QueryExecution (the `plan`
  * layer), read from each execution's planning tracker. */
final class PlanListener extends QueryExecutionListener {
  val analysisMs = new DoubleAdder
  val optimizationMs = new DoubleAdder
  val planningMs = new DoubleAdder
  val actions = new LongAdder

  private def record(qe: QueryExecution): Unit = {
    actions.increment()
    val ph = qe.tracker.phases
    ph.get("analysis").foreach(p => analysisMs.add(p.durationMs.toDouble))
    ph.get("optimization").foreach(p => optimizationMs.add(p.durationMs.toDouble))
    ph.get("planning").foreach(p => planningMs.add(p.durationMs.toDouble))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def metrics: Map[String, Double] = Map(
    "plan.analysis_ms" -> analysisMs.sum,
    "plan.optimization_ms" -> optimizationMs.sum,
    "plan.planning_ms" -> planningMs.sum)
}

/** One micro-batch as reported by StreamingQueryProgress. */
final case class Trigger(query: String, batchId: Long, startUs: Long,
                         durations: Map[String, Long], inputRows: Long,
                         stateCommitMs: Long, stateUpdateMs: Long, stateStores: Long,
                         stateRows: Long, stateBytes: Long,
                         channelSource: Boolean, sourceEndOffset: String,
                         latestOffsetMs: Long)

/** Collects every micro-batch's progress (the `streaming` layer, and the
  * `sources` layer for channel subscriptions). */
final class StreamListener extends StreamingQueryListener {
  val triggers = new ConcurrentLinkedQueue[Trigger]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val ops = p.stateOperators.toSeq
    val chan = p.sources.find(_.description.startsWith("GraftChannel"))
    triggers.add(Trigger(
      Option(p.name).getOrElse(p.id.toString), p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli * 1000, d, p.numInputRows,
      ops.map(_.commitTimeMs).sum, ops.map(_.allUpdatesTimeMs).sum,
      ops.map(_.numStateStoreInstances).sum, ops.map(_.numRowsTotal).sum,
      ops.map(_.memoryUsedBytes).sum, chan.isDefined,
      chan.map(_.endOffset).orNull, d.getOrElse("latestOffset", 0L)))
  }

  /** The spans of every trigger: one per micro-batch, with its reported
    * phases laid end to end in execution order under it (Spark reports
    * each phase's duration, not its start). */
  def spans(filter: Trigger => Boolean): Seq[Span] =
    triggers.asScala.toSeq.filter(filter).flatMap { t =>
      val id = Trigger.spanId(t.query, t.batchId)
      val total = t.durations.getOrElse("triggerExecution", 0L) * 1000
      var at = t.startUs
      val phases = Trigger.Phases.flatMap { ph =>
        t.durations.get(ph).filter(_ > 0).map { ms =>
          val s = Span(s"$id/$ph", id, ph, "streaming", at, at + ms * 1000)
          at += ms * 1000
          s
        }
      }
      Span(id, "", s"trigger ${t.batchId}", "streaming", t.startUs, t.startUs + total,
        Map("query" -> t.query, "rows" -> t.inputRows)) +: phases
    }

  def metrics(filter: Trigger => Boolean): Map[String, Double] = {
    val ts = triggers.asScala.toSeq.filter(filter)
    def sumD(k: String) = ts.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val trig = ts.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    Map(
      "streaming.trigger_count" -> ts.size.toDouble,
      "streaming.trigger_ms_p50" -> Stats.pct(trig, 0.5),
      "streaming.trigger_ms_p99" -> Stats.pct(trig, 0.99),
      "streaming.add_batch_ms" -> sumD("addBatch"),
      "streaming.query_planning_ms" -> sumD("queryPlanning"),
      "streaming.wal_commit_ms" -> sumD("walCommit"),
      "streaming.commit_offsets_ms" -> sumD("commitOffsets"),
      "streaming.state_commit_ms" -> ts.map(_.stateCommitMs).sum.toDouble,
      "streaming.state_update_ms" -> ts.map(_.stateUpdateMs).sum.toDouble,
      "streaming.state_stores" -> ts.map(_.stateStores).sum.toDouble,
      "streaming.state_rows_max" -> (0L +: ts.map(_.stateRows)).max.toDouble,
      "streaming.state_bytes_max" -> (0L +: ts.map(_.stateBytes)).max.toDouble)
  }
}

object Trigger {
  /** Micro-batch phases in the order MicroBatchExecution runs them. */
  val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
  def spanId(query: String, batchId: Long): String = s"t:$query:$batchId"
}

/** The listeners of one traced session, registered and removed together. */
final class Observers(spark: SparkSession, tracer: Tracer) {
  val exec = new ExecListener(tracer)
  val plan = new PlanListener
  val stream = new StreamListener
  spark.sparkContext.addSparkListener(exec)
  spark.listenerManager.register(plan)
  spark.streams.addListener(stream)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(plan)
    spark.streams.removeListener(stream)
  }
}
