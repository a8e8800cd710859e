package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.channel.{Channel, TopicListing}

/** DataSource V2 integration for graft channels: `spark.read.format
  * ("graft-channel").load(topicDir)` and `spark.readStream.format
  * ("graft-channel")...` — the ONE read path for a topic. `Channel.read`,
  * `Channel.readSnapshot`, `Channel.readStreamV2` and the
  * `ChannelRegistry.registerViews` SQL views are all this connector.
  *
  * The batch/stream READERS delegate to Spark's own parquet machinery
  * ([[GraftSqlBridge.parquetReadFunc]]), so predicate pushdown (row-group +
  * page skipping) and column pruning are the native parquet ones. A batch
  * scan lists the topic when it plans input partitions, i.e. at each
  * execution — never while a DataFrame is being built.
  *
  * The connector's rules:
  *   - **seq-based offsets**: a micro-batch is a contiguous range of
  *     channel sequence numbers `[start, end)` — compact, human-readable
  *     checkpoint state, mirroring the reference's 64-bit channel cursors
  *     (reference subsystem/messaging/src/lib.rs:80-83);
  *   - **latest-start weak readers**: `startingOffsets=latest` begins at
  *     the committed tail, the reference's weak-subscribe semantics
  *     (reader.rs:319-349); the default `earliest` replays the topic;
  *   - **admission control**: `maxBatchesPerTrigger` bounds each
  *     micro-batch in channel batches (Park-style flow control); unset, a
  *     trigger takes everything committed;
  *   - **data-loss accounting**: `weak=true` skips seq ranges evicted by
  *     Drop-mode channels (ReaderBehind parity, reader.rs:342-396);
  *     `weak=false` (default, strong reader) fails on a gap instead of
  *     silently losing data;
  *   - **progress identity**: the stream describes itself as
  *     `GraftChannel[<topic dir>]`, which is how `Channel.ackFromProgress`
  *     finds its topic in `StreamingQueryProgress`.
  *
  * Mid-write safety is mode-specific. STRONG readers plan only below the
  * strict end, which parks at the lowest pending `_res_` reservation
  * (writers claim their seq with an atomic createDirectory BEFORE
  * writing, see [[Channel.reserveSeq]], and the marker provably outlives
  * any partial batch dir), so a mid-write batch is never half-read, a
  * not-yet-visible concurrent write can never be skipped, and a crashed
  * write blocks (not corrupts) the stream until swept. WEAK readers
  * follow the published weak end (which deliberately advances past
  * durable gaps — evicted and aborted seqs) but `latestOffset` CLAMPS
  * each advance at the first still-in-flight batch dir in range: an
  * offered offset range therefore never spans an uncommitted dir, which
  * keeps `planInputPartitions` deterministic under failure replay (the
  * rival commits → the NEXT trigger resumes past it; it crashes → the
  * sweep tombstones it into a benign hole). The plan site additionally
  * filters any dir lacking `_SUCCESS` as defense-in-depth. Streaming
  * planning reads `batch_*` dirs only — `compact_*` rewrites are
  * invisible to subscriptions (a checkpointed subscriber already
  * ingested the originals), while batch scans read both. The topic
  * directory's grammar is stated in [[TopicListing]]; every planning step
  * takes one fresh listing of it.
  *
  * Scale: every scan — batch, snapshot and micro-batch — is planned by
  * [[ChannelSource.planFiles]] with the policy of Spark's own file scans
  * (`FilePartition`): whole files, each charged
  * `spark.sql.files.openCostInBytes`, packed up to a split size that
  * spreads the scan over the session's parallelism
  * (`spark.sql.files.minPartitionNum`) and never exceeds
  * `spark.sql.files.maxPartitionBytes`. A topic of thousands of tiny
  * batch files plans about one task per core, not one per file, and a
  * small scan is still spread across cores. Files are packed in seq
  * order, so a single-partition topic's batch scan returns rows in its
  * total `(_seq, _writer_id, _offset)` order with no sort in the plan.
  */
final class ChannelSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-channel"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Channel.withWriterId(TopicListing.readMeta(ChannelSource.topicDir(options)).schema)

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ChannelTable(schema, new CaseInsensitiveStringMap(properties))
}

private[graft] object ChannelSource {
  def topicDir(options: CaseInsensitiveStringMap): Path = {
    val p = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-channel requires option 'path' (the topic directory)"))
    Paths.get(p)
  }

  /** The one scan planner: the parquet files of `dataDirs`, in the given
    * (seq) order, packed into input partitions exactly as Spark packs a
    * native parquet scan — whole files, `FilePartition.maxSplitBytes` over
    * the files' lengths plus one open cost each, then
    * `FilePartition.getFilePartitions`, which keeps the file order. */
  def planFiles(spark: SparkSession, dataDirs: Seq[Path]): Array[InputPartition] = {
    val files = dataDirs.flatMap(TopicListing.dataFiles).map(p =>
      PartitionedFile(InternalRow.empty, SparkPath.fromPathString(p.toString), 0, Files.size(p)))
    val openCost = GraftSqlBridge.sqlConf(spark).filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark, files.map(_.length + openCost).sum)
    FilePartition.getFilePartitions(spark, files, maxSplit).toArray
  }
}

final class ChannelTable(schema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val dir = ChannelSource.topicDir(options)
  override def name(): String = s"graft-channel `${dir.getFileName}`"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ChannelScanBuilder(schema, dir, caseInsensitiveOptions)
}

/** Records Spark's pruned schema and pushable filters. `pushFilters`
  * returns ALL filters back to Spark for re-evaluation (parquet row-group
  * stats are a may-skip index, not an exact filter — the same contract the
  * native parquet source uses), while the pushable subset is handed to the
  * reader for actual row-group/page skipping and reported via
  * `pushedFilters`. */
final class ChannelScanBuilder(dataSchema: StructType, dir: Path,
                               options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var required: StructType = dataSchema
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // A filter is pushable when every referenced column is a top-level
    // atomic field (ParquetFilters' own precondition); nested/complex
    // references stay Spark-side only.
    import org.apache.spark.sql.types._
    val atomic = dataSchema.fields.collect {
      case f => f.dataType match {
        case _: ArrayType | _: MapType | _: StructType | _: BinaryType => None
        case _ => Some(f.name)
      }
    }.flatten.toSet
    pushed = filters.filter(_.references.forall(atomic.contains))
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def build(): Scan =
    new ChannelScan(SparkSession.active, dataSchema, required, pushed, dir, options)
}

final class ChannelScan(spark: SparkSession, dataSchema: StructType,
                        required: StructType, pushed: Array[Filter],
                        dir: Path, options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = required

  private def factory(): PartitionReaderFactory =
    new ChannelReaderFactory(GraftSqlBridge.parquetReadFunc(
      spark, dataSchema, required, pushed.toSeq,
      options.asCaseSensitiveMap().asScala.toMap))

  override def description(): String =
    s"GraftChannelScan ${dir.getFileName} ReadSchema: ${required.catalogString}, " +
      s"PushedFilters: [${pushed.mkString(", ")}]"
  override def toString: String = description()

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      // Snapshot reads: [startSeq, endSeq) pins an immutable slice of the
      // topic by cursor — a training run records endSeq once and every
      // re-read sees the identical dataset regardless of later appends.
      // Batch dirs are single-seq, so planning-level pruning is EXACT.
      // Compaction rewrites batches into a multi-seq compact_* dir, which
      // can no longer be pruned exactly at planning — a pin that reaches
      // into compacted history fails loudly (re-pin after maintenance)
      // instead of silently over- or under-reading, mirroring the
      // streaming contract that compaction invalidates subscriptions'
      // view of history.
      val startSeq = Option(options.get("startSeq")).map(_.toLong)
      val endSeq = Option(options.get("endSeq")).map(_.toLong)
      val snapshot = startSeq.isDefined || endSeq.isDefined
      val all = TopicListing.of(dir).live
      val batches = if (!snapshot) all else {
        val compacted = all.filter(_.compact).map(_.seq).maxOption
        compacted.filter(c => startSeq.getOrElse(0L) < c).foreach { c =>
          throw new IllegalStateException(
            s"snapshot [${startSeq.getOrElse(0L)}, ${endSeq.fold("∞")(_.toString)}) " +
              s"reaches into compacted history (compact seq $c) on '$dir'; " +
              "re-pin the snapshot from the current visible end")
        }
        // pruned/evicted history is deleted WITHOUT per-seq traces; the
        // _PRUNED floor is its durable record. A pin below it must fail
        // loudly — silently returning fewer rows than the pinned range
        // once held is the exact failure readSnapshot exists to prevent
        val pruned = Channel.prunedFloor(dir)
        if (startSeq.getOrElse(0L) < pruned)
          throw new IllegalStateException(
            s"snapshot [${startSeq.getOrElse(0L)}, ${endSeq.fold("∞")(_.toString)}) " +
              s"reaches below the pruned floor $pruned on '$dir' " +
              "(consumption retention or Drop eviction removed that history); " +
              "re-pin the snapshot at or above the floor")
        all.filter(d => !d.compact && startSeq.forall(d.seq >= _) && endSeq.forall(d.seq < _))
      }
      // Partitions follow the dirs' seq order (one dir per seq) and each
      // batch dir of a single-partition topic holds one file in `_offset`
      // order, so the scan's row order IS the topic's total order —
      // `Channel.read` needs no logical sort (which would keep the
      // metadata columns in the scan under an aggregate: column pruning
      // runs before sort elimination).
      ChannelSource.planFiles(spark, batches.map(_.path))
    }
    override def createReaderFactory(): PartitionReaderFactory = factory()
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ChannelMicroBatchStream(spark, dir, factory(),
      weak = options.getBoolean("weak", false),
      startLatest = Option(options.get("startingOffsets")).exists(_.equalsIgnoreCase("latest")),
      startSeq = Option(options.get("startingSeq")).map(_.toLong),
      maxBatches = Option(options.get("maxBatchesPerTrigger")).map(_.toInt),
      clampSweepMs = Option(options.get("weakClampSweepMs")).map(_.toLong)
        .getOrElse(600000L))
}

/** Reads a planned [[FilePartition]]'s files in order through Spark's
  * parquet reader, which yields rows (`returning_batch` is pinned false). */
final class ChannelReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[FilePartition].files.iterator.flatMap(readFunc)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** Offset = the next channel sequence number to read (exclusive end of
  * everything ingested), directly mirroring the reference's monotonically
  * increasing reader cursors. */
final case class ChannelSeqOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

final case class ChannelDataLoss(dir: String, missing: Seq[Long])
    extends RuntimeException(
      s"channel '$dir' lost seq(s) ${missing.mkString(",")} (evicted by Drop-mode " +
        "capacity or compacted mid-subscription); use weak=true to skip ahead")

final class ChannelMicroBatchStream(spark: SparkSession, dir: Path,
                                    factory: PartitionReaderFactory,
                                    weak: Boolean, startLatest: Boolean,
                                    startSeq: Option[Long],
                                    maxBatches: Option[Int],
                                    clampSweepMs: Long = 600000L)
    extends MicroBatchStream with SupportsAdmissionControl {

  // weak-clamp persistence tracking (driver-side, one planner per query —
  // latestOffset is never called concurrently for a given stream)
  private var clampedSeq: Long = -1L
  private var clampedSince: Long = 0L

  /** Surfaces the topic dir in StreamingQueryProgress.sources.description
    * so tooling (e.g. Channel.ackFromProgress) can match a source to its
    * topic. */
  override def toString: String = s"GraftChannel[$dir]"

  private def earliest(): Long = {
    val listing = TopicListing.of(dir)
    listing.batches.headOption.fold(listing.nextSeq)(_._1)
  }

  /** One past the last seq of the committed prefix: the stream never
    * advances into a half-written or still-contended seq (every dir at a
    * seq needs `_SUCCESS`), NOR — for strong readers — past a pending
    * `_res_` seq reservation (an in-flight writer whose batch dir may not
    * even exist yet; reservation-before-write is what makes seq offsets
    * strong for concurrent multi-writer topics). Weak readers are lossy
    * by contract (they already skip evicted seqs), so a stalled writer
    * must not park them. Seq GAPS (eviction, manual deletion) do not
    * hold the end back — planInputPartitions decides per mode whether a
    * gap inside the offset range is a skip (weak) or a loss (strict).
    *
    * O(1) per trigger: writers publish the committed head cursor on
    * every commit/abort/compact ([[Channel.advanceHead]] — the reference
    * contract of monotone 64-bit cursors,
    * /root/reference/subsystem/messaging/src/lib.rs:80-83), so a
    * long-lived topic with 10⁵–10⁶ batch dirs plans each trigger from
    * ONE small-file read instead of a full directory listing. The full
    * listing remains the recovery path for topics without a published
    * cursor ([[Channel.committedEnds]]). */
  private def visibleEnd(): Long = {
    val (strict, weakEnd) = Channel.committedEnds(dir)
    if (weak) weakEnd else strict
  }

  /** Explicit `startingSeq` (the backfill→tail handoff: batch-read the
    * snapshot `[0, N)`, then subscribe from exactly N — no overlap, no
    * gap) takes precedence over latest/earliest. */
  override def initialOffset(): Offset =
    ChannelSeqOffset(startSeq.getOrElse(if (startLatest) visibleEnd() else earliest()))

  override def getDefaultReadLimit: ReadLimit =
    maxBatches.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(Offset, ReadLimit) is used")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[ChannelSeqOffset].seq
    var end = visibleEnd()
    // A WEAK advance must never SPAN an in-flight seq
    // (TopicListing.firstInFlight: a batch dir without `_SUCCESS`, or a
    // reservation whose dir does not exist or has not committed yet).
    // Spanning one would make the epoch's content depend on when it is
    // read — the seq commits between a run and its failure replay, and
    // the replay holds rows the original dropped — and once the offset
    // passes the seq, its later-committed data is skipped forever: a
    // real loss, unlike the evicted and aborted holes weak semantics
    // allow. The rival either commits (the next trigger resumes past
    // it) or is swept to an `_abort_` tombstone. The clamp lists the
    // topic ONLY on non-idle triggers (idle planning stays O(1) off the
    // published head); new reservations always land at or above the
    // published weak end, so nothing can appear inside an offered range
    // afterwards, which keeps planInputPartitions deterministic for it.
    if (weak && end > from) {
      val clampAt = TopicListing.of(dir).firstInFlight(from, end)
      clampAt.foreach(c => end = math.min(end, c))
      // Liveness without a maintenance actor: a weak-only subscriber has
      // no guarantee anyone runs sweepStale, so a crashed writer's
      // reservation would park the clamp forever. When the clamp has
      // sat at the SAME seq for longer than clampSweepMs, the planner
      // runs the age-gated sweep itself — the wall-clock judgement an
      // operator cron would make, with the same documented risk (a
      // writer slower than the cutoff is declared dead either way).
      // Re-armed after each attempt, so a sweep that finds nothing (the
      // marker is younger than the cutoff) retries one period later
      // instead of on every trigger.
      clampAt match {
        case Some(s) =>
          val now = System.currentTimeMillis()
          // wait vs cutoff are SEPARATE dials: the option (floored at 1 s
          // so a zero/negative setting can't sweep on every trigger)
          // controls how long to stay parked before attempting
          // maintenance; the sweep's staleness cutoff never drops below
          // sweepStale's documented-safe default (10 min), so a reader
          // configured for snappy liveness still cannot declare a LIVE
          // writer dead and destroy its in-flight batch — only markers
          // already older than the full cutoff are reclaimed.
          if (s != clampedSeq) { clampedSeq = s; clampedSince = now }
          else if (now - clampedSince >= math.max(clampSweepMs, 1000L)) {
            Channel.sweepStaleAt(dir, math.max(clampSweepMs, 600000L))
            clampedSince = now
          }
        case _ => clampedSeq = -1L
      }
    }
    val capped = limit match {
      case m: ReadMaxFiles => math.min(end, from + m.maxFiles())
      case _ => end
    }
    ChannelSeqOffset(math.max(from, capped))
  }

  override def reportLatestOffset(): Offset = ChannelSeqOffset(visibleEnd())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ChannelSeqOffset].seq
    val e = end.asInstanceOf[ChannelSeqOffset].seq
    // Only FULLY COMMITTED dirs are plannable. By construction neither
    // mode's offered end spans an uncommitted dir (STRICT parks at the
    // live reservation marker, which outlives any partial dir; WEAK
    // clamps at the first in-flight dir in latestOffset above), so this
    // filter is defense-in-depth for the states offsets cannot rule out
    // — retention/compaction racing the plan, or out-of-band damage. A
    // weak plan drops such a dir as the benign hole weak semantics
    // already tolerate; a strict plan counts it as loss below and fails
    // LOUDLY instead of half-reading a mid-write batch.
    val listing = TopicListing.of(dir)
    val planned = listing.batches
      .filter { case (seq, ds) => seq >= s && seq < e && ds.forall(TopicListing.committed) }
    if (!weak) {
      // `_abort_` tombstones are holes that never held data (failed or
      // capacity-rejected writes), and a `compact_N` dir consumed seq N
      // without a batch (its content was already delivered as the
      // original batches) — neither is loss
      val have = planned.map(_._1).toSet
      val missing = (s until e).filterNot(x =>
        have(x) || listing.aborts(x) || listing.compactSeqs(x))
      if (missing.nonEmpty) throw ChannelDataLoss(dir.toString, missing)
    }
    ChannelSource.planFiles(spark, planned.flatMap(_._2))
  }

  override def createReaderFactory(): PartitionReaderFactory = factory

  override def deserializeOffset(json: String): Offset = ChannelSeqOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
