package graft.channel

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** A named, durable, many-writer many-reader topic — the Spark-native form
  * of the reference's Channel (ring-buffer MPMC byte channel,
  * subsystem/messaging/src/lib.rs:69-102). Physical backing is an
  * append-only directory of parquet micro-batch files, one sequence
  * number per batch. Every reader is the `graft-channel` connector
  * ([[graft.sources.ChannelSource]]) with the seq as its cursor — the
  * reference's one reader type (lib.rs:80-83, reader.rs:319-396):
  * [[read]] (live batch scan), [[readSnapshot]] (pinned seq range) and
  * [[readStreamV2]] (strong or weak subscription; checkpointed seq
  * offsets make it lossless, strictly stronger than the reference's
  * at-least-once, SURVEY §2.9).
  *
  * Reference-semantic features carried over:
  *  - `_writer_id` stamped on every record (IoFrame.writer_id,
  *    system/abi/src/io.rs:44-52);
  *  - capacity + Drop mode: a capacity-bounded channel in Drop mode evicts
  *    oldest files on overflow and accounts the dropped bytes
  *    (ChannelError::ReaderBehind parity, messaging/src/lib.rs:106-110);
  *    Park mode rejects writes while over capacity (writer backpressure);
  *  - drain()/terminate() lifecycle (messaging/src/lib.rs:559-595):
  *    drained channels refuse writes but serve reads; terminated channels
  *    refuse both;
  *  - schema-hash attach check (SchemaRegistry).
  *
  * Order: a single-partition channel preserves total write order via file
  * sequence numbers (reservation-order parity, lib.rs:555-557). Fanout
  * channels declare `partitions > 1` and waive order (SURVEY §7.4.3).
  */
final class Channel private[channel] (
    val spark: SparkSession,
    val name: String,
    val dir: Path,
    val schema: StructType,
    val schemaHash: String,
    val capacityBytes: Long,
    val dropMode: Boolean,
    val partitions: Int) {

  import Channel._

  @volatile private var droppedBytesCount: Long = 0L

  /** Size of every committed batch dir this handle has seen, by dir
    * name. A dir with `_SUCCESS` is immutable, so it is sized once; the
    * cache is filled lazily, by the first write, not when the handle
    * opens. */
  private val committedSizes =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def isDrained: Boolean = Files.exists(dir.resolve(DrainMarker))
  def isTerminated: Boolean = Files.exists(dir.resolve(TerminateMarker))

  /** Total bytes evicted in Drop mode since this handle was opened —
    * surfaced like the reference's ReaderBehind(n) byte count. */
  def droppedBytes: Long = droppedBytesCount

  /** Append a batch of rows under a writer id. Park mode: throws
    * [[ChannelBackpressure]] when the write would exceed capacity (the
    * caller is "parked" — in streaming use, the trigger retries). Drop
    * mode: evicts oldest batches to make room and records dropped bytes.
    *
    * Two write paths, one on-disk result. Rows already on the driver
    * (`df`'s plan is a `LocalRelation`: ingress flushes, publishes built
    * from a local `Seq`) are written by the driver with Spark's parquet
    * writer and run no Spark job ([[LocalAppend]]); any other DataFrame
    * is written by a Spark job through the Hadoop committer.
    *
    * Capacity accounting does not walk the topic: the handle sizes each
    * committed batch dir once (committed dirs are immutable), so a write
    * lists the topic's names three times — the pre-claim snapshot, the
    * post-claim re-check and the post-commit listing — and sizes only its
    * own batch (and dirs other handles committed since its last write).
    *
    * Sequence allocation is slice-reservation parity
    * (messaging/src/lib.rs:491-519) adapted to shared directories: the
    * sequence number is CLAIMED with an atomic `_res_` marker create
    * (see [[Channel.reserveSeq]]) so independent handles on the same
    * topic (other JVMs included) always land on distinct seqs and can
    * never clobber each other; the batch directory name additionally
    * carries a per-write unique suffix. */
  def write(df: DataFrame, writerId: Int): Unit =
    // "u" prefix keeps a random hex suffix from ever parsing as an epoch
    // marker (`_e<digits>`) in compact()'s _EPOCHS bookkeeping.
    doWrite(df, writerId, "u" + java.util.UUID.randomUUID().toString.take(8))

  /** Idempotent append keyed on (writerId, epochId): replaying the same
    * epoch (a restarted streaming sink re-running its last micro-batch)
    * is a no-op, upgrading [[sink]] from at-least-once to exactly-once. */
  def writeEpoch(df: DataFrame, writerId: Int, epochId: Long): Unit = {
    val marker = s"_w${writerId}_e$epochId"
    val batches = listBatches(dir)
    val existing = batches.filter(_.getFileName.toString.endsWith(marker))
    // A batch dir only counts as committed once Spark's job commit wrote
    // _SUCCESS; the directory itself appears before the tasks finish, so a
    // crash mid-write leaves a partial dir that must be replaced on replay,
    // not skipped (skipping would drop the epoch's data on the exact
    // recovery path this idempotence exists for).
    if (existing.exists(p => Files.exists(p.resolve("_SUCCESS")))) return
    // An epoch absorbed by compact() no longer has its marker dir; the
    // compact dir carries the superseded markers forward (_EPOCHS), so a
    // sink restarted after a maintenance-window compaction still skips its
    // replayed last micro-batch instead of appending duplicates.
    if (compactedEpochs(batches).contains(marker.drop(1))) return
    existing.foreach(Channel.deleteRecursively)
    doWrite(df, writerId, s"e$epochId")
  }

  private def doWrite(df: DataFrame, writerId: Int, unique: String): Unit = {
    if (isTerminated) throw ChannelClosed(name, "terminated")
    if (isDrained) throw ChannelClosed(name, "drained")
    SchemaRegistry.check(name, schemaHash, df.schema)
    // One listing serves the park check and the reservation floor.
    val entries = listDir(dir)
    // Park mode parks BEFORE accepting the frame (reference
    // messaging/src/writer.rs:166-199): a full channel must reject the
    // write without making it visible, or a retrying writer duplicates it.
    // Synchronized with enforceCapacity so two same-handle writers can't
    // both pass a nearly-full check. The names come from the directory
    // (other handles/processes write the same topic, so it is the only
    // source of truth); only the sizes of committed dirs are remembered.
    if (!dropMode) synchronized {
      val current = topicBytes(batchesFrom(entries))
      if (current >= capacityBytes) throw ChannelBackpressure(name, current, capacityBytes)
    }
    // ATOMIC seq reservation (slice-reservation parity upgraded from
    // "coexist on collision" to true reservation): the `_res_<seq>` marker
    // is claimed with an atomic createDirectory, so concurrent writers —
    // other JVMs included — always land on DISTINCT sequence numbers. The
    // marker lives until the batch commits; the DSv2 stream's visible end
    // refuses to pass a pending reservation, which closes the
    // late-visible-same-seq race and makes seq-offset subscriptions
    // strong for multi-writer topics. A writer that crashes mid-write
    // leaves its marker and parks the seq cursor for DSv2 streams until
    // compact() (or sweepStale) clears it — blocked beats silently lossy.
    val batch = reserveSeq(dir, entries)
    val target = dir.resolve(f"batch_$batch%012d" + s"_w${writerId}_$unique")
    try {
      LocalAppend.rowsOf(df) match {
        case Some(rows) => LocalAppend.write(spark, target, df.schema, rows, writerId, batch)
        case None =>
          df.withColumn(WriterIdCol, lit(writerId))
            .withColumn(SeqCol, lit(batch))
            .withColumn(OffsetCol, monotonically_increasing_id())
            .coalesce(math.max(1, partitions))
            .write.mode("errorifexists").parquet(target.toString)
      }
      Files.deleteIfExists(dir.resolve(f"$ResPrefix$batch%012d"))
    } catch {
      // A failed write leaves no committed dir: tombstone the seq
      // (`_abort_`) so strict DSv2 readers know the hole never held data —
      // a bare release would read as data loss, and keeping the
      // reservation would park every stream on a routine failure.
      case t: Throwable => markAborted(dir, batch); throw t
    }
    // One post-commit listing serves capacity enforcement and the head.
    // Publish the new committed head even when capacity enforcement
    // un-publishes this very batch (the abort tombstone still unblocks
    // the cursor) — O(1) offset planning for every subscriber. Eviction
    // removes only the oldest batches, so it cannot move the head this
    // listing yields.
    val committed = listDir(dir)
    try enforceCapacity(batchesFrom(committed), justWritten = target)
    finally advanceHead(dir, committed)
  }

  /** Bytes held by `batches`, sizing only the dirs not yet known to be
    * committed; names gone from the listing leave the cache. */
  private def topicBytes(batches: Seq[Path]): Long = {
    val live = batches.iterator.map(_.getFileName.toString).toSet
    committedSizes.keySet.removeIf(n => !live(n))
    batches.iterator.map(batchBytes).sum
  }

  /** One batch dir's size: remembered once the dir is committed (checked
    * BEFORE sizing, so a dir that commits mid-walk is not remembered at
    * its partial size). */
  private def batchBytes(p: Path): Long = {
    val n = p.getFileName.toString
    val known = committedSizes.get(n)
    if (known != null) known.longValue
    else {
      val committed = Files.exists(p.resolve("_SUCCESS"))
      val size = dirSize(p)
      if (committed) committedSizes.put(n, size)
      size
    }
  }

  private def enforceCapacity(listed: Seq[Path], justWritten: Path): Unit = synchronized {
    var batches = listed
    var total = topicBytes(batches)
    if (total <= capacityBytes) return
    if (!dropMode) {
      // The batch size wasn't knowable before the write ran; un-publish
      // it so the rejected frame is never visible to readers
      // (tombstoned: the un-published seq must read as aborted, not lost).
      // Tombstone BEFORE deleting: our _res_ marker is already released,
      // so between a delete and a late tombstone the seq would have no
      // on-disk trace at all — exactly the window reserveSeq's post-claim
      // re-check relies on never existing. A rival writer could claim the
      // seq, commit real data, and then have THIS writer's tombstone land
      // on top of it, making strict readers skip a committed batch.
      markAborted(dir, batchSeq(justWritten))
      total -= batchBytes(justWritten)
      committedSizes.remove(justWritten.getFileName.toString)
      deleteRecursively(justWritten)
      throw ChannelBackpressure(name, total, capacityBytes)
    }
    // Drop mode: evict oldest whole batches (frame-pruning parity,
    // messaging/src/lib.rs:342-359) until under capacity. The eviction
    // prefix is decided FIRST so the pruned floor publishes once (not a
    // read+write+move per batch on the write hot path), then deletes
    // follow — the same floor-before-delete discipline as pruneConsumed:
    // snapshot pins below an evicted seq must fail loudly, not shrink.
    val toEvict = Seq.newBuilder[(Path, Long)]
    while (total > capacityBytes && batches.size > 1) {
      val oldest = batches.head
      val sz = batchBytes(oldest)
      toEvict += ((oldest, sz))
      batches = batches.tail
      total -= sz
    }
    val evicting = toEvict.result()
    evicting.lastOption.foreach { case (last, _) =>
      // a compact_N dir holds seqs < N (N itself is a benign hole), so
      // its floor is N; a batch_N dir holds seq N, so its floor is N+1
      val floor = batchSeq(last) +
        (if (last.getFileName.toString.startsWith("compact_")) 0 else 1)
      advancePrunedFloor(dir, floor)
    }
    evicting.foreach { case (p, sz) =>
      committedSizes.remove(p.getFileName.toString)
      deleteRecursively(p)
      droppedBytesCount += sz
    }
  }

  /** Batch read of everything in the topic through the connector. On a
    * single-partition channel the scan itself delivers the total
    * `(_seq, _writer_id, _offset)` order (the connector plans batch dirs
    * in seq order, each one file in `_offset` order), so the plan carries
    * no logical sort, and column pruning under an aggregate scans only
    * the columns the query uses. Building the DataFrame runs no job and lists
    * nothing: the topic is listed each time the plan executes, so a
    * DataFrame (or a [[ChannelRegistry.registerViews]] view) built once
    * sees later writes. Weak-reader semantics fall out naturally:
    * already-evicted batches simply aren't there (skip-ahead parity,
    * messaging/src/reader.rs:342-396). */
  def read(): DataFrame = {
    if (isTerminated) throw ChannelClosed(name, "terminated")
    spark.read.format("graft-channel").load(dir.toString)
  }

  /** Current exclusive end cursor — pass as `endSeq` to [[readSnapshot]]
    * to pin everything written so far, or as `fromSeq` to
    * [[readStreamV2]] for the backfill→tail handoff. This is the STRICT
    * committed end (parks at the lowest pending `_res_` reservation,
    * like a strong subscription's visible end), not `nextSeq`: a
    * concurrent writer's in-flight lower-seq batch must stay AHEAD of
    * the boundary — with a `nextSeq` cursor it would fall below the
    * tail's start yet outside the snapshot, and be lost silently. */
  def cursor(): Long =
    Channel.readHead(dir).map(_._1).getOrElse(Channel.committedEnds(dir)._1)

  /** Immutable snapshot read of seq range `[startSeq, endSeq)` via the
    * DSv2 connector: re-reads see the identical dataset regardless of
    * later appends (the reproducible-dataset pin a training run records).
    * Fails if the range reaches into compacted history OR below the
    * pruned floor (consumption retention / Drop eviction) — identical
    * data or a loud error, never silently fewer rows; re-pin after
    * maintenance. */
  def readSnapshot(endSeq: Long, startSeq: Long = 0L): DataFrame = {
    if (isTerminated) throw ChannelClosed(name, "terminated")
    spark.read.format("graft-channel")
      .option("startSeq", startSeq).option("endSeq", endSeq)
      .load(dir.toString)
  }

  /** The topic's subscription, with seq-based offsets
    * ([[graft.sources.ChannelSource]] — latest-start weak readers,
    * maxBatchesPerTrigger admission control (unset: a trigger takes all
    * committed batches), data-loss detection). Every StreamingQuery gets
    * the full data (broadcast pub/sub, J5). Strong for concurrent
    * multi-writer topics too: writers reserve their seq atomically before
    * writing and the stream's visible end waits on pending reservations.
    * `weak = true` skips evicted seqs instead of failing (reader.rs:
    * 342-396); the loss is accounted by [[droppedBytes]].
    *
    * Weak readers park at an in-flight seq rather than skipping it (a
    * crashed writer must not cause silent loss), and SELF-HEAL: if the
    * clamp sits at the same seq longer than `weakClampSweepMs` (source
    * option, default 10 min, floored at 1 s), the planner runs the
    * age-gated [[sweepStale]] itself — no external maintenance actor is
    * required for liveness, though a topic-level sweep/compact cadence
    * remains good hygiene. The option controls only the WAIT; the
    * sweep's staleness cutoff never drops below sweepStale's safe
    * default (10 min), so a snappy-liveness setting cannot declare a
    * live writer dead. */
  def readStreamV2(weak: Boolean = false, startingLatest: Boolean = false,
                   maxBatchesPerTrigger: Option[Int] = None,
                   fromSeq: Option[Long] = None): DataFrame = {
    if (isTerminated) throw ChannelClosed(name, "terminated")
    val r = spark.readStream.format("graft-channel")
      .option("weak", weak.toString)
      .option("startingOffsets", if (startingLatest) "latest" else "earliest")
    maxBatchesPerTrigger.foreach(n => r.option("maxBatchesPerTrigger", n.toString))
    // backfill→tail handoff: pair with read(endSeq = N) — the batch
    // snapshot covers [0, N), the subscription starts at exactly N
    // (precedence over startingOffsets)
    fromSeq.foreach(n => r.option("startingSeq", n.toString))
    r.load(dir.toString)
  }

  /** Continuous sink: write a streaming DataFrame into this channel.
    * foreachBatch routes through [[write]] so capacity/lifecycle/writer-id
    * semantics hold for streaming writers too. Long-lived by default
    * (keeps serving future appends); `availableNow = true` drains what
    * exists and terminates (run-to-completion pipelines). */
  def sink(df: DataFrame, writerId: Int, checkpoint: Path,
           availableNow: Boolean = false): StreamingQuery = {
    val w = df.writeStream
      .option("checkpointLocation", checkpoint.toString)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        writeEpoch(batch, writerId, epochId) // idempotent → exactly-once
      }
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }

  /** Compact all current batches into one (small-file hygiene: a
    * long-lived topic accumulates one directory per micro-batch; readers
    * pay per-file open costs). Metadata columns (`_seq`/`_offset`/
    * `_writer_id`) are already data in the stored files, so offset order
    * and attribution survive compaction.
    *
    * The compacted output is named `compact_N`, and subscriptions plan
    * `batch_*` dirs only: a checkpointed subscriber has already ingested
    * the original batches, so delivering their contents again under a
    * new dir would double-deliver the whole topic. Seq N itself is a
    * benign hole to strong subscriptions. Consequence: streaming
    * subscriptions (existing and new) see only post-compaction appends;
    * batch [[read]] always sees everything, and a [[readSnapshot]] pin
    * reaching into compacted history fails loudly. Not safe concurrently
    * with writers (call from a maintenance window / drained topic). */
  def compact(): Unit = {
    val batches = listBatches(dir)
    if (batches.size <= 1) return
    val seq = nextSeq(dir)
    val tmp = dir.resolve(s"_compacting")
    read().coalesce(math.max(1, partitions)).write.mode("overwrite").parquet(tmp.toString)
    // Carry every absorbed (writerId, epochId) marker into the compact dir
    // (_EPOCHS, one `w<id>_e<epoch>` per line — an underscore-prefixed file,
    // invisible to parquet scans) so writeEpoch idempotence survives the
    // marker dirs' deletion below; prior compacts' _EPOCHS chain forward.
    val absorbed = (compactedEpochs(batches) ++ batches.collect {
      case p if Files.exists(p.resolve("_SUCCESS")) =>
        EpochMarker.findFirstIn(p.getFileName.toString)
    }.flatten).toSeq.sorted
    if (absorbed.nonEmpty)
      Files.writeString(tmp.resolve(EpochsFile), absorbed.mkString("\n"))
    Files.move(tmp, dir.resolve(f"compact_$seq%012d"))
    // Sweep everything the new compact file supersedes — including
    // leftovers of a previously crashed compaction (listBatches already
    // filters them, so this is cleanup, not correctness) — and ALL stale
    // seq reservations: compact() requires no concurrent writers, so any
    // surviving `_res_` marker belongs to a crashed write and would park
    // DSv2 streams forever.
    Channel.listDir(dir)
      .filter { p =>
        val n = p.getFileName.toString
        ((n.startsWith("batch_") || n.startsWith("compact_")) && batchSeq(p) < seq) ||
          n.startsWith(ResPrefix) || n.startsWith(AbortPrefix)
      }
      .foreach(Channel.deleteRecursively)
    // the compact dir consumed seq N without a batch_* dir: republish the
    // cursor past it (subscribers treat a compact-covered seq as a benign
    // hole, not loss)
    Channel.advanceHead(dir)
  }

  /** Release reservation markers older than `olderThanMs` — the
    * maintenance action for CRASHED writers, whose pending `_res_` seq
    * otherwise parks every strict subscription's visible end forever
    * (blocked beats silently lossy, but an operator eventually has to
    * unblock). A stale seq with NO committed batch is tombstoned
    * (`_abort_`) BEFORE its marker is released, so strict readers see an
    * aborted hole, never a trace-free gap; a stale marker whose batch DID
    * commit (writer died between commit and marker release) just drops
    * the marker — the data is valid. Returns the number swept.
    *
    * DANGER: declaring a writer dead is inherently wall-clock judgement —
    * a merely-slow writer swept mid-write will commit data onto a seq
    * already tombstoned, which strict readers may then skip. Only call
    * with `olderThanMs` far above any plausible write duration (default
    * 10 min), from a maintenance context. */
  def sweepStale(olderThanMs: Long = 600000): Int = synchronized {
    Channel.sweepStaleAt(dir, olderThanMs)
  }

  /** Consumption-driven retention — the reference's frame pruning
    * ("frames dropped once all heads pass",
    * /root/reference/subsystem/messaging/src/lib.rs:342-359), adapted to
    * durable topics: subscribers REGISTER a named head, acknowledge the
    * seqs they have durably processed, and [[pruneConsumed]] deletes only
    * history EVERY registered head has passed. Capacity eviction (Drop
    * mode) bounds the topic by SIZE; this bounds it by CONSUMPTION — the
    * two compose, and a topic with no registered readers is never pruned
    * by consumption (no heads ⇒ nothing has provably passed).
    * Readers outside the registry are outside the contract, exactly as
    * unsubscribed readers are invisible to the reference's head
    * accounting: a strict subscription resumed from a checkpoint BELOW a
    * pruned boundary reports data loss (same surface as Drop eviction). */
  def registerReader(reader: String): Unit = {
    Channel.validReaderName(reader)
    ackReader(reader, 0L)
  }

  /** Monotonic acknowledgement: `upTo` is the reader's next-unread seq
    * (exclusive — everything below is durably processed). A lower ack
    * than already recorded is a no-op, so retries and out-of-order acks
    * can never regress a head and resurrect prune eligibility. */
  def ackReader(reader: String, upTo: Long): Unit = synchronized {
    Channel.validReaderName(reader)
    val f = dir.resolve(s"${Channel.ReaderPrefix}$reader")
    val current = if (Files.exists(f))
      try Files.readString(f).trim.toLong catch { case _: Exception => 0L }
    else -1L
    if (upTo > current || current < 0) {
      val tmp = dir.resolve(s"${Channel.ReaderPrefix}$reader.tmp")
      Files.writeString(tmp, math.max(upTo, math.max(current, 0L)).toString)
      Files.move(tmp, f, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Registered reader heads (reader → next-unread seq). */
  def readerHeads: Map[String, Long] =
    Channel.listDir(dir)
      .filter(_.getFileName.toString.startsWith(Channel.ReaderPrefix))
      .filterNot(_.getFileName.toString.endsWith(".tmp"))
      .map { p =>
        val n = p.getFileName.toString.stripPrefix(Channel.ReaderPrefix)
        n -> (try Files.readString(p).trim.toLong catch { case _: Exception => 0L })
      }.toMap

  /** Acknowledge from a subscription's own progress: reads the last
    * committed end offset of the graft-channel source on THIS topic out
    * of `q.lastProgress` and advances `reader`'s head to it. Call after
    * the query has quiesced (e.g. `processAllAvailable()`): lastProgress
    * reflects completed micro-batches, which is exactly the
    * durably-checkpointed point a retention head may safely claim.
    * No-op when the query has no progress yet or no source on this
    * topic — acks must never guess. */
  def ackFromProgress(reader: String, q: StreamingQuery): Unit = {
    // validate BEFORE the progress check: a malformed reader name must
    // fail fast even when the query has produced no progress yet, not
    // surface later (or never) as a silent no-op
    Channel.validReaderName(reader)
    Option(q.lastProgress).foreach(ackFromProgress(reader, _))
  }

  /** Same, from a progress object directly — the form a
    * StreamingQueryListener holds (it sees events, not queries);
    * [[graft.runtime.QueryManager.autoAck]] drives retention through
    * this. */
  def ackFromProgress(reader: String,
      p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    Channel.validReaderName(reader)
    // exact-match the source description: a substring test on the bare
    // dir path would also match a SIBLING topic whose path extends this
    // one (events vs events_dlq) and ack — then prune — the wrong topic
    p.sources.toSeq
      .filter(sp => Option(sp.description).exists(_.contains(s"GraftChannel[$dir]")))
      .flatMap(sp => Option(sp.endOffset))
      .flatMap(off => scala.util.Try(off.trim.toLong).toOption)
      .maxOption
      .foreach(ackReader(reader, _))
  }

  /** Delete committed batch dirs every registered head has passed;
    * returns bytes pruned. Abort tombstones and reservation markers are
    * kept (strict-reader gap accounting below the floor stays exact for
    * any out-of-contract reader). No registered readers ⇒ no-op.
    *
    * `graceMs`: only batches whose `_SUCCESS` is at least this old are
    * eligible. A batch is "committed" the instant `_SUCCESS` exists, but
    * the writer's commit epilogue (checksum perms, etc.) runs for a few
    * more microseconds — pruning inside that window fails the WRITER
    * (found by the seeded retention stress). Production retention runs
    * minutes behind the head anyway; pass 0 only on a quiesced topic. */
  def pruneConsumed(graceMs: Long = 5000): Long = synchronized {
    val heads = readerHeads
    if (heads.isEmpty) return 0L
    val cutoff = System.currentTimeMillis() - graceMs
    // committed AND old enough in one stat (a missing _SUCCESS reads as
    // IOException → not committed); checking existence separately would
    // double the per-batch I/O for the same answer
    def committedAndOld(p: Path): Boolean =
      try Files.getLastModifiedTime(p.resolve("_SUCCESS")).toMillis <= cutoff
      catch { case _: java.io.IOException => false }
    // the STRUCTURAL commit-window guard (the grace window alone is
    // wall-clock-fragile — a writer can stall mid-epilogue for longer
    // than any grace): doWrite releases a batch's _res_ marker only
    // AFTER write.parquet fully returns, so a live reservation marks
    // the commit window exactly; those seqs are never prune-eligible
    val reserved = Channel.resSeqs(dir).toSet
    val committed = Channel.listBatches(dir)
      .filter(p => !p.getFileName.toString.startsWith("compact_") &&
        !reserved.contains(Channel.batchSeq(p)) && committedAndOld(p))
    // keep the NEWEST committed batch even when every head passed it —
    // the same invariant Drop-mode eviction holds (batches.size > 1):
    // the on-disk seq history stays anchored for topics whose _HEAD
    // cursor is missing, and a fresh earliest()-start subscriber lands
    // on a real dir instead of a fully bare topic
    val lastSeq = committed.map(Channel.batchSeq).maxOption.getOrElse(0L)
    val floor = math.min(heads.values.min, lastSeq)
    val toDelete = committed.filter(p => Channel.batchSeq(p) < floor)
    if (toDelete.isEmpty) return 0L
    // floor BEFORE delete: a crash between the two must leave the floor
    // published, never deleted-but-unrecorded history (a snapshot pinned
    // below it would silently shrink)
    Channel.advancePrunedFloor(dir,
      toDelete.map(Channel.batchSeq).max + 1)
    var pruned = 0L
    toDelete.foreach { p =>
      pruned += Channel.dirSize(p)
      Channel.deleteRecursively(p)
    }
    pruned
  }

  /** Channel health/metrics row (ops surface; droppedBytes is the
    * ReaderBehind accounting, reference messaging/src/lib.rs:106-110). */
  def metrics(): DataFrame = {
    import spark.implicits._
    val batches = listBatches(dir)
    // retention observability: the pruned floor, the slowest registered
    // head (what gates the next prune), and the head count — the three
    // numbers an operator needs to see WHY history is (not) shrinking
    val heads = readerHeads
    Seq((name, batches.size.toLong, topicBytes(batches),
      droppedBytesCount, isDrained, isTerminated,
      (try Channel.prunedFloor(dir) catch { case _: IllegalStateException => -1L }),
      heads.values.minOption.getOrElse(-1L), heads.size.toLong))
      .toDF("channel", "n_batches", "bytes", "dropped_bytes", "drained",
        "terminated", "pruned_floor", "min_reader_head", "n_readers")
  }

  /** Stop accepting new frames; readers may consume the tail
    * (messaging/src/lib.rs:581-595). */
  def drain(): Unit = Files.createDirectories(dir.resolve(DrainMarker))

  /** Abort: refuse subsequent reads and writes (lib.rs:559-579). */
  def terminate(): Unit = Files.createDirectories(dir.resolve(TerminateMarker))
}

object Channel {
  val WriterIdCol = "_writer_id"
  val SeqCol = "_seq"
  val OffsetCol = "_offset"
  private val DrainMarker = "_DRAINED"
  private val TerminateMarker = "_TERMINATED"
  private val EpochsFile = "_EPOCHS"
  private val EpochMarker = """w\d+_e\d+$""".r
  private[graft] val ResPrefix = "_res_"
  private[graft] val HeadFile = "_HEAD"
  private[graft] val ReaderPrefix = "_rdr_"
  private[graft] val PrunedFile = "_PRUNED"

  /** One past the highest seq ever deleted WITHOUT a per-seq trace
    * (consumption pruning, Drop-mode eviction). Snapshot reads starting
    * below this floor fail loudly instead of silently returning fewer
    * rows than the pinned range once held — the reproducible-dataset
    * contract readSnapshot exists for. 0 when nothing was ever removed.
    * An unparseable marker throws: "unknown floor" must refuse snapshot
    * pins (fail LOUD), never admit them as "nothing was ever pruned" —
    * the next [[advancePrunedFloor]] repairs the file. */
  private[graft] def prunedFloor(dir: Path): Long = {
    val f = dir.resolve(PrunedFile)
    if (!Files.exists(f)) 0L
    else {
      val s = Files.readString(f).trim
      try s.toLong catch {
        case _: NumberFormatException => throw new IllegalStateException(
          s"corrupt $PrunedFile on '$dir' ('${s.take(32)}'); pruned history " +
            "is unknown — repair the marker (or run a prune/eviction, which " +
            "re-publishes it) before snapshot reads")
      }
    }
  }

  // per-topic monitors for the floor advance: FileLock is cross-JVM but
  // throws OverlappingFileLockException for two threads of the SAME JVM,
  // so intra-JVM racers must serialize on a shared monitor first
  private val floorMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Monotonically raise the pruned floor. A retry-loop CAS is NOT
    * enough here: a racer carrying a lower floor can land its replace
    * after the higher advancer has verified-and-exited, regressing the
    * floor with no guaranteed later publish to repair it — and a
    * regressed floor re-admits snapshot pins over deleted history. So
    * advances serialize: an intra-JVM monitor per topic, then a
    * cross-JVM FileLock; inside the critical section read → compare →
    * write a UNIQUE temp (a fixed tmp name would let racers steal each
    * other's move) → atomic replace. A corrupt marker reads as -1 and
    * is repaired by the rewrite. */
  private[graft] def advancePrunedFloor(dir: Path, floor: Long): Unit = {
    val monitor = floorMonitors.computeIfAbsent(
      dir.toAbsolutePath.toString, _ => new Object)
    monitor.synchronized {
      val lockCh = java.nio.channels.FileChannel.open(
        dir.resolve(PrunedFile + ".lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = lockCh.lock()
        try {
          val current =
            try prunedFloor(dir) catch { case _: IllegalStateException => -1L }
          if (current < floor) {
            val tmp = Files.createTempFile(dir, PrunedFile, ".tmp")
            try {
              Files.writeString(tmp, floor.toString)
              Files.move(tmp, dir.resolve(PrunedFile),
                java.nio.file.StandardCopyOption.REPLACE_EXISTING,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            } finally Files.deleteIfExists(tmp)
          }
        } finally lock.release()
      } finally lockCh.close()
    }
  }

  /** Reader names become marker file names — reject anything that could
    * traverse or collide with topic internals (same hostile-input posture
    * as the module store's path validation). */
  private[graft] def validReaderName(reader: String): Unit =
    require(reader.nonEmpty && reader.length <= 128 &&
      reader.forall(c => c.isLetterOrDigit || c == '.' || c == '_' || c == '-') &&
      !reader.startsWith(".") && !reader.endsWith(".tmp"),
      s"invalid reader name '$reader' (allowed: [A-Za-z0-9._-], no leading dot)")

  /** Committed head cursor `(strictEnd, weakEnd)` from a full directory
    * listing: `weakEnd` = one past the HIGHEST fully committed seq
    * (every dir at the seq has `_SUCCESS`); gaps — evicted, aborted, or
    * still in-flight seqs — do not hold it back. `strictEnd`
    * additionally parks at the lowest still-pending `_res_` reservation
    * (an in-flight or crashed write — its batch dir may not exist yet,
    * or exist without `_SUCCESS`). An in-flight batch must only park
    * STRICT: parking weak on an uncommitted dir made the listing-derived
    * weak end non-monotone (a writer committing seq k+1 before a rival's
    * slower seq k materialized its dir advanced weak to k+2, then the
    * rival's bare dir appeared and a fresh listing regressed it to k —
    * found by ChannelInterleavingSuite's exhaustive schedule
    * enumeration; the published head, being max-merged, masked it on
    * the O(1) path). This is the ONE O(#dirs) computation of streaming
    * offset planning; it runs on the WRITE path (see [[advanceHead]]) so
    * triggers read the published cursor in O(1) instead of re-listing a
    * possibly million-dir topic. */
  private[graft] def committedEnds(dir: Path): (Long, Long) =
    committedEnds(dir, listDir(dir))

  /** [[committedEnds]] over one directory listing; `_SUCCESS` is checked
    * from the highest seq down, so a write stats O(1) dirs, not all. */
  private[graft] def committedEnds(dir: Path, entries: Seq[Path]): (Long, Long) = {
    val dirs = entries
      .filter(_.getFileName.toString.startsWith("batch_"))
      .groupBy(batchSeq).toSeq.sortBy(_._1)
    def committed(p: Path) = Files.exists(p.resolve("_SUCCESS"))
    val pendingRes = seqsWith(entries, ResPrefix)
    // No-committed-prefix fallback: the end is the LOWEST trace of an
    // unresolved writer — batch dir OR bare `_res_` reservation. Taking
    // only the first dir here was order-sensitive: a failed write's
    // partial dir at seq 1 published weak end 1 while a slower rival's
    // seq-0 reservation (dir not created yet) was still undecided, and
    // the rival's dir then regressed a fresh listing to 0 — the
    // published head overshot the true end (found by the exhaustive
    // model once aborts became realistic failed writes). Monotone
    // because every NEW trace lands above all existing ones
    // (reserveSeq's floor spans batches, markers, tombstones, and the
    // published cursor).
    val end = dirs.reverseIterator
      .collectFirst { case (seq, ds) if ds.forall(committed) => seq + 1 }
      .getOrElse(
        (dirs.headOption.map(_._1).toSeq ++ pendingRes.headOption.toSeq)
          .minOption.getOrElse(nextSeqFrom(entries)))
    val dirMap = dirs.toMap
    val strict = pendingRes
      .filterNot(s => dirMap.get(s).exists(_.forall(committed)))
      .minOption.map(math.min(end, _)).getOrElse(end)
    (strict, end)
  }

  /** Read the published head cursor, if any. `None` (no file, or torn
    * foreign content) sends the reader down the full-listing recovery
    * path. */
  private[graft] def readHead(dir: Path): Option[(Long, Long)] = {
    val f = dir.resolve(HeadFile)
    if (!Files.exists(f)) None
    else try {
      val Array(s, w) = Files.readString(f).trim.split(" ")
      Some((s.toLong, w.toLong))
    } catch { case _: Exception => None }
  }

  /** Publish the committed head cursor (atomic tmp+rename). Called after
    * every commit/abort/compact: one listing per publish rides the write
    * path, leaving offset planning O(1) per trigger.
    *
    * The cursor is ADVISORY, not the source of truth — and that is what
    * makes the unsynchronized read-compare-move here safe. Two racing
    * writers can interleave so that a staler (lower) cursor lands last:
    * that is mere LAG, never corruption, because any historical cursor
    * stays a valid committed prefix (new reservations always land at ≥
    * the published end and evictions only create gaps below it), readers
    * fall back to the full listing when the cursor trails, and the next
    * write or compact() re-publishes the true maximum. Same story for a
    * writer that crashes between commit and publish. Serializing
    * publication (file lock / retry loop) would buy nothing but
    * contention on the hot write path. */
  private[graft] def advanceHead(dir: Path): Unit = advanceHead(dir, listDir(dir))

  /** [[advanceHead]] over one directory listing (the cursor and the
    * leaked-tmp sweep both derive from it). */
  private[graft] def advanceHead(dir: Path, entries: Seq[Path]): Unit = {
    val (strict, weakEnd) = committedEnds(dir, entries)
    val cur = readHead(dir)
    val (ns, nw) = (math.max(strict, cur.fold(0L)(_._1)),
      math.max(weakEnd, cur.fold(0L)(_._2)))
    if (cur.forall { case (s, w) => ns > s || nw > w }) {
      // sweep tmp files a crashed writer leaked (age-gated: a LIVE tmp
      // exists for milliseconds between create and move)
      try entries
        .filter(_.getFileName.toString.startsWith("_head"))
        .filter(_.getFileName.toString.endsWith(".tmp"))
        .filter { p =>
          try Files.getLastModifiedTime(p).toMillis < System.currentTimeMillis() - 60000
          catch { case _: Exception => false }
        }.foreach(p => Files.deleteIfExists(p))
      catch { case _: Exception => () }
      val tmp = Files.createTempFile(dir, "_head", ".tmp")
      Files.writeString(tmp, s"$ns $nw")
      try Files.move(tmp, dir.resolve(HeadFile),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      catch { case _: Exception =>
        // publication is best-effort: a lost move (e.g. our tmp swept by
        // an aggressive cleaner) is the same benign lag as a crash here
        Files.deleteIfExists(tmp)
      }
    }
  }

  /** Sequence numbers currently reserved by in-flight (or crashed)
    * writers. Underscore prefix keeps markers invisible to parquet scans
    * and listBatches. */
  private[graft] def resSeqs(dir: Path): Seq[Long] = seqsWith(listDir(dir), ResPrefix)

  /** Sorted seqs of the `prefix<seq>` markers in one listing. */
  private def seqsWith(entries: Seq[Path], prefix: String): Seq[Long] =
    entries.map(_.getFileName.toString).filter(_.startsWith(prefix))
      .map(_.drop(prefix.length).toLong).sorted

  /** Claim the next free sequence number with an atomic createDirectory
    * on its `_res_` marker — two writers (any JVMs) can never share a seq.
    * Scans both committed batches and outstanding reservations so a
    * crashed writer's marker is skipped over, not reused.
    *
    * The atomic create alone is NOT sufficient: markers are released
    * after commit, so a writer that listed the directory BEFORE a rival
    * claimed seq `s` can win the marker AFTER that rival committed and
    * released it — a double-claim that would put two batch dirs on one
    * seq and reopen the late-visible-same-seq stream race (found by the
    * seeded interleaving stress, ChannelStressSuite). Hence the
    * post-claim re-check: every consumer of a seq makes its trace — batch
    * dir (before `_SUCCESS`→marker-delete), `_abort_` tombstone (before
    * marker-delete), `compact_` dir (writer-free window) — visible
    * BEFORE the marker is released, so holding the marker and seeing no
    * trace proves the seq is genuinely fresh. One extra listing per
    * reservation. */
  private[graft] def reserveSeq(dir: Path): Long = reserveSeq(dir, listDir(dir))

  /** [[reserveSeq]] with its floor taken from one listing of `dir` —
    * the writer's pre-claim snapshot. A stale snapshot only starts the
    * search low; the post-claim re-check rejects a used seq either way. */
  private[graft] def reserveSeq(dir: Path, entries: Seq[Path]): Long = {
    // the published head cursor joins the floor computation: batch dirs
    // below it may have been pruned/evicted WITHOUT tombstones, and a
    // seq below the committed end must never be re-issued (a subscriber
    // whose offset already passed it would silently skip the new data)
    var s = Seq(nextSeqFrom(entries),
      seqsWith(entries, ResPrefix).lastOption.map(_ + 1).getOrElse(0L),
      seqsWith(entries, AbortPrefix).lastOption.map(_ + 1).getOrElse(0L),
      readHead(dir).map(_._2).getOrElse(0L)).max
    while (true) {
      if (!tryReserve(dir, s)) s += 1
      else if (seqUsed(dir, s)) {
        Files.deleteIfExists(dir.resolve(f"$ResPrefix$s%012d"))
        s += 1
      } else return s
    }
    -1 // unreachable
  }

  /** Any on-disk trace that seq `s` was ever consumed. */
  private def seqUsed(dir: Path, s: Long): Boolean =
    listDir(dir).exists { p =>
      val n = p.getFileName.toString
      (n.startsWith("batch_") || n.startsWith("compact_") ||
        n.startsWith(AbortPrefix)) && batchSeq(p) == s
    }

  private def tryReserve(dir: Path, s: Long): Boolean =
    try { Files.createDirectory(dir.resolve(f"$ResPrefix$s%012d")); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }

  private[graft] val AbortPrefix = "_abort_"

  /** Seqs whose write failed after reservation: tombstoned holes that
    * never held data (strict readers skip them; [[reserveSeq]] never
    * reuses them — a reused aborted seq would sit BEHIND stream offsets
    * that already passed it). */
  private[graft] def abortSeqs(dir: Path): Seq[Long] = seqsWith(listDir(dir), AbortPrefix)

  /** Static body of [[Channel.sweepStale]] — also invoked by the weak
    * DSv2 planner's age-gated self-sweep ([[graft.sources]]), which has
    * only the topic dir, not a handle. Cross-JVM safety comes from the
    * filesystem-atomic operations and the age gates, not a lock (two
    * handles on one dir could always sweep concurrently). */
  private[graft] def sweepStaleAt(dir: Path, olderThanMs: Long): Int = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    // ONE listing up front: this is the maintenance path for possibly
    // million-dir topics — a per-marker listBatches would be O(k·n), and
    // every set below (batches, reservations, tombstones, the orphan
    // walk) derives from this single snapshot. The orphan pass therefore
    // sees PRE-sweep reservation/tombstone state: a seq handled by the
    // marker loop this call is conservatively skipped (its marker still
    // counts as live) — its dir was already deleted by that loop, and
    // anything genuinely missed waits one sweep cycle, never leaks.
    val snapshot = Channel.listDir(dir)
    def seqsWithPrefix(prefix: String): Seq[Long] = snapshot
      .filter(_.getFileName.toString.startsWith(prefix))
      .map(_.getFileName.toString.drop(prefix.length).toLong).sorted
    // live data dirs via the SHARED compact-supersede rule (dirs below
    // the newest compact_ seq are superseded leftovers owned by
    // compact()'s lazy cleanup, not this sweep)
    val batches = Channel.batchesFrom(snapshot)
    val batchesBySeq = batches.groupBy(Channel.batchSeq)
    val resSeqsSnap = seqsWithPrefix(Channel.ResPrefix)
    var swept = 0
    var markerOnlyDropped = false
    resSeqsSnap.foreach { s =>
      val marker = dir.resolve(f"${Channel.ResPrefix}$s%012d")
      val stale =
        try Files.getLastModifiedTime(marker).toMillis <= cutoff
        catch { case _: java.io.IOException => false } // resolved mid-check
      if (stale) {
        val dirs = batchesBySeq.getOrElse(s, Seq.empty)
        if (dirs.exists(p => Files.exists(p.resolve("_SUCCESS")))) {
          // writer died between commit and marker release: data is valid,
          // only the marker goes
          Files.deleteIfExists(marker)
          markerOnlyDropped = true
        } else {
          // the common crash: a PARTIAL batch dir (task files, no
          // _SUCCESS). Its half-written files must never become
          // readable: partials are deleted FIRST, while the reservation
          // marker still parks the strict end at this seq (the marker
          // is the invariant that keeps strong readers below any
          // partial dir — see committedEnds/planInputPartitions), then
          // markAborted tombstones the seq, releases the marker, and
          // advances the head.
          dirs.foreach(Channel.deleteRecursively)
          Channel.markAborted(dir, s)
        }
        swept += 1
      }
    }
    if (markerOnlyDropped) Channel.advanceHead(dir) // cursor may move now
    // Orphaned-partial cleanup: Channel.write's failure path tombstones
    // its seq and releases the marker, but the half-written batch dir
    // survives (the catch cannot assume the dir is deletable while the
    // failed job's tasks may still hold files). A marker-less partial at
    // a TOMBSTONED seq is abandoned storage garbage — readers already
    // treat the seq as an aborted hole. Age-gated like the marker path:
    // a sweep racing a still-alive writer (tombstoned by an earlier
    // sweep, about to commit) must not delete a dir younger than the
    // staleness cutoff. All three sets come from the up-front snapshot
    // (see above) — no re-listing; a dir the marker loop just deleted
    // fails the mtime stat and is skipped.
    val tombstoned = seqsWithPrefix(Channel.AbortPrefix).toSet
    val liveRes = resSeqsSnap.toSet
    batches.foreach { p =>
      val s = Channel.batchSeq(p)
      if (tombstoned(s) && !liveRes(s) && !Files.exists(p.resolve("_SUCCESS"))) {
        val old =
          try Files.getLastModifiedTime(p).toMillis <= cutoff
          catch { case _: java.io.IOException => false }
        if (old) { Channel.deleteRecursively(p); swept += 1 }
      }
    }
    swept
  }

  /** Seqs consumed by `compact_*` dirs: each compaction claims a seq that
    * never holds a `batch_*` dir, so subscriptions must read it as a
    * benign hole (the compacted CONTENT was already delivered as the
    * original batches), not as data loss. */
  private[graft] def compactSeqs(dir: Path): Set[Long] =
    listDir(dir).filter(_.getFileName.toString.startsWith("compact_"))
      .map(batchSeq).toSet

  private[graft] def markAborted(dir: Path, s: Long): Unit = {
    try Files.createDirectory(dir.resolve(f"$AbortPrefix$s%012d"))
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    Files.deleteIfExists(dir.resolve(f"$ResPrefix$s%012d"))
    // an aborted seq is a benign hole: unblock the published cursor so
    // parked strong readers resume without waiting for the next write
    advanceHead(dir)
  }

  /** Epoch markers recorded by compactions still live in `batches`
    * (superseded compacts are filtered by listBatches, and their markers
    * were chained into the surviving compact's _EPOCHS). */
  private[channel] def compactedEpochs(batches: Seq[Path]): Set[String] =
    batches.iterator
      .map(_.resolve(EpochsFile))
      .filter(Files.exists(_))
      .flatMap(Files.readString(_).split("\n"))
      .filter(_.nonEmpty)
      .toSet

  final case class ChannelClosed(channel: String, state: String)
      extends RuntimeException(s"channel '$channel' is $state")
  final case class ChannelBackpressure(channel: String, size: Long, capacity: Long)
      extends RuntimeException(
        s"channel '$channel' over capacity ($size > $capacity bytes); writer parked")

  /** Topic on-disk schema = payload schema + engine metadata columns. */
  def withWriterId(schema: StructType): StructType = {
    var s = schema
    if (!s.fieldNames.contains(WriterIdCol)) s = s.add(WriterIdCol, "int")
    if (!s.fieldNames.contains(SeqCol)) s = s.add(SeqCol, "long")
    if (!s.fieldNames.contains(OffsetCol)) s = s.add(OffsetCol, "long")
    s
  }

  private[graft] def batchSeq(p: Path): Long = {
    val n = p.getFileName.toString
    n.dropWhile(!_.isDigit).takeWhile(_.isDigit).toLong
  }

  /** Directory-scan counter (observability + the O(1)-offset-planning
    * regression test's probe: an idle stream trigger must not list). */
  private[graft] val listDirCalls = new java.util.concurrent.atomic.AtomicLong(0)

  /** Batch-dir size walks (the capacity-accounting test's probe: a write
    * sizes only the dirs it has not seen committed). */
  private[graft] val dirSizeCalls = new java.util.concurrent.atomic.AtomicLong(0)

  /** Files.list with the stream CLOSED (only the iterator is consumed
    * otherwise, leaking a directory handle per call until GC). */
  private[graft] def listDir(dir: Path): Seq[Path] = {
    listDirCalls.incrementAndGet()
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** All live data directories in seq order. A `compact_N` dir holds every
    * frame with seq < N, so its rename-into-place atomically supersedes
    * lower-seq entries: if a crash interrupted compact() between the move
    * and the source deletes, the leftovers are filtered here (and swept
    * lazily) rather than double-read. */
  private[graft] def listBatches(dir: Path): Seq[Path] = {
    if (!Files.exists(dir)) return Nil
    batchesFrom(listDir(dir))
  }

  /** [[listBatches]] over an already-fetched directory listing — THE one
    * copy of the compact-supersede rule (dirs below the newest compact_
    * seq are superseded leftovers), shared with [[sweepStaleAt]]'s
    * single-snapshot walk so the sweep's and the readers' notions of
    * "live batches" cannot drift. */
  private[graft] def batchesFrom(entries: Seq[Path]): Seq[Path] = {
    // seqs parsed once per dir, not once per comparison of the sort
    val all = entries
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("batch_") || n.startsWith("compact_")
      }
      .map(p => (batchSeq(p), p)).sortBy(_._1)
    val lastCompact = all.collect {
      case (s, p) if p.getFileName.toString.startsWith("compact_") => s
    }.maxOption
    lastCompact.fold(all)(c => all.filter(_._1 >= c)).map(_._2)
  }

  private[graft] def nextSeq(dir: Path): Long =
    listBatches(dir).lastOption.map(batchSeq(_) + 1).getOrElse(0L)

  private def nextSeqFrom(entries: Seq[Path]): Long =
    batchesFrom(entries).lastOption.map(batchSeq(_) + 1).getOrElse(0L)

  /** Best-effort recursive size. The capacity walk races concurrent
    * writers by design (other handles commit batches while this one
    * sizes the topic), so files and even whole dirs may vanish between
    * listing and stat — a vanished entry counts 0 and a torn traversal
    * returns the partial sum rather than failing the WRITE that merely
    * observed a rival's in-flight commit. Capacity is a soft limit over
    * a moving directory; exactness under concurrency is not on offer. */
  private[channel] def dirSize(p: Path): Long = {
    dirSizeCalls.incrementAndGet()
    try {
      val walk = Files.walk(p)
      try walk.iterator().asScala.map { f =>
        try { if (Files.isRegularFile(f)) Files.size(f) else 0L }
        catch { case _: java.io.IOException => 0L }
      }.sum
      finally walk.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => 0L
    }
  }

  /** Recursive delete, deepest entries first; symlinks are removed, not
    * followed (Files.walk does not traverse them). The one recursive
    * delete in graft; the walk stream is closed on every path. */
  private[graft] def deleteRecursively(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }
}

/** The channel catalog: named topics under one root directory, plus the
  * Atlas-style URI layer in [[graft.catalog.Atlas]]. Mirrors the kernel
  * Registry + Channel driver (reference system/kernel/src/registry.rs,
  * drivers/channel.rs:142-175).
  */
final class ChannelRegistry(spark: SparkSession, root: Path) {

  Files.createDirectories(root)

  def create(name: String, schema: StructType,
             capacityBytes: Long = 64L * 1024 * 1024,
             dropMode: Boolean = false,
             partitions: Int = 1): Channel = {
    require(!name.contains('/'), s"channel name must be flat: $name")
    val dir = root.resolve(name)
    require(!Files.exists(dir), s"channel '$name' already exists")
    Files.createDirectories(dir)
    val h = SchemaRegistry.hash(schema)
    Files.writeString(dir.resolve("_SCHEMA"), schema.json + "\n" + h + "\n" +
      s"$capacityBytes\n$dropMode\n$partitions")
    new Channel(spark, name, dir, schema, h, capacityBytes, dropMode, partitions)
  }

  /** Race-free attach-or-create: concurrent first users of a topic must
    * not crash on the create/create race — the loser attaches. */
  def getOrCreate(name: String, schema: StructType,
                  capacityBytes: Long = 64L * 1024 * 1024,
                  dropMode: Boolean = false,
                  partitions: Int = 1): Channel =
    if (exists(name)) get(name)
    else try create(name, schema, capacityBytes, dropMode, partitions)
    catch { case _: IllegalArgumentException if exists(name) => get(name) }

  /** Attach to an existing channel; schema metadata is reloaded from disk
    * (share/attach parity, reference drivers/channel.rs:265-329). */
  def get(name: String): Channel = {
    val dir = root.resolve(name)
    require(Files.exists(dir.resolve("_SCHEMA")), s"no such channel: $name")
    val Array(json, h, cap, drop, parts) =
      Files.readString(dir.resolve("_SCHEMA")).split("\n")
    new Channel(spark, name, dir,
      org.apache.spark.sql.types.DataType.fromJson(json).asInstanceOf[StructType],
      h, cap.toLong, drop.toBoolean, parts.toInt)
  }

  def exists(name: String): Boolean = Files.exists(root.resolve(name).resolve("_SCHEMA"))

  /** Glob listing (Atlas lookup(pattern) parity). */
  def list(glob: String = "*"): Seq[String] = {
    val matcher = java.nio.file.FileSystems.getDefault.getPathMatcher(s"glob:$glob")
    if (!Files.exists(root)) Nil
    else Channel.listDir(root)
      .filter(p => Files.exists(p.resolve("_SCHEMA")))
      .map(_.getFileName.toString)
      .filter(n => matcher.matches(Paths.get(n)))
      .sorted
  }

  /** SQL surface: register every topic (or a glob subset) as a temp view
    * `<prefix><name>` over [[Channel.read]], so `spark.sql("SELECT … FROM
    * graft_logs")` reads the topic through the connector with predicate
    * pushdown and column pruning intact. Views are live: each query over
    * one lists the topic again and sees every batch committed by then.
    * Re-register to pick up newly created topics. */
  def registerViews(prefix: String = "graft_", glob: String = "*"): Seq[String] =
    list(glob).map { name =>
      val view = prefix + name
      get(name).read().createOrReplaceTempView(view)
      view
    }

  def delete(name: String): Unit = {
    val dir = root.resolve(name)
    if (Files.exists(dir)) Channel.deleteRecursively(dir)
  }
}
