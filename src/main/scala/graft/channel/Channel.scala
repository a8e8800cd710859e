package graft.channel

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
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
  *
  * The topic directory's layout and name grammar are stated once, in
  * [[TopicListing]], the only code that lists a topic or parses its names.
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

  def isDrained: Boolean = Files.exists(dir.resolve(TopicListing.DrainedFlag))
  def isTerminated: Boolean = Files.exists(dir.resolve(TopicListing.TerminatedFlag))

  /** Total bytes evicted in Drop mode since this handle was opened —
    * surfaced like the reference's ReaderBehind(n) byte count. */
  def droppedBytes: Long = droppedBytesCount

  /** Append a batch of rows under a writer id. Park mode: throws
    * [[ChannelBackpressure]] when the write would exceed capacity (the
    * caller is "parked" — in streaming use, the trigger retries). Drop
    * mode: evicts oldest batches to make room and records dropped bytes.
    *
    * Two write paths, one on-disk result. Rows already on the driver
    * (`df`'s plan is a `LocalRelation`: publishes built from a local
    * `Seq`) are written by the driver with Spark's parquet
    * writer and run no Spark job ([[LocalAppend]]); any other DataFrame
    * is written by a Spark job through the Hadoop committer.
    *
    * Capacity accounting does not walk the topic: the handle sizes each
    * committed batch dir once (committed dirs are immutable), so a write
    * lists the topic's names twice — the claim's listing and the
    * post-commit listing — and sizes only its own batch (and dirs other
    * handles committed since its last write).
    *
    * Sequence allocation is slice-reservation parity
    * (messaging/src/lib.rs:491-519) adapted to shared directories: the
    * sequence number is CLAIMED in one critical section under the topic
    * lock, which lists the topic and creates the seq's `_res_` marker
    * (see [[Channel.reserveSeq]]), so independent handles on the same
    * topic (other JVMs included) always land on distinct seqs and can
    * never clobber each other; the batch directory name additionally
    * carries a per-write unique suffix. */
  def write(df: DataFrame, writerId: Int): Unit = doWrite(df, writerId, freshTag())

  /** [[write]] for rows already serialized on the driver, laid out as
    * `payload` (an ingress flush): the driver-local append without
    * building a DataFrame around them. */
  private[graft] def writeLocal(payload: StructType, rows: Seq[InternalRow], writerId: Int): Unit =
    appendBatch(payload, writerId, freshTag()) { (target, seq) =>
      LocalAppend.write(spark, target, payload, rows, writerId, seq)
    }

  // "u" prefix keeps a random hex suffix from ever parsing as an epoch
  // marker (`_e<digits>`) in compact()'s _EPOCHS bookkeeping.
  private def freshTag(): String = "u" + java.util.UUID.randomUUID().toString.take(8)

  /** Idempotent append keyed on (writerId, epochId): replaying the same
    * epoch (a restarted streaming sink re-running its last micro-batch)
    * is a no-op, upgrading [[sink]] from at-least-once to exactly-once. */
  def writeEpoch(df: DataFrame, writerId: Int, epochId: Long): Unit = {
    val tag = s"w${writerId}_e$epochId"
    val live = TopicListing.of(dir).live
    val existing = live.filter(_.tag == tag)
    // A batch dir only counts as committed once Spark's job commit wrote
    // _SUCCESS; the directory itself appears before the tasks finish, so a
    // crash mid-write leaves a partial dir that must be replaced on replay,
    // not skipped (skipping would drop the epoch's data on the exact
    // recovery path this idempotence exists for).
    if (existing.exists(_.committed)) return
    // An epoch absorbed by compact() no longer has its marker dir; the
    // compact dir carries the superseded markers forward (_EPOCHS), so a
    // sink restarted after a maintenance-window compaction still skips its
    // replayed last micro-batch instead of appending duplicates.
    if (compactedEpochs(live).contains(tag)) return
    existing.foreach(d => Channel.deleteRecursively(d.path))
    doWrite(df, writerId, s"e$epochId")
  }

  private def doWrite(df: DataFrame, writerId: Int, unique: String): Unit =
    appendBatch(df.schema, writerId, unique) { (target, batch) =>
      LocalAppend.rowsOf(df) match {
        case Some(rows) => LocalAppend.write(spark, target, df.schema, rows, writerId, batch)
        case None =>
          df.withColumn(WriterIdCol, lit(writerId))
            .withColumn(SeqCol, lit(batch))
            .withColumn(OffsetCol, monotonically_increasing_id())
            .coalesce(math.max(1, partitions))
            .write.mode("errorifexists").parquet(target.toString)
      }
    }

  /** The write protocol around `body`, which writes the batch dir it is
    * given under the claimed seq. */
  private def appendBatch(schema: StructType, writerId: Int, unique: String)(
      body: (Path, Long) => Unit): Unit = {
    // The claim's one listing serves the lifecycle flags, the park check
    // and the reservation floor. The seq is claimed under the topic lock,
    // so concurrent writers (other JVMs included) land on DISTINCT seqs.
    // The marker lives until the batch commits and a strict stream's
    // visible end never passes it, so a late-visible lower seq cannot be
    // skipped. A writer that crashes mid-write leaves its marker and parks
    // strict streams until compact() or sweepStale clears it: blocked
    // beats silently lossy.
    val batch = reserveSeq(dir, listing => {
      if (listing.terminated) throw ChannelClosed(name, "terminated")
      if (listing.drained) throw ChannelClosed(name, "drained")
      SchemaRegistry.check(name, schemaHash, schema)
      // Park mode parks BEFORE accepting the frame (reference
      // messaging/src/writer.rs:166-199): a full channel must reject the
      // write without making it visible, or a retrying writer duplicates
      // it. The topic lock serializes the check with every other writer's
      // claim. The names come from the directory (other handles/processes
      // write the same topic, so it is the only source of truth); only
      // the sizes of committed dirs are remembered.
      if (!dropMode) {
        val current = topicBytes(listing.live)
        if (current >= capacityBytes) throw ChannelBackpressure(name, current, capacityBytes)
      }
    })
    val target = TopicListing.batchPath(dir, batch, writerId, unique)
    try {
      body(target, batch)
      releaseSeq(dir, batch)
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
    val committed = TopicListing.of(dir)
    try enforceCapacity(committed.live, target, batch)
    finally advanceHead(committed)
  }

  /** Bytes held by `batches`, sizing only the dirs not yet known to be
    * committed; names gone from the listing leave the cache. */
  private def topicBytes(batches: Seq[TopicListing.DataDir]): Long = {
    val live = batches.iterator.map(_.path.getFileName.toString).toSet
    committedSizes.keySet.removeIf(n => !live(n))
    batches.iterator.map(d => batchBytes(d.path)).sum
  }

  /** One batch dir's size: remembered once the dir is committed (checked
    * BEFORE sizing, so a dir that commits mid-walk is not remembered at
    * its partial size). */
  private def batchBytes(p: Path): Long = {
    val n = p.getFileName.toString
    val known = committedSizes.get(n)
    if (known != null) known.longValue
    else {
      val committed = TopicListing.committed(p)
      val size = dirSize(p)
      if (committed) committedSizes.put(n, size)
      size
    }
  }

  private def enforceCapacity(listed: Seq[TopicListing.DataDir], justWritten: Path,
                              seq: Long): Unit = synchronized {
    var batches = listed
    var total = topicBytes(batches)
    if (total <= capacityBytes) return
    if (!dropMode) {
      // The batch size wasn't knowable before the write ran; un-publish
      // it so the rejected frame is never visible to readers
      // (tombstoned: the un-published seq must read as aborted, not lost).
      // Tombstone BEFORE deleting: the seq's marker is already released,
      // and a seq must never be left with no trace on disk, or a rival
      // could claim it, commit, and have this tombstone land on its data.
      // markAborted takes the topic lock after the tombstone exists, so no
      // claim listing that might miss the tombstone overlaps the delete.
      markAborted(dir, seq)
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
    val toEvict = Seq.newBuilder[(TopicListing.DataDir, Long)]
    while (total > capacityBytes && batches.size > 1) {
      val oldest = batches.head
      val sz = batchBytes(oldest.path)
      toEvict += ((oldest, sz))
      batches = batches.tail
      total -= sz
    }
    val evicting = toEvict.result()
    evicting.lastOption.foreach { case (last, _) => advancePrunedFloor(dir, last.end) }
    evicting.foreach { case (d, sz) =>
      committedSizes.remove(d.path.getFileName.toString)
      deleteRecursively(d.path)
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
  def cursor(): Long = Channel.committedEnds(dir)._1

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
    val live = TopicListing.of(dir).live
    if (live.size <= 1) return
    val seq = live.last.seq + 1
    val tmp = dir.resolve(s"_compacting")
    read().coalesce(math.max(1, partitions)).write.mode("overwrite").parquet(tmp.toString)
    // Carry every absorbed (writerId, epochId) marker into the compact dir
    // (_EPOCHS, one `w<id>_e<epoch>` per line — an underscore-prefixed file,
    // invisible to parquet scans) so writeEpoch idempotence survives the
    // marker dirs' deletion below; prior compacts' _EPOCHS chain forward.
    val absorbed = (compactedEpochs(live) ++
      live.filter(_.committed).flatMap(_.epochTag)).toSeq.sorted
    if (absorbed.nonEmpty)
      Files.writeString(tmp.resolve(EpochsFile), absorbed.mkString("\n"))
    Files.move(tmp, TopicListing.compactPath(dir, seq))
    // Sweep everything the new compact dir supersedes — including
    // leftovers of a previously crashed compaction (the live set already
    // excludes them, so this is cleanup, not correctness) — and ALL stale
    // seq reservations: compact() requires no concurrent writers, so any
    // surviving `_res_` marker belongs to a crashed write and would park
    // DSv2 streams forever.
    val after = TopicListing.of(dir)
    (after.dirs.filter(_.seq < seq).map(_.path) ++
      after.reservations.map(TopicListing.resPath(dir, _)) ++
      after.aborts.map(TopicListing.abortPath(dir, _)))
      .foreach(Channel.deleteRecursively)
    // the compact dir consumed seq N without a batch_* dir: republish the
    // cursor past it (subscribers treat a compact-covered seq as a benign
    // hole, not loss)
    Channel.advanceHead(TopicListing.of(dir))
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
  def ackReader(reader: String, upTo: Long): Unit = {
    Channel.validReaderName(reader)
    Channel.raiseCursor(TopicListing.readerPath(dir, reader), Vector(math.max(upTo, 0L)))
  }

  /** Registered reader heads (reader → next-unread seq). */
  def readerHeads: Map[String, Long] = headsIn(TopicListing.of(dir))

  private def headsIn(listing: TopicListing): Map[String, Long] =
    listing.readers.map { case (r, f) => r -> math.max(Channel.readMarker(f), 0L) }

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
    * more microseconds, and pruning inside that window fails the WRITER,
    * whose epilogue still touches the dir's files. Production retention
    * runs minutes behind the head anyway; pass 0 only on a quiesced
    * topic. */
  def pruneConsumed(graceMs: Long = 5000): Long = synchronized {
    val listing = TopicListing.of(dir)
    val heads = headsIn(listing)
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
    val committed = listing.live.filter(d => !d.compact &&
      !listing.reservations(d.seq) && committedAndOld(d.path))
    // keep the NEWEST committed batch even when every head passed it —
    // the same invariant Drop-mode eviction holds (batches.size > 1):
    // the on-disk seq history stays anchored for topics whose _HEAD
    // cursor is missing, and a fresh earliest()-start subscriber lands
    // on a real dir instead of a fully bare topic
    val lastSeq = committed.map(_.seq).maxOption.getOrElse(0L)
    val floor = math.min(heads.values.min, lastSeq)
    val toDelete = committed.filter(_.seq < floor)
    if (toDelete.isEmpty) return 0L
    // floor BEFORE delete: a crash between the two must leave the floor
    // published, never deleted-but-unrecorded history (a snapshot pinned
    // below it would silently shrink)
    Channel.advancePrunedFloor(dir, toDelete.map(_.end).max)
    var pruned = 0L
    toDelete.foreach { d =>
      pruned += Channel.dirSize(d.path)
      Channel.deleteRecursively(d.path)
    }
    pruned
  }

  /** Channel health/metrics row (ops surface; droppedBytes is the
    * ReaderBehind accounting, reference messaging/src/lib.rs:106-110). */
  def metrics(): DataFrame = {
    import spark.implicits._
    val listing = TopicListing.of(dir)
    // retention observability: the pruned floor, the slowest registered
    // head (what gates the next prune), and the head count — the three
    // numbers an operator needs to see WHY history is (not) shrinking
    val heads = headsIn(listing)
    Seq((name, listing.live.size.toLong, topicBytes(listing.live),
      droppedBytesCount, listing.drained, listing.terminated,
      (try Channel.prunedFloor(dir) catch { case _: IllegalStateException => -1L }),
      heads.values.minOption.getOrElse(-1L), heads.size.toLong))
      .toDF("channel", "n_batches", "bytes", "dropped_bytes", "drained",
        "terminated", "pruned_floor", "min_reader_head", "n_readers")
  }

  /** Stop accepting new frames; readers may consume the tail
    * (messaging/src/lib.rs:581-595). */
  def drain(): Unit = Files.createDirectories(dir.resolve(TopicListing.DrainedFlag))

  /** Abort: refuse subsequent reads and writes (lib.rs:559-579). */
  def terminate(): Unit = Files.createDirectories(dir.resolve(TopicListing.TerminatedFlag))
}

object Channel {
  val WriterIdCol = "_writer_id"
  val SeqCol = "_seq"
  val OffsetCol = "_offset"
  private val EpochsFile = "_EPOCHS"
  private[graft] val HeadFile = "_HEAD"
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

  /** Monotonically raise the pruned floor. */
  private[graft] def advancePrunedFloor(dir: Path, floor: Long): Unit =
    raiseCursor(dir.resolve(PrunedFile), Vector(floor))

  /** The numbers a cursor file holds (`_HEAD`: `strict weak`; `_PRUNED`
    * and `_rdr_*`: one number); `None` when it is missing or unreadable.
    * Reads take no lock: a cursor file is only ever replaced whole. */
  private def readCursor(f: Path): Option[Vector[Long]] =
    try Some(Files.readString(f).trim.split(' ').toVector.map(_.toLong))
    catch { case _: java.io.IOException | _: NumberFormatException => None }

  /** The number a one-number cursor file holds; -1 when it is missing or
    * unreadable. */
  private[channel] def readMarker(f: Path): Long =
    readCursor(f).collect { case Vector(v) => v }.getOrElse(-1L)

  /** Raise cursor file `f` of a topic to the componentwise max of its
    * numbers and `value`: the one writer of `_HEAD`, `_PRUNED` and
    * `_rdr_*`. Under the topic lock it reads, compares, writes
    * `<f>.tmp` (a fixed name: no other writer runs) and replaces `f`
    * atomically, so a cursor never regresses and is never torn. An
    * unreadable file counts as absent and is repaired by the write. */
  private[channel] def raiseCursor(f: Path, value: Vector[Long]): Unit =
    withTopicLock(f.getParent) {
      val cur = readCursor(f).filter(_.size == value.size)
      val next = cur.fold(value)(_.lazyZip(value).map((a, b) => math.max(a, b)))
      if (!cur.contains(next)) {
        val tmp = f.resolveSibling(f.getFileName.toString + ".tmp")
        Files.writeString(tmp, next.mkString(" "))
        Files.move(tmp, f, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
      }
    }

  // Topic monitors by real path: a FileLock excludes other JVMs, but two
  // threads of one JVM locking one file get OverlappingFileLockException,
  // so the threads of this JVM serialize on the topic's monitor first.
  private val topicMonitors = new java.util.concurrent.ConcurrentHashMap[Path, Object]()

  /** Run `body` holding topic `dir`'s lock: its JVM monitor, then a
    * `FileLock` on its `_LOCK` file. Every read-modify-write of topic
    * metadata (a seq claim, a cursor raise) runs in one such section.
    * Sections never nest; a handle's monitor may be held while taking the
    * topic lock, never the reverse. */
  private def withTopicLock[T](dir: Path)(body: => T): T =
    topicMonitors.computeIfAbsent(dir.toRealPath(), _ => new Object).synchronized {
      val ch = java.nio.channels.FileChannel.open(dir.resolve(TopicListing.LockFile),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try { ch.lock(); body } finally ch.close() // closing releases the lock
    }

  /** Reader names become marker file names — reject anything that could
    * traverse or collide with topic internals (same hostile-input posture
    * as the module store's path validation); `.tmp` names the cursor
    * writer's temp file, and `.lock` the per-marker lock files of older
    * topics. */
  private[graft] def validReaderName(reader: String): Unit =
    require(reader.nonEmpty && reader.length <= 128 &&
      reader.forall(c => c.isLetterOrDigit || c == '.' || c == '_' || c == '-') &&
      !reader.startsWith(".") && !reader.endsWith(".tmp") && !reader.endsWith(".lock"),
      s"invalid reader name '$reader' (allowed: [A-Za-z0-9._-], no leading dot)")

  /** Read the published head cursor, if any. `None` (no file, or torn
    * foreign content) sends the reader down the full-listing recovery
    * path. */
  private[graft] def readHead(dir: Path): Option[(Long, Long)] =
    readCursor(dir.resolve(HeadFile)).collect { case Vector(s, w) => (s, w) }

  /** The topic's committed ends `(strict, weak)`: the published head, or
    * a full listing's [[TopicListing.committedEnds]] for a topic with no
    * published head. */
  private[graft] def committedEnds(dir: Path): (Long, Long) =
    readHead(dir).getOrElse(TopicListing.of(dir).committedEnds)

  /** Publish the committed head cursor ([[TopicListing.committedEnds]] of
    * `listing`), raised componentwise so it never regresses. Called after
    * every commit/abort/compact, so one listing per publish rides the
    * write path and offset planning reads the cursor in O(1) per trigger
    * instead of re-listing a possibly million-dir topic. Any historical
    * head is a valid committed prefix (new reservations always land at ≥
    * its weak end and evictions only create gaps below it), so a stale
    * listing only makes the head lag. Publication is best-effort: an I/O
    * error here is the same benign lag as a crash before it, and never
    * fails a write that has already committed. */
  private[graft] def advanceHead(listing: TopicListing): Unit = {
    val (strict, weakEnd) = listing.committedEnds
    try raiseCursor(listing.dir.resolve(HeadFile), Vector(strict, weakEnd))
    catch { case _: java.io.IOException => () }
  }

  /** Claim the next free sequence number. Under the topic lock, list the
    * topic once, let `admit` refuse the claim (lifecycle flags, park
    * check), and create the `_res_` marker of the floor: the listing's
    * [[TopicListing.nextFree]] (so a crashed writer's marker is skipped
    * over, not reused) or the published head's weak end, whichever is
    * higher. Batch dirs below the head may have been pruned or evicted
    * without tombstones, and a seq below the committed end must never be
    * re-issued (a subscriber whose offset already passed it would
    * silently skip the new data).
    *
    * Every claim is one critical section, and every consumer of a seq
    * makes its next trace — batch dir (before `_SUCCESS`→marker-delete),
    * `_abort_` tombstone (before marker-delete), `compact_` dir
    * (writer-free window) — before it releases the marker under the lock
    * ([[releaseSeq]]), so no listing taken under the lock misses a
    * claimed seq. */
  private[graft] def reserveSeq(dir: Path, admit: TopicListing => Unit = _ => ()): Long =
    withTopicLock(dir) {
      val listing = TopicListing.of(dir)
      admit(listing)
      val s = math.max(listing.nextFree, readHead(dir).fold(0L)(_._2))
      Files.createDirectory(TopicListing.resPath(dir, s))
      s
    }

  /** Release seq `s`'s `_res_` marker once its next trace (a committed
    * batch dir or a tombstone) exists. Under the topic lock: a directory
    * listing is not a snapshot (an entry created or deleted while it runs
    * may be missed), so a claim's listing must never run across the
    * handoff from one trace to the next, or it could see neither. */
  private[graft] def releaseSeq(dir: Path, s: Long): Unit =
    withTopicLock(dir)(Files.deleteIfExists(TopicListing.resPath(dir, s)))

  /** Static body of [[Channel.sweepStale]] — also invoked by the weak
    * DSv2 planner's age-gated self-sweep ([[graft.sources]]), which has
    * only the topic dir, not a handle. Cross-JVM safety comes from the
    * filesystem-atomic operations and the age gates, not a lock (two
    * handles on one dir could always sweep concurrently). */
  private[graft] def sweepStaleAt(dir: Path, olderThanMs: Long): Int = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    // ONE listing up front: this is the maintenance path for possibly
    // million-dir topics, and every set below (live dirs, reservations,
    // tombstones, the orphan walk) derives from this single snapshot.
    // The orphan pass therefore sees PRE-sweep reservation/tombstone
    // state: a seq handled by the marker loop this call is conservatively
    // skipped (its marker still counts as live) — its dir was already
    // deleted by that loop, and anything genuinely missed waits one sweep
    // cycle, never leaks. Dirs below the newest compact_ seq are
    // superseded leftovers owned by compact()'s cleanup, not this sweep.
    val snapshot = TopicListing.of(dir)
    val live = snapshot.live
    val liveBySeq = live.groupBy(_.seq)
    var swept = 0
    var markerOnlyDropped = false
    snapshot.reservations.foreach { s =>
      val marker = TopicListing.resPath(dir, s)
      val stale =
        try Files.getLastModifiedTime(marker).toMillis <= cutoff
        catch { case _: java.io.IOException => false } // resolved mid-check
      if (stale) {
        val dirs = liveBySeq.getOrElse(s, Seq.empty)
        if (dirs.exists(_.committed)) {
          // writer died between commit and marker release: data is valid,
          // only the marker goes
          releaseSeq(dir, s)
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
          dirs.foreach(d => Channel.deleteRecursively(d.path))
          Channel.markAborted(dir, s)
        }
        swept += 1
      }
    }
    if (markerOnlyDropped) Channel.advanceHead(TopicListing.of(dir)) // cursor may move now
    // Orphaned-partial cleanup: Channel.write's failure path tombstones
    // its seq and releases the marker, but the half-written batch dir
    // survives (the catch cannot assume the dir is deletable while the
    // failed job's tasks may still hold files). A marker-less partial at
    // a TOMBSTONED seq is abandoned storage garbage — readers already
    // treat the seq as an aborted hole. Age-gated like the marker path:
    // a sweep racing a still-alive writer (tombstoned by an earlier
    // sweep, about to commit) must not delete a dir younger than the
    // staleness cutoff. A dir the marker loop just deleted fails the
    // mtime stat and is skipped.
    live.foreach { d =>
      if (snapshot.aborts(d.seq) && !snapshot.reservations(d.seq) && !d.committed) {
        val old =
          try Files.getLastModifiedTime(d.path).toMillis <= cutoff
          catch { case _: java.io.IOException => false }
        if (old) { Channel.deleteRecursively(d.path); swept += 1 }
      }
    }
    swept
  }

  /** Tombstone seq `s` (`_abort_`: a hole that never held data — strict
    * readers skip it and [[reserveSeq]] never reuses it, since a reused
    * aborted seq would sit BEHIND stream offsets that already passed it),
    * then release its reservation. */
  private[graft] def markAborted(dir: Path, s: Long): Unit = {
    try Files.createDirectory(TopicListing.abortPath(dir, s))
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    releaseSeq(dir, s)
    // an aborted seq is a benign hole: unblock the published cursor so
    // parked strong readers resume without waiting for the next write
    advanceHead(TopicListing.of(dir))
  }

  /** Epoch markers recorded by compactions still live in `live`
    * (superseded compacts are not live, and their markers were chained
    * into the surviving compact's _EPOCHS). */
  private[channel] def compactedEpochs(live: Seq[TopicListing.DataDir]): Set[String] =
    live.iterator
      .map(_.path.resolve(EpochsFile))
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

  /** Topic-dir listings ([[TopicListing.of]]) — observability, and the
    * probe of the tests that pin how often a write or a trigger lists. */
  private[graft] val listDirCalls = new java.util.concurrent.atomic.AtomicLong(0)

  /** Batch-dir size walks (the capacity-accounting test's probe: a write
    * sizes only the dirs it has not seen committed). */
  private[graft] val dirSizeCalls = new java.util.concurrent.atomic.AtomicLong(0)

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
    val m = TopicListing.TopicMeta(schema, SchemaRegistry.hash(schema), capacityBytes,
      dropMode, partitions)
    TopicListing.writeMeta(dir, m)
    open(name, m)
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
  def get(name: String): Channel = open(name, TopicListing.readMeta(root.resolve(name)))

  private def open(name: String, m: TopicListing.TopicMeta): Channel =
    new Channel(spark, name, root.resolve(name), m.schema, m.hash, m.capacityBytes,
      m.dropMode, m.partitions)

  def exists(name: String): Boolean = TopicListing.isTopic(root.resolve(name))

  /** Glob listing (Atlas lookup(pattern) parity). */
  def list(glob: String = "*"): Seq[String] = {
    val matcher = java.nio.file.FileSystems.getDefault.getPathMatcher(s"glob:$glob")
    if (!Files.exists(root)) Nil
    else {
      val s = Files.list(root)
      try s.iterator().asScala
        .filter(TopicListing.isTopic)
        .map(_.getFileName.toString)
        .filter(n => matcher.matches(Paths.get(n)))
        .toSeq.sorted
      finally s.close()
    }
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
