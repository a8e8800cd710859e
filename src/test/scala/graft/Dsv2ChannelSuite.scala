package graft

import java.nio.file.Files

import graft.channel.{Channel, ChannelRegistry, TopicListing}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** The DSv2 connector (graft.sources.ChannelSource): batch scans with
  * native parquet pushdown/pruning, and seq-offset micro-batch streaming
  * with committed-prefix visibility, latest start, admission control, and
  * strict/weak gap handling. */
class Dsv2ChannelSuite extends SparkSpec {
  import spark.implicits._

  private def schema = StructType(Seq(
    StructField("id", IntegerType), StructField("msg", StringType)))

  private var sinkN = 0
  private def runToSink(df: DataFrame, trigger: Option[Trigger] = None): String = {
    sinkN += 1
    val name = s"dsv2_sink_$sinkN"
    val w = df.writeStream.outputMode("append").format("memory").queryName(name)
    trigger match {
      case Some(t) =>
        val q = w.trigger(t).start(); q.awaitTermination(); name
      case None =>
        val q = w.start()
        try q.processAllAvailable() finally q.stop()
        name
    }
  }

  test("batch read matches Channel.read and prunes/pushes to parquet") {
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("b1", schema)
    ch.write(Seq((1, "a"), (2, "b")).toDF("id", "msg"), writerId = 1)
    ch.write(Seq((3, "c"), (4, "d")).toDF("id", "msg"), writerId = 2)

    val v2 = spark.read.format("graft-channel").load(ch.dir.toString)
    assert(v2.columns.toSet == Set("id", "msg", Channel.WriterIdCol,
      Channel.SeqCol, Channel.OffsetCol))
    assert(v2.select("id").as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
    // parity: Channel.read (the connector in total order) returns exactly
    // a plain parquet scan of the topic's batch dirs in that order
    val reference = spark.read.parquet(TopicListing.of(ch.dir).live.map(_.path.toString): _*)
      .orderBy(Channel.SeqCol, Channel.WriterIdCol, Channel.OffsetCol)
    val read = ch.read()
    assert(read.collect().toSeq ==
      reference.select(read.columns.map(col): _*).collect().toSeq)

    val q = v2.filter($"id" >= 3).select("msg")
    assert(q.as[String].collect().sorted.toSeq == Seq("c", "d"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GraftChannelScan") &&
      plan.contains("GreaterThanOrEqual(id,3)"),
      s"filter not pushed into the channel scan:\n$plan")
    // column pruning reached the connector: readSchema is just the two
    // referenced columns, not the full topic schema
    assert(plan.contains("ReadSchema: struct<id:int,msg:string>") ||
      plan.contains("ReadSchema: struct<msg:string,id:int>"),
      s"columns not pruned:\n$plan")
  }

  test("batch read sees compacted data and spark.read.format works directly") {
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("b2", schema)
    ch.write(Seq((1, "a")).toDF("id", "msg"), 1)
    ch.write(Seq((2, "b")).toDF("id", "msg"), 1)
    ch.compact()
    ch.write(Seq((3, "c")).toDF("id", "msg"), 1)
    val df = spark.read.format("graft-channel").load(ch.dir.toString)
    assert(df.select("id").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("streaming: seq offsets ingest existing and future batches exactly once") {
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("s1", schema)
    ch.write(Seq((1, "a"), (2, "b")).toDF("id", "msg"), 1)
    ch.write(Seq((3, "c")).toDF("id", "msg"), 1)

    sinkN += 1
    val name = s"dsv2_sink_$sinkN"
    val q = ch.readStreamV2().select("id").writeStream
      .outputMode("append").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
      ch.write(Seq((4, "d")).toDF("id", "msg"), 1) // appended mid-subscription
      q.processAllAvailable()
      assert(spark.table(name).as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
    } finally q.stop()
  }

  test("startingOffsets=latest skips history (weak-subscribe tail start)") {
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("s2", schema)
    ch.write(Seq((1, "old")).toDF("id", "msg"), 1)

    sinkN += 1
    val name = s"dsv2_sink_$sinkN"
    val q = ch.readStreamV2(startingLatest = true).select("msg").writeStream
      .outputMode("append").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 0, "latest start must not replay history")
      ch.write(Seq((2, "new")).toDF("id", "msg"), 1)
      q.processAllAvailable()
      assert(spark.table(name).as[String].collect().toSeq == Seq("new"))
    } finally q.stop()
  }

  test("backfill-to-tail handoff: snapshot [0,N) + startingSeq=N, exactly once") {
    // the lambda-free bootstrap: batch-read everything written so far as
    // an immutable snapshot, then subscribe from EXACTLY the snapshot
    // boundary — no row read twice, none skipped, even with appends
    // racing the handoff (they land at seqs >= N and belong to the tail)
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("h1", schema)
    ch.write(Seq((1, "a"), (2, "b")).toDF("id", "msg"), 1)
    ch.write(Seq((3, "c")).toDF("id", "msg"), 1)
    val n = ch.cursor() // pin the boundary
    val snapshot = ch.readSnapshot(endSeq = n).select("id").as[Int].collect().toSeq
    assert(snapshot.sorted == Seq(1, 2, 3))
    ch.write(Seq((4, "d")).toDF("id", "msg"), 2) // racing append → tail side
    sinkN += 1
    val name = s"dsv2_sink_$sinkN"
    val q = ch.readStreamV2(fromSeq = Some(n)).select("id").writeStream
      .outputMode("append").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      ch.write(Seq((5, "e")).toDF("id", "msg"), 2) // live append mid-tail
      q.processAllAvailable()
      val tail = spark.table(name).as[Int].collect().toSeq
      assert(tail.sorted == Seq(4, 5), s"tail read $tail")
      val union = (snapshot ++ tail).sorted
      assert(union == Seq(1, 2, 3, 4, 5), s"handoff lost/duplicated rows: $union")
    } finally q.stop()
  }

  test("ackFromProgress: a subscription's own progress drives retention") {
    // the full retention loop: subscribe → process → ack the head FROM
    // the query's committed progress → prune what every head passed
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("ack1", schema)
    ch.registerReader("tail")
    ch.write(Seq((1, "a")).toDF("id", "msg"), 1)
    ch.write(Seq((2, "b")).toDF("id", "msg"), 1)
    sinkN += 1
    val name = s"dsv2_sink_$sinkN"
    val q = ch.readStreamV2().select("id").writeStream
      .outputMode("append").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      ch.ackFromProgress("tail", q)
      assert(ch.readerHeads("tail") == 2L,
        s"head not advanced from progress: ${ch.readerHeads}")
      assert(ch.pruneConsumed(0) > 0L)
      assert(ch.read().select("id").as[Int].collect().toSeq == Seq(2),
        "history below the head prunes; the newest batch anchors the topic")
      // a snapshot pinned below the pruned floor fails LOUDLY — the
      // reproducible-dataset contract must never silently shrink
      val ex = intercept[Exception](ch.readSnapshot(endSeq = 2).collect())
      assert(ex.getMessage != null && ex.getMessage.contains("pruned floor"),
        s"wrong refusal: ${ex.getMessage}")
      // a pin at/above the floor still serves
      assert(ch.readSnapshot(endSeq = 2, startSeq = 1)
        .select("id").as[Int].collect().toSeq == Seq(2))
      // the live subscription continues past the pruned history untouched
      ch.write(Seq((3, "c")).toDF("id", "msg"), 1)
      q.processAllAvailable()
      assert(spark.table(name).as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    } finally q.stop()
  }

  test("sweepStale unblocks a strict stream parked on a crashed writer's reservation") {
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("sw1", schema)
    // simulated crashed writer: reserves seq 0, never commits or aborts
    val dead = Channel.reserveSeq(ch.dir)
    assert(dead == 0L)
    ch.write(Seq((1, "a")).toDF("id", "msg"), 1) // lands at seq 1
    sinkN += 1
    val name = s"dsv2_sink_$sinkN"
    val q = ch.readStreamV2().select("id").writeStream
      .outputMode("append").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 0,
        "strict visible end must park at the pending reservation")
      assert(ch.sweepStale(0) == 1) // maintenance: declare the writer dead
      q.processAllAvailable()
      assert(spark.table(name).as[Int].collect().toSeq == Seq(1),
        "after the sweep the stream must pass the tombstoned hole")
      assert(TopicListing.of(ch.dir).aborts.toSeq == Seq(0L),
        "the swept seq must read as aborted, never as a trace-free gap")
      assert(TopicListing.of(ch.dir).reservations.isEmpty)

      // the COMMON crash mode: the writer died mid-parquet-write, leaving
      // a partial batch dir (task files, no _SUCCESS) plus its marker —
      // the partial dir parks the committed-prefix walk exactly like the
      // marker, so the sweep must remove it too, not just tombstone
      val s2 = Channel.reserveSeq(ch.dir)
      val partial = ch.dir.resolve(f"batch_$s2%012d" + "_w9_crashed")
      Files.createDirectories(partial)
      Files.createFile(partial.resolve("part-00000.parquet")) // no _SUCCESS
      ch.write(Seq((2, "b")).toDF("id", "msg"), 1) // lands beyond the hole
      q.processAllAvailable()
      assert(spark.table(name).as[Int].collect().toSeq == Seq(1),
        "stream must park on the mid-write crash before the sweep")
      assert(ch.sweepStale(0) == 1)
      q.processAllAvailable()
      assert(spark.table(name).as[Int].collect().sorted.toSeq == Seq(1, 2),
        "after the sweep the stream must pass the partial-dir hole")
      assert(!Files.exists(partial), "the partial batch dir must be removed")
      assert(TopicListing.of(ch.dir).aborts.contains(s2))
    } finally q.stop()
  }

  test("maxBatchesPerTrigger paces ingestion one channel batch per micro-batch") {
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("s3", schema)
    (1 to 3).foreach(i => ch.write(Seq((i, s"m$i")).toDF("id", "msg"), 1))

    sinkN += 1
    val name = s"dsv2_sink_$sinkN"
    val q = ch.readStreamV2(maxBatchesPerTrigger = Some(1)).select("id").writeStream
      .outputMode("append").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
      val fed = q.recentProgress.count(_.numInputRows > 0)
      assert(fed >= 3, s"expected >=3 paced micro-batches, saw $fed")
    } finally q.stop()
  }

  test("strict reader fails on an evicted seq; weak reader skips it") {
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("s4", schema)
    (1 to 3).foreach(i => ch.write(Seq((i, s"m$i")).toDF("id", "msg"), 1))
    // evict the middle batch out from under future subscribers
    val victim = TopicListing.of(ch.dir).live(1).path
    assert(victim.getFileName.toString.startsWith("batch_0000000000"))
    Channel.deleteRecursively(victim)

    // weak: ReaderBehind parity — skip ahead, deliver what exists
    val weakName = runToSink(ch.readStreamV2(weak = true).select("id"))
    assert(spark.table(weakName).as[Int].collect().sorted.toSeq == Seq(1, 3))

    // strict: the gap is data loss, not silence
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runToSink(ch.readStreamV2().select("id"))
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.isInstanceOf[graft.sources.ChannelDataLoss]),
      s"expected ChannelDataLoss in cause chain: $ex")
  }

  test("offsets do not advance past an uncommitted (no _SUCCESS) batch dir") {
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("s5", schema)
    ch.write(Seq((1, "a")).toDF("id", "msg"), 1)
    ch.write(Seq((2, "b")).toDF("id", "msg"), 1)
    // simulate a crashed writer: second batch loses its commit marker.
    // Out-of-band surgery invalidates the published head cursor too (a
    // real crash simply never advances it), so drop it — the stream must
    // recover through the full-listing path.
    val half = TopicListing.of(ch.dir).live(1).path
    Files.delete(half.resolve("_SUCCESS"))
    Files.delete(ch.dir.resolve("_HEAD"))

    val name = runToSink(ch.readStreamV2().select("id"))
    assert(spark.table(name).as[Int].collect().toSeq == Seq(1),
      "stream read into an uncommitted batch")
  }

  test("weak reader parks at a rival's in-flight batch, then resumes past it") {
    // The round-9 exhaustive interleaving analysis: the PUBLISHED weak
    // end deliberately advances past a slower rival's still-in-flight
    // lower seq — but a weak OFFSET advance must not span the in-flight
    // dir (reading it would deliver a partial batch as if whole, and
    // deciding the skip from live filesystem state replays
    // non-deterministically). latestOffset clamps at the in-flight dir:
    // the trigger delivers NOTHING while the rival is mid-write, and the
    // next pass delivers both batches in order once it commits.
    // Construct the mid-write state: batch 0 loses its commit marker and
    // regains its reservation (what a slow writer holds while a faster
    // rival commits seq 1 and the head publishes weak end 2).
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("s6", schema)
    ch.write(Seq((1, "a")).toDF("id", "msg"), 1)
    ch.write(Seq((2, "b")).toDF("id", "msg"), 2)
    val b0 = TopicListing.of(ch.dir).live.head.path
    Files.delete(b0.resolve("_SUCCESS"))
    Files.createDirectory(TopicListing.resPath(ch.dir, 0L))

    // listing-derived ends: strict parks at the reservation, weak stays
    // past the in-flight seq (monotone — the r9 committedEnds fix)
    val (strict, weak) = TopicListing.of(ch.dir).committedEnds
    assert(strict == 0 && weak == 2, s"ends ($strict,$weak)")

    val parked = runToSink(ch.readStreamV2(weak = true).select("id"))
    assert(spark.table(parked).as[Int].collect().isEmpty,
      "weak reader must PARK at the in-flight batch, not skip or read it")

    // the rival finishes: commit marker lands, reservation resolves
    Files.createFile(b0.resolve("_SUCCESS"))
    Files.delete(TopicListing.resPath(ch.dir, 0L))
    val resumed = runToSink(ch.readStreamV2(weak = true).select("id"))
    assert(spark.table(resumed).as[Int].collect().toSeq == Seq(1, 2),
      "weak reader must resume past the committed batch in order")
  }

  test("pending seq reservation parks the stream; release resumes it") {
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("s6", schema)
    ch.write(Seq((1, "a")).toDF("id", "msg"), 1)
    // no leftover markers after successful writes
    assert(TopicListing.of(ch.dir).reservations.isEmpty)
    // simulate an in-flight concurrent writer that reserved the next seq
    // but has not committed its batch dir yet
    val next = Channel.reserveSeq(ch.dir)
    ch.write(Seq((2, "b")).toDF("id", "msg"), 2) // lands BEYOND the reservation

    // weak readers skip evicted/aborted HOLES, but a LIVE reservation is
    // not a hole — it is an in-flight write whose data may yet commit.
    // Sailing past it would strand that data behind the offset forever
    // (silent loss beyond the advertised weak semantics) and make the
    // spanning epoch replay non-deterministically, so the weak advance
    // clamps at the reservation exactly as it clamps at an uncommitted
    // batch dir; the rival resolving (commit, abort, or sweepStale)
    // unblocks it. The modes still diverge on RESOLVED seqs: weak skips
    // tombstones and evictions silently, strict raises loss on evictions.
    val weakName = runToSink(ch.readStreamV2(weak = true).select("id"))
    assert(spark.table(weakName).as[Int].collect().toSeq == Seq(1),
      "weak reader must park at a live pending reservation")

    sinkN += 1
    val name = s"dsv2_sink_$sinkN"
    val q = ch.readStreamV2().select("id").writeStream
      .outputMode("append").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).as[Int].collect().toSeq == Seq(1),
        "stream advanced past a pending reservation")
      // the reserved writer FAILS (a failed write's catch path): its seq
      // becomes an abort tombstone — a benign hole, not data loss
      Channel.markAborted(ch.dir, next)
      q.processAllAvailable()
      assert(spark.table(name).as[Int].collect().sorted.toSeq == Seq(1, 2),
        "stream did not resume after the reservation aborted")
    } finally q.stop()
    // the abort resolved the reservation: the parked WEAK reader resumes
    // too, skipping the tombstone hole silently (no ChannelDataLoss)
    val weakResumed = runToSink(ch.readStreamV2(weak = true).select("id"))
    assert(spark.table(weakResumed).as[Int].collect().sorted.toSeq == Seq(1, 2),
      "weak reader did not resume after the reservation aborted")
    // compact() sweeps stale markers (crashed writers)
    Channel.reserveSeq(ch.dir)
    ch.write(Seq((3, "c")).toDF("id", "msg"), 1)
    ch.compact()
    assert(TopicListing.of(ch.dir).reservations.isEmpty, "compact left stale reservations")
  }

  test("weak advance never spans a reservation whose batch dir does not exist yet") {
    // The reservation WINDOW: between reserveSeq and the parquet job
    // creating the target dir, the only on-disk trace of the in-flight
    // seq is its `_res_` marker — a batch_*-only clamp is blind to it.
    // If the weak offset sailed past, the rival's later-committed batch
    // would sit BEHIND the stream's offset and be skipped forever (real
    // silent loss, beyond the evicted/aborted holes weak advertises),
    // and a failure replay of the spanning epoch would re-decide its
    // content from live _SUCCESS state.
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("s6b", schema)
    ch.write(Seq((1, "a")).toDF("id", "msg"), 1)
    val rival = Channel.reserveSeq(ch.dir) // marker only; dir not created yet
    ch.write(Seq((3, "c")).toDF("id", "msg"), 1) // faster writer commits beyond
    // the published weak end deliberately spans the window (weak ends
    // ignore reservations so stalled writers can't regress the cursor)
    assert(Channel.readHead(ch.dir).exists(_._2 == rival + 2))

    val parked = runToSink(ch.readStreamV2(weak = true).select("id"))
    assert(spark.table(parked).as[Int].collect().toSeq == Seq(1),
      "weak reader must park at the reservation-only in-flight seq")

    // the rival's parquet job lands: batch dir (with _SUCCESS) appears at
    // the reserved seq, then the marker releases — the write path's own
    // commit order, reproduced at a CHOSEN seq
    val stage = tmpDir("dsv2").resolve("rival_stage")
    Seq((2, "b")).toDF("id", "msg")
      .withColumn(Channel.WriterIdCol, lit(9))
      .withColumn(Channel.SeqCol, lit(rival))
      .withColumn(Channel.OffsetCol, monotonically_increasing_id())
      .coalesce(1).write.parquet(stage.toString)
    Files.move(stage, ch.dir.resolve(f"batch_$rival%012d" + "_w9_rival"))
    Files.delete(TopicListing.resPath(ch.dir, rival))
    Channel.advanceHead(TopicListing.of(ch.dir))

    val resumed = runToSink(ch.readStreamV2(weak = true).select("id"))
    assert(spark.table(resumed).as[Int].collect().toSeq == Seq(1, 2, 3),
      "the rival's later-committed batch must be delivered in order, not skipped")
  }

  test("weak reader skips an aborted seq whose partial dir was left behind") {
    // Channel.write's failure path tombstones its seq and releases the
    // marker but may leave the half-written batch dir on disk. A
    // tombstoned seq is RESOLVED — the weak clamp must not park on its
    // leftover partial (that would wedge every weak subscriber forever
    // on a hole strict mode correctly skips), and the maintenance sweep
    // reclaims the orphaned dir.
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("s6c", schema)
    ch.write(Seq((1, "a")).toDF("id", "msg"), 1)
    // the failed write's debris at seq 1: partial dir, tombstone, no marker
    val partial = ch.dir.resolve(f"batch_${1L}%012d" + "_w7_dead")
    Files.createDirectories(partial)
    Channel.markAborted(ch.dir, 1L)
    ch.write(Seq((2, "b")).toDF("id", "msg"), 1) // lands at seq 2

    val weakName = runToSink(ch.readStreamV2(weak = true).select("id"))
    assert(spark.table(weakName).as[Int].collect().toSeq == Seq(1, 2),
      "weak reader wedged on an aborted seq's leftover partial dir")
    val strictName = runToSink(ch.readStreamV2().select("id"))
    assert(spark.table(strictName).as[Int].collect().toSeq == Seq(1, 2),
      "strict reader did not skip the aborted hole")

    // sweepStale reclaims the orphan (age-gated: only stale debris goes)
    assert(ch.sweepStale(3600000) == 0, "young partial must survive the sweep")
    java.nio.file.Files.setLastModifiedTime(partial,
      java.nio.file.attribute.FileTime.fromMillis(1L))
    assert(ch.sweepStale(3600000) == 1, "stale orphaned partial not swept")
    assert(!Files.exists(partial), "orphaned partial dir still on disk")
  }

  test("weak-only subscriber self-heals a stale reservation clamp (no maintenance actor)") {
    // r10's clamp made weak readers park at a live reservation instead of
    // silently losing a slow rival's data — but liveness then depended on
    // SOMETHING calling sweepStale. A weak-only deployment has no such
    // actor, so the planner itself runs the age-gated sweep once the
    // clamp has sat at the same seq past weakClampSweepMs.
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("s6d", schema)
    ch.write(Seq((1, "a")).toDF("id", "msg"), 1)
    val rival = Channel.reserveSeq(ch.dir) // crashed writer: marker only
    ch.write(Seq((2, "b")).toDF("id", "msg"), 1) // commits beyond it
    // the marker is genuinely stale (the sweep's cutoff must pass it);
    // the CLAMP persistence gate is what the wait below exercises
    Files.setLastModifiedTime(TopicListing.resPath(ch.dir, rival),
      java.nio.file.attribute.FileTime.fromMillis(1L))

    sinkN += 1
    val name = s"dsv2_sink_$sinkN"
    val q = spark.readStream.format("graft-channel")
      .option("weak", "true").option("weakClampSweepMs", "300")
      .load(ch.dir.toString)
      .select("id").writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      // NO "still parked" assertion here: the clamp wait (floored to
      // 1 s) is armed at the FIRST latestOffset, so on a slow host the
      // heal can complete inside the first processAllAvailable — the
      // park-at-reservation behavior itself is pinned by the dedicated
      // clamp tests above. Under test HERE: with no maintenance actor,
      // the subscriber eventually delivers the blocked-behind data and
      // leaves the swept seq tombstoned (never a trace-free gap).
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table(name).count() < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(spark.table(name).as[Int].collect().sorted.toSeq == Seq(1, 2),
        "weak-only subscriber never self-healed the stale clamp")
      assert(TopicListing.of(ch.dir).reservations.isEmpty, "stale marker survived the self-sweep")
      assert(TopicListing.of(ch.dir).aborts.contains(rival),
        "swept seq must be tombstoned, not a trace-free gap")
    } finally q.stop()
  }

  test("reserved seqs are distinct and monotone across interleaved writers") {
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("s7", schema)
    val r1 = Channel.reserveSeq(ch.dir)
    val r2 = Channel.reserveSeq(ch.dir) // second reservation must not collide
    assert(r2 == r1 + 1)
    ch.write(Seq((1, "a")).toDF("id", "msg"), 1) // skips both reservations
    val seqs = ch.read().select(Channel.SeqCol).as[Long].collect().toSeq
    assert(seqs == Seq(r2 + 1))
  }

  test("snapshot reads pin a seq range; compaction invalidates old pins") {
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("s8", schema)
    (1 to 3).foreach(i => ch.write(Seq((i, s"m$i")).toDF("id", "msg"), 1))
    val pin = ch.cursor()
    ch.write(Seq((4, "late")).toDF("id", "msg"), 1)
    // the pinned snapshot is immune to the later append…
    assert(ch.readSnapshot(endSeq = pin).select("id").as[Int].collect().sorted.toSeq
      == Seq(1, 2, 3))
    // …and sub-ranges slice by cursor
    assert(ch.readSnapshot(endSeq = pin, startSeq = 1).select("id").as[Int]
      .collect().sorted.toSeq == Seq(2, 3))
    // compaction absorbs history: a stale pin must fail loudly, not
    // silently over/under-read
    ch.compact()
    intercept[IllegalStateException] {
      ch.readSnapshot(endSeq = pin).collect()
    }
    // unpinned reads still see everything
    assert(ch.read().select("id").as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
  }

  test("offset planning is O(1): an idle trigger on a 10k-batch topic does not list") {
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("s9", schema)
    ch.write(Seq((1, "a")).toDF("id", "msg"), 1)
    // fabricate a long-lived topic: 10k committed batch dirs appended
    // after the real one (planning only reads names + _SUCCESS markers,
    // so empty dirs exercise the exact code path without 10k parquet
    // writes), then publish the cursor the writers would have
    (1 to 10000).foreach { i =>
      val d = ch.dir.resolve(f"batch_${i}%012d_w1_utest")
      Files.createDirectories(d)
      Files.createFile(d.resolve("_SUCCESS"))
    }
    Channel.advanceHead(TopicListing.of(ch.dir))
    assert(Channel.readHead(ch.dir).contains((10001L, 10001L)))

    val stream = new graft.sources.ChannelMicroBatchStream(spark, ch.dir,
      null, weak = false, startLatest = false, startSeq = None, maxBatches = None)
    val start = stream.initialOffset() // may list (once, at query start)
    val before = Channel.listDirCalls.get()
    // steady-state triggers: offset discovery must be O(1) — zero
    // directory scans, just the head-cursor read
    (1 to 100).foreach { _ =>
      assert(stream.latestOffset(start, org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
        .asInstanceOf[graft.sources.ChannelSeqOffset].seq == 10001L)
      stream.reportLatestOffset()
    }
    assert(Channel.listDirCalls.get() == before,
      s"idle triggers listed the topic dir ${Channel.listDirCalls.get() - before} times")
  }

  test("a strict non-idle trigger lists the topic once; a weak one twice") {
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("s_lists", schema)
    val k = 5
    (0 until k).foreach(i => ch.write(Seq((i, "x")).toDF("id", "msg"), 1))
    // strict: planning's one listing; weak: the in-flight clamp's listing
    // in latestOffset, then planning's. Reading the k batch dirs' files
    // lists those dirs, not the topic.
    Seq(false -> 1L, true -> 2L).foreach { case (weak, want) =>
      val stream = new graft.sources.ChannelMicroBatchStream(spark, ch.dir,
        null, weak = weak, startLatest = false, startSeq = Some(0L), maxBatches = None)
      val start = stream.initialOffset()
      val before = Channel.listDirCalls.get()
      val end = stream.latestOffset(start,
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      stream.reportLatestOffset()
      val parts = stream.planInputPartitions(start, end)
      val listed = Channel.listDirCalls.get() - before
      // 5 files of about one open cost each, spread over local[4]: a split
      // of 5/4 open costs holds 2 files, so 3 partitions
      assert(end.asInstanceOf[graft.sources.ChannelSeqOffset].seq == k && parts.length == 3)
      assert(listed == want,
        s"a ${if (weak) "weak" else "strict"} trigger over $k batches listed the topic $listed times")
    }
  }

  test("strong subscription survives a compaction boundary (benign compact seq)") {
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("s10", schema)
    ch.write(Seq((1, "a")).toDF("id", "msg"), 1)
    ch.write(Seq((2, "b")).toDF("id", "msg"), 1)
    sinkN += 1
    val name = s"dsv2_sink_$sinkN"
    val q = ch.readStreamV2().select("id").writeStream
      .outputMode("append").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).as[Int].collect().sorted.toSeq == Seq(1, 2))
      // maintenance window: the checkpointed subscriber already ingested
      // the originals; compaction claims the next seq with a compact_*
      // dir that is INVISIBLE to subscriptions — it must read as a benign
      // hole, not ChannelDataLoss, and post-compaction appends flow
      ch.compact()
      ch.write(Seq((3, "c")).toDF("id", "msg"), 1)
      q.processAllAvailable()
      assert(spark.table(name).as[Int].collect().sorted.toSeq == Seq(1, 2, 3),
        "stream broke at the compaction boundary")
    } finally q.stop()
  }

  test("a micro-batch over many tiny batches plans at most one partition per core") {
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("s_width", schema)
    val k = 20
    (0 until k).foreach(i => ch.write(Seq((i, "x")).toDF("id", "msg"), 1))
    val stream = new graft.sources.ChannelMicroBatchStream(spark, ch.dir,
      null, weak = false, startLatest = false, startSeq = Some(0L), maxBatches = None)
    val parts = stream.planInputPartitions(graft.sources.ChannelSeqOffset(0L),
      graft.sources.ChannelSeqOffset(k))
    assert(parts.length <= spark.sparkContext.defaultParallelism,
      s"a trigger over $k tiny batches planned ${parts.length} partitions")
    // every batch's file, in seq order
    assert(parts.toSeq.flatMap(_.asInstanceOf[FilePartition].files.map(_.toPath.getParent.getName))
      == TopicListing.of(ch.dir).batches.map(_._2.head.getFileName.toString))
  }

  test("a batch scan of a many-batch topic packs files up to maxPartitionBytes, in order") {
    val reg = new ChannelRegistry(spark, tmpDir("dsv2"))
    val ch = reg.create("b_width", schema)
    val k = 12
    (0 until k).foreach(i => ch.write(Seq((2 * i, "a"), (2 * i + 1, "b")).toDF("id", "msg"), i % 3))
    val openCost = GraftSqlBridge.sqlConf(spark).filesOpenCostInBytes
    val maxBytes = 2 * openCost
    val cost = TopicListing.of(ch.dir).live
      .flatMap(d => TopicListing.dataFiles(d.path)).map(Files.size(_) + openCost).sum
    val prior = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", maxBytes.toString)
    try {
      val df = ch.read()
      val n = df.rdd.getNumPartitions
      assert(n > 1 && n <= (cost + maxBytes - 1) / maxBytes,
        s"$k batches (cost $cost B) planned $n partitions at maxPartitionBytes=$maxBytes")
      val key = Seq(Channel.SeqCol, Channel.WriterIdCol, Channel.OffsetCol)
      val rows = df.select("id", key: _*).collect().toSeq
      assert(rows.map(_.getInt(0)) == (0 until 2 * k))
      assert(rows.map(r => (r.getLong(1), r.getInt(2), r.getLong(3))) ==
        rows.map(r => (r.getLong(1), r.getInt(2), r.getLong(3))).sorted)
      assert(df.queryExecution.optimizedPlan.collectFirst {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s }.isEmpty)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prior)
  }
}
