package graft

import java.nio.file.{Files, Path}

import graft.channel.{Channel, TopicListing}

/** EXHAUSTIVE interleaving check over the channel marker protocol's
  * smallest concurrent core — the engine's parity with the reference's
  * loom model-checking of its ring buffer
  * (/root/reference/subsystem/messaging/src/lib.rs:1174-1199), where
  * loom enumerates every schedule of a small model rather than sampling.
  *
  * The topic's shared structure is a DIRECTORY. Its atomicity unit is a
  * single filesystem operation (marker create / rename / delete) or one
  * critical section under the topic lock (`_LOCK`): a seq claim (list
  * the topic, create the `_res_` marker), a marker release and a head
  * publish (raise `_HEAD`) are one section each. A writer's protocol is therefore a
  * SEQUENCE of atomic steps, and exhaustively enumerating all
  * interleavings of two writers' step sequences — executing steps one at
  * a time in the enumerated order — explores exactly the schedules real
  * threads could produce at that granularity. The 1-reader half of the
  * model runs as an invariant check after EVERY step (equivalent to a
  * reader observing at every interleaving point).
  *
  * Model: 2 writers × 1 op each, all four (commit|abort)² mixes.
  * Commit = 5 steps (reserve, mkdir batch, _SUCCESS, drop reservation,
  * advance head); a failed write = 3 steps (reserve, mkdir batch,
  * tombstone). Schedules: C(10,5) + 2·C(8,5) + C(6,3) = 384, each on a
  * fresh directory. A second model runs multi-op writers (1 287
  * schedules) and a third a stale sweep racing one writer. The randomized
  * thread stress (ChannelStressSuite) keeps covering the large/racy end
  * and the cross-JVM claim; this suite proves the small core has NO bad
  * schedule.
  */
class ChannelInterleavingSuite extends SparkSpec {

  /** A weak DSv2 offset planner over `dir` — the real latestOffset code
    * path, driven directly so the clamp logic is model-checked at every
    * interleaving point. */
  private def offeredWeakEnd(dir: Path): Long = {
    val stream = new graft.sources.ChannelMicroBatchStream(spark, dir, null,
      weak = true, startLatest = false, startSeq = None, maxBatches = None)
    stream.latestOffset(graft.sources.ChannelSeqOffset(0L),
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      .asInstanceOf[graft.sources.ChannelSeqOffset].seq
  }

  /** The weak determinism invariant: every seq inside an OFFERED weak
    * range must be RESOLVED — a fully committed batch or an abort
    * tombstone (this model has no eviction/compaction). An in-flight seq
    * in range (uncommitted dir, or a bare `_res_` whose dir does not
    * exist yet) means the epoch's content would be re-decided from live
    * filesystem state on failure replay, and once the offset passes it,
    * later-committed data is stranded behind the cursor forever. */
  private def assertWeakOfferResolved(dir: Path, ctx: => String): Unit = {
    val offered = offeredWeakEnd(dir)
    val listing = TopicListing.of(dir)
    val bySeq = listing.batches.toMap
    val aborted = listing.aborts
    (0L until offered).foreach { s =>
      val committedSeq =
        bySeq.get(s).exists(ds => ds.forall(p => Files.exists(p.resolve("_SUCCESS"))))
      assert(committedSeq || aborted.contains(s),
        s"$ctx weak offer $offered spans unresolved seq $s")
    }
  }

  /** One writer's op as its atomic step list. Steps close over the
    * writer's reserved seq (data dependency: later steps need the seq
    * the reserve step claimed). */
  private def commitSteps(dir: Path, w: Int,
      claimed: scala.collection.mutable.Map[Int, Long]): Vector[() => Unit] = Vector(
    () => claimed(w) = Channel.reserveSeq(dir),
    () => Files.createDirectories(
      dir.resolve(f"batch_${claimed(w)}%012d_w$w")),
    () => Files.createFile(
      dir.resolve(f"batch_${claimed(w)}%012d_w$w").resolve("_SUCCESS")),
    () => Channel.releaseSeq(dir, claimed(w)),
    () => Channel.advanceHead(TopicListing.of(dir)))

  /** A FAILED write, as it really happens: the parquet job creates the
    * target dir, dies before `_SUCCESS`, and the catch path tombstones
    * the seq — leaving the partial dir on disk (the round-10 weak-clamp
    * wedge scenario, now exhaustively scheduled). */
  private def abortSteps(dir: Path, w: Int,
      claimed: scala.collection.mutable.Map[Int, Long]): Vector[() => Unit] = Vector(
    () => claimed(w) = Channel.reserveSeq(dir),
    () => Files.createDirectories(dir.resolve(f"batch_${claimed(w)}%012d_w$w")),
    () => Channel.markAborted(dir, claimed(w)))

  /** All interleavings of two step counts as picks for writer 0. */
  private def schedules(n0: Int, n1: Int): Seq[Seq[Int]] = {
    def go(a: Int, b: Int): Seq[List[Int]] =
      if (a == 0 && b == 0) Seq(Nil)
      else {
        val viaA = if (a > 0) go(a - 1, b).map(0 :: _) else Nil
        val viaB = if (b > 0) go(a, b - 1).map(1 :: _) else Nil
        viaA ++ viaB
      }
    go(n0, n1)
  }

  test("every interleaving of the 2-writer core upholds the protocol invariants") {
    val mixes = Seq(
      ("commit/commit", true, true), ("commit/abort", true, false),
      ("abort/commit", false, true), ("abort/abort", false, false))
    var total = 0
    for ((label, c0, c1) <- mixes) {
      val n0 = if (c0) 5 else 3
      val n1 = if (c1) 5 else 3
      for ((sched, k) <- schedules(n0, n1).zipWithIndex) {
        val dir = Files.createTempDirectory("chan_ilv")
        try {
          val claimed = scala.collection.mutable.Map.empty[Int, Long]
          val steps = Array(
            if (c0) commitSteps(dir, 0, claimed) else abortSteps(dir, 0, claimed),
            if (c1) commitSteps(dir, 1, claimed) else abortSteps(dir, 1, claimed))
          val idx = Array(0, 0)
          var lastHead: Option[(Long, Long)] = None
          for (w <- sched) {
            steps(w)(idx(w))(); idx(w) += 1
            // the 1-reader half: observed at EVERY interleaving point
            val (strict, weak) = TopicListing.of(dir).committedEnds
            assert(strict <= weak,
              s"[$label #$k after $sched] strict $strict > weak $weak")
            Channel.readHead(dir).foreach { case (hs, hw) =>
              assert(hs <= hw, s"[$label #$k] head strict $hs > weak $hw")
              assert(hs <= strict && hw <= weak,
                s"[$label #$k] published head ($hs,$hw) ahead of true ends ($strict,$weak)")
              lastHead.foreach { case (ps, pw) =>
                assert(hs >= ps && hw >= pw,
                  s"[$label #$k] head regressed ($ps,$pw) -> ($hs,$hw)")
              }
              lastHead = Some((hs, hw))
            }
            // DSv2 weak-offset determinism at every interleaving point
            // (the round-10 clamp: uncommitted dirs AND bare reservations)
            assertWeakOfferResolved(dir, s"[$label #$k after $sched]")
          }
          // schedule-independent final state: both seqs claimed uniquely,
          // disk agrees with the op mix, no reservation survives, and the
          // quiescent cursor equals the total op count
          assert(claimed(0) != claimed(1), s"[$label #$k] double-claimed seq")
          assert(Set(claimed(0), claimed(1)) == Set(0L, 1L))
          val batchDirs = TopicListing.of(dir).dirs.filterNot(_.compact)
          val committedSeqs = batchDirs
            .filter(d => Files.exists(d.path.resolve("_SUCCESS")))
            .map(_.seq).toSet
          val partialSeqs = batchDirs
            .filterNot(d => Files.exists(d.path.resolve("_SUCCESS")))
            .map(_.seq).toSet
          val wantCommitted =
            (if (c0) Set(claimed(0)) else Set.empty[Long]) ++
              (if (c1) Set(claimed(1)) else Set.empty[Long])
          assert(committedSeqs == wantCommitted, s"[$label #$k] batch set drifted")
          val wantAborted =
            (if (c0) Set.empty[Long] else Set(claimed(0))) ++
              (if (c1) Set.empty[Long] else Set(claimed(1)))
          assert(TopicListing.of(dir).aborts == wantAborted,
            s"[$label #$k] abort tombstones drifted")
          // a failed write's debris may only sit at a TOMBSTONED seq —
          // a partial dir anywhere else would be unresolved in-flight
          assert(partialSeqs.subsetOf(wantAborted),
            s"[$label #$k] partial dir outside the aborted set: $partialSeqs")
          assert(TopicListing.of(dir).reservations.isEmpty, s"[$label #$k] leaked reservation")
          // quiescent cursor: strict == weak == one past the last
          // COMMITTED batch (trailing aborts are benign holes past the
          // end; 0 when everything aborted), and the published head has
          // caught up exactly
          Channel.advanceHead(TopicListing.of(dir))
          val (strict, weak) = TopicListing.of(dir).committedEnds
          val wantWeak = wantCommitted.maxOption.map(_ + 1).getOrElse(0L)
          assert(strict == weak && weak == wantWeak,
            s"[$label #$k] quiescent ends ($strict,$weak) != $wantWeak")
          assert(Channel.readHead(dir).contains((strict, weak)),
            s"[$label #$k] head not caught up to ($strict,$weak)")
          total += 1
        } finally Channel.deleteRecursively(dir)
      }
    }
    info(s"$total schedules enumerated, all clean")
    // C(10,5) + 2·C(8,5) + C(6,3): aborts are now 3-step failed writes
    assert(total == 384)
  }

  test("sweep-vs-writer: a stale sweep at any point of a commit never corrupts the seq") {
    // Third model: the maintenance sweeper racing a LIVE (merely slow)
    // writer — the one protocol actor the two writer-vs-writer models
    // above do not cover. sweepStale is wall-clock judgement (its scaladoc
    // says so); this pins what each outcome of that judgement call does
    // to the seq: whichever point of the writer's commit sequence the
    // sweep fires at, the final state must hold (a) no reservation marker
    // survives, (b) no PARTIAL batch dir (files without _SUCCESS) is ever
    // left readable, (c) the seq ends either fully committed (data
    // delivered) or tombstoned — never a trace-free gap, (d) offered
    // offsets stay inside resolved seqs, and (e) a strict plan over the
    // strict end never raises data loss. The writer models Channel.write
    // at file-op granularity: a step that throws (its dir swept from
    // under it — exactly what the real parquet job would hit) takes the
    // write path's catch and tombstones its seq.
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val schema = StructType(Seq(StructField("id", IntegerType)))
    for (sweepAt <- 0 to 6) {
      val reg = new graft.channel.ChannelRegistry(spark, tmpDir("chan_sweep"))
      val ch = reg.create(s"sw$sweepAt", schema)
      val dir = ch.dir
      val claimed = scala.collection.mutable.Map.empty[Int, Long]
      def marker = TopicListing.resPath(dir, claimed(0))
      def batch = dir.resolve(f"batch_${claimed(0)}%012d_w0")
      val steps: Vector[() => Unit] = Vector(
        () => {
          claimed(0) = Channel.reserveSeq(dir)
          // the writer has been "stuck" since reservation: age the marker
          // past any sweep threshold
          Files.setLastModifiedTime(marker,
            java.nio.file.attribute.FileTime.fromMillis(1L))
        },
        () => Files.createDirectories(batch),
        () => Files.createFile(batch.resolve("part-0.parquet")),
        () => Files.createFile(batch.resolve("_SUCCESS")),
        () => Channel.releaseSeq(dir, claimed(0)),
        () => Channel.advanceHead(TopicListing.of(dir)))
      var failed = false
      for ((st, i) <- steps.zipWithIndex) {
        if (i == sweepAt) ch.sweepStale(3600000) // only the aged marker is stale
        if (!failed) {
          try st()
          catch { case _: Exception =>
            // Channel.write's catch path: tombstone and give up
            Channel.markAborted(dir, claimed(0)); failed = true
          }
        }
      }
      if (sweepAt == steps.length) ch.sweepStale(3600000)

      val ctx = s"[sweepAt=$sweepAt]"
      assert(TopicListing.of(dir).reservations.isEmpty, s"$ctx leaked reservation")
      val dirs = TopicListing.of(dir).dirs.filterNot(_.compact)
      dirs.foreach { d =>
        assert(Files.exists(d.path.resolve("_SUCCESS")),
          s"$ctx partial batch dir left readable: ${d.path}")
      }
      val committedHere = dirs.exists(_.seq == claimed(0))
      val tombstoned = TopicListing.of(dir).aborts.contains(claimed(0))
      assert(committedHere || tombstoned, s"$ctx trace-free gap at ${claimed(0)}")
      assertWeakOfferResolved(dir, ctx)
      Channel.advanceHead(TopicListing.of(dir))
      val (strict, weak) = TopicListing.of(dir).committedEnds
      assert(strict <= weak, s"$ctx ends inverted")
      Channel.readHead(dir).foreach { case (hs, hw) =>
        assert(hs <= strict && hw <= weak, s"$ctx head ahead of true ends")
      }
      // a strict plan over the full strict range must not raise loss —
      // every hole in it is a tombstone the planner knows is benign
      val stream = new graft.sources.ChannelMicroBatchStream(spark, dir, null,
        weak = false, startLatest = false, startSeq = None, maxBatches = None)
      stream.planInputPartitions(graft.sources.ChannelSeqOffset(0L),
        graft.sources.ChannelSeqOffset(strict)) // throws ChannelDataLoss on a bad hole
      // if the batch survived, its data must actually be planned
      if (committedHere)
        assert(weak > claimed(0), s"$ctx committed batch not visible")
    }
  }

  /** A writer's multi-op step list: each op is commit (5 steps) or a
    * FAILED write (3 steps — the dir lands, `_SUCCESS` never does, the
    * catch tombstones); later steps of an op close over the seq its
    * reserve step claimed (`claimed.last`). */
  private def stepsFor(dir: Path, w: Int, ops: Seq[Boolean],
      claimed: scala.collection.mutable.ArrayBuffer[(Long, Boolean)])
      : Vector[() => Unit] = {
    def batch = dir.resolve(f"batch_${claimed.last._1}%012d_w$w")
    ops.toVector.flatMap { isCommit =>
      if (isCommit) Vector[() => Unit](
        () => claimed += ((Channel.reserveSeq(dir), true)),
        () => Files.createDirectories(batch),
        () => Files.createFile(batch.resolve("_SUCCESS")),
        () => Channel.releaseSeq(dir, claimed.last._1),
        () => Channel.advanceHead(TopicListing.of(dir)))
      else Vector[() => Unit](
        () => claimed += ((Channel.reserveSeq(dir), false)),
        () => Files.createDirectories(batch),
        () => Channel.markAborted(dir, claimed.last._1))
    }
  }

  test("multi-op writers: every schedule of commit→abort vs commit holds up") {
    // Second exhaustive model: seq assignment must stay unique ACROSS a
    // writer's successive ops under every interleaving (the reuse bugs
    // the r7 double-claim race lived in), and the published head must
    // stay monotone throughout. w0 = commit then failed-write (8 steps),
    // w1 = commit (5 steps): C(13,5) = 1287 schedules. Per-step checks
    // read the O(1) published head plus the weak-offer invariant; the
    // full-listing invariants run at the end of each schedule (the 1-op
    // model above already checks listings at every step).
    var total = 0
    for ((sched, k) <- schedules(8, 5).zipWithIndex) {
      val dir = Files.createTempDirectory("chan_ilv2")
      try {
        val claimed = Array.fill(2)(
          scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)])
        val steps = Array(
          stepsFor(dir, 0, Seq(true, false), claimed(0)),
          stepsFor(dir, 1, Seq(true), claimed(1)))
        val idx = Array(0, 0)
        var lastHead: Option[(Long, Long)] = None
        for (w <- sched) {
          steps(w)(idx(w))(); idx(w) += 1
          Channel.readHead(dir).foreach { case (hs, hw) =>
            assert(hs <= hw, s"[#$k] head strict $hs > weak $hw")
            lastHead.foreach { case (ps, pw) =>
              assert(hs >= ps && hw >= pw,
                s"[#$k] head regressed ($ps,$pw) -> ($hs,$hw) in $sched")
            }
            lastHead = Some((hs, hw))
          }
          assertWeakOfferResolved(dir, s"[#$k in $sched]")
        }
        val all = claimed.flatten
        assert(all.size == 3 && all.map(_._1).distinct.size == 3,
          s"[#$k] seqs not unique: ${all.toSeq}")
        assert(all.map(_._1).toSet == Set(0L, 1L, 2L),
          s"[#$k] seqs not dense: ${all.toSeq}")
        val committed = all.filter(_._2).map(_._1).toSet
        val dirsBySuccess = TopicListing.of(dir).dirs.filterNot(_.compact)
          .partition(d => Files.exists(d.path.resolve("_SUCCESS")))
        assert(dirsBySuccess._1.map(_.seq).toSet == committed,
          s"[#$k] batch set drifted")
        val wantAborted = all.filterNot(_._2).map(_._1).toSet
        assert(TopicListing.of(dir).aborts == wantAborted,
          s"[#$k] tombstones drifted")
        assert(dirsBySuccess._2.map(_.seq).toSet.subsetOf(wantAborted),
          s"[#$k] partial dir outside the aborted set")
        assert(TopicListing.of(dir).reservations.isEmpty, s"[#$k] leaked reservation")
        Channel.advanceHead(TopicListing.of(dir))
        val (strict, weak) = TopicListing.of(dir).committedEnds
        assert(strict == weak && weak == committed.max + 1,
          s"[#$k] quiescent ends ($strict,$weak) vs committed $committed")
        assert(Channel.readHead(dir).contains((strict, weak)))
        total += 1
      } finally Channel.deleteRecursively(dir)
    }
    info(s"$total multi-op schedules enumerated, all clean")
    assert(total == 1287)
  }
}
