package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.channel.{Channel, ChannelRegistry, TopicListing}
import org.apache.spark.sql.functions._

/** Randomized interleaving stress over the channel's multi-writer
  * protocol — the engine's analogue of the reference's loom-driven
  * exhaustive interleaving tests over its ring buffer
  * (/root/reference/subsystem/messaging/src/lib.rs:1174-1199). Loom
  * model-checks a shared-memory structure; this topic's shared structure
  * is a DIRECTORY (atomic marker creates + renames), so the stress runs
  * real threads over real files with a seeded schedule perturbation:
  * failures reproduce by re-running with the printed seed
  * (`-Dgraft.stress.seed=<n>`).
  */
class ChannelStressSuite extends SparkSpec {

  private val seed: Long =
    java.lang.Long.getLong("graft.stress.seed", 20260813L)

  test(s"seq reservation/abort/head survive randomized interleaving (seed=$seed)") {
    info(s"seed=$seed (override with -Dgraft.stress.seed=<n>)")
    val dir = tmpDir("chan_stress")
    val nWriters = 8
    val opsEach = 150
    val start = new CountDownLatch(1)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()

    // Writers drive the marker-level protocol exactly as doWrite does:
    // reserve → (commit batch dir + _SUCCESS, drop reservation | abort) →
    // advanceHead. Commit content is an empty dir + _SUCCESS — the
    // protocol under test is the marker dance, not parquet IO.
    val claimed = (0 until nWriters).map(_ =>
      scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)])
    val writers = (0 until nWriters).map { w =>
      val rnd = new scala.util.Random(seed * 31 + w)
      new Thread(() => {
        try {
          start.await()
          var i = 0
          while (i < opsEach) {
            val s = Channel.reserveSeq(dir)
            if (rnd.nextInt(4) == 0) Thread.`yield`()
            if (rnd.nextInt(5) == 0) { // ~20% of writes fail after reserving
              Channel.markAborted(dir, s)
              claimed(w) += ((s, false))
            } else {
              val batch = dir.resolve(f"batch_$s%012d" + s"_w${w}_u$i")
              Files.createDirectories(batch)
              if (rnd.nextBoolean()) Thread.`yield`()
              Files.createFile(batch.resolve("_SUCCESS"))
              Channel.releaseSeq(dir, s)
              Channel.advanceHead(TopicListing.of(dir))
              claimed(w) += ((s, true))
            }
            i += 1
          }
        } catch { case t: Throwable => failures.add(t) }
      }, s"stress-writer-$w")
    }
    // Readers race the writers: the published cursor and the full-listing
    // ends must stay CONSISTENT (strict ≤ weak; cursor within the true
    // ends' eventual range) and never throw, at any interleaving, and the
    // published head never decreases between one reader's reads.
    val readers = (0 until 2).map { r =>
      new Thread(() => {
        try {
          start.await()
          var last = (0L, 0L)
          while (!stop.get()) {
            val (strict, weak) = TopicListing.of(dir).committedEnds
            assert(strict <= weak, s"strict $strict > weak $weak")
            Channel.readHead(dir).foreach { case (hs, hw) =>
              assert(hs <= hw, s"published head strict $hs > weak $hw")
              assert(hs >= last._1 && hw >= last._2,
                s"published head regressed $last -> ($hs,$hw)")
              last = (hs, hw)
            }
          }
        } catch { case t: Throwable => failures.add(t) }
      }, s"stress-reader-$r")
    }
    // Strict-end readers: a strict end promises that every seq below it is
    // resolved — committed (`_SUCCESS`), tombstoned or compacted — and
    // resolution is permanent (nothing is evicted or pruned here), so a
    // listing taken AFTER the end was read must show every seq below it
    // resolved. Checked for the full-listing end and the published head.
    val strictChecks = new java.util.concurrent.atomic.AtomicInteger()
    val strictReaders = (0 until 2).map { r =>
      new Thread(() => {
        try {
          start.await()
          while (!stop.get()) {
            val ends = ("listing" -> TopicListing.of(dir).committedEnds._1) +:
              Channel.readHead(dir).map(h => "published head" -> h._1).toSeq
            val after = TopicListing.of(dir)
            val committed = after.dirs.filterNot(_.compact).groupBy(_.seq)
              .collect { case (s, ds) if ds.forall(_.committed) => s }.toSet
            def resolved(s: Long): Boolean =
              committed(s) || after.aborts(s) || after.compactSeqs.exists(_ > s)
            ends.foreach { case (src, end) =>
              val open = (0L until end).filterNot(resolved)
              assert(open.isEmpty,
                s"$src strict end $end passes unresolved seqs ${open.take(5)}")
            }
            strictChecks.incrementAndGet()
          }
        } catch { case t: Throwable => failures.add(t) }
      }, s"stress-strict-reader-$r")
    }
    (writers ++ readers ++ strictReaders).foreach(_.start())
    start.countDown()
    writers.foreach(_.join(120000))
    stop.set(true)
    (readers ++ strictReaders).foreach(_.join(10000))
    assert(failures.isEmpty, s"stress failures: ${failures.asScala.toList}")
    assert(strictChecks.get > 0, "the strict-end readers checked nothing")
    info(s"strict-end checks: ${strictChecks.get}")

    // Core invariant: every claimed seq is GLOBALLY unique — two writers
    // (or a writer and its own abort path) never share one.
    val all = claimed.flatten
    assert(all.size == nWriters * opsEach)
    assert(all.map(_._1).distinct.size == all.size, "a seq was double-claimed")

    // Disk agrees with the writers' logs: committed seqs have exactly the
    // committed batch dirs, aborted seqs have tombstones and no data, and
    // no reservation marker survives (every op resolved).
    val committed = all.filter(_._2).map(_._1).toSet
    val aborted = all.filterNot(_._2).map(_._1).toSet
    val batchSeqs = TopicListing.of(dir).batches.map(_._1).toSet
    assert(batchSeqs == committed)
    assert(TopicListing.of(dir).aborts == aborted)
    assert(TopicListing.of(dir).reservations.isEmpty, "leaked reservation markers")

    // Quiescent cursor: with no pending reservations strict == weak ==
    // one past the last committed batch, and the published head (which
    // may lag a publish behind) catches up on the next advance.
    Channel.advanceHead(TopicListing.of(dir))
    val (strict, weak) = TopicListing.of(dir).committedEnds
    assert(strict == weak)
    assert(weak == committed.max + 1 || aborted.max > committed.max,
      s"weak end $weak vs max committed ${committed.max}")
    assert(Channel.readHead(dir).contains((strict, weak)))
  }

  test("compaction after concurrent real writes keeps data, cursor, and markers clean") {
    import spark.implicits._
    val regRoot = tmpDir("chan_stress_reg")
    val reg = new ChannelRegistry(spark, regRoot)
    val ch = reg.create("stress_compact", Seq((1L, "x")).toDF("id", "s").schema)
    val nWriters = 4
    val each = 3
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until nWriters).map { w =>
      new Thread(() => {
        try {
          start.await()
          (0 until each).foreach { i =>
            ch.write(Seq((w * 100L + i, s"w$w-$i")).toDF("id", "s"), writerId = w)
          }
        } catch { case t: Throwable => failures.add(t) }
      }, s"compact-writer-$w")
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join(120000))
    assert(threads.forall(!_.isAlive), "a writer thread hung past the join timeout")
    assert(failures.isEmpty, s"write failures: ${failures.asScala.toList}")
    val before = ch.read().select("id").as[Long].collect().toSet
    assert(before.size == nWriters * each,
      s"expected ${nWriters * each} rows, read ${before.size}: ${before.toSeq.sorted}")
    // maintenance-window compaction (documented: no concurrent writers)
    ch.compact()
    val after = ch.read().select("id").as[Long].collect().toSet
    assert(after == before,
      s"compaction changed the row set: missing=${(before -- after).toSeq.sorted} " +
        s"extra=${(after -- before).toSeq.sorted}")
    val root = regRoot.resolve("stress_compact")
    val markers = TopicListing.of(root)
    assert(markers.reservations.isEmpty && markers.aborts.isEmpty,
      "compaction left stale markers")
    // post-compaction writes keep flowing and the cursor stays published
    ch.write(Seq((999L, "post")).toDF("id", "s"), writerId = 9)
    assert(ch.read().count() == before.size + 1)
    val (strict, weak) = TopicListing.of(root).committedEnds
    assert(strict == weak && Channel.readHead(root).contains((strict, weak)))
  }

  test(s"retention pruning races writers and ackers safely (seed=$seed)") {
    // consumption-driven retention under contention: writers append while
    // an acker advances two reader heads (never past the strict committed
    // cursor — the contract of acks derived from real progress) and a
    // pruner on a SEPARATE handle prunes in a loop. Invariants: no op
    // throws; only below-every-head history may vanish; the newest
    // committed batch anchors the topic; the topic keeps serving writes
    // and reads afterwards; heads never regress.
    import spark.implicits._
    val regRoot = tmpDir("chan_stress_prune")
    val reg = new ChannelRegistry(spark, regRoot)
    val ch = reg.create("stress_prune", Seq((1L, "x")).toDF("id", "s").schema)
    ch.registerReader("r1")
    ch.registerReader("r2")
    val pruneHandle = reg.get("stress_prune") // cross-handle realism
    val nWriters = 3
    val each = 6
    val start = new CountDownLatch(1)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (0 until nWriters).map { w =>
      new Thread(() => {
        try {
          start.await()
          (0 until each).foreach { i =>
            ch.write(Seq((w * 100L + i, s"w$w-$i")).toDF("id", "s"), writerId = w)
          }
        } catch { case t: Throwable => failures.add(t) }
      }, s"prune-writer-$w")
    }
    val acker = new Thread(() => {
      val rnd = new scala.util.Random(seed * 17 + 1)
      try {
        start.await()
        while (!stop.get()) {
          val end = ch.cursor() // strict committed end: acks never overreach
          if (end > 0) {
            ch.ackReader("r1", rnd.between(0L, end + 1))
            ch.ackReader("r2", rnd.between(0L, end + 1))
          }
          Thread.`yield`()
        }
      } catch { case t: Throwable => failures.add(t) }
    }, "prune-acker")
    val pruner = new Thread(() => {
      try {
        start.await()
        while (!stop.get()) {
          pruneHandle.pruneConsumed(graceMs = 500)
          Thread.`yield`()
        }
      } catch { case t: Throwable => failures.add(t) }
    }, "prune-pruner")
    (writers :+ acker :+ pruner).foreach(_.start())
    start.countDown()
    writers.foreach(_.join(120000))
    stop.set(true)
    acker.join(10000); pruner.join(10000)
    assert(failures.isEmpty, s"stress failures: ${failures.asScala.toList}")

    val heads = ch.readerHeads
    assert(heads.keySet == Set("r1", "r2"))
    // quiescent prune to a deterministic state, then check the floor law:
    // every committed seq >= min(head floor, newest) survives
    ch.ackReader("r1", ch.cursor())
    pruneHandle.pruneConsumed(0) // quiesced: writers joined
    val root = regRoot.resolve("stress_prune")
    val remaining = TopicListing.of(root).dirs.filterNot(_.compact).map(_.seq)
    assert(remaining.nonEmpty, "pruning must keep the newest-batch anchor")
    // both directions of the floor law: nothing below the final floor
    // survives AND nothing at or above it vanished — writers commit a
    // contiguous seq range here (no aborts), so the survivors must be
    // exactly [floor, max]
    val floor = math.min(ch.readerHeads.values.min, remaining.max)
    assert(remaining.toSet == (floor to remaining.max).toSet,
      s"survivors $remaining are not exactly [$floor, ${remaining.max}]")
    assert(graft.channel.Channel.prunedFloor(root) <= floor,
      "published floor overstates what was pruned")
    // the topic still serves: a fresh write lands on a NEW seq (no reuse
    // below the committed end) and reads back
    val endBefore = ch.cursor()
    ch.write(Seq((999L, "post")).toDF("id", "s"), writerId = 9)
    assert(ch.cursor() == endBefore + 1, "pruned history must not recycle seqs")
    assert(ch.read().select("id").as[Long].collect().contains(999L))
  }

  test("two JVMs claiming one topic get distinct, dense seqs and leave no marker") {
    // the FileLock half of the topic lock: a child JVM and this one each
    // claim, commit and release 200 seqs on one topic at the same time
    val dir = tmpDir("chan_xjvm")
    val each = 200
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java")
    val child = new ProcessBuilder(javaBin.toString, "-Xmx64m",
        "-cp", System.getProperty("java.class.path"),
        ChannelClaimChild.getClass.getName.stripSuffix("$"), dir.toString, each.toString)
      .redirectErrorStream(true).start()
    val out = new java.io.BufferedReader(new java.io.InputStreamReader(child.getInputStream))
    try {
      assert(Iterator.continually(out.readLine()).takeWhile(_ != null).contains("ready"),
        "the child JVM did not start")
      child.getOutputStream.write('\n'); child.getOutputStream.flush() // go
      (0 until each).foreach(i => ChannelClaimChild.claimCommitRelease(dir, writer = 0, i))
      assert(child.waitFor(120, TimeUnit.SECONDS), "the child JVM did not finish")
      val rest = Iterator.continually(out.readLine()).takeWhile(_ != null).mkString("\n")
      assert(child.exitValue() == 0, s"the child JVM failed: $rest")
    } finally {
      child.destroyForcibly()
      child.waitFor(30, TimeUnit.SECONDS)
      out.close()
    }
    assert(!child.isAlive, "the child JVM is still running")
    val listing = TopicListing.of(dir)
    val seqs = listing.dirs.map(_.seq)
    assert(seqs.size == 2 * each && seqs.distinct.size == 2 * each, "a seq was double-claimed")
    assert(seqs == (0L until 2L * each), "the claimed seqs are not dense")
    assert(listing.dirs.count(_.tag.startsWith("w1_")) == each, "the child's batches are missing")
    assert(listing.reservations.isEmpty, "leaked reservation markers")
    val writers = listing.dirs.map(_.tag.takeWhile(_ != '_'))
    info(s"writer changes along the seq order: ${writers.sliding(2).count(w => w(0) != w(1))}")
  }
}

/** The child JVM of the cross-JVM claim test: prints `ready`, waits for
  * a line on stdin, then claims, commits and releases `<n>` seqs on
  * topic `<dir>` as writer 1. Usage: `ChannelClaimChild <dir> <n>`. */
object ChannelClaimChild {
  def main(args: Array[String]): Unit = {
    val dir = java.nio.file.Paths.get(args(0))
    println("ready")
    System.out.flush()
    scala.io.StdIn.readLine()
    (0 until args(1).toInt).foreach(i => claimCommitRelease(dir, writer = 1, i))
  }

  /** One write at the marker level, as Channel.write does it: claim a
    * seq, commit its batch dir, release the marker, publish the head. */
  def claimCommitRelease(dir: java.nio.file.Path, writer: Int, i: Int): Unit = {
    val s = Channel.reserveSeq(dir)
    val batch = TopicListing.batchPath(dir, s, writer, s"u$i")
    Files.createDirectories(batch)
    Files.createFile(batch.resolve("_SUCCESS"))
    Channel.releaseSeq(dir, s)
    Channel.advanceHead(TopicListing.of(dir))
  }
}
