package graft

import scala.jdk.CollectionConverters._

import graft.channel.{Channel, ChannelRegistry, SchemaRegistry, TopicListing}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, StructField, IntegerType, StringType}

class ChannelSuite extends SparkSpec {
  import spark.implicits._

  private def schema = StructType(Seq(
    StructField("id", IntegerType), StructField("msg", StringType)))

  test("write/read roundtrip stamps _writer_id and preserves order") {
    val reg = new ChannelRegistry(spark, tmpDir("chan"))
    val ch = reg.create("t1", schema)
    ch.write(Seq((1, "a"), (2, "b")).toDF("id", "msg"), writerId = 7)
    ch.write(Seq((3, "c")).toDF("id", "msg"), writerId = 8)
    val rows = ch.read().select("id", "msg", Channel.WriterIdCol).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3)) // offset order
    assert(rows.map(_.getInt(2)).toSeq == Seq(7, 7, 8)) // attribution
  }

  test("consumption-driven retention: prune only below every registered head") {
    // reference frame pruning parity: history is deleted once ALL heads
    // pass it — never because of one fast consumer, never with no
    // consumers registered at all
    val reg = new ChannelRegistry(spark, tmpDir("chan_prune"))
    val ch = reg.create("pr1", schema)
    ch.write(Seq((1, "a")).toDF("id", "msg"), 1) // seq 0
    ch.write(Seq((2, "b")).toDF("id", "msg"), 1) // seq 1
    ch.write(Seq((3, "c")).toDF("id", "msg"), 1) // seq 2
    assert(ch.pruneConsumed(0) == 0L, "no registered readers must mean no pruning")
    ch.registerReader("etl")
    ch.registerReader("audit")
    ch.ackReader("etl", 3)   // consumed everything
    ch.ackReader("audit", 1) // only seq 0
    assert(ch.readerHeads == Map("etl" -> 3L, "audit" -> 1L))
    assert(ch.pruneConsumed(0) > 0L)
    assert(ch.read().select("id").as[Int].collect().sorted.toSeq == Seq(2, 3),
      "only the batch below BOTH heads may go")
    // a lower (retried/out-of-order) ack can never regress a head
    ch.ackReader("etl", 1)
    assert(ch.readerHeads("etl") == 3L)
    ch.ackReader("audit", 3)
    ch.pruneConsumed(0)
    // the newest committed batch survives even a fully-passed topic
    // (same anchor invariant as Drop eviction's batches.size > 1)
    assert(ch.read().select("id").as[Int].collect().toSeq == Seq(3),
      "all heads passed: everything but the newest batch prunes")
    ch.write(Seq((4, "d")).toDF("id", "msg"), 1) // topic still serves writes
    assert(ch.read().select("id").as[Int].collect().sorted.toSeq == Seq(3, 4))
    // hostile reader names are refused before they become marker files
    intercept[IllegalArgumentException](ch.registerReader("../escape"))
    intercept[IllegalArgumentException](ch.registerReader(""))
  }

  test("many-writer union interleaves whole batches (J1)") {
    val reg = new ChannelRegistry(spark, tmpDir("chan"))
    val ch = reg.create("t2", schema)
    (0 until 4).foreach(w => ch.write(Seq((w, s"w$w")).toDF("id", "msg"), w))
    val writers = ch.read().select(Channel.WriterIdCol).as[Int].collect().toSeq
    assert(writers == Seq(0, 1, 2, 3))
  }

  test("schema hash mismatch is refused at attach (write) time") {
    val reg = new ChannelRegistry(spark, tmpDir("chan"))
    val ch = reg.create("t3", schema)
    val bad = Seq((1L, "a")).toDF("id", "msg") // id is long, not int
    intercept[SchemaRegistry.SchemaMismatch] { ch.write(bad, 0) }
  }

  test("drop mode evicts oldest batches and accounts dropped bytes") {
    val reg = new ChannelRegistry(spark, tmpDir("chan"))
    val ch = reg.create("t4", schema, capacityBytes = 4 * 1024, dropMode = true)
    (0 until 6).foreach(i => ch.write(Seq((i, "x" * 100)).toDF("id", "msg"), 0))
    assert(ch.droppedBytes > 0) // ReaderBehind parity: loss is reported
    val ids = ch.read().select("id").as[Int].collect().toSeq
    assert(ids.nonEmpty && ids == ids.sorted && ids.last == 5) // newest survive
    // eviction publishes the pruned floor: a snapshot pinned below it is
    // refused instead of silently returning fewer rows than it once held
    val ex = intercept[Exception](ch.readSnapshot(endSeq = 6).collect())
    assert(ex.getMessage != null && ex.getMessage.contains("pruned floor"),
      s"wrong refusal: ${ex.getMessage}")
  }

  test("park mode rejects writes over capacity") {
    val root = tmpDir("chan")
    val reg = new ChannelRegistry(spark, root)
    val ch = reg.create("t5", schema, capacityBytes = 1, dropMode = false)
    intercept[Channel.ChannelBackpressure] {
      ch.write(Seq((1, "a")).toDF("id", "msg"), 0)
    }
    // the un-published seq is tombstoned (a reader must see an aborted
    // hole, not data loss) and is never handed out again — the capacity
    // path must leave the same trace discipline reserveSeq's one listing
    // relies on (trace visible before the marker is gone)
    val dir = root.resolve("t5")
    assert(TopicListing.of(dir).aborts.toSeq == Seq(0L))
    assert(TopicListing.of(dir).reservations.isEmpty)
    val next = Channel.reserveSeq(dir)
    assert(next == 1L, s"aborted seq reissued: $next")
    java.nio.file.Files.deleteIfExists(TopicListing.resPath(dir, next))
  }

  test("drain refuses writes but serves reads; terminate refuses both") {
    val reg = new ChannelRegistry(spark, tmpDir("chan"))
    val ch = reg.create("t6", schema)
    ch.write(Seq((1, "a")).toDF("id", "msg"), 0)
    ch.drain()
    intercept[Channel.ChannelClosed] { ch.write(Seq((2, "b")).toDF("id", "msg"), 0) }
    assert(ch.read().count() == 1)
    ch.terminate()
    intercept[Channel.ChannelClosed] { ch.read() }
  }

  test("registry attach + glob listing") {
    val reg = new ChannelRegistry(spark, tmpDir("chan"))
    reg.create("logs-a", schema)
    reg.create("logs-b", schema)
    reg.create("data", schema)
    assert(reg.list("logs-*") == Seq("logs-a", "logs-b"))
    val again = reg.get("logs-a")
    assert(again.schemaHash == SchemaRegistry.hash(schema))
  }

  test("streaming subscribe sees appended batches (strong reader, S2)") {
    val reg = new ChannelRegistry(spark, tmpDir("chan"))
    val ch = reg.create("t7", schema)
    ch.write(Seq((1, "a"), (2, "b")).toDF("id", "msg"), 1)
    val q = ch.readStreamV2().groupBy().agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("chan_stream").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("chan_stream").as[Long].collect().head == 2L)
  }

  test("streaming sink leg: a streaming df lands in the channel (K1)") {
    val reg = new ChannelRegistry(spark, tmpDir("chan"))
    val src = reg.create("src", schema)
    val dst = reg.create("dst", schema)
    src.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "msg"), 1)
    val ck = tmpDir("ck")
    val q = dst.sink(
      src.readStreamV2().select(col("id"), col("msg")),
      writerId = 9, checkpoint = ck, availableNow = true)
    q.awaitTermination(30000)
    val rows = dst.read().select("id", Channel.WriterIdCol).as[(Int, Int)]
      .collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3))
    assert(rows.forall(_._2 == 9))
  }

  test("sink restart from checkpoint is exactly-once across new data") {
    val reg = new ChannelRegistry(spark, tmpDir("chan_restart"))
    val src = reg.create("src_r", schema)
    val dst = reg.create("dst_r", schema)
    val ck = tmpDir("ck_r")
    src.write(Seq((1, "a"), (2, "b")).toDF("id", "msg"), 1)
    def runLeg(): Unit = {
      val q = dst.sink(src.readStreamV2().select(col("id"), col("msg")),
        writerId = 9, checkpoint = ck, availableNow = true)
      q.awaitTermination(30000)
    }
    runLeg()
    // more source data arrives, the pipeline restarts from its checkpoint
    src.write(Seq((3, "c")).toDF("id", "msg"), 1)
    runLeg()
    // and an idle restart with nothing new must add nothing
    runLeg()
    val ids = dst.read().select("id").as[Int].collect().sorted.toSeq
    assert(ids == Seq(1, 2, 3), s"expected exactly-once delivery, got $ids")
  }

  test("weak readStream skips evicted batches (S3)") {
    val reg = new ChannelRegistry(spark, tmpDir("chan"))
    val ch = reg.create("t8", schema, capacityBytes = 4 * 1024, dropMode = true)
    (0 until 6).foreach(i => ch.write(Seq((i, "y" * 100)).toDF("id", "msg"), 0))
    assert(ch.droppedBytes > 0)
    val q = ch.readStreamV2(weak = true).groupBy().agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("weak_stream").start()
    try q.processAllAvailable() finally q.stop()
    val n = spark.table("weak_stream").as[Long].collect().head
    assert(n > 0 && n < 6) // survivors only, no failure on the pruned ones
  }

  test("writeEpoch is idempotent per (writer, epoch) — exactly-once replay") {
    val reg = new ChannelRegistry(spark, tmpDir("chan"))
    val ch = reg.create("t9", schema)
    val batch = Seq((1, "a"), (2, "b")).toDF("id", "msg")
    ch.writeEpoch(batch, writerId = 3, epochId = 0)
    ch.writeEpoch(batch, writerId = 3, epochId = 0) // replay: no-op
    ch.writeEpoch(batch, writerId = 3, epochId = 1) // next epoch: appended
    assert(ch.read().count() == 4)
  }

  test("writeEpoch replaces a partial (uncommitted) batch on replay") {
    val reg = new ChannelRegistry(spark, tmpDir("chan"))
    val ch = reg.create("t9b", schema)
    // Simulate a crash mid-write: the batch dir exists (Spark creates it
    // before job commit) but has no _SUCCESS and no data.
    val partial = ch.dir.resolve("batch_000000000000_w3_e0")
    java.nio.file.Files.createDirectories(partial)
    val batch = Seq((1, "a"), (2, "b")).toDF("id", "msg")
    ch.writeEpoch(batch, writerId = 3, epochId = 0) // replay must NOT skip
    assert(ch.read().count() == 2)
    // …and a committed epoch is still idempotent.
    ch.writeEpoch(batch, writerId = 3, epochId = 0)
    assert(ch.read().count() == 2)
  }

  test("park-mode rejection leaves nothing visible to readers") {
    val reg = new ChannelRegistry(spark, tmpDir("chan"))
    val ch = reg.create("t5b", schema, capacityBytes = 1, dropMode = false)
    intercept[Channel.ChannelBackpressure] {
      ch.write(Seq((1, "a")).toDF("id", "msg"), 0)
    }
    assert(ch.read().count() == 0) // the parked frame was never accepted
  }

  test("compaction merges batches, preserving order and attribution") {
    val reg = new ChannelRegistry(spark, tmpDir("chan"))
    val ch = reg.create("t10", schema)
    (0 until 5).foreach(i => ch.write(Seq((i, s"m$i")).toDF("id", "msg"), i))
    val before = ch.read().select("id", Channel.WriterIdCol)
      .as[(Int, Int)].collect().toSeq
    ch.compact()
    assert(ch.metrics().collect().head.getAs[Long]("n_batches") == 1)
    // Compacted output is a `compact_*` dir, which subscriptions never
    // plan (they read `batch_*` dirs only), so checkpointed subscribers
    // don't re-ingest the whole topic; batch reads see it.
    val names = java.nio.file.Files.list(ch.dir).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(names.exists(_.startsWith("compact_")))
    assert(!names.exists(_.startsWith("batch_")))
    val after = ch.read().select("id", Channel.WriterIdCol)
      .as[(Int, Int)].collect().toSeq
    assert(after == before)
    // writes continue after compaction with fresh sequence numbers
    ch.write(Seq((9, "post")).toDF("id", "msg"), 9)
    assert(ch.read().select("id").as[Int].collect().last == 9)
  }

  test("writeEpoch stays idempotent across compaction (no replay duplicates)") {
    val reg = new ChannelRegistry(spark, tmpDir("chan"))
    val ch = reg.create("t10b", schema)
    val batch = Seq((1, "a"), (2, "b")).toDF("id", "msg")
    ch.writeEpoch(batch, writerId = 3, epochId = 0)
    ch.writeEpoch(batch, writerId = 3, epochId = 1)
    ch.compact() // absorbs both epochs' marker dirs into compact_*
    // A sink restarted after the maintenance-window compaction replays its
    // last micro-batch: the absorbed epoch must still be recognized.
    ch.writeEpoch(batch, writerId = 3, epochId = 1)
    assert(ch.read().count() == 4, "compaction broke epoch idempotence")
    // a genuinely new epoch still appends…
    ch.writeEpoch(batch, writerId = 3, epochId = 2)
    assert(ch.read().count() == 6)
    // …and the markers chain through a SECOND compaction
    ch.compact()
    ch.writeEpoch(batch, writerId = 3, epochId = 2)
    assert(ch.read().count() == 6)
  }

  test("registerViews exposes topics to SQL with pushdown intact") {
    val reg = new ChannelRegistry(spark, tmpDir("chanviews"))
    val ch = reg.create("viewt", schema)
    ch.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "msg"), 0)
    reg.create("viewu", schema)
    val views = reg.registerViews()
    assert(views.sorted == Seq("graft_viewt", "graft_viewu"))
    val got = spark.sql("SELECT msg FROM graft_viewt WHERE id >= 2 ORDER BY id")
      .as[String].collect().toSeq
    assert(got == Seq("b", "c"))
    // the view resolves to the native parquet scan: the filter reaches it
    val plan = spark.sql("SELECT msg FROM graft_viewt WHERE id >= 2")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThanOrEqual(id,2)"),
      s"filter not pushed to the scan:\n$plan")
  }

  test("building read() on a many-batch topic runs no Spark job") {
    // 40 batch dirs is past the 32-path threshold at which a parquet
    // path scan lists its inputs with a Spark job while the DataFrame is
    // built; the connector lists only when the plan executes
    val reg = new ChannelRegistry(spark, tmpDir("chan_nojob"))
    val ch = reg.create("nojob", schema)
    (0 until 40).foreach(i => ch.write(Seq((i, s"m$i")).toDF("id", "msg"), 0))
    val buildJobs = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    def group(p: java.util.Properties) =
      Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id")))
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        group(e.properties) match {
          case Some("read_build") => buildJobs.incrementAndGet()
          case Some("read_flush") => flushed.countDown()
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("read_build", "build read()")
      val df = try ch.read() finally sc.clearJobGroup()
      // the listener bus delivers in order: once the flush job's start
      // arrives, every job started while building has been counted
      sc.setJobGroup("read_flush", "flush the listener bus")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(flushed.await(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(buildJobs.get == 0, s"building read() ran ${buildJobs.get} job(s)")
      assert(df.count() == 40)
    } finally sc.removeSparkListener(listener)
  }

  test("a registerViews view is live: it sees a batch written after registration") {
    val reg = new ChannelRegistry(spark, tmpDir("chan_live"))
    val ch = reg.create("livet", schema)
    ch.write(Seq((1, "a")).toDF("id", "msg"), 0)
    val views = reg.registerViews(prefix = "live_")
    try {
      assert(spark.sql("SELECT id FROM live_livet").as[Int].collect().toSeq == Seq(1))
      ch.write(Seq((2, "b")).toDF("id", "msg"), 0)
      assert(spark.sql("SELECT id FROM live_livet ORDER BY id").as[Int].collect().toSeq ==
        Seq(1, 2), "the view did not see the batch written after registration")
    } finally views.foreach(spark.catalog.dropTempView)
  }

  test("channel/ reads a topic only through the connector: no read-side .parquet(") {
    val dir = java.nio.file.Paths.get("src/main/scala/graft/channel")
    assert(java.nio.file.Files.isDirectory(dir), s"sources not found at $dir")
    val files = dir.toFile.listFiles().filter(_.getName.endsWith(".scala")).toSeq
    assert(files.exists(_.getName == "Channel.scala"))
    // every remaining .parquet( call is a write of a batch or compact dir
    val reads = for {
      f <- files
      (line, n) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if line.contains(".parquet(") && !line.contains(".write.")
    } yield s"${f.getName}:${n + 1}: ${line.trim}"
    assert(reads.isEmpty, s"read-side parquet path scans: ${reads.mkString("; ")}")
  }

  /** Jobs started while `body` runs, counted by a listener on a job
    * group; a flush job afterwards guarantees the bus delivered them. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    def group(p: java.util.Properties) =
      Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id")))
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        group(e.properties) match {
          case Some("counted") => jobs.incrementAndGet()
          case Some("bus_flush") => flushed.countDown()
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("counted", "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("bus_flush", "flush the listener bus")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(flushed.await(30, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("a driver-local write runs no Spark job; a distributed one does") {
    val reg = new ChannelRegistry(spark, tmpDir("chan_local"))
    val ch = reg.create("local", schema)
    val local = jobsDuring(ch.write(Seq((1, "a"), (2, "b")).toDF("id", "msg"), 0))
    assert(local == 0, s"a driver-local write ran $local job(s)")
    val distributed = jobsDuring(ch.write(spark.range(3).select(
      col("id").cast("int").as("id"), lit("d").as("msg")), 0))
    assert(distributed >= 1, "the job path ran no job: the listener saw nothing")
    assert(ch.read().select("id").as[Int].collect().toSeq == Seq(1, 2, 0, 1, 2))
  }

  test("a driver-written batch reads back like a job-written one") {
    val reg = new ChannelRegistry(spark, tmpDir("chan_paths"))
    val ch = reg.create("paths", schema)
    val rows = (0 until 50).map(i => (i, if (i % 7 == 0) null else s"m$i"))
    val local = rows.toDF("id", "msg")
    ch.write(local, 3)             // seq 0: the driver writes it
    ch.write(local.coalesce(1), 3) // seq 1: a Spark job writes it
    val driver = ch.readSnapshot(endSeq = 1)
    val job = ch.readSnapshot(endSeq = 2, startSeq = 1)
    assert(driver.schema == job.schema)
    val cols = driver.columns.filterNot(_ == Channel.SeqCol).map(col).toIndexedSeq
    val d = driver.select(cols: _*).collect().toSeq
    assert(d == job.select(cols: _*).collect().toSeq)
    assert(d.map(_.getAs[Long](Channel.OffsetCol)) == (0L until 50L))
    // the files themselves carry the same parquet schema
    def fileSchema(seq: Long) = {
      val batch = TopicListing.of(ch.dir).live.find(_.seq == seq).get.path
      assert(java.nio.file.Files.exists(batch.resolve("_SUCCESS")))
      val files = TopicListing.dataFiles(batch)
      assert(files.size == 1, s"seq $seq: ${files.map(_.getFileName)}")
      spark.read.parquet(files.head.toString).schema
    }
    assert(fileSchema(0) == fileSchema(1))
  }

  test("a write on a 200-batch topic lists it 2 times and sizes only its own batch") {
    val reg = new ChannelRegistry(spark, tmpDir("chan_o1"))
    val ch = reg.create("o1", schema)
    (0 until 200).foreach(i => ch.write(Seq((i, "x")).toDF("id", "msg"), 0))
    // the handle sizes committed dirs lazily, once: a fresh handle's
    // first write sizes the topic, its next write only its own batch
    val fresh = reg.get("o1")
    fresh.write(Seq((200, "x")).toDF("id", "msg"), 0)
    val (lists, sizes) = (Channel.listDirCalls.get(), Channel.dirSizeCalls.get())
    fresh.write(Seq((201, "x")).toDF("id", "msg"), 0)
    val listed = Channel.listDirCalls.get() - lists
    val sized = Channel.dirSizeCalls.get() - sizes
    assert(listed <= 2, s"a write listed the topic $listed times")
    assert(sized == 1, s"a write sized $sized batch dirs")
    assert(fresh.metrics().collect().head.getAs[Long]("n_batches") == 202)
  }

  test("two handles acking one reader from several threads keep its head at the max ack") {
    val reg = new ChannelRegistry(spark, tmpDir("chan_acks"))
    val ch = reg.create("acks", schema)
    ch.registerReader("r")
    // every registry.get is a new handle (QueryManager.autoAck holds its
    // own), so acks of one reader race across handles
    val handles = Seq(ch, reg.get("acks"))
    val (threads, acks) = (4, 300)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until acks).foreach { i =>
            handles(t % 2).ackReader("r", i.toLong * threads + t)
          }
        })
      }.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(ch.readerHeads == Map("r" -> (acks.toLong * threads - 1)))
  }

  test("only TopicListing lists a topic dir or parses a topic entry name") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"sources not found at $root")
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val (listing, others) = files.partition(_.getFileName.toString == "TopicListing.scala")
    assert(listing.size == 1)
    // the grammar's name literals and prefixes, the old seq parser, and a
    // directory listing of a topic dir (named `dir`, or a handle's
    // `ch.dir`, throughout the channel code)
    val forbidden = Seq(""""batch_""", """"compact_""", """"_res_""", """"_abort_""",
      """\bbatchSeq\b""", """\b(Res|Abort)Prefix\b""",
      """(Files\.list|Files\.newDirectoryStream|listDir)\(\s*(\w+\.)?dir\s*[,)]""").map(_.r)
    val hits = for {
      f <- others
      (line, n) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if forbidden.exists(_.findFirstIn(line).isDefined)
    } yield s"${root.relativize(f)}:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, s"topic listing or name parsing outside TopicListing: ${hits.mkString("; ")}")
  }

  test("only the topic-lock helper opens a FileChannel or takes a file lock") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"sources not found at $root")
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val locking = Seq("FileChannel", ".lock(")
    val channel = root.resolve("graft/channel/Channel.scala")
    // the helper: from its `def` to the first blank line after it
    val src = java.nio.file.Files.readAllLines(channel).asScala.toVector
    val start = src.indexWhere(_.contains("def withTopicLock"))
    assert(start >= 0, "the topic-lock helper withTopicLock is gone")
    val end = src.indexWhere(_.trim.isEmpty, start)
    val hits = for {
      f <- files
      (line, n) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if locking.exists(line.contains)
      if !(f == channel && n > start && n < end)
    } yield s"${root.relativize(f)}:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, s"file locking outside the topic lock: ${hits.mkString("; ")}")
  }

  test("read() delivers total order with no sort; aggregates scan only used columns") {
    val reg = new ChannelRegistry(spark, tmpDir("chan_order"))
    val ch = reg.create("order", schema)
    (0 until 12).foreach(i => ch.write(Seq((2 * i, s"m${i % 3}"), (2 * i + 1, "z")).toDF("id", "msg"), i % 4))
    val key = Seq(Channel.SeqCol, Channel.WriterIdCol, Channel.OffsetCol)
    val prior = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1") // a partition per file
    try {
      val df = ch.read()
      assert(df.rdd.getNumPartitions == 12)
      val rows = df.select("id", key: _*).collect().toSeq
      assert(rows.map(_.getInt(0)) == (0 until 24))
      assert(rows.map(r => (r.getLong(1), r.getInt(2), r.getLong(3))) ==
        rows.map(r => (r.getLong(1), r.getInt(2), r.getLong(3))).sorted)
      assert(df.queryExecution.optimizedPlan.collectFirst {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s }.isEmpty)
      val agg = df.groupBy("msg").agg(count(lit(1)).as("n"))
      val scanned = agg.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.output.map(_.name)
      }
      assert(scanned == Seq(Seq("msg")), s"the aggregate scans $scanned")
      assert(agg.orderBy("msg").as[(String, Long)].collect().toSeq ==
        Seq(("m0", 4L), ("m1", 4L), ("m2", 4L), ("z", 12L)))
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prior)
  }
}
