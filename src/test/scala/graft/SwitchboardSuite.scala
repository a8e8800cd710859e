package graft

import graft.channel.ChannelRegistry
import graft.switchboard.Switchboard

// top-level: inner case classes can't be encoded (no outer scope)
case class Tick(n: Int, label: String)
case class EchoReq(msg: String)
case class EchoRep(msg: String, len: Int)

class SwitchboardSuite extends SparkSpec {

  private def sb(): Switchboard =
    new Switchboard(spark, new ChannelRegistry(spark, tmpDir("sb")))

  test("publisher/subscriber broadcast: every subscriber sees everything (J5)") {
    import spark.implicits._
    implicit val s = spark
    val board = sb()
    val pub = board.publisher[Tick]("ticks")
    pub.publish(Seq(Tick(1, "a"), Tick(2, "b")))
    pub.publish(Seq(Tick(3, "c")))
    val sub1 = board.subscriber[Tick]("ticks").snapshot().collect().sortBy(_.n)
    val sub2 = board.subscriber[Tick]("ticks").snapshot().collect().sortBy(_.n)
    assert(sub1.toSeq == Seq(Tick(1, "a"), Tick(2, "b"), Tick(3, "c")))
    assert(sub2.toSeq == sub1.toSeq) // broadcast: both get full data
  }

  test("fanout work-queue: records partition-disjoint across workers (J4)") {
    import spark.implicits._
    val board = sb()
    val fo = board.fanout[Tick]("work", workers = 4)
    fo.send(spark.createDataset((1 to 40).map(i => Tick(i, s"t$i"))))
    val ds = fo.workerStream()
    assert(ds.rdd.getNumPartitions == 4)
    // exactly-once across all workers
    assert(ds.collect().map(_.n).sorted.toSeq == (1 to 40))
  }

  test("client/server request-reply echo (J7, e2e)") {
    import spark.implicits._
    val board = sb()
    val client = board.client[EchoReq, EchoRep]("echo")
    val id1 = client.request(EchoReq("ping"))
    val id2 = client.request(EchoReq("hello there"))
    assert(client.reply(id1).isEmpty) // no server yet
    val server = board.server[EchoReq, EchoRep]("echo")
    val q = server.serve(tmpDir("ck"))(r => EchoRep(r.msg, r.msg.length))
    try q.processAllAvailable() finally q.stop()
    assert(client.reply(id1).contains(EchoRep("ping", 4)))
    assert(client.reply(id2).contains(EchoRep("hello there", 11)))
    assert(client.reply(999L).isEmpty)
  }

  test("fanout assignment is append-stable (no reshuffle on new batches)") {
    import spark.implicits._
    val board = sb()
    val fo = board.fanout[Tick]("stable", workers = 3)
    fo.send(spark.createDataset((1 to 20).map(i => Tick(i, s"t$i"))))
    val before = fo.workerShare(0).collect().map(_.n).toSet
    fo.send(spark.createDataset((21 to 40).map(i => Tick(i, s"t$i"))))
    val after = fo.workerShare(0).collect().map(_.n).toSet
    assert(before.subsetOf(after)) // old records never change worker
    val all = (0 until 3).flatMap(w => fo.workerShare(w).collect().map(_.n))
    assert(all.sorted == (1 to 40)) // disjoint + complete
  }

  test("server can start before any client; client ids unique across instances") {
    import spark.implicits._
    val board = sb()
    val server = board.server[EchoReq, EchoRep]("early")
    val q = server.serve(tmpDir("ck"))(r => EchoRep(r.msg, r.msg.length))
    q.processAllAvailable()
    val c1 = board.client[EchoReq, EchoRep]("early")
    val c2 = board.client[EchoReq, EchoRep]("early")
    val id1 = c1.request(EchoReq("a"))
    val id2 = c2.request(EchoReq("bb"))
    assert(id1 != id2) // per-client nonce
    q.processAllAvailable()
    q.stop()
    assert(c1.reply(id1).contains(EchoRep("a", 1)))
    assert(c2.reply(id2).contains(EchoRep("bb", 2)))
  }

  test("two independent handles on one topic never clobber each other's batches") {
    import spark.implicits._
    implicit val s = spark
    val board = sb()
    val p1 = board.publisher[Tick]("shared")
    val p2 = new Switchboard(spark, board.registry).publisher[Tick]("shared")
    p1.publish(Seq(Tick(1, "a")))
    p2.publish(Seq(Tick(2, "b"))) // separate handle, same seq reservation
    val seen = board.subscriber[Tick]("shared").snapshot().collect().map(_.n).sorted
    assert(seen.toSeq == Seq(1, 2))
  }

  test("autoAck on a server subscription advances the request topic's reader head") {
    import spark.implicits._
    val board = sb()
    val client = board.client[EchoReq, EchoRep]("acked")
    client.request(EchoReq("one"))
    client.request(EchoReq("two"))
    val q = board.server[EchoReq, EchoRep]("acked")
      .serve(tmpDir("ck"))(r => EchoRep(r.msg, r.msg.length))
    val qm = new graft.runtime.QueryManager(spark)
    var listener: org.apache.spark.sql.streaming.StreamingQueryListener = null
    try {
      q.processAllAvailable()
      val requests = board.registry.get("acked-req")
      listener = qm.autoAck(q, requests, "server")
      // two request batches (seqs 0 and 1) processed: the head is past both
      assert(requests.readerHeads("server") == 2L,
        s"autoAck did not advance the server's head: ${requests.readerHeads}")
    } finally {
      q.stop()
      if (listener != null) qm.detachProgressLogger(listener)
    }
  }
}
