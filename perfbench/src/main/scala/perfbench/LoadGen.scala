package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

/** Open-loop event generator, run as its own process next to the engine.
  *
  * Event i is due at a fixed offset from the start, given by a list of
  * (rate, seconds) phases. `threads` workers, each holding one keep-alive
  * HTTP/1.1 connection, take the next due event, wait for its due time and
  * POST one JSON LogRecord-shaped event. A request that is due while every
  * connection is busy is sent late, and that lateness is recorded: latency
  * is timed from the scheduled send, so a stall in the server also delays
  * the requests behind it. An event still unsent when its phase ends is
  * dropped as unsent (not attempted).
  *
  * Output (one file): a JSON summary line, then `T window_ms level target
  * count` tallies of acknowledged events, one `S` line with a status char
  * per event (a acked, r refused, e error, u unsent), and `R id due sent
  * ack` request samples (epoch µs) for the trace.
  *
  * `--ceiling S` instead runs a closed loop for S seconds against the
  * given port (a no-op endpoint) and prints the request rate it reached. */
object LoadGen {
  val Levels = Seq("Trace", "Debug", "Info", "Warn", "Error")
  private val LevelWeights = Seq(5, 15, 50, 20, 10)
  val Targets: Seq[String] = (0 until 16).map(i => f"svc.$i%02d")
  private val Words = Seq("request", "served", "cache", "miss", "retry", "timeout", "user",
    "login", "disk", "queue", "flush", "batch", "commit", "slow", "ok", "denied")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val port = kv("port").toInt
    val threads = kv("threads").toInt
    kv.get("ceiling") match {
      case Some(s) => println(Json.render(Map("ceiling_eps" -> ceiling(port, threads, s.toDouble))))
      case None =>
        val phases = kv("phases").split(",").toSeq.map { p =>
          val Array(r, s) = p.split(":"); (r.toDouble, s.toDouble)
        }
        openLoop(port, threads, kv("seed").toLong, phases, java.nio.file.Paths.get(kv("out")))
    }
  }

  /** Event payloads are drawn up front from the seed, so the same seed
    * gives the same events (only their timestamps are taken at send). */
  final case class Ev(level: String, target: String, message: String, field: String)

  def events(seed: Long, n: Int): Array[Ev] = {
    val rnd = new scala.util.Random(seed)
    val cum = LevelWeights.scanLeft(0)(_ + _).tail
    Array.fill(n) {
      val x = rnd.nextInt(cum.last)
      Ev(Levels(cum.indexWhere(x < _)), Targets(rnd.nextInt(Targets.size)),
        Seq.fill(3 + rnd.nextInt(5))(Words(rnd.nextInt(Words.size))).mkString(" "),
        f"${rnd.nextInt(1 << 20)}%06x")
    }
  }

  def body(id: Int, e: Ev, createdUs: Long): Array[Byte] =
    (s"""{"id":$id,"level":"${e.level}","target":"${e.target}","message":"${e.message}",""" +
      s""""fields":[{"key":"trace_id","value":"${e.field}"}],"spans":[],""" +
      s""""timestamp_ms":${createdUs / 1000},"created_us":$createdUs}""").getBytes(UTF_8)

  /** One keep-alive connection; `post` returns the status code. */
  final class Conn(port: Int) {
    private val sock = new Socket()
    sock.setTcpNoDelay(true)
    sock.connect(new InetSocketAddress("127.0.0.1", port))
    private val out = new BufferedOutputStream(sock.getOutputStream, 4096)
    private val in = new BufferedInputStream(sock.getInputStream, 4096)

    def post(b: Array[Byte]): Int = {
      out.write(s"POST /ingest HTTP/1.1\r\nHost: 127.0.0.1\r\nContent-Type: application/json\r\nContent-Length: ${b.length}\r\n\r\n".getBytes(UTF_8))
      out.write(b)
      out.flush()
      val head = readHead(in)
      val status = head.split(" ", 3)(1).toInt
      val len = "(?i)content-length:\\s*(\\d+)".r.findFirstMatchIn(head).map(_.group(1).toInt).getOrElse(0)
      var left = len
      while (left > 0) { val k = in.skip(left.toLong).toInt; if (k <= 0) { if (in.read() < 0) throw new java.io.EOFException(); left -= 1 } else left -= k }
      status
    }
    def close(): Unit = sock.close()
  }

  private def readHead(in: InputStream): String = {
    val sb = new StringBuilder
    var last4 = 0
    while (last4 != 0x0d0a0d0a) {
      val c = in.read()
      if (c < 0) throw new java.io.EOFException("connection closed")
      sb += c.toChar
      last4 = (last4 << 8) | c
    }
    sb.toString
  }

  private def openLoop(port: Int, threads: Int, seed: Long, phases: Seq[(Double, Double)],
                       out: java.nio.file.Path): Unit = {
    // schedule: due offset (ns from start) and phase of every event
    val due = mutable.ArrayBuffer.empty[Long]
    val phaseOf = mutable.ArrayBuffer.empty[Int]
    val phaseEndNs = phases.scanLeft(0.0)(_ + _._2).tail.map(s => (s * 1e9).toLong)
    var startNs = 0.0
    phases.zipWithIndex.foreach { case ((rate, secs), k) =>
      val n = (rate * secs).round.toInt
      (0 until n).foreach { i => due += (startNs + i * 1e9 / rate).toLong; phaseOf += k }
      startNs += secs * 1e9
    }
    val n = due.size
    val evs = events(seed, n)
    val status = Array.fill[Char](n)('u')
    // latencies from nanoTime; epoch µs only for timestamps and spans
    val sentNs = new Array[Long](n)
    val ackNs = new Array[Long](n)
    val sentUs = new Array[Long](n)
    val next = new AtomicInteger(0)
    val t0Ns = System.nanoTime() + 50000000L // start 50 ms out, after every connection is up
    val t0Us = Clock.us() + 50000L
    val conns = (0 until threads).map(_ => new Conn(port))
    val workers = conns.map { c0 =>
      new Thread(() => {
        var c = c0
        var i = next.getAndIncrement()
        while (i < n) {
          val target = t0Ns + due(i)
          var now = System.nanoTime()
          while (now < target) { LockSupport.parkNanos(target - now); now = System.nanoTime() }
          if (now - t0Ns < phaseEndNs(phaseOf(i))) {
            val created = Clock.us()
            sentUs(i) = created
            sentNs(i) = System.nanoTime()
            status(i) = try {
              val s = c.post(body(i, evs(i), created))
              if (s / 100 == 2) 'a' else 'r'
            } catch { case _: java.io.IOException =>
              try c.close() catch { case _: Exception => () }
              c = try new Conn(port) catch { case _: java.io.IOException => c }
              'e'
            }
            ackNs(i) = System.nanoTime()
          }
          i = next.getAndIncrement()
        }
        c.close()
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())

    val sb = new StringBuilder
    val summary = phases.zipWithIndex.map { case ((rate, secs), k) =>
      val ids = (0 until n).filter(phaseOf(_) == k)
      val sent = ids.filter(i => status(i) != 'u')
      val late = sent.map(i => (sentNs(i) - t0Ns - due(i)) / 1e6)
      val ack = sent.filter(status(_) == 'a').map(i => (ackNs(i) - t0Ns - due(i)) / 1e6)
      Map("rate" -> rate, "seconds" -> secs, "scheduled" -> ids.size, "sent" -> sent.size,
        "acked" -> sent.count(status(_) == 'a'), "refused" -> sent.count(status(_) == 'r'),
        "errors" -> sent.count(status(_) == 'e'), "unsent" -> (ids.size - sent.size),
        "start_us" -> (t0Us + (if (k == 0) 0L else phaseEndNs(k - 1) / 1000)),
        "end_us" -> (t0Us + phaseEndNs(k) / 1000),
        "lateness_ms_p50" -> Stats.pct(late, 0.5), "lateness_ms_p99" -> Stats.pct(late, 0.99),
        "ack_ms_p50" -> Stats.pct(ack, 0.5), "ack_ms_p99" -> Stats.pct(ack, 0.99),
        "ack_ms_mean" -> (if (ack.isEmpty) 0.0 else ack.sum / ack.size),
        "ack_samples" -> ack.size)
    }
    sb ++= Json.render(Map("t0_us" -> t0Us, "events" -> n, "phases" -> summary)) += '\n'
    val tally = mutable.Map.empty[(Long, String, String), Int].withDefaultValue(0)
    (0 until n).filter(status(_) == 'a').foreach { i =>
      tally(((sentUs(i) / 1000) / 1000 * 1000, evs(i).level, evs(i).target)) += 1
    }
    tally.foreach { case ((w, l, t), c) => sb ++= s"T $w $l $t $c\n" }
    sb ++= "S " ++= new String(status) += '\n'
    (0 until n by 10).filter(status(_) != 'u').foreach { i =>
      def us(ns: Long) = t0Us + (ns - t0Ns) / 1000
      sb ++= s"R $i ${us(t0Ns + due(i))} ${us(sentNs(i))} ${us(ackNs(i))}\n"
    }
    java.nio.file.Files.writeString(out, sb.toString)
  }

  private def ceiling(port: Int, threads: Int, seconds: Double): Double = {
    val count = new AtomicLong(0)
    val ev = events(1L, 1).head
    val endNs = System.nanoTime() + (seconds * 1e9).toLong
    val ws = (0 until threads).map { _ =>
      new Thread(() => {
        val c = new Conn(port)
        while (System.nanoTime() < endNs) { c.post(body(0, ev, Clock.us())); count.incrementAndGet() }
        c.close()
      })
    }
    val t0 = System.nanoTime()
    ws.foreach(_.start())
    ws.foreach(_.join())
    count.get / ((System.nanoTime() - t0) / 1e9)
  }
}
