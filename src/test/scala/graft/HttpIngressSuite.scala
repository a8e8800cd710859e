package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest => JHttpRequest, HttpResponse}

import graft.channel.ChannelRegistry
import graft.net.HttpIngress
import graft.streaming.Waf
import org.apache.spark.sql.functions._

class HttpIngressSuite extends SparkSpec {
  import spark.implicits._

  test("HTTP edge → channel → WAF pipeline end-to-end (S5/T4/T5)") {
    val reg = new ChannelRegistry(spark, tmpDir("http"))
    val ch = reg.create("http_in", HttpIngress.schema)
    val ingress = HttpIngress.start(spark, ch)
    try {
      val client = HttpClient.newHttpClient()
      def req(path: String) = {
        val r = JHttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${ingress.port}$path"))
          .POST(JHttpRequest.BodyPublishers.ofString("payload")).build()
        client.send(r, HttpResponse.BodyHandlers.ofString())
      }
      assert(req("/api/list").statusCode() == 202)
      assert(req("/admin/secrets").statusCode() == 202)
      assert(req("/api/update").statusCode() == 202)
      assert(ingress.flush() == 3)

      val requests = ch.read()
      // writer attribution + order survive the edge
      assert(requests.select("_writer_id").distinct().as[Int].collect().toSeq == Seq(100))
      assert(requests.select("path").as[String].collect().toSeq
        == Seq("/api/list", "/admin/secrets", "/api/update"))

      val verdicts = Waf.verdicts(requests)
      val audit = Waf.audit(verdicts).orderBy("request_id")
        .select("request_id", "decision").as[(Long, String)].collect()
      assert(audit.toSeq == Seq((0L, "allow"), (1L, "block"), (2L, "allow")))
      val alerts = Waf.alerts(verdicts).as[(Long, String)].collect()
      assert(alerts.toSeq == Seq((1L, "security alert: blocked path /admin/secrets")))
    } finally ingress.stop()
  }

  test("oversized body is refused with 413 and never buffered") {
    val reg = new ChannelRegistry(spark, tmpDir("httpbig"))
    val ch = reg.create("big_in", HttpIngress.schema)
    val ingress = HttpIngress.start(spark, ch)
    try {
      val client = HttpClient.newHttpClient()
      def post(body: Array[Byte]) = {
        val r = JHttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${ingress.port}/up"))
          .POST(JHttpRequest.BodyPublishers.ofByteArray(body)).build()
        client.send(r, HttpResponse.BodyHandlers.ofString())
      }
      val tooBig = post(new Array[Byte](HttpIngress.MaxBodyBytes + 1))
      assert(tooBig.statusCode() == 413, s"got ${tooBig.statusCode()}")
      assert(ingress.pendingCount == 0, "oversized request was buffered")
      // the edge still serves after the refusal
      assert(post("ok".getBytes("UTF-8")).statusCode() == 202)
      assert(ingress.flush() == 1)
    } finally ingress.stop()
  }

  test("rest-api parity: body-validating reply policy answers 200/401/400") {
    val reg = new ChannelRegistry(spark, tmpDir("httprest"))
    val ch = reg.create("rest_in", HttpIngress.schema)
    // the reference's rest-api example: parse {"password": ...} and answer
    // on the same connection (examples/rest-api/src/lib.rs)
    val ingress = HttpIngress.start(spark, ch, reply = req => {
      val body = new String(req.body, "UTF-8")
      """"password"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(body) match {
        case Some(m) if m.group(1) == "It's an illusion!" =>
          (200, """{"status":true}""".getBytes("UTF-8"))
        case Some(_) => (401, """{"status":false}""".getBytes("UTF-8"))
        case None => (400, """{"error":"invalid request"}""".getBytes("UTF-8"))
      }
    })
    try {
      val client = HttpClient.newHttpClient()
      def post(body: String) = {
        val r = JHttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${ingress.port}/auth"))
          .POST(JHttpRequest.BodyPublishers.ofString(body)).build()
        client.send(r, HttpResponse.BodyHandlers.ofString())
      }
      val ok = post("""{"password": "It's an illusion!"}""")
      assert(ok.statusCode() == 200 && ok.body() == """{"status":true}""")
      assert(post("""{"password": "wrong"}""").statusCode() == 401)
      assert(post("""not json""").statusCode() == 400)
      // every attempt still lands in the channel for the audit pipeline
      assert(ingress.flush() == 3)
      assert(ch.read().count() == 3)
    } finally ingress.stop()
  }

  test("HTTPS edge: TLS handshake + request → channel → reply end-to-end") {
    // parity with the reference's https termination
    // (subsystem/net-hyper/src/tls.rs, examples/load-balancer-https/):
    // self-signed cert, handshake, same record flow as plain HTTP
    val pw = "graft-test".toCharArray
    val ksPath = graft.net.Tls.selfSignedKeystore(tmpDir("tlsks"), pw)
    val ctx = graft.net.Tls.sslContext(ksPath, pw)
    val reg = new ChannelRegistry(spark, tmpDir("https"))
    val ch = reg.create("https_in", HttpIngress.schema)
    val ingress = HttpIngress.start(spark, ch, tls = Some(ctx))
    try {
      // client trusts the self-signed cert by sharing the keystore
      val client = HttpClient.newBuilder().sslContext(ctx).build()
      def post(path: String) = {
        val r = JHttpRequest.newBuilder(URI.create(s"https://127.0.0.1:${ingress.port}$path"))
          .POST(JHttpRequest.BodyPublishers.ofString("secret payload")).build()
        client.send(r, HttpResponse.BodyHandlers.ofString())
      }
      assert(post("/api/tls").statusCode() == 202)
      assert(post("/api/tls2").statusCode() == 202)
      // a client that does NOT trust the cert is refused at the handshake
      intercept[javax.net.ssl.SSLHandshakeException] {
        val r = JHttpRequest.newBuilder(URI.create(s"https://127.0.0.1:${ingress.port}/x"))
          .POST(JHttpRequest.BodyPublishers.ofString("p")).build()
        HttpClient.newHttpClient().send(r, HttpResponse.BodyHandlers.ofString())
      }
      // and plaintext against the TLS port never reaches the channel
      assert(ingress.flush() == 2)
      assert(ch.read().select("path").as[String].collect().toSeq
        == Seq("/api/tls", "/api/tls2"))
    } finally ingress.stop()
  }

  test("flush restores accepted requests when the channel rejects the write") {
    val reg = new ChannelRegistry(spark, tmpDir("httpbp"))
    // capacity 1 byte, park mode: the write lands then is un-published by
    // the capacity check, surfacing ChannelBackpressure to the flusher
    val ch = reg.create("http_bp", HttpIngress.schema, capacityBytes = 1)
    val ingress = HttpIngress.start(spark, ch)
    try {
      val client = HttpClient.newHttpClient()
      val r = JHttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${ingress.port}/x"))
        .POST(JHttpRequest.BodyPublishers.ofString("p")).build()
      assert(client.send(r, HttpResponse.BodyHandlers.ofString()).statusCode() == 202)
      assert(ingress.pendingCount == 1)
      intercept[graft.channel.Channel.ChannelBackpressure] { ingress.flush() }
      // the accepted (202'd) request survived the failed flush
      assert(ingress.pendingCount == 1)
      assert(ch.read().count() == 0)
    } finally ingress.stop()
  }

  test("one keep-alive client sending back to back is acknowledged at line rate") {
    // The JDK server writes headers and body as two segments; without
    // TCP_NODELAY the body waits on the client's delayed ACK (~40 ms),
    // which held one connection to about 20 acknowledgements/s.
    val reg = new ChannelRegistry(spark, tmpDir("httprate"))
    val ch = reg.create("rate_in", HttpIngress.schema)
    val ingress = HttpIngress.start(spark, ch)
    val sock = new java.net.Socket("127.0.0.1", ingress.port)
    try {
      sock.setTcpNoDelay(true) // the client sends each request as one segment
      sock.setSoTimeout(10000)
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val out = sock.getOutputStream
      val req = ("POST /ingest HTTP/1.1\r\nHost: 127.0.0.1\r\nContent-Length: 2\r\n\r\n{}")
        .getBytes("UTF-8")
      def line(): String = {
        val b = new StringBuilder
        var c = in.read()
        while (c != '\n') { require(c >= 0, "connection closed"); if (c != '\r') b += c.toChar; c = in.read() }
        b.toString
      }
      def status(): Int = {
        val code = line().split(" ")(1).toInt
        var len = 0
        var h = line()
        while (h.nonEmpty) {
          if (h.toLowerCase.startsWith("content-length:")) len = h.drop(15).trim.toInt
          h = line()
        }
        in.readNBytes(len)
        code
      }
      val t0 = System.nanoTime()
      var acked = 0
      while (acked < 400 && System.nanoTime() - t0 < 5000000000L) {
        out.write(req); out.flush()
        assert(status() == 202)
        acked += 1
      }
      val perS = acked / ((System.nanoTime() - t0) / 1e9)
      info(f"$acked requests, $perS%.0f acknowledgements/s on one connection")
      assert(perS >= 200, f"one keep-alive connection got $perS%.1f acknowledgements/s")
      assert(ingress.flush() == acked)
      assert(ch.read().count() == acked)
    } finally { sock.close(); ingress.stop() }
  }
}
