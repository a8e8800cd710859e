package graft.net

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer, HttpsConfigurator, HttpsServer}
import javax.net.ssl.SSLContext
import graft.channel.Channel
import org.apache.spark.sql.{Encoder, Encoders, SparkSession}

/** HTTP ingress (S5/K3): the network edge terminates at a driver-side
  * listener; requests flow into a channel as typed records, exactly the
  * resolution SURVEY §7.4.5 chose for the reference's connection-handoff
  * model (live sockets can't cross executor boundaries as data; the WAF
  * example already models the edge as HttpRequestMeta records,
  * reference examples/waf/src/lib.rs:26-35).
  *
  * Responses go back synchronously (the reference's load-balancer replies
  * on the same connection); the analytics legs (audit/alert pipelines)
  * consume the channel downstream. Built on the JDK's HttpServer — no
  * external dependency; a QUIC driver would slot into the same
  * record-flow seam.
  *
  * No-delay rule: the JDK server writes a response's headers and body
  * as two segments, and without TCP_NODELAY the body waits for the
  * client's delayed ACK of the headers (~40 ms), which held a keep-alive
  * client to about 20 acknowledgements/s. This object therefore sets
  * `sun.net.httpserver.nodelay=true` when it initializes, unless the
  * user set the property. The JDK reads it ONCE per JVM, when its server
  * configuration class loads, i.e. at the first `HttpServer.create` of
  * the process; [[start]] is graft's only caller, and a server created
  * elsewhere before it fixes the setting for the JVM.
  *
  * Production note: the serial executor preserves arrival order but makes
  * request-TIME the edge's scarce resource — deploy with the JDK's
  * `sun.net.httpserver.maxReqTime`/`maxRspTime` set (they default to
  * unlimited) or behind a proxy that enforces client timeouts, or a
  * stalling client (slowloris) parks the edge on a blocking read.
  */
object HttpIngress {

  if (System.getProperty("sun.net.httpserver.nodelay") == null)
    System.setProperty("sun.net.httpserver.nodelay", "true")

  /** Largest accepted request body — one hostile client must not be able
    * to balloon edge memory (requests above it get 413, unbuffered).
    * Mirrors the reference edge's bounded-frame posture. */
  val MaxBodyBytes: Int = 8 * 1024 * 1024

  /** One ingested request (RawHttp shape, FIXTURES.md §6). */
  case class HttpRequest(request_id: Long, method: String, path: String,
                         remote_addr: String, body: Array[Byte])

  implicit val enc: Encoder[HttpRequest] = Encoders.product[HttpRequest]

  val schema = enc.schema

  /** Synchronous response policy: (status, body) computed from the
    * request — the reference's rest-api example validates the JSON body
    * and answers 200/401/400 on the same connection
    * (examples/rest-api/src/lib.rs); the default is the load-balancer's
    * unconditional 202 accept. */
  type Reply = HttpRequest => (Int, Array[Byte])
  val AcceptAll: Reply = _ => (202, "accepted".getBytes("UTF-8"))

  /** Start listening; buffered requests are appended to `channel` on each
    * `flush()` (micro-batch ingest — the channel IS the streaming source
    * downstream). Returns the ingress handle.
    *
    * `tls = Some(ctx)` terminates HTTPS at the edge (reference parity:
    * `subsystem/net-hyper/src/tls.rs` + `examples/load-balancer-https/`);
    * build the context with [[Tls.sslContext]]. Everything behind the
    * handshake — record flow, reply policy, flush semantics — is
    * identical to the plain listener. `spark` is unused (a flush
    * appends through `channel`); it stays for existing callers. */
  def start(spark: SparkSession, channel: Channel, port: Int = 0,
            writerId: Int = 100, reply: Reply = AcceptAll,
            tls: Option[SSLContext] = None): Ingress = {
    val addr = new InetSocketAddress("127.0.0.1", port)
    val server = tls match {
      case Some(ctx) =>
        val s = HttpsServer.create(addr, 64)
        s.setHttpsConfigurator(new HttpsConfigurator(ctx))
        s
      case None => HttpServer.create(addr, 64)
    }
    val ingress = new Ingress(channel, server, writerId, reply)
    server.createContext("/", (exchange: HttpExchange) => ingress.handle(exchange))
    server.setExecutor(null) // serial: preserves arrival order like a channel
    server.start()
    ingress
  }

  final class Ingress(channel: Channel, server: HttpServer, writerId: Int,
                      reply: HttpIngress.Reply) {
    private val buffer = new IngressBuffer[HttpRequest](channel, writerId, enc)
    private val ids = new AtomicLong(0)

    def port: Int = server.getAddress.getPort

    private[net] def handle(exchange: HttpExchange): Unit = {
      // bounded read: readAllBytes() on an unbounded stream lets one
      // hostile client OOM the edge — cap and refuse with 413 (the
      // request is NOT buffered; nothing was promised)
      val in = exchange.getRequestBody
      val body = in.readNBytes(HttpIngress.MaxBodyBytes + 1)
      if (body.length > HttpIngress.MaxBodyBytes) {
        // answer 413 and close WITHOUT draining the remainder: the
        // server executor is serial, so politely reading out an
        // unbounded (or merely huge) hostile body would stall every
        // other request. Two accepted consequences, both in the
        // oversized client's own failure domain: (a) its keep-alive is
        // sacrificed, and (b) if its unsent remainder exceeds the JDK's
        // small close-drain window, the connection RSTs and the client
        // may observe a reset instead of the 413. Residual exposure: a
        // client that STALLS mid-body blocks the serial executor at the
        // read itself (slowloris) — that needs a request-time limit
        // (JDK sun.net.httpserver.maxReqTime at launch, or a fronting
        // proxy), not more code here; see the class scaladoc.
        try {
          val resp = "payload too large".getBytes("UTF-8")
          exchange.sendResponseHeaders(413, resp.length.toLong)
          exchange.getResponseBody.write(resp)
        } finally exchange.close()
        return
      }
      val req = HttpRequest(
        ids.getAndIncrement(),
        exchange.getRequestMethod,
        exchange.getRequestURI.getPath,
        exchange.getRemoteAddress.getAddress.getHostAddress,
        body)
      buffer.add(req)
      // A throwing reply policy must still answer and close the exchange:
      // the request is already buffered (it WILL be ingested), and the
      // server executor is serial, so a hung exchange stalls every
      // subsequent request until the client times out.
      try {
        val (status, resp) =
          try reply(req)
          catch { case scala.util.control.NonFatal(_) =>
            (500, "reply policy failed".getBytes("UTF-8"))
          }
        exchange.sendResponseHeaders(status, resp.length.toLong)
        exchange.getResponseBody.write(resp)
      } finally exchange.close()
    }

    /** Append everything received so far to the channel (one micro-batch).
      * Returns the number of records flushed; a rejected write restores
      * the drained records (accepted requests must survive a failed flush,
      * or the 202 we already sent the client was a lie — see
      * [[IngressBuffer]]). */
    def flush(): Int = buffer.flush()

    /** Records accepted but not yet flushed (ops/metrics surface). */
    def pendingCount: Int = buffer.size

    def stop(): Unit = server.stop(0)
  }
}
