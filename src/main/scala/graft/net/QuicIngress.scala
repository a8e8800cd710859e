package graft.net

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import graft.channel.Channel
import org.apache.spark.sql.{Encoder, Encoders, SparkSession}

/** QUIC ingress (S4): the [[QuicLite]] transport terminated at the driver
  * edge, flowing typed request records into a channel — the same
  * record-flow seam as [[HttpIngress]] (SURVEY §7.4.5), fed by the
  * reference's net-quinn capability surface instead of net-hyper
  * (create → accept → read → reply, subsystem/net-quinn/src/driver.rs:
  * 60-136). Replies go back synchronously on the originating stream (the
  * load-balancer answers on the connection it received from); analytics
  * legs consume the channel downstream.
  */
object QuicIngress {

  /** One ingested request frame. */
  case class QuicRequest(request_id: Long, domain: String, stream_id: Long,
                         remote_addr: String, body: Array[Byte])

  implicit val enc: Encoder[QuicRequest] = Encoders.product[QuicRequest]

  val schema = enc.schema

  /** Bind `domain` on a (possibly shared) endpoint and pump accepted
    * streams into `channel` via [[Ingress.flush]]. `reply` computes the
    * synchronous response from the request body. With `tls` set, every
    * accepted stream runs a server-side [[QuicTls]] handshake before the
    * request is read — the reference's TLS-native net-quinn contract at
    * the payload level; a stream whose handshake fails (untrusting or
    * plaintext client) never reaches the channel. `spark` is unused (a
    * flush appends through `channel`); it stays for existing callers. */
  def start(spark: SparkSession, channel: Channel, domain: String,
            endpoint: QuicLite.QuicEndpoint = null, writerId: Int = 101,
            reply: Array[Byte] => Array[Byte] = _ => "accepted".getBytes("UTF-8"),
            tls: Option[javax.net.ssl.SSLContext] = None)
      : Ingress = {
    val ep = Option(endpoint).getOrElse(QuicLite.endpoint())
    val ingress = new Ingress(channel, ep, ep.bind(domain), writerId, reply,
      ownsEndpoint = endpoint == null, tls = tls)
    ingress.start()
    ingress
  }

  final class Ingress(channel: Channel,
                      val endpoint: QuicLite.QuicEndpoint,
                      listener: QuicLite.ListenerHandle, writerId: Int,
                      reply: Array[Byte] => Array[Byte],
                      ownsEndpoint: Boolean,
                      tls: Option[javax.net.ssl.SSLContext] = None) {
    private val buffer = new IngressBuffer[QuicRequest](channel, writerId, enc)
    private val ids = new AtomicLong(0)
    private val stopped = new AtomicBoolean(false)

    def port: Int = endpoint.port

    private[net] def start(): Unit = {
      val t = new Thread(() => {
        while (!stopped.get()) {
          // one bad stream (peer vanished mid-reply, throwing user reply
          // fn) must not kill the accept loop — that would silently stop
          // serving every later connection
          try listener.accept(timeoutMs = 200).foreach { s =>
            // TLS mode: handshake first (throws on an untrusting or
            // plaintext peer — caught below, request never buffered)
            val (body, respond) = tls match {
              case Some(ctx) =>
                val t = QuicTls.server(s, ctx)
                (t.readAll(), (b: Array[Byte]) => t.write(b))
              case None =>
                (s.readAll(), (b: Array[Byte]) => s.write(b))
            }
            buffer.add(QuicRequest(ids.getAndIncrement(), listener.domain,
              s.streamId, s.conn.remote.toString, body))
            // the request is already buffered; a throwing reply policy must
            // still answer the peer stream or the client hangs to timeout
            val resp =
              try reply(body)
              catch { case scala.util.control.NonFatal(_) =>
                "error: reply policy failed".getBytes("UTF-8")
              }
            respond(resp) // synchronous response, same stream
          } catch { case _: InterruptedException => return; case _: Exception => () }
        }
      }, s"quic-ingress-${listener.domain}")
      t.setDaemon(true)
      t.start()
    }

    /** Append everything received so far to the channel (one micro-batch).
      * Returns the number of records flushed; a rejected write restores
      * the drained records (the stream reply already acknowledged them —
      * see [[IngressBuffer]]). */
    def flush(): Int = buffer.flush()

    /** Records accepted but not yet flushed (ops/metrics surface). */
    def pendingCount: Int = buffer.size

    /** Stops the accept loop; closes the endpoint only if this ingress
      * created it — a SHARED endpoint serves other domains whose
      * connections must survive this ingress stopping. */
    def stop(): Unit = {
      stopped.set(true)
      if (ownsEndpoint) endpoint.close()
    }
  }
}
