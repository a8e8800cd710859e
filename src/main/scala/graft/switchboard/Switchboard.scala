package graft.switchboard

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicInteger

import graft.channel.{Channel, ChannelRegistry}
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Typed pub/sub routing — the user-facing API surface of the reference's
  * switchboard layer (`Publisher`, `Subscriber`, `Fanout`, `Client`,
  * `Server`; consumed from crates.io as selium-switchboard 0.4, observable
  * in every example: SURVEY.md preamble + §2.5 J4/J5/J7). A reference user
  * programs against exactly these five types; here they are Dataset[T]
  * facades over durable channels.
  *
  * Delivery semantics parity:
  *  - Publisher/Subscriber = broadcast: every subscriber reads the full
  *    channel (its own streaming source, J5);
  *  - Fanout = work-queue: each record belongs to exactly one of N
  *    workers, assignment STABLE across reads (J4);
  *  - Client/Server = request-reply over two channels with request-id
  *    correlation (J7; FlatResult.request_id convention,
  *    reference system/userland/src/encoding.rs:64-81).
  *
  * Writer attribution: every writing role draws its `_writer_id` from one
  * per-JVM allocator ([[WriterIds]]) so ids never collide across roles
  * (IdFactory parity, reference messaging/src/id_factory.rs:14-42).
  */
final class Switchboard(val spark: SparkSession, val registry: ChannelRegistry) {

  def publisher[T: Encoder](topic: String): Publisher[T] =
    new Publisher[T](registry.getOrCreate(topic, implicitly[Encoder[T]].schema))

  def subscriber[T: Encoder](topic: String): Subscriber[T] =
    new Subscriber[T](registry.get(topic))

  def fanout[T: Encoder](topic: String, workers: Int): Fanout[T] =
    new Fanout[T](
      registry.getOrCreate(topic, implicitly[Encoder[T]].schema, partitions = workers),
      workers)

  def client[Req, Rep](service: String)(
      implicit reqEnc: Encoder[Correlated[Req]],
      repEnc: Encoder[Correlated[Rep]]): Client[Req, Rep] =
    new Client[Req, Rep](this, service)

  def server[Req, Rep](service: String)(
      implicit reqEnc: Encoder[Correlated[Req]],
      repEnc: Encoder[Correlated[Rep]]): Server[Req, Rep] =
    new Server[Req, Rep](this, service)
}

/** One per-JVM `_writer_id` allocator shared by all writing roles. */
private[switchboard] object WriterIds {
  private val next = new AtomicInteger(1)
  def allocate(): Int = next.getAndIncrement()
}

/** Strong typed writer (K1). */
final class Publisher[T: Encoder](val channel: Channel) {
  val writerId: Int = WriterIds.allocate()
  def publish(items: Dataset[T]): Unit = channel.write(items.toDF(), writerId)
  def publish(items: Seq[T])(implicit spark: SparkSession): Unit =
    publish(spark.createDataset(items)(implicitly[Encoder[T]]))
}

/** Strong typed reader (S2): batch view or streaming subscription; every
  * subscriber sees the whole topic (broadcast). The stream is the topic's
  * seq-cursor subscription with the connector's default pacing: each
  * trigger takes every batch committed so far. */
final class Subscriber[T: Encoder](val channel: Channel) {
  private val enc = implicitly[Encoder[T]]
  private def payloadCols = enc.schema.fieldNames.map(col).toSeq
  def snapshot(): Dataset[T] = channel.read().select(payloadCols: _*).as[T](enc)
  def stream(): Dataset[T] = channel.readStreamV2().select(payloadCols: _*).as[T](enc)
}

/** Work-queue (J4): each record belongs to exactly one worker, and the
  * assignment is a pure function of the record's durable channel
  * coordinates (`_seq`,`_offset`) — append-stable: later batches never
  * reshuffle earlier records between workers (a bare `repartition` would).
  */
final class Fanout[T: Encoder](val channel: Channel, val workers: Int) {
  private val enc = implicitly[Encoder[T]]
  private def payloadCols = enc.schema.fieldNames.map(col).toSeq
  val writerId: Int = WriterIds.allocate()

  def send(items: Dataset[T]): Unit = channel.write(items.toDF(), writerId)

  private def withWorker =
    channel.read().withColumn("_worker",
      pmod(xxhash64(col(Channel.SeqCol), col(Channel.OffsetCol)), lit(workers)))

  /** One worker's stable share of the queue. */
  def workerShare(worker: Int): Dataset[T] = {
    require(worker >= 0 && worker < workers)
    withWorker.filter(col("_worker") === worker).select(payloadCols: _*).as[T](enc)
  }

  /** All records partitioned by stable worker assignment (partition count
    * = workers; each record's partition is fixed for the channel's life). */
  def workerStream(): Dataset[T] =
    withWorker.repartition(workers, col("_worker")).select(payloadCols: _*).as[T](enc)
}

/** Request envelope: payload + correlation id. */
case class Correlated[T](request_id: Long, body: T)

/** Request-reply client (J7): append to the request channel, await the
  * correlated reply on the response channel. Correlation ids embed a
  * per-client random nonce, so ids are unique across client instances AND
  * across restarts over the same durable channels. */
final class Client[Req, Rep](sb: Switchboard, service: String)(
    implicit reqEnc: Encoder[Correlated[Req]],
    repEnc: Encoder[Correlated[Rep]]) {
  import sb.spark
  val writerId: Int = WriterIds.allocate()
  private val reqCh = sb.registry.getOrCreate(s"$service-req", reqEnc.schema)
  private val nonce: Long =
    (java.util.UUID.randomUUID().getLeastSignificantBits & 0x7FFFFFFFFFFL) << 20
  private val nextSeq = new java.util.concurrent.atomic.AtomicLong(0)
  @volatile private var repChCache: Option[Channel] = None

  private def repCh: Option[Channel] = repChCache.orElse {
    if (sb.registry.exists(s"$service-rep")) {
      repChCache = Some(sb.registry.get(s"$service-rep"))
      repChCache
    } else None
  }

  /** Fire a request; returns its correlation id. */
  def request(body: Req): Long = {
    val id = nonce | nextSeq.getAndIncrement()
    reqCh.write(spark.createDataset(Seq(Correlated(id, body)))(reqEnc).toDF(), writerId)
    id
  }

  /** Poll for the reply with the given id (None until the server ran). */
  def reply(id: Long): Option[Rep] =
    repCh.flatMap { ch =>
      ch.read()
        .filter(col("request_id") === id)
        .select(col("request_id"), col("body"))
        .as[Correlated[Rep]](repEnc)
        .collect()
        .headOption.map(_.body)
    }
}

/** Request-reply server (J7): a streaming query mapping the request
  * channel through a handler into the response channel —
  * `try_for_each(req → responder.send)` parity (reference
  * examples/echo/src/lib.rs:25-62). Safe to start before any client: both
  * channels attach-or-create. The request subscription takes every
  * committed request batch per trigger, and its progress names the
  * request topic, so `QueryManager.autoAck` can drive its retention. */
final class Server[Req, Rep](sb: Switchboard, service: String)(
    implicit reqEnc: Encoder[Correlated[Req]],
    repEnc: Encoder[Correlated[Rep]]) {
  val writerId: Int = WriterIds.allocate()

  def serve(checkpoint: Path)(handler: Req => Rep): StreamingQuery = {
    val reqCh = sb.registry.getOrCreate(s"$service-req", reqEnc.schema)
    val repCh = sb.registry.getOrCreate(s"$service-rep", repEnc.schema)
    val requests = reqCh.readStreamV2()
      .select(col("request_id"), col("body")).as[Correlated[Req]](reqEnc)
    val responses: Dataset[Correlated[Rep]] =
      requests.map(c => Correlated(c.request_id, handler(c.body)))(repEnc)
    repCh.sink(responses.toDF(), writerId, checkpoint)
  }
}
