package graft.net

import java.util.concurrent.ConcurrentLinkedQueue

import graft.channel.Channel
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.encoderFor

/** Shared accept-buffer → channel flush logic for ingress edges (HTTP,
  * QUIC): accepted records queue here and land in the channel as one
  * micro-batch per `flush()`. The buffer serializes the drained records
  * with its one encoder serializer and hands the rows to the channel's
  * driver-local append ([[Channel.writeLocal]]): no Dataset, no analysis,
  * no Spark job, and the capacity check sizes only the new batch dir — a
  * flush costs one small parquet file, not a job plus a walk of the topic.
  *
  * A rejected channel write (backpressure / closed) RESTORES the drained
  * batch — the edge already acknowledged those requests. The restore is
  * atomic with respect to concurrent `add`s (both hold `lock`), so
  * arrival order survives a failed flush: nothing can slip in between
  * draining the late arrivals and re-adding `batch ++ arrived`.
  */
private[net] final class IngressBuffer[T](channel: Channel, writerId: Int, enc: Encoder[T]) {
  private val pending = new ConcurrentLinkedQueue[T]()
  private val lock = new Object
  private val encoder = encoderFor(enc)
  // Not thread-safe; only `flush` (synchronized) uses it.
  private val toRow = encoder.createSerializer()

  def add(t: T): Unit = lock.synchronized { pending.add(t); () }

  /** Records accepted but not yet flushed (ops/metrics surface). */
  def size: Int = pending.size

  /** Returns the number of records flushed; rethrows a rejected write
    * after restoring the batch. One flusher at a time. */
  def flush(): Int = synchronized {
    val batch = lock.synchronized(drain())
    if (batch.nonEmpty) {
      try channel.writeLocal(encoder.schema, batch.map(t => toRow(t).copy()), writerId)
      catch { case e: Throwable =>
        lock.synchronized {
          val arrived = drain()
          (batch ++ arrived).foreach(pending.add)
        }
        throw e
      }
    }
    batch.size
  }

  private def drain(): Seq[T] =
    Iterator.continually(pending.poll()).takeWhile(_ != null).toSeq
}
