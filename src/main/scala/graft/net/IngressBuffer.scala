package graft.net

import java.util.concurrent.ConcurrentLinkedQueue

import graft.channel.Channel
import org.apache.spark.sql.{Encoder, SparkSession}

/** Shared accept-buffer → channel flush logic for ingress edges (HTTP,
  * QUIC): accepted records queue here and land in the channel as one
  * micro-batch per `flush()`. The batch is a local Dataset (a
  * `LocalRelation` of the drained records), so [[Channel.write]] appends
  * it from the driver without a Spark job, and its capacity check sizes
  * only the new batch dir — a flush costs one small parquet file, not a
  * job plus a walk of the topic.
  *
  * A rejected channel write (backpressure / closed) RESTORES the drained
  * batch — the edge already acknowledged those requests. The restore is
  * atomic with respect to concurrent `add`s (both hold `lock`), so
  * arrival order survives a failed flush: nothing can slip in between
  * draining the late arrivals and re-adding `batch ++ arrived`.
  */
private[net] final class IngressBuffer[T](spark: SparkSession, channel: Channel,
                                          writerId: Int, enc: Encoder[T]) {
  private val pending = new ConcurrentLinkedQueue[T]()
  private val lock = new Object

  def add(t: T): Unit = lock.synchronized { pending.add(t); () }

  /** Records accepted but not yet flushed (ops/metrics surface). */
  def size: Int = pending.size

  /** Returns the number of records flushed; rethrows a rejected write
    * after restoring the batch. One flusher at a time. */
  def flush(): Int = synchronized {
    val batch = lock.synchronized(drain())
    if (batch.nonEmpty) {
      try channel.write(spark.createDataset(batch)(enc).toDF(), writerId)
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
