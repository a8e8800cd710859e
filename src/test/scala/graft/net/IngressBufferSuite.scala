package graft.net

import graft.SparkSpec
import graft.channel.ChannelRegistry
import org.apache.spark.sql.functions.col

class IngressBufferSuite extends SparkSpec {

  test("a flushed batch reads back as a Dataset-built write of the same records") {
    import HttpIngress.{enc, HttpRequest}
    val reg = new ChannelRegistry(spark, tmpDir("ingress_buffer"))
    val flushed = reg.create("flushed", HttpIngress.schema)
    val written = reg.create("written", HttpIngress.schema)
    val records = (0 until 5).map(i =>
      HttpRequest(i.toLong, "POST", s"/p/$i", "127.0.0.1", Array.fill(i)(i.toByte)))
    val buffer = new IngressBuffer[HttpRequest](flushed, writerId = 7, enc)
    records.foreach(buffer.add)
    assert(buffer.flush() == records.size && buffer.size == 0)
    written.write(spark.createDataset(records).toDF(), writerId = 7)

    val (a, b) = (flushed.read(), written.read())
    assert(a.schema == b.schema)
    assert(a.collect().toSeq == b.collect().toSeq)
    assert(a.select(col("_offset")).collect().map(_.getLong(0)).toSeq == (0L until 5L))
  }
}
