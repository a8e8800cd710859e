package graft.queries

import graft.{Q, Tables}
import graft.channel.Channel
import graft.functions.Codec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Codec roundtrip as a verifiable operator: events rows → binary payload →
  * decode → fields. Lossless iff the output equals the plain projection,
  * which is exactly what the DuckDB oracle selects — the oracle never sees
  * the encoded form, so any codec loss breaks the hash match.
  */
object CodecOps {

  private val payloadSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("ts", LongType)))

  val all: Seq[Q] = Seq(
    // ts emitted at µs granularity: DuckDB reads the parquet nano
    // timestamps µs-truncated, so raw nanos would "mismatch" on oracle
    // precision, not codec loss. The codec itself roundtrips full nanos
    // (covered by the equality on every other column + ScalaTest).
    Q("q_codec_roundtrip",
      """SELECT event_id, event_type, value, epoch_us(ts) AS ts_us
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(Codec.encode(col("event_id"), col("event_type"), col("value"), col("ts"))
          .as("payload"))
        .select(Codec.decode(col("payload"), payloadSchema).as("r"))
        .select(col("r.event_id").as("event_id"), col("r.event_type").as("event_type"),
          col("r.value").as("value"), expr("r.ts div 1000").as("ts_us"))
        .orderBy(col("event_id"))
    },

    // ---- The same roundtrip through the length/offset BINARY wire codec
    // (functions.BinaryCodec — the Flatbuffers-parity runtime-wire format
    // with the 16-byte schema hash stamped per frame). The oracle never
    // sees the encoded form, so any loss, misalignment, or hash-check
    // regression in the binary layout breaks the hash match. JSON codec
    // above stays as the diagnostic form; this is the data-plane one.
    Q("q_codec_binary",
      """SELECT event_id, event_type, value, epoch_us(ts) AS ts_us
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(Codec.encodeBinary(col("event_id"), col("event_type"), col("value"), col("ts"))
          .as("payload"))
        .select(Codec.decodeBinary(col("payload"), payloadSchema).as("r"))
        .select(col("r.event_id").as("event_id"), col("r.event_type").as("event_type"),
          col("r.value").as("value"), expr("r.ts div 1000").as("ts_us"))
        .orderBy(col("event_id"))
    },

    // ---- Nested-table roundtrip through the v2 wire layout: each event
    // becomes a LogRecord-shaped record { event_id, fields: Vec<LogField> }
    // (reference system/userland/src/logging.rs:101-121 — its flagship
    // record is nested, so the wire format must carry Vec<table>), with a
    // VARIABLE-length Vec (2 or 3 child frames per row). Encode → decode →
    // explode back to flat rows; the oracle recomputes the flat rows
    // straight from events, so any child-frame offset/length bug, lost
    // element, or mis-ordered Vec breaks the hash match.
    Q("q_codec_nested",
      """SELECT event_id, k, v FROM (
        |  SELECT event_id, 'type' AS k, event_type AS v FROM events
        |  UNION ALL
        |  SELECT event_id, 'tlen' AS k, CAST(len(event_type) AS VARCHAR) AS v FROM events
        |  UNION ALL
        |  SELECT event_id, 'extra' AS k, 'x' AS v FROM events WHERE event_id % 5 = 0)
        |ORDER BY event_id, k""".stripMargin) { (s, d) =>
      val fieldT = StructType(Seq(
        StructField("k", StringType), StructField("v", StringType)))
      val rec = Tables.events(s, d).select(col("event_id"),
        concat(
          array(
            struct(lit("type").as("k"), col("event_type").as("v")),
            struct(lit("tlen").as("k"),
              length(col("event_type")).cast("string").as("v"))),
          when(col("event_id") % 5 === 0,
            array(struct(lit("extra").as("k"), lit("x").as("v"))))
            .otherwise(array().cast(ArrayType(fieldT)))).as("fields"))
      val nestedSchema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("fields", ArrayType(fieldT))))
      rec.select(Codec.encodeBinary(col("event_id"), col("fields")).as("p"))
        .select(Codec.decodeBinary(col("p"), nestedSchema).as("r"))
        .select(col("r.event_id").as("event_id"), explode(col("r.fields")).as("f"))
        .select(col("event_id"), col("f.k").as("k"), col("f.v").as("v"))
        .orderBy(col("event_id"), col("k"))
    },

    // ---- Channel roundtrip through the DSv2 connector: an events slice
    // is published into a fresh topic (writer-attributed parquet batches)
    // and read back with Channel.read, whose plan has no sort, so the
    // aggregate's scan reads only event_type and value. The whole
    // write→commit→scan path sits inside the correctness gate, and the
    // oracle never sees the channel, so any loss/duplication/metadata leak
    // in the connector breaks the hash. The aggregate is localCheckpointed
    // eagerly so the staged topic can be deleted before the result is
    // consumed (no temp-dir leak per run).
    Q("q_channel_roundtrip",
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.ensureConf(s)
      val root = java.nio.file.Files.createTempDirectory("graft_chan_rt")
      try {
        val reg = new graft.channel.ChannelRegistry(s, root)
        val slice = Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_id"), col("event_type"), col("value"))
        val ch = reg.create("rt", slice.schema)
        ch.write(slice, writerId = 1)
        // eager: the channel's temp dir is deleted when the build returns,
        // so the driver materializes the rows first
        ch.read()
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), Tables.exactSum(col("value")).as("total"))
          .orderBy(col("event_type"))
          .localCheckpoint()
      } finally Channel.deleteRecursively(root)
    }
  )
}
