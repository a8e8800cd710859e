package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference's own dataflow algebra (SURVEY.md §2.3–§2.5), expressed as
  * batch-verifiable queries over the `events` stream table. Each query is
  * the batch equivalent of a pipeline the reference ships as an example;
  * live Structured-Streaming forms live in graft.streaming (ScalaTest
  * covered), and every `q_stream_*` query here additionally runs a real
  * streaming query inside the correctness gate (streaming result == batch
  * SQL oracle) through the [[Staging]] driver's view form.
  */
object Streamish {

  /** Purchases ⋈ the same user's clicks from the preceding hour, as a
    * live stream-stream join of two filtered, watermarked legs of ONE
    * source (the file listing and scan happen once per micro-batch
    * instead of twice). */
  private def intervalJoin(src: DataFrame, joinType: String): DataFrame = {
    def side(tpe: String, prefix: String) =
      src.filter(col("event_type") === tpe)
        .select(col("event_id").as(s"${prefix}_id"),
          col("user_id").as(s"${prefix}_user"),
          expr("timestamp_micros(ts div 1000)").as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "1 hour")
    side("purchase", "p").join(side("click", "c"),
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"),
      joinType)
  }

  /** Shared scaffold for the OUTER stream-stream interval joins:
    * event-time-ordered replay of the events table (3 range-staged
    * batches — the cross-batch join/eviction claims need >= 3 stateful
    * triggers and get exactly that plus the two sentinels), two flush
    * sentinels carrying one row PER SIDE (each leg computes its own
    * watermark from its filtered rows; the global watermark is their min,
    * so both legs must see sentinel event times), memory-sink drain
    * through `shape`. The join family differs only in `joinType` and the
    * drain, so the sentinel/watermark contract lives in exactly one
    * place. */
  private def intervalJoinStream(s: SparkSession, d: String, joinType: String)(
      shape: DataFrame => DataFrame): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val maxTs = ev.agg(max(col("ts"))).head().getLong(0)
    val hourNs = 3600L * 1000000000L
    def flush(ts: Long) = s.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(-1L, -1L, "purchase", ts),
        org.apache.spark.sql.Row(-2L, -1L, "click", ts)),
      ev.schema)
    Staging.replay(ev, Seq(col("ts"), col("event_id")), 3,
      Seq(flush(maxTs + 3 * hourNs), flush(maxTs + 48 * hourNs))) { src =>
      Staging.view(intervalJoin(src, joinType))(shape)
    }
  }

  val all: Seq[Q] = Seq(

    // ---- T1/T2/J1: map → union → filter. Mirrors examples/data-pipeline
    // (reference examples/data-pipeline/src/lib.rs:44-82): two branches
    // (`double`, `add_five`) publish into one topic; subscriber keeps evens.
    Q("q_pipeline_union",
      """SELECT event_id, v, branch FROM (
        |  SELECT event_id, value * 2 AS v, 'double' AS branch FROM events
        |  UNION ALL
        |  SELECT event_id, value + 5 AS v, 'add_five' AS branch FROM events)
        |WHERE event_id % 2 = 0
        |ORDER BY branch, event_id""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val doubled = e.select(col("event_id"), (col("value") * 2).as("v"), lit("double").as("branch"))
      val addFive = e.select(col("event_id"), (col("value") + 5).as("v"), lit("add_five").as("branch"))
      doubled.union(addFive)
        .filter(col("event_id") % 2 === 0)
        .orderBy(col("branch"), col("event_id"))
    },

    // ---- T4/T5: enrich + conditional routing. Mirrors examples/waf
    // (reference examples/waf/src/lib.rs:101-110,216-231): verdict per
    // record, alerts only for blocks (the audit leg is the pre-filter df).
    Q("q_waf_route",
      """SELECT event_id, user_id, 'block' AS decision,
        |  CASE WHEN event_type = 'error' THEN 'error-event'
        |       ELSE 'value-threshold' END AS reason
        |FROM events
        |WHERE event_type = 'error' OR value > 180.0
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .withColumn("decision",
          when(col("event_type") === "error" || col("value") > 180.0, "block").otherwise("allow"))
        .withColumn("reason",
          when(col("event_type") === "error", "error-event")
            .when(col("value") > 180.0, "value-threshold")
            .otherwise("ok"))
        .filter(col("decision") === "block")
        .select(col("event_id"), col("user_id"), col("decision"), col("reason"))
        .orderBy(col("event_id"))
    },

    // ---- A1/A2: tumbling window + count-by-severity + threshold alert.
    // Mirrors examples/log-analyser (reference src/lib.rs:31-32,103-125):
    // per-window counts, alert row iff counts exceed thresholds, message
    // rendered like the reference's Warning{message} record.
    Q("q_window_threshold",
      """SELECT day, n_error, n_view, n_total, sum_value,
        |  printf('%d errors observed in window', n_error) AS alert
        |FROM (
        |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
        |    COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
        |    COUNT(*) AS n_total,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY day)
        |WHERE n_error >= 5 OR n_view >= 50
        |ORDER BY day""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(Tables.tsDay("ts").as("day"))
        .agg(
          count(when(col("event_type") === "error", 1)).as("n_error"),
          count(when(col("event_type") === "view", 1)).as("n_view"),
          count(lit(1)).as("n_total"),
          Tables.exactSum(col("value")).as("sum_value"))
        .filter(col("n_error") >= 5 || col("n_view") >= 50)
        .withColumn("alert", format_string("%d errors observed in window", col("n_error")))
        .orderBy(col("day"))
    },

    // ---- A4/J6: config-state fold — the latest control record seen so far
    // is applied to every data record. Mirrors examples/orchestrator
    // (reference src/lib.rs:73-104,244-287): `signup` events act as
    // ConfigUpdate (multiplier, floor 1 like the reference), `purchase`
    // events are WorkItems. Batch form: running last-value window; the
    // streaming form is ConfigFold (flatMapGroupsWithState) in
    // graft.streaming.
    Q("q_state_fold",
      """SELECT event_id, user_id, mult, value * mult AS applied
        |FROM (
        |  SELECT event_id, user_id, event_type, value,
        |    coalesce(LAST_VALUE(CASE WHEN event_type = 'signup'
        |        THEN GREATEST(1, CAST(FLOOR(value / 50.0) AS INT)) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1) AS mult
        |  FROM events)
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      // arrival order = event_id (the oracle engine truncates the nano
      // timestamps to µs, so ordering by ts would differ on sub-µs ties)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mult = when(col("event_type") === "signup",
        greatest(lit(1), floor(col("value") / 50.0).cast("int")))
      Tables.events(s, d)
        .withColumn("mult", coalesce(last(mult, ignoreNulls = true).over(w), lit(1)))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("mult"),
          (col("value") * col("mult")).as("applied"))
        .orderBy(col("event_id"))
    },

    // ---- J7: request-reply correlation — requests joined 1:1 to their
    // replies on the correlation id (reference: FlatResult.request_id,
    // system/userland/src/encoding.rs:64-81; echo example).
    Q("q_request_reply",
      """SELECT o.o_orderkey AS request_id, o.o_orderpriority AS priority,
        |  l.l_partkey AS reply_part, l.l_quantity AS reply_qty
        |FROM orders o JOIN lineitem l
        |  ON l.l_orderkey = o.o_orderkey AND l.l_linenumber = 1
        |ORDER BY request_id""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d).filter(col("l_linenumber") === 1)
      o.join(l, l("l_orderkey") === o("o_orderkey"))
        .select(
          o("o_orderkey").as("request_id"),
          o("o_orderpriority").as("priority"),
          l("l_partkey").as("reply_part"),
          l("l_quantity").as("reply_qty"))
        .orderBy(col("request_id"))
    },

    // ---- J4: fanout / work-queue — each record is delivered to exactly one
    // of N workers (reference Fanout, examples/load-balancer/src/lib.rs:21-61).
    // Batch-verifiable form uses an explicit round-robin assignment; the
    // engine's streaming fanout is `repartition(n)` (order waived, SURVEY
    // §2.6) and is tested in graft.streaming.
    Q("q_fanout",
      """SELECT worker, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT CAST((ROW_NUMBER() OVER (ORDER BY event_id) - 1) % 4 AS BIGINT) AS worker,
        |         value
        |  FROM events)
        |GROUP BY worker ORDER BY worker""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .withColumn("worker",
          ((row_number().over(Window.orderBy(col("event_id"))) - 1) % 4).cast("long"))
        .groupBy(col("worker"))
        .agg(count(lit(1)).as("n"), Tables.exactSum(col("value")).as("sum_value"))
        .orderBy(col("worker"))
    },

    // ---- A real Structured Streaming run inside the correctness gate: the
    // events table replayed through readStream → tumbling event-time day
    // window → count by type → memory sink (complete mode). Result must
    // equal the batch SQL oracle exactly.
    Q("q_stream_window",
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        |  COUNT(*) AS n
        |FROM events GROUP BY day, event_type ORDER BY day, event_type""".stripMargin) { (s, d) =>
      // the whole table is one staged file → one trigger
      Staging.replay(Tables.events(s, d).select(col("ts"), col("event_type")),
        Seq(col("ts")), 1) { src =>
        Staging.view(src.groupBy(Tables.tsDay("ts").as("day"), col("event_type"))
          .agg(count(lit(1)).as("n")), "complete")(
          _.orderBy(col("day"), col("event_type")))
      }
    },

    // ---- The DSv2 channel connector's STREAMING path inside the
    // correctness gate: an events slice is published into a fresh topic,
    // then a live seq-offset subscription (readStreamV2 →
    // format("graft-channel") micro-batch stream) aggregates it into a
    // memory sink. The oracle aggregates the events table directly — any
    // loss, duplication, or offset error in the connector's
    // reservation/commit protocol breaks the hash.
    Q("q_stream_channel",
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        |  COUNT(*) AS n
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY day, event_type ORDER BY day, event_type""".stripMargin) { (s, d) =>
      Staging.withTempDir { root =>
        val reg = new graft.channel.ChannelRegistry(s, root)
        val slice = Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_id"), col("ts"), col("event_type"))
        val ch = reg.create("evstream", slice.schema)
        ch.write(slice, writerId = 1)
        Staging.view(ch.readStreamV2()
          .groupBy(Tables.tsDay("ts").as("day"), col("event_type"))
          .agg(count(lit(1)).as("n")), "complete")(
          _.orderBy(col("day"), col("event_type")))
      }
    },

    // ---- Exact interpolated percentiles per group (both engines use the
    // same linear interpolation over the sorted values).
    Q("q_percentiles",
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS median_v,
        |  round(quantile_cont(value, 0.9), 4) AS p90_v,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 4).as("median_v"),
          round(expr("percentile(value, 0.9)"), 4).as("p90_v"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    },

    // ---- Approx percentiles: the scale path for q_percentiles above.
    // Exact percentiles need a full sort per group; the GK-style sketch
    // behind percentile_approx is mergeable map-side state with bounded
    // rank error (n/accuracy) — at 100 TB the only viable formulation.
    // Sketch values differ between engines, so the oracle checks the RANK
    // ERROR CONTRACT: the returned value's rank window [count(<v),
    // count(<=v)] must contain p·n within slack n/1000+2 (10× the sketch's
    // own n/10000 guarantee). DuckDB asserts the group counts and `true`;
    // a sketch returning a wrong-ranked value flips the boolean.
    Q("q_approx_percentiles",
      """SELECT event_type, COUNT(*) AS n, true AS p50_ok, true AS p90_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"), col("value"))
      val ap = ev.groupBy(col("event_type")).agg(
        expr("percentile_approx(value, 0.5, 10000)").as("a50"),
        expr("percentile_approx(value, 0.9, 10000)").as("a90"),
        count(lit(1)).as("n"))
      def rankOk(p: Double, lo: String, hi: String) = {
        val slack = col("n").cast("double") * 0.001 + lit(2.0)
        val target = col("n").cast("double") * p
        (target >= col(lo).cast("double") - slack) &&
          (target <= col(hi).cast("double") + slack)
      }
      ev.join(broadcast(ap), "event_type")
        .groupBy(col("event_type")).agg(
          first(col("n")).as("n"),
          sum(when(col("value") < col("a50"), 1L).otherwise(0L)).as("lo50"),
          sum(when(col("value") <= col("a50"), 1L).otherwise(0L)).as("hi50"),
          sum(when(col("value") < col("a90"), 1L).otherwise(0L)).as("lo90"),
          sum(when(col("value") <= col("a90"), 1L).otherwise(0L)).as("hi90"))
        .select(col("event_type"), col("n"),
          rankOk(0.5, "lo50", "hi50").as("p50_ok"),
          rankOk(0.9, "lo90", "hi90").as("p90_ok"))
        .orderBy(col("event_type"))
    },

    // ---- Sessionization: gap > 1 hour starts a new session per user
    // (lag + cumulative flag sum — the batch form of session windows).
    Q("q_sessionize",
      """SELECT user_id, session_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM (
        |  SELECT user_id, event_id, value,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM (
        |    SELECT user_id, event_id, value,
        |      CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1, epoch_us(ts))
        |             OVER (PARTITION BY user_id ORDER BY event_id) > 3600000000
        |           THEN 1 ELSE 0 END AS new_session
        |    FROM events))
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin) { (s, d) =>
      // µs granularity to match the oracle's truncated timestamps; gaps of
      // exactly the boundary ±1µs are decided identically on both sides
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val tsUs = expr("ts div 1000")
      val newSession =
        when(tsUs - lag(tsUs, 1).over(w) > 3600000000L, 1).otherwise(0)
      Tables.events(s, d)
        .withColumn("new_session", newSession)
        .withColumn("session_id",
          sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), Tables.exactSum(col("value")).as("session_value"))
        .orderBy(col("user_id"), col("session_id"))
    },

    // ---- Exact heavy hitters through the sketch aggregate: with capacity
    // ≥ distinct keys the Misra–Gries buffer never evicts, so counts are
    // exact and deterministic — oracled against a plain GROUP BY. (The
    // approximate regime is q_heavy_hitters, rows-only.)
    Q("q_top_event_types",
      """SELECT day, event_type, n FROM (
        |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    event_type, COUNT(*) AS n
        |  FROM events GROUP BY day, event_type)
        |ORDER BY day, n DESC, event_type""".stripMargin) { (s, d) =>
      import graft.functions.HeavyHitters
      Tables.events(s, d)
        .groupBy(Tables.tsDay("ts").as("day"))
        .agg(HeavyHitters.heavyHitters(col("event_type"), capacity = 16).as("hh"))
        .select(col("day"), explode(col("hh")).as(Seq("event_type", "n")))
        .orderBy(col("day"), col("n").desc, col("event_type"))
    },

    // ---- Native session windows (session_window built-in): gap-merged
    // per-user sessions; oracle recomputes sessions with the lag/gap
    // method. Counts only — window bounds stay internal.
    Q("q_session_window",
      """SELECT user_id,
        |  CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM (
        |    SELECT user_id, event_id, ts,
        |      CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1, epoch_us(ts))
        |             OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |             >= 3600000000
        |           THEN 1 ELSE 0 END AS new_session
        |    FROM events))
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .withColumn("ets", expr("timestamp_micros(ts div 1000)"))
        .groupBy(session_window(col("ets"), "1 hour").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("cnt")).as("n_events"))
        .orderBy(col("user_id"))
    },

    // ---- STREAMING session windows: the stateful twin of the batch
    // q_session_window above. Events replay in event-time order (4
    // range-staged micro-batches), and `session_window` merges each
    // user's events into gap-bounded sessions ACROSS batches in the
    // state store — a session left open at a batch boundary extends when
    // the user's next batch-k+1 event lands within the 1-hour gap, and
    // finalizes (append-mode emission) only once the watermark passes
    // its end. Two sentinel files with event times beyond every real
    // session drive the watermark past all state deterministically
    // (emission lags the watermark by one batch — the first sentinel
    // advances it over every real session end, the second triggers the
    // batch that emits them — so the drain never races a no-data
    // micro-batch); sentinel rows themselves stay unemitted in state and
    // are filtered by user_id. At 100 TB this is the production session
    // posture: state per (user, open session) only, evicted as the
    // watermark moves — the batch twin's window-sort over all history is
    // exactly what this avoids. Oracle = the same gaps-and-islands SQL
    // as the batch form, so streamed session assembly is hash-checked
    // bit-for-bit.
    Q("q_stream_sessions",
      """SELECT user_id,
        |  CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM (
        |    SELECT user_id, event_id, ts,
        |      CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1, epoch_us(ts))
        |             OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |             >= 3600000000
        |           THEN 1 ELSE 0 END AS new_session
        |    FROM events))
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"))
      val maxTs = ev.agg(max(col("ts"))).head().getLong(0) // watermark sentinel base
      val hourNs = 3600L * 1000000000L
      def flush(ts: Long) = s.range(1).select(lit(-1L).as("event_id"),
        lit(-1L).as("user_id"), lit(ts).as("ts"))
      // event-time-ordered replay on (ts, event_id): a 0-second watermark
      // drops nothing; two sentinels drive the watermark past every real
      // session and trigger the emitting batch
      Staging.replay(ev, Seq(col("ts"), col("event_id")), 4,
        Seq(flush(maxTs + 2 * hourNs), flush(maxTs + 48 * hourNs))) { src =>
        Staging.view(src
          .withColumn("ets", expr("timestamp_micros(ts div 1000)"))
          .withWatermark("ets", "0 seconds")
          .groupBy(session_window(col("ets"), "1 hour").as("sw"), col("user_id"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("user_id"), col("cnt"))) {
          _.filter(col("user_id") >= 0)
            .groupBy(col("user_id"))
            .agg(count(lit(1)).as("n_sessions"), sum(col("cnt")).as("n_events"))
            .orderBy(col("user_id"))
        }
      }
    },

    // ---- Sliding event-time windows (2-day windows, 1-day slide): each
    // event lands in two overlapping windows. The oracle materializes the
    // two candidate window starts per event explicitly.
    Q("q_window_sliding",
      """SELECT strftime(w, '%Y-%m-%d') AS win_start, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT date_trunc('day', ts) AS w, value FROM events
        |  UNION ALL
        |  SELECT date_trunc('day', ts) - INTERVAL 1 DAY AS w, value FROM events)
        |GROUP BY w ORDER BY win_start""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(expr("timestamp_micros(ts div 1000)"), "2 days", "1 day").as("w"))
        .agg(count(lit(1)).as("n"), Tables.exactSum(col("value")).as("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd").as("win_start"),
          col("n"), col("sum_value"))
        .orderBy(col("win_start"))
    },

    // ---- Streaming exact dedup in the gate: dropDuplicatesWithinWatermark
    // over the live events stream; first-seen (user_id, day) pairs emitted
    // immediately, state evicted behind the watermark. Key-only output =
    // deterministic = SQL DISTINCT oracle.
    Q("q_stream_dedup",
      """SELECT DISTINCT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
        |FROM events ORDER BY user_id, day""".stripMargin) { (s, d) =>
      import graft.streaming.StreamingDedup
      // one staged file → one trigger: nothing arrives behind the watermark
      Staging.replay(Tables.events(s, d).select(col("user_id"), col("ts")),
        Seq(col("ts")), 1) { src =>
        val keyed = src
          .withColumn("ets", expr("timestamp_micros(ts div 1000)"))
          .withColumn("day", Tables.tsDay("ts"))
        Staging.view(StreamingDedup.dedup(keyed, "ets", "1 hour", "user_id", "day")
          .select(col("user_id"), col("day")))(
          _.orderBy(col("user_id"), col("day")))
      }
    },

    // ---- Watermarked stream-stream interval join in the gate: purchases
    // joined to the same user's clicks from the preceding hour, as a LIVE
    // two-stream join (both sides watermarked; state eviction is driven by
    // the time bound — the canonical two-topic correlation at 100 TB,
    // where unbounded-state joins are impossible). Inner join + nothing
    // late in a single batch ⇒ the streaming result equals the batch
    // theta-join oracle exactly.
    Q("q_stream_join",
      """SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id
        |FROM events p JOIN events c ON p.user_id = c.user_id
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000
        |                         AND epoch_us(p.ts)
        |ORDER BY p_id, c_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      Staging.replay(ev, Seq(col("ts")), 1) { src =>
        Staging.view(intervalJoin(src, "inner")) {
          _.select(col("p_id"), col("c_id"), col("p_user").as("user_id"))
            .orderBy(col("p_id"), col("c_id"))
        }
      }
    },

    // ---- Watermarked stream-stream LEFT OUTER interval join: every
    // purchase emits — matched rows as the inner join above, UNMATCHED
    // purchases as a null-extended row once the click-side watermark
    // passes their interval (state eviction IS the emission trigger, a
    // different state machine from the inner join's match-only path, and
    // the production shape for "every request, correlated or not" feeds).
    // The replay is event-time-ordered (3 range-staged batches), so
    // matches are never lost to late drops, and because clicks precede
    // their purchase in event time a matching click is always already in
    // state when its purchase arrives. The two sentinel files carry one
    // row PER SIDE (each side computes its own watermark from its
    // filtered leg; the global watermark is their min, so both legs must
    // see sentinel event times) with user_id -1, filtered from the drain.
    // Unmatched c_id is emitted as -1, not NULL: the comparator sorts
    // rows, and NULL ordering differs between engines. Oracle = the
    // batch left theta-join.
    Q("q_stream_left_join",
      """SELECT p.event_id AS p_id, coalesce(c.event_id, -1) AS c_id, p.user_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000
        |                         AND epoch_us(p.ts)
        |ORDER BY p_id, c_id""".stripMargin) { (s, d) =>
      intervalJoinStream(s, d, "left_outer") {
        _.filter(col("p_user") >= 0)
          .select(col("p_id"), coalesce(col("c_id"), lit(-1L)).as("c_id"),
            col("p_user").as("user_id"))
          .orderBy(col("p_id"), col("c_id"))
      }
    },

    // ---- FULL OUTER stream-stream interval join — the symmetric
    // completion of the left-outer above: unmatched rows emit from BOTH
    // state stores as their watermarks pass (unmatched purchases when the
    // click side can no longer match them, unmatched clicks when the
    // purchase side can't), alongside the inner matches. Same ordered
    // replay + per-side sentinel contract; both null sides emit as -1
    // (engines order NULLs differently), and (p_id, c_id) stays a unique
    // total order because each unmatched row keeps its own real id.
    Q("q_stream_full_join",
      """SELECT coalesce(p.event_id, -1) AS p_id,
        |  coalesce(c.event_id, -1) AS c_id,
        |  coalesce(p.user_id, c.user_id) AS user_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000
        |                         AND epoch_us(p.ts)
        |ORDER BY p_id, c_id""".stripMargin) { (s, d) =>
      intervalJoinStream(s, d, "full_outer") {
        _.filter(coalesce(col("p_user"), col("c_user")) >= 0)
          .select(coalesce(col("p_id"), lit(-1L)).as("p_id"),
            coalesce(col("c_id"), lit(-1L)).as("c_id"),
            coalesce(col("p_user"), col("c_user")).as("user_id"))
          .orderBy(col("p_id"), col("c_id"))
      }
    },

    // ---- RIGHT OUTER stream-stream interval join — completes the
    // interval-join matrix (inner/left/full/right). The null-extended
    // side is the PURCHASE leg: a click with no purchase in its
    // following hour emits with p_id = -1 once the purchase watermark
    // passes its interval. Same ordered replay + per-side sentinel
    // contract as its siblings, through the one intervalJoinStream
    // scaffold.
    Q("q_stream_right_join",
      """SELECT coalesce(p.event_id, -1) AS p_id, c.event_id AS c_id,
        |  c.user_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |RIGHT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000
        |                         AND epoch_us(p.ts)
        |ORDER BY c_id, p_id""".stripMargin) { (s, d) =>
      intervalJoinStream(s, d, "right_outer") {
        _.filter(col("c_user") >= 0)
          .select(coalesce(col("p_id"), lit(-1L)).as("p_id"), col("c_id"),
            col("c_user").as("user_id"))
          .orderBy(col("c_id"), col("p_id"))
      }
    },

    // ---- Versioned-dimension lookup AT EVENT TIME over a stream (the
    // SCD-2 enrichment shape): signups form a versioned per-user
    // dimension (each valid from its own event time until the user's
    // next signup), and purchases streaming in pick up the version whose
    // validity interval contains THEIR event time — not the latest
    // version at processing time, which is what a naive stream-static
    // equi-join would give after a replay. Stateless stream-static LEFT
    // join (each row enriches immediately, no watermark or state store);
    // the dimension is the bounded SCD table so it broadcasts onto every
    // micro-batch — at dimension scale the same join degrades to a
    // shuffle on the user key. Purchases with no prior signup emit -1
    // (engines order NULLs differently). Oracle = the batch interval
    // join over lead()-derived validity windows.
    Q("q_stream_dim_lookup",
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |                  epoch_us(ts) AS t FROM events),
        |sg AS (SELECT event_id, user_id, t, value,
        |         lead(t, 1, 9223372036854775807) OVER (
        |           PARTITION BY user_id ORDER BY t, event_id) AS t_to
        |       FROM e WHERE event_type = 'signup'),
        |p AS (SELECT event_id, user_id, t FROM e WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.t,
        |  coalesce(sg.event_id, -1) AS dim_event_id,
        |  round(coalesce(sg.value, -1), 6) AS dim_value
        |FROM p LEFT JOIN sg ON p.user_id = sg.user_id
        |  AND sg.t <= p.t AND p.t < sg.t_to
        |ORDER BY p.event_id""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d).withColumn("t", expr("ts div 1000"))
      val w = Window.partitionBy(col("d_user")).orderBy(col("t_from"), col("dim_event_id"))
      val dim = e.filter(col("event_type") === "signup")
        .select(col("event_id").as("dim_event_id"), col("user_id").as("d_user"),
          col("t").as("t_from"), col("value").as("dim_value"))
        .withColumn("t_to", lead(col("t_from"), 1, Long.MaxValue).over(w))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t"))
      // the dimension is built once for all 4 triggers: held for the
      // stream's run, released before the query returns
      Artifacts.scoped(dim) { held =>
        Staging.replay(purchases, Seq(col("t"), col("event_id")), 4) { src =>
          Staging.view(src
            .join(broadcast(held),
              col("user_id") === col("d_user") &&
                col("t_from") <= col("t") && col("t") < col("t_to"),
              "left_outer")
            .select(col("event_id"), col("user_id"), col("t"),
              coalesce(col("dim_event_id"), lit(-1L)).as("dim_event_id"),
              round(coalesce(col("dim_value"), lit(-1.0)), 6).as("dim_value")))(
            _.orderBy(col("event_id")))
        }
      }
    },

    // ---- CEP pattern matching at ingest: the ordered funnel
    // signup → click (≤24 h) → purchase (≤24 h of the click) recognized
    // by a per-user state machine (streaming.FunnelMatch,
    // flatMapGroupsWithState) ACROSS micro-batches — the
    // MATCH_RECOGNIZE / Flink-CEP operator class. A completion record
    // emits the moment the final stage matches; per-key state is three
    // longs regardless of event volume. Delivery contract: per-key
    // in-time-order arrival — here from range-staging the time-ordered
    // event_id (3 batches = 3 time slices, so funnels genuinely
    // straddle triggers); a production deployment gets the same
    // guarantee from per-key ordered channel topics. The forward-only
    // first-qualifying-event machine equals the declarative
    // MIN-per-stage batch formulation, which is what the oracle states
    // — so lost state or out-of-order stepping hash-mismatches.
    Q("q_stream_funnel",
      s"""WITH ${Relational.funnelCtes}
        |SELECT s.user_id, s.t0, c.t1, p.t2
        |FROM p JOIN c ON c.user_id = p.user_id
        |JOIN s ON s.user_id = p.user_id
        |ORDER BY s.user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.streaming.FunnelMatch
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts div 1000").as("t"))
      Staging.replay(ev, Seq(col("event_id")), 3) { src =>
        Staging.view(FunnelMatch(src.as[FunnelMatch.Ev]))(_.orderBy(col("user_id")))
      }
    },

    // ---- A4 as a REAL stateful streaming run: ConfigFold
    // (flatMapGroupsWithState) over the events stream — signups are
    // ConfigUpdates, purchases are WorkItems (same mapping as
    // q_state_fold). The SQL oracle recomputes the fold with window
    // functions: state version = running count of configs, multiplier =
    // last config's value (floor 1). Streaming result == batch SQL, which
    // is the whole point of checkpointed deterministic state.
    Q("q_stream_state_fold",
      """SELECT seq, key, config_version, mult AS multiplier,
        |  concat(CAST(seq AS VARCHAR), ' x ', CAST(mult AS VARCHAR)) AS output
        |FROM (
        |  SELECT event_id AS seq, CAST(user_id AS VARCHAR) AS key, event_type,
        |    CAST(coalesce(SUM(CASE WHEN event_type = 'signup' THEN 1 END)
        |      OVER w, 0) AS INT) AS config_version,
        |    coalesce(LAST_VALUE(CASE WHEN event_type = 'signup'
        |        THEN GREATEST(1, CAST(FLOOR(value / 50.0) AS INT)) END IGNORE NULLS)
        |      OVER w, 1) AS mult
        |  FROM events
        |  WHERE event_type IN ('signup', 'purchase')
        |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |WHERE event_type = 'purchase'
        |ORDER BY seq""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.streaming.ConfigFold
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      // the whole table is one staged file → one trigger
      Staging.replay(ev, Seq(col("event_id")), 1) { src =>
        val tagged = src
          .filter(col("event_type").isin("signup", "purchase"))
          .select(
            col("user_id").cast("string").as("key"),
            col("event_id").as("seq"),
            (col("event_type") === "signup").as("isConfig"),
            greatest(lit(1), floor(col("value") / 50.0).cast("int")).as("multiplier"),
            col("event_id").cast("string").as("payload"))
          .as[ConfigFold.Tagged]
        Staging.view(ConfigFold(tagged)) {
          _.select(col("seq"), col("key"),
            col("configVersion").as("config_version"),
            col("multiplier"),
            col("output"))
            .orderBy(col("seq"))
        }
      }
    }
  )
}
