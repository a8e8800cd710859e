package graft.queries

import graft.{Q, Tables}
import graft.ops.TemporalJoins
import org.apache.spark.sql.functions._

/** Temporal/non-equi join coverage: as-of enrichment and point-in-interval
  * range join, both verified against plain-SQL oracles (the oracle states
  * the semantics as a correlated window/theta join; the engine runs the
  * scalable formulation — union+window and bucketed equi-join).
  */
object TemporalOps {

  /** The shared q_cdc_upsert / q_stream_upsert oracle: latest non-
    * tombstone record per key. ONE definition — the batch compaction and
    * its streamed materialized view must stay bit-identical (the same
    * no-drift convention as bm25Ctes / bpeEncodeSql). */
  private val upsertViewSql: String =
    """WITH r AS (SELECT user_id, event_id, event_type, value,
      |             epoch_us(ts) AS ts_us,
      |             row_number() OVER (PARTITION BY user_id
      |               ORDER BY ts DESC, event_id DESC) AS rn
      |           FROM events)
      |SELECT user_id, event_id AS last_event_id, event_type AS last_type,
      |  round(value, 6) AS last_value, CAST(ts_us AS BIGINT) AS last_ts_us
      |FROM r WHERE rn = 1 AND event_type <> 'error'
      |ORDER BY user_id""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- As-of join: each purchase event picks up the user's most recent
    // strictly-prior click (time in µs; event_id breaks sub-µs ties —
    // never order on raw nanos, the oracle only sees µs).
    Q("q_asof_join",
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |                  epoch_us(ts) AS t FROM events),
        |l AS (SELECT event_id, user_id, t FROM e WHERE event_type = 'purchase'),
        |r AS (SELECT event_id, user_id, t, value FROM e WHERE event_type = 'click'),
        |j AS (SELECT l.event_id, l.user_id, l.t,
        |             r.event_id AS asof_event_id, r.t AS asof_t,
        |             r.value AS asof_value,
        |             ROW_NUMBER() OVER (PARTITION BY l.event_id
        |               ORDER BY r.t DESC, r.event_id DESC) AS rn
        |      FROM l LEFT JOIN r ON l.user_id = r.user_id
        |        AND (r.t < l.t OR (r.t = l.t AND r.event_id < l.event_id)))
        |SELECT event_id, user_id, t, asof_event_id, asof_t,
        |       round(asof_value, 6) AS asof_value
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d).withColumn("t", expr("ts div 1000"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("t"), col("value"))
      TemporalJoins.asOf(purchases, clicks,
          keys = Seq("user_id"), order = Seq("t", "event_id"),
          payload = Seq("event_id", "t", "value"))
        .select(col("event_id"), col("user_id"), col("t"),
          col("asof_event_id"), col("asof_t"),
          round(col("asof_value"), 6).as("asof_value"))
        .orderBy(col("event_id"))
    },

    // ---- Range join: lineitems priced inside ±5 bands around the first
    // 100 parts' retail prices. Bucket width = the band width, so each
    // interval covers ≤2 buckets; band bounds are computed with the same
    // double ops on both engines (bit-equal comparisons).
    Q("q_range_join",
      """WITH iv AS (SELECT p_partkey AS band_part,
        |                   p_retailprice - 5 AS lo, p_retailprice + 5 AS hi
        |            FROM part WHERE p_partkey <= 100)
        |SELECT l.l_orderkey, l.l_linenumber, iv.band_part,
        |       l.l_extendedprice AS price
        |FROM lineitem l JOIN iv
        |  ON l.l_extendedprice >= iv.lo AND l.l_extendedprice < iv.hi
        |ORDER BY l.l_orderkey, l.l_linenumber, iv.band_part""".stripMargin) { (s, d) =>
      val iv = Tables.part(s, d).filter(col("p_partkey") <= 100)
        .select(col("p_partkey").as("band_part"),
          (col("p_retailprice") - 5).as("lo"), (col("p_retailprice") + 5).as("hi"))
      val pts = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").as("price"))
      TemporalJoins.pointInterval(pts, iv, "price", "lo", "hi", bucketWidth = 10.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("band_part"), col("price"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("band_part"))
    },

    // ---- CDC upsert / latest-state compaction: the merge primitive that
    // turns a change feed into current table state — latest record per
    // key by (ts, event_id), keys whose latest op is the tombstone
    // ('error' here) deleted from the result. ONE map-side-combinable
    // `max(struct(...))` aggregate — never a per-key window sort: at
    // 100 TB the partial maxes reduce each partition to ≤|keys| rows
    // before the single shuffle, where the row_number formulation (which
    // the oracle states) would sort the whole feed.
    Q("q_cdc_upsert", upsertViewSql) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
          col("value"))).as("last"))
        .filter(col("last.event_type") =!= "error")
        .select(col("user_id"), col("last.event_id").as("last_event_id"),
          col("last.event_type").as("last_type"),
          round(col("last.value"), 6).as("last_value"),
          expr("last.ts div 1000").as("last_ts_us"))
        .orderBy(col("user_id"))
    },

    // ---- Snapshot diff between two versions of the upsert view: the
    // data-versioning primitive (what changed between yesterday's and
    // today's materialization — the audit row a dataset release ships).
    // Each version is the same map-side-combinable max(struct) compaction
    // as q_cdc_upsert at its cutoff; classification is one full outer
    // join on the key. Both versions derive from ONE scan of the feed
    // (the T1 state aggregates a filtered copy of the same relation —
    // Spark plans two passes here, but at 100 TB the T1 state would be
    // the PREVIOUS release's stored table, making this a pure
    // state-vs-state join with no feed re-scan).
    Q("q_upsert_diff",
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             epoch_us(ts) AS t FROM events),
        |s1 AS (SELECT user_id, event_id FROM (
        |         SELECT user_id, event_id, event_type,
        |           row_number() OVER (PARTITION BY user_id
        |             ORDER BY t DESC, event_id DESC) AS rn
        |         FROM e WHERE t <= 1705276800000000)
        |       WHERE rn = 1 AND event_type <> 'error'),
        |s2 AS (SELECT user_id, event_id FROM (
        |         SELECT user_id, event_id, event_type,
        |           row_number() OVER (PARTITION BY user_id
        |             ORDER BY t DESC, event_id DESC) AS rn
        |         FROM e)
        |       WHERE rn = 1 AND event_type <> 'error')
        |SELECT COALESCE(s2.user_id, s1.user_id) AS user_id,
        |  s1.event_id AS old_event_id, s2.event_id AS new_event_id,
        |  CASE WHEN s1.user_id IS NULL THEN 'added'
        |       WHEN s2.user_id IS NULL THEN 'deleted'
        |       ELSE 'updated' END AS change
        |FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
        |WHERE s1.user_id IS NULL OR s2.user_id IS NULL
        |   OR s1.event_id <> s2.event_id
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      // 2024-01-15 00:00 UTC in µs — the oracle truncates to µs BEFORE
      // both the cutoff and the (t, event_id) ordering, so the engine
      // must too (q_asof_join doctrine: never order on raw nanos, the
      // oracle only sees µs; a sub-µs tail at the cutoff or a same-µs
      // tie where event_id order differs from nano order would diverge).
      val t1Us = 1705276800000000L
      def stateAt(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("user_id"))
        .agg(max(struct(col("t"), col("event_id"), col("event_type"))).as("last"))
        .filter(col("last.event_type") =!= "error")
        .select(col("user_id"), col("last.event_id").as("event_id"))
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts div 1000").as("t"))
      val s1 = stateAt(ev.filter(col("t") <= t1Us))
        .withColumnRenamed("user_id", "u1").withColumnRenamed("event_id", "e1")
      val s2 = stateAt(ev)
        .withColumnRenamed("user_id", "u2").withColumnRenamed("event_id", "e2")
      s1.join(s2, col("u1") === col("u2"), "full_outer")
        .filter(col("u1").isNull || col("u2").isNull || col("e1") =!= col("e2"))
        .select(coalesce(col("u2"), col("u1")).as("user_id"),
          col("e1").as("old_event_id"), col("e2").as("new_event_id"),
          when(col("u1").isNull, "added")
            .when(col("u2").isNull, "deleted")
            .otherwise("updated").as("change"))
        .orderBy(col("user_id"))
    },

    // ---- The same upsert view MAINTAINED AT INGEST: a complete-mode
    // streaming aggregation is Spark's materialized-view primitive — the
    // per-key max(struct) state updates incrementally across triggers
    // (3 staged micro-batches), and the final table must equal the batch
    // compaction bit-for-bit (the shared oracle): state loss or a
    // re-delivered batch would surface as a stale or shifted `last_*`
    // column. The view is |keys| rows by construction (bounded sink).
    Q("q_stream_upsert", upsertViewSql) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      Staging.replay(ev, Seq(col("event_id")), 3) { src =>
        // the view form sizes the per-key state store: otherwise it
        // freezes the session's shuffle width (SPARK_GRAFT_CPUS) into the
        // checkpoint — mostly-idle state tasks per trigger at bench batch
        // sizes on a wide host
        Staging.view(src.groupBy(col("user_id"))
          .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
            col("value"))).as("last")), "complete") { df =>
          df.filter(col("last.event_type") =!= "error")
            .select(col("user_id"), col("last.event_id").as("last_event_id"),
              col("last.event_type").as("last_type"),
              round(col("last.value"), 6).as("last_value"),
              expr("last.ts div 1000").as("last_ts_us"))
            .orderBy(col("user_id"))
        }
      }
    }
  )
}
