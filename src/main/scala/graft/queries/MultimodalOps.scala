package graft.queries

import graft.{Q, Tables}
import graft.functions.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal-column queries: `documents.text` bytes stand in for media
  * payloads (no media libs in this environment — SURVEY.md north-star
  * multimodal row). The binary-column plumbing (schema, batching,
  * partition-local decode) is real; the decode itself is the deterministic
  * fake in [[graft.functions.Multimodal]].
  */
object MultimodalOps {

  /** Decode + aHash + 4×15-bit chunk rows of a documents-shaped media
    * batch — the band-index schema the incremental media dedup stores
    * per snapshot ((media_id, simhash, chunk, ck); the signature rides
    * along so the exact verify never touches a historical payload). */
  private[graft] def mediaChunks(s: org.apache.spark.sql.SparkSession,
      part: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val ds = Tables.spread(part, col("doc_id"))
      .select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("payload"),
        lit("text/plain").as("mime"))
      .as[Multimodal.MediaRecord]
    graft.functions.SimHash.chunkRows(
      Multimodal.perceptualPartitions(ds).toDF(), "media_id")
  }

  /** The media refresh-pair kernel with EXPLICIT state: stored chunk
    * index + one decoded batch's chunk rows → exact Hamming ≤ 3 pairs
    * touching the batch. ONE probe of the stored index (the
    * incrementalCandidatePairs posture: history is the dominant side at
    * production scale, so it is scanned/joined exactly once); new-vs-old
    * pairs order by least/greatest since either side may hold the
    * smaller id; new-vs-new self-collisions are disjoint from new-old
    * (one end of every new-old pair is historical), so plain union.
    * Factored so the multi-batch lifecycle (SnapshotLifecycleSuite)
    * drives the SAME kernel as the single-refresh query. */
  private[graft] def mediaRefreshPairs(hist: org.apache.spark.sql.DataFrame,
      newChunks: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.functions.SimHash
    val n = newChunks.select(col("chunk"), col("ck"),
      col("media_id").as("doc_n"), col("simhash").as("sim_n"))
    val h = hist.select(col("chunk"), col("ck"),
      col("media_id").as("doc_h"), col("simhash").as("sim_h"))
    val newOld = n.join(h, Seq("chunk", "ck"))
      .select(least(col("doc_n"), col("doc_h")).as("doc_a"),
        greatest(col("doc_n"), col("doc_h")).as("doc_b"),
        expr("bit_count(sim_n ^ sim_h)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
    newOld.union(SimHash.verifiedPairs(newChunks, newChunks, "media_id", maxDist = 3))
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
        col("hamming").cast("long").as("hamming"))
  }

  val all: Seq[Q] = Seq(

    // ---- Metadata extraction over a binary payload column. The arithmetic
    // "decode" is SQL-expressible, so this one keeps a DuckDB oracle.
    Q("q_media_meta",
      """SELECT media_id, n_bytes,
        |  CAST((n_bytes % 64 + 1) * 16 AS INT) AS width,
        |  CAST((n_bytes % 48 + 1) * 16 AS INT) AS height,
        |  CAST(n_bytes % 30 + 1 AS INT) AS n_frames
        |FROM (SELECT doc_id AS media_id,
        |        CAST(octet_length(encode(text)) AS INT) AS n_bytes
        |      FROM documents)
        |ORDER BY media_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id").as("media_id"),
          length(col("text").cast("binary")).as("n_bytes"))
        .select(col("media_id"), col("n_bytes"),
          Multimodal.fakeWidth(col("n_bytes")).cast("int").as("width"),
          Multimodal.fakeHeight(col("n_bytes")).cast("int").as("height"),
          Multimodal.fakeFrames(col("n_bytes")).cast("int").as("n_frames"))
        .orderBy(col("media_id"))
    },

    // ---- Frame sampling: every 5th frame index per clip (the shape a
    // video pipeline explodes before per-frame work fans out). Integer
    // sequence arithmetic — oracle-able.
    Q("q_media_frames",
      """SELECT media_id, CAST(f AS INT) AS frame_idx
        |FROM (SELECT doc_id AS media_id,
        |        CAST(octet_length(encode(text)) AS INT) % 30 + 1 AS n_frames
        |      FROM documents),
        |  unnest(range(0, n_frames, 5)) AS u(f)
        |ORDER BY media_id, frame_idx""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id").as("media_id"),
          Multimodal.fakeFrames(length(col("text").cast("binary"))).cast("int").as("n_frames"))
        .select(col("media_id"),
          explode(Multimodal.sampleFrameIdx(col("n_frames"), 5)).as("f"))
        .select(col("media_id"), col("f").cast("int").as("frame_idx"))
        .orderBy(col("media_id"), col("frame_idx"))
    },

    // ---- Resize stage metadata contract: bound each clip to 256px,
    // aspect preserved, integer-exact on both engines.
    Q("q_media_resize",
      """SELECT media_id, width, height,
        |  CAST(width * 256 // GREATEST(width, height) AS INT) AS out_w,
        |  CAST(height * 256 // GREATEST(width, height) AS INT) AS out_h
        |FROM (SELECT doc_id AS media_id,
        |        CAST((CAST(octet_length(encode(text)) AS INT) % 64 + 1) * 16 AS INT) AS width,
        |        CAST((CAST(octet_length(encode(text)) AS INT) % 48 + 1) * 16 AS INT) AS height
        |      FROM documents)
        |ORDER BY media_id""".stripMargin) { (s, d) =>
      val n = length(col("text").cast("binary"))
      val base = Tables.documents(s, d)
        .select(col("doc_id").as("media_id"),
          Multimodal.fakeWidth(n).cast("int").as("width"),
          Multimodal.fakeHeight(n).cast("int").as("height"))
      val (w, h) = Multimodal.resizeDims(col("width"), col("height"), 256)
      base.select(col("media_id"), col("width"), col("height"),
          w.cast("int").as("out_w"), h.cast("int").as("out_h"))
        .orderBy(col("media_id"))
    },

    // ---- Feature extraction → similarity composition: the partition-
    // local "model" emits a fixed-size feature vector per media row (a
    // 16-bucket byte histogram, L1-normalized), then the VECTOR operators
    // take over — top-5 most similar media to media_id 0 by cosine,
    // exactly the embeddings pipeline shape. Oracle: DuckDB recomputes
    // the histogram char-by-char (the corpus is ASCII, so byte buckets ==
    // `ascii(char) // 16`) and the cosine top-5 — the mapPartitions
    // "model", the normalization and the similarity ranking are all
    // driver-checked end to end.
    Q("q_media_features",
      """WITH ch AS (
        |  SELECT doc_id, ascii(substr(text, CAST(i AS INT), 1)) // 16 AS bucket
        |  FROM documents, unnest(range(1, len(text) + 1)) AS u(i)),
        |cnt AS (SELECT doc_id, bucket, COUNT(*) AS c FROM ch GROUP BY doc_id, bucket),
        |base AS (
        |  SELECT d.doc_id, r.b AS bucket,
        |    COALESCE(c.c, 0) / CAST(len(d.text) AS DOUBLE) AS f
        |  FROM documents d CROSS JOIN unnest(range(0, 16)) AS r(b)
        |  LEFT JOIN cnt c ON c.doc_id = d.doc_id AND c.bucket = r.b),
        |v AS (SELECT doc_id, list(f ORDER BY bucket) AS feat FROM base GROUP BY doc_id),
        |q AS (SELECT feat AS qv FROM v WHERE doc_id = 0)
        |SELECT v.doc_id AS media_id, round(list_cosine_similarity(v.feat, qv), 6) AS sim
        |FROM v, q WHERE v.doc_id <> 0
        |ORDER BY sim DESC, media_id LIMIT 5""".stripMargin) { (s, d) =>
      import s.implicits._
      val ds = Tables.documents(s, d)
        .select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("payload"),
          lit("text/plain").as("mime"))
        .as[Multimodal.MediaRecord]
      val feats = Multimodal.featurePartitions(ds).toDF()
        .withColumn("v", col("feat").cast("array<double>"))
      val qv = feats.filter(col("media_id") === 0).select(col("v").as("qv"))
      feats.filter(col("media_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("media_id"),
          round(graft.functions.VectorFunctions.cosine(col("v"), col("qv")), 6).as("sim"))
        .orderBy(col("sim").desc, col("media_id"))
        .limit(5)
    },

    // ---- Perceptual-hash media NEAR-DUP — dedup extended beyond text:
    // a 60-bit aHash per media row computed at the partition-local
    // decode seam (fixed 8-byte blocks over the first 480 payload
    // bytes; block-mean vs prefix-mean by integer cross-multiply, so
    // the signature is exact and oracle-recomputable bit-for-bit),
    // then the SimHash Hamming-LSH machinery takes over UNCHANGED: 4×15
    // bit band candidates (pigeonhole-complete for distance ≤ 3), exact
    // Hamming verify on candidates only — never an O(n²) cross join.
    // The oracle restates signature + full pair listing from ascii()
    // arithmetic, so a banding recall miss, a wrong block boundary, or a
    // broken mean rule all hash-mismatch.
    Q("q_media_dedup",
      """WITH ch AS (
        |  SELECT doc_id, CAST((i - 1) // 8 AS INT) AS blk,
        |         ascii(substr(text, CAST(i AS INT), 1)) AS byte
        |  FROM documents,
        |       unnest(range(1, LEAST(len(text), 480) + 1)) AS u(i)),
        |tot AS (SELECT doc_id, SUM(byte) AS total, COUNT(*) AS n
        |        FROM ch GROUP BY doc_id),
        |bs AS (SELECT doc_id, blk, SUM(byte) AS sb, COUNT(*) AS nb
        |       FROM ch GROUP BY doc_id, blk),
        |sig AS (SELECT bs.doc_id,
        |         CAST(SUM(CASE WHEN bs.sb * t.n > t.total * bs.nb
        |                  THEN (CAST(1 AS BIGINT) << CAST(bs.blk AS INT))
        |                  ELSE 0 END) AS BIGINT) AS sh
        |        FROM bs JOIN tot t ON bs.doc_id = t.doc_id GROUP BY bs.doc_id)
        |SELECT a.doc_id AS media_a, b.doc_id AS media_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |ORDER BY media_a, media_b""".stripMargin) { (s, d) =>
      import s.implicits._
      val ds = Tables.spread(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("payload"),
          lit("text/plain").as("mime"))
        .as[Multimodal.MediaRecord]
      val sig = Multimodal.perceptualPartitions(ds).toDF()
      graft.functions.SimHash.nearPairs(sig, "media_id", maxDist = 3)
        .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("media_a"), col("media_b"))
    },

    // ---- INCREMENTAL media dedup — the refresh seam extended to the
    // media modality (q_incremental_dedup's shape on the aHash path): a
    // new image batch (media_id % 8 = 0) deduped against the accumulated
    // historical media WITHOUT re-decoding or re-hashing the old side.
    // The historical Hamming-LSH band index — (media_id, simhash, chunk,
    // ck), the signature riding along so the exact verify never touches
    // a historical payload — persists once as a parquet artifact; this
    // run decodes ONLY the new batch at the partition-local seam, probes
    // the stored index via the (chunk, ck) equi-join (new-vs-old), adds
    // the batch's own chunk collisions (new-vs-new), and verifies exact
    // Hamming ≤ 3 on collision rows only. Old-vs-old pairs are never
    // generated. Recall is structural, not probabilistic: 4×15-bit
    // chunks are pigeonhole-complete for distance ≤ 3, stored or fresh.
    // The oracle states the FULL recompute restricted to pairs touching
    // a new media row, so a stale index or dropped probe turns the gate
    // red. Plan-asserted: the historical side is an artifact scan and
    // exactly one documents scan (the new batch's) exists (PlanSuite).
    Q("q_incremental_media_dedup",
      s"""WITH ch AS (
        |  SELECT doc_id, CAST((i - 1) // 8 AS INT) AS blk,
        |         ascii(substr(text, CAST(i AS INT), 1)) AS byte
        |  FROM documents,
        |       unnest(range(1, LEAST(len(text), 480) + 1)) AS u(i)),
        |tot AS (SELECT doc_id, SUM(byte) AS total, COUNT(*) AS n
        |        FROM ch GROUP BY doc_id),
        |bs AS (SELECT doc_id, blk, SUM(byte) AS sb, COUNT(*) AS nb
        |       FROM ch GROUP BY doc_id, blk),
        |sig AS (SELECT bs.doc_id,
        |         CAST(SUM(CASE WHEN bs.sb * t.n > t.total * bs.nb
        |                  THEN (CAST(1 AS BIGINT) << CAST(bs.blk AS INT))
        |                  ELSE 0 END) AS BIGINT) AS sh
        |        FROM bs JOIN tot t ON bs.doc_id = t.doc_id GROUP BY bs.doc_id)
        |SELECT a.doc_id AS media_a, b.doc_id AS media_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |  AND (${DedupOps.newIdSql("a.doc_id")} OR ${DedupOps.newIdSql("b.doc_id")})
        |ORDER BY media_a, media_b""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val isNew = DedupOps.isNewDoc
      // the stored historical index: on a real refresh it was written by
      // the previous snapshot's run — this run never re-decodes it
      val hist = Artifacts.parquet(s, d, "inc_media_band_index") {
        mediaChunks(s, docs.filter(!isNew))
      }
      // decode + hash the new batch ONCE (it feeds the stored-index probe
      // and the self-collision join) — the q_incremental_dedup newBands
      // pattern.
      // eager: PlanSuite pins the incremental family's new batch as
      // materialized
      val newChunks = mediaChunks(s, docs.filter(isNew)).localCheckpoint()
      mediaRefreshPairs(hist, newChunks)
        .orderBy(col("media_a"), col("media_b"))
    },

    // ---- Partition-local decode via typed mapPartitions (one "codec"
    // instance per partition, rows streamed through it). The md5 content
    // checksum gives the decode row an exact SQL twin, so the whole
    // mapPartitions path — schema, batching, per-partition init — sits
    // inside the correctness gate.
    Q("q_media_decode",
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  CAST((octet_length(encode(text)) % 64 + 1) * 16 AS INT) AS width,
        |  CAST((octet_length(encode(text)) % 48 + 1) * 16 AS INT) AS height,
        |  CAST(octet_length(encode(text)) % 30 + 1 AS INT) AS n_frames,
        |  md5(text) AS checksum
        |FROM documents ORDER BY media_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val ds = Tables.documents(s, d)
        .select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("payload"),
          lit("text/plain").as("mime"))
        .as[Multimodal.MediaRecord]
      Multimodal.decodePartitions(ds).toDF().orderBy(col("media_id"))
    },

    // ---- The COMPOSED media preprocessing plan — meta decode → frame
    // gate → resize → frame sampling → per-output-shape stats, chained
    // in ONE query the way a video-curation job runs it (the multimodal
    // twin of q_curation_pipeline). Every stage is a per-row expression
    // fused into the single scan; the only shuffle is the final
    // (out_w, out_h) rollup — the shape that holds at any corpus size.
    // Uses the REAL operators (fakeWidth/Height/Frames, resizeDims,
    // sampleFrameIdx), so the composition itself is what the oracle
    // checks, not a re-derivation.
    Q("q_media_pipeline",
      """WITH meta AS (SELECT doc_id,
        |         CAST(octet_length(encode(text)) AS INT) AS n FROM documents),
        |m2 AS (SELECT doc_id, (n % 64 + 1) * 16 AS w, (n % 48 + 1) * 16 AS h,
        |              n % 30 + 1 AS fr FROM meta),
        |kept AS (SELECT * FROM m2 WHERE fr >= 10),
        |rs AS (SELECT doc_id,
        |         CAST(w * 256 // GREATEST(w, h) AS INT) AS out_w,
        |         CAST(h * 256 // GREATEST(w, h) AS INT) AS out_h, fr,
        |         CAST(len(range(0, fr, 5)) AS BIGINT) AS n_sampled
        |       FROM kept)
        |SELECT out_w, out_h, COUNT(*) AS n_media,
        |  CAST(SUM(fr) AS BIGINT) AS sum_frames,
        |  CAST(SUM(n_sampled) AS BIGINT) AS sum_sampled
        |FROM rs GROUP BY out_w, out_h ORDER BY out_w, out_h""".stripMargin) { (s, d) =>
      val n = length(col("text").cast("binary"))
      val meta = Tables.documents(s, d).select(
        col("doc_id"),
        Multimodal.fakeWidth(n).cast("int").as("w"),
        Multimodal.fakeHeight(n).cast("int").as("h"),
        Multimodal.fakeFrames(n).cast("int").as("fr"))
      val kept = meta.filter(col("fr") >= 10)
      val (ow, oh) = Multimodal.resizeDims(col("w"), col("h"), 256)
      kept.select(col("fr"),
          ow.cast("int").as("out_w"), oh.cast("int").as("out_h"),
          size(Multimodal.sampleFrameIdx(col("fr"), 5)).cast("long").as("n_sampled"))
        .groupBy(col("out_w"), col("out_h"))
        .agg(count(lit(1)).as("n_media"),
          sum(col("fr")).as("sum_frames"),
          sum(col("n_sampled")).as("sum_sampled"))
        .orderBy(col("out_w"), col("out_h"))
    },

    // ---- Media preprocessing AT INGEST: the q_media_pipeline stages
    // (meta → frame-count gate → resize → frame-sample) applied to each
    // arriving micro-batch — the stateless multimodal twin of
    // q_stream_ingest_prep. Per-doc media rows land through the
    // idempotent per-batch write (one row per KEPT media item, bounded);
    // the (out_w, out_h) rollup spans batches, so it aggregates over the
    // drained local relation — at scale that rollup is the same one
    // exchange the batch form pays, fed by the per-trigger map passes.
    // Same oracle as the batch pipeline: a missed batch, a broken gate,
    // or a drifted resize contract hash-mismatches.
    Q("q_stream_media_prep",
      """WITH meta AS (SELECT doc_id,
        |         CAST(octet_length(encode(text)) AS INT) AS n FROM documents),
        |m2 AS (SELECT doc_id, (n % 64 + 1) * 16 AS w, (n % 48 + 1) * 16 AS h,
        |              n % 30 + 1 AS fr FROM meta),
        |kept AS (SELECT * FROM m2 WHERE fr >= 10),
        |rs AS (SELECT doc_id,
        |         CAST(w * 256 // GREATEST(w, h) AS INT) AS out_w,
        |         CAST(h * 256 // GREATEST(w, h) AS INT) AS out_h, fr,
        |         CAST(len(range(0, fr, 5)) AS BIGINT) AS n_sampled
        |       FROM kept)
        |SELECT out_w, out_h, COUNT(*) AS n_media,
        |  CAST(SUM(fr) AS BIGINT) AS sum_frames,
        |  CAST(SUM(n_sampled) AS BIGINT) AS sum_sampled
        |FROM rs GROUP BY out_w, out_h ORDER BY out_w, out_h""".stripMargin) { (s, d) =>
      Staging.ledger(Tables.documents(s, d).select(col("doc_id"), col("text")),
          "doc_id", 2) { (bdf, id, out) =>
        val n = length(col("text").cast("binary"))
        val meta = bdf.select(
          col("doc_id"),
          Multimodal.fakeWidth(n).cast("int").as("w"),
          Multimodal.fakeHeight(n).cast("int").as("h"),
          Multimodal.fakeFrames(n).cast("int").as("fr"))
        val kept = meta.filter(col("fr") >= 10)
        val (ow, oh) = Multimodal.resizeDims(col("w"), col("h"), 256)
        Staging.writeBatch(
          kept.select(col("doc_id"), col("fr"),
            ow.cast("int").as("out_w"), oh.cast("int").as("out_h"),
            size(Multimodal.sampleFrameIdx(col("fr"), 5)).cast("long")
              .as("n_sampled")),
          s"$out/res", id)
      } { out =>
        val perDoc = Staging.drainParquet(s, s"$out/res", col("doc_id"))
        perDoc.groupBy(col("out_w"), col("out_h"))
          .agg(count(lit(1)).as("n_media"),
            sum(col("fr")).as("sum_frames"),
            sum(col("n_sampled")).as("sum_sampled"))
          .orderBy(col("out_w"), col("out_h"))
      }
    }
  )
}
