package graft.queries

import graft.{Q, Tables}
import graft.functions.{TextFunctions, VectorFunctions}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-retrieval ranking over `documents` + `embeddings`: Okapi BM25
  * lexical scoring and hybrid lexical/vector fusion via reciprocal-rank
  * fusion (RRF) — the retrieval layer a training-data pipeline uses for
  * query-based corpus selection and the serving layer a RAG stack runs.
  *
  * Scale posture: BM25 never materializes a full inverted index here —
  * the per-(doc, term) explode is filtered to the QUERY terms inside
  * codegen before any shuffle, so the aggregated relation is
  * O(docs-containing-a-query-term × |query|), not corpus-token-scale;
  * document-length stats are one map-only pass (no explode, no shuffle)
  * reduced to a single driver row. RRF fuses bounded top-k lists (the
  * production shape: rank fusion is defined on retrieved lists, not
  * corpora), so its windows run over ≤k rows.
  */
object RetrievalOps {

  /** Okapi BM25 parameters (the standard defaults). */
  private val K1 = 1.2
  private val B = 0.75
  /** RRF smoothing constant (Cormack et al.'s k = 60). */
  private val RrfK = 60

  /** Fixed query-term set: deterministic across scale factors, present in
    * the synthetic corpus vocabulary. */
  private val QueryTerms = Seq("vector", "query", "merge", "spark")

  private def termsSqlList = QueryTerms.map(t => s"'$t'").mkString("[", ", ", "]")
  private def termsSqlIn = QueryTerms.map(t => s"'$t'").mkString(", ")

  /** The BM25 scoring pipeline as SQL CTEs (shared by both oracles so the
    * two queries cannot drift): yields `sc(doc_id, bm25)`. Per-term
    * contributions are rounded to 6dp and summed as DECIMAL(18,6) — the
    * order-independent exact-sum contract every double sum here follows. */
  private val bm25Ctes =
    s"""qt AS (SELECT unnest($termsSqlList) AS word),
       |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |      FROM documents),
       |ww AS (SELECT doc_id, word FROM w WHERE word <> ''),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM ww GROUP BY doc_id),
       |stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
       |                 COUNT(*) AS n FROM dl),
       |tf AS (SELECT ww.doc_id, ww.word, COUNT(*) AS tf
       |       FROM ww JOIN qt USING (word) GROUP BY ww.doc_id, ww.word),
       |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
       |sc AS (SELECT tf.doc_id,
       |         round(CAST(SUM(CAST(round(
       |           ln((n - df + 0.5) / (df + 0.5) + 1.0) *
       |           (tf * ${K1 + 1}) /
       |           (tf + $K1 * (${1 - B} + $B * dl.dl / avgdl)), 6)
       |           AS DECIMAL(18,6))) AS DOUBLE), 6) AS bm25
       |       FROM tf JOIN df USING (word)
       |         JOIN dl ON dl.doc_id = tf.doc_id
       |         CROSS JOIN stats
       |       GROUP BY tf.doc_id)""".stripMargin

  /** The non-empty token array of `text` (matches the oracle's
    * `string_split` + `<> ''` filter). */
  private def nonEmptyTokens =
    filter(TextFunctions.tokens(col("text")), t => t =!= lit(""))

  /** Score a `(doc_id, dl, word, tf)` relation to `(doc_id, bm25)` given
    * the corpus stats and the per-term document frequencies. `df` is a
    * driver map bounded by |QueryTerms| (each IDF precomputed with the
    * SAME double ops the oracle's `ln((n-df+0.5)/(df+0.5)+1)` states —
    * long subtraction, then the +0.5/divide/+1.0 in doubles, then
    * Math.log — bit-equal results), folded into a codegen'd when-chain:
    * the tf relation is consumed exactly ONCE, so nothing needs caching
    * (the previous cache+self-derived-df form left an executor-cache
    * residue per run and paid a join this shape doesn't). Per-term
    * contributions round to 6dp and sum as DECIMAL(18,6)
    * (order-independent exact sum). */
  private def scoreTf(tf: DataFrame, avgdl: Double, nDocs: Long,
      df: Map[String, Long]): DataFrame = {
    val idf = df.map { case (w, n) =>
      w -> math.log((nDocs - n + 0.5) / (n + 0.5) + 1.0) }
    // terms with df = 0 never appear in tf rows; the fold's lit(0.0)
    // base is unreachable by construction
    val idfCol = QueryTerms.filter(idf.contains).foldLeft(lit(0.0)) {
      (acc, t) => when(col("word") === t, idf(t)).otherwise(acc) }
    val contrib =
      idfCol * (col("tf") * (K1 + 1)) /
        (col("tf") + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / avgdl))
    tf.select(col("doc_id"), round(contrib, 6).cast("decimal(18,6)").as("c"))
      .groupBy(col("doc_id")).agg(sum(col("c")).as("s"))
      .select(col("doc_id"), round(col("s").cast("double"), 6).as("bm25"))
  }

  /** Query-term postings (doc_id, dl, word, tf) of a documents relation —
    * the posting-list schema the incremental BM25 stores per snapshot and
    * appends per batch. */
  private[graft] def bm25QueryTf(src: DataFrame): DataFrame = src
    .select(col("doc_id"), size(nonEmptyTokens).as("dl"),
      explode(TextFunctions.tokens(col("text"))).as("word"))
    .filter(col("word").isin(QueryTerms: _*))
    .groupBy(col("doc_id"), col("dl"), col("word"))
    .agg(count(lit(1)).as("tf"))

  /** The frozen snapshot stats row (avgdl, n, df_<term>…) of a historical
    * corpus — derived once per snapshot, served until the next full
    * rebuild (the stale-IDF contract). */
  private[graft] def bm25SnapshotStats(hist: DataFrame): DataFrame = {
    val dfAggs = QueryTerms.map(t =>
      sum(when(array_contains(col("tk"), t), 1L).otherwise(0L)).as(s"df_$t"))
    hist
      .select(nonEmptyTokens.as("tk"))
      .select(size(col("tk")).as("dl"), col("tk"))
      .filter(col("dl") > 0)
      .agg((sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
        (count(lit(1)).as("n") +: dfAggs): _*)
  }

  /** Serve merged postings under a FROZEN stats row: terms the snapshot
    * never saw have no stored idf — dropped, like the oracle's
    * historical-df inner join (they score at the next full rebuild).
    * Factored so the multi-batch lifecycle (SnapshotLifecycleSuite)
    * serves through the SAME path as the single-refresh query. */
  private[graft] def bm25ServeFrozen(allTf: DataFrame,
      srow: org.apache.spark.sql.Row): DataFrame = {
    // zero historical docs ⇒ NULL avgdl (getDouble would NPE) and an
    // undefined stored-stats contract — unreachable on the shipped
    // fixtures, but fail with the contract named rather than an NPE
    val nDocs = srow.getLong(1)
    require(nDocs > 0,
      "q_incremental_bm25: historical snapshot is empty — no frozen " +
      "avgdl/N/df to serve under; run a full build instead of a refresh")
    val avgdl = srow.getDouble(0)
    val dfMap = QueryTerms.zipWithIndex
      .map { case (t, i) => t -> srow.getLong(2 + i) }
      .filter(_._2 > 0).toMap
    scoreTf(allTf.filter(col("word").isin(dfMap.keys.toSeq: _*)),
        avgdl, nDocs, dfMap)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  /** (doc_id, bm25) for every document containing ≥1 query term. One
    * corpus pass for length stats AND per-term document frequencies
    * (map-only, no explode — `array_contains` flags per query term —
    * reduced to a single driver row), one for term frequencies (explode
    * filtered to |QueryTerms| inside codegen). */
  private def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, d), col("doc_id"))
    // corpus stats: no explode, no shuffle — reduced to one row
    // (metadata-scale driver collect, the q_tfidf_top posture). dl > 0
    // matches the oracle's `ww`-derived stats: a document with no
    // non-empty token contributes to NEITHER n nor avgdl (its absence
    // would otherwise shift every IDF and length norm on corpora with
    // empty/whitespace-only docs). df per term rides the same pass: a
    // token-less doc contains no query term, so the dl > 0 gate cannot
    // change any df.
    val dfAggs = QueryTerms.map(t =>
      sum(when(array_contains(col("tk"), t), 1L).otherwise(0L)).as(s"df_$t"))
    val statsRow = docs
      .select(nonEmptyTokens.as("tk"))
      .select(size(col("tk")).as("dl"), col("tk"))
      .filter(col("dl") > 0)
      .agg((sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
        (count(lit(1)).as("n") +: dfAggs): _*)
      .head()
    val avgdl = statsRow.getDouble(0)
    val nDocs = statsRow.getLong(1)
    val dfMap = QueryTerms.zipWithIndex
      .map { case (t, i) => t -> statsRow.getLong(2 + i) }
      .filter(_._2 > 0).toMap
    // dl rides the tf groupBy as a grouping column (functionally dependent
    // on doc_id) — no separate per-doc join
    scoreTf(docs
      .select(col("doc_id"), size(nonEmptyTokens).as("dl"),
        explode(TextFunctions.tokens(col("text"))).as("word"))
      .filter(col("word").isin(QueryTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("word"))
      .agg(count(lit(1)).as("tf")),
      avgdl, nDocs, dfMap)
  }

  val all: Seq[Q] = Seq(

    // ---- Okapi BM25: score every document against a fixed query-term
    // set, return the top 20. The global top-k is orderBy+limit
    // (TakeOrderedAndProject — per-partition bounded heaps, never a full
    // sort), so the only corpus-scale shuffle is the (doc, term) count.
    Q("q_bm25",
      s"""WITH $bm25Ctes
         |SELECT doc_id, bm25 FROM sc
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      bm25Scores(s, d)
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
    },

    // ---- INCREMENTAL BM25 — the retrieval analogue of
    // q_incremental_dedup / q_incremental_semdedup (the refresh trilogy's
    // third seam): a new crawl batch (doc_id % 8 = 0) becomes searchable
    // WITHOUT re-tokenizing the accumulated corpus. The historical
    // query-term postings (doc, dl, term, tf) and the frozen corpus
    // stats (avgdl, N, per-term df) persist as parquet artifacts from
    // the previous snapshot's run; this run tokenizes ONLY the new
    // batch, appends its postings, and serves the union under the
    // STORED stats — the production stale-IDF contract between full
    // index rebuilds (new docs are scored and ranked immediately; IDF,
    // avgdl and N refresh at the next rebuild, and a query term the
    // snapshot never saw contributes zero until then — the oracle
    // states exactly that via its historical-df inner join). The oracle
    // restates the FULL recompute (historical stats, all-corpus term
    // frequencies, frozen-stats scoring), so a stale posting, a
    // re-derived stat, or drift in the stale-IDF rule hash-mismatches.
    // PlanSuite asserts the historical side enters the serving plan as
    // an artifact scan with exactly one documents scan (the new
    // batch's).
    Q("q_incremental_bm25",
      s"""WITH qt AS (SELECT unnest($termsSqlList) AS word),
         |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |      FROM documents),
         |ww AS (SELECT doc_id, word FROM w WHERE word <> ''),
         |dlh AS (SELECT doc_id, COUNT(*) AS dl FROM ww
         |        WHERE ${DedupOps.newIdSql("doc_id", not = true)} GROUP BY doc_id),
         |stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
         |                 COUNT(*) AS n FROM dlh),
         |dla AS (SELECT doc_id, COUNT(*) AS dl FROM ww GROUP BY doc_id),
         |tf AS (SELECT ww.doc_id, ww.word, COUNT(*) AS tf
         |       FROM ww JOIN qt USING (word) GROUP BY ww.doc_id, ww.word),
         |df AS (SELECT word, COUNT(*) AS df FROM tf
         |       WHERE ${DedupOps.newIdSql("doc_id", not = true)} GROUP BY word),
         |sc AS (SELECT tf.doc_id,
         |         round(CAST(SUM(CAST(round(
         |           ln((n - df + 0.5) / (df + 0.5) + 1.0) *
         |           (tf * ${K1 + 1}) /
         |           (tf + $K1 * (${1 - B} + $B * dla.dl / avgdl)), 6)
         |           AS DECIMAL(18,6))) AS DOUBLE), 6) AS bm25
         |       FROM tf JOIN df USING (word)
         |         JOIN dla ON dla.doc_id = tf.doc_id
         |         CROSS JOIN stats
         |       GROUP BY tf.doc_id)
         |SELECT doc_id, bm25 FROM sc
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      val docs = Tables.spread(Tables.documents(s, d), col("doc_id"))
      val isNew = DedupOps.isNewDoc
      val histTf = Artifacts.parquet(s, d, "inc_bm25_postings") {
        bm25QueryTf(docs.filter(!isNew))
      }
      val stats = Artifacts.parquet(s, d, "inc_bm25_stats") {
        bm25SnapshotStats(docs.filter(!isNew))
      }
      bm25ServeFrozen(histTf.unionByName(bm25QueryTf(docs.filter(isNew))),
        stats.head())
    },

    // ---- Hybrid retrieval via reciprocal-rank fusion: the lexical BM25
    // top-30 and the embedding-cosine top-30 (query = vector 0) fuse as
    // sum of 1/(60+rank), the rank-only combiner that needs no score
    // calibration between the two retrievers. Both inputs are bounded
    // top-k lists BEFORE any window runs — rank assignment and the full
    // outer join touch ≤30 rows per side (rank fusion is defined on
    // retrieved lists; corpus-scale work happens only inside each
    // retriever, where it is heap-bounded top-k).
    Q("q_hybrid_rrf",
      s"""WITH $bm25Ctes,
         |lr AS (SELECT doc_id AS id,
         |         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rl
         |       FROM sc WHERE doc_id <> 0
         |       ORDER BY bm25 DESC, doc_id LIMIT 30),
         |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
         |      FROM embeddings WHERE vec_id = 0),
         |vs AS (SELECT vec_id AS id,
         |         round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) AS sim
         |       FROM embeddings, q WHERE vec_id <> 0),
         |vr AS (SELECT id, row_number() OVER (ORDER BY sim DESC, id) AS rv
         |       FROM vs ORDER BY sim DESC, id LIMIT 30),
         |f AS (SELECT COALESCE(lr.id, vr.id) AS id, lr.rl, vr.rv,
         |        round(COALESCE(1.0 / ($RrfK + lr.rl), 0) +
         |              COALESCE(1.0 / ($RrfK + vr.rv), 0), 6) AS rrf
         |      FROM lr FULL OUTER JOIN vr ON lr.id = vr.id)
         |SELECT id, CAST(rl AS BIGINT) AS lex_rank, CAST(rv AS BIGINT) AS vec_rank, rrf
         |FROM f ORDER BY rrf DESC, id LIMIT 15""".stripMargin) { (s, d) =>
      // id 0 is the query on both sides (vector 0 IS the query vector;
      // its paired document is excluded from the lexical list for
      // symmetry — a self-match would always win the fusion)
      val lexTop = bm25Scores(s, d).filter(col("doc_id") =!= 0)
        .orderBy(col("bm25").desc, col("doc_id")).limit(30)
      val e = Tables.embeddings(s, d)
        .withColumn("v", col("embedding").cast("array<double>"))
      val qv = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      val vecTop = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id").as("id"),
          round(VectorFunctions.cosine(col("v"), col("qv")), 6).as("sim"))
        .orderBy(col("sim").desc, col("id")).limit(30)
      // rank windows run over the 30-row lists, not the corpus — the
      // single-partition window is bounded by construction
      val lr = lexTop.select(col("doc_id").as("id"),
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id")))
          .cast("long").as("rl"))
      val vr = vecTop.select(col("id"),
        row_number().over(Window.orderBy(col("sim").desc, col("id")))
          .cast("long").as("rv"))
      lr.join(vr, lr("id") === vr("id"), "full_outer")
        .select(coalesce(lr("id"), vr("id")).as("id"),
          col("rl").as("lex_rank"), col("rv").as("vec_rank"),
          round(coalesce(lit(1.0) / (lit(RrfK) + col("rl")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfK) + col("rv")), lit(0.0)), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("id"))
        .limit(15)
    },

    // ---- Passage selection: for each of the BM25 top-5 documents, the
    // 32-token window containing the most query-term hits (ties → the
    // earliest window), with the passage text itself — the snippet/
    // chunk-selection step a RAG stack runs between retrieval and
    // generation. The optimal window can always be anchored at a hit, so
    // candidates are windows starting at each hit position: a per-doc
    // range self-join over the HIT lists (a handful of positions per
    // doc), never over all token positions. Everything after the top-5
    // gate is bounded by the retrieved list — the corpus-scale work is
    // the BM25 scorer, already scale-audited; per-doc windows run
    // partitioned by doc over ≤hits rows.
    Q("q_best_passage",
      s"""WITH $bm25Ctes,
         |top5 AS (SELECT doc_id FROM sc ORDER BY bm25 DESC, doc_id LIMIT 5),
         |toks AS (SELECT d.doc_id, string_split(text, ' ') AS tk
         |         FROM documents d JOIN top5 USING (doc_id)),
         |pos AS (SELECT doc_id, generate_subscripts(tk, 1) AS pos,
         |          unnest(tk) AS word FROM toks),
         |hits AS (SELECT doc_id, pos FROM pos
         |         WHERE word IN ($termsSqlIn)),
         |win AS (SELECT a.doc_id, a.pos AS start, COUNT(*) AS n_hits
         |        FROM hits a JOIN hits b ON b.doc_id = a.doc_id
         |          AND b.pos >= a.pos AND b.pos < a.pos + 32
         |        GROUP BY a.doc_id, a.pos),
         |best AS (SELECT doc_id, start, n_hits,
         |           row_number() OVER (PARTITION BY doc_id
         |             ORDER BY n_hits DESC, start) AS rn
         |         FROM win)
         |SELECT b.doc_id, CAST(b.start AS BIGINT) AS passage_start,
         |  CAST(b.n_hits AS BIGINT) AS n_hits,
         |  array_to_string(t.tk[b.start : b.start + 31], ' ') AS passage
         |FROM best b JOIN toks t ON t.doc_id = b.doc_id
         |WHERE rn = 1 ORDER BY b.doc_id""".stripMargin) { (s, d) =>
      val top5 = bm25Scores(s, d)
        .orderBy(col("bm25").desc, col("doc_id")).limit(5)
        .select(col("doc_id"))
      // the retrieved list gates the corpus scan — 5 docs survive. Both
      // scopes serve multi-consumer sub-plans of THIS query only; the
      // ≤5-row answer is localized before they close
      Artifacts.scoped(Tables.documents(s, d).join(broadcast(top5), "doc_id")
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))) { toks =>
        // 1-based positions over ALL tokens (empties included) — the
        // oracle's generate_subscripts numbering
        Artifacts.scoped(toks
            .select(col("doc_id"), posexplode(col("tk")).as(Seq("p0", "word")))
            .filter(col("word").isin(QueryTerms: _*))
            .select(col("doc_id"), (col("p0") + 1).as("pos"))) { hits =>
          val a = hits.select(col("doc_id"), col("pos").as("start"))
          val b = hits.select(col("doc_id").as("doc_b"), col("pos").as("pos_b"))
          val win = a.join(b, col("doc_b") === col("doc_id") &&
              col("pos_b") >= col("start") && col("pos_b") < col("start") + 32)
            .groupBy(col("doc_id"), col("start"))
            .agg(count(lit(1)).as("n_hits"))
          val best = win
            .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
              .orderBy(col("n_hits").desc, col("start"))))
            .filter(col("rn") === 1)
          val res = best.join(toks, "doc_id")
            .select(col("doc_id"),
              col("start").cast("long").as("passage_start"),
              col("n_hits").cast("long").as("n_hits"),
              concat_ws(" ", slice(col("tk"), col("start"), lit(32))).as("passage"))
            .orderBy(col("doc_id"))
          s.createDataFrame(res.collectAsList(), res.schema)
        }
      }
    },

    // ---- Lexical index maintenance AT INGEST: documents stream in and
    // each micro-batch appends its O(batch) index contribution — query-
    // term postings (doc, word, tf) and the doc-length table (doc, dl),
    // the two structures a real BM25 index keeps — via idempotent
    // per-batch writes (Staging.writeBatch: replay overwrites, never
    // duplicates). Serving then scores ONLY from the accumulated index;
    // no document text is re-read. The oracle is the batch BM25 SQL
    // verbatim, so the streamed index must reproduce the batch ranking
    // BIT-FOR-BIT — a dropped or double-counted batch shifts df/avgdl
    // and every score with them (hash mismatch), which makes exactly-
    // once index maintenance observationally verified. Companion of
    // q_stream_index_update (the vector-side IVF maintenance).
    Q("q_stream_bm25",
      s"""WITH $bm25Ctes
         |SELECT doc_id, bm25 FROM sc
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      Staging.ledger(Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", 2) { (batch, id, out) =>
        // dl > 0: token-less docs are outside the oracle's
        // ww-derived length stats (same contract as bm25Scores)
        Staging.writeBatch(batch.select(col("doc_id"),
          size(nonEmptyTokens).as("dl")).filter(col("dl") > 0),
          s"$out/doclens", id)
        Staging.writeBatch(batch
          .select(col("doc_id"),
            explode(TextFunctions.tokens(col("text"))).as("word"))
          .filter(col("word").isin(QueryTerms: _*))
          .groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("tf")),
          s"$out/postings", id)
      } { out =>
        val doclens = Staging.readBatches(s, s"$out/doclens")
        val postings = Staging.readBatches(s, s"$out/postings")
        val Row(avgdl: Double, nDocs: Long) = doclens
          .agg((sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
            count(lit(1)).as("n"))
          .head()
        // per-term document frequencies straight off the index: each doc
        // lands in exactly one batch's postings, so rows-per-word IS df
        // (≤|QueryTerms| driver rows)
        val dfMap = postings.groupBy(col("word")).agg(count(lit(1)).as("df"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        // postings is the small side (term-matching docs only) — AQE
        // broadcasts it onto the doc-length table
        val top = scoreTf(postings.join(doclens, "doc_id")
            .select(col("doc_id"), col("dl"), col("word"), col("tf")),
            avgdl, nDocs, dfMap)
          .orderBy(col("bm25").desc, col("doc_id")).limit(20)
        // the index tree dies with the temp dir — copy the bounded
        // top-k out as a LOCAL relation
        s.createDataFrame(top.collectAsList(), top.schema)
      }
    },

    // ---- Retrieval EVALUATION: nDCG@10 / MRR / precision@10 of the
    // BM25 ranking against a deterministic graded relevance (rel = how
    // many distinct query terms a document contains, 0–4; "relevant"
    // for the binary metrics means rel ≥ 2). The judgment set every
    // retrieval deployment keeps — here derived from the corpus itself
    // so both engines label identically. Shape: relevance is one
    // map-only array_contains pass (no explode); the candidate and
    // ideal top-10s are TakeOrderedAndProject (never a corpus sort);
    // the two rank windows run over exactly 10 rows each; DCG terms
    // round to 6dp and sum as DECIMAL. At 100 TB nothing here scales
    // past the scored-candidate relation q_bm25 already bounds.
    Q("q_retrieval_eval",
      s"""WITH $bm25Ctes,
         |rel AS (SELECT doc_id, COUNT(*) AS rel FROM tf GROUP BY doc_id),
         |top10 AS (SELECT sc.doc_id, bm25, rel.rel
         |          FROM sc JOIN rel USING (doc_id)
         |          ORDER BY bm25 DESC, sc.doc_id LIMIT 10),
         |ranked AS (SELECT rel, ROW_NUMBER() OVER (
         |             ORDER BY bm25 DESC, doc_id) AS r FROM top10),
         |dcg AS (SELECT
         |    SUM(CAST(round(rel / log2(r + 1.0), 6) AS DECIMAL(18,6))) AS dcg,
         |    MIN(CASE WHEN rel >= 2 THEN r END) AS first_rel,
         |    SUM(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) AS n_rel
         |  FROM ranked),
         |itop AS (SELECT rel FROM rel ORDER BY rel DESC, doc_id LIMIT 10),
         |iranked AS (SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC) AS r
         |            FROM itop),
         |idcg AS (SELECT
         |    SUM(CAST(round(rel / log2(r + 1.0), 6) AS DECIMAL(18,6))) AS idcg
         |  FROM iranked)
         |SELECT round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6) AS ndcg10,
         |  CASE WHEN first_rel IS NULL THEN 0.0
         |    ELSE round(1.0 / first_rel, 6) END AS mrr,
         |  round(CAST(n_rel AS DOUBLE) / 10, 6) AS p_at_10
         |FROM dcg CROSS JOIN idcg""".stripMargin) { (s, d) =>
      val docs = Tables.spread(Tables.documents(s, d), col("doc_id"))
      val relCol = QueryTerms.map(t =>
        when(array_contains(nonEmptyTokens, t), 1).otherwise(0))
        .reduce(_ + _)
      val rel = docs.select(col("doc_id"), relCol.as("rel"))
        .filter(col("rel") >= 1)
      val top10 = bm25Scores(s, d).join(rel, "doc_id")
        .orderBy(col("bm25").desc, col("doc_id")).limit(10)
      // rank windows over exactly the 10 retained rows — bounded
      val ranked = top10.withColumn("r",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      val dcgRow = ranked.agg(
        sum(round(col("rel") / log2(col("r") + 1.0), 6)
          .cast("decimal(18,6)")).as("dcg"),
        min(when(col("rel") >= 2, col("r"))).as("first_rel"),
        sum(when(col("rel") >= 2, 1L).otherwise(0L)).as("n_rel"))
      val iranked = rel.orderBy(col("rel").desc, col("doc_id")).limit(10)
        .withColumn("r",
          row_number().over(Window.orderBy(col("rel").desc, col("doc_id"))))
      val idcgRow = iranked.agg(
        sum(round(col("rel") / log2(col("r") + 1.0), 6)
          .cast("decimal(18,6)")).as("idcg"))
      dcgRow.crossJoin(idcgRow).select(
        round(col("dcg").cast("double") / col("idcg").cast("double"), 6)
          .as("ndcg10"),
        when(col("first_rel").isNull, 0.0)
          .otherwise(round(lit(1.0) / col("first_rel"), 6)).as("mrr"),
        round(col("n_rel").cast("double") / 10, 6).as("p_at_10"))
    }
  )
}
