package graft.queries

import graft.{Q, Tables}
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** Round-8 curation additions: the remaining document-preparation steps a
  * pretraining pipeline runs between raw corpus and tokenizer —
  * context-window chunking, duplicated-span removal (the sub-document
  * analogue of Lee et al.'s exact substring dedup, re-expressed at
  * token-segment granularity), and PII redaction auditing.
  *
  * Scale posture: chunking and redaction are pure map-side passes (zero
  * shuffles — they stay inside WholeStageCodegen over the scan);
  * span-dedup shuffles once on the segment hash with a map-side-combined
  * `min` (hot segments — boilerplate repeated across millions of docs —
  * partial-aggregate down to one row per (partition, hash) before the
  * exchange, so a viral segment cannot skew a reducer), then once on
  * doc_id to rebuild cleaned text.
  */
object CurationOps {

  private def $(name: String) = col(name)

  /** Number of BPE merge rounds for q_bpe_merges/q_bpe_encode. */
  private val BpeRounds = 3

  // -- shared redaction patterns (Java regex; the SQL twin below carries
  // the same patterns single-escaped for DuckDB's RE2) --
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val IpRe = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
  private val EntityRe = "\\b(customer|supplier)\\b"

  /** The redaction rewrite as a Column — email → [EMAIL], IPv4 → [IP],
    * denylist entity → [ENTITY]; three codegen'd regexp passes. */
  private def redacted(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      lit(EmailRe), lit("[EMAIL]")),
      lit(IpRe), lit("[IP]")),
      lit(EntityRe), lit("[ENTITY]"))

  /** The same rewrite as oracle SQL over a column named `text`. */
  private val redactSqlExpr: String =
    """regexp_replace(regexp_replace(regexp_replace(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |    '\b\d{1,3}(\.\d{1,3}){3}\b', '[IP]', 'g'),
      |    '\b(customer|supplier)\b', '[ENTITY]', 'g')""".stripMargin

  /** Context-window chunking (64-token windows, stride 48) of a
    * (doc_id, text) relation — one projection + explode, no shuffle.
    * Shared by the batch chunker and the at-ingest prep composition. */
  private def chunkRows(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val W = 64; val S = 48
    val toks = col("toks")
    df.select($("doc_id"), TextFunctions.tokens($("text")).as("toks"))
      .withColumn("n_extra",
        when(size(toks) > W,
          ceil((size(toks) - W).cast("double") / S).cast("int")).otherwise(0))
      .select($("doc_id"), toks,
        explode(sequence(lit(0), $("n_extra"))).as("chunk_id"))
      .select($("doc_id"), $("chunk_id"),
        slice(toks, $("chunk_id") * S + 1, lit(W)).as("chunk"))
      .select($("doc_id"), $("chunk_id"),
        size($("chunk")).as("n_tokens"),
        md5(concat_ws(" ", $("chunk"))).as("chunk_md5"))
  }

  /** Width of the seg_idx field in the packed (doc_id, seg_idx) key:
    * 2^20 segments/doc = a 33M-token document ceiling (doc_id keeps 43
    * bits — 8.8e12 documents). Shared by engine and oracle SQL. */
  private val PackWidth = 1L << 20

  /** Segment rows for span dedup: 32-token non-overlapping segments of a
    * (doc_id, text) relation with their md5 and a packed orderable
    * (doc_id, seg_idx) key. Shared by the batch and at-ingest forms.
    * A doc exceeding the pack width would alias into other documents'
    * key space and silently corrupt first-occurrence ordering — the
    * guard makes that a loud runtime error instead. */
  private def segRows(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val SEG = 32
    val toks = col("toks")
    df.select($("doc_id"), TextFunctions.tokens($("text")).as("toks"))
      .select($("doc_id"), toks,
        explode(sequence(lit(0),
          ceil(size(toks).cast("double") / SEG).cast("int") - 1)).as("seg_idx"))
      .select($("doc_id"), $("seg_idx"),
        concat_ws(" ", slice(toks, $("seg_idx") * SEG + 1, lit(SEG))).as("seg_text"))
      .select($("doc_id"), $("seg_idx"), $("seg_text"),
        md5($("seg_text")).as("h"),
        ($("doc_id") * PackWidth +
          when($("seg_idx") < PackWidth, $("seg_idx")).otherwise(raise_error(
            format_string("span-dedup pack overflow: doc %d has seg_idx %d >= 2^20",
              $("doc_id"), $("seg_idx"))))).as("pk"))
  }

  /** Per-doc rebuild for span dedup from occurrence rows carrying a
    * `first_pk` column: counts + cleaned-text md5 (kept segments in
    * order, empty string when everything was dropped). */
  private def spanRebuild(occWithFirst: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val kept = $("pk") === $("first_pk")
    occWithFirst
      .groupBy($("doc_id"))
      .agg(
        count(lit(1)).cast("int").as("n_seg"),
        sum(when(kept, 1).otherwise(0)).cast("int").as("n_kept"),
        md5(concat_ws(" ",
          transform(
            sort_array(collect_list(when(kept, struct($("seg_idx"), $("seg_text"))))),
            x => x("seg_text")))).as("clean_md5"))
  }

  /** Shared q_span_dedup / q_stream_span_dedup oracle. */
  private val spanDedupSql: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |seg AS (
      |  SELECT doc_id, CAST(i AS INT) AS seg_idx,
      |    array_to_string(toks[CAST(i*32+1 AS INT) : CAST(least((i+1)*32, len(toks)) AS INT)], ' ') AS seg_text
      |  FROM t, unnest(range(0, CAST(ceil(len(toks)/32.0) AS INT))) AS u(i)),
      |occ AS (SELECT doc_id, seg_idx, seg_text, md5(seg_text) AS h,
      |    doc_id*1048576 + seg_idx AS pk FROM seg),
      |fst AS (SELECT h, min(pk) AS first_pk FROM occ GROUP BY h)
      |SELECT o.doc_id, CAST(COUNT(*) AS INT) AS n_seg,
      |  CAST(SUM(CASE WHEN o.pk = f.first_pk THEN 1 ELSE 0 END) AS INT) AS n_kept,
      |  md5(coalesce(string_agg(CASE WHEN o.pk = f.first_pk THEN o.seg_text END,
      |      ' ' ORDER BY o.seg_idx), '')) AS clean_md5
      |FROM occ o JOIN fst f ON o.h = f.h
      |GROUP BY o.doc_id ORDER BY o.doc_id""".stripMargin

  /** Chunking oracle over any (doc_id, text)-shaped inner query. */
  private def chunkSql(inner: String): String =
    s"""WITH src AS ($inner),
       |t AS (SELECT doc_id, string_split(text,' ') AS toks FROM src),
       |cc AS (SELECT doc_id, toks, len(toks) AS n_tok,
       |  CASE WHEN len(toks) > 64
       |       THEN CAST(ceil((len(toks)-64)/48.0) AS INT) ELSE 0 END AS n_extra
       |  FROM t)
       |SELECT doc_id, CAST(i AS INT) AS chunk_id,
       |  CAST(len(toks[CAST(i*48+1 AS INT) : CAST(least(i*48+64, n_tok) AS INT)]) AS INT) AS n_tokens,
       |  md5(array_to_string(toks[CAST(i*48+1 AS INT) : CAST(least(i*48+64, n_tok) AS INT)], ' ')) AS chunk_md5
       |FROM cc, unnest(range(0, n_extra+1)) AS u(i)
       |ORDER BY doc_id, chunk_id""".stripMargin

  /** HTML boilerplate-extraction oracle — shared verbatim by
    * q_html_extract and its streaming twin q_stream_html_extract (the
    * per-batch projection is identical, so the batch SQL IS the stream's
    * oracle — same contract as q_stream_bm25 / q_stream_upsert). */
  private val htmlExtractSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |b AS (SELECT doc_id,
      |  ['<div class="nav"><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></div>',
      |   '<p>' || array_to_string(tk[1:greatest(1, len(tk)//2)], ' ') || '</p>',
      |   '<p>See <a href="/w">' || tk[1] || '</a> ' ||
      |     coalesce(array_to_string(tk[greatest(1, len(tk)//2)+1:len(tk)], ' '), '')
      |     || '</p>',
      |   '<footer><a href="/terms">Terms of Service</a> <a href="/privacy">Privacy Policy</a></footer>'
      |  ] AS blks FROM t),
      |u AS (SELECT doc_id, u.i AS bi, blks[CAST(u.i AS INT)] AS blk
      |      FROM b, unnest(range(1, 5)) AS u(i)),
      |s AS (SELECT doc_id, bi,
      |        regexp_replace(blk, '<[^>]+>', '', 'g') AS txt,
      |        -- coalesce: zero anchors → array_to_string([]) is NULL
      |        coalesce(length(array_to_string(
      |          regexp_extract_all(blk, '<a[^>]*>([^<]*)</a>', 1), '')), 0) AS lk
      |      FROM u)
      |SELECT doc_id,
      |  CAST(SUM(CASE WHEN lk*2 <= length(txt) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN lk*2 > length(txt) THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  CAST(length(coalesce(string_agg(CASE WHEN lk*2 <= length(txt) THEN txt END,
      |    ' ' ORDER BY bi), '')) AS BIGINT) AS extract_chars,
      |  md5(coalesce(string_agg(CASE WHEN lk*2 <= length(txt) THEN txt END,
      |    ' ' ORDER BY bi), '')) AS extract_md5
      |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The extraction itself over any (doc_id, text) relation: synthesize
    * the deterministic page skeleton, strip tags, gate each block on link
    * density. Pure scalar codegen'd expressions — ONE map-only projection
    * (zero exchanges, plan-asserted in PlanSuite), so the batch operator
    * and the per-micro-batch streaming application are the same code. */
  private def htmlExtractRows(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Column
    val m = greatest(lit(1), expr("size(tk) div 2"))
    val nav = lit("<div class=\"nav\"><a href=\"/\">Home</a> " +
      "<a href=\"/about\">About</a> <a href=\"/contact\">Contact</a></div>")
    val p1 = concat(lit("<p>"),
      array_join(slice($("tk"), lit(1), m), " "), lit("</p>"))
    val p2 = concat(lit("<p>See <a href=\"/w\">"), element_at($("tk"), 1),
      lit("</a> "),
      array_join(slice($("tk"), m + lit(1), size($("tk")) - m), " "),
      lit("</p>"))
    val foot = lit("<footer><a href=\"/terms\">Terms of Service</a> " +
      "<a href=\"/privacy\">Privacy Policy</a></footer>")
    def strip(b: Column) = regexp_replace(b, "<[^>]+>", "")
    def linkLen(b: Column) =
      length(concat_ws("", regexp_extract_all(b, lit("<a[^>]*>([^<]*)</a>"), lit(1))))
    val blocks = Seq(nav, p1, p2, foot)
    val txts = blocks.map(strip)
    val keeps = txts.zip(blocks.map(linkLen))
      .map { case (t, l) => l * 2 <= length(t) }
    // concat_ws drops NULL args on both engines — the dropped blocks
    // vanish, kept block texts join in page order
    val extract = concat_ws(" ",
      txts.zip(keeps).map { case (t, k) => when(k, t) }: _*)
    val nKept = keeps.map(_.cast("long")).reduce(_ + _)
    docs
      .select($("doc_id"), TextFunctions.tokens($("text")).as("tk"))
      .select($("doc_id"), nKept.as("n_kept"),
        (lit(4L) - nKept).as("n_dropped"),
        length(extract).cast("long").as("extract_chars"),
        md5(extract.cast("binary")).as("extract_md5"))
  }

  /** One BPE training round as oracle SQL: count adjacent symbol pairs
    * (corpus-frequency weighted), pick the best (count desc, pair asc),
    * then apply the merge with TRUE greedy left-to-right semantics —
    * islands of consecutive match positions (which only arise for
    * self-pairs like (x,x) inside runs of x) keep every other position.
    * Generated per round so the Spark side and the oracle share one
    * algorithm definition instead of a hand-unrolled SQL blob.
    */
  private def bpeRoundSql(i: Int): String = {
    val (p, n) = (s"w$i", s"w${i + 1}")
    s"""pairs$i AS (
       |  SELECT w, freq, syms, CAST(u.i AS INT) AS i,
       |    syms[CAST(u.i AS INT)] || ' ' || syms[CAST(u.i AS INT)+1] AS pr
       |  FROM $p, unnest(range(1, len(syms))) AS u(i)),
       |best$i AS (
       |  SELECT pr, c FROM (SELECT pr, SUM(freq) AS c FROM pairs$i GROUP BY pr)
       |  ORDER BY c DESC, pr LIMIT 1),
       |pos$i AS (
       |  SELECT p.w, p.i FROM pairs$i p JOIN best$i b ON p.pr = b.pr),
       |kept$i AS (
       |  SELECT w, list(i) AS kept FROM (
       |    SELECT w, i, row_number() OVER (PARTITION BY w, island ORDER BY i) AS pio
       |    FROM (SELECT w, i, i - row_number() OVER (PARTITION BY w ORDER BY i) AS island
       |          FROM pos$i))
       |  WHERE pio % 2 = 1 GROUP BY w),
       |$n AS (
       |  SELECT t.w, t.freq,
       |    CASE WHEN k.kept IS NULL THEN t.syms
       |    ELSE list_filter(list_transform(range(1, len(t.syms)+1),
       |      i -> CASE WHEN list_contains(k.kept, i)
       |                THEN t.syms[CAST(i AS INT)] || t.syms[CAST(i AS INT)+1]
       |                WHEN list_contains(k.kept, i-1) THEN NULL
       |                ELSE t.syms[CAST(i AS INT)] END),
       |      x -> x IS NOT NULL) END AS syms
       |  FROM $p t LEFT JOIN kept$i k ON t.w = k.w)""".stripMargin
  }

  /** [[Artifacts.rounds]] for the batched trainers, reporting
    * `onRound(round, merges so far, round wall seconds)` for every round
    * entered. A round's wall includes its checkpoint, which runs after
    * the step returns, so it spans from one step's start to the next's. */
  private def timedRounds(w0: org.apache.spark.sql.DataFrame, n: Int,
      onRound: (Int, Int, Double) => Unit, merged: => Int)
      (step: (Int, org.apache.spark.sql.DataFrame) =>
        Option[org.apache.spark.sql.DataFrame]): Unit = {
    var (last, t0) = (0, 0L)
    def report(): Unit =
      if (last > 0) onRound(last, merged, (System.nanoTime() - t0) / 1e9)
    Artifacts.rounds(w0, n) { (r, w) =>
      report()
      last = r
      t0 = System.nanoTime()
      step(r, w)
    }
    report()
  }

  /** Greedy SYMBOL-DISJOINT selection of up to `m` rows from a pair
    * ranking (pair string in column 0) — the driver-side twin of the
    * oracle's …sel chains. */
  private def disjointTop(rank: Seq[org.apache.spark.sql.Row], m: Int)
      : Seq[org.apache.spark.sql.Row] = {
    val used = scala.collection.mutable.Set.empty[String]
    val sel = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.Row]
    for (row <- rank if sel.size < m) {
      val syms = row.getString(0).split(' ')
      if (!syms.exists(used)) { sel += row; used ++= syms }
    }
    sel.toSeq
  }

  /** The top-`k` BPE pair ranking of a symbol table: `(pr, c)` by
    * corpus-weighted count desc, pair asc. */
  private def bpeRank(w: org.apache.spark.sql.DataFrame, k: Int)
      : Array[org.apache.spark.sql.Row] =
    pairRows(w).groupBy($("pr")).agg(sum($("freq")).as("c"))
      .orderBy($("c").desc, $("pr")).limit(k).collect()

  /** The top-`k` WordPiece ranking of a symbol table: `(pr, cab, ca, cb)`
    * by likelihood ratio cab/(ca·cb) desc, pair asc — one pair-count and
    * one symbol-count aggregate, both vocab-scale. */
  private def wpRank(w: org.apache.spark.sql.DataFrame, k: Int)
      : Array[org.apache.spark.sql.Row] = {
    val sc = w.select($("freq"), explode($("syms")).as("s"))
      .groupBy($("s")).agg(sum($("freq")).as("c"))
    val score = col("cab").cast("double") /
      (col("ca").cast("double") * col("cb").cast("double"))
    pairRows(w).groupBy($("pr")).agg(sum($("freq")).as("cab"))
      .join(sc.select(col("s").as("sa"), col("c").as("ca")),
        split($("pr"), " ").getItem(0) === col("sa"))
      .join(sc.select(col("s").as("sb"), col("c").as("cb")),
        split($("pr"), " ").getItem(1) === col("sb"))
      .orderBy(score.desc, $("pr")).limit(k)
      .select($("pr"), $("cab"), $("ca"), $("cb")).collect()
  }

  /** Batched-BPE dials: rounds × up-to-m merges per round, selected
    * greedily from the top-K pair ranking. K bounds the driver collect
    * (metadata-scale) and is PART of the algorithm definition — the
    * oracle ranks inside the same window, so both sides see the same
    * candidate list. */
  private val BatchedRounds = 2
  private val BatchedM = 2
  private val BatchedTopK = 8
  // Both batched-round ORACLE builders (bpeBatchedRoundSql /
  // wpBatchedRoundSql) unroll exactly TWO greedy selections
  // (…sel_1/…sel_2) while the engine trainers honor the m parameter —
  // the dial and the SQL only agree at m = 2, and bumping the constant
  // without regenerating the selection chain would silently drift the
  // oracle. Guarded INSIDE each builder (not at object init, where the
  // require would surface as an opaque ExceptionInInitializerError from
  // whatever first touches CurationOps — ADVICE r15 #3): the failure
  // message appears at the point the stale SQL would be generated. */
  private def requireBatchedM2(builder: String): Unit =
    require(BatchedM == 2,
      s"$builder unrolls m=2 selections; regenerate the …sel chain " +
      s"before setting BatchedM=$BatchedM")

  /** One batched-BPE round as oracle SQL (m = 2 unrolled): rank the
    * top-K pairs, greedily take the best plus the best SYMBOL-DISJOINT
    * runner-up, and apply both merges simultaneously — disjoint symbol
    * sets mean no two merges can claim overlapping token positions, so
    * the combined kept-position list rebuilds with the same transform
    * as the classic round (islands rule per pair for self-pairs). */
  private def bpeBatchedRoundSql(r: Int): String = {
    requireBatchedM2("bpeBatchedRoundSql")
    val (p, n) = (s"b$r", s"b${r + 1}")
    s"""bpairs$r AS (
       |  SELECT w, freq, syms, CAST(u.i AS INT) AS i,
       |    syms[CAST(u.i AS INT)] || ' ' || syms[CAST(u.i AS INT)+1] AS pr
       |  FROM $p, unnest(range(1, len(syms))) AS u(i)),
       |brank$r AS (
       |  SELECT pr, c FROM (SELECT pr, SUM(freq) AS c FROM bpairs$r GROUP BY pr)
       |  ORDER BY c DESC, pr LIMIT $BatchedTopK),
       |bsel${r}_1 AS (SELECT pr, c FROM brank$r ORDER BY c DESC, pr LIMIT 1),
       |bsel${r}_2 AS (
       |  SELECT pr, c FROM brank$r r2
       |  WHERE NOT EXISTS (SELECT 1 FROM bsel${r}_1 s
       |    WHERE list_contains(string_split(s.pr,' '), string_split(r2.pr,' ')[1])
       |       OR list_contains(string_split(s.pr,' '), string_split(r2.pr,' ')[2]))
       |  ORDER BY c DESC, pr LIMIT 1),
       |bsel$r AS (SELECT 1 AS rk, pr, c FROM bsel${r}_1
       |           UNION ALL SELECT 2 AS rk, pr, c FROM bsel${r}_2),
       |bpos$r AS (SELECT p.w, p.i, p.pr FROM bpairs$r p JOIN bsel$r b ON p.pr = b.pr),
       |bkept$r AS (
       |  SELECT w, list(i) AS kept FROM (
       |    SELECT w, i, row_number() OVER (PARTITION BY w, pr, island ORDER BY i) AS pio
       |    FROM (SELECT w, i, pr, i - row_number() OVER (PARTITION BY w, pr ORDER BY i) AS island
       |          FROM bpos$r))
       |  WHERE pio % 2 = 1 GROUP BY w),
       |$n AS (
       |  SELECT t.w, t.freq,
       |    CASE WHEN k.kept IS NULL THEN t.syms
       |    ELSE list_filter(list_transform(range(1, len(t.syms)+1),
       |      i -> CASE WHEN list_contains(k.kept, i)
       |                THEN t.syms[CAST(i AS INT)] || t.syms[CAST(i AS INT)+1]
       |                WHEN list_contains(k.kept, i-1) THEN NULL
       |                ELSE t.syms[CAST(i AS INT)] END),
       |      x -> x IS NOT NULL) END AS syms
       |  FROM $p t LEFT JOIN bkept$r k ON t.w = k.w)""".stripMargin
  }

  /** Batched BPE training (the production merge-throughput mode, see
    * SCALE.md): per round, greedily select up to `m` SYMBOL-DISJOINT
    * pairs from the top-`topK` ranking (count desc, pair asc) and apply
    * them in ONE simultaneous PRE-ROUND pass — the batch's positions
    * are all computed on the round's input table, which IS the batch
    * semantics (stated identically in the oracle's generated rounds).
    * Disjointness guarantees the combined kept list is well-defined (a
    * kept position of one pair can never be adjacent-overlapping with
    * another pair's — that would require a shared symbol), so it feeds
    * the same rebuild transform as the classic one-merge round. NOTE:
    * the batch is NOT always equal to applying the m merges
    * sequentially — a pair that consumes another selected pair's OUTPUT
    * symbol (reachable, e.g. co-selecting (a,ab) and (aab,q) once 'aab'
    * exists via (aa,b)) would chain under sequential apply; the batch
    * deliberately defers such chained adjacencies to the NEXT round's
    * counts. Each round costs the
    * same two distributed jobs as a classic round but lands m merges —
    * a 30k-merge vocabulary becomes ~30k/m rounds. The per-round
    * collect is topK rows (metadata-scale). Returns
    * (round, rank, pair, cnt) in selection order. */
  private[graft] def bpeTrainBatched(s: org.apache.spark.sql.SparkSession, d: String,
      rounds: Int, m: Int, topK: Int): Seq[(Int, Int, String, Long)] =
    bpeTrainBatchedOn(wordSymsRel(Tables.documents(s, d)), rounds, m, topK)

  /** [[bpeTrainBatched]] over a PRE-BUILT `(w, freq, syms)` relation —
    * the seam the vocabulary-scale fixture (TokenizerVocabScaleMain)
    * drives with a synthetic wide-vocab word table. `onRound` observes
    * `(round, merges-so-far, round wall seconds)` so the per-round cost
    * curve is measurable at production round counts. */
  private[graft] def bpeTrainBatchedOn(w0: org.apache.spark.sql.DataFrame,
      rounds: Int, m: Int, topK: Int,
      onRound: (Int, Int, Double) => Unit = (_, _, _) => ())
      : Seq[(Int, Int, String, Long)] = {
    val merges = scala.collection.mutable.Buffer.empty[(Int, Int, String, Long)]
    timedRounds(w0, rounds, onRound, merges.size) { (r, w) =>
      val sel = disjointTop(bpeRank(w, topK).toSeq, m)
      sel.zipWithIndex.foreach { case (row, i) =>
        merges += ((r, i + 1, row.getString(0), row.getLong(1))) }
      if (sel.isEmpty) None else Some(applyMerges(w, sel.map(_.getString(0))))
    }
    merges.toSeq
  }

  /** One OOV-replay round as oracle SQL: apply the round's learned best
    * pair (`best$i` from the training chain over the TRAIN split) to the
    * test-word symbol table `tw$i` with the same greedy islands rule. */
  private def bpeOovRoundSql(i: Int): String = {
    val (p, n) = (s"tw$i", s"tw${i + 1}")
    s"""tpairs$i AS (
       |  SELECT w, CAST(u.i AS INT) AS i,
       |    syms[CAST(u.i AS INT)] || ' ' || syms[CAST(u.i AS INT)+1] AS pr
       |  FROM $p, unnest(range(1, len(syms))) AS u(i)),
       |tpos$i AS (SELECT p.w, p.i FROM tpairs$i p JOIN best$i b ON p.pr = b.pr),
       |tkept$i AS (
       |  SELECT w, list(i) AS kept FROM (
       |    SELECT w, i, row_number() OVER (PARTITION BY w, island ORDER BY i) AS pio
       |    FROM (SELECT w, i, i - row_number() OVER (PARTITION BY w ORDER BY i) AS island
       |          FROM tpos$i))
       |  WHERE pio % 2 = 1 GROUP BY w),
       |$n AS (
       |  SELECT t.w, t.freq,
       |    CASE WHEN k.kept IS NULL THEN t.syms
       |    ELSE list_filter(list_transform(range(1, len(t.syms)+1),
       |      i -> CASE WHEN list_contains(k.kept, i)
       |                THEN t.syms[CAST(i AS INT)] || t.syms[CAST(i AS INT)+1]
       |                WHEN list_contains(k.kept, i-1) THEN NULL
       |                ELSE t.syms[CAST(i AS INT)] END),
       |      x -> x IS NOT NULL) END AS syms
       |  FROM $p t LEFT JOIN tkept$i k ON t.w = k.w)""".stripMargin
  }

  /** q_bpe_oov oracle: learn the merges on the train split, replay them
    * over the test split's words. */
  private lazy val bpeOovSql: String = {
    val trainBase =
      """WITH w1 AS (
        |  SELECT w, COUNT(*) AS freq,
        |    string_split(trim(regexp_replace(w, '(.)', '\1 ', 'g')), ' ') AS syms
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents
        |        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b')
        |  GROUP BY w),""".stripMargin
    val testBase =
      """tw1 AS (
        |  SELECT w, COUNT(*) AS freq,
        |    string_split(trim(regexp_replace(w, '(.)', '\1 ', 'g')), ' ') AS syms
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents
        |        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) > 'd')
        |  GROUP BY w),""".stripMargin
    trainBase + (1 to BpeRounds).map(bpeRoundSql).mkString(",") + ",\n" +
      testBase + (1 to BpeRounds).map(bpeOovRoundSql).mkString(",") + s"""
        |SELECT t1.w AS word, CAST(t1.freq AS BIGINT) AS freq,
        |  CAST(len(t1.syms) AS INT) AS n_sym_before,
        |  CAST(len(f.syms) AS INT) AS n_sym_after
        |FROM tw1 t1 JOIN tw${BpeRounds + 1} f ON t1.w = f.w
        |ORDER BY word""".stripMargin
  }

  /** Shared oracle prologue: distinct words with corpus frequency and
    * their initial character-symbol sequences. */
  private val bpeBaseSql: String =
    """WITH w1 AS (
      |  SELECT w, COUNT(*) AS freq,
      |    string_split(trim(regexp_replace(w, '(.)', '\1 ', 'g')), ' ') AS syms
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w),""".stripMargin

  /** Shared q_bpe_merges / q_incremental_bpe_merges oracle — the FULL
    * corpus derivation (base word-freq + every generated training
    * round). One string on purpose: the refresh seam's correctness claim
    * IS "equals the full retrain", so both gates compare against the
    * identical SQL and a stale word-freq artifact hash-mismatches. */
  private lazy val bpeMergesSql: String =
    bpeBaseSql + (1 to BpeRounds).map(bpeRoundSql).mkString(",") + "\n" +
      "SELECT * FROM (" +
      (1 to BpeRounds).map(i =>
        s"SELECT $i AS rank, pr AS pair, CAST(c AS BIGINT) AS cnt FROM best$i")
        .mkString(" UNION ALL ") +
      ") ORDER BY rank"

  /** The refresh-combined (w, freq) table behind q_incremental_bpe_merges:
    * stored historical word-frequency artifact + the new batch's counts,
    * summed on the word key. Exposed for PlanSuite — the assertable
    * shape is HERE (the training loop above it is per-round jobs over
    * this relation's checkpointed descendants): one parquet scan of the
    * artifact, exactly one documents scan (the new batch's tokenize). */
  private[graft] def incTokWordFreq(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val docs = graft.Tables.documents(s, d)
    val isNew = DedupOps.isNewDoc
    val hist = Artifacts.parquet(s, d, "inc_tok_wordfreq") {
      wordFreqRel(graft.Tables.spread(docs.filter(!isNew), $("doc_id")))
    }
    hist.union(wordFreqRel(graft.Tables.spread(docs.filter(isNew), $("doc_id"))))
      .groupBy($("w")).agg(sum($("freq")).as("freq"))
  }

  /** The shared q_bpe_encode / q_stream_bpe_encode oracle: per-doc
    * symbol counts before and after the learned merges. One definition —
    * the batch and streaming variants must stay bit-identical. */
  private lazy val bpeEncodeSql: String =
    bpeBaseSql + (1 to BpeRounds).map(bpeRoundSql).mkString(",") + s"""
        |SELECT d.doc_id,
        |  CAST(SUM(len(w1.syms)) AS INT) AS n_sym_before,
        |  CAST(SUM(len(w${BpeRounds + 1}.syms)) AS INT) AS n_sym_after
        |FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents) d
        |JOIN w1 ON d.w = w1.w JOIN w${BpeRounds + 1} ON d.w = w${BpeRounds + 1}.w
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** q_bpe_fertility oracle: per-language pieces-per-word and compression
    * after the learned merges (same generated merge rounds as
    * [[bpeEncodeSql]]; `len(w1.syms)` is the character baseline). */
  private lazy val bpeFertilitySql: String =
    bpeBaseSql + (1 to BpeRounds).map(bpeRoundSql).mkString(",") + s"""
        |SELECT d.lang,
        |  CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(len(w${BpeRounds + 1}.syms)) AS BIGINT) AS n_pieces,
        |  round(CAST(SUM(len(w${BpeRounds + 1}.syms)) AS DOUBLE)
        |    / COUNT(*), 6) AS fertility,
        |  round(CAST(SUM(len(w${BpeRounds + 1}.syms)) AS DOUBLE)
        |    / SUM(len(w1.syms)), 6) AS compression
        |FROM (SELECT lang, unnest(string_split(text,' ')) AS w FROM documents) d
        |JOIN w1 ON d.w = w1.w JOIN w${BpeRounds + 1} ON d.w = w${BpeRounds + 1}.w
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  /** Number of WordPiece merge rounds (the third tokenizer family). */
  private val WpRounds = 3

  private val wpBaseSql: String =
    """WITH wp1 AS (
      |  SELECT w, COUNT(*) AS freq,
      |    string_split(trim(regexp_replace(w, '(.)', '\1 ', 'g')), ' ') AS syms
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w),""".stripMargin

  /** Shared q_wordpiece_merges / q_incremental_wordpiece_merges oracle —
    * the FULL corpus derivation (the bpeMergesSql convention: the refresh
    * seam's claim IS "equals the full retrain", so both gates compare
    * against identical SQL and a stale word-freq artifact
    * hash-mismatches). */
  private lazy val wpMergesSql: String =
    wpBaseSql + (1 to WpRounds).map(wpRoundSql).mkString(",") + "\n" +
      "SELECT * FROM (" +
      (1 to WpRounds).map(i =>
        s"SELECT $i AS rank, pr AS pair, CAST(cab AS BIGINT) AS cnt, " +
          s"CAST(ca AS BIGINT) AS c_left, CAST(cb AS BIGINT) AS c_right " +
          s"FROM wbest$i")
        .mkString(" UNION ALL ") +
      ") ORDER BY rank"

  /** One WordPiece training round as oracle SQL: identical pair counting
    * and greedy-apply machinery to [[bpeRoundSql]], but the winner
    * maximizes the LIKELIHOOD score c(ab) / (c(a)·c(b)) over the current
    * symbol table instead of the raw count — the WordPiece selection
    * criterion (merge the pair whose fusion most increases corpus
    * likelihood under a unigram-over-symbols model). The score ORDERS
    * only (ties broken by pair asc); both engines derive it as one IEEE
    * division of identical integers, and the emitted columns are the
    * exact integer triple (cnt, c_left, c_right) that determines it —
    * no double ever crosses the gate. c(a)·c(b) multiplies as DOUBLE
    * (long·long overflows at ~1e9·1e9; corpus symbol counts reach 1e12
    * at 100 TB). */
  private def wpRoundSql(i: Int): String = {
    val (p, n) = (s"wp$i", s"wp${i + 1}")
    s"""wpr$i AS (
       |  SELECT w, freq, syms, CAST(u.i AS INT) AS i,
       |    syms[CAST(u.i AS INT)] || ' ' || syms[CAST(u.i AS INT)+1] AS pr
       |  FROM $p, unnest(range(1, len(syms))) AS u(i)),
       |wpc$i AS (SELECT pr, SUM(freq) AS cab FROM wpr$i GROUP BY pr),
       |wsc$i AS (SELECT s, SUM(freq) AS c
       |          FROM (SELECT freq, unnest(syms) AS s FROM $p) GROUP BY s),
       |wbest$i AS (
       |  SELECT pr, cab, a.c AS ca, b.c AS cb
       |  FROM wpc$i p
       |  JOIN wsc$i a ON string_split(p.pr, ' ')[1] = a.s
       |  JOIN wsc$i b ON string_split(p.pr, ' ')[2] = b.s
       |  ORDER BY CAST(cab AS DOUBLE) / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE))
       |    DESC, pr
       |  LIMIT 1),
       |wpos$i AS (
       |  SELECT p.w, p.i FROM wpr$i p JOIN wbest$i b ON p.pr = b.pr),
       |wkept$i AS (
       |  SELECT w, list(i) AS kept FROM (
       |    SELECT w, i, row_number() OVER (PARTITION BY w, island ORDER BY i) AS pio
       |    FROM (SELECT w, i, i - row_number() OVER (PARTITION BY w ORDER BY i) AS island
       |          FROM wpos$i))
       |  WHERE pio % 2 = 1 GROUP BY w),
       |$n AS (
       |  SELECT t.w, t.freq,
       |    CASE WHEN k.kept IS NULL THEN t.syms
       |    ELSE list_filter(list_transform(range(1, len(t.syms)+1),
       |      i -> CASE WHEN list_contains(k.kept, i)
       |                THEN t.syms[CAST(i AS INT)] || t.syms[CAST(i AS INT)+1]
       |                WHEN list_contains(k.kept, i-1) THEN NULL
       |                ELSE t.syms[CAST(i AS INT)] END),
       |      x -> x IS NOT NULL) END AS syms
       |  FROM $p t LEFT JOIN wkept$i k ON t.w = k.w)""".stripMargin
  }

  /** One batched-WordPiece round as oracle SQL — [[bpeBatchedRoundSql]]
    * ported to the likelihood criterion: rank the top-K pairs by
    * c(ab)/(c(a)·c(b)) over the CURRENT symbol table, greedily take the
    * best plus the best SYMBOL-DISJOINT runner-up, and apply both merges
    * simultaneously on the PRE-round table (disjoint symbol sets ⇒ no
    * overlapping position claims, so the combined kept list is
    * well-defined — the same batch semantics as BPE, incl. deferring
    * produces-consumes chains to the next round; the islands rule per
    * pair handles self-pairs). Scores order only;
    * the emitted rows carry the exact integer triples behind each
    * winner, so no double crosses the gate. */
  private def wpBatchedRoundSql(r: Int): String = {
    requireBatchedM2("wpBatchedRoundSql")
    val (p, n) = (s"wb$r", s"wb${r + 1}")
    val score = "CAST(cab AS DOUBLE) / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))"
    s"""wbr$r AS (
       |  SELECT w, freq, syms, CAST(u.i AS INT) AS i,
       |    syms[CAST(u.i AS INT)] || ' ' || syms[CAST(u.i AS INT)+1] AS pr
       |  FROM $p, unnest(range(1, len(syms))) AS u(i)),
       |wbc$r AS (SELECT pr, SUM(freq) AS cab FROM wbr$r GROUP BY pr),
       |wbs$r AS (SELECT s, SUM(freq) AS c
       |          FROM (SELECT freq, unnest(syms) AS s FROM $p) GROUP BY s),
       |wbrank$r AS (
       |  SELECT pr, cab, a.c AS ca, b.c AS cb
       |  FROM wbc$r p
       |  JOIN wbs$r a ON string_split(p.pr, ' ')[1] = a.s
       |  JOIN wbs$r b ON string_split(p.pr, ' ')[2] = b.s
       |  ORDER BY CAST(cab AS DOUBLE) / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE))
       |    DESC, pr
       |  LIMIT $BatchedTopK),
       |wbsel${r}_1 AS (SELECT pr, cab, ca, cb FROM wbrank$r
       |  ORDER BY $score DESC, pr LIMIT 1),
       |wbsel${r}_2 AS (
       |  SELECT pr, cab, ca, cb FROM wbrank$r r2
       |  WHERE NOT EXISTS (SELECT 1 FROM wbsel${r}_1 s
       |    WHERE list_contains(string_split(s.pr,' '), string_split(r2.pr,' ')[1])
       |       OR list_contains(string_split(s.pr,' '), string_split(r2.pr,' ')[2]))
       |  ORDER BY $score DESC, pr LIMIT 1),
       |wbsel$r AS (SELECT 1 AS rk, pr, cab, ca, cb FROM wbsel${r}_1
       |            UNION ALL SELECT 2 AS rk, pr, cab, ca, cb FROM wbsel${r}_2),
       |wbpos$r AS (SELECT p.w, p.i, p.pr FROM wbr$r p JOIN wbsel$r b ON p.pr = b.pr),
       |wbkept$r AS (
       |  SELECT w, list(i) AS kept FROM (
       |    SELECT w, i, row_number() OVER (PARTITION BY w, pr, island ORDER BY i) AS pio
       |    FROM (SELECT w, i, pr, i - row_number() OVER (PARTITION BY w, pr ORDER BY i) AS island
       |          FROM wbpos$r))
       |  WHERE pio % 2 = 1 GROUP BY w),
       |$n AS (
       |  SELECT t.w, t.freq,
       |    CASE WHEN k.kept IS NULL THEN t.syms
       |    ELSE list_filter(list_transform(range(1, len(t.syms)+1),
       |      i -> CASE WHEN list_contains(k.kept, i)
       |                THEN t.syms[CAST(i AS INT)] || t.syms[CAST(i AS INT)+1]
       |                WHEN list_contains(k.kept, i-1) THEN NULL
       |                ELSE t.syms[CAST(i AS INT)] END),
       |      x -> x IS NOT NULL) END AS syms
       |  FROM $p t LEFT JOIN wbkept$r k ON t.w = k.w)""".stripMargin
  }

  /** Batched WordPiece training — [[bpeTrainBatched]] ported to the
    * likelihood criterion (the r13 verdict's gap: the sequential trainer
    * pays one driver-loop round per merge, so a production BERT-family
    * vocabulary of ~30k merges cannot train on-engine). Per round: ONE
    * pair-count aggregate and ONE symbol-count aggregate (both
    * vocab-scale, map-side-combined) join into the likelihood ranking,
    * the top-`topK` rows cross the driver (metadata-scale), up to `m`
    * SYMBOL-DISJOINT pairs are selected greedily from that bounded
    * ranking, and all selected merges apply in ONE simultaneous
    * distributed pass (disjointness ⇒ no two merges claim overlapping
    * token positions ⇒ the combined kept-position list feeds the same
    * [[rebuildSyms]] transform as the classic round). A ~30k-merge
    * vocabulary becomes ~30k/m rounds of the same two jobs. Likelihood
    * scores are computed on the PRE-round table — part of the batch's
    * algorithm definition, stated identically in the oracle rounds.
    * Returns (round, rank, pair, cab, ca, cb) in selection order. */
  private[graft] def wpTrainBatched(s: org.apache.spark.sql.SparkSession,
      d: String, rounds: Int, m: Int, topK: Int)
      : Seq[(Int, Int, String, Long, Long, Long)] =
    wpTrainBatchedOn(wordSymsRel(Tables.documents(s, d)), rounds, m, topK)

  /** [[wpTrainBatched]] over a PRE-BUILT `(w, freq, syms)` relation —
    * the bpeTrainBatchedOn seam for the likelihood-criterion family;
    * `onRound` observes `(round, merges-so-far, round wall seconds)`. */
  private[graft] def wpTrainBatchedOn(w0: org.apache.spark.sql.DataFrame,
      rounds: Int, m: Int, topK: Int,
      onRound: (Int, Int, Double) => Unit = (_, _, _) => ())
      : Seq[(Int, Int, String, Long, Long, Long)] = {
    val merges =
      scala.collection.mutable.Buffer.empty[(Int, Int, String, Long, Long, Long)]
    timedRounds(w0, rounds, onRound, merges.size) { (r, w) =>
      val sel = disjointTop(wpRank(w, topK).toSeq, m)
      sel.zipWithIndex.foreach { case (row, i) =>
        merges += ((r, i + 1, row.getString(0), row.getLong(1), row.getLong(2),
          row.getLong(3))) }
      if (sel.isEmpty) None else Some(applyMerges(w, sel.map(_.getString(0))))
    }
    merges.toSeq
  }

  /** The shared q_wordpiece_encode oracle final select (over the last
    * round's symbol table). */
  private lazy val wpEncodeSql: String =
    wpBaseSql + (1 to WpRounds).map(wpRoundSql).mkString(",") + s"""
        |SELECT d.doc_id,
        |  CAST(SUM(len(wp1.syms)) AS INT) AS n_sym_before,
        |  CAST(SUM(len(wp${WpRounds + 1}.syms)) AS INT) AS n_sym_after
        |FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents) d
        |JOIN wp1 ON d.w = wp1.w JOIN wp${WpRounds + 1} ON d.w = wp${WpRounds + 1}.w
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** WordPiece training loop: per round, the best pair by likelihood
    * score (one TakeOrderedAndProject over the pair-count/symbol-count
    * join — a single-row driver collect, metadata-scale), then the SAME
    * greedy merge application as BPE ([[applyMerges]] — one transform
    * definition across both families). Returns (pair, cab, ca, cb) per
    * merge and the lineage-free final symbol table (see
    * [[Artifacts.rounds]]). */
  private def wpTrainOn(docs: org.apache.spark.sql.DataFrame)
      : (Seq[(String, Long, Long, Long)], org.apache.spark.sql.DataFrame) =
    wpTrainOnWords(wordSymsRel(docs))

  /** [[wpTrainOn]] over a PRE-BUILT (w, freq, syms) table — the seam
    * q_incremental_wordpiece_merges trains through (WordPiece's
    * sufficient statistic is the SAME word-frequency table as BPE's:
    * both the pair count c(ab) and the unit counts c(a), c(b) behind
    * the likelihood ratio are freq-weighted sums over distinct words). */
  private[graft] def wpTrainOnWords(w0: org.apache.spark.sql.DataFrame)
      : (Seq[(String, Long, Long, Long)], org.apache.spark.sql.DataFrame) = {
    val merges = scala.collection.mutable.Buffer.empty[(String, Long, Long, Long)]
    val fin = Artifacts.rounds(w0, WpRounds) { (_, w) =>
      wpRank(w, 1).headOption.map { r =>
        merges += ((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        applyMerges(w, Seq(r.getString(0)))
      }
    }
    (merges.toSeq, fin)
  }

  /** The BPE merge loop ([[bpeTrainOnWords]]) returns the learned
    * merges (pair, corpus count) and the per-word symbol table after all
    * rounds. The per-round best pair is a single-row driver collect
    * (like Lloyd centroid training — metadata-scale); everything else
    * is per-word distributed work: the pair count is a map-side-combined
    * aggregate, the greedy merge application joins kept positions back
    * on the word key. Distinct words at 100 TB are ~1e7-1e8 rows — the
    * word-partitioned windows and joins stay trivially balanced.
    */
  /** (word, freq) corpus word-frequency table of a `text` relation —
    * BPE's SUFFICIENT STATISTIC: every merge decision is a function of
    * this table alone (pair counts are freq-weighted sums over distinct
    * words), which is what makes the q_incremental_bpe_merges refresh
    * seam exact — freq is additive over disjoint document sets, so
    * hist-artifact + new-batch counts reproduce the union corpus's
    * table bit-for-bit. */
  private[graft] def wordFreqRel(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(explode(TextFunctions.tokens($("text"))).as("w"))
      .groupBy($("w")).agg(count(lit(1)).as("freq"))

  /** Seed the per-word symbol column (one symbol per char) onto a
    * (w, freq) table — the char-level round-0 state every trainer
    * starts from. */
  private[graft] def symsFromFreq(wf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    wf.withColumn("syms", split(trim(regexp_replace($("w"), "(.)", "$1 ")), " "))

  /** (word, freq, syms) per-word symbol table from a `text` relation —
    * the BPE working set (distinct-words scale at any corpus size). */
  private def wordSymsRel(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    symsFromFreq(wordFreqRel(docs))

  /** Adjacent symbol pairs of a per-word symbol table (guard: a 1-symbol
    * word has no pairs, and sequence(1, 0) counts DOWN — the shingles
    * pitfall — so it explodes an empty index list instead). */
  private def pairRows(w: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    w.select($("w"), $("freq"), $("syms"),
        explode(when(size($("syms")) >= 2, sequence(lit(1), size($("syms")) - 1))
          .otherwise(array().cast("array<int>"))).as("i"))
      .withColumn("pr", concat(
        element_at($("syms"), $("i")), lit(" "),
        element_at($("syms"), $("i") + 1)))

  /** Rebuild a per-word symbol table from a `(kw, kept)` relation of
    * kept merge positions — THE one copy of the merge-application
    * transform (single-merge apply, batched apply, and via them the
    * training loops and the OOV replay all route through it). */
  private def rebuildSyms(w: org.apache.spark.sql.DataFrame,
      kept: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    w.join(kept, $("w") === $("kw"), "left_outer")
      .withColumn("syms", when($("kept").isNull, $("syms")).otherwise(
        filter(transform(sequence(lit(1), size($("syms"))),
          i => when(array_contains($("kept"), i),
              concat(element_at($("syms"), i), element_at($("syms"), i + 1)))
            .when(array_contains($("kept"), i - 1), lit(null))
            .otherwise(element_at($("syms"), i))),
          x => x.isNotNull)))
      .select($("w"), $("freq"), $("syms"))

  /** Apply the SYMBOL-DISJOINT merges `prs` simultaneously to a per-word
    * symbol table with the TRUE greedy left-to-right rule (islands of
    * consecutive match positions — which only arise for self-pairs —
    * keep every other position). Disjointness means no two merges can
    * claim overlapping positions, so the combined kept list is
    * well-defined. One merge is the classic round; shared by every
    * training loop and the OOV replay encode. */
  private def applyMerges(w: org.apache.spark.sql.DataFrame, prs: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // rn runs over each pair's positions in turn (ordered by pair, then
    // position), so i − rn is constant exactly along a run of consecutive
    // positions of one pair; every window and the aggregate partition on
    // the word first, so one exchange on `w` serves them all
    val rn = row_number().over(Window.partitionBy($("w")).orderBy($("pr"), $("i")))
    val kept = pairRows(w).filter($("pr").isin(prs: _*))
      .select($("w"), $("pr"), $("i"))
      .withColumn("island", $("i") - rn)
      .withColumn("pio", row_number()
        .over(Window.partitionBy($("w"), $("pr"), $("island")).orderBy($("i"))))
      .filter($("pio") % 2 === 1)
      .groupBy($("w")).agg(collect_list($("i")).as("kept"))
      .withColumnRenamed("w", "kw")
    rebuildSyms(w, kept)
  }

  /** Serve a trained (w, syms) symbol table at ingest — the stream twin
    * body shared by BPE and WordPiece: each trigger tokenizes its
    * documents, broadcast-joins them onto the table and writes per-doc
    * symbol totals to the ledger (docs are range-staged by doc_id, so a
    * doc never straddles batches). The derived encode table is held for
    * the stream run — `wFinal` is already materialized, but each
    * micro-batch broadcast would re-project it otherwise. */
  private def streamEncode(s: org.apache.spark.sql.SparkSession, d: String,
                           wFinal: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    Artifacts.scoped(wFinal.select(col("w").as("tw"),
        length($("w")).as("len_before"), size($("syms")).as("len_after"))) { table =>
      table.count()
      Staging.ledger(Tables.documents(s, d).select($("doc_id"), $("text")),
          "doc_id", 2) { (bdf, id, out) =>
        Staging.writeBatch(bdf
          .select($("doc_id"), explode(TextFunctions.tokens($("text"))).as("w"))
          .join(broadcast(table), col("w") === col("tw"))
          .groupBy($("doc_id"))
          .agg(sum($("len_before")).cast("int").as("n_sym_before"),
            sum($("len_after")).cast("int").as("n_sym_after")),
          s"$out/res", id)
      }(out => Staging.drainParquet(s, s"$out/res", $("doc_id")))
    }

  private def bpeTrain(s: org.apache.spark.sql.SparkSession, d: String)
      : (Seq[(String, Long)], org.apache.spark.sql.DataFrame) =
    bpeTrainOn(Tables.documents(s, d))

  private def bpeTrainOn(docs: org.apache.spark.sql.DataFrame)
      : (Seq[(String, Long)], org.apache.spark.sql.DataFrame) =
    bpeTrainOnWords(wordSymsRel(docs))

  /** [[bpeTrainOn]] over a PRE-BUILT (w, freq, syms) table — the seam
    * q_incremental_bpe_merges trains through (its word table combines a
    * stored hist artifact with the new batch's counts instead of a
    * full-corpus scan). Returns the merges and the lineage-free final
    * symbol table (see [[Artifacts.rounds]]). */
  private[graft] def bpeTrainOnWords(w0: org.apache.spark.sql.DataFrame)
      : (Seq[(String, Long)], org.apache.spark.sql.DataFrame) = {
    val merges = scala.collection.mutable.Buffer.empty[(String, Long)]
    // an empty ranking means every word is fully merged
    val fin = Artifacts.rounds(w0, BpeRounds) { (_, w) =>
      bpeRank(w, 1).headOption.map { best =>
        merges += ((best.getString(0), best.getLong(1)))
        applyMerges(w, Seq(best.getString(0)))
      }
    }
    (merges.toSeq, fin)
  }

  /** Shared q_line_dedup / q_stream_line_dedup oracle: cross-document
    * boilerplate-line removal (df > 5 docs). ONE definition — the batch
    * pass and the streamed ledger must stay bit-identical (the
    * bm25Ctes / upsertViewSql no-drift convention). */
  private val lineDedupSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |p AS (SELECT doc_id,
      |  ['COPYRIGHT 2024 EXAMPLE CORP ALL RIGHTS RESERVED',
      |   coalesce(array_to_string(tk[1:12], ' '), ''),
      |   coalesce(array_to_string(tk[13:len(tk)], ' '), ''),
      |   'SUBSCRIBE TO OUR NEWSLETTER FOR UPDATES'] AS paras FROM t),
      |e AS (SELECT doc_id, u.i AS idx, paras[CAST(u.i AS INT)] AS para
      |      FROM p, unnest(range(1, 5)) AS u(i)),
      |df AS (SELECT para, COUNT(DISTINCT doc_id) AS dfd FROM e GROUP BY para),
      |k AS (SELECT e.doc_id, e.idx, e.para, (df.dfd > 5) AS boiler
      |      FROM e JOIN df USING (para))
      |SELECT doc_id,
      |  CAST(SUM(CASE WHEN NOT boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  md5(coalesce(string_agg(CASE WHEN NOT boiler THEN para END,
      |    chr(10) ORDER BY idx), '')) AS clean_md5
      |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The deterministic 4-line view of a (doc_id, text) relation:
    * (doc_id, idx, para, h) with h = xxhash64(para) — lines shuffle as
    * 8-byte hashes everywhere downstream. */
  private def lineParas(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val hdr = lit("COPYRIGHT 2024 EXAMPLE CORP ALL RIGHTS RESERVED")
    val ftr = lit("SUBSCRIBE TO OUR NEWSLETTER FOR UPDATES")
    val p1 = array_join(slice($("tk"), 1, 12), " ")
    val p2 = array_join(slice($("tk"), lit(13),
      greatest(lit(0), size($("tk")) - lit(12))), " ")
    docs
      .select($("doc_id"), TextFunctions.tokens($("text")).as("tk"))
      .select($("doc_id"), posexplode(array(hdr, p1, p2, ftr)))
      .select($("doc_id"), col("pos").as("idx"), col("col").as("para"),
        xxhash64(col("col")).as("h"))
  }

  /** Rebuild per-doc cleaned text from the line view and a line
    * doc-frequency relation: lines with dfd > 5 are boilerplate. The
    * boilerplate set is tiny by definition — broadcast removal join;
    * the rebuild groups each doc's own ≤4 lines. */
  private def lineRebuild(paras: org.apache.spark.sql.DataFrame,
      dfc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val boiler = dfc.filter($("dfd") > 5).select($("h"), lit(true).as("isb"))
    paras.join(broadcast(boiler), Seq("h"), "left")
      .groupBy($("doc_id"))
      .agg(
        sum(when(col("isb").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("isb").isNull, 0L).otherwise(1L)).as("n_dropped"),
        // collect_list skips the null branch, so only kept lines
        // survive into the idx-ordered rebuild
        md5(array_join(
          transform(
            sort_array(collect_list(when(col("isb").isNull,
              struct($("idx"), $("para"))))),
            p => p.getField("para")),
          "\n").cast("binary")).as("clean_md5"))
  }

  // LAZY on purpose: the batched-round oracle builders guard their
  // BatchedM=2 unrolling with a require, and a strict `all` would run
  // them inside the object initializer — surfacing the guard as an
  // opaque ExceptionInInitializerError, exactly what moving the require
  // out of object init was meant to avoid (ADVICE r15 #3). Lazy, the
  // require's own message reaches whoever first reads the registry.
  lazy val all: Seq[Q] = Seq(

    // ---- BPE tokenizer training: the iterative merge-selection loop
    // itself (q_bigram_stats is one round's counting step; this RUNS the
    // loop). Each round counts corpus-weighted adjacent symbol pairs,
    // merges the winner greedily left-to-right everywhere, and repeats —
    // the learned merge table IS the tokenizer artifact. The oracle
    // replays the identical algorithm (including the greedy-overlap
    // islands rule for self-pairs) via generated SQL rounds.
    Q("q_bpe_merges", bpeMergesSql) { (s, d) =>
      val (merges, _) = bpeTrain(s, d)
      val rows = merges.zipWithIndex.map { case ((p, c), i) => (i + 1, p, c) }
      import s.implicits._
      rows.toDF("rank", "pair", "cnt").orderBy($("rank"))
    },

    // ---- INCREMENTAL tokenizer training — the refresh seam for the LAST
    // offline-only trained artifact (r15 verdict #1): a corpus refresh
    // re-trains the merge table WITHOUT re-scanning the historical
    // corpus. The state that makes this exact is BPE's sufficient
    // statistic: the (word, freq) table — every merge decision is a
    // freq-weighted pair count over DISTINCT words, and freq is additive
    // over disjoint document sets, so stored-hist counts + new-batch
    // counts equal the union corpus's table bit-for-bit. The historical
    // (word, freq) artifact persists once (written, on a real refresh,
    // by the previous snapshot's run); this run tokenizes ONLY the new
    // batch (one documents scan, plan-asserted), sums the two tables on
    // the word key, and runs the standard merge loop over the combined
    // distinct-word state. Selection re-runs from round 1 ON PURPOSE: a
    // freeze-the-prefix-and-extend variant is NOT exact — a new batch
    // can flip a round winner (IncrementalBpeSuite crafts exactly that
    // corpus and pins refresh == full-retrain where extend-only would
    // diverge) — and the loop was never the corpus-scale cost: its
    // per-round jobs touch the distinct-word table (~1e7-1e8 rows at
    // 100 TB), while the avoided work is the full-corpus tokenize
    // (the 100 TB scan). The oracle is q_bpe_merges' FULL-corpus
    // derivation verbatim, so a stale artifact, a dropped batch, or a
    // drifted combine hash-mismatches the gate.
    Q("q_incremental_bpe_merges", bpeMergesSql) { (s, d) =>
      val (merges, _) = bpeTrainOnWords(symsFromFreq(incTokWordFreq(s, d)))
      val rows = merges.zipWithIndex.map { case ((p, c), i) => (i + 1, p, c) }
      import s.implicits._
      rows.toDF("rank", "pair", "cnt").orderBy($("rank"))
    },

    // ---- The trained BPE vocabulary: every symbol surviving the merge
    // rounds with its corpus occurrence count — the third tokenizer
    // artifact (merges = the rules, vocab = the unit inventory, encode =
    // the application). One explode over the per-word symbol table with
    // frequency-weighted counts; the aggregate is map-side combined on
    // the symbol key.
    Q("q_bpe_vocab",
      bpeBaseSql + (1 to BpeRounds).map(bpeRoundSql).mkString(",") + s"""
        |SELECT s AS symbol, CAST(SUM(freq) AS BIGINT) AS cnt
        |FROM (SELECT unnest(syms) AS s, freq FROM w${BpeRounds + 1})
        |GROUP BY s ORDER BY cnt DESC, symbol""".stripMargin) { (s, d) =>
      val (_, wFinal) = bpeTrain(s, d)
      // wFinal is a lineage-free localCheckpoint — storage is reclaimed
      // with the result, no cache handoff
      wFinal.select(explode($("syms")).as("symbol"), $("freq"))
        .groupBy($("symbol")).agg(sum($("freq")).as("cnt"))
        .orderBy(col("cnt").desc, $("symbol"))
    },

    // ---- Batched BPE merge selection: the production merge-throughput
    // mode (SCALE.md §3). Classic BPE lands ONE merge per round — one
    // distributed job pair per merge, a non-starter for a 30k-merge
    // vocabulary. Here each round greedily selects up to m
    // SYMBOL-DISJOINT pairs from the top-K ranking and applies them
    // simultaneously on the PRE-round table (disjointness ⇒ no
    // overlapping position claims ⇒ the combined kept list is
    // well-defined; produces-consumes chains between selected pairs are
    // deferred to the next round — see bpeTrainBatched's note), so a
    // round of the same two jobs lands m merges. The oracle replays the
    // identical bounded-K greedy chain and the simultaneous apply via
    // generated SQL rounds.
    Q("q_bpe_merges_batched",
      """WITH b1 AS (
        |  SELECT w, COUNT(*) AS freq,
        |    string_split(trim(regexp_replace(w, '(.)', '\1 ', 'g')), ' ') AS syms
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w),""".stripMargin +
        (1 to BatchedRounds).map(bpeBatchedRoundSql).mkString(",") + "\n" +
        "SELECT * FROM (" +
        (1 to BatchedRounds).map(r =>
          s"SELECT $r AS round, rk AS rank, pr AS pair, CAST(c AS BIGINT) AS cnt FROM bsel$r")
          .mkString(" UNION ALL ") +
        ") ORDER BY round, rank") { (s, d) =>
      val merges = bpeTrainBatched(s, d, BatchedRounds, BatchedM, BatchedTopK)
      import s.implicits._
      merges.toDF("round", "rank", "pair", "cnt")
        .orderBy($("round"), $("rank"))
    },

    // ---- Out-of-vocabulary encode: the tokenizer-SERVING path for words
    // the training corpus never produced a table entry for. Merges are
    // learned on the TRAIN split, then REPLAYED in learned order over the
    // test split's word set — exactly what a deployed tokenizer does for
    // an unseen word. Scale posture: production serving encodes known
    // words through the precomputed table join (q_bpe_encode) and runs
    // this replay only on the OOV residue — a tiny distinct-word set per
    // batch — so the per-merge window passes here cost m small passes
    // over metadata-scale data, never the corpus.
    Q("q_bpe_oov", bpeOovSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val h = substring(md5($("doc_id").cast("string").cast("binary")), 1, 1)
      val (merges, _) = bpeTrainOn(docs.filter(h <= "b"))
      // the training loop's round discipline: each applyMerges reads its
      // input TWICE (kept + rebuild), so an unmaterialized chain would
      // duplicate the tokenize subtree 2^m-fold
      val fin = Artifacts.rounds(wordSymsRel(docs.filter(h > "d")), merges.size) {
        (r, tw) => Some(applyMerges(tw, Seq(merges(r - 1)._1)))
      }
      fin.select($("w").as("word"), $("freq").cast("long").as("freq"),
          length($("w")).cast("int").as("n_sym_before"),
          size($("syms")).cast("int").as("n_sym_after"))
        .orderBy($("word"))
    },

    // ---- BPE corpus encoding: apply the learned merges back to every
    // document and report the per-doc symbol compression (chars in →
    // tokens out). The trained per-word symbol table joins the exploded
    // corpus on the word key — at 100 TB the table is a few hundred MB
    // of distinct words (broadcast or co-shuffled on the word key), and
    // the encode pass itself is embarrassingly parallel.
    Q("q_bpe_encode", bpeEncodeSql) { (s, d) =>
      val (_, wFinal) = bpeTrain(s, d)
      // wFinal is a lineage-free localCheckpoint — GC-reclaimed with the
      // result
      val table = wFinal.select(
        col("w").as("tw"),
        length($("w")).as("len_before"),
        size($("syms")).as("len_after"))
      Tables.documents(s, d)
        .select($("doc_id"), explode(TextFunctions.tokens($("text"))).as("w"))
        .join(table, col("w") === col("tw"))
        .groupBy($("doc_id"))
        .agg(sum($("len_before")).cast("int").as("n_sym_before"),
          sum($("len_after")).cast("int").as("n_sym_after"))
        .orderBy($("doc_id"))
    },

    // ---- Tokenizer fertility by language: pieces-per-word and the
    // compression ratio vs the character baseline — the tokenizer-eval
    // metric that decides whether a vocabulary serves a language well
    // (high fertility = the language pays more sequence length per word).
    // Same train-once artifact as q_bpe_encode; corpus side is one
    // explode joined against the broadcast word table, aggregated to
    // |langs| rows with integer sums (ratios of exact integers —
    // deterministic without DECIMAL staging).
    Q("q_bpe_fertility", bpeFertilitySql) { (s, d) =>
      val (_, wFinal) = bpeTrain(s, d)
      val table = wFinal.select(col("w").as("tw"),
        length($("w")).as("len_before"), size($("syms")).as("len_after"))
      Tables.documents(s, d)
        .select($("lang"), explode(TextFunctions.tokens($("text"))).as("w"))
        .join(table, col("w") === col("tw"))
        .groupBy($("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum($("len_after")).cast("long").as("n_pieces"),
          round(sum($("len_after")).cast("double") / count(lit(1)), 6)
            .as("fertility"),
          round(sum($("len_after")).cast("double") / sum($("len_before")), 6)
            .as("compression"))
        .orderBy($("lang"))
    },

    // ---- WordPiece tokenizer training — the THIRD tokenizer family
    // (BPE merges by raw pair count; unigram-LM prunes a seeded
    // vocabulary by likelihood loss; WordPiece merges by the LIKELIHOOD
    // RATIO c(ab)/(c(a)·c(b)) — the BERT-lineage criterion that prefers
    // pairs that co-occur beyond what their unigram frequencies
    // predict). The counting, greedy-overlap islands rule, and merge
    // application are the SAME machinery as BPE (one transform
    // definition, [[applyMerge]]); only the per-round argmax differs —
    // one extra symbol-count aggregate joined onto the pair counts,
    // still vocab-scale, still a single-row driver collect per round.
    // The emitted row is the exact integer triple that determines each
    // winner's score, so the gate re-derives the selection without a
    // double ever crossing engines.
    Q("q_wordpiece_merges", wpMergesSql) { (s, d) =>
      val (merges, _) = wpTrainOn(Tables.documents(s, d))
      val rows = merges.zipWithIndex.map { case ((p, cab, ca, cb), i) =>
        (i + 1, p, cab, ca, cb) }
      import s.implicits._
      rows.toDF("rank", "pair", "cnt", "c_left", "c_right").orderBy($("rank"))
    },

    // ---- INCREMENTAL WordPiece training — the BERT-family criterion on
    // the SAME refresh seam as q_incremental_bpe_merges, consuming the
    // SAME stored artifact: WordPiece's sufficient statistic is also the
    // (word, freq) table (the likelihood ratio c(ab)/(c(a)·c(b)) is
    // built from freq-weighted pair and unit counts over distinct
    // words), so one maintained word-frequency state serves every
    // pair-merge tokenizer family's refresh. Selection re-runs from
    // round 1 (the exactness argument on q_incremental_bpe_merges —
    // likelihood winners can flip too); the oracle is q_wordpiece_merges'
    // full-corpus derivation verbatim.
    Q("q_incremental_wordpiece_merges", wpMergesSql) { (s, d) =>
      val (merges, _) = wpTrainOnWords(symsFromFreq(incTokWordFreq(s, d)))
      val rows = merges.zipWithIndex.map { case ((p, cab, ca, cb), i) =>
        (i + 1, p, cab, ca, cb) }
      import s.implicits._
      rows.toDF("rank", "pair", "cnt", "c_left", "c_right").orderBy($("rank"))
    },

    // ---- Batched WordPiece training — the production merge-throughput
    // mode for the BERT-family criterion (the q_bpe_merges_batched
    // discipline ported to likelihood selection): per round, greedily
    // pick up to m SYMBOL-DISJOINT pairs from the bounded top-K
    // likelihood ranking and apply them in ONE simultaneous pass, so a
    // ~30k-piece production vocabulary is ~30k/m rounds instead of 30k.
    // The oracle replays the identical bounded-K greedy chain and the
    // simultaneous apply via generated SQL rounds; each emitted row
    // carries the exact integer triple (cnt, c_left, c_right) behind its
    // winner's score, so the gate re-derives every selection without a
    // double crossing engines. WordPiecePropertySuite pins both trainers
    // against an independent sequential Scala reference on random
    // corpora (and batched m=1 == classic, round for round).
    Q("q_wordpiece_merges_batched",
      """WITH wb1 AS (
        |  SELECT w, COUNT(*) AS freq,
        |    string_split(trim(regexp_replace(w, '(.)', '\1 ', 'g')), ' ') AS syms
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w),""".stripMargin +
        (1 to BatchedRounds).map(wpBatchedRoundSql).mkString(",") + "\n" +
        "SELECT * FROM (" +
        (1 to BatchedRounds).map(r =>
          s"SELECT $r AS round, rk AS rank, pr AS pair, " +
            s"CAST(cab AS BIGINT) AS cnt, CAST(ca AS BIGINT) AS c_left, " +
            s"CAST(cb AS BIGINT) AS c_right FROM wbsel$r")
          .mkString(" UNION ALL ") +
        ") ORDER BY round, rank") { (s, d) =>
      val merges = wpTrainBatched(s, d, BatchedRounds, BatchedM, BatchedTopK)
      import s.implicits._
      merges.toDF("round", "rank", "pair", "cnt", "c_left", "c_right")
        .orderBy($("round"), $("rank"))
    },

    // ---- WordPiece corpus encoding: the learned table applied back to
    // every document (the q_bpe_encode shape — trained per-word symbol
    // table joined onto the exploded corpus on the word key; the table
    // is distinct-words scale, broadcast or co-shuffled at 100 TB).
    // Emitting before/after symbol counts per doc makes the whole
    // training trajectory oracle-checkable: a wrong round-2 winner
    // changes some word's final segmentation and hash-mismatches.
    Q("q_wordpiece_encode", wpEncodeSql) { (s, d) =>
      val (_, wFinal) = wpTrainOn(Tables.documents(s, d))
      val table = wFinal.select(
        col("w").as("tw"),
        length($("w")).as("len_before"),
        size($("syms")).as("len_after"))
      Tables.documents(s, d)
        .select($("doc_id"), explode(TextFunctions.tokens($("text"))).as("w"))
        .join(table, col("w") === col("tw"))
        .groupBy($("doc_id"))
        .agg(sum($("len_before")).cast("int").as("n_sym_before"),
          sum($("len_after")).cast("int").as("n_sym_after"))
        .orderBy($("doc_id"))
    },

    // ---- WordPiece fertility by language — completes the cross-family
    // tokenizer-selection table: q_bpe_fertility, q_unigram_fertility,
    // and this row measure pieces-per-word and compression for the three
    // trained families over the SAME corpus, which is the comparison a
    // vocab decision actually reads. Same shape as q_bpe_fertility
    // (train-once artifact, one explode joined against the word table,
    // |langs| output rows with exact-integer ratios).
    Q("q_wordpiece_fertility",
      wpBaseSql + (1 to WpRounds).map(wpRoundSql).mkString(",") + s"""
        |SELECT d.lang,
        |  CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(len(wp${WpRounds + 1}.syms)) AS BIGINT) AS n_pieces,
        |  round(CAST(SUM(len(wp${WpRounds + 1}.syms)) AS DOUBLE)
        |    / COUNT(*), 6) AS fertility,
        |  round(CAST(SUM(len(wp${WpRounds + 1}.syms)) AS DOUBLE)
        |    / SUM(len(wp1.syms)), 6) AS compression
        |FROM (SELECT lang, unnest(string_split(text,' ')) AS w FROM documents) d
        |JOIN wp1 ON d.w = wp1.w JOIN wp${WpRounds + 1} ON d.w = wp${WpRounds + 1}.w
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin) { (s, d) =>
      val (_, wFinal) = wpTrainOn(Tables.documents(s, d))
      val table = wFinal.select(col("w").as("tw"),
        length($("w")).as("len_before"), size($("syms")).as("len_after"))
      Tables.documents(s, d)
        .select($("lang"), explode(TextFunctions.tokens($("text"))).as("w"))
        .join(table, col("w") === col("tw"))
        .groupBy($("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum($("len_after")).cast("long").as("n_pieces"),
          round(sum($("len_after")).cast("double") / count(lit(1)), 6)
            .as("fertility"),
          round(sum($("len_after")).cast("double") / sum($("len_before")), 6)
            .as("compression"))
        .orderBy($("lang"))
    },

    // ---- Tokenizer serving AT INGEST: the train-batch/apply-stream
    // pair (the q_stream_ann pattern for tokenization). Merges are
    // learned ONCE on the static corpus; the document intake stream
    // then tokenizes each arriving micro-batch through a stream-static
    // BROADCAST join against the trained per-word symbol table — the
    // tiny-artifact-vs-100 TB-stream shape (at scale the word table is
    // a few hundred MB: broadcast if it fits, else a co-shuffled join
    // on the word key; either way the stream side never re-trains).
    // Per-doc totals aggregate INSIDE each micro-batch via foreachBatch
    // (docs are range-staged by doc_id, so a doc never straddles
    // batches) and land as parquet — the drain is one row per doc, and
    // the oracle is the same SQL as the batch q_bpe_encode, so a
    // dropped batch, double emission, or stale merge table
    // hash-mismatches.
    Q("q_stream_bpe_encode", bpeEncodeSql) { (s, d) =>
      streamEncode(s, d, bpeTrain(s, d)._2)
    },

    // ---- WordPiece serving AT INGEST — completes the family symmetry
    // (BPE and unigram-LM both serve their trained tables per trigger):
    // the likelihood-trained per-word symbol table broadcasts onto each
    // arriving micro-batch, per-doc totals aggregate inside the trigger,
    // and the drain shares q_wordpiece_encode's oracle verbatim — a
    // stale table or dropped batch hash-mismatches.
    Q("q_stream_wordpiece_encode", wpEncodeSql) { (s, d) =>
      streamEncode(s, d, wpTrainOn(Tables.documents(s, d))._2)
    },

    // ---- Context-window chunking: overlapping 64-token windows with
    // stride 48 (16-token overlap), the RAG/pretraining chunker. Final
    // window carries the tail remainder (never dropped); docs at or
    // under one window emit exactly one chunk. Chunk boundaries are
    // pure arithmetic over the token array — the whole query is one
    // projection + explode inside codegen, no shuffle, embarrassingly
    // parallel at any corpus size.
    Q("q_doc_chunk",
      chunkSql("SELECT doc_id, text FROM documents")) { (s, d) =>
      chunkRows(Tables.documents(s, d).select($("doc_id"), $("text")))
        .orderBy($("doc_id"), $("chunk_id"))
    },

    // ---- HTML boilerplate extraction — the missing FIRST stage of a web
    // corpus (the trafilatura/jusText step): strip markup, split into
    // block-level elements, and gate each block on LINK DENSITY (chars
    // inside <a> anchors vs total block text — nav bars and footers are
    // mostly anchor text, body prose is not; keep iff link_chars × 2 ≤
    // text_chars). The synthetic corpus has no HTML column, so both
    // engines first wrap each document in the SAME deterministic page
    // skeleton (nav + two <p> blocks carrying the doc's words + footer —
    // one all-link block each side of real prose, one mixed block) and
    // then run the extraction; the oracle states the identical synthesis
    // in SQL, so the tag-strip regex, the anchor-text accounting, and
    // the density gate are all hash-checked per document. Every step is
    // a scalar codegen'd expression — ONE map-only projection over the
    // scan, zero exchanges (plan-asserted), embarrassingly parallel at
    // any corpus size. (Projection + oracle live in htmlExtractRows /
    // htmlExtractSql above, shared with the streaming twin below.)
    Q("q_html_extract", htmlExtractSql) { (s, d) =>
      htmlExtractRows(Tables.documents(s, d).select($("doc_id"), $("text")))
        .orderBy($("doc_id"))
    },

    // ---- The same extraction AT INGEST: documents arrive as a file
    // stream and each micro-batch runs the identical map-only projection
    // (no state, no watermark — boilerplate removal is embarrassingly
    // parallel per row, the first stage of a streaming web-corpus
    // pipeline before any dedup/quality stage sees the text). Batches
    // drain through the idempotent per-batch overwrite, so a replayed
    // trigger rewrites its own files. The oracle is the batch SQL
    // verbatim — a dropped batch, a double-applied batch, or any drift
    // between the batch and stream projections hash-mismatches.
    Q("q_stream_html_extract", htmlExtractSql) { (s, d) =>
      Staging.ledger(Tables.documents(s, d).select($("doc_id"), $("text")),
          "doc_id", 3) { (bdf, id, out) =>
        Staging.writeBatch(htmlExtractRows(bdf), s"$out/res", id)
      }(out => Staging.drainParquet(s, s"$out/res", $("doc_id")))
    },

    // ---- Doc-internal repeated-paragraph removal — the Gopher REWRITE
    // rule complementing q_gopher_repetition's flags: duplicate
    // newline-delimited paragraphs within one document are dropped
    // (first occurrence survives), the text is rebuilt, and the result
    // is md5-audited. Same rewrite discipline as q_span_dedup but
    // paragraph-keyed WITHIN the doc — per-doc state only, so the whole
    // operator is one map-side projection (array_distinct preserves
    // first-occurrence order; zero corpus shuffle, plan-asserted). The
    // corpus has no newlines, so both engines derive the same
    // deterministic paragraph view first (five word-range paragraphs
    // with the 1st and 2nd re-injected as known duplicates — every doc
    // exercises the drop path); the oracle states the identical
    // synthesis and a min-first-index rebuild, so the split, the
    // first-wins policy, and the byte-exact rebuild are hash-checked.
    Q("q_paragraph_dedup",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |p AS (SELECT doc_id,
        |  -- coalesce: DuckDB's array_to_string([]) is NULL where Spark's
        |  -- array_join([]) is '' — short docs hit the empty slices
        |  [coalesce(array_to_string(tk[1:12], ' '), ''),
        |   coalesce(array_to_string(tk[13:24], ' '), ''),
        |   coalesce(array_to_string(tk[1:12], ' '), ''),
        |   coalesce(array_to_string(tk[25:len(tk)], ' '), ''),
        |   coalesce(array_to_string(tk[13:24], ' '), '')] AS paras FROM t),
        |e AS (SELECT doc_id, u.i AS idx, paras[CAST(u.i AS INT)] AS para
        |      FROM p, unnest(range(1, 6)) AS u(i)),
        |f AS (SELECT doc_id, para, min(idx) AS fidx FROM e GROUP BY doc_id, para)
        |SELECT doc_id, CAST(5 AS BIGINT) AS n_paras,
        |  CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  CAST(5 - COUNT(*) AS BIGINT) AS n_dropped,
        |  md5(string_agg(para, chr(10) ORDER BY fidx)) AS clean_md5
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val p1 = array_join(slice($("tk"), 1, 12), " ")
      val p2 = array_join(slice($("tk"), 13, 12), " ")
      val p3 = array_join(slice($("tk"), lit(25),
        greatest(lit(0), size($("tk")) - lit(24))), " ")
      val kept = array_distinct(array(p1, p2, p1, p3, p2))
      Tables.documents(s, d)
        .select($("doc_id"), TextFunctions.tokens($("text")).as("tk"))
        .select($("doc_id"), lit(5L).as("n_paras"),
          size(kept).cast("long").as("n_kept"),
          (lit(5L) - size(kept)).as("n_dropped"),
          md5(array_join(kept, "\n").cast("binary")).as("clean_md5"))
        .orderBy($("doc_id"))
    },

    // ---- CROSS-document repeated-line removal — the CCNet/RefinedWeb
    // boilerplate step that complements q_paragraph_dedup's doc-INTERNAL
    // rule: a line (paragraph) appearing in more than 5 distinct
    // documents corpus-wide is boilerplate (copyright footers, nav
    // text, subscribe banners) and is removed from EVERY document; text
    // is rebuilt from the surviving lines and md5-audited. The corpus
    // has no newlines, so both engines synthesize the same
    // deterministic 4-line view (two constant chrome lines — df = all
    // docs, always removed — plus two content slices that only cross
    // the threshold inside real duplicate clusters; sf0.1 has one such
    // cluster, so the content path is exercised). Scale: lines travel
    // as xxhash64 (8-byte shuffle keys, never line text); the doc-
    // frequency aggregate partial-combines map-side; the boilerplate
    // set is BY DEFINITION tiny (lines repeated >5× are few distinct)
    // so the removal join broadcasts it; the rebuild groups each doc's
    // own ≤4 lines — per-doc state only. A 64-bit collision would fold
    // two lines' df and the string-keyed oracle would hash-mismatch
    // (red gate, not silent drift) — same posture as span dedup.
    Q("q_line_dedup", lineDedupSql) { (s, d) =>
      val paras = lineParas(Tables.documents(s, d).select($("doc_id"), $("text")))
      val dfc = paras.select($("h"), $("doc_id")).distinct()
        .groupBy($("h")).agg(count(lit(1)).as("dfd"))
      lineRebuild(paras, dfc).orderBy($("doc_id"))
    },

    // ---- Repeated-line removal AT INGEST: the boilerplate LEDGER is
    // maintained as documents stream in — each micro-batch appends its
    // own line view and its per-batch line doc-frequencies via the
    // idempotent per-batch write (replay overwrites, never
    // double-counts), and the cleaned rebuild is served from the
    // accumulated ledger (same maintenance/serving contract as
    // q_stream_bm25). Batch df partials SUM to the global distinct-doc
    // frequency because documents are range-staged by doc_id — a doc
    // contributes to exactly one batch, so per-batch distinct counts
    // are disjoint. The oracle is the batch SQL verbatim: a dropped
    // batch shifts a line's df across the >5 threshold or loses a doc's
    // rebuild row, a replayed batch would double its df — either way
    // the md5-audited output hash-mismatches, so exactly-once ledger
    // maintenance is observationally verified.
    Q("q_stream_line_dedup", lineDedupSql) { (s, d) =>
      Staging.ledger(Tables.documents(s, d).select($("doc_id"), $("text")),
          "doc_id", 3) { (bdf, id, out) =>
        val bp = lineParas(bdf)
        Staging.writeBatch(bp, s"$out/paras", id)
        Staging.writeBatch(
          bp.select($("h"), $("doc_id")).distinct()
            .groupBy($("h")).agg(count(lit(1)).as("dfp")),
          s"$out/dfs", id)
      } { out =>
        val paras = Staging.readBatches(s, s"$out/paras")
        val dfc = Staging.readBatches(s, s"$out/dfs")
          .groupBy($("h")).agg(sum($("dfp")).as("dfd"))
        // localize: the ledger dirs die with the temp dir, the ≤corpus
        // answer is doc-scale (same close-out as q_stream_bm25)
        val res = lineRebuild(paras, dfc).orderBy($("doc_id"))
        s.createDataFrame(res.collectAsList(), res.schema)
      }
    },

    // ---- Anchor-text aggregation per link target — the web-graph
    // signal a search/pretraining corpus derives from HTML: what other
    // pages CALL a page (in-degree, distinct referrers, dominant anchor
    // phrase). Outlinks are synthesized deterministically from the
    // corpus (three per document: first / middle / penultimate token →
    // '/p/<token>' target with the token bigram as anchor), so both
    // engines derive the identical edge list. Shape: the edge synth is
    // one map-only projection (a 3-way unionAll of column slices — no
    // explode state); per-(target, anchor) counts partial-combine
    // map-side; the dominant anchor is the native bounded-heap
    // TopKPerKey (k=1, never a window sort); distinct-referrer counts
    // are a two-level aggregate (doc-distinct then count) — every
    // shuffle is on the target key, which at web scale is the page URL
    // (bucketable, never skewed past AQE's split threshold by one hot
    // target because the per-anchor partials cap each mapper's emit).
    Q("q_anchor_agg",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |           WHERE len(string_split(text, ' ')) >= 4),
        |l AS (
        |  SELECT doc_id, '/p/' || tk[1] AS target,
        |         tk[1] || ' ' || tk[2] AS anchor FROM t
        |  UNION ALL
        |  SELECT doc_id, '/p/' || tk[len(tk)//2] AS target,
        |         tk[len(tk)//2] || ' ' || tk[len(tk)//2+1] AS anchor FROM t
        |  UNION ALL
        |  SELECT doc_id, '/p/' || tk[len(tk)-1] AS target,
        |         tk[len(tk)-1] || ' ' || tk[len(tk)] AS anchor FROM t),
        |c AS (SELECT target, anchor, COUNT(*) AS cnt FROM l GROUP BY target, anchor),
        |top AS (SELECT target, anchor, cnt, row_number() OVER (
        |          PARTITION BY target ORDER BY cnt DESC, anchor) AS rn FROM c),
        |agg AS (SELECT target, COUNT(*) AS in_links,
        |          COUNT(DISTINCT doc_id) AS n_src FROM l GROUP BY target)
        |SELECT agg.target, agg.in_links, agg.n_src,
        |  top.anchor AS top_anchor, top.cnt AS top_anchor_n
        |FROM agg JOIN top ON top.target = agg.target AND top.rn = 1
        |ORDER BY agg.target""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select($("doc_id"), TextFunctions.tokens($("text")).as("tk"))
        .filter(size($("tk")) >= 4)
      def edge(i: org.apache.spark.sql.Column) = t.select(
        $("doc_id"),
        concat(lit("/p/"), element_at($("tk"), i)).as("target"),
        concat_ws(" ", element_at($("tk"), i),
          element_at($("tk"), i + lit(1))).as("anchor"))
      val links = edge(lit(1))
        .unionAll(edge(expr("size(tk) div 2").cast("int")))
        .unionAll(edge(size($("tk")) - 1))
      val counts = links.groupBy($("target"), $("anchor"))
        .agg(count(lit(1)).as("cnt"))
      val top = graft.plans.TopKPerKey(counts, Seq("target"),
          Seq(col("cnt").desc, col("anchor").asc), k = 1)
        .select($("target"), col("anchor").as("top_anchor"),
          col("cnt").as("top_anchor_n"))
      val agg = links.groupBy($("target"))
        .agg(count(lit(1)).as("in_links"))
      val srcs = links.select($("target"), $("doc_id")).distinct()
        .groupBy($("target")).agg(count(lit(1)).as("n_src"))
      agg.join(srcs, "target").join(top, "target")
        .select($("target"), $("in_links"), $("n_src"),
          $("top_anchor"), $("top_anchor_n"))
        .orderBy($("target"))
    },

    // ---- Duplicated-span removal (exact substring dedup at 32-token
    // segment granularity): every segment that appears verbatim anywhere
    // earlier in the corpus is dropped, the FIRST occurrence (smallest
    // (doc_id, seg_idx)) survives, and each document's cleaned text is
    // rebuilt from its surviving segments in order. Unlike the doc-level
    // dedup family (which keeps/drops whole documents) this rewrites
    // document CONTENT — the boilerplate-stripping shape. The
    // first-occurrence winner is a map-side-combinable min over a packed
    // (doc_id, seg_idx) key, so the segment-hash shuffle carries one
    // candidate per map partition per hash even when one segment
    // repeats across the whole corpus.
    Q("q_span_dedup", spanDedupSql) { (s, d) =>
      // pk packs (doc_id, seg_idx) into one orderable long (segRows);
      // a doc beyond the 2^20-segment pack width (33M tokens) fails
      // loudly at runtime instead of corrupting ordering.
      val occ = segRows(Tables.documents(s, d).select($("doc_id"), $("text")))
      val fst = occ.groupBy($("h")).agg(min($("pk")).as("first_pk"))
        .select(col("h").as("f_h"), col("first_pk"))
      spanRebuild(occ.join(fst, col("h") === col("f_h")))
        .orderBy($("doc_id"))
    },

    // ---- Duplicated-span removal AT INGEST: the streaming twin of
    // q_span_dedup (same oracle). Cross-batch memory is an external
    // SEEN-STORE of (segment hash, first packed position) rather than
    // operator state — each micro-batch judges its segments against
    // least(in-batch min, store min), rebuilds its documents' cleaned
    // text, then checkpoints its own hash minima into the store via the
    // idempotent per-batch write. Replay safety falls out of the min:
    // a replayed batch re-reads its own earlier store entry, and
    // least(pk, pk) changes nothing. Documents are range-staged by
    // doc_id, so later batches always carry LARGER packed keys and the
    // store min is always the global first occurrence. At 100 TB the
    // store is the hash-keyed dedup ledger (compact-able like any
    // channel topic); each trigger's join against it is hash-bucketed.
    Q("q_stream_span_dedup", spanDedupSql) { (s, d) =>
      Staging.ledger(Tables.documents(s, d).select($("doc_id"), $("text")),
          "doc_id", 4) { (bdf, id, out) =>
        Artifacts.scoped(segRows(bdf)) { occ =>
          val batchMin = occ.groupBy($("h")).agg(min($("pk")).as("bpk"))
          val seenDir = new java.io.File(s"$out/seen")
          // prune the store to THIS batch's hashes before the min
          // aggregate — only they can affect the join, and the
          // semi-join keeps per-trigger store work bounded by batch
          // size instead of shuffling every historical hash (the
          // store itself is the compact-able dedup ledger at scale)
          val seenMin =
            if (seenDir.exists)
              Staging.readBatches(s, seenDir.toString)
                // per-trigger batch-sized broadcast; at very large
                // triggers drop the hint → shuffled semi-join
                .join(broadcast(batchMin.select($("h"))), Seq("h"), "left_semi")
                .groupBy($("h")).agg(min($("spk")).as("spk"))
            else batchMin.select($("h"), $("bpk").as("spk")).limit(0)
          val fst = batchMin
            .join(seenMin.withColumnRenamed("h", "sh"),
              col("h") === col("sh"), "left_outer")
            .select($("h").as("f_h"),
              least($("bpk"), coalesce($("spk"), $("bpk"))).as("first_pk"))
          Staging.writeBatch(
            spanRebuild(occ.join(fst, col("h") === col("f_h"))),
            s"$out/res", id)
          // checkpoint this batch's minima AFTER judging (replay
          // re-reads them; least() makes that a no-op)
          Staging.writeBatch(
            batchMin.select($("h"), $("bpk").as("spk")),
            s"$out/seen", id)
        }
      }(out => Staging.drainParquet(s, s"$out/res", $("doc_id")))
    },

    // ---- Distribution-shift monitoring: per-source unigram KL
    // divergence against the corpus distribution — the drift metric a
    // pipeline watches to catch a source whose content changed under it
    // (scraper broke, upstream mix shifted, encoding corrupted).
    // Determinism follows the q_lm_quality pattern: each token's KL
    // contribution rounds to 6dp and sums as DECIMAL(18,6), so the
    // total is order-independent and engine-bit-stable. Scale: the only
    // corpus-sized work is the (source, word) count (map-side combined,
    // one exchange); the per-source totals, corpus vocabulary, and
    // grand total are metadata-scale broadcasts onto it.
    Q("q_source_drift",
      """WITH tok AS (SELECT source, unnest(string_split(text,' ')) AS w
        |             FROM documents),
        |sw AS (SELECT source, w, COUNT(*) AS c FROM tok GROUP BY source, w),
        |sn AS (SELECT source, SUM(c) AS n FROM sw GROUP BY source),
        |cw AS (SELECT w, SUM(c) AS c FROM sw GROUP BY w),
        |cn AS (SELECT SUM(c) AS n FROM cw)
        |SELECT sw.source, CAST(sn.n AS BIGINT) AS n_tok,
        |  CAST(SUM(CAST(round((sw.c / sn.n) * ln((sw.c / sn.n) / (cw.c / cn.n)), 6)
        |      AS DECIMAL(18,6))) AS DOUBLE) AS kl
        |FROM sw JOIN sn ON sw.source = sn.source
        |JOIN cw ON sw.w = cw.w CROSS JOIN cn
        |GROUP BY sw.source, sn.n ORDER BY sw.source""".stripMargin) { (s, d) =>
      val tok = Tables.spread(Tables.documents(s, d))
        .select($("source"), explode(TextFunctions.tokens($("text"))).as("w"))
      val sw = tok.groupBy($("source"), $("w")).agg(count(lit(1)).as("c"))
      val sn = sw.groupBy($("source")).agg(sum($("c")).as("n"))
        .withColumnRenamed("source", "sn_source")
      val cw = sw.groupBy($("w")).agg(sum($("c")).as("cc"))
        .withColumnRenamed("w", "cw_w")
      val cn = cw.agg(sum($("cc")).as("ncorp"))
      val p = $("c").cast("double") / $("n").cast("double")
      val q = $("cc").cast("double") / $("ncorp").cast("double")
      sw.join(broadcast(sn), col("source") === col("sn_source"))
        // cw is vocab-scale — un-hinted, AQE decides (q2 pattern)
        .join(cw, col("w") === col("cw_w"))
        .crossJoin(broadcast(cn))
        .groupBy($("source"), $("n"))
        .agg(sum(round(p * log(p / q), 6).cast("decimal(18,6)"))
          .cast("double").as("kl"))
        .select($("source"), $("n").as("n_tok"), $("kl"))
        .orderBy($("source"))
    },

    // ---- Drift monitoring AT INGEST: the stream twin of q_source_drift
    // (same oracle). The corpus unigram distribution is the trained
    // BASELINE — computed once in batch and broadcast; the document
    // intake stream then scores each arriving source against it inside
    // foreachBatch (sources are range-staged, so a source's documents
    // arrive within one micro-batch and its in-batch token counts are
    // its full counts). This is the production monitoring shape: the
    // baseline artifact is tiny and static, each trigger touches only
    // its own rows, and a drifting source surfaces in the trigger that
    // delivers it — here the per-source KL rows land in parquet and
    // must reproduce the batch computation bit-for-bit.
    Q("q_stream_drift",
      """WITH tok AS (SELECT source, unnest(string_split(text,' ')) AS w
        |             FROM documents),
        |sw AS (SELECT source, w, COUNT(*) AS c FROM tok GROUP BY source, w),
        |sn AS (SELECT source, SUM(c) AS n FROM sw GROUP BY source),
        |cw AS (SELECT w, SUM(c) AS c FROM sw GROUP BY w),
        |cn AS (SELECT SUM(c) AS n FROM cw)
        |SELECT sw.source, CAST(sn.n AS BIGINT) AS n_tok,
        |  CAST(SUM(CAST(round((sw.c / sn.n) * ln((sw.c / sn.n) / (cw.c / cn.n)), 6)
        |      AS DECIMAL(18,6))) AS DOUBLE) AS kl
        |FROM sw JOIN sn ON sw.source = sn.source
        |JOIN cw ON sw.w = cw.w CROSS JOIN cn
        |GROUP BY sw.source, sn.n ORDER BY sw.source""".stripMargin) { (s, d) =>
      // baseline: corpus word counts + total, trained in batch
      Artifacts.scoped(Tables.documents(s, d)
          .select(explode(TextFunctions.tokens($("text"))).as("w"))
          .groupBy($("w")).agg(count(lit(1)).as("cc"))
          .withColumnRenamed("w", "cw_w")) { base =>
        val nCorp = base.agg(sum($("cc"))).collect()(0).getLong(0)
        Staging.ledger(Tables.documents(s, d).select($("source"), $("text")),
            "source", 2) { (bdf, id, out) =>
          val sw = bdf
            .select($("source"), explode(TextFunctions.tokens($("text"))).as("w"))
            .groupBy($("source"), $("w")).agg(count(lit(1)).as("c"))
          val sn = sw.groupBy($("source")).agg(sum($("c")).as("n"))
            .withColumnRenamed("source", "sn_source")
          val p = $("c").cast("double") / $("n").cast("double")
          val qq = $("cc").cast("double") / lit(nCorp).cast("double")
          Staging.writeBatch(
            sw.join(broadcast(sn), col("source") === col("sn_source"))
              .join(broadcast(base), col("w") === col("cw_w"))
              .groupBy($("source"), $("n"))
              .agg(sum(round(p * log(p / qq), 6).cast("decimal(18,6)"))
                .cast("double").as("kl"))
              .select($("source"), $("n").as("n_tok"), $("kl")),
            s"$out/res", id)
        }(out => Staging.drainParquet(s, s"$out/res", $("source")))
      }
    },

    // ---- PII redaction audit: scrub emails, IPv4 addresses, and an
    // entity denylist from every document, counting each category. The
    // regex passes are codegen'd builtins applied in one map-side
    // projection (no UDF, no shuffle); the md5 of the redacted text
    // makes the rewrite itself oracle-checkable, not just the counts.
    // On this synthetic corpus the email/IP categories are structural
    // zeros (the patterns still execute); the denylist category
    // exercises nonzero rewrites.
    Q("q_pii_redact",
      s"""SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b')) AS INT) AS n_ip,
        |  CAST(len(regexp_extract_all(text, '\\b(customer|supplier)\\b')) AS INT) AS n_entity,
        |  md5($redactSqlExpr) AS redacted_md5
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        $("doc_id"),
        size(regexp_extract_all($("text"), lit(EmailRe), lit(0))).as("n_email"),
        size(regexp_extract_all($("text"), lit(IpRe), lit(0))).as("n_ip"),
        size(regexp_extract_all($("text"), lit(EntityRe), lit(0))).as("n_entity"),
        md5(redacted($("text"))).as("redacted_md5"))
        .orderBy($("doc_id"))
    },

    // ---- Document prep AT INGEST: redaction → chunking composed in one
    // append-mode streaming pass — the stateless front half of the
    // ingest pipeline (the stateful half is q_stream_curation's
    // dedup/decon chain). Each arriving micro-batch's documents are
    // scrubbed and windowed map-side (no state, no shuffle inside the
    // trigger beyond the drain write); the oracle is the batch
    // composition (chunk the redacted text), so a missed batch, a stale
    // pattern, or a chunk-boundary drift hash-mismatches.
    Q("q_stream_ingest_prep",
      chunkSql(s"SELECT doc_id, $redactSqlExpr AS text FROM documents")) { (s, d) =>
      Staging.ledger(Tables.documents(s, d).select($("doc_id"), $("text")),
          "doc_id", 2) { (bdf, id, out) =>
        Staging.writeBatch(
          chunkRows(bdf.select($("doc_id"), redacted($("text")).as("text"))),
          s"$out/res", id)
      }(out => Staging.drainParquet(s, s"$out/res", $("doc_id"), $("chunk_id")))
    }
  )
}
