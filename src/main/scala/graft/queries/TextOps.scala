package graft.queries

import graft.{Q, Tables}
import graft.functions.{Bloom, HeavyHitters, TextFunctions}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: token statistics,
  * quality scoring, language-ID, fingerprinting. All per-row compute is
  * codegen'd built-ins — at 100 TB these are embarrassingly parallel scans
  * whose only shuffle is the final small aggregation (if any).
  */
object TextOps {

  /** Deterministic content-hash train/val/test tag (12/16, 2/16, 2/16 by
    * the first md5 hex digit of the doc id) — the split gate shared by
    * every split-aware query here; each oracle carries the same CASE. */
  private[graft] def splitTag: org.apache.spark.sql.Column = {
    val h = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
    when(h <= "b", "train").when(h <= "d", "val").otherwise("test")
  }

  /** Per-source doc/token totals with corpus totals attached and THE
    * sampling-recipe formula `w = round(least(1, (total/k)/toks), 6)` —
    * the single place the recipe lives: q_mix_weights REPORTS it,
    * q_weighted_sample APPLIES it, so the published weight and the
    * applied weight cannot drift. */
  private def mixWeightRel(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val perSrc = Tables.documents(s, d)
      .select(col("source"), TextFunctions.tokenCount(col("text")).as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("toks"))
    val tot = perSrc.agg(sum(col("toks")).cast("double").as("total"),
      count(lit(1)).as("k"))
    perSrc.crossJoin(broadcast(tot))
      .withColumn("w",
        round(least(lit(1.0), (col("total") / col("k")) / col("toks")), 6))
  }

  private val langMarkers: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das"),
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "de"),
    "fr" -> Seq("le", "la", "les"))

  /** Shared q_priority_sample / q_stream_priority_sample oracle — the
    * Efraimidis–Spirakis A-Res top-50 by length-weighted hash key. */
  private val prioritySampleSql: String =
    """WITH d AS (SELECT doc_id, n_chars,
      |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 5, 4))
      |      AS BIGINT) AS u16
      |  FROM documents),
      |k AS (SELECT doc_id, n_chars, u16,
      |    round(ln((u16 + 0.5) / 65536.0) / n_chars, 9) AS skey FROM d)
      |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
      |  CAST(u16 AS BIGINT) AS u16, skey
      |FROM k ORDER BY skey DESC, doc_id LIMIT 50""".stripMargin

  /** Shared q_stratified_sample / q_stream_stratified_sample oracle —
    * the k=10-per-source A-Res quota draw by the same length-weighted
    * hash key. */
  private val stratifiedSampleSql: String =
    """WITH d AS (SELECT doc_id, source, n_chars,
      |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 5, 4))
      |      AS BIGINT) AS u16
      |  FROM documents),
      |k AS (SELECT doc_id, source, n_chars, u16,
      |    round(ln((u16 + 0.5) / 65536.0) / n_chars, 9) AS skey FROM d),
      |r AS (SELECT *, row_number() OVER (PARTITION BY source
      |        ORDER BY skey DESC, doc_id) AS rn FROM k)
      |SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars, skey
      |FROM r WHERE rn <= 10
      |ORDER BY source, skey DESC, doc_id""".stripMargin

  /** Shared q_dsir_sample / q_stream_dsir oracle — 256-bucket hashed-
    * unigram log-likelihood-ratio weights + Gumbel top-100. */
  private val dsirSql: String =
    """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      |             FROM documents),
      |tw AS (SELECT doc_id, lang,
      |         CAST(concat('0x', substr(md5(w), 1, 4)) AS BIGINT) % 256 AS b
      |       FROM tok WHERE w <> ''),
      |db AS (SELECT doc_id, lang, b, COUNT(*) AS n FROM tw
      |       GROUP BY doc_id, lang, b),
      |cr AS (SELECT b, SUM(n) AS cr FROM db GROUP BY b),
      |ct AS (SELECT b, SUM(n) AS ct FROM db WHERE lang = 'en' GROUP BY b),
      |nt AS (SELECT SUM(ct) AS nt FROM ct),
      |nr AS (SELECT SUM(cr) AS nr FROM cr),
      |lam AS (SELECT cr.b,
      |          round(ln(((COALESCE(ct.ct, 0) + 1.0) / (nt.nt + 256)) /
      |                   ((cr.cr + 1.0) / (nr.nr + 256))), 6) AS lam
      |        FROM cr LEFT JOIN ct ON cr.b = ct.b
      |        CROSS JOIN nt CROSS JOIN nr),
      |lw AS (SELECT db.doc_id, db.lang,
      |         CAST(SUM(CAST(lam AS DECIMAL(18,6)) * n) AS DOUBLE) AS logw
      |       FROM db JOIN lam ON db.b = lam.b GROUP BY db.doc_id, db.lang),
      |g AS (SELECT doc_id, lang, round(logw, 6) AS logw,
      |        round(logw - ln(-ln(
      |          (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 9, 4))
      |             AS BIGINT) + 0.5) / 65536.0)), 6) AS gkey
      |      FROM lw)
      |SELECT doc_id, lang, logw, gkey FROM g
      |ORDER BY gkey DESC, doc_id LIMIT 100""".stripMargin

  /** q_domain_reweight oracle: per-source mean token cross-entropy under
    * the corpus unigram MLE, then 3 unrolled exponentiated-gradient
    * steps (η=0.5) + uniform smoothing (c=0.1) — one Scala loop is the
    * single algorithm definition for both engines (the classifier-GD /
    * pagerank discipline). */
  private lazy val domainReweightSql: String = {
    val steps = (1 to 3).map { i =>
      val prev = if (i == 1) "s0" else s"s${i - 1}"
      s"""a$i AS (SELECT source, n_tok, xent, mu, k,
         |  ${r6Sql("w * exp(0.5 * greatest(xent - mu, 0))")} AS a FROM $prev),
         |z$i AS (SELECT CAST(SUM(CAST(a AS DECIMAL(18,6))) AS DOUBLE) AS z FROM a$i),
         |s$i AS (SELECT source, n_tok, xent, mu, k, ${r6Sql("a / z")} AS w
         |       FROM a$i CROSS JOIN z$i)"""
    }.mkString(",\n")
    s"""WITH t0 AS (SELECT source, unnest(string_split(text, ' ')) AS tok
       |            FROM documents),
       |ww AS (SELECT source, tok FROM t0 WHERE tok <> ''),
       |tf AS (SELECT tok, COUNT(*) AS tf FROM ww GROUP BY tok),
       |tot AS (SELECT COUNT(*) AS n FROM ww),
       |sx AS (SELECT source, COUNT(*) AS n_tok,
       |         SUM(CAST(round(-ln(CAST(tf.tf AS DOUBLE) / n), 6)
       |             AS DECIMAL(18,6))) AS sxs
       |       FROM ww JOIN tf USING (tok) CROSS JOIN tot GROUP BY source),
       |muk AS (SELECT round(CAST(SUM(sxs) AS DOUBLE) / SUM(n_tok), 6) AS mu,
       |          COUNT(*) AS k FROM sx),
       |s0 AS (SELECT source, CAST(n_tok AS BIGINT) AS n_tok,
       |         round(CAST(sxs AS DOUBLE) / n_tok, 6) AS xent, mu, k,
       |         ${r6Sql("1.0 / k")} AS w
       |       FROM sx CROSS JOIN muk),
       |$steps
       |SELECT source, n_tok, xent, ${r6Sql("0.9 * w + 0.1 / k")} AS w
       |FROM s3 ORDER BY source""".stripMargin
  }

  /** Shared oracle CTE chain producing `scored` = (doc_id, n_tok, xent):
    * per-doc mean token cross-entropy under the corpus unigram MLE —
    * consumed by q_lm_quality (mean-threshold keep) and
    * q_curriculum_buckets (quartile tiers), so both read ONE scoring
    * definition. */
  private val lmScoredCtes: String =
    """w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |           FROM documents),
      |ww AS (SELECT doc_id, word FROM w WHERE word <> ''),
      |tf AS (SELECT word, COUNT(*) AS tf FROM ww GROUP BY word),
      |tot AS (SELECT COUNT(*) AS n FROM ww),
      |sc AS (SELECT ww.doc_id, COUNT(*) AS n_tok,
      |         SUM(CAST(round(-ln(CAST(tf.tf AS DOUBLE) / n), 6)
      |             AS DECIMAL(18,6))) AS s
      |       FROM ww JOIN tf USING (word) CROSS JOIN tot
      |       GROUP BY ww.doc_id),
      |scored AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
      |             round(CAST(s AS DOUBLE) / n_tok, 6) AS xent FROM sc)""".stripMargin

  /** (doc_id, n_tok, xent) unigram-LM scores (one row per DOC, 3 narrow
    * columns — orders of magnitude smaller than the corpus). Uncached:
    * its consumers' branches share the per-doc aggregate's exchange
    * (ReusedExchange). ONE explode pass reduced
    * to the lm_dwc (doc, word, n) artifact: the vocab aggregate and the
    * scoring join both scan the columnar artifact instead of each
    * re-paying the corpus scan+explode. n × DECIMAL (6dp cost) is exact,
    * so summing per-WORD weights equals the oracle's per-OCCURRENCE
    * decimal sum bit-for-bit. tf is vocab-scale (slow-growing but
    * unbounded) and stays un-hinted: AQE broadcasts while it fits. */
  private def lmScored(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val dwc = lmDwc(s, d)
    val tf = dwc.groupBy(col("word")).agg(sum(col("n")).as("tf"))
    val tot = tf.agg(sum(col("tf")).as("ntot"))
    dwc
      .join(tf, "word")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n"),
        round(-log(col("tf").cast("double") / col("ntot")), 6).as("c"))
      .groupBy(col("doc_id"))
      // sums in the order the score reads them: the mean branch's pruned
      // aggregate then equals this one, so both share one exchange
      .agg(sum(col("c").cast("decimal(18,6)") * col("n")).cast("double").as("s"),
        sum(col("n")).as("n_tok"))
      .select(col("doc_id"), col("n_tok"),
        round(col("s") / col("n_tok"), 6).as("xent"))
  }

  /** Corpus (doc, word, n) token counts — staged once as a parquet
    * artifact; shared by q_lm_quality and q_domain_reweight (the unigram
    * LM both score against is ONE relation, so they cannot drift). */
  private def lmDwc(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    Artifacts.parquet(s, d, "lm_dwc") {
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("n"))
    }

  /** Distinct 13-gram shingle HASHES of a (…, text) corpus slice — the
    * stored decontamination index relation (single column `s`). ONE
    * definition shared by q_incremental_decon's artifact derivation and
    * the maintenance loop's increments (IncrementalDeconSuite): an index
    * grown by appending a new batch's NOVEL shingles (left_anti against
    * the stored index) serves the same probe as a full rebuild. */
  private[graft] def deconShingleIndex(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(explode(TextFunctions.shingleHashes(col("text"), 13)).as("s"))
      .distinct()

  /** Probe a stored shingle index with a benchmark: per-doc count of
    * distinct benchmark shingles present in the index. The benchmark is
    * metadata-scale by definition, so it broadcasts — the probe is one
    * map-side pass over the index scan. Correct ONLY while the index
    * holds each shingle once (the maintenance contract above); a
    * duplicate index row would double-count its hits, which is exactly
    * what IncrementalDeconSuite's re-probe assertion pins. */
  private[graft] def deconProbe(index: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val te = bench.select(col("doc_id"),
        explode(TextFunctions.shingleHashes(col("text"), 13)).as("s"))
      .distinct()
    broadcast(te).join(index, "s")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** (doc_id, g = "w1 w2", n) bigram occurrence counts of a (doc_id,
    * text) relation — bigrams assemble ARRAY-side (two shifted slices
    * zip into strings: never a self-join, never a Window over the token
    * stream) and reduce to counts immediately. ONE definition shared by
    * bigram-LM training, batch scoring, and stream serving. */
  /** Test seam: PlanSuite asserts the array-side assembly shape. */
  private[graft] def docBigramsForTest(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = docBigrams(docs)

  private def docBigrams(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"),
        filter(TextFunctions.tokens(col("text")), w => w =!= "").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("n"))

  /** Corpus (doc, bigram, n) — staged as a parquet artifact (the
    * charlm_dgc protocol): the model build and the scoring join each get
    * a columnar, lineage-free scan. */
  private def bilmDbc(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    Artifacts.parquet(s, d, "bilm_dbc") {
      docBigrams(Tables.documents(s, d))
    }

  /** The trained interpolated-bigram model: (g, mcost) with mcost the
    * 6dp-rounded Jelinek–Mercer cost in exact integer micro-nats.
    * Context totals c(w₁·) derive from the bigram counts themselves;
    * the unigram backstop reads the SHARED lm_dwc artifact (one token
    * definition across the LM ladder). Vocab²-bounded — un-hinted joins
    * (AQE broadcasts while it fits). */
  private def bilmModel(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val c12 = bilmDbc(s, d).groupBy(col("g")).agg(sum(col("n")).as("c12"))
    val c1 = c12.groupBy(split(col("g"), " ").getItem(0).as("w1"))
      .agg(sum(col("c12")).as("c1"))
    val uni = lmDwc(s, d).groupBy(col("word")).agg(sum(col("n")).as("cu"))
    val nt = uni.agg(sum(col("cu")).cast("double").as("nt"))
    c12
      .join(c1, split(col("g"), " ").getItem(0) === col("w1"))
      .join(uni, split(col("g"), " ").getItem(1) === col("word"))
      .crossJoin(broadcast(nt))
      .select(col("g"),
        (round(-log(lit(0.7) * col("c12").cast("double") / col("c1").cast("double")
          + lit(0.3) * col("cu").cast("double") / col("nt")), 6)
          .cast("decimal(18,6)") * 1000000).cast("long").as("mcost"))
  }

  /** The trained interpolated Kneser–Ney bigram model: (g, mcost) with
    * mcost the 6dp-rounded KN cost in exact integer micro-nats.
    * P(w₂|w₁) = (c(w₁w₂)−D)/c(w₁·) + D·N₁₊(w₁·)/c(w₁·) · Pcont(w₂),
    * Pcont(w₂) = N₁₊(·w₂)/|bigram types| — the absolute-discount
    * smoothing KenLM-class production filters actually use (continuation
    * counts, not raw unigram frequency, carry the backoff mass; "San
    * Francisco" inflates c(francisco) but not N₁₊(·francisco)). D = 0.75
    * (binary-exact, so both engines see the identical literal). Every
    * count table derives from the SAME bilm_dbc artifact as the
    * Jelinek–Mercer model — one bigram definition across the ladder;
    * c(w₁·) and N₁₊(w₁·) come out of ONE grouped pass, the type totals
    * are vocab-scale, joins stay un-hinted (AQE broadcasts while vocab²
    * fits). Scoring only ever joins OCCURRING bigrams, so c−D > 0. */
  private def knModel(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    // vocab-scale type table feeding FOUR consumers (ctx, left, the type
    // total, the model join) — lineage-free materialization, not 4
    // re-aggregations of the corpus-scale artifact scan
    val c12 = bilmDbc(s, d).groupBy(col("g")).agg(sum(col("n")).as("c12"))
      .localCheckpoint()
    val ctx = c12.groupBy(split(col("g"), " ").getItem(0).as("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1c"))
    val left = c12.groupBy(split(col("g"), " ").getItem(1).as("w2"))
      .agg(count(lit(1)).as("n1l"))
    val nbt = c12.agg(count(lit(1)).cast("double").as("nbt"))
    c12
      .join(ctx, split(col("g"), " ").getItem(0) === col("w1"))
      .join(left, split(col("g"), " ").getItem(1) === col("w2"))
      .crossJoin(broadcast(nbt))
      .select(col("g"),
        (round(-log(
          (col("c12").cast("double") - lit(0.75)) / col("c1").cast("double")
            + lit(0.75) * col("n1c").cast("double") / col("c1").cast("double")
              * (col("n1l").cast("double") / col("nbt"))), 6)
          .cast("decimal(18,6)") * 1000000).cast("long").as("mcost"))
  }

  /** (doc_id, lang, bucket, n) hashed-unigram counts of a (doc_id, lang,
    * text) relation — ONE shared definition for DSIR training, batch
    * scoring, and stream serving (feature skew would hash-mismatch). */
  private[graft] def dsirBuckets(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        explode(TextFunctions.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("w").cast("binary")), 1, 4), 16, 10)
          .cast("long") % 256).as("b"))
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("n"))

  /** Corpus (doc, bucket, n) — staged as a parquet artifact: three
    * consumers (raw counts, target counts, the weight join) each scan
    * the reduced columnar relation instead of re-paying the corpus
    * explode (the lm_dwc / charlm_dgc pattern). */
  private def dsirDb(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    Artifacts.parquet(s, d, "dsir_db") {
      dsirBuckets(Tables.spread(Tables.documents(s, d), col("doc_id")))
    }

  /** The trained λ table: per-bucket log-likelihood ratio of the target
    * (en) vs raw hashed-unigram models, add-1 smoothed. EXACTLY ≤256
    * rows — hard-bounded by the hash modulus, so an explicit broadcast
    * is safe at any corpus size (unlike the data-dependent candidate
    * relations, which stay un-hinted). */
  private def dsirLambda(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    dsirLambdaOn(dsirDb(s, d))

  /** [[dsirLambda]] over a GIVEN (doc_id, lang, b, n) relation — the
    * seam q_incremental_dsir trains through (its db combines the stored
    * hist artifact with the new batch's counts). Exact because both
    * per-bucket models are pure count sums — additive over disjoint
    * document sets. */
  private[graft] def dsirLambdaOn(db: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cr = db.groupBy(col("b")).agg(sum(col("n")).as("cr"))
    val ct = db.filter(col("lang") === "en")
      .groupBy(col("b")).agg(sum(col("n")).as("ct"))
    val nt = ct.agg(sum(col("ct")).as("nt"))
    val nr = cr.agg(sum(col("cr")).as("nr"))
    cr.join(ct, Seq("b"), "left")
      .crossJoin(nt).crossJoin(nr)
      .select(col("b"),
        round(log(((coalesce(col("ct"), lit(0L)) + 1.0) / (col("nt") + 256)) /
          ((col("cr") + 1.0) / (col("nr") + 256))), 6).as("lam"))
  }

  /** Score a (doc_id, lang, b, n) relation by the λ model: per-doc
    * decimal-exact log weight + content-hash Gumbel key. One broadcast
    * join + one map-side-combinable aggregate. */
  private[graft] def dsirScored(db: org.apache.spark.sql.DataFrame,
      lam: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val u = (conv(substring(md5(col("doc_id").cast("string").cast("binary")),
      9, 4), 16, 10).cast("long") + 0.5) / 65536.0
    db.join(broadcast(lam), "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("lam").cast("decimal(18,6)") * col("n"))
        .cast("double").as("lw"))
      .select(col("doc_id"), col("lang"), round(col("lw"), 6).as("logw"),
        round(col("lw") - log(-log(u)), 6).as("gkey"))
  }

  /** A-Res scoring of a (doc_id, n_chars)-bearing relation: key =
    * ln(u)/w for the content-hash uniform u — one map-side projection,
    * shared by the batch sampler, its at-ingest reservoir twin, and the
    * stratified sampler so the three cannot drift. `extra` names
    * additional input columns to carry through (e.g. the stratum key). */
  private def priorityScored(df: org.apache.spark.sql.DataFrame,
      extra: Seq[String] = Nil): org.apache.spark.sql.DataFrame =
    df.select(col("doc_id") +: col("n_chars") +: extra.map(col) :+
        conv(substring(md5(col("doc_id").cast("string").cast("binary")), 5, 4),
          16, 10).cast("long").as("u16"): _*)
      .withColumn("skey",
        round(log((col("u16") + 0.5) / 65536.0) / col("n_chars"), 9))

  /** q_quality_classifier oracle: the identical 3 full-batch gradient
    * steps unrolled in generated SQL (the pagerankSql discipline — one
    * Scala loop is the single algorithm definition for both engines).
    * Per-row gradient contributions round to 6dp and sum as DECIMAL
    * (order-independent); weights round to 6dp per step, so both engines
    * carry bit-identical scalars into the next step's sigmoid. */
  // round-to-6dp as floor(x·10⁶ + 0.5)/10⁶ — NOT round(): Spark rounds
  // the decimal string HALF_UP while DuckDB rounds the binary double,
  // and they disagree on boundary doubles (one flipped weight rounding
  // shifts every score). floor is exact on identical doubles, so this
  // formulation is engine-agnostic; the engine states the same formula.
  private def r6Sql(e: String) = s"floor(($e) * 1000000 + 0.5) / 1000000"
  private val zSql = "(w0 + w1*x1 + w2*x2 + w3*x3)"

  /** Classifier CTE body (features + 3 unrolled GD steps) — shared by
    * the batch scorer, the stream server, and the evaluation query. */
  private lazy val qualityCtes: String = {
    val resid = s"(y - 1/(1+exp(-$zSql)))"
    def contrib(x: String) =
      if (x.isEmpty) r6Sql(resid) else r6Sql(s"$resid * $x")
    val steps = (1 to 3).map { t =>
      val gs = Seq("", "x1", "x2", "x3").zipWithIndex.map { case (x, k) =>
        val mean = s"""CAST(SUM(CAST(${contrib(x)} AS DECIMAL(18,6))) AS DOUBLE)
           |      / COUNT(*)""".stripMargin
        s"${r6Sql(mean)} AS g$k"
      }.mkString(",\n  ")
      val ws = (0 to 3).map(k => s"${r6Sql(s"w$k + 0.5*g$k")} AS w$k").mkString(", ")
      s"""g$t AS (SELECT
         |  $gs
         |FROM f CROSS JOIN i${t - 1}),
         |i$t AS (SELECT $ws FROM i${t - 1} CROSS JOIN g$t)""".stripMargin
    }.mkString(",\n")
    s"""f AS (SELECT doc_id,
       |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |    CAST(n_stop AS DOUBLE) / n_tok AS x1,
       |    CAST(n_nospace AS DOUBLE) / n_tok / 10 AS x2,
       |    ln(CAST(n_tok AS DOUBLE)) / 10 AS x3
       |  FROM (SELECT doc_id, lang,
       |          len(string_split(text, ' ')) AS n_tok,
       |          len(list_filter(string_split(text, ' '),
       |              t -> t IN ('the','a','an','of','to','and','in','is'))) AS n_stop,
       |          length(replace(text, ' ', '')) AS n_nospace
       |        FROM documents)),
       |i0 AS (SELECT CAST(0 AS DOUBLE) AS w0, CAST(0 AS DOUBLE) AS w1,
       |              CAST(0 AS DOUBLE) AS w2, CAST(0 AS DOUBLE) AS w3),
       |$steps,
       |sc AS (SELECT doc_id, CAST(y AS BIGINT) AS label_en,
       |  ${r6Sql(s"1/(1+exp(-$zSql))")} AS p_en,
       |  1/(1+exp(-$zSql)) >= 0.5 AS pred_en
       |FROM f CROSS JOIN i3)""".stripMargin
  }

  private lazy val qualityClassifierSql: String =
    s"""WITH $qualityCtes
       |SELECT doc_id, label_en, p_en, pred_en FROM sc
       |ORDER BY doc_id""".stripMargin

  /** q_classifier_eval oracle: precision/recall/F1 at 0.5 plus ROC-AUC
    * via the Mann-Whitney rank statistic over the QUANTIZED-score
    * histogram — scores are 6dp-rounded, so the distinct-score domain is
    * ≤10⁶+1 rows no matter the corpus size, and the one ordered pass
    * (the cumulative-count window) runs on that bounded histogram, never
    * on per-document rows. Tie handling is exact average-rank:
    * 2·Σ_groups pos·(2·below + cnt + 1) keeps everything integer
    * (DECIMAL(38,0) sums), so AUC divides identical integers on both
    * engines. */
  private lazy val classifierEvalSql: String =
    s"""WITH $qualityCtes,
       |g AS (SELECT p_en, COUNT(*) AS cnt, SUM(label_en) AS pos
       |      FROM sc GROUP BY p_en),
       |c AS (SELECT p_en, cnt, pos,
       |        SUM(cnt) OVER (ORDER BY p_en
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt
       |          AS below
       |      FROM g),
       |s2 AS (SELECT SUM(CAST(pos AS DECIMAL(19,0)) *
       |           CAST(2*below + cnt + 1 AS DECIMAL(19,0)))
       |         AS s2 FROM c),
       |m AS (SELECT COUNT(*) AS n, SUM(label_en) AS np,
       |        SUM(CASE WHEN pred_en AND label_en = 1 THEN 1 ELSE 0 END) AS tp,
       |        SUM(CASE WHEN pred_en AND label_en = 0 THEN 1 ELSE 0 END) AS fp,
       |        SUM(CASE WHEN NOT pred_en AND label_en = 1 THEN 1 ELSE 0 END) AS fn
       |      FROM sc)
       |SELECT CAST(n AS BIGINT) AS n, CAST(np AS BIGINT) AS n_pos,
       |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       |  CAST(fn AS BIGINT) AS fn,
       |  CASE WHEN tp + fp = 0 THEN 0.0
       |    ELSE round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS prec,
       |  CASE WHEN tp + fn = 0 THEN 0.0
       |    ELSE round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS rec,
       |  CASE WHEN 2*tp + fp + fn = 0 THEN 0.0
       |    ELSE round(2.0 * tp / (2*tp + fp + fn), 6) END AS f1,
       |  CASE WHEN np = 0 OR np = n THEN 0.0
       |    ELSE round((CAST(s2 AS DOUBLE) - CAST(np AS DOUBLE) * (CAST(np AS DOUBLE) + 1))
       |      / (2.0 * np * (n - np)), 6) END AS auc
       |FROM m CROSS JOIN s2""".stripMargin

  /** Oracle for the Gopher rule bundle — shared verbatim by the batch
    * query and its at-ingest twin. */
  private lazy val gopherSql: String =
    """WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks0 FROM documents),
        |t1 AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |         THEN list_concat(toks0, ['#','#','#','#','#','#','#','#','#','#','#','#','#','#','#'])
        |         ELSE toks0 END AS toks FROM t0),
        |t2 AS (SELECT doc_id, toks, len(toks) AS n_tok,
        |        list_aggregate(list_transform(toks, t -> len(t)), 'sum') AS sum_wlen,
        |        len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS n_alpha,
        |        len(list_filter(toks, t -> t = '#')) AS n_sym,
        |        len(list_filter(['the','a','an','of','to','and','in','is'],
        |            sw -> list_contains(toks, sw))) AS n_stop
        |       FROM t1),
        |t3 AS (SELECT *, list_transform(range(0, (n_tok + 7) // 8),
        |         i -> array_to_string(toks[(8*CAST(i AS INT)+1):(8*CAST(i AS INT)+8)], ' ')) AS lines0
        |       FROM t2),
        |t4 AS (SELECT *, CASE WHEN doc_id % 3 = 0
        |         THEN list_transform(lines0, l -> '- ' || l) ELSE lines0 END AS l1 FROM t3),
        |t5 AS (SELECT *, CASE WHEN doc_id % 5 = 0
        |         THEN list_transform(l1, (l, i) ->
        |           CASE WHEN (i - 1) % 2 = 1 THEN l || ' ...' ELSE l END)
        |         ELSE l1 END AS l2 FROM t4),
        |t6 AS (SELECT *, CASE WHEN doc_id % 11 = 0
        |         THEN list_concat(l2, [l2[1],l2[1],l2[1],l2[1],l2[1],l2[1],l2[1]])
        |         ELSE l2 END AS fin FROM t5),
        |c AS (SELECT doc_id, n_tok, sum_wlen, n_alpha, n_sym, n_stop,
        |        len(fin) AS n_lines,
        |        len(list_filter(fin, l -> l LIKE '- %')) AS n_bullet,
        |        len(list_filter(fin, l -> l LIKE '%...')) AS n_ellipsis,
        |        len(fin) - len(list_distinct(fin)) AS n_dup
        |      FROM t6)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(n_lines AS BIGINT) AS n_lines,
        |  n_tok BETWEEN 50 AND 100000 AS r_word_count,
        |  (3 * n_tok <= sum_wlen AND sum_wlen <= 10 * n_tok) AS r_mean_word_len,
        |  5 * n_alpha >= 4 * n_tok AS r_alpha_words,
        |  10 * n_sym <= n_tok AS r_symbol_ratio,
        |  10 * n_bullet <= 9 * n_lines AS r_bullet_lines,
        |  10 * n_ellipsis <= 3 * n_lines AS r_ellipsis_lines,
        |  10 * n_dup <= 3 * n_lines AS r_dup_lines,
        |  n_stop >= 2 AS r_stopwords,
        |  (n_tok BETWEEN 50 AND 100000
        |   AND 3 * n_tok <= sum_wlen AND sum_wlen <= 10 * n_tok
        |   AND 5 * n_alpha >= 4 * n_tok
        |   AND 10 * n_sym <= n_tok
        |   AND 10 * n_bullet <= 9 * n_lines
        |   AND 10 * n_ellipsis <= 3 * n_lines
        |   AND 10 * n_dup <= 3 * n_lines
        |   AND n_stop >= 2) AS keep
        |FROM c ORDER BY doc_id""".stripMargin

  /** 8-token line synthesis for a token-array column — the ONE copy of
    * the rule bundles' line chunking (gopherRules + c4Rows). Empty-token
    * guard: sequence(0, -1) is a DESCENDING [0,-1] in Spark while the
    * oracle's range(0,0) is empty — two phantom lines per empty doc.
    * Unreachable today (split() always yields ≥1 element) but a future
    * tokenization change (e.g. filtering empty tokens first) must
    * degrade to zero lines in BOTH engines. */
  private def lines8(toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(
        // ceil(size/8) via floor((size+7)/8) — exact integer arithmetic
        // (doubles are exact far past any array size here)
        sequence(lit(0), floor((size(toks) + lit(7)) / lit(8)).cast("int") - 1),
        i => concat_ws(" ", slice(toks, i * 8 + 1, lit(8)))))

  /** Per-document Gopher rule row for a (doc_id, text) relation — the
    * one definition the batch query and the streaming twin both apply
    * (pure per-row compute: injection, line synthesis, counters, rules;
    * array-side, zero exchanges). */
  private def gopherRules(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toks0 = split(col("text"), " ")
    val toksC = when(col("doc_id") % 7 === 0,
      concat(toks0, array_repeat(lit("#"), 15))).otherwise(toks0)
    val stop = TextFunctions.Stopwords
      .map(sw => array_contains(col("toks"), sw).cast("int"))
      .reduce(_ + _)
    // line synthesis: 8-token chunks, then the deterministic
    // decorations in a fixed order (bullet -> ellipsis -> dup-repeat)
    val withLines = docs
      .select(col("doc_id"), toksC.as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("lines0", lines8(col("toks")))
      .withColumn("l1", when(col("doc_id") % 3 === 0,
        transform(col("lines0"), l => concat(lit("- "), l))).otherwise(col("lines0")))
      .withColumn("l2", when(col("doc_id") % 5 === 0,
        transform(col("l1"), (l, i) =>
          when(i % 2 === 1, concat(l, lit(" ..."))).otherwise(l))).otherwise(col("l1")))
      .withColumn("fin", when(col("doc_id") % 11 === 0,
        concat(col("l2"), array_repeat(element_at(col("l2"), 1), 7))).otherwise(col("l2")))
      .select(col("doc_id"), col("n_tok"),
        aggregate(transform(col("toks"), t => length(t).cast("long")),
          lit(0L), (a, x) => a + x).as("sum_wlen"),
        size(filter(col("toks"), t => t.rlike("[a-zA-Z]"))).cast("long").as("n_alpha"),
        size(filter(col("toks"), t => t === "#")).cast("long").as("n_sym"),
        stop.cast("long").as("n_stop"),
        size(col("fin")).cast("long").as("n_lines"),
        size(filter(col("fin"), l => l.startsWith("- "))).cast("long").as("n_bullet"),
        size(filter(col("fin"), l => l.endsWith("..."))).cast("long").as("n_ellipsis"),
        (size(col("fin")) - size(array_distinct(col("fin")))).cast("long").as("n_dup"))
    val rWords = col("n_tok").between(50, 100000)
    val rMean = (lit(3) * col("n_tok") <= col("sum_wlen")) &&
      (col("sum_wlen") <= lit(10) * col("n_tok"))
    val rAlpha = lit(5) * col("n_alpha") >= lit(4) * col("n_tok")
    val rSym = lit(10) * col("n_sym") <= col("n_tok")
    val rBullet = lit(10) * col("n_bullet") <= lit(9) * col("n_lines")
    val rEllipsis = lit(10) * col("n_ellipsis") <= lit(3) * col("n_lines")
    val rDup = lit(10) * col("n_dup") <= lit(3) * col("n_lines")
    val rStop = col("n_stop") >= 2
    withLines.select(col("doc_id"), col("n_tok"), col("n_lines"),
      rWords.as("r_word_count"), rMean.as("r_mean_word_len"),
      rAlpha.as("r_alpha_words"), rSym.as("r_symbol_ratio"),
      rBullet.as("r_bullet_lines"), rEllipsis.as("r_ellipsis_lines"),
      rDup.as("r_dup_lines"), rStop.as("r_stopwords"),
      (rWords && rMean && rAlpha && rSym && rBullet && rEllipsis &&
        rDup && rStop).as("keep"))
  }

  /** Oracle for the C4 cleaning ruleset — shared verbatim by the batch
    * query and its at-ingest twin. */
  private lazy val c4Sql: String =
    """WITH r AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 9 = 0 THEN ' lorem ipsum' ELSE '' END
        |         || CASE WHEN doc_id % 13 = 0 THEN ' {' ELSE '' END AS t2
        |  FROM documents),
        |tk AS (SELECT doc_id, t2, string_split(t2, ' ') AS toks FROM r),
        |ln AS (SELECT doc_id, t2, list_transform(range(0, (len(toks) + 7) // 8),
        |         i -> array_to_string(toks[(8*CAST(i AS INT)+1):(8*CAST(i AS INT)+8)], ' ')) AS lines0
        |       FROM tk),
        |dec AS (SELECT doc_id, t2, list_transform(
        |         CASE WHEN doc_id % 6 = 0
        |              THEN list_concat(['javascript ' || lines0[1]], lines0[2:])
        |              ELSE lines0 END,
        |         (l, i) -> CASE WHEN doc_id % 4 = 1 AND (i - 1) % 2 = 1
        |                        THEN l ELSE l || '.' END) AS lines
        |        FROM ln),
        |c AS (SELECT doc_id,
        |        contains(t2, 'lorem ipsum') AS has_lorem,
        |        contains(t2, '{') AS has_brace,
        |        len(lines) AS n_lines,
        |        list_filter(lines, l -> ends_with(l, '.')
        |          AND len(string_split(l, ' ')) >= 5
        |          AND NOT contains(l, 'javascript')) AS kept
        |      FROM dec)
        |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  has_lorem, has_brace,
        |  (NOT has_lorem AND NOT has_brace AND len(kept) >= 3) AS keep,
        |  md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5
        |FROM c ORDER BY doc_id""".stripMargin

  /** Per-document C4 rule row for a (doc_id, text) relation — the one
    * definition the batch query and the streaming twin both apply
    * (pure per-row compute: injection, line synthesis, retention,
    * cleaned-bytes md5; array-side, zero exchanges). */
  private def c4Rows(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      val t2 = concat(col("text"),
        when(col("doc_id") % 9 === 0, lit(" lorem ipsum")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(" {")).otherwise(lit("")))
      docs
        .select(col("doc_id"), t2.as("t2"))
        .withColumn("toks", split(col("t2"), " "))
        .withColumn("lines0", lines8(col("toks")))
        .withColumn("lines", transform(
          when(col("doc_id") % 6 === 0,
            concat(array(concat(lit("javascript "), element_at(col("lines0"), 1))),
              slice(col("lines0"), lit(2), size(col("lines0")))))
            .otherwise(col("lines0")),
          (l, i) => when(col("doc_id") % 4 === 1 && i % 2 === 1, l)
            .otherwise(concat(l, lit(".")))))
        .select(col("doc_id"),
          col("t2").contains("lorem ipsum").as("has_lorem"),
          col("t2").contains("{").as("has_brace"),
          size(col("lines")).cast("long").as("n_lines"),
          filter(col("lines"), l => l.endsWith(".") &&
            size(split(l, " ")) >= 5 && !l.contains("javascript")).as("kept"))
        .select(col("doc_id"), col("n_lines"),
          size(col("kept")).cast("long").as("n_kept"),
          col("has_lorem"), col("has_brace"),
          (!col("has_lorem") && !col("has_brace") && size(col("kept")) >= 3)
            .as("keep"),
          md5(concat_ws("\n", col("kept")).cast("binary")).as("clean_md5"))
  }

  val all: Seq[Q] = Seq(

    // ---- Deterministic content-hash train/val/test split (the canonical
    // training-pipeline assignment): bucket by the first md5 hex digit of
    // the doc id — stable across runs, machines and engines, embarrassingly
    // parallel, and rebalancing-free when the corpus grows (a given doc
    // never changes split). 12/16 train, 2/16 val, 2/16 test.
    Q("q_hash_split",
      """WITH tagged AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, lang, COUNT(*) AS n, CAST(MIN(doc_id) AS BIGINT) AS first_doc
        |FROM tagged GROUP BY split, lang ORDER BY split, lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          splitTag.as("split"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("split"), col("lang"))
    },

    // ---- Deterministic stratified sampling: per-stratum rates via the
    // same content-hash gate (16 hex buckets: en keeps 4/16, the rest
    // 8/16 — downsample the over-represented stratum). Unlike
    // DataFrame.sampleBy (seeded RNG, partition-order dependent, engine
    // specific), a hash gate is reproducible across engines/runs/cluster
    // sizes, pure scan+filter (no shuffle), and docs never flip split
    // membership as the corpus grows. (Named for the per-stratum *rate*
    // semantics — distinct from q_stratified_sample's k-per-stratum
    // quota draw; both are gated.)
    Q("q_lang_downsample",
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
        |  CASE WHEN lang = 'en' THEN '4' ELSE '8' END
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val h = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
      Tables.documents(s, d)
        .filter(h < when(col("lang") === "en", "4").otherwise("8"))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },

    // ---- Deterministic epoch shuffle-shard (the data-loader handoff):
    // each epoch's seed reshuffles the corpus into 16 shards with a
    // stable within-shard order — hash-derived on BOTH engines (md5, no
    // engine-specific RNG), so every run/cluster-size/engine produces
    // the identical epoch layout. Assignment is a pure map; shard counts
    // are map-side combined; the order check rides the bounded-heap
    // TopKPerKey (first 3 docs per shard), never a full-shard sort — at
    // 100 TB the actual shard files are written with
    // repartition(shard) + sortWithinPartitions(h), and this query is
    // the layout's verifiable fingerprint.
    Q("q_epoch_shard",
      """WITH t AS (SELECT doc_id,
        |  md5(CAST(doc_id AS VARCHAR) || ':7') AS h FROM documents),
        |s AS (SELECT substr(h, 1, 1) AS shard, doc_id, h FROM t),
        |c AS (SELECT shard, COUNT(*) AS n_docs FROM s GROUP BY shard),
        |r AS (SELECT shard, doc_id,
        |        row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS rn
        |      FROM s),
        |hd AS (SELECT shard, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn) AS head
        |       FROM r WHERE rn <= 3 GROUP BY shard)
        |SELECT c.shard, c.n_docs, hd.head
        |FROM c JOIN hd USING (shard) ORDER BY shard""".stripMargin) { (s, d) =>
      val epochSeed = 7 // the epoch id IS the seed: epoch k ⇒ ':k'
      val h = md5(concat(col("doc_id").cast("string"), lit(s":$epochSeed"))
        .cast("binary"))
      val sh = Tables.documents(s, d)
        .select(col("doc_id"), h.as("h"))
        .withColumn("shard", substring(col("h"), 1, 1))
      val counts = sh.groupBy(col("shard")).agg(count(lit(1)).as("n_docs"))
      val heads = graft.plans.TopKPerKey(sh, Seq("shard"),
          Seq(col("h").asc, col("doc_id").asc), k = 3)
        .groupBy(col("shard"))
        .agg(concat_ws(",", transform(
          sort_array(collect_list(struct(col("h"), col("doc_id")))),
          x => x("doc_id").cast("string"))).as("head"))
      counts.join(heads, "shard").orderBy(col("shard"))
    },

    // ---- Corpus vocabulary with document frequency (tokenizer-training
    // prerequisite): explode → two-level agg. The per-(doc,word) distinct
    // happens inside COUNT(DISTINCT …) — Spark plans it as partial
    // aggregates (expand + two shuffles), no driver-side state.
    Q("q_vocab",
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |           FROM documents)
        |SELECT word, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf
        |FROM t WHERE word <> ''
        |GROUP BY word HAVING COUNT(DISTINCT doc_id) >= 10
        |ORDER BY word""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word"))
        .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("tf"))
        .filter(col("df") >= 10)
        .orderBy(col("word"))
    },

    // ---- Zipf fit: least-squares slope of ln(freq) against ln(rank)
    // over the top-1000 vocabulary head — the corpus-health metric that
    // flags synthetic or degenerate text (natural corpora slope ≈ −1;
    // template spam goes flat, boilerplate floods go steep). Shape: the
    // term-frequency aggregate partial-combines map-side (the only
    // corpus-scale stage); the rank order is TakeOrderedAndProject
    // top-1000 (never a full vocab sort); the regression sums run over
    // exactly those 1000 rows with 6dp-rounded log terms summed as
    // DECIMAL, so the closed-form slope/intercept/R² divide identical
    // numbers on both engines.
    Q("q_zipf_fit",
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS word
        |           FROM documents),
        |tf AS (SELECT word, COUNT(*) AS freq FROM t WHERE word <> ''
        |       GROUP BY word),
        |v AS (SELECT COUNT(*) AS n_vocab FROM tf),
        |top AS (SELECT word, freq FROM tf
        |        ORDER BY freq DESC, word LIMIT 1000),
        |r AS (SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, word)
        |        AS rnk FROM top),
        |p AS (SELECT round(ln(CAST(rnk AS DOUBLE)), 6) AS x,
        |             round(ln(CAST(freq AS DOUBLE)), 6) AS y FROM r),
        |sums AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(round(x*y, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(round(x*x, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(round(y*y, 6) AS DECIMAL(18,6))) AS DOUBLE) AS syy
        |  FROM p)
        |SELECT CAST(v.n_vocab AS BIGINT) AS n_vocab, CAST(n AS BIGINT) AS n_fit,
        |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
        |  round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 6)
        |    AS intercept,
        |  round((n*sxy - sx*sy) * (n*sxy - sx*sy)
        |    / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
        |FROM sums CROSS JOIN v""".stripMargin) { (s, d) =>
      // checkpointed (see Artifacts): nVocab's count and the returned ranking read it
      val tf = Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        .localCheckpoint()
      locally {
        val nVocab = tf.count()
        val top = tf.orderBy(col("freq").desc, col("word")).limit(1000)
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("freq").desc, col("word"))))
        val p = top.select(
          round(log(col("rnk").cast("double")), 6).as("x"),
          round(log(col("freq").cast("double")), 6).as("y"))
        def dsum(c: org.apache.spark.sql.Column) =
          sum(c.cast("decimal(18,6)")).cast("double")
        val sums = p.agg(count(lit(1)).as("n"),
          dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
          dsum(round(col("x") * col("y"), 6)).as("sxy"),
          dsum(round(col("x") * col("x"), 6)).as("sxx"),
          dsum(round(col("y") * col("y"), 6)).as("syy"))
        val beta = (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))
        sums.select(lit(nVocab).as("n_vocab"), col("n").as("n_fit"),
          round(beta, 6).as("slope"),
          round((col("sy") - beta * col("sx")) / col("n"), 6).as("intercept"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) *
            (col("n") * col("sxy") - col("sx") * col("sy")) /
            ((col("n") * col("sxx") - col("sx") * col("sx")) *
             (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
      }
    },

    // ---- TF-IDF top-3 terms per document, selected by the native
    // bounded-heap operator (plans.TopKPerKey) — the heap keeps ≤3 rows
    // per doc pre-shuffle, vs a full sort-per-partition under the window
    // formulation the oracle uses. RANKING is integer-only
    // (tf DESC, df ASC, word) so top-3 membership can never flip on a
    // float ulp; the tfidf VALUE (the only double) is emitted rounded.
    Q("q_tfidf_top",
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |           FROM documents),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM t
        |       WHERE word <> '' GROUP BY doc_id, word),
        |df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM t
        |       WHERE word <> '' GROUP BY word),
        |r AS (SELECT tf.doc_id, tf.word, tf.tf, df.df,
        |        row_number() OVER (PARTITION BY tf.doc_id
        |          ORDER BY tf.tf DESC, df.df ASC, tf.word ASC) AS rn
        |      FROM tf JOIN df USING (word))
        |SELECT doc_id, word, tf, df,
        |  round(CAST(tf AS DOUBLE) *
        |    ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) / df), 6) AS tfidf
        |FROM r WHERE rn <= 3 ORDER BY doc_id, word""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val nDocs = docs.count().toDouble // O(1) scalar, parquet row-count only
      val words = docs
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
      // checkpointed: the df branch prunes the count column, so the two
      // branches share no exchange and would each re-run the explode
      val tf = words.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      // tf rows are already one-per-(doc,word): df is a plain count over
      // them — no second corpus explode, no COUNT DISTINCT expand
      val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      // df is vocab-scale — un-hinted (AQE broadcasts at bench scale)
      val top = graft.plans.TopKPerKey(
        tf.join(df, "word"), Seq("doc_id"),
        Seq(col("tf").desc, col("df").asc, col("word").asc), k = 3)
      top.select(col("doc_id"), col("word"), col("tf"), col("df"),
          round(col("tf").cast("double") * log(lit(nDocs) / col("df")), 6).as("tfidf"))
        .orderBy(col("doc_id"), col("word"))
    },

    // ---- Token-budget sequence packing: assign documents (in stable
    // doc_id order per language) to fixed-budget training chunks by the
    // START offset of each doc in the cumulative token stream — the
    // deterministic shard assignment a pretraining pipeline materializes.
    // The per-lang running sum is one window; at 100 TB the partition key
    // becomes (lang, hash-shard) so no single language serializes into
    // one task — the assignment stays deterministic because shards are
    // themselves hash-stable.
    Q("q_seq_pack",
      """WITH t AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok
        |           FROM documents),
        |c AS (SELECT doc_id, lang, n_tok,
        |        SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |          ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM t)
        |SELECT lang, CAST((cum - n_tok) // 2048 AS BIGINT) AS chunk,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS chunk_tokens,
        |  MIN(doc_id) AS first_doc
        |FROM c GROUP BY lang, chunk ORDER BY lang, chunk""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .select(col("lang"), expr("(cum - n_tok) div 2048").as("chunk"),
          col("doc_id"), col("n_tok"))
        .groupBy(col("lang"), col("chunk"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("chunk_tokens"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("lang"), col("chunk"))
    },

    // ---- Benchmark decontamination: test-split documents sharing any
    // 13-gram with the train split (the standard n-gram overlap check run
    // before training). Candidates come from an equi-join on the shingle —
    // the dedup shape, never a cross join. In production the "train" side
    // is the huge one and the benchmark suite is small: build the
    // benchmark shingle set once and broadcast it (or a Bloom filter of
    // it) so decontamination is a map-side filter over 100 TB; the
    // symmetric-corpus form here exercises the shuffle path.
    Q("q_decontaminate",
      """WITH tt AS (SELECT doc_id, string_split(text, ' ') AS t,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id, split, array_to_string(t[i:i+12], ' ') AS s
        |       FROM tt, unnest(range(1, len(t) - 11)) AS u(i) WHERE len(t) >= 13),
        |tr AS (SELECT DISTINCT s FROM sh WHERE split = 'train'),
        |te AS (SELECT doc_id, s FROM sh WHERE split = 'test')
        |SELECT te.doc_id, COUNT(*) AS n_hits
        |FROM te JOIN tr ON te.s = tr.s
        |GROUP BY te.doc_id ORDER BY te.doc_id""".stripMargin) { (s, d) =>
      // Two independent branches, each ONE shuffle, instead of one cached
      // (doc, split, shingle) relation feeding both: the split predicate
      // is pushed BEFORE the explode, so the train branch never carries
      // doc ids (distinct on the shingle alone) and the test branch
      // explodes only its ~20% of documents. Cold cost halves vs the
      // cached two-shuffle form — and the cache held 13-gram strings for
      // the whole corpus, the worst kind of block-manager tenant.
      val docs = Tables.spread(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), col("text"),
          splitTag.as("split"))
      // shingles travel as xxhash64 keys: the distincts and the join
      // shuffle 8 bytes per shingle instead of ~90-char strings (distinct
      // hashes = distinct shingles modulo the negligible 64-bit collision
      // rate, which the exact-count oracle would expose). The train side
      // IS the stored-index relation (deconShingleIndex — the one
      // definition q_incremental_decon's artifact shares)
      val tr = deconShingleIndex(docs.filter(col("split") === "train"))
      val te = docs.filter(col("split") === "test")
        .select(col("doc_id"),
          explode(TextFunctions.shingleHashes(col("text"), 13)).as("s"))
        .distinct()
      te.join(tr, "s")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
        .orderBy(col("doc_id"))
    },

    // ---- The production decontamination plan (the comment above, as real
    // code): bloom the benchmark-side shingle set on the driver, prune the
    // corpus scan MAP-SIDE with it, and exact-verify the survivors. The
    // corpus side never runs a full-cardinality distinct — the only rows
    // reaching a shuffle are true overlap + ~fpp false positives, and the
    // verify join against the real benchmark set removes the latter, so
    // the output (and the oracle) is bit-identical to q_decontaminate's
    // exact join. At 100 TB this turns decontamination into one scan.
    Q("q_decontaminate_bloom",
      """WITH tt AS (SELECT doc_id, string_split(text, ' ') AS t,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id, split, array_to_string(t[i:i+12], ' ') AS s
        |       FROM tt, unnest(range(1, len(t) - 11)) AS u(i) WHERE len(t) >= 13),
        |tr AS (SELECT DISTINCT s FROM sh WHERE split = 'train'),
        |te AS (SELECT doc_id, s FROM sh WHERE split = 'test')
        |SELECT te.doc_id, COUNT(*) AS n_hits
        |FROM te JOIN tr ON te.s = tr.s
        |GROUP BY te.doc_id ORDER BY te.doc_id""".stripMargin) { (s, d) =>
      // without the spread the whole explode+hash+bloom-probe pipeline
      // runs on ONE core at bench scale (profiled at 7 CPU-s single-task);
      // spread() no-ops once the scan has real splits
      val docs = Tables.spread(Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          splitTag.as("split")))
      // benchmark side: distinct (doc, shingle-hash) pairs — metadata-scale
      // in production. Checkpointed: the bloom-building jobs AND the
      // returned verify join read it, and it is derived once.
      val te = docs.filter(col("split") === "test")
        .select(col("doc_id"),
          explode(TextFunctions.shingleHashes(col("text"), 13)).as("s"))
        .distinct()
        .localCheckpoint()
      val bloom = Bloom.buildLong(te.select(col("s")), "s", fpp = 1e-3)
      // corpus side: scan → explode → hash → BLOOM FILTER (map-side, inside
      // whole-stage codegen) → distinct over survivors only. No train
      // shingle that misses the benchmark bloom ever leaves its input task.
      val trCand = docs.filter(col("split") === "train")
        .select(explode(TextFunctions.shingleHashes(col("text"), 13)).as("s"))
        .filter(Bloom.mightContainLong(bloom, col("s")))
        .distinct()
      // exact verify: a bloom false positive is a train shingle NOT in the
      // benchmark set, so the equi-join with te eliminates it; members pass
      // the bloom unconditionally — the join result is exactly te ∩ train.
      te.join(broadcast(trCand), "s")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
        .orderBy(col("doc_id"))
    },

    // ---- Decontamination AT INGEST: the training corpus arrives as a
    // STREAM (staged as 4 files → 4 micro-batches) and every batch is
    // bloom-pruned map-side against the driver-built benchmark bloom,
    // then exact-verified by a stream-static broadcast join with the real
    // benchmark shingle set — the at-ingest twin of q_decontaminate_bloom
    // (same oracle), completing the ingest-time curation pair with
    // q_stream_neardup. The stream side is STATELESS (filter + broadcast
    // join per batch, no state store): per-batch emission may repeat a
    // (test-doc, shingle) match when the same train shingle recurs across
    // batches, so the sink read deduplicates before counting — the sink
    // holds matched pairs only, contamination-volume = benchmark-sized by
    // definition (the same bounded-copy argument as q_stream_neardup).
    // At 100 TB: the bloom rides the stream as a task literal, so no
    // train shingle that misses the benchmark ever leaves its input task,
    // batch after batch, forever.
    Q("q_stream_decontaminate",
      """WITH tt AS (SELECT doc_id, string_split(text, ' ') AS t,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id, split, array_to_string(t[i:i+12], ' ') AS s
        |       FROM tt, unnest(range(1, len(t) - 11)) AS u(i) WHERE len(t) >= 13),
        |tr AS (SELECT DISTINCT s FROM sh WHERE split = 'train'),
        |te AS (SELECT doc_id, s FROM sh WHERE split = 'test')
        |SELECT te.doc_id, COUNT(*) AS n_hits
        |FROM te JOIN tr ON te.s = tr.s
        |GROUP BY te.doc_id ORDER BY te.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          splitTag.as("split"))
      Artifacts.scoped(docs.filter(col("split") === "test")
          .select(col("doc_id"),
            explode(TextFunctions.shingleHashes(col("text"), 13)).as("s"))
          .distinct()) { te =>
        val bloom = Bloom.buildLong(te.select(col("s")), "s", fpp = 1e-3)
        // bounded sink drain (matched pairs only) → distinct (a train
        // shingle recurring across micro-batches emitted its pair once per
        // batch) → per-doc counts
        Staging.replay(
          docs.filter(col("split") === "train").select(col("doc_id"), col("text")),
          Seq(col("doc_id")), 2) { src =>
          Staging.view(src
            .select(explode(TextFunctions.shingleHashes(col("text"), 13)).as("s"))
            .filter(Bloom.mightContainLong(bloom, col("s")))
            .join(broadcast(te), "s") // stream-static exact verify
            .select(col("doc_id"), col("s"))) {
            _.distinct()
              .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
              .orderBy(col("doc_id"))
          }
        }
      }
    },

    // ---- INCREMENTAL decontamination — the refresh-quartet seam for the
    // most common refresh event in practice: a NEW benchmark suite
    // arrives and a 100 TB corpus must be re-flagged against it. The
    // corpus-side 13-gram shingle index (distinct train shingle HASHES —
    // 8 bytes per unique shingle, columnar) persists ONCE as a parquet
    // artifact via the Artifacts protocol (on a real refresh it was
    // written by the previous run / maintained by the ingest stream);
    // this run shingles ONLY the new benchmark and probes the stored
    // index with a shingle equi-join — zero corpus rescan, zero train
    // re-shingle. The benchmark side is metadata-scale by definition, so
    // it broadcasts: the probe is a map-side hash-join over a pruned scan
    // of the stored index, one pass, no corpus-side shuffle. Output and
    // oracle are IDENTICAL to q_decontaminate (the full recompute), so a
    // stale, truncated, or wrongly-keyed index hash-mismatches the gate
    // instead of hiding. Plan-asserted (PlanSuite): the train side is an
    // artifact scan; exactly one documents scan (the benchmark's) exists
    // in the refresh plan. Completes the incremental quartet:
    // q_incremental_dedup / _semdedup / _bm25 / _decon.
    Q("q_incremental_decon",
      """WITH tt AS (SELECT doc_id, string_split(text, ' ') AS t,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id, split, array_to_string(t[i:i+12], ' ') AS s
        |       FROM tt, unnest(range(1, len(t) - 11)) AS u(i) WHERE len(t) >= 13),
        |tr AS (SELECT DISTINCT s FROM sh WHERE split = 'train'),
        |te AS (SELECT doc_id, s FROM sh WHERE split = 'test')
        |SELECT te.doc_id, COUNT(*) AS n_hits
        |FROM te JOIN tr ON te.s = tr.s
        |GROUP BY te.doc_id ORDER BY te.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.spread(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), col("text"), splitTag.as("split"))
      // the stored corpus-side index: derived on first request (a real
      // deployment inherits it from the previous snapshot and GROWS it
      // by appending each ingest batch's novel shingles — the
      // IncrementalDeconSuite maintenance loop), then a plain parquet
      // scan forever after — the refresh run never re-shingles it
      val trainIdx = Artifacts.parquet(s, d, "inc_decon_index") {
        deconShingleIndex(docs.filter(col("split") === "train"))
      }
      // the NEW benchmark is the only side shingled in this run; it
      // broadcasts (metadata-scale) and the stored index streams through
      // the map-side join — the one-scan posture at 100 TB
      deconProbe(trainIdx, docs.filter(col("split") === "test"))
    },

    // ---- The composed AT-INGEST curation pipeline: quality gate →
    // exact-hash dedup → decontamination check, chained in ONE streaming
    // query over the document intake stream (4 micro-batches). This is
    // the flagship composition claim: the three ingest-time curation
    // operators are not three separate demos, they CHAIN — a stateless
    // map-side quality filter feeds a stateful cross-batch
    // dropDuplicates on the content fingerprint, whose survivors feed
    // the bloom-pruned + broadcast-exact-verified benchmark-overlap
    // check, all append-mode-legal. Output is keyed by FINGERPRINT, not
    // keeper doc_id: within a fingerprint group the normalized text is
    // identical by construction, so the result is deterministic no
    // matter which duplicate the state keeps — which is what lets one
    // batch oracle hash-check a streaming keeper choice. At 100 TB:
    // the quality gate is a codegen'd scan filter; dedup state is one
    // 16-char fp per unique doc (bounded in time by
    // dropDuplicatesWithinWatermark in production — ttl-free here for
    // batch parity); the benchmark side is tiny → Bloom literal +
    // broadcast, corpus rows never shuffle except the fp dedup exchange.
    // n_hits counts contaminated-shingle OCCURRENCES (no post-sink
    // distinct), so the count is sensitive to duplicate emission: if the
    // fp-dedup state loses a key and a duplicate re-emits, every count
    // for that fp doubles and the oracle hash-mismatches — the dedup
    // stage is observationally verified, not just present. Duplicate-fp
    // groups span micro-batches at sf0.1, so that check exercises
    // CROSS-batch state, and a dropped quality gate or broken verify
    // surfaces as extra/missing fps.
    Q("q_stream_curation",
      """WITH nd AS (SELECT doc_id, text,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |q AS (SELECT doc_id, norm, substr(md5(norm), 1, 16) AS fp FROM nd
        |      WHERE split = 'train'
        |        AND len(string_split(text, ' ')) BETWEEN 20 AND 1000),
        |k AS (SELECT fp, MIN(norm) AS norm FROM q GROUP BY fp),
        |ks AS (SELECT fp, array_to_string(t[i:i+12], ' ') AS s
        |       FROM (SELECT fp, string_split(norm, ' ') AS t FROM k),
        |            unnest(range(1, len(t) - 11)) AS u(i) WHERE len(t) >= 13),
        |ts AS (SELECT DISTINCT array_to_string(t[i:i+12], ' ') AS s
        |       FROM (SELECT string_split(norm, ' ') AS t FROM nd
        |             WHERE split = 'test'),
        |            unnest(range(1, len(t) - 11)) AS u(i) WHERE len(t) >= 13)
        |SELECT ks.fp, COUNT(*) AS n_hits FROM ks JOIN ts USING (s)
        |GROUP BY ks.fp ORDER BY ks.fp""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          splitTag.as("split"))
      // benchmark shingles over NORMALIZED text (shingles must be a pure
      // function of the fingerprint so keeper choice can't leak into them)
      Artifacts.scoped(docs.filter(col("split") === "test")
          .select(explode(TextFunctions.shingleHashes(
            TextFunctions.normalize(col("text")), 13)).as("s"))
          .distinct()) { te =>
        val bloom = Bloom.buildLong(te, "s", fpp = 1e-3)
        // bounded drain: one row per contaminated-shingle OCCURRENCE —
        // deliberately NOT distinct'd (see the emission-sensitivity note
        // in the header comment)
        Staging.replay(
          docs.filter(col("split") === "train").select(col("doc_id"), col("text")),
          Seq(col("doc_id")), 4) { src =>
          Staging.view(src
            .filter(TextFunctions.tokenCount(col("text")).between(20, 1000))
            .withColumn("norm", TextFunctions.normalize(col("text")))
            .withColumn("fp", substring(md5(col("norm").cast("binary")), 1, 16))
            .dropDuplicates("fp")
            .select(col("fp"),
              explode(TextFunctions.shingleHashes(col("norm"), 13)).as("s"))
            .filter(Bloom.mightContainLong(bloom, col("s")))
            .join(broadcast(te), "s")
            .select(col("fp"), col("s"))) {
            _.groupBy(col("fp")).agg(count(lit(1)).as("n_hits"))
              .orderBy(col("fp"))
          }
        }
      }
    },

    // ---- Source-mixing weights: per-source token shares and the
    // downsampling weight that flattens the mixture to uniform
    // (weight = min(1, target_share/actual_share), the knob a pretraining
    // data recipe materializes per domain). One small agg + a broadcast
    // scalar join — the weights table is later broadcast back onto the
    // corpus for weighted sampling.
    Q("q_mix_weights",
      """WITH s AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(SUM(toks) AS DOUBLE) AS total, COUNT(*) AS k FROM s)
        |SELECT source, n_docs, toks,
        |  round(toks / total, 6) AS share,
        |  round(LEAST(1.0, (total / k) / toks), 6) AS sample_weight
        |FROM s, tot ORDER BY source""".stripMargin) { (s, d) =>
      mixWeightRel(s, d)
        .select(col("source"), col("n_docs"), col("toks"),
          round(col("toks") / col("total"), 6).as("share"),
          col("w").as("sample_weight"))
        .orderBy(col("source"))
    },

    // ---- Temperature-scaled mixture (the mT5/LLaMA α-sampling recipe,
    // α = 0.3): up-weight small sources and down-weight dominant ones by
    // p_i ∝ f_i^α over per-source token counts — the published
    // pretraining mixing rule, complementing q_mix_weights' equal-share
    // recipe and q_domain_reweight's loss-driven one. Determinism: the
    // per-source pow() rounds to 6dp and sums as DECIMAL(18,6) so the
    // normalizer is order-independent; `epochs` is how many passes over
    // source i a budget of `total` sampled tokens implies (the >1 rows
    // are the repetition-risk flag a dataset card carries). One
    // |sources|-row aggregate — no corpus shuffle beyond the count.
    Q("q_temperature_mix",
      """WITH s AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks
        |  FROM documents GROUP BY source),
        |p AS (SELECT source, n_docs, toks,
        |    CAST(round(pow(toks, 0.3), 6) AS DECIMAL(18,6)) AS pw FROM s),
        |tot AS (SELECT SUM(pw) AS spw, CAST(SUM(toks) AS DOUBLE) AS total
        |        FROM p)
        |SELECT source, n_docs, toks,
        |  round(toks / total, 6) AS natural_share,
        |  round(CAST(pw AS DOUBLE) / CAST(spw AS DOUBLE), 6) AS temp_share,
        |  round((CAST(pw AS DOUBLE) / CAST(spw AS DOUBLE)) * (total / toks), 6)
        |    AS epochs
        |FROM p, tot ORDER BY source""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("text"))).cast("long").as("toks"))
      val p = base.withColumn("pw",
        round(pow(col("toks").cast("double"), 0.3), 6).cast("decimal(18,6)"))
      val tot = p.agg(sum(col("pw")).as("spw"),
        sum(col("toks")).cast("double").as("total"))
      p.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("toks"),
          round(col("toks") / col("total"), 6).as("natural_share"),
          round(col("pw").cast("double") / col("spw").cast("double"), 6)
            .as("temp_share"),
          round((col("pw").cast("double") / col("spw").cast("double")) *
            (col("total") / col("toks")), 6).as("epochs"))
        .orderBy(col("source"))
    },

    // ---- Temperature mixing MAINTAINED AT INGEST — the streaming twin:
    // per-source (n_docs, toks) partials are mergeable by construction
    // (counts sum across micro-batches), so each trigger contributes its
    // batch-local aggregate through the idempotent per-batch write and
    // the ledger stays O(|sources| × triggers) at any corpus size; the
    // drain re-sums and applies the identical α = 0.3 share/epoch
    // formula. Shares the batch oracle verbatim — a dropped or replayed
    // trigger shifts every count and hash-mismatches.
    Q("q_stream_temperature_mix",
      """WITH s AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks
        |  FROM documents GROUP BY source),
        |p AS (SELECT source, n_docs, toks,
        |    CAST(round(pow(toks, 0.3), 6) AS DECIMAL(18,6)) AS pw FROM s),
        |tot AS (SELECT SUM(pw) AS spw, CAST(SUM(toks) AS DOUBLE) AS total
        |        FROM p)
        |SELECT source, n_docs, toks,
        |  round(toks / total, 6) AS natural_share,
        |  round(CAST(pw AS DOUBLE) / CAST(spw AS DOUBLE), 6) AS temp_share,
        |  round((CAST(pw AS DOUBLE) / CAST(spw AS DOUBLE)) * (total / toks), 6)
        |    AS epochs
        |FROM p, tot ORDER BY source""".stripMargin) { (s, d) =>
      Staging.ledger(Tables.documents(s, d).select("doc_id", "source", "text"),
          "doc_id", 3) { (batch, id, out) =>
        Staging.writeBatch(
          batch.groupBy(col("source"))
            .agg(count(lit(1)).as("n_docs"),
              sum(TextFunctions.tokenCount(col("text"))).cast("long")
                .as("toks")),
          s"$out/ledger", id)
      } { out =>
        val base = Staging.drainParquet(s, s"$out/ledger")
          .groupBy(col("source"))
          .agg(sum(col("n_docs")).as("n_docs"), sum(col("toks")).as("toks"))
        val p = base.withColumn("pw",
          round(pow(col("toks").cast("double"), 0.3), 6).cast("decimal(18,6)"))
        val tot = p.agg(sum(col("pw")).as("spw"),
          sum(col("toks")).cast("double").as("total"))
        p.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("toks"),
            round(col("toks") / col("total"), 6).as("natural_share"),
            round(col("pw").cast("double") / col("spw").cast("double"), 6)
              .as("temp_share"),
            round((col("pw").cast("double") / col("spw").cast("double")) *
              (col("total") / col("toks")), 6).as("epochs"))
          .orderBy(col("source"))
      }
    },

    // ---- APPLY the mixing recipe (the materialization step after
    // q_mix_weights, sharing its [[mixWeightRel]] formula so the
    // published weight and the applied weight cannot drift):
    // deterministically downsample each source to its sample_weight via
    // a content-hash gate — keep a doc iff md5 hex digits 5–8, read as a
    // 16-bit fraction, fall under the weight. Same reproducibility
    // argument as q_hash_split (no RNG, no partition-order dependence,
    // docs never flip as the corpus grows), and the gate COMPOSES with
    // the split gate because the digest regions are DISJOINT (split
    // reads digit 1; sampling digits 5–8 are uniform within every split
    // bucket — reading digit 1 in both gates would skew a w=0.5 sample
    // to 100% train). The weights table is k rows → broadcast; the whole
    // query is a map-side filter + one small agg, no corpus shuffle.
    // The hex threshold (floor(w·65536) as 4 lowercase hex chars,
    // length-equal lexicographic compare = numeric compare) keeps the
    // gate engine-bit-stable; w ≥ 1 short-circuits to keep-all so the
    // threshold never needs a 5th hex digit.
    Q("q_weighted_sample",
      """WITH s AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(SUM(toks) AS DOUBLE) AS total, COUNT(*) AS k FROM s),
        |w AS (SELECT source,
        |        round(LEAST(1.0, (total / k) / toks), 6) AS w FROM s, tot),
        |dd AS (SELECT d.doc_id, d.source,
        |         len(string_split(d.text, ' ')) AS n_tok,
        |         substr(md5(CAST(d.doc_id AS VARCHAR)), 5, 4) AS h4, w.w
        |       FROM documents d JOIN w USING (source)),
        |kept AS (SELECT * FROM dd WHERE w >= 1.0 OR
        |  h4 < lpad(lower(hex(CAST(floor(w * 65536) AS INT))), 4, '0'))
        |SELECT source, COUNT(*) AS n_kept,
        |  CAST(SUM(n_tok) AS BIGINT) AS kept_tokens,
        |  CAST(MIN(doc_id) AS BIGINT) AS first_kept
        |FROM kept GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val weights = mixWeightRel(s, d).select(col("source"), col("w"))
      val thr = lpad(lower(hex(floor(col("w") * 65536).cast("int"))), 4, "0")
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).as("n_tok"),
          substring(md5(col("doc_id").cast("string").cast("binary")), 5, 4).as("h4"))
        .join(broadcast(weights), "source")
        .filter(col("w") >= 1.0 || col("h4") < thr)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tok")).cast("long").as("kept_tokens"),
          min(col("doc_id")).as("first_kept"))
        .orderBy(col("source"))
    },

    // ---- Weighted sampling WITHOUT replacement in one pass
    // (Efraimidis–Spirakis A-Res): each row gets key = ln(u)/w for a
    // deterministic hash-derived uniform u (16-bit md5 slice → (0,1));
    // the exact-size weighted sample is the top-k by key — here k = 50
    // by document length. q_weighted_sample's Bernoulli gate thins
    // sources to a RATE; this draws an exact-SIZE sample with
    // probability ∝ weight, the data-mixing primitive when the token
    // budget is fixed. One map-only pass + a bounded-heap
    // TakeOrderedAndProject — no RNG coordination, no global sort, and
    // reproducible across engines/machines because u is content-hash
    // derived (the q_hash_split doctrine).
    Q("q_priority_sample", prioritySampleSql) { (s, d) =>
      priorityScored(Tables.documents(s, d))
        .orderBy(col("skey").desc, col("doc_id"))
        .limit(50)
    },

    // ---- The same exact-size weighted sample MAINTAINED AT INGEST
    // (reservoir semantics): documents stream in and each micro-batch
    // contributes only its own bounded top-50 candidate set to an
    // accumulated reservoir via idempotent per-batch writes (the
    // q_stream_bm25 exactly-once pattern — replay overwrites, never
    // duplicates). Correct by the A-Res key's independence: skey is a
    // per-row content-hash function, so the global top-50 is a subset of
    // the union of per-batch top-50s — each trigger's work is O(batch)
    // map + a bounded heap, the reservoir grows by ≤50 rows per trigger,
    // and the final cutoff reads ONLY the reservoir. Shares
    // q_priority_sample's oracle verbatim, so a dropped or replayed
    // batch shifts the sample and hash-mismatches.
    // ---- Stratified exact-size sampling: k = 10 docs PER SOURCE by the
    // same A-Res length-weighted key — the per-domain quota draw a
    // data-mixing recipe executes (a global top-k over-samples whichever
    // domain is largest; quotas are per-stratum). Runs through the
    // native TopKPerKey physical operator: per-partition bounded heaps
    // partial-prune the shuffle to ≤k rows per (source, partition), so
    // the exchange carries O(k × strata × partitions) rows and NOTHING
    // is ever sorted — where the oracle's row_number formulation
    // shuffles and sorts the whole corpus. Hash-matching it proves the
    // operator's semantics on a second real surface (q_topk_native's
    // operator, a sampling workload).
    Q("q_stratified_sample", stratifiedSampleSql) { (s, d) =>
      graft.plans.TopKPerKey(
          priorityScored(Tables.documents(s, d), extra = Seq("source")),
          Seq("source"), Seq(col("skey").desc, col("doc_id").asc), k = 10)
        .select(col("source"), col("doc_id"), col("n_chars"), col("skey"))
        .orderBy(col("source"), col("skey").desc, col("doc_id"))
    },

    Q("q_stream_priority_sample", prioritySampleSql) { (s, d) =>
      Staging.ledger(Tables.documents(s, d).select("doc_id", "n_chars"),
          "doc_id", 3) { (batch, id, out) =>
        Staging.writeBatch(
          priorityScored(batch)
            .orderBy(col("skey").desc, col("doc_id")).limit(50),
          s"$out/reservoir", id)
      } { out =>
        // the reservoir dies with the temp dir — the shared drain
        // localizes it (≤50 rows × triggers by construction); the final
        // cutoff is the limit on the ordered local relation
        Staging.drainParquet(s, s"$out/reservoir",
          col("skey").desc, col("doc_id")).limit(50)
      }
    },

    // ---- Stratified quota sampling AT INGEST — the streaming twin of
    // q_stratified_sample (k = 10 docs per source, A-Res length-weighted
    // key). Per-source top-k is an idempotent-mergeable sketch: the
    // global top-10-per-source EQUALS top-10-per-source over the union
    // of per-batch top-10s, so each trigger contributes ≤ 10×|strata|
    // rows through the native bounded-heap TopKPerKey and the ledger
    // stays O(strata × triggers) at any corpus size. Batch writes are
    // idempotent per batch id (replay overwrites, never appends), and
    // the oracle is the BATCH sampler's SQL verbatim — a dropped or
    // double-counted trigger shifts the quota draw and hash-mismatches.
    Q("q_stream_stratified_sample", stratifiedSampleSql) { (s, d) =>
      Staging.ledger(Tables.documents(s, d).select("doc_id", "source", "n_chars"),
          "doc_id", 3) { (batch, id, out) =>
        Staging.writeBatch(
          graft.plans.TopKPerKey(
            priorityScored(batch, extra = Seq("source")),
            Seq("source"), Seq(col("skey").desc, col("doc_id").asc),
            k = 10),
          s"$out/quota", id)
      } { out =>
        // final per-source cut over the bounded ledger (≤ 10 × strata ×
        // triggers rows by construction — drained local)
        graft.plans.TopKPerKey(
            Staging.drainParquet(s, s"$out/quota"),
            Seq("source"), Seq(col("skey").desc, col("doc_id").asc), k = 10)
          .select(col("source"), col("doc_id"), col("n_chars"), col("skey"))
          .orderBy(col("source"), col("skey").desc, col("doc_id"))
      }
    },

    // ---- DSIR: Data Selection via Importance Resampling (Xie et al.
    // 2023) — select raw-corpus documents that look like a TARGET
    // distribution (here: the en slice stands in for the curated target)
    // by hashed-feature importance weights. Features are word unigrams
    // hashed into 256 buckets (the paper's hashed n-gram generative
    // model); per-bucket log-likelihood ratio λ(b) = ln(p̂_target(b) /
    // p̂_raw(b)) with add-1 smoothing; a document's log importance
    // weight is Σ_b n_doc(b)·λ(b); selection is GUMBEL TOP-K — i.e.
    // true sampling-without-replacement ∝ w(x), not a deterministic
    // head — with the Gumbel noise derived from a content hash so both
    // engines draw the identical sample. At 100 TB: the feature table
    // is EXACTLY 256 rows (broadcast literal — hard-bounded by the hash
    // modulus, unlike a vocab), the per-doc weight is one map-side-
    // combinable aggregate over (doc, bucket, n), the Gumbel key is a
    // per-row map expression, and the top-100 cut is a bounded heap
    // (TakeOrderedAndProject), never a full sort. Determinism: λ rounds
    // to 6dp, n·DECIMAL(λ) sums exactly (per-bucket weights ≡ the
    // per-occurrence sum), the Gumbel key rounds to 6dp on identical
    // doubles.
    Q("q_dsir_sample", dsirSql) { (s, d) =>
      dsirScored(dsirDb(s, d), dsirLambda(s, d))
        .orderBy(col("gkey").desc, col("doc_id"))
        .limit(100)
    },

    // ---- DSIR AT INGEST — the serving twin: the λ table is the MODEL a
    // pipeline trains offline on yesterday's corpus and ships to the
    // intake; every micro-batch is hashed, scored by the stream-static
    // broadcast λ join, and cut to its top-100 Gumbel keys; the global
    // selection is a top-100 ledger maintained by idempotent per-batch
    // appends (gkey is content-derived, so per-batch top-k is
    // mergeable — the reservoir-sampler argument verbatim). Shares the
    // batch oracle: a dropped/replayed trigger or any train/serve
    // feature skew shifts the drawn sample and hash-mismatches.
    Q("q_stream_dsir", dsirSql) { (s, d) =>
      val lam = dsirLambda(s, d).localCheckpoint() // trained once, offline
      Staging.ledger(Tables.documents(s, d).select("doc_id", "lang", "text"),
          "doc_id", 3) { (batch, id, out) =>
        Staging.writeBatch(
          dsirScored(dsirBuckets(batch), lam)
            .orderBy(col("gkey").desc, col("doc_id")).limit(100),
          s"$out/sel", id)
      } { out =>
        Staging.drainParquet(s, s"$out/sel",
          col("gkey").desc, col("doc_id")).limit(100)
      }
    },

    // ---- INCREMENTAL DSIR — the refresh seam for the second trained
    // artifact class (r15 verdict #6): a corpus refresh re-trains the
    // 256-bucket λ model and re-draws the Gumbel top-100 WITHOUT
    // re-tokenizing the historical corpus. State: the historical
    // (doc_id, lang, bucket, n) count table — DSIR's sufficient
    // statistic (λ is per-bucket count ratios, per-doc weights are
    // count-weighted λ sums; both additive over disjoint document
    // sets), persisted once as a parquet artifact. This run hashes ONLY
    // the new batch (eagerly, at one localCheckpoint — it feeds the two
    // λ aggregates and the scorer), unions it with the artifact, and
    // trains + scores over the combined counts. The oracle is
    // q_dsir_sample's FULL-corpus derivation verbatim, so a stale
    // artifact or a dropped batch shifts λ — and with it the drawn
    // sample — and hash-mismatches.
    Q("q_incremental_dsir", dsirSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val isNew = DedupOps.isNewDoc
      val hist = Artifacts.parquet(s, d, "inc_dsir_db") {
        dsirBuckets(Tables.spread(docs.filter(!isNew), col("doc_id")))
      }
      val newDb = dsirBuckets(Tables.spread(docs.filter(isNew), col("doc_id")))
        .localCheckpoint()
      val db = hist.union(newDb)
      dsirScored(db, dsirLambdaOn(db))
        .orderBy(col("gkey").desc, col("doc_id"))
        .limit(100)
    },

    // ---- DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    // Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    // multiplicative-weights update over SOURCES driven by per-source
    // EXCESS LOSS — domains whose mean token cross-entropy (under the
    // shared corpus unigram LM, the lm_dwc artifact) exceeds the corpus
    // mean get upweighted (they're under-learned), then the mixture is
    // smoothed toward uniform (the paper's (1−c)·α + c·u). Complements
    // q_mix_weights' SIZE-balancing recipe with the LOSS-driven one.
    // 3 steps, η=0.5, c=0.1. At 100 TB: ONE corpus-scale pass (the
    // per-source loss aggregate, map-side combinable); every iteration
    // step runs on the |sources|-row relation with a broadcast scalar —
    // the exponentiated-gradient loop costs nothing at any corpus size.
    // Determinism: the classifier-GD discipline — per-occurrence costs
    // round to 6dp and DECIMAL-sum; every iterated scalar rounds via
    // floor(x·10⁶+0.5)/10⁶ (engine-exact on identical doubles); one
    // Scala loop generates BOTH engines' step chains.
    Q("q_domain_reweight", domainReweightSql) { (s, d) =>
      val dwc = lmDwc(s, d)
      val tf = dwc.groupBy(col("word")).agg(sum(col("n")).as("tf"))
      val tot = tf.agg(sum(col("tf")).as("ntot"))
      val srcOf = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val perSrc = dwc
        .join(tf, "word")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("n"),
          round(-log(col("tf").cast("double") / col("ntot")), 6).as("c"))
        .join(srcOf, "doc_id")
        .groupBy(col("source"))
        .agg(sum(col("n")).as("n_tok"),
          sum(col("c").cast("decimal(18,6)") * col("n")).as("sxs"))
      val muk = perSrc.agg(
        round(sum(col("sxs")).cast("double") / sum(col("n_tok")), 6).as("mu"),
        count(lit(1)).as("k"))
      var w = perSrc.crossJoin(broadcast(muk))
        .select(col("source"), col("n_tok"),
          round(col("sxs").cast("double") / col("n_tok"), 6).as("xent"),
          col("mu"), col("k"),
          r6(lit(1.0) / col("k")).as("w"))
      for (_ <- 1 to 3) {
        val a = w.select(col("source"), col("n_tok"), col("xent"),
          col("mu"), col("k"),
          r6(col("w") *
            exp(lit(0.5) * greatest(col("xent") - col("mu"), lit(0.0))))
            .as("a"))
        val z = a.agg(sum(col("a").cast("decimal(18,6)")).cast("double").as("z"))
        w = a.crossJoin(broadcast(z))
          .select(col("source"), col("n_tok"), col("xent"),
            col("mu"), col("k"), r6(col("a") / col("z")).as("w"))
      }
      w.select(col("source"), col("n_tok"), col("xent"),
          r6(lit(0.9) * col("w") + lit(0.1) / col("k")).as("w"))
        .orderBy(col("source"))
    },

    // ---- EXACT sequence-length quantiles — the packing/context-window
    // planning artifact (pairs with q_seq_pack): p50/p90/p99/p100 of
    // per-document token counts, EXACT at any corpus size. Spark's
    // percentile() would sort the corpus and approx_percentile trades
    // exactness; instead the per-doc count is a MAP expression (native
    // tokenCount — the corpus never explodes), the histogram groups on
    // the count VALUE (bounded by max doc length, corpus-independent),
    // and the one ordered pass (cumulative counts → nearest-rank pick)
    // runs on that bounded histogram — the q_classifier_eval
    // quantized-histogram discipline applied to quantiles. Nearest-rank
    // definition: smallest value with cum ≥ ceil(q·n), stated
    // identically on both engines (identical doubles → identical ceil).
    // Token definition: non-empty tokens only (tokenCountNonEmpty), the
    // suite's canonical `w <> ''` semantics — packing plans must not
    // overcount on texts with consecutive/trailing spaces.
    Q("q_seq_len_quantiles",
      """WITH d AS (SELECT len(list_filter(string_split(text, ' '),
        |                            x -> x <> '')) AS n_tok
        |           FROM documents),
        |h AS (SELECT n_tok, COUNT(*) AS cnt FROM d GROUP BY n_tok),
        |c AS (SELECT n_tok, SUM(cnt) OVER (ORDER BY n_tok
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM h),
        |n AS (SELECT COUNT(*) AS n FROM d)
        |SELECT q, CAST(MIN(n_tok) AS BIGINT) AS n_tok
        |FROM c CROSS JOIN n
        |CROSS JOIN (VALUES (0.5), (0.9), (0.99), (1.0)) t(q)
        |WHERE cum >= ceil(q * n)
        |GROUP BY q ORDER BY q""".stripMargin) { (s, d) =>
      val counts = Tables.documents(s, d)
        .select(TextFunctions.tokenCountNonEmpty(col("text")).as("n_tok"))
      val h = counts.groupBy(col("n_tok")).agg(count(lit(1)).as("cnt"))
      val n = counts.agg(count(lit(1)).as("n"))
      // bounded single-partition window: the histogram has one row per
      // DISTINCT length — value-bounded, corpus-size-independent
      val wnd = Window.orderBy(col("n_tok"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val c = h.withColumn("cum", sum(col("cnt")).over(wnd))
      val qs = s.createDataFrame(
        Seq(0.5, 0.9, 0.99, 1.0).map(Tuple1(_))).toDF("q")
      c.crossJoin(broadcast(n)).crossJoin(broadcast(qs))
        .filter(col("cum") >= ceil(col("q") * col("n")))
        .groupBy(col("q")).agg(min(col("n_tok")).as("n_tok"))
        .orderBy(col("q"))
    },

    // ---- Sequence-length quantiles AT INGEST — the streaming twin:
    // the value-bounded histogram is mergeable BY CONSTRUCTION (counts
    // sum across micro-batches), so each trigger contributes its
    // batch-local (n_tok, cnt) histogram through the idempotent
    // per-batch write and the ledger stays O(distinct lengths ×
    // triggers) at any corpus size; the drain re-sums and runs the same
    // bounded nearest-rank pick. Shares the batch oracle verbatim — a
    // dropped or double-counted trigger shifts every cumulative count
    // and hash-mismatches.
    Q("q_stream_seq_len_quantiles",
      """WITH d AS (SELECT len(list_filter(string_split(text, ' '),
        |                            x -> x <> '')) AS n_tok
        |           FROM documents),
        |h AS (SELECT n_tok, COUNT(*) AS cnt FROM d GROUP BY n_tok),
        |c AS (SELECT n_tok, SUM(cnt) OVER (ORDER BY n_tok
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM h),
        |n AS (SELECT COUNT(*) AS n FROM d)
        |SELECT q, CAST(MIN(n_tok) AS BIGINT) AS n_tok
        |FROM c CROSS JOIN n
        |CROSS JOIN (VALUES (0.5), (0.9), (0.99), (1.0)) t(q)
        |WHERE cum >= ceil(q * n)
        |GROUP BY q ORDER BY q""".stripMargin) { (s, d) =>
      Staging.ledger(Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", 3) { (batch, id, out) =>
        Staging.writeBatch(
          batch.select(TextFunctions.tokenCountNonEmpty(col("text")).as("n_tok"))
            .groupBy(col("n_tok")).agg(count(lit(1)).as("cnt")),
          s"$out/hist", id)
      } { out =>
        // merge the per-trigger histograms (counts sum) and run the
        // identical bounded nearest-rank pick over the merged histogram
        val h = Staging.drainParquet(s, s"$out/hist")
          .groupBy(col("n_tok")).agg(sum(col("cnt")).as("cnt"))
        val n = h.agg(sum(col("cnt")).as("n"))
        val wnd = Window.orderBy(col("n_tok"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val c = h.withColumn("cum", sum(col("cnt")).over(wnd))
        val qs = s.createDataFrame(
          Seq(0.5, 0.9, 0.99, 1.0).map(Tuple1(_))).toDF("q")
        c.crossJoin(broadcast(n)).crossJoin(broadcast(qs))
          .filter(col("cum") >= ceil(col("q") * col("n")))
          .groupBy(col("q")).agg(min(col("n_tok")).as("n_tok"))
          .orderBy(col("q"))
      }
    },

    // ---- Vocabulary coverage curve — the tokenizer-SIZING artifact:
    // what fraction of corpus token occurrences the top-k most frequent
    // words cover, at k ∈ {10, 25, 100, 1000, 10000} plus the
    // max-available rank min(10000, |vocab|) — the small-k points and
    // the terminal row keep the rank/tie-break/cumulative logic
    // exercised even when the corpus vocabulary is below 100 (the
    // driver testdata has ~31 distinct words; without them the gate
    // would compare empty-to-empty). The curve (with q_vocab's
    // df table and q_zipf_fit's slope) is what decides a vocab budget
    // before anyone trains a tokenizer. Shape at 100 TB: the tf
    // aggregate is the one corpus-scale stage (map-side combined, reads
    // the lm_dwc artifact); the head cut is a bounded heap
    // (TakeOrderedAndProject, k=10000), and the ONLY window runs over
    // those ≤10k rows — bounded at any corpus size (the
    // classifier-histogram precedent). Boundary ties are deterministic:
    // rank orders by (tf DESC, word ASC) on both engines. Integer
    // cumulative sums; coverage divides identical integers.
    Q("q_vocab_coverage",
      """WITH t0 AS (SELECT unnest(string_split(text, ' ')) AS tok
        |            FROM documents),
        |ww AS (SELECT tok FROM t0 WHERE tok <> ''),
        |tf AS (SELECT tok, COUNT(*) AS tf FROM ww GROUP BY tok),
        |tot AS (SELECT SUM(tf) AS ntot, COUNT(*) AS vocab FROM tf),
        |top AS (SELECT tf, ROW_NUMBER() OVER (ORDER BY tf DESC, tok) AS rn
        |        FROM tf),
        |c AS (SELECT rn, SUM(tf) OVER (ORDER BY rn
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM top WHERE rn <= 10000)
        |SELECT CAST(rn AS BIGINT) AS k, CAST(cum AS BIGINT) AS cum_tokens,
        |  round(CAST(cum AS DOUBLE) / ntot, 6) AS coverage,
        |  CAST(vocab AS BIGINT) AS vocab, CAST(ntot AS BIGINT) AS total_tokens
        |FROM c CROSS JOIN tot
        |WHERE rn IN (10, 25, 100, 1000, 10000) OR rn = least(10000, vocab)
        |ORDER BY k""".stripMargin) { (s, d) =>
      val tf = lmDwc(s, d).groupBy(col("word")).agg(sum(col("n")).as("tf"))
      val tot = tf.agg(sum(col("tf")).as("ntot"), count(lit(1)).as("vocab"))
      // bounded head: TakeOrderedAndProject keeps ≤10k rows per
      // partition heap — the full-vocab sort the oracle states never
      // materializes on the engine
      val top = tf.orderBy(col("tf").desc, col("word")).limit(10000)
      val ord = Window.orderBy(col("tf").desc, col("word"))
      val ranked = top
        .withColumn("rn", row_number().over(ord))
        .withColumn("cum", sum(col("tf")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      ranked.crossJoin(broadcast(tot))
        .filter(col("rn").isin(10, 25, 100, 1000, 10000) ||
          col("rn") === least(lit(10000), col("vocab")))
        .select(col("rn").cast("long").as("k"), col("cum").as("cum_tokens"),
          round(col("cum").cast("double") / col("ntot"), 6).as("coverage"),
          col("vocab"), col("ntot").as("total_tokens"))
        .orderBy(col("k"))
    },

    // ---- Corpus duplication-health report (the memorization-risk
    // metric a dataset card publishes): for every document, the fraction
    // of its distinct 13-gram shingles that are corpus-UNIQUE (df = 1).
    // Low novelty = the doc is mostly built from n-grams that recur
    // elsewhere (boilerplate / near-dup residue the dedup block should
    // have caught); the corpus-level histogram of this column is the
    // duplication spectrum. Shape at 100 TB: shingles travel as
    // zero-copy xxhash64 keys; the df table is corpus-sized so it is
    // NOT broadcast — both sides derive from the same exploded relation
    // and co-partition on the shingle hash, one equi-join + two aggs.
    Q("q_shingle_novelty",
      """WITH sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+12], ' ') AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |       unnest(range(1, len(t) - 11)) AS u(i) WHERE len(t) >= 13),
        |df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
        |p AS (SELECT sh.doc_id, COUNT(*) AS n_sh,
        |        SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS n_unique
        |      FROM sh JOIN df USING (s) GROUP BY sh.doc_id)
        |SELECT doc_id, CAST(n_sh AS BIGINT) AS n_shingles,
        |  CAST(n_unique AS BIGINT) AS n_unique,
        |  round(CAST(n_unique AS DOUBLE) / n_sh, 6) AS novelty
        |FROM p ORDER BY doc_id""".stripMargin) { (s, d) =>
      // consumed twice (df derivation + the join back); both branches
      // share the distinct's exchange (ReusedExchange) — one corpus
      // explode, not two
      val sh = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextFunctions.shingleHashes(col("text"), 13)).as("s"))
        .distinct()
      val df = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      sh.join(df, "s")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
        .select(col("doc_id"), col("n_shingles"), col("n_unique"),
          round(col("n_unique").cast("double") / col("n_shingles"), 6).as("novelty"))
        .orderBy(col("doc_id"))
    },

    // ---- Token counting per language (whitespace tokenizer).
    Q("q_token_stats",
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_tok) AS DOUBLE) / COUNT(*) AS avg_tokens,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        |FROM (SELECT lang, len(string_split(text, ' ')) AS n_tok, n_chars
        |      FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), TextFunctions.tokenCount(col("text")).as("n_tok"), col("n_chars"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("total_tokens"),
          (sum(col("n_tok")).cast("double") / count(lit(1))).as("avg_tokens"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
        .orderBy(col("lang"))
    },

    // ---- Per-document quality score (Gopher/C4-style hard thresholds:
    // length band, stopword presence, token-length sanity).
    Q("q_quality_score",
      """SELECT doc_id, n_tok,
        |  CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
        |  CAST(n_nospace AS DOUBLE) / n_tok AS mean_tok_len,
        |  (CASE WHEN n_tok BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END
        |   + CASE WHEN n_stop > 0 THEN 1.0 ELSE 0.0 END
        |   + CASE WHEN CAST(n_nospace AS DOUBLE) / n_tok BETWEEN 2.0 AND 12.0
        |          THEN 1.0 ELSE 0.0 END) / 3.0 AS quality
        |FROM (SELECT doc_id,
        |        len(string_split(text, ' ')) AS n_tok,
        |        len(list_filter(string_split(text, ' '),
        |            t -> t IN ('the','a','an','of','to','and','in','is'))) AS n_stop,
        |        length(replace(text, ' ', '')) AS n_nospace
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tok"),
        TextFunctions.stopwordRatio(col("text")).as("stop_ratio"),
        TextFunctions.meanTokenLen(col("text")).as("mean_tok_len"),
        TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    },

    // ---- The GOPHER RULE BUNDLE (Rae et al. 2021 §A1.1 — the named
    // hard-filter suite production crawls actually run, complementing
    // q_quality_score's composite): word-count band, mean-word-length
    // band, alpha-word fraction, symbol-to-word ratio, bullet-line /
    // ellipsis-line fractions, duplicate-line fraction, stopword
    // presence. The synthetic corpus is single-line prose, so the
    // line-shaped and symbol-shaped rules would be structural zeros —
    // closed with the PII gate's injection discipline: both engines
    // first synthesize the SAME deterministic page structure (8-token
    // lines; every 3rd doc bulleted, every 5th doc ellipsis-suffixed on
    // odd lines, every 7th doc +15 '#' symbol tokens, every 11th doc's
    // first line repeated 7×), so every rule fires both ways and the
    // counters are computed, not assumed. Determinism: every rule is an
    // exact INTEGER cross-multiplication (10·n_bullet ≤ 9·n_lines, not
    // a double ratio) — no rounding anywhere, fully hash-stable.
    // Shape at 100 TB: everything is array-side row-local inside the
    // scan (the char-entropy posture); the only exchange is the gate's
    // ORDER BY.
    Q("q_gopher_quality", gopherSql) { (s, d) =>
      gopherRules(Tables.documents(s, d)).orderBy(col("doc_id"))
    },

    // ---- The Gopher bundle AT INGEST — the quality gate's streaming
    // twin (the q_stream_pii_scrub shape): documents arrive in
    // micro-batches and every trigger applies the SAME per-row rule
    // definition ([[gopherRules]]) through the idempotent per-batch
    // write; the drain shares the batch oracle verbatim, so a dropped
    // trigger or a train/serve rule drift hash-mismatches.
    Q("q_stream_gopher_quality", gopherSql) { (s, d) =>
      Staging.ledger(Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", 3) { (batch, id, out) =>
        Staging.writeBatch(gopherRules(batch), s"$out/rules", id)
      } { out =>
        Staging.drainParquet(s, s"$out/rules").orderBy(col("doc_id"))
      }
    },

    // ---- The C4 CLEANING RULESET (Raffel et al. 2020 §2.2 — the other
    // canonical hard-filter suite next to [[gopherRules]]): keep only
    // lines that end in terminal punctuation AND have ≥5 words AND don't
    // mention "javascript"; drop any document containing "lorem ipsum"
    // or "{"; require ≥3 retained lines per kept document. (C4's
    // three-sentence cross-doc span dedup is q_span_dedup's job.) The
    // synthetic corpus is punctuation-free token soup, so — the PII /
    // gopher injection discipline — both engines first synthesize the
    // SAME deterministic structure: 8-token lines; every line ends '.'
    // EXCEPT odd lines of doc_id % 4 = 1 docs (period rule fires both
    // ways), line 0 of every 6th doc gains a "javascript" lead token,
    // every 9th doc's text gains " lorem ipsum" and every 13th a " {"
    // (the doc-kill rules fire both ways; detection runs on the TEXT,
    // not the doc_id arithmetic). The cleaned document's BYTES are
    // md5-checked, so both engines' retained-line content and order
    // match exactly. Everything is array-side row-local inside the
    // scan (the q_pii_scrub posture); the only exchange is the gate's
    // ORDER BY.
    Q("q_c4_clean", c4Sql) { (s, d) =>
      c4Rows(Tables.documents(s, d)).orderBy(col("doc_id"))
    },

    // ---- The C4 ruleset AT INGEST — the cleaning gate's streaming
    // twin (the q_stream_gopher_quality shape): every trigger applies
    // the SAME per-row rule definition ([[c4Rows]]) through the
    // idempotent per-batch write; the drain shares the batch oracle
    // verbatim, so a dropped trigger or train/serve rule drift
    // hash-mismatches.
    Q("q_stream_c4_clean", c4Sql) { (s, d) =>
      Staging.ledger(Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", 3) { (batch, id, out) =>
        Staging.writeBatch(c4Rows(batch), s"$out/rows", id)
      } { out =>
        Staging.drainParquet(s, s"$out/rows").orderBy(col("doc_id"))
      }
    },

    // ---- Language-ID confusion matrix: marker-token voting vs the labeled
    // lang column. Ties broken in fixed lang order, no-match → 'und'.
    Q("q_lang_id",
      """WITH scored AS (
        |  SELECT lang,
        |    len(list_filter(t, x -> x IN ('der','die','das'))) AS s_de,
        |    len(list_filter(t, x -> x IN ('the','a','of'))) AS s_en,
        |    len(list_filter(t, x -> x IN ('el','la','de'))) AS s_es,
        |    len(list_filter(t, x -> x IN ('le','la','les'))) AS s_fr
        |  FROM (SELECT lang, string_split(text, ' ') AS t FROM documents)),
        |pred AS (
        |  SELECT lang,
        |    CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
        |         WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
        |         WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
        |         WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
        |         ELSE 'fr' END AS pred_lang
        |  FROM scored)
        |SELECT pred_lang, lang AS true_lang, COUNT(*) AS n
        |FROM pred GROUP BY pred_lang, true_lang
        |ORDER BY pred_lang, true_lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(TextFunctions.langIdVote(col("text"), langMarkers).as("pred_lang"),
          col("lang").as("true_lang"))
        .groupBy(col("pred_lang"), col("true_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("pred_lang"), col("true_lang"))
    },

    // ---- Heavy-hitter tokens per language via the Misra–Gries sketch.
    // At 100 TB this replaces an unboundedly wide token groupBy with a
    // fixed-size mergeable buffer per group. Merge order perturbs the
    // sketch's approximate counts, but its GUARANTEE is deterministic:
    // with 128 counters every token of frequency > n/129 survives. The
    // query intersects the sketch's keys with the exactly-verified heavy
    // set (frequency > n/64) — by the guarantee that intersection IS the
    // exact heavy set, which DuckDB recomputes from scratch: a sketch
    // that loses a guaranteed key drops a token and hash-mismatches.
    // (The exact counts are the verification harness; the operator under
    // test is the bounded-memory sketch.)
    Q("q_heavy_hitters",
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |c AS (SELECT lang, tok, COUNT(*) AS cnt FROM t GROUP BY lang, tok),
        |n AS (SELECT lang, COUNT(*) AS n FROM t GROUP BY lang)
        |SELECT c.lang, string_agg(c.tok, ' ' ORDER BY c.tok) AS heavy_tokens,
        |  COUNT(*) AS n_heavy
        |FROM c JOIN n ON c.lang = n.lang
        |WHERE c.cnt * 64 > n.n
        |GROUP BY c.lang ORDER BY c.lang""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("lang"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      val sketch = toks.groupBy(col("lang"))
        .agg(HeavyHitters.heavyHitters(col("tok"), 128).as("sketch"))
      val exact = toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("cnt"))
      val totals = toks.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      exact.join(totals, "lang")
        .filter(col("cnt") * 64 > col("n"))
        .join(broadcast(sketch), "lang")
        .filter(array_contains(map_keys(col("sketch")), col("tok")))
        .groupBy(col("lang"))
        .agg(concat_ws(" ", sort_array(collect_list(col("tok")))).as("heavy_tokens"),
          count(lit(1)).as("n_heavy"))
        .orderBy(col("lang"))
    },

    // ---- Repetition scoring (Gopher-style): low distinct-token ratio =
    // boilerplate/spam. Pure per-row array ops, no shuffle.
    Q("q_repetition",
      """SELECT doc_id,
        |  CAST(len(list_distinct(t)) AS INT) AS n_distinct,
        |  CAST(len(t) AS INT) AS n_tok,
        |  CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS distinct_ratio,
        |  CASE WHEN CAST(len(list_distinct(t)) AS DOUBLE) / len(t) < 0.3
        |       THEN 1 ELSE 0 END AS repetitive
        |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = TextFunctions.tokens(col("text"))
      val ratio = size(array_distinct(toks)).cast("double") / size(toks)
      Tables.documents(s, d).select(
        col("doc_id"),
        size(array_distinct(toks)).as("n_distinct"),
        size(toks).as("n_tok"),
        ratio.as("distinct_ratio"),
        when(ratio < 0.3, 1).otherwise(0).as("repetitive"))
        .orderBy(col("doc_id"))
    },

    // ---- Gopher n-gram repetition filters (Rae et al. 2021 §A1.1): the
    // character fraction covered by the most frequent word 2-/3-gram,
    // thresholded at the paper's 0.20/0.18. The top gram is computed by
    // the native TopNgramStats expression in ONE map-side pass inside the
    // scan stage — the composed form (explode n-grams → groupBy(doc,
    // gram) → per-doc max, which the oracle runs) shuffles the corpus
    // TOKEN stream for a per-document scalar, the single largest relation
    // this filter could materialize at 100 TB. Per-row ops only; the
    // total ORDER BY is the gate's determinism contract.
    Q("q_gopher_repetition",
      """WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS tk
        |              FROM documents),
        |p AS (SELECT doc_id, tk, generate_subscripts(tk, 1) AS i FROM toks),
        |c2 AS (SELECT doc_id, array_to_string(tk[i : i + 1], ' ') AS gram,
        |         COUNT(*) AS c
        |       FROM p WHERE i + 1 <= len(tk) GROUP BY doc_id, gram),
        |t2 AS (SELECT doc_id, gram, c,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY c DESC, gram) AS rn
        |       FROM c2),
        |c3 AS (SELECT doc_id, array_to_string(tk[i : i + 2], ' ') AS gram,
        |         COUNT(*) AS c
        |       FROM p WHERE i + 2 <= len(tk) GROUP BY doc_id, gram),
        |t3 AS (SELECT doc_id, gram, c,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY c DESC, gram) AS rn
        |       FROM c3)
        |SELECT d.doc_id, t2.gram AS top_2gram,
        |  round(CAST(t2.c * length(t2.gram) AS DOUBLE) / length(d.text), 6)
        |    AS frac_2gram,
        |  round(CAST(t3.c * length(t3.gram) AS DOUBLE) / length(d.text), 6)
        |    AS frac_3gram,
        |  (COALESCE(round(CAST(t2.c * length(t2.gram) AS DOUBLE)
        |     / length(d.text), 6), 0) <= 0.20
        |   AND COALESCE(round(CAST(t3.c * length(t3.gram) AS DOUBLE)
        |     / length(d.text), 6), 0) <= 0.18) AS keep
        |FROM documents d
        |LEFT JOIN t2 ON t2.doc_id = d.doc_id AND t2.rn = 1
        |LEFT JOIN t3 ON t3.doc_id = d.doc_id AND t3.rn = 1
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      def frac(st: org.apache.spark.sql.Column) = round(
        (st.getField("cnt") * length(st.getField("gram"))).cast("double") /
          length(col("text")), 6)
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          graft.functions.TopNgramStats(col("text"), 2).as("s2"),
          graft.functions.TopNgramStats(col("text"), 3).as("s3"))
        .select(col("doc_id"),
          col("s2").getField("gram").as("top_2gram"),
          frac(col("s2")).as("frac_2gram"),
          frac(col("s3")).as("frac_3gram"))
        .withColumn("keep",
          coalesce(col("frac_2gram"), lit(0.0)) <= 0.20 &&
            coalesce(col("frac_3gram"), lit(0.0)) <= 0.18)
        .orderBy(col("doc_id"))
    },

    // ---- The full curation pipeline in one verifiable query: quality
    // filter → language filter → whitespace-insensitive dedup (keep lowest
    // doc_id per fingerprint) → keep-list. This is the composed shape a
    // training-data pipeline runs at 100 TB: two scans + one small
    // aggregation on the fingerprint, all other stages fused per-row.
    Q("q_curation_pipeline",
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    substring(md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), 1, 16) AS fp,
        |    len(string_split(text, ' ')) AS n_tok,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the','a','an','of','to','and','in','is'))) AS n_stop
        |  FROM documents),
        |kept AS (
        |  SELECT * FROM scored
        |  WHERE n_tok BETWEEN 20 AND 1000 AND n_stop > 0),
        |dedup AS (
        |  SELECT fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_near_dups
        |  FROM kept GROUP BY fp)
        |SELECT k.doc_id, k.lang, k.n_tok, d.n_near_dups
        |FROM kept k JOIN dedup d ON k.doc_id = d.keep_id
        |ORDER BY k.doc_id""".stripMargin) { (s, d) =>
      val toks = TextFunctions.tokens(col("text"))
      val scored = Tables.documents(s, d).select(
        col("doc_id"), col("lang"),
        TextFunctions.fingerprint(col("text")).as("fp"),
        size(toks).as("n_tok"),
        size(filter(toks, t => t.isin(TextFunctions.Stopwords: _*))).as("n_stop"))
      val kept = scored.filter(col("n_tok").between(20, 1000) && col("n_stop") > 0)
      val dedup = kept.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_near_dups"))
      kept.join(dedup, kept("doc_id") === dedup("keep_id"))
        .select(kept("doc_id"), col("lang"), col("n_tok"), col("n_near_dups"))
        .orderBy(col("doc_id"))
    },

    // ---- Per-document curation SCORECARD: the audit artifact a training
    // pipeline publishes alongside the dataset — one row per document with
    // every gate's verdict attributed (quality, repetition, dedup-keeper,
    // benchmark contamination, split) plus the composed keep decision,
    // instead of q_curation_pipeline's survivors-only output. Dropping a
    // doc without a recorded reason is how curation bugs hide; this is the
    // row that makes the pipeline auditable. Scale shape: quality and
    // repetition are codegen'd per-row expressions on the scan; the keeper
    // flag is the one corpus shuffle (fp → min(doc_id), map-side
    // combinable, joined back); contamination reuses the decontamination
    // leg (tiny benchmark side broadcast; the bloom-pruned variant slots
    // in at 100 TB exactly as in q_decontaminate_bloom). All flags int,
    // no NULLs in the output (left-join misses coalesce to 0).
    Q("q_curation_scorecard",
      """WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
        |         ELSE 'test' END AS split,
        |    string_split(text, ' ') AS t,
        |    substring(md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), 1, 16) AS fp
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) BETWEEN 20 AND 1000
        |          AND len(list_filter(t,
        |              x -> x IN ('the','a','an','of','to','and','in','is'))) > 0
        |          AND CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(t)
        |              BETWEEN 2.0 AND 12.0
        |     THEN 1 ELSE 0 END AS q_ok,
        |    CASE WHEN CAST(len(list_distinct(t)) AS DOUBLE) / len(t) < 0.3
        |         THEN 1 ELSE 0 END AS repetitive
        |  FROM base),
        |kp AS (SELECT fp, MIN(doc_id) AS keep_id FROM base GROUP BY fp),
        |sh AS (SELECT DISTINCT doc_id, split, array_to_string(t[i:i+12], ' ') AS s
        |       FROM base, unnest(range(1, len(t) - 11)) AS u(i) WHERE len(t) >= 13),
        |te AS (SELECT DISTINCT s FROM sh WHERE split = 'test'),
        |cont AS (SELECT DISTINCT sh.doc_id FROM sh JOIN te USING (s)
        |         WHERE sh.split = 'train')
        |SELECT b.doc_id, b.split, q.q_ok, q.repetitive,
        |  CASE WHEN kp.keep_id IS NOT NULL THEN 1 ELSE 0 END AS keeper,
        |  CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS contaminated,
        |  CASE WHEN q.q_ok = 1 AND q.repetitive = 0 AND kp.keep_id IS NOT NULL
        |        AND c.doc_id IS NULL AND b.split = 'train' THEN 1 ELSE 0 END AS keep
        |FROM base b JOIN q USING (doc_id)
        |LEFT JOIN kp ON b.doc_id = kp.keep_id
        |LEFT JOIN cont c ON b.doc_id = c.doc_id
        |ORDER BY b.doc_id""".stripMargin) { (s, d) =>
      val toks = TextFunctions.tokens(col("text"))
      val base = Tables.documents(s, d).select(
        col("doc_id"), col("text"), splitTag.as("split"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      val flagged = base.select(
        col("doc_id"), col("split"), col("fp"),
        when(TextFunctions.qualityScore(col("text")) === 1.0, 1).otherwise(0)
          .as("q_ok"),
        when(size(array_distinct(toks)).cast("double") / size(toks) < 0.3, 1)
          .otherwise(0).as("repetitive"))
      val keepers = flagged.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), lit(1).as("k_flag"))
      val te = base.filter(col("split") === "test")
        .select(explode(TextFunctions.shingleHashes(col("text"), 13)).as("s"))
        .distinct()
      val cont = base.filter(col("split") === "train")
        .select(col("doc_id"),
          explode(TextFunctions.shingleHashes(col("text"), 13)).as("s"))
        .join(broadcast(te), "s")
        .select(col("doc_id")).distinct()
        .select(col("doc_id"), lit(1).as("c_flag"))
      flagged
        .join(keepers, Seq("doc_id"), "left")
        .join(cont, Seq("doc_id"), "left")
        .select(col("doc_id"), col("split"), col("q_ok"), col("repetitive"),
          coalesce(col("k_flag"), lit(0)).as("keeper"),
          coalesce(col("c_flag"), lit(0)).as("contaminated"),
          when(col("q_ok") === 1 && col("repetitive") === 0 &&
            col("k_flag").isNotNull && col("c_flag").isNull &&
            col("split") === "train", 1).otherwise(0).as("keep"))
        .orderBy(col("doc_id"))
    },

    // ---- Partitioned dataset PUBLISH: the last step of the pipeline —
    // write the corpus as lang-partitioned parquet (the layout downstream
    // trainers actually consume: partition pruning on lang/source is what
    // makes "give me the German slice of 100 TB" a directory listing, not
    // a scan), then read it BACK and aggregate. The oracle aggregates the
    // source table directly, so the round trip proves the partition
    // column survives the directory-encode/decode (values become path
    // segments and are re-inferred on read) and that no rows are lost or
    // duplicated by the writer. Scale posture: repartition on the
    // partition column BEFORE partitionBy — otherwise every task writes a
    // file into every partition directory and the layout degenerates into
    // the small-files problem; one task per partition value writes one
    // file each here (at 100 TB: hash-repartition on (lang, file-bucket)
    // to bound file size while keeping file counts sane).
    Q("q_publish_partitioned",
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tok
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(
        col("doc_id"), col("lang"), col("source"),
        TextFunctions.tokenCount(col("text")).as("n_tok"))
      Staging.withTempDir { tmp =>
        val out = s"$tmp/corpus"
        docs.repartition(col("lang"))
          .write.partitionBy("lang").mode("overwrite").parquet(out)
        val res = s.read.parquet(out)
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"))
          .orderBy(col("lang"), col("source"))
        // local copy: the published tree is deleted on the way out, so the
        // result must not keep a lineage onto it (bounded: langs × sources)
        s.createDataFrame(res.collectAsList(), res.schema)
      }
    },

    // ---- The corpus-level DATASET CARD row — the one-line summary a
    // published dataset ships (doc/token totals, language and source
    // breadth, exact-dup rate, length-gate survival), complementing the
    // per-document q_curation_scorecard. One scan; the distincts are the
    // only non-trivial cost and each is a count-distinct the sketch
    // family (q_approx_distinct) replaces at 100 TB when exactness isn't
    // contractual. dup_rate divides two exact counts — engine-stable.
    Q("q_dataset_card",
      """WITH base AS (
        |  SELECT doc_id, lang, source, string_split(text, ' ') AS t,
        |    substring(md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), 1, 16) AS fp
        |  FROM documents)
        |SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(len(t)) AS BIGINT) AS n_tokens,
        |  COUNT(DISTINCT fp) AS n_unique,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  COUNT(DISTINCT source) AS n_sources,
        |  CAST(1.0 - COUNT(DISTINCT fp) / CAST(COUNT(*) AS DOUBLE) AS DOUBLE)
        |    AS dup_rate,
        |  CAST(SUM(CASE WHEN len(t) BETWEEN 20 AND 1000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_len_ok
        |FROM base""".stripMargin) { (s, d) =>
      val toks = TextFunctions.tokens(col("text"))
      Tables.documents(s, d)
        .select(col("lang"), col("source"),
          size(toks).as("n_tok"),
          TextFunctions.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          countDistinct(col("fp")).as("n_unique"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          (lit(1.0) - countDistinct(col("fp")) / count(lit(1)).cast("double"))
            .as("dup_rate"),
          sum(when(col("n_tok").between(20, 1000), 1L).otherwise(0L)).as("n_len_ok"))
    },

    // ---- Adjacent-pair (bigram) statistics — the first step of BPE
    // merge selection and the core loop of tokenizer training prep: count
    // every adjacent word pair across the corpus, keep the top 20. One
    // explode + one map-side-combinable count; at 100 TB the pair space
    // is Zipf-bounded and the rollup shuffles counts, not text. Ties at
    // the cut break on the bigram string so the LIMIT is engine-stable.
    Q("q_bigram_stats",
      """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT w[i] || ' ' || w[i+1] AS bg
        |      FROM t, unnest(range(1, len(w))) AS u(i))
        |SELECT bg, COUNT(*) AS n FROM b
        |GROUP BY bg ORDER BY n DESC, bg LIMIT 20""".stripMargin) { (s, d) =>
      val w = TextFunctions.tokens(col("text"))
      // the per-row explode work (≈55 bigram strings per doc) dwarfs the
      // scan — spread() balances it at bench scale (4 cpu-s single-core
      // → 0.9 s wall at sf0.1) and no-ops once the scan has real splits
      Tables.spread(Tables.documents(s, d))
        // guard BEFORE sequence(): Spark's sequence(0, -1) DESCENDS (it
        // would fabricate a bigram from a 1-token doc and crash on the
        // 0 index) where the oracle's range(1, 1) is simply empty
        .filter(size(w) >= 2)
        .select(explode(transform(sequence(lit(0), size(w) - 2),
          i => concat(element_at(w, i + 1), lit(" "), element_at(w, i + 2))))
          .as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bg"))
        .limit(20)
    },

    // ---- Content fingerprint (whitespace-insensitive dedup key; same idea
    // as the reference's BLAKE3-16 content ids,
    // system/userland/macros/src/schema.rs:44-50, with a public hash).
    Q("q_fingerprint",
      """SELECT doc_id,
        |  substring(md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), 1, 16) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },

    // ---- Unigram-LM quality score (the CCNet/perplexity-filter shape):
    // score every document by its mean token cross-entropy under the
    // corpus's own unigram MLE — boilerplate/common-token soup scores low,
    // rare-token noise scores high — and flag the below-mean half as
    // `keep` (CCNet keeps the LOW-perplexity side). At 100 TB: the unigram
    // table is vocabulary-sized (bounded — it's what tokenizer training
    // bounds), so it BROADCASTS onto the exploded-corpus scan; the per-doc
    // score is one map-side-combinable aggregate; the corpus-mean
    // threshold is a broadcast scalar. No shuffle carries corpus text.
    // Determinism: per-token costs round to 6dp then sum as
    // DECIMAL(18,6) (order-independent, Tables.exactSum), the mean is an
    // exact decimal sum over already-rounded doubles, and ln() feeds the
    // 6dp rounding on both engines (same contract as q_tfidf_top).
    Q("q_lm_quality",
      s"""WITH $lmScoredCtes,
         |m AS (SELECT round(CAST(SUM(CAST(xent AS DECIMAL(18,6))) AS DOUBLE)
         |               / COUNT(*), 6) AS mu FROM scored)
         |SELECT doc_id, n_tok, xent, xent <= mu AS keep
         |FROM scored CROSS JOIN m ORDER BY doc_id""".stripMargin) { (s, d) =>
      val scored = lmScored(s, d)
      val mu = scored.agg(
        round(Tables.exactSum(col("xent"), 6) / count(lit(1)), 6).as("mu"))
      scored.crossJoin(broadcast(mu))
        .select(col("doc_id"), col("n_tok"), col("xent"),
          (col("xent") <= col("mu")).as("keep"))
        .orderBy(col("doc_id"))
    },

    // ---- Difficulty-curriculum buckets: quartile the corpus by the
    // unigram-LM cross-entropy (the SHARED lmScored relation — the
    // curriculum orders by the same signal the quality gate thresholds,
    // so the two cannot drift) into 4 difficulty tiers, with per-tier
    // doc/token totals and the xent range — the artifact a
    // difficulty-ordered pretraining schedule consumes. Thresholds are
    // EXACT quartiles at any corpus size via the quantized-histogram
    // discipline: xent is 6dp-rounded, so the histogram is value-
    // bounded; the one ordered pass runs on it, and the nearest-rank
    // pick is stated identically on both engines. Bucketing is then a
    // broadcast-scalar map pass + a 4-group combinable aggregate.
    Q("q_curriculum_buckets",
      s"""WITH $lmScoredCtes,
         |h AS (SELECT xent, COUNT(*) AS cnt FROM scored GROUP BY xent),
         |cc AS (SELECT xent, SUM(cnt) OVER (ORDER BY xent
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |       FROM h),
         |nn AS (SELECT COUNT(*) AS n FROM scored),
         |th AS (SELECT
         |    MIN(CASE WHEN cum >= ceil(0.25 * n) THEN xent END) AS t25,
         |    MIN(CASE WHEN cum >= ceil(0.50 * n) THEN xent END) AS t50,
         |    MIN(CASE WHEN cum >= ceil(0.75 * n) THEN xent END) AS t75
         |  FROM cc CROSS JOIN nn),
         |b AS (SELECT sc2.n_tok, sc2.xent,
         |        CASE WHEN sc2.xent <= t25 THEN 0
         |             WHEN sc2.xent <= t50 THEN 1
         |             WHEN sc2.xent <= t75 THEN 2 ELSE 3 END AS bucket
         |      FROM scored sc2 CROSS JOIN th)
         |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tok,
         |  MIN(xent) AS xent_min, MAX(xent) AS xent_max
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      // checkpointed: three branches (histogram, count, bucketing) read it
      val scored = lmScored(s, d).localCheckpoint()
      val h = scored.groupBy(col("xent")).agg(count(lit(1)).as("cnt"))
      val nn = scored.agg(count(lit(1)).as("n"))
      // bounded single-partition window: one histogram row per DISTINCT
      // 6dp xent value — value-bounded, corpus-size-independent
      val wnd = Window.orderBy(col("xent"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cc = h.withColumn("cum", sum(col("cnt")).over(wnd))
      val th = cc.crossJoin(broadcast(nn)).agg(
        min(when(col("cum") >= ceil(lit(0.25) * col("n")), col("xent"))).as("t25"),
        min(when(col("cum") >= ceil(lit(0.50) * col("n")), col("xent"))).as("t50"),
        min(when(col("cum") >= ceil(lit(0.75) * col("n")), col("xent"))).as("t75"))
      scored.crossJoin(broadcast(th))
        .select(col("n_tok"), col("xent"),
          when(col("xent") <= col("t25"), 0)
            .when(col("xent") <= col("t50"), 1)
            .when(col("xent") <= col("t75"), 2).otherwise(3).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"),
          min(col("xent")).as("xent_min"), max(col("xent")).as("xent_max"))
        .orderBy(col("bucket"))
    },

    // ---- CONDITIONAL character-trigram LM perplexity — the KenLM-style
    // complement of q_lm_quality's unigram filter (CCNet's actual quality
    // signal is an n-gram LM, not unigram frequencies): train
    // P(c₃ | c₁c₂) = (count(c₁c₂c₃) + ½) / (count(c₁c₂·) + ½·|Σ|) on the
    // corpus itself (add-½ smoothing over the observed alphabet Σ), score
    // every document by mean trigram cross-entropy, keep the below-mean
    // (fluent) side. Sequence structure that unigram stats cannot see —
    // shuffled characters, wrong-language text, base64 blobs — scores
    // high here even when its character distribution is unremarkable.
    // At 100 TB: the trigram table is ALPHABET-bounded (≤|Σ|³, vocab-
    // scale), its context totals derive from the trigram counts
    // themselves (groupBy prefix — never a second corpus pass), the model
    // broadcasts onto the exploded scan (AQE; shuffles only if Σ³
    // outgrows the cap), the per-doc score is one map-side-combinable
    // aggregate, and |Σ| is a driver scalar over the vocab-scale model.
    // No shuffle carries corpus text. Determinism: per-trigram costs
    // round to 6dp then sum as DECIMAL (order-independent), the corpus
    // mean is an exact decimal sum of already-rounded doubles — the
    // q_lm_quality / q_tfidf_top ln contract.
    Q("q_char_lm_perplexity",
      """WITH gr AS (SELECT doc_id, substr(text, CAST(u.i AS INT), 3) AS g
        |            FROM documents, unnest(range(1, length(text) - 1)) AS u(i)
        |            WHERE length(text) >= 3),
        |c3 AS (SELECT g, COUNT(*) AS c3 FROM gr GROUP BY g),
        |c2 AS (SELECT substr(g, 1, 2) AS ctx, SUM(c3) AS c2 FROM c3 GROUP BY ctx),
        |v AS (SELECT COUNT(DISTINCT substr(g, 3, 1)) AS nv FROM c3),
        |model AS (SELECT g,
        |    round(-ln((CAST(c3 AS DOUBLE) + 0.5) /
        |              (CAST(c2 AS DOUBLE) + 0.5 * nv)), 6) AS cost
        |  FROM c3 JOIN c2 ON substr(g, 1, 2) = ctx CROSS JOIN v),
        |sc AS (SELECT gr.doc_id, COUNT(*) AS n_tri,
        |         SUM(CAST(cost AS DECIMAL(18,6))) AS s
        |       FROM gr JOIN model USING (g) GROUP BY gr.doc_id),
        |scored AS (SELECT doc_id, CAST(n_tri AS BIGINT) AS n_tri,
        |             round(CAST(s AS DOUBLE) / n_tri, 6) AS xent FROM sc),
        |m AS (SELECT round(CAST(SUM(CAST(xent AS DECIMAL(18,6))) AS DOUBLE)
        |               / COUNT(*), 6) AS mu FROM scored)
        |SELECT doc_id, n_tri, xent, xent <= mu AS keep
        |FROM scored CROSS JOIN m ORDER BY doc_id""".stripMargin) { (s, d) =>
      // ONE explode pass: reduce the corpus character stream to
      // (doc, trigram, n) occurrence counts immediately — the model
      // build (sum by g), the alphabet scalar, and the per-doc scoring
      // all consume this reduced relation instead of re-running the
      // scan+explode per branch (the naive two-pass form benched 7.2 s;
      // this is the per-doc-gram analogue of q_tfidf_top's tf reuse).
      // Staged as a parquet ARTIFACT (the dup-graph treatment): each
      // consumer gets a columnar, lineage-free scan — no executor-cache
      // residue, no eviction re-paying the corpus pass at 100 TB.
      val dgc = Artifacts.parquet(s, d, "charlm_dgc") {
        Tables.documents(s, d)
          .select(col("doc_id"),
            explode(TextFunctions.charGrams(col("text"), 3)).as("g"))
          .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("n"))
      }
      // trigram totals: alphabet-bounded (≤|Σ|³, vocab-scale)
      val c3 = dgc.groupBy(col("g")).agg(sum(col("n")).as("c3"))
      val c2 = c3.groupBy(substring(col("g"), 1, 2).as("ctx"))
        .agg(sum(col("c3")).as("c2"))
      val nv = c3.select(substring(col("g"), 3, 1)).distinct().count().toDouble
      val model = c3.join(c2, substring(col("g"), 1, 2) === col("ctx"))
        .select(col("g"),
          round(-log((col("c3").cast("double") + 0.5) /
            (col("c2").cast("double") + lit(0.5) * nv)), 6).as("cost"))
      // model is vocab-scale — un-hinted (AQE broadcasts at bench scale,
      // degrades to a shuffled join only if |Σ|³ outgrows the cap).
      // n × DECIMAL(cost) is exact, so summing per-GRAM weights equals
      // the oracle's per-OCCURRENCE decimal sum bit-for-bit.
      val scored = dgc.join(model, "g")
        .groupBy(col("doc_id"))
        // sums in the order the score reads them: the mean branch's pruned
        // aggregate then equals this one, so both share one exchange
        .agg(sum(col("cost").cast("decimal(18,6)") * col("n")).cast("double").as("s"),
          sum(col("n")).as("n_tri"))
        .select(col("doc_id"), col("n_tri"),
          round(col("s") / col("n_tri"), 6).as("xent"))
      val mu = scored.agg(
        round(Tables.exactSum(col("xent"), 6) / count(lit(1)), 6).as("mu"))
      scored.crossJoin(broadcast(mu))
        .select(col("doc_id"), col("n_tri"), col("xent"),
          (col("xent") <= col("mu")).as("keep"))
        .orderBy(col("doc_id"))
    },

    // ---- Interpolated WORD-bigram LM perplexity — the missing rung of
    // the LM ladder (char-trigram ← HERE → unigram): Jelinek–Mercer
    // interpolation P(w₂|w₁) = λ·c(w₁w₂)/c(w₁·) + (1−λ)·c(w₂)/N with
    // λ = 0.7, trained on the corpus itself, scoring each document by
    // mean bigram cross-entropy with a below-mean keep flag. The
    // interpolation backstops unseen-context mass the way a production
    // KenLM filter does, and word-order structure (scrambled sentences,
    // wrong-language word salad with a plausible unigram profile) is
    // visible here but not to q_lm_quality. Shape at 100 TB: ONE corpus
    // pass reduces to the (doc, bigram, n) artifact — bigrams derive
    // array-side per row (slice + zip_with — never a self-join and never
    // a Window over the token stream); the bigram/context/unigram tables
    // are vocab-scale (c(w₁·) derives from the bigram counts themselves,
    // the unigram side reads the shared lm_dwc artifact so this LM and
    // the unigram LM cannot drift), the model joins stay un-hinted (AQE
    // broadcasts while vocab² fits), and the per-doc score is one
    // map-side-combinable aggregate. Determinism: per-bigram costs round
    // to 6dp, convert EXACTLY to integer micro-nats (×1e6 through
    // DECIMAL), and every later step stays in integer space — the
    // per-doc mean is the half-up integer quotient (2S+n) div (2n), so
    // no POST-MODEL step ever rounds a double at a .5-in-the-7th-digit
    // boundary (round(s/n, 6) diverged between DuckDB's scaled round and
    // the JVM's BigDecimal-of-double on exactly that boundary:
    // 121.774590/36 = 3.38262750). That guarantee is scoped to the
    // integer-quotient arithmetic: the per-TERM round(cost, 6) still
    // rounds a transcendental (ln/log2/pow) double, where the two libms
    // could in principle differ by an ULP at a .5e-6 boundary — the same
    // accepted residual risk as the pagerank/char-trigram rounds (never
    // observed across the tri-SF sweeps). The keep compare divides
    // identical exact integers
    // as doubles (IEEE division of equal inputs is equal — only round()
    // was engine-dependent).
    Q("q_bigram_lm_perplexity",
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |bg AS (SELECT doc_id,
        |         ws[CAST(u.i AS INT)] || ' ' || ws[CAST(u.i AS INT) + 1] AS g
        |       FROM t, unnest(range(1, len(ws))) AS u(i)
        |       WHERE len(ws) >= 2),
        |c12 AS (SELECT g, COUNT(*) AS c12 FROM bg GROUP BY g),
        |c1 AS (SELECT string_split(g, ' ')[1] AS w1, SUM(c12) AS c1
        |       FROM c12 GROUP BY 1),
        |ww AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |uni AS (SELECT word, COUNT(*) AS cu FROM ww WHERE word <> ''
        |        GROUP BY word),
        |nt AS (SELECT CAST(SUM(cu) AS DOUBLE) AS nt FROM uni),
        |model AS (SELECT g,
        |    CAST(CAST(round(-ln(0.7e0 * CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)
        |            + 0.3e0 * CAST(cu AS DOUBLE) / nt), 6) AS DECIMAL(18,6))
        |         * 1000000 AS BIGINT) AS mcost
        |  FROM c12
        |  JOIN c1 ON string_split(g, ' ')[1] = w1
        |  JOIN uni ON string_split(g, ' ')[2] = word
        |  CROSS JOIN nt),
        |sc AS (SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bg,
        |         CAST(SUM(mcost) AS BIGINT) AS smicro
        |       FROM bg JOIN model USING (g) GROUP BY bg.doc_id),
        |scored AS (SELECT doc_id, n_bg,
        |             (2 * smicro + n_bg) // (2 * n_bg) AS xm FROM sc),
        |m AS (SELECT COUNT(*) AS k, CAST(SUM(xm) AS BIGINT) AS txm FROM scored)
        |SELECT doc_id, n_bg, CAST(xm AS DOUBLE) / 1000000.0 AS xent,
        |  CAST(xm AS DOUBLE) <= CAST(txm AS DOUBLE) / k AS keep
        |FROM scored CROSS JOIN m ORDER BY doc_id""".stripMargin) { (s, d) =>
      val scored = bilmDbc(s, d).join(bilmModel(s, d), "g")
        .groupBy(col("doc_id"))
        // sums in the order the score reads them: the mean branch's pruned
        // aggregate then equals this one, so both share one exchange
        .agg(sum(col("mcost") * col("n")).as("smicro"),
          sum(col("n")).as("n_bg"))
        .select(col("doc_id"), col("n_bg"),
          expr("(2 * smicro + n_bg) div (2 * n_bg)").as("xm"))
      val m = scored.agg(count(lit(1)).as("k"), sum(col("xm")).as("txm"))
      scored.crossJoin(broadcast(m))
        .select(col("doc_id"), col("n_bg"),
          (col("xm").cast("double") / 1000000.0).as("xent"),
          (col("xm").cast("double") <=
            col("txm").cast("double") / col("k")).as("keep"))
        .orderBy(col("doc_id"))
    },

    // ---- Kneser–Ney rung of the LM ladder: the same scoring shape as
    // q_bigram_lm_perplexity but under ABSOLUTE-DISCOUNT smoothing with
    // continuation-count backoff (see [[knModel]]) — the smoothing the
    // KenLM-class filters production pipelines run actually use, and a
    // genuinely different ranking than Jelinek–Mercer (backoff mass
    // follows type diversity, not token frequency). Same determinism
    // discipline end-to-end: per-bigram costs round to 6dp and convert
    // EXACTLY to integer micro-nats, per-doc means are half-up integer
    // quotients, the keep flag compares exact integers through IEEE
    // division. Same 100 TB shape: one corpus pass to the shared
    // bilm_dbc artifact, vocab-scale model tables, map-side-combinable
    // per-doc aggregate.
    Q("q_kneser_ney_perplexity",
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |bg AS (SELECT doc_id,
        |         ws[CAST(u.i AS INT)] || ' ' || ws[CAST(u.i AS INT) + 1] AS g
        |       FROM t, unnest(range(1, len(ws))) AS u(i)
        |       WHERE len(ws) >= 2),
        |c12 AS (SELECT g, COUNT(*) AS c12 FROM bg GROUP BY g),
        |ctx AS (SELECT string_split(g, ' ')[1] AS w1, SUM(c12) AS c1,
        |          COUNT(*) AS n1c
        |        FROM c12 GROUP BY 1),
        |lft AS (SELECT string_split(g, ' ')[2] AS w2, COUNT(*) AS n1l
        |        FROM c12 GROUP BY 1),
        |nbt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nbt FROM c12),
        |model AS (SELECT g,
        |    CAST(CAST(round(-ln((CAST(c12 AS DOUBLE) - 0.75e0) / CAST(c1 AS DOUBLE)
        |            + 0.75e0 * CAST(n1c AS DOUBLE) / CAST(c1 AS DOUBLE)
        |              * (CAST(n1l AS DOUBLE) / nbt)), 6) AS DECIMAL(18,6))
        |         * 1000000 AS BIGINT) AS mcost
        |  FROM c12
        |  JOIN ctx ON string_split(g, ' ')[1] = w1
        |  JOIN lft ON string_split(g, ' ')[2] = w2
        |  CROSS JOIN nbt),
        |sc AS (SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bg,
        |         CAST(SUM(mcost) AS BIGINT) AS smicro
        |       FROM bg JOIN model USING (g) GROUP BY bg.doc_id),
        |scored AS (SELECT doc_id, n_bg,
        |             (2 * smicro + n_bg) // (2 * n_bg) AS xm FROM sc),
        |m AS (SELECT COUNT(*) AS k, CAST(SUM(xm) AS BIGINT) AS txm FROM scored)
        |SELECT doc_id, n_bg, CAST(xm AS DOUBLE) / 1000000.0 AS xent,
        |  CAST(xm AS DOUBLE) <= CAST(txm AS DOUBLE) / k AS keep
        |FROM scored CROSS JOIN m ORDER BY doc_id""".stripMargin) { (s, d) =>
      val scored = bilmDbc(s, d).join(knModel(s, d), "g")
        .groupBy(col("doc_id"))
        // sums in the order the score reads them: the mean branch's pruned
        // aggregate then equals this one, so both share one exchange
        .agg(sum(col("mcost") * col("n")).as("smicro"),
          sum(col("n")).as("n_bg"))
        .select(col("doc_id"), col("n_bg"),
          expr("(2 * smicro + n_bg) div (2 * n_bg)").as("xm"))
      val m = scored.agg(count(lit(1)).as("k"), sum(col("xm")).as("txm"))
      scored.crossJoin(broadcast(m))
        .select(col("doc_id"), col("n_bg"),
          (col("xm").cast("double") / 1000000.0).as("xent"),
          (col("xm").cast("double") <=
            col("txm").cast("double") / col("k")).as("keep"))
        .orderBy(col("doc_id"))
    },

    // ---- The bigram LM SERVED AT INGEST — the streaming twin
    // (q_stream_dsir's offline-train / online-score shape): the model
    // trains offline on the stored corpus (the relation above, held for
    // the stream run), each arriving micro-batch derives its own (doc,
    // bigram, n) counts array-side and scores them against the
    // broadcast-joined model, and only the per-doc integer partials
    // (n_bg, smicro — mergeable by construction) ride the idempotent
    // per-batch write. The drain applies the identical half-up quotient
    // and mean-keep rule. Shares the batch oracle verbatim — a stale
    // model, a dropped trigger, or train/serve feature skew (a different
    // tokenization at serve time) hash-mismatches.
    Q("q_stream_bigram_lm",
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |bg AS (SELECT doc_id,
        |         ws[CAST(u.i AS INT)] || ' ' || ws[CAST(u.i AS INT) + 1] AS g
        |       FROM t, unnest(range(1, len(ws))) AS u(i)
        |       WHERE len(ws) >= 2),
        |c12 AS (SELECT g, COUNT(*) AS c12 FROM bg GROUP BY g),
        |c1 AS (SELECT string_split(g, ' ')[1] AS w1, SUM(c12) AS c1
        |       FROM c12 GROUP BY 1),
        |ww AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |uni AS (SELECT word, COUNT(*) AS cu FROM ww WHERE word <> ''
        |        GROUP BY word),
        |nt AS (SELECT CAST(SUM(cu) AS DOUBLE) AS nt FROM uni),
        |model AS (SELECT g,
        |    CAST(CAST(round(-ln(0.7e0 * CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)
        |            + 0.3e0 * CAST(cu AS DOUBLE) / nt), 6) AS DECIMAL(18,6))
        |         * 1000000 AS BIGINT) AS mcost
        |  FROM c12
        |  JOIN c1 ON string_split(g, ' ')[1] = w1
        |  JOIN uni ON string_split(g, ' ')[2] = word
        |  CROSS JOIN nt),
        |sc AS (SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bg,
        |         CAST(SUM(mcost) AS BIGINT) AS smicro
        |       FROM bg JOIN model USING (g) GROUP BY bg.doc_id),
        |scored AS (SELECT doc_id, n_bg,
        |             (2 * smicro + n_bg) // (2 * n_bg) AS xm FROM sc),
        |m AS (SELECT COUNT(*) AS k, CAST(SUM(xm) AS BIGINT) AS txm FROM scored)
        |SELECT doc_id, n_bg, CAST(xm AS DOUBLE) / 1000000.0 AS xent,
        |  CAST(xm AS DOUBLE) <= CAST(txm AS DOUBLE) / k AS keep
        |FROM scored CROSS JOIN m ORDER BY doc_id""".stripMargin) { (s, d) =>
      Artifacts.scoped(bilmModel(s, d)) { model =>
        Staging.ledger(Tables.documents(s, d).select("doc_id", "text"),
            "doc_id", 3) { (batch, id, out) =>
          // model stays UN-hinted: vocab²-bounded but unbounded —
          // AQE broadcasts whichever side fits (per-trigger batches
          // are small, so normally the batch side)
          Staging.writeBatch(
            docBigrams(batch).join(model, "g")
              .groupBy(col("doc_id"))
              .agg(sum(col("n")).as("n_bg"),
                sum(col("mcost") * col("n")).as("smicro")),
            s"$out/scores", id)
        } { out =>
          val scored = Staging.drainParquet(s, s"$out/scores")
            .select(col("doc_id"), col("n_bg"),
              expr("(2 * smicro + n_bg) div (2 * n_bg)").as("xm"))
          val m = scored.agg(count(lit(1)).as("k"), sum(col("xm")).as("txm"))
          scored.crossJoin(broadcast(m))
            .select(col("doc_id"), col("n_bg"),
              (col("xm").cast("double") / 1000000.0).as("xent"),
              (col("xm").cast("double") <=
                col("txm").cast("double") / col("k")).as("keep"))
            .orderBy(col("doc_id"))
        }
      }
    },

    // ---- Per-document character-entropy — the quality signal that
    // catches what token statistics can't: base64/hex blobs and
    // compressed junk score HIGH (near-uniform characters), template
    // spam and repeated-character runs score LOW; standard prose sits in
    // a narrow band. The complement of the LM ladder (which needs a
    // trained model) — entropy is model-free, one pass, and is the
    // cheap first gate a crawl pipeline runs before anything learned.
    // Shape at 100 TB: per-doc entropy is a ROW-LOCAL function, so it
    // computes entirely inside the scan — the native
    // CharEntropyMicroBits kernel builds a code-point histogram in ONE
    // O(n) pass per row and emits exact integer micro-bits, replacing
    // the earlier array_distinct × filter-count HOF chain whose
    // O(distinct · n) work and per-distinct-char allocations cost
    // 14 cpu-s at sf0.1 (the kernel removes the work instead of
    // spreading it; the fixture is one parquet row group, so no split
    // knob could parallelize it away). NOTHING corpus-scale ever
    // shuffles (an earlier formulation shuffled a (doc, char, n)
    // relation — a corpus-wide exchange for a per-row metric). The only
    // exchange left is the single-partition scalar mean. Determinism: per-char terms round
    // to 6dp and convert exactly to integer micro-bits BEFORE the fold
    // (long addition, order-free), and the low-entropy flag compares
    // exact integers through IEEE division. The no-boundary-rounding
    // guarantee is scoped to the INTEGER-QUOTIENT steps (the fold, the
    // mean, the flag — the q_bigram_lm_perplexity discipline); the
    // per-TERM round(-p·log2(p), 6) still rounds a transcendental
    // double, where DuckDB's libm and the JVM could in principle differ
    // by an ULP at a .5e-6 boundary — the same accepted residual risk
    // as the pagerank/char-trigram rounds (never observed tri-SF).
    // The oracle states the equivalent grouped formulation; DECIMAL /
    // integer sums make the two summation orders bit-equal.
    Q("q_char_entropy",
      """WITH gr AS (SELECT doc_id, substr(text, CAST(u.i AS INT), 1) AS c
        |            FROM documents, unnest(range(1, length(text) + 1)) AS u(i)),
        |dcc AS (SELECT doc_id, c, COUNT(*) AS n FROM gr GROUP BY doc_id, c),
        |ntab AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS nt FROM dcc
        |         GROUP BY doc_id),
        |h AS (SELECT dcc.doc_id,
        |        CAST(SUM(CAST(round(-(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)
        |               * log2(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE))), 6)
        |             AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS em,
        |        MAX(nt) AS n_chars
        |      FROM dcc JOIN ntab USING (doc_id) GROUP BY dcc.doc_id),
        |m AS (SELECT COUNT(*) AS k, CAST(SUM(em) AS BIGINT) AS tem FROM h)
        |SELECT doc_id, n_chars, CAST(em AS DOUBLE) / 1000000.0 AS entropy,
        |  CAST(em AS DOUBLE) < CAST(tem AS DOUBLE) / k AS low_entropy
        |FROM h CROSS JOIN m ORDER BY doc_id""".stripMargin) { (s, d) =>
      // the native one-pass kernel (functions/CharEntropy.scala): the
      // per-char terms replicate Spark's own log2/round bit-for-bit, so
      // this is the HOF chain's exact output at O(n) per row. Checkpointed:
      // the subtree is map-only, so there is no exchange for the mean and
      // the flag branches to share, and each would re-run the kernel
      val h = Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.CharEntropyMicroBits(col("text")).as("st"))
        .select(col("doc_id"), col("st.n_chars").as("n_chars"),
          col("st.em").as("em"))
        .filter(col("n_chars") > 0)
        .localCheckpoint()
      val m = h.agg(count(lit(1)).as("k"), sum(col("em")).as("tem"))
      h.crossJoin(broadcast(m))
        .select(col("doc_id"), col("n_chars"),
          (col("em").cast("double") / 1000000.0).as("entropy"),
          (col("em").cast("double") <
            col("tem").cast("double") / col("k")).as("low_entropy"))
        .orderBy(col("doc_id"))
    },

    // ---- Unicode text normalization — the stage that must run before ANY
    // hash-keyed operator: the same visible text arrives composed ('á',
    // U+00E1) and decomposed ('a'+U+0301), padded with zero-width spaces
    // and soft hyphens, and every md5/xxhash in the dedup block would
    // split those into distinct documents. Pipeline: NFC canonical
    // composition (native codegen'd [[NfcNormalize]] — Spark has no NFC
    // builtin and a UDF would break the codegen span), invisible-char
    // strip (ZWSP U+200B, SHY U+00AD), whitespace collapse + trim. The
    // corpus is ASCII, so both engines first inject the SAME deterministic
    // denormalizations (every 'a' decomposes, every space gains a ZWSP) —
    // the oracle states the identical synthesis against DuckDB's own
    // nfc_normalize, so the JDK and DuckDB UAX#15 implementations are
    // hash-checked against each other per document. Map-only, zero
    // exchanges (plan-asserted), embarrassingly parallel at any scale.
    Q("q_text_normalize",
      """WITH r AS (SELECT doc_id,
        |    replace(replace(text, 'a', 'a' || chr(769)), ' ', chr(8203) || ' ') AS raw
        |  FROM documents),
        |n AS (SELECT doc_id, raw,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(raw),
        |      chr(8203) || '|' || chr(173), '', 'g'), '\s+', ' ', 'g')) AS norm
        |  FROM r)
        |SELECT doc_id, CAST(length(raw) AS BIGINT) AS n_chars_raw,
        |  CAST(length(norm) AS BIGINT) AS n_chars_norm,
        |  md5(norm) AS norm_md5
        |FROM n ORDER BY doc_id""".stripMargin) { (s, d) =>
      // NOTE: Spark's chr() is ASCII-mod-256 (chr(769) → \x01), unlike
      // DuckDB's code-point chr — the combining mark and ZWSP must be
      // Scala unicode literals, never chr() calls
      val raw = replace(replace(col("text"), lit("a"), lit("a\u0301")),
        lit(" "), lit("\u200B "))
      val norm = trim(regexp_replace(regexp_replace(
        graft.functions.NfcNormalize(col("raw")),
        "\u200B|\u00AD", ""), "\\s+", " "))
      Tables.documents(s, d)
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          length(col("raw")).cast("long").as("n_chars_raw"),
          length(norm).cast("long").as("n_chars_norm"),
          md5(norm.cast("binary")).as("norm_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- TRAINED quality classifier — the fastText-style step real
    // pretraining pipelines run after the heuristic gates: a linear
    // model over cheap surface features (stopword ratio, mean token
    // length, log doc length), trained by full-batch logistic-regression
    // gradient descent ON THE CLUSTER and applied corpus-wide. The label
    // here is the corpus's own lang=='en' column (the features are
    // English-surface statistics, so the model genuinely learns it —
    // same shape as training against any labeled quality subset). At
    // 100 TB: each of the 3 gradient steps is ONE map-side-combinable
    // aggregate over the feature scan (4 decimal sums — no shuffle
    // carries rows, the reduction is tree-combined); the model is 4
    // driver scalars; scoring is a pure map with literal weights. The
    // oracle unrolls the identical 3 steps in generated SQL
    // (qualityClassifierSql), so the feature derivation, every gradient
    // sum, every weight rounding, and the final sigmoid scores are all
    // hash-checked — a drifted learning rate or a broken rounding turns
    // the gate red, not just a plausible-looking model.
    Q("q_quality_classifier", qualityClassifierSql) { (s, d) =>
      scoreQuality(Tables.documents(s, d), trainQualityWeights(s, d))
        .orderBy(col("doc_id"))
    },

    // ---- INCREMENTAL classifier training — the refresh seam for the
    // trained quality gate (r15 verdict #6): a corpus refresh re-trains
    // the logistic model and re-scores WITHOUT re-deriving historical
    // features from text. State: the historical (doc_id, y, x1, x2, x3)
    // feature table — full-batch GD's sufficient statistic (each
    // gradient step is a mean of per-ROW contributions over the feature
    // table, and per-doc rows over disjoint document sets union to the
    // full table), persisted once as a parquet artifact. This run
    // featurizes ONLY the new batch (eagerly, at one localCheckpoint —
    // it feeds 3 gradient aggregates and the scorer), unions it with
    // the artifact, runs the identical 3 GD steps on the combined
    // table, and scores it with the refreshed weights. Training
    // restarts from w=0 ON PURPOSE: warm-starting from the stored
    // weights is NOT the full derivation (the oracle's 3 steps start at
    // zero on the union), and the steps were never the corpus-scale
    // cost — each is one map-side-combinable aggregate over the
    // doc-scale feature table; the avoided work is the historical
    // text-feature scan. Oracle = qualityClassifierSql verbatim: a
    // stale artifact, dropped batch, or drifted combine shifts a
    // gradient sum — and every downstream score — and hash-mismatches.
    Q("q_incremental_quality_classifier", qualityClassifierSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val isNew = DedupOps.isNewDoc
      val hist = Artifacts.parquet(s, d, "inc_quality_features") {
        qualityFeatures(Tables.spread(docs.filter(!isNew), col("doc_id")))
      }
      val newFeats = qualityFeatures(
        Tables.spread(docs.filter(isNew), col("doc_id"))).localCheckpoint()
      val feats = hist.union(newFeats)
      scoreQualityFeats(feats, trainQualityWeightsOn(feats))
        .orderBy(col("doc_id"))
    },

    // ---- The trained model SERVED AT INGEST — the deployment pattern
    // complementing q_stream_bm25's index-serving: train once on the
    // reference corpus (the identical 3 GD steps), then score every
    // arriving micro-batch with the literal weights — a stateless
    // map-only projection per trigger, no state store, no watermark,
    // unbounded throughput. Shares qualityClassifierSql verbatim: a
    // dropped batch, a double-applied batch, or train/serve skew between
    // the batch and stream scorers hash-mismatches.
    Q("q_stream_quality_classifier", qualityClassifierSql) { (s, d) =>
      val w = trainQualityWeights(s, d)
      Staging.ledger(
          Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang")),
          "doc_id", 3) { (bdf, id, out) =>
        Staging.writeBatch(scoreQuality(bdf, w), s"$out/res", id)
      }(out => Staging.drainParquet(s, s"$out/res", col("doc_id")))
    },

    // ---- Classifier EVALUATION — the metrics row that gates whether a
    // trained filter ships: precision/recall/F1 at the 0.5 operating
    // point plus ROC-AUC. AUC is the Mann-Whitney rank statistic with
    // exact average-rank tie handling, computed over the QUANTIZED-score
    // histogram: scores are 6dp-rounded, so the grouped domain is
    // ≤10⁶+1 rows regardless of corpus size — the confusion counts are
    // one map-side-combinable aggregate over the scan, and the single
    // ordered pass (the cumulative window) runs on the bounded
    // histogram, never on per-document rows. Everything stays integer
    // until the final divisions (DECIMAL(38,0) rank sums), so both
    // engines divide identical numbers.
    Q("q_classifier_eval", classifierEvalSql) { (s, d) =>
      classifierMetrics(scoreQuality(Tables.documents(s, d),
        trainQualityWeights(s, d)))
    },

    // ---- Calibration (reliability) table for the trained quality
    // classifier — the eval-panel row that decides whether the gate's
    // scores can be USED as probabilities (threshold tuning, expected-
    // quality mixing, abstention): 10 fixed-width probability bins,
    // per bin the mean predicted probability vs the observed positive
    // rate and their gap (the summands of expected calibration error).
    // A well-ranked (high AUC) model can still be badly calibrated —
    // this catches it. Shape: one map expression (bin id) + one
    // map-side-combinable aggregate over ≤10 groups; nothing shuffles
    // more than 10×partitions rows at any corpus size. Determinism:
    // p_en is already 6dp (shared scorer), the bin id is integer floor,
    // per-bin means are DECIMAL sums of 6dp values over integer counts,
    // and the gap subtracts two already-6dp-rounded doubles.
    Q("q_classifier_calibration",
      s"""WITH $qualityCtes,
         |b AS (SELECT LEAST(CAST(floor(p_en * 10) AS INT), 9) AS bin,
         |        p_en, label_en FROM sc),
         |g AS (SELECT bin, COUNT(*) AS n, SUM(label_en) AS pos,
         |        SUM(CAST(p_en AS DECIMAL(18,6))) AS sp
         |      FROM b GROUP BY bin)
         |SELECT bin, CAST(n AS BIGINT) AS n,
         |  round(CAST(sp AS DOUBLE) / n, 6) AS mean_p,
         |  round(CAST(pos AS DOUBLE) / n, 6) AS pos_rate,
         |  round(abs(round(CAST(sp AS DOUBLE) / n, 6)
         |    - round(CAST(pos AS DOUBLE) / n, 6)), 6) AS gap
         |FROM g ORDER BY bin""".stripMargin) { (s, d) =>
      calibrationBins(
        scoreQuality(Tables.documents(s, d), trainQualityWeights(s, d)))
    }
  )

  /** Reliability-diagram bins over a `(p_en, label_en)` relation —
    * factored out so the LEAST(floor(p·10), 9) clamp and the boundary
    * behavior at p = 0.0 / p = 1.0 are unit-testable on synthetic scores
    * spanning all 10 bins (EvalSuite); the driver testdata lands every
    * p_en in one bin, so the gate alone would leave the clamp
    * unexercised. */
  private[graft] def calibrationBins(
      sc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    sc.select(least(floor(col("p_en") * 10).cast("int"), lit(9)).as("bin"),
        col("p_en"), col("label_en"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("label_en")).as("pos"),
        sum(col("p_en").cast("decimal(18,6)")).as("sp"))
      .select(col("bin"), col("n"),
        round(col("sp").cast("double") / col("n"), 6).as("mean_p"),
        round(col("pos").cast("double") / col("n"), 6).as("pos_rate"),
        round(abs(round(col("sp").cast("double") / col("n"), 6) -
          round(col("pos").cast("double") / col("n"), 6)), 6).as("gap"))
      .orderBy(col("bin"))

  /** One-row metric panel over a `(p_en, label_en, pred_en)` relation —
    * factored out so the rank-statistic AUC is unit-testable against
    * brute-force pair counting on crafted scores (EvalSuite). */
  private[graft] def classifierMetrics(
      scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val g = scored.groupBy(col("p_en"))
      .agg(count(lit(1)).as("cnt"), sum(col("label_en")).as("pos"))
    // single-partition window, justified: the 6dp-quantized score
    // domain caps the input at ~1e6 rows at ANY corpus size
    val wBelow = Window.orderBy(col("p_en"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // operands cast to decimal BEFORE the multiply: pos·(2·below+cnt+1)
    // ~ 2n² overflows int64 at n ≈ 3e9 docs, and Spark (non-ANSI) would
    // wrap silently while DuckDB raises — the decimal product stays
    // exact to n ≈ 7e18
    val s2 = g
      .withColumn("below", sum(col("cnt")).over(wBelow) - col("cnt"))
      .agg(sum(col("pos").cast("decimal(38,0)") *
        (lit(2) * col("below") + col("cnt") + 1).cast("decimal(38,0)"))
        .as("s2"))
    val m = scored.agg(
      count(lit(1)).as("n"), sum(col("label_en")).as("np"),
      sum(when(col("pred_en") && col("label_en") === 1, 1L).otherwise(0L)).as("tp"),
      sum(when(col("pred_en") && col("label_en") === 0, 1L).otherwise(0L)).as("fp"),
      sum(when(!col("pred_en") && col("label_en") === 1, 1L).otherwise(0L)).as("fn"))
    // zero-denominator operating points (e.g. an all-negative
    // predictor) define the ratio as 0.0 — mirrored in the oracle
    def safeRatio(num: org.apache.spark.sql.Column,
        den: org.apache.spark.sql.Column) =
      when(den === 0, 0.0).otherwise(round(num.cast("double") / den, 6))
    m.crossJoin(s2).select(
      col("n"), col("np").as("n_pos"), col("tp"), col("fp"), col("fn"),
      safeRatio(col("tp"), col("tp") + col("fp")).as("prec"),
      safeRatio(col("tp"), col("tp") + col("fn")).as("rec"),
      safeRatio(lit(2) * col("tp"),
        lit(2) * col("tp") + col("fp") + col("fn")).as("f1"),
      // single-class input (np=0 or np=n) leaves AUC undefined — pin it
      // to 0.0 like the other zero-denominator operating points rather
      // than let Spark emit NaN where DuckDB errors
      when(col("np") === 0 || col("np") === col("n"), 0.0)
        .otherwise(round((col("s2").cast("double") -
            col("np").cast("double") * (col("np").cast("double") + 1)) /
          (lit(2.0) * col("np") * (col("n") - col("np"))), 6)).as("auc"))
  }

  /** Surface features + label for the quality classifier — THE one
    * definition shared by training, batch scoring, and stream serving
    * (feature drift between train and serve is the classic production
    * failure; here it would hash-mismatch the gate). */
  private[graft] def qualityFeatures(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(
      col("doc_id"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
      TextFunctions.stopwordRatio(col("text")).as("x1"),
      (TextFunctions.meanTokenLen(col("text")) / lit(10.0)).as("x2"),
      (log(TextFunctions.tokenCount(col("text")).cast("double")) / lit(10.0))
        .as("x3"))

  /** Engine-agnostic 6dp rounding: floor(x·10⁶ + 0.5)/10⁶ — floor is
    * exact on identical doubles where Spark's decimal-string HALF_UP
    * round() and DuckDB's binary round() disagree at boundary doubles
    * (one flipped weight rounding shifts every downstream score). Any
    * ITERATED scalar pipeline (GD weights, fixpoint ranks) must round
    * this way on both engines; one-shot output rounding can keep
    * round() — a boundary double there flips one cell, not the model. */
  private def r6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)

  private def sigmoidCol(w: Array[Double]): org.apache.spark.sql.Column =
    lit(1.0) / (lit(1.0) + exp(-(lit(w(0)) + lit(w(1)) * col("x1") +
      lit(w(2)) * col("x2") + lit(w(3)) * col("x3"))))

  /** 3 full-batch logistic-GD steps, lr=0.5: per-row contributions round
    * to 6dp and DECIMAL-sum (order-independent); each step's 4 sums
    * collect as ONE driver row (metadata-scale — the model, not the
    * data); weight updates re-round with the same floor formula so the
    * scalars entering the next sigmoid are bit-identical to the oracle's
    * unrolled CTEs (qualityClassifierSql). */
  private def trainQualityWeights(s: org.apache.spark.sql.SparkSession,
      d: String): Array[Double] =
    trainQualityWeightsOn(qualityFeatures(Tables.documents(s, d)))

  /** The 3 GD steps over a GIVEN (doc_id, y, x1, x2, x3) feature table —
    * the seam q_incremental_quality_classifier trains through (its
    * features combine the stored hist artifact with the new batch's).
    * Exact because full-batch GD is a function of the feature TABLE
    * alone, and per-doc feature rows over disjoint document sets union
    * to the full table. */
  private[graft] def trainQualityWeightsOn(
      featsIn: org.apache.spark.sql.DataFrame): Array[Double] = {
    val w = Array(0.0, 0.0, 0.0, 0.0)
    Artifacts.scoped(featsIn) { feats =>
      for (_ <- 1 to 3) {
        val resid = col("y") - sigmoidCol(w)
        val g = feats.agg(
          r6(Tables.exactSum(r6(resid), 6) / count(lit(1))),
          r6(Tables.exactSum(r6(resid * col("x1")), 6) / count(lit(1))),
          r6(Tables.exactSum(r6(resid * col("x2")), 6) / count(lit(1))),
          r6(Tables.exactSum(r6(resid * col("x3")), 6) / count(lit(1))))
          .head()
        for (k <- 0 to 3)
          w(k) = math.floor((w(k) + 0.5 * g.getDouble(k)) * 1000000.0 + 0.5) /
            1000000.0
      }
      w
    }
  }

  /** Scoring: a pure map with the trained literal weights — zero hash
    * exchanges (plan-asserted), identical for the batch gate and the
    * per-micro-batch stream serving. */
  private def scoreQuality(docs: org.apache.spark.sql.DataFrame,
      w: Array[Double]): org.apache.spark.sql.DataFrame =
    scoreQualityFeats(qualityFeatures(docs), w)

  /** Scoring over a PRE-BUILT feature table — shared by [[scoreQuality]]
    * and the incremental refresh path (which must not re-derive hist
    * features from text). */
  private[graft] def scoreQualityFeats(feats: org.apache.spark.sql.DataFrame,
      w: Array[Double]): org.apache.spark.sql.DataFrame =
    feats
      .select(col("doc_id"), col("y").cast("long").as("label_en"),
        r6(sigmoidCol(w)).as("p_en"),
        (sigmoidCol(w) >= 0.5).as("pred_en"))
}
