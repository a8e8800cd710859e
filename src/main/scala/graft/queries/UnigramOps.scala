package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer training + serving — the
  * second tokenizer family next to the BPE block (CurationOps): seed a
  * candidate-piece vocabulary from frequent substrings, hard-EM over
  * Viterbi segmentations (E: best segmentation of every word under the
  * current piece log-probabilities; M: re-estimate counts from piece
  * usage, single-character pieces floored at 1 for coverage), prune to a
  * vocabulary budget, then serve by Viterbi-encoding the corpus.
  *
  * Determinism discipline: piece scores travel as INTEGER MICRO-NATS
  * (round(ln(c/T)·1e6) as i64) so every DP sum is exact integer
  * arithmetic on both engines; segmentation ties break by lexicographic
  * minimum of the space-joined piece string. Segmentation strings of the
  * same word share their character content and differ only in space
  * placement, so prefix order is preserved under any common completion —
  * which is what makes the engine's LOCAL DP tie-break equal the
  * oracle's GLOBAL brute-force choice (the oracle enumerates every
  * segmentation via a recursive CTE and picks max score / min string;
  * the engine runs O(n·maxPiece) Viterbi — a DP bug mismatches).
  *
  * Scale posture: the distinct-word relation is corpus-derived and stays
  * DISTRIBUTED (real corpora have millions of distinct words); only the
  * piece table crosses the driver, and its cardinality is CAPPED before
  * the collect: single-char pieces are always kept (coverage floor,
  * alphabet-bounded) and multi-char seed candidates keep only the
  * top-[[SeedCap]] by corpus frequency — the rank-and-limit runs
  * distributed (TakeOrderedAndProject: bounded per-partition heaps, a
  * SeedCap-row driver merge), so the driver crossing is
  * ≤ |alphabet| + SeedCap on ANY corpus (tokenizer-artifact scale,
  * exactly what SentencePiece ships as a model file; SentencePiece caps
  * its own seed the same way via seed_sentencepiece_size). Each E-step
  * is one broadcast-map pass over the words with one map-side-combined
  * count aggregate back.
  */
object UnigramOps {

  /** Max candidate piece length (seed substrings 1..MaxPiece chars). */
  private[graft] val MaxPiece = 4
  /** Seed-substring CARDINALITY cap: multi-char candidates keep only the
    * top-SeedCap by (corpus frequency DESC, piece ASC) BEFORE the driver
    * collect; single chars are always kept so Viterbi coverage never
    * breaks. Part of the algorithm definition — the oracle ranks inside
    * the same window, so both engines train on the identical seed. */
  private[graft] val SeedCap = 512
  /** Hard-EM rounds. */
  private[graft] val Rounds = 2
  /** Multi-char pieces kept after pruning (single chars always kept). */
  private[graft] val Budget = 24
  /** Loud parity bound: the oracle enumerates all segmentations of a
    * word (2^(n-1) of them) — fine to 16 chars, absurd beyond. */
  private val MaxWord = 16

  // ---------- shared oracle SQL generation (one Scala builder emits the
  // full unrolled EM chain both engines agree on) ----------

  private def lpCte(r: Int, pc: String): String =
    s"""t$r AS (SELECT SUM(c) AS t FROM $pc),
       |lp$r AS (SELECT piece,
       |    CAST(round(ln(CAST(c AS DOUBLE) / t) * 1000000, 0) AS BIGINT) AS lp
       |  FROM $pc, t$r)""".stripMargin

  private def walkCte(r: Int, lp: String): String =
    s"""walk$r(w, f, pos, sc, seg) AS (
       |  SELECT w, f, 0, CAST(0 AS BIGINT), '' FROM ww
       |  UNION ALL
       |  SELECT k.w, k.f, k.pos + len(p.piece), k.sc + p.lp,
       |    CASE WHEN k.seg = '' THEN p.piece ELSE k.seg || ' ' || p.piece END
       |  FROM walk$r k JOIN $lp p
       |    ON p.piece = substr(k.w, k.pos + 1, len(p.piece))
       |   AND k.pos + len(p.piece) <= len(k.w)),
       |best$r AS (
       |  SELECT w, f, seg FROM walk$r WHERE pos = len(w)
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY w ORDER BY sc DESC, seg) = 1)""".stripMargin

  private def countsCte(r: Int): String =
    s"""use$r AS (SELECT piece, SUM(f) AS c
       |  FROM (SELECT unnest(string_split(seg, ' ')) AS piece, f FROM best$r)
       |  GROUP BY piece),
       |pc$r AS (
       |  SELECT piece, c FROM use$r WHERE len(piece) > 1
       |  UNION ALL
       |  SELECT ch.piece, GREATEST(COALESCE(u.c, 0), 1) AS c
       |  FROM chars ch LEFT JOIN use$r u ON u.piece = ch.piece)""".stripMargin

  private val baseCtes: String =
    s"""ww AS (
       |  SELECT w, COUNT(*) AS f
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |pc0a AS (
       |  SELECT piece, SUM(f) AS c FROM (
       |    SELECT substr(w, CAST(st AS INT), CAST(L AS INT)) AS piece, f
       |    FROM ww, unnest(range(1, ${MaxPiece + 1})) AS ul(L),
       |         unnest(range(1, len(w) - L + 2)) AS us(st)
       |    WHERE len(w) >= L)
       |  GROUP BY piece),
       |pc0 AS (
       |  SELECT piece, c FROM pc0a WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, c FROM (
       |    SELECT piece, c, ROW_NUMBER() OVER (ORDER BY c DESC, piece) AS rk
       |    FROM pc0a WHERE len(piece) > 1) WHERE rk <= $SeedCap),
       |chars AS (SELECT DISTINCT piece FROM pc0 WHERE len(piece) = 1)""".stripMargin

  /** Shared CTE chain through training: seed → EM rounds → kept vocab. */
  private lazy val trainedCtes: String = {
    val rounds = (1 to Rounds).map { r =>
      walkCte(r, s"lp${r - 1}") + ",\n" + countsCte(r) +
        (if (r < Rounds) ",\n" + lpCte(r, s"pc$r") else "")
    }.mkString(",\n")
    s"""$baseCtes,
       |${lpCte(0, "pc0")},
       |$rounds,
       |kept AS (
       |  SELECT piece, c FROM pc$Rounds WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, c FROM (
       |    SELECT piece, c, ROW_NUMBER() OVER (ORDER BY c DESC, piece) AS rk
       |    FROM pc$Rounds WHERE len(piece) > 1) WHERE rk <= $Budget),
       |tf AS (SELECT SUM(c) AS t FROM kept)""".stripMargin
  }

  private lazy val tokenizerSql: String =
    s"""WITH RECURSIVE $trainedCtes
       |SELECT piece, CAST(c AS BIGINT) AS cnt,
       |  round(ln(CAST(c AS DOUBLE) / t), 6) AS logp
       |FROM kept, tf ORDER BY cnt DESC, piece""".stripMargin

  private lazy val encodeSql: String =
    s"""WITH RECURSIVE $trainedCtes,
       |lpf AS (SELECT piece,
       |    CAST(round(ln(CAST(c AS DOUBLE) / t) * 1000000, 0) AS BIGINT) AS lp
       |  FROM kept, tf),
       |${walkCte(Rounds + 1, "lpf")}
       |SELECT w AS word, CAST(f AS BIGINT) AS freq, seg AS pieces,
       |  CAST(len(string_split(seg, ' ')) AS BIGINT) AS n_pieces
       |FROM best${Rounds + 1} ORDER BY word""".stripMargin

  // ---------- engine ----------

  /** Distinct corpus words with frequency, spread across cores. */
  private def wordRel(s: SparkSession, d: String): DataFrame =
    wordRelOf(Tables.spread(Tables.documents(s, d), col("doc_id")))

  /** (w, f) word-frequency table of a documents relation — the unigram
    * trainer's SUFFICIENT STATISTIC (seed substring counts are f-weighted
    * sums over distinct words; the EM passes and the prune read nothing
    * else), which is what makes the q_incremental_unigram_tokenizer
    * refresh exact: f is additive over disjoint document sets. */
  private[graft] def wordRelOf(docs: DataFrame): DataFrame =
    docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("f"))

  /** The refresh-combined (w, f) table behind
    * q_incremental_unigram_tokenizer: stored historical word-frequency
    * artifact + the new batch's counts, summed on the word key (the
    * incTokWordFreq pattern — separate artifact because the unigram
    * tokenize drops empty words). Exposed for PlanSuite: one artifact
    * scan, exactly one documents scan (the new batch's). */
  private[graft] def incUnigramWords(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isNew = DedupOps.isNewDoc
    val hist = Artifacts.parquet(s, d, "inc_unigram_wordfreq") {
      wordRelOf(Tables.spread(docs.filter(!isNew), col("doc_id")))
    }
    hist.union(wordRelOf(Tables.spread(docs.filter(isNew), col("doc_id"))))
      .groupBy(col("w")).agg(sum(col("f")).as("f"))
  }

  /** Integer micro-nat log-probabilities from a (piece, c) count map:
    * round(ln(c/T)·1e6). */
  private def microNats(counts: Map[String, Long]): Map[String, Long] = {
    val t = counts.valuesIterator.sum.toDouble
    counts.map { case (p, c) => p -> math.round(math.log(c / t) * 1e6) }
  }

  /** Viterbi-best segmentation of `word` under micro-nat scores `lp`,
    * ties by lexicographically smallest space-joined piece string (the
    * oracle's global brute-force rule — see object doc for why the
    * local tie-break composes). Every single char is in `lp`, so the DP
    * always completes. */
  private[graft] def viterbi(word: String, lp: Map[String, Long],
      maxPiece: Int = MaxPiece): String = {
    val n = word.length
    require(n <= MaxWord,
      s"unigram tokenizer parity bound: word of length $n exceeds $MaxWord " +
        "(the oracle enumerates 2^(n-1) segmentations)")
    val sc = Array.fill(n + 1)(Long.MinValue)
    val seg = new Array[String](n + 1)
    sc(0) = 0L; seg(0) = ""
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxPiece)
      while (j < i) {
        if (sc(j) != Long.MinValue) {
          val q = word.substring(j, i)
          lp.get(q) match {
            case Some(w) =>
              val cand = sc(j) + w
              val cseg = if (seg(j).isEmpty) q else seg(j) + " " + q
              if (cand > sc(i) || (cand == sc(i) && cseg < seg(i))) {
                sc(i) = cand; seg(i) = cseg
              }
            case None => ()
          }
        }
        j += 1
      }
      i += 1
    }
    seg(n)
  }

  /** One E-step: Viterbi-segment every distinct word under `lp` (one
    * broadcast-map pass — the words relation never leaves the cluster). */
  private def segment(words: DataFrame, lp: Map[String, Long],
      maxPiece: Int = MaxPiece): DataFrame = {
    val s = words.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(lp)
    words.select(col("w"), col("f")).as[(String, Long)]
      .mapPartitions { it =>
        val m = bc.value
        it.map { case (w, f) => (w, f, viterbi(w, m, maxPiece)) }
      }
      .toDF("w", "f", "seg")
  }

  /** Piece usage counts from a segmented relation, with the single-char
    * floor applied against `chars`. */
  private def emCounts(segd: DataFrame, chars: Set[String]): Map[String, Long] = {
    // piece table collect — tokenizer-artifact scale by construction:
    // ≤ (chars + Budget + still-alive seed pieces), never corpus rows
    val used = segd
      .select(explode(split(col("seg"), " ")).as("piece"), col("f"))
      .groupBy(col("piece")).agg(sum(col("f")).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val multi = used.filter { case (p, c) => p.length > 1 && c > 0 }
    val singles = chars.map(ch => ch -> math.max(used.getOrElse(ch, 0L), 1L))
    multi ++ singles
  }

  /** Capped seed piece counts from a (w, f) word relation: single-char
    * pieces all kept; multi-char candidates top-`seedCap` by
    * (c DESC, piece ASC). Both limits run DISTRIBUTED (the cap is a
    * TakeOrderedAndProject — bounded heaps, never a full sort or an
    * uncapped collect), so the returned map is ≤ |alphabet| + seedCap
    * entries on any corpus. UnigramSuite asserts the bound binds on a
    * corpus whose raw candidate set exceeds it. */
  private[graft] def seedCounts(words: DataFrame,
      maxPiece: Int = MaxPiece, seedCap: Int = SeedCap): Map[String, Long] = {
    // two actions (singles collect + capped multis) — scoped so the
    // substring explosion and its aggregate run once, not twice
    Artifacts.scoped(words
      .select(col("w"), col("f"),
        explode(sequence(lit(1), lit(maxPiece))).as("L"))
      .filter(length(col("w")) >= col("L"))
      .select(col("w"), col("f"), col("L"),
        explode(sequence(lit(1), length(col("w")) - col("L") + 1)).as("st"))
      .select(expr("substring(w, st, L)").as("piece"), col("f"))
      .groupBy(col("piece")).agg(sum(col("f")).as("c"))) { pieceCounts =>
      val singles = pieceCounts.filter(length(col("piece")) === 1)
        .collect().map(r => r.getString(0) -> r.getLong(1))
      val multis = pieceCounts.filter(length(col("piece")) > 1)
        .orderBy(col("c").desc, col("piece")).limit(seedCap)
        .collect().map(r => r.getString(0) -> r.getLong(1))
      (singles ++ multis).toMap
    }
  }

  /** Training loop at arbitrary dials — the gate queries run it at the
    * demonstration constants (via [[train]], which the generated oracle
    * SQL mirrors); TokenizerScaleMain runs it at production constants
    * (MaxPiece 8, multi-kB budget, 10⁶ seed cap) to prove the loop
    * structure beyond the demo dials. Returns the kept piece counts. */
  private[graft] def trainWith(s: SparkSession, d: String, maxPiece: Int,
      rounds: Int, budget: Int, seedCap: Int): Seq[(String, Long)] =
    trainWithWords(wordRel(s, d), maxPiece, rounds, budget, seedCap)

  /** [[trainWith]] over a PRE-BUILT (w, f) table — the seam
    * q_incremental_unigram_tokenizer trains through. */
  private[graft] def trainWithWords(wordsIn: DataFrame, maxPiece: Int,
      rounds: Int, budget: Int, seedCap: Int): Seq[(String, Long)] =
    Artifacts.scoped(wordsIn) { words =>
      words.count() // materialized once; every EM pass re-reads the cache
      // seed: frequency-weighted substring occurrences, 1..maxPiece chars,
      // multi-char cardinality capped at seedCap before the driver collect
      val seed = seedCounts(words, maxPiece, seedCap)
      val chars = seed.keySet.filter(_.length == 1)
      var counts = seed
      (1 to rounds).foreach { _ =>
        counts = emCounts(segment(words, microNats(counts), maxPiece), chars)
      }
      // prune: all single chars + top-budget multi-char by (c DESC, piece)
      val keptMulti = counts.toSeq.filter(_._1.length > 1)
        .sortBy { case (p, c) => (-c, p) }.take(budget)
      counts.toSeq.filter(_._1.length == 1) ++ keptMulti
    }

  /** Full training run at the gate constants: the kept piece counts. */
  private def train(s: SparkSession, d: String): Seq[(String, Long)] =
    trainWith(s, d, MaxPiece, Rounds, Budget, SeedCap)

  private def roundLogp(c: Long, t: Long): Double =
    BigDecimal(math.log(c.toDouble / t))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  val all: Seq[Q] = Seq(

    // ---- The trained tokenizer artifact: kept pieces with final counts
    // and log-probabilities — what SentencePiece writes as the model
    // file. The oracle replays the ENTIRE chain (seed substring counts,
    // both hard-EM rounds with brute-force-enumerated best
    // segmentations, the char floor, the prune, the final logp) in
    // generated SQL, so a wrong DP, tie-break, floor, or prune rank all
    // hash-mismatch.
    Q("q_unigram_tokenizer", tokenizerSql) { (s, d) =>
      import s.implicits._
      val kept = train(s, d)
      val t = kept.map(_._2).sum
      kept.map { case (p, c) => (p, c, roundLogp(c, t)) }
        .toDF("piece", "cnt", "logp")
        .orderBy(col("cnt").desc, col("piece"))
    },

    // ---- INCREMENTAL unigram training — the third tokenizer family on
    // the refresh seam (q_incremental_bpe_merges / _wordpiece_merges
    // pattern): the unigram trainer's sufficient statistic is its own
    // (w, f) word-frequency table (the seed substring counts, every
    // hard-EM pass, and the prune read nothing else), so a stored
    // historical word-frequency artifact + the new batch's counts
    // retrain EXACTLY the full-corpus model with zero historical
    // tokenize. Training re-runs from the seed on purpose (EM winners
    // and prune ranks can flip under new counts); the oracle is
    // q_unigram_tokenizer's full derivation verbatim, so a stale
    // artifact or drifted combine hash-mismatches.
    Q("q_incremental_unigram_tokenizer", tokenizerSql) { (s, d) =>
      import s.implicits._
      val kept = trainWithWords(incUnigramWords(s, d),
        MaxPiece, Rounds, Budget, SeedCap)
      val t = kept.map(_._2).sum
      kept.map { case (p, c) => (p, c, roundLogp(c, t)) }
        .toDF("piece", "cnt", "logp")
        .orderBy(col("cnt").desc, col("piece"))
    },

    // ---- Per-language fertility/compression under the trained unigram
    // vocabulary — the tokenizer-selection diagnostic (pairs with
    // q_bpe_fertility so the two families are comparable on identical
    // metrics): pieces-per-word and pieces-per-character by language.
    // The encode table is distinct-word scale and BROADCASTS onto the
    // exploded corpus scan; sums are integer-exact.
    Q("q_unigram_fertility",
      s"""WITH RECURSIVE $trainedCtes,
         |lpf AS (SELECT piece,
         |    CAST(round(ln(CAST(c AS DOUBLE) / t) * 1000000, 0) AS BIGINT) AS lp
         |  FROM kept, tf),
         |${walkCte(Rounds + 1, "lpf")},
         |e AS (SELECT w, len(string_split(seg, ' ')) AS np FROM best${Rounds + 1})
         |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(np) AS BIGINT) AS n_pieces,
         |  round(CAST(SUM(np) AS DOUBLE) / COUNT(*), 6) AS fertility,
         |  round(CAST(SUM(np) AS DOUBLE) / SUM(len(d.w)), 6) AS compression
         |FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
         |      FROM documents) d
         |JOIN e ON d.w = e.w
         |WHERE d.w <> ''
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin) { (s, d) =>
      val enc = segment(wordRel(s, d), microNats(train(s, d).toMap))
        .select(col("w").as("tw"), size(split(col("seg"), " ")).as("np"))
      Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .join(broadcast(enc), col("w") === col("tw"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"),
          sum(length(col("w"))).as("n_chars"))
        .select(col("lang"), col("n_words"), col("n_pieces"),
          round(col("n_pieces").cast("double") / col("n_words"), 6).as("fertility"),
          round(col("n_pieces").cast("double") / col("n_chars"), 6).as("compression"))
        .orderBy(col("lang"))
    },

    // ---- Unigram encode AT INGEST — the q_stream_bpe_encode twin for
    // this family: the vocabulary is trained offline, the distinct-word
    // encode table broadcasts, and arriving documents are encoded per
    // micro-batch (explode tokens → broadcast join → per-doc sums
    // through the idempotent per-batch write). Shares the per-doc batch
    // oracle: a dropped trigger or a stale vocabulary hash-mismatches.
    Q("q_stream_unigram_encode",
      s"""WITH RECURSIVE $trainedCtes,
         |lpf AS (SELECT piece,
         |    CAST(round(ln(CAST(c AS DOUBLE) / t) * 1000000, 0) AS BIGINT) AS lp
         |  FROM kept, tf),
         |${walkCte(Rounds + 1, "lpf")},
         |e AS (SELECT w, len(string_split(seg, ' ')) AS np FROM best${Rounds + 1})
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(np) AS BIGINT) AS n_pieces
         |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |      FROM documents) d
         |JOIN e ON d.w = e.w
         |WHERE d.w <> ''
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      Artifacts.scoped(segment(wordRel(s, d), microNats(train(s, d).toMap))
          .select(col("w").as("tw"), size(split(col("seg"), " ")).as("np"))) { enc =>
        enc.count() // materialize once; each trigger broadcasts the table
        Staging.ledger(Tables.documents(s, d).select(col("doc_id"), col("text")),
            "doc_id", 2) { (bdf, id, out) =>
          Staging.writeBatch(bdf
            .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
            .filter(col("w") =!= "")
            .join(broadcast(enc), col("w") === col("tw"))
            .groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces")),
            s"$out/res", id)
        }(out => Staging.drainParquet(s, s"$out/res", col("doc_id")))
      }
    },

    // ---- Tokenizer SERVING: Viterbi-encode every distinct corpus word
    // under the pruned vocabulary (the production shape: encode the
    // distinct-word table once, then stream corpus tokens through the
    // precomputed table — the q_bpe_encode discipline). Distributed
    // broadcast-map pass; the oracle re-enumerates every segmentation
    // of every word against the same final vocabulary.
    Q("q_unigram_encode", encodeSql) { (s, d) =>
      segment(wordRel(s, d), microNats(train(s, d).toMap))
        .select(col("w").as("word"), col("f").as("freq"),
          col("seg").as("pieces"),
          size(split(col("seg"), " ")).cast("long").as("n_pieces"))
        .orderBy(col("word"))
    }
  )
}
