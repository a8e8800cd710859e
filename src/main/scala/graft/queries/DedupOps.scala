package graft.queries

import graft.{Q, Tables}
import graft.functions.{MinHash, SimHash, TextFunctions}
import graft.ops.ConnectedComponents
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents`: exact (hash-groupBy), n-gram
  * Jaccard (exact near-dup), MinHash+LSH and SimHash (approximate near-dup
  * — the 100 TB scale paths whose candidate generation is an equi-join on
  * band keys, never a cross join).
  */
object DedupOps {


  /** THE new-batch membership predicate of every incremental-dedup seam
    * in this file — one definition on purpose: the exactness of
    * mergeIncrementalLabels (and the untouched/touched manifest split in
    * q_incremental_dedup_keep) rides on the stored-label domain (min
    * doc_ids of HISTORICAL components) being disjoint from the new-batch
    * id domain. With a single predicate that disjointness holds BY
    * CONSTRUCTION for any predicate — labels are hist doc_ids, hist =
    * ¬isNewDoc, new = isNewDoc, doc_ids unique — so the only way to
    * corrupt a merge is two call sites drifting apart. Keep every
    * engine-side split reading this val (the oracle SQL literals must
    * track it; IncrementalCcSuite pins the disjointness at sf0.001).
    * (ADVICE r15 #2.)
    *
    * The modulus lives in ONE constant interpolated into BOTH the Column
    * predicate and every incremental oracle's SQL fragment (ADVICE r16
    * #2): an edit here moves engine and oracle together, instead of
    * desyncing them until the gate's hash-compare catches it. */
  private[graft] val NewDocModulus = 8
  /** Engine-side new-batch predicate for an arbitrary id column (the
    * media/vector seams batch on media_id/vec_id). */
  private[graft] def isNewId(idCol: String) = col(idCol) % NewDocModulus === 0
  /** SQL twin of [[isNewId]] for oracle strings; `not = true` is the
    * historical-side complement. */
  private[graft] def newIdSql(idCol: String, not: Boolean = false): String =
    s"$idCol % $NewDocModulus ${if (not) "<>" else "="} 0"
  private[graft] def isNewDoc = isNewId("doc_id")

  /** Distinct (doc_id, shingle-hash) relation — it feeds self-joins and
    * per-doc counts multiple times per query; every consumer shares the
    * distinct's one exchange (ReusedExchange), so the explode runs once
    * per query without a cache. The shingle travels as its xxhash64 —
    * every downstream shuffle (the distinct, the per-shingle groups, the
    * candidate verify) moves 8-byte keys instead of ~80-char strings, a
    * ~10× shuffle-payload cut that matters more with every scale-up. Distinct
    * hashes = distinct shingles modulo 64-bit collisions (≈n²/2⁶⁵ —
    * deterministic per corpus, and the DuckDB oracle counts raw strings,
    * so a colliding corpus would turn the gate red rather than silently
    * drift). Single-row-group test file → the shingle explode would run
    * on one core; the keyed repartition spreads it (no-op at real
    * multi-file scale). */
  private def shingleRel(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"),
        explode(TextFunctions.shingleHashes(col("text"), 3)).as("s"))
      .distinct()

  /** Exact Jaccard over a GIVEN candidate pair set: two equi-joins against
    * the shingle relation count the shared distinct shingles per pair,
    * then the per-doc totals join in. This is the "verify exactly on
    * candidates only" half of every LSH dedup — generation bounds the
    * pair count, verification restores exactness.
    *
    * The candidate relation is deliberately UN-hinted: its size is
    * data-dependent (on a 30-50%-near-duplicate web corpus the verified
    * pair set grows linearly with the corpus — billions of rows at
    * 100 TB), so a forced broadcast() would bypass AQE's size check and
    * OOM the driver. The SHINGLE sides carry a `shuffle_hash` hint: past
    * the broadcast threshold the default fallback is a sort-merge join,
    * which SORTS the expanded candidate×shingle relation — the r17
    * scale ladder measured that transition at ~5× the join cost at ×10
    * rows (54.7 s → 11.4 s for the same 261 M-row verify when hinted),
    * while at bench scale the hint is neutral (hash either way; a
    * per-partition hash build of the shingle relation replaces the
    * broadcast, same cost at 2.8 vs 3.4 s). The trade is explicit: SHJ's
    * hash BUILD cannot spill (only the probe side streams), so the hint
    * gives up the spill-safe sort-merge fallback in exchange for never
    * sorting the expanded probe. That is safe here ONLY because the
    * build side is the per-doc distinct-shingle relation — bounded per
    * partition when `spark.sql.shuffle.partitions` scales with corpus
    * size (the production discipline; SCALE.md §3). Never hint a
    * pair-scale relation this way: both sides unbounded ⇒ use merge
    * (the measured ×30 winnow lesson, commit 27454cb). */
  private def exactJaccard(sh: DataFrame, cands: DataFrame): DataFrame = {
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = sh.select(col("doc_id").as("doc_a"), col("s")).hint("shuffle_hash")
    val b = sh.select(col("doc_id").as("doc_b"), col("s")).hint("shuffle_hash")
    val shared = cands.join(a, "doc_a").join(b, Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("shared"))
    val jac = col("shared").cast("double") /
      (col("n_a") + col("n_b") - col("shared"))
    // counts is one row per DOC — fact-scale, not a dimension. Un-hinted
    // (q2 pattern): AQE broadcasts it at bench scale, degrades to a
    // shuffled join when the per-doc table outgrows the broadcast cap.
    shared
      .join(counts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "n_a"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "n_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("shared"), col("n_a"), col("n_b"),
        jac.as("jaccard"))
  }

  /** Candidate pairs for the edit-distance dedup: prefix blocks on
    * `(lang, blk)` df-gated to `[2, maxBlock]` BEFORE the pair expansion
    * (the gate join runs on the block key, so a hot block is dropped as
    * one grouped row, never expanded), then the within-block self-join
    * with the `|len_a − len_b| ≤ lenBand` prefilter. Worst-case pairs
    * per block: C(maxBlock, 2) — bounded regardless of input skew
    * (DedupSkewSuite feeds thousands of docs sharing one boilerplate
    * prefix and asserts zero candidates from that block). Expects
    * columns (doc_id, lang, blk, len, text). */
  private[graft] def editBlockCandidates(
      docs: DataFrame, maxBlock: Int, lenBand: Int): DataFrame = {
    val gated = docs.groupBy(col("lang"), col("blk"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxBlock))
      .select(col("lang"), col("blk"))
    val blocked = docs.join(gated, Seq("lang", "blk"), "left_semi")
    val a = blocked.select(col("lang"), col("blk"), col("doc_id").as("doc_a"),
      col("len").as("len_a"), col("text").as("text_a"))
    val b = blocked.select(col("lang"), col("blk"), col("doc_id").as("doc_b"),
      col("len").as("len_b"), col("text").as("text_b"))
    a.join(b, Seq("lang", "blk"))
      .filter(col("doc_a") < col("doc_b") &&
        abs(col("len_a") - col("len_b")) <= lenBand)
  }

  /** Candidate pairs for INCREMENTAL dedup: a new batch's band rows
    * joined against the STORED historical band index (new-vs-old) plus
    * the batch's own band collisions (new-vs-new). Old-vs-old pairs are
    * never generated — that is the entire point: the historical side
    * contributes only an equi-join probe against a precomputed
    * (band, band_key, doc_id) relation, no historical re-shingling or
    * re-signing. Both inputs are `(doc_id, band, band_key)`. */
  private[graft] def incrementalCandidatePairs(
      histBands: DataFrame, newBands: DataFrame): DataFrame = {
    val h = histBands.select(col("band"), col("band_key"), col("doc_id").as("doc_h"))
    val n = newBands.select(col("band"), col("band_key"), col("doc_id").as("doc_n"))
    val newOld = n.join(h, Seq("band", "band_key"))
      .select(least(col("doc_n"), col("doc_h")).as("doc_a"),
        greatest(col("doc_n"), col("doc_h")).as("doc_b"))
      .distinct()
    newOld.union(MinHash.candidates(newBands, "doc_id")).distinct()
  }

  /** MinHash signatures over hashed shingles → LSH band rows — the
    * signature-index schema the incremental dedup stores per snapshot
    * (64 hashes, 16 bands: the q_minhash_lsh recall regime). */
  private[graft] def bandIndex(docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("doc_id"),
        explode(TextFunctions.shingleHashes(col("text"), 3)).as("s"))
      .distinct()
    val sig = sh.groupBy(col("doc_id"))
      .agg(graft.functions.MinHashSignature.minhashSig(col("s"), 64).as("sig"))
    MinHash.bands(sig, "doc_id", numBands = 16, numHashes = 64)
  }

  /** The incremental-dedup pair derivation (shape notes on
    * q_incremental_dedup below): stored band-index probe + batch
    * self-collisions, exact verify on candidate docs only. Shared by
    * q_incremental_dedup (pair listing) and
    * q_incremental_dedup_clusters (label maintenance). */
  private def incrementalVerifiedPairs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isNew = isNewDoc
    val histBands = Artifacts.parquet(s, d, "inc_band_index") {
      bandIndex(Tables.spread(docs.filter(!isNew), col("doc_id")))
    }
    refreshVerifiedPairs(histBands, docs.filter(isNew), docs)
  }

  /** The refresh-pair kernel with EXPLICIT state: stored band index +
    * this batch's docs → verified ≥0.8 pairs touching the batch.
    * `corpus` is where candidate payloads re-shingle from (the ingested
    * store — only candidate docs are touched, left_semi). Factored so
    * the multi-batch lifecycle (SnapshotLifecycleSuite) drives the SAME
    * code the single-refresh query runs. */
  private[graft] def refreshVerifiedPairs(histBands: DataFrame,
      newBatch: DataFrame, corpus: DataFrame): DataFrame = {
    // the new batch's bands feed two consumers (the stored-index probe
    // and the batch self-collision join): checkpoint so the batch is
    // signed ONCE — batch-scale, the same eager-materialize pattern as
    // deriveVerifiedPairs
    val newBands = bandIndex(Tables.spread(newBatch, col("doc_id")))
      .localCheckpoint()
    val cands = incrementalCandidatePairs(histBands, newBands)
    val candDocs = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id"))).distinct()
    val sh = corpus.join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        explode(TextFunctions.shingleHashes(col("text"), 3)).as("s"))
      .distinct()
    exactJaccard(sh, cands).filter(col("jaccard") >= 0.8)
  }

  /** The label-merge step of incremental clustering, factored for
    * crafted-graph tests (IncrementalCcSuite): stored `(node, component)`
    * labels + a new batch's verified pairs + the new doc ids → the full
    * updated label table. Exactness rides on min-labeling being
    * associative over graph unions: each pair end maps to its GROUP id
    * (stored label for historical ends — a left join miss means the end
    * is new — own id for new ends), components run on the
    * metadata-scale group graph, and only touched components relabel
    * (broadcast join; untouched rows coalesce to themselves). */
  private[graft] def mergeIncrementalLabels(histLabels: DataFrame,
      newPairs: DataFrame, newDocs: DataFrame): DataFrame = {
    val mini = miniComponents(histLabels, newPairs, newDocs)
    val relabeledHist = histLabels
      .join(broadcast(mini.withColumnRenamed("grp", "component")),
        Seq("component"), "left_outer")
      .select(col("node").as("doc_id"),
        coalesce(col("merged"), col("component")).as("cluster"))
    val newLabels = newDocs
      .join(broadcast(mini.withColumnRenamed("grp", "node")), Seq("node"), "left_outer")
      .select(col("node").as("doc_id"),
        coalesce(col("merged"), col("node")).as("cluster"))
    relabeledHist.union(newLabels)
  }

  /** The mini component graph of an incremental refresh: each new-pair
    * end maps to its GROUP id (stored label for historical ends — a
    * left-join miss means the end is new — own id for new ends), and
    * connected components run on that metadata-scale graph alone.
    * Returns `(grp, merged)`, checkpointed (consumers re-embed it
    * otherwise): min over group ids IS the min doc_id of the merged
    * component, since stored labels are their components' min ids and
    * new ids enter the min directly. Every group in this relation is a
    * TOUCHED group — plus all new docs, so isolated new docs label
    * themselves. */
  private[graft] def miniComponents(histLabels: DataFrame,
      newPairs: DataFrame, newDocs: DataFrame): DataFrame = {
    val la = histLabels.select(col("node").as("doc_a"), col("component").as("ga"))
    val lb = histLabels.select(col("node").as("doc_b"), col("component").as("gb"))
    val e = newPairs
      .join(la, Seq("doc_a"), "left_outer")
      .join(lb, Seq("doc_b"), "left_outer")
      .select(coalesce(col("ga"), col("doc_a")).as("a"),
        coalesce(col("gb"), col("doc_b")).as("b"))
    val miniNodes = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .union(newDocs.select(col("node")))
      .distinct()
    ConnectedComponents.components(e, miniNodes)
      .select(col("node").as("grp"), col("component").as("merged"))
      .localCheckpoint()
  }

  /** The stored historical label table (the inc_cc_labels artifact):
    * CC over the historical corpus's own verified pairs — on a real
    * refresh it was written by the previous snapshot's clustering run.
    * Shared by q_incremental_dedup_clusters and q_incremental_dedup_keep. */
  private[graft] def histCcLabels(s: SparkSession, d: String): DataFrame =
    Artifacts.parquet(s, d, "inc_cc_labels") {
      val docs = Tables.documents(s, d)
      val hd = Tables.spread(docs.filter(!isNewDoc), col("doc_id"))
      val sh = hd.select(col("doc_id"),
          explode(TextFunctions.shingleHashes(col("text"), 3)).as("s"))
        .distinct()
      val sig = sh.groupBy(col("doc_id"))
        .agg(graft.functions.MinHashSignature.minhashSig(col("s"), 64).as("sig"))
      val cands = MinHash.candidates(
        MinHash.bands(sig, "doc_id", numBands = 16, numHashes = 64), "doc_id")
      val pairs = exactJaccard(sh, cands).filter(col("jaccard") >= 0.8)
      ConnectedComponents.components(
        pairs.select(col("doc_a").as("a"), col("doc_b").as("b")),
        hd.select(col("doc_id").as("node")))
    }

  /** Exact n-gram Jaccard near-dup pairs ≥ 0.8 — the edge set shared by
    * q_ngram_jaccard (pair listing) and q_dedup_clusters (grouping).
    * Shape notes live on q_ngram_jaccard below. */
  private def ngramJaccardPairs(s: SparkSession, d: String): DataFrame = {
    // checkpointed: the per-doc counts and the pair emission each finish
    // the distinct over the shared exchange otherwise
    val sh = shingleRel(s, d).localCheckpoint()
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // pair generation per shingle GROUP, not a self-join: one shuffle on
    // the shingle key, each group emits its ordered doc pairs in place
    // (array combinatorics inside the task), then the pair counts
    // aggregate map-side. The earlier broadcast self-join shipped the
    // whole shingle set to every task per run. (Exact pairwise Jaccard
    // is inherently quadratic in hot shingles — the 100 TB path is
    // q_minhash_lsh below; this operator is the exact verifier run on
    // candidate subsets.)
    val pairs = sh.groupBy(col("s"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(graft.functions.OrderedPairs(col("ds"))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    val jac = col("shared").cast("double") /
      (col("n_a") + col("n_b") - col("shared"))
    // per-doc counts un-hinted for the same reason as exactJaccard's
    pairs
      .join(counts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "n_a"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "n_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("shared"), col("n_a"), col("n_b"),
        jac.as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** MinHash-LSH candidates + exact-Jaccard verify — the 100 TB form of
    * the ≥0.8 near-dup pair set. 64 hashes, 16 bands × 4 rows: every true
    * pair in this corpus has j ≥ 0.9, so per-pair banding miss probability
    * is (1-j⁴)¹⁶ ≈ 4e-8 — the verified output EQUALS [[ngramJaccardPairs]]
    * (and shares its oracle SQL). Candidate generation is an equi-join on
    * band keys; the exact kernel only ever touches candidates. Eager
    * localCheckpoint: the result is near-dup-PAIR-scale (tiny next to the
    * corpus) and the [[minhashVerifiedPairs]] artifact re-serves it, so
    * lineage must be severed. */
  private def deriveVerifiedPairs(s: SparkSession, d: String): DataFrame = {
    val sh = shingleRel(s, d)
    val sig = sh.groupBy(col("doc_id"))
      .agg(graft.functions.MinHashSignature.minhashSig(col("s"), 64).as("sig"))
    val cands = MinHash.candidates(
      MinHash.bands(sig, "doc_id", numBands = 16, numHashes = 64), "doc_id")
    exactJaccard(sh, cands).filter(col("jaccard") >= 0.8).localCheckpoint()
  }

  /** ONE LSH-verified pair graph per (SparkContext, sfDir) — the dup-graph
    * edge artifact. q_minhash_lsh, q_dedup_clusters, q_dedup_keep,
    * q_dup_source_stats, and q_dup_pagerank all consume the IDENTICAL
    * edge set; a production gate materializes it once per run instead of
    * re-paying the shingle/minhash/verify chain per consumer (~20 cpu-s
    * each at bench scale, corpus-shuffle-scale at 100 TB). Keyed by
    * context start time so a fresh context re-derives rather than
    * touching blocks of a stopped one; each per-query ORACLE still
    * re-states the full derivation in SQL, so a stale or wrong artifact
    * hash-mismatches every consumer rather than hiding. */
  private val pairArtifact = new java.util.concurrent.ConcurrentHashMap[
    (Long, String), (org.apache.spark.SparkContext, DataFrame)]()
  private val artifactLock = new Object
  private def minhashVerifiedPairs(s: SparkSession, d: String): DataFrame = {
    // entries of STOPPED contexts can never be hit again (startTime
    // differs) — purge them so session churn doesn't pin dead plans and
    // checkpoint RDDs for the JVM lifetime
    pairArtifact.forEach((k, v) => if (v._1.isStopped) { pairArtifact.remove(k); () })
    val key = (s.sparkContext.startTime, d)
    val hit = pairArtifact.get(key)
    if (hit != null) hit._2
    // derive OUTSIDE the map's bin lock (computeIfAbsent would hold it
    // across the whole multi-job derivation); the dedicated lock bounds
    // double-derivation without blocking unrelated keys' readers
    else artifactLock.synchronized {
      val again = pairArtifact.get(key)
      if (again != null) again._2
      else {
        val v = deriveVerifiedPairs(s, d)
        pairArtifact.put(key, (s.sparkContext, v))
        v
      }
    }
  }

  /** `(node, component)` labels over the verified near-dup pair graph —
    * the shared front half of ALL clustering queries: banded MinHash-LSH
    * candidates + exact-Jaccard verify (never a cross join / per-shingle
    * df² stage, see [[minhashVerifiedPairs]]) feed alternating-star
    * connected components. */
  private def clusterComp(s: SparkSession, d: String): DataFrame = {
    val edges = minhashVerifiedPairs(s, d)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val nodes = Tables.documents(s, d).select(col("doc_id").as("node"))
    ConnectedComponents.components(edges, nodes)
  }

  /** [[clusterComp]] joined back to the doc columns retention policies
    * rank on — the front half of the two retention queries. */
  private def clusteredDocs(s: SparkSession, d: String): DataFrame =
    clusterComp(s, d)
      .join(Tables.documents(s, d)
        .select(col("doc_id").as("node"), col("n_chars"), col("source")), "node")
      .select(col("node").as("doc_id"), col("component").as("cluster"),
        col("n_chars"), col("source"))

  /** THE retention policy, once: keep-longest (n_chars desc, doc_id asc
    * tie-break). Every group member is unique, so this lexicographic
    * min(struct) IS the `row_number() = 1` row of [[clusterRankSql]]'s
    * ORDER BY — as a map-side-combinable aggregate, without the window's
    * shuffle+sort. Read the keeper back as `k.id` / `-k.nc`. */
  private val keeperStruct =
    min(struct((-col("n_chars")).as("nc"), col("doc_id").as("id")))

  /** Per-cluster keeper manifest of a (doc_id, cluster, n_chars) member
    * relation — the q_dedup_keep output shape via the map-side
    * [[keeperStruct]] aggregate. Shared by the retention queries and the
    * incremental manifest maintenance. */
  private[graft] def keeperRows(members: DataFrame): DataFrame = members
    .groupBy(col("cluster"))
    .agg(keeperStruct.as("k"), count(lit(1)).as("n_members"),
      sum(col("n_chars")).as("chars_total"))
    .select(col("cluster"), col("k.id").as("keep_id"),
      (-col("k.nc")).as("keep_chars"), col("n_members"), col("chars_total"))

  /** The retention-refresh kernel with EXPLICIT state: stored labels +
    * per-doc (doc_id, cluster, n_chars) ledger + per-cluster manifest,
    * updated by one batch's verified pairs and member rows. Returns
    * (manifest', ledger') — the two artifacts the NEXT refresh reads.
    * Untouched manifest rows pass through (their membership is unchanged
    * by definition of touched); touched clusters' historical members
    * relabel to the merged component; new docs label via their own group
    * id (the ledger-label and new-id domains are disjoint — see
    * [[isNewDoc]]). Factored so the multi-batch lifecycle
    * (SnapshotLifecycleSuite) drives the SAME algebra the
    * single-refresh query runs.
    *
    * ORDERING CONTRACT — pre-merge labels (r16 verdict #4): `histLabels`,
    * `ledger`, and `stats` must all read the SAME stored snapshot
    * version; in particular `histLabels` is the PRE-merge label state
    * the ledger/manifest were written under. Callers advancing a
    * timeline run this kernel FIRST, then advance labels with
    * [[mergeIncrementalLabels]] for the same batch. Feeding post-merge
    * labels breaks the split both ways: `miniComponents` keys touched
    * groups by the stored label ids, but the ledger still carries
    * pre-merge cluster ids, so touched historical members miss the
    * relabel join and pass through as "untouched" with stale clusters —
    * silently, since the shapes all still line up. The lifecycle suite
    * pins this ordering end-to-end (SnapshotLifecycleSuite). */
  private[graft] def refreshKeeperState(histLabels: DataFrame,
      ledger: DataFrame, stats: DataFrame, newPairs: DataFrame,
      newDocs: DataFrame, newMembers: DataFrame): (DataFrame, DataFrame) = {
    val mini = miniComponents(histLabels, newPairs, newDocs)
    val untouched = stats.join(
      broadcast(mini.select(col("grp").as("cluster"))), Seq("cluster"), "left_anti")
    val touchedHist = ledger
      .join(broadcast(mini.withColumnRenamed("grp", "cluster")), Seq("cluster"))
      .select(col("doc_id"), col("merged").as("cluster"), col("n_chars"))
    val newLedgerRows = newMembers
      .join(broadcast(mini.withColumnRenamed("grp", "doc_id")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("merged"), col("doc_id")).as("cluster"),
        col("n_chars"))
    val untouchedLedger = ledger.join(
        broadcast(mini.select(col("grp").as("cluster"))), Seq("cluster"), "left_anti")
      .select(col("doc_id"), col("cluster"), col("n_chars"))
    val manifest = untouched.union(keeperRows(touchedHist.union(newLedgerRows)))
    (manifest, untouchedLedger.union(touchedHist).union(newLedgerRows))
  }

  /** Oracle twin of [[keeperStruct]]: ranks each cluster's members under
    * the same keep-longest policy (`rn = 1` ⇔ keeper). Expects `lab` (from
    * [[clusterLabSql]]) in scope; yields `m` (members + doc columns) and
    * `r` (members + rn). `extra` names an additional documents column to
    * carry through (e.g. "source"). */
  private def clusterRankSql(extra: String = ""): String = {
    val mCols = if (extra.isEmpty) "" else s", doc.$extra"
    val rCols = if (extra.isEmpty) "" else s", $extra"
    s"""m AS (SELECT l.cluster, l.doc_id, doc.n_chars$mCols
       |      FROM lab l JOIN documents doc ON l.doc_id = doc.doc_id),
       |r AS (SELECT cluster, doc_id, n_chars$rCols,
       |        row_number() OVER (PARTITION BY cluster
       |          ORDER BY n_chars DESC, doc_id ASC) AS rn
       |      FROM m)""".stripMargin
  }

  /** Recursive min-label propagation over the verified near-dup pair
    * graph — the cluster-label CTE suffix shared by every clustering
    * oracle (q_dedup_clusters, q_dedup_keep, q_dup_source_stats). Expects
    * the [[ngramPairsSql]] CTEs (`sh`/`d`/`p`) in scope; yields
    * `lab(doc_id, cluster)`. */
  private val clusterLabSql =
    """pairs AS (
      |  SELECT doc_a, doc_b
      |  FROM p JOIN d da ON p.doc_a = da.doc_id JOIN d db ON p.doc_b = db.doc_id
      |  WHERE CAST(shared AS DOUBLE) / (da.n + db.n - shared) >= 0.8),
      |edges AS (SELECT doc_a AS ea, doc_b AS eb FROM pairs
      |          UNION SELECT doc_b, doc_a FROM pairs),
      |walk(node, label) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT eb, w.label FROM walk w JOIN edges e ON e.ea = w.node),
      |lab AS (SELECT node AS doc_id, MIN(label) AS cluster FROM walk GROUP BY node)""".stripMargin

  /** The n-gram-Jaccard pair subquery as oracle SQL (shared CTE prefix of
    * q_ngram_jaccard and q_dedup_clusters). */
  private val ngramPairsSql =
    """sh AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |       unnest(range(1, len(t) - 1)) AS u(i)
      |  WHERE len(t) >= 3),
      |d AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |      GROUP BY doc_a, doc_b)""".stripMargin

  /** q_dup_pagerank oracle: the verified ≥0.8 pair graph symmetrized,
    * then three unrolled PageRank iterations with the same per-edge
    * 9dp-round + DECIMAL-sum discipline the engine runs. */
  private lazy val pagerankSql: String = {
    val iters = (1 to 3).map { i =>
      s"""r$i AS (SELECT e.v AS node,
         |  round(CAST(0.15 AS DOUBLE) / nv + CAST(0.85 AS DOUBLE) *
         |    CAST(SUM(CAST(round(r${i - 1}.r / deg.deg, 9)
         |      AS DECIMAL(18,9))) AS DOUBLE), 9) AS r
         |FROM e JOIN r${i - 1} ON r${i - 1}.node = e.u
         |  JOIN deg ON deg.u = e.u CROSS JOIN nn
         |GROUP BY e.v, nv)""".stripMargin
    }.mkString(",\n")
    s"""WITH $ngramPairsSql,
       |jp AS (SELECT doc_a, doc_b
       |       FROM p JOIN d da ON p.doc_a = da.doc_id
       |         JOIN d db ON p.doc_b = db.doc_id
       |       WHERE CAST(shared AS DOUBLE) / (da.n + db.n - shared) >= 0.8),
       |e AS (SELECT doc_a AS u, doc_b AS v FROM jp
       |      UNION ALL SELECT doc_b AS u, doc_a AS v FROM jp),
       |deg AS (SELECT u, COUNT(*) AS deg FROM e GROUP BY u),
       |nn AS (SELECT COUNT(*) AS nv FROM deg),
       |r0 AS (SELECT u AS node, CAST(1.0 AS DOUBLE) / nv AS r FROM deg, nn),
       |$iters
       |SELECT r3.node AS doc_id, CAST(deg.deg AS BIGINT) AS degree, r3.r AS pr
       |FROM r3 JOIN deg ON deg.u = r3.node ORDER BY doc_id""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // ---- Exact dedup: one hash-groupBy; `keep_id` is the canonical doc.
    Q("q_dedup_exact",
      """SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY h ORDER BY h""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("h"))
    },

    // ---- Exact n-gram Jaccard near-dup pairs. Candidate generation is a
    // shared-shingle equi-join (shuffle on shingle), not a cross join; at
    // scale the MinHash variant below caps candidate fan-out further.
    Q("q_ngram_jaccard",
      s"""WITH $ngramPairsSql
        |SELECT doc_a, doc_b, shared, da.n AS n_a, db.n AS n_b,
        |  CAST(shared AS DOUBLE) / (da.n + db.n - shared) AS jaccard
        |FROM p JOIN d da ON p.doc_a = da.doc_id JOIN d db ON p.doc_b = db.doc_id
        |WHERE CAST(shared AS DOUBLE) / (da.n + db.n - shared) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      ngramJaccardPairs(s, d).orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- Graph centrality over the near-dup graph: 3 PageRank
    // iterations (d = 0.85) on the symmetric verified-pair edges — the
    // centrality-based canonical-selection policy (keep the most
    // "central" representative of a duplicate neighborhood, the
    // alternative to keep-longest/keep-min that favors the version most
    // connected to the others). Each iteration is ONE equi-join + one
    // combinable aggregate on node keys (never materializing anything
    // beyond the edge list); per-edge contributions round to 9dp and sum
    // as DECIMAL so the ranks are order-independent and engine-bit-
    // stable; the oracle unrolls the identical three iterations in
    // generated SQL. |V| is a driver scalar (node count of the DUP
    // graph — metadata-scale next to the corpus).
    Q("q_dup_pagerank", pagerankSql) { (s, d) =>
      val pairs = minhashVerifiedPairs(s, d).select(col("doc_a"), col("doc_b"))
      val e = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      val deg = e.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val nv = deg.count()
      var r = deg.select(col("u").as("node"), lit(1.0 / nv).as("r"))
      for (_ <- 1 to 3) {
        r = e.join(r, col("node") === col("u"))
          .join(deg, "u")
          .select(col("v"),
            round(col("r") / col("deg"), 9).cast("decimal(18,9)").as("c"))
          .groupBy(col("v")).agg(sum(col("c")).as("sc"))
          .select(col("v").as("node"),
            round(lit(0.15 / nv) + lit(0.85) * col("sc").cast("double"), 9).as("r"))
      }
      r.join(deg, col("node") === col("u"))
        .select(col("node").as("doc_id"), col("deg").cast("long").as("degree"),
          col("r").as("pr"))
        .orderBy(col("doc_id"))
    },

    // ---- Near-dup GROUPS from the pair graph: alternating large-star /
    // small-star connected components (graft.ops.ConnectedComponents), so
    // chains A≈B≈C collapse into one cluster keyed by the minimum doc_id —
    // the canonical keeper a training pipeline retains. The edge set comes
    // from [[minhashVerifiedPairs]] — banded LSH candidates + exact
    // verify, NOT the exact per-shingle pair emission (whose hot-shingle
    // df² fan-out is the one stage that would not survive 100×). Because
    // the verify is exact and banding recall is 1-4e-8 on this corpus,
    // the edge set is identical and the oracle below stays the plain
    // exact-join recursive CTE. Oracle: recursive min-label propagation
    // over the same symmetric edge set.
    Q("q_dedup_clusters",
      s"""WITH RECURSIVE $ngramPairsSql,
        |$clusterLabSql
        |SELECT l.doc_id, l.cluster, CAST(c.csize AS BIGINT) AS csize
        |FROM lab l JOIN (SELECT cluster, COUNT(*) AS csize FROM lab GROUP BY cluster) c
        |  ON l.cluster = c.cluster
        |ORDER BY l.doc_id""".stripMargin) { (s, d) =>
      val comp = clusterComp(s, d)
      val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("csize"))
      comp.join(sizes, "component")
        .select(col("node").as("doc_id"), col("component").as("cluster"), col("csize"))
        .orderBy(col("doc_id"))
    },

    // ---- Retention: the dedup END-STATE a training pipeline materializes
    // — ONE survivor per near-dup cluster under [[keeperStruct]]'s
    // keep-longest policy, as a plain aggregate per cluster (no window).
    // Output = the training-set manifest: keeper id, its length, members
    // absorbed, bytes absorbed.
    Q("q_dedup_keep",
      s"""WITH RECURSIVE $ngramPairsSql,
        |$clusterLabSql,
        |${clusterRankSql()},
        |cs AS (SELECT cluster, COUNT(*) AS n_members,
        |         CAST(SUM(n_chars) AS BIGINT) AS chars_total
        |       FROM m GROUP BY cluster)
        |SELECT r.cluster, r.doc_id AS keep_id, r.n_chars AS keep_chars,
        |  cs.n_members, cs.chars_total
        |FROM r JOIN cs ON r.cluster = cs.cluster
        |WHERE r.rn = 1 ORDER BY r.cluster""".stripMargin) { (s, d) =>
      clusteredDocs(s, d)
        .groupBy(col("cluster"))
        .agg(keeperStruct.as("k"),
          count(lit(1)).as("n_members"),
          sum(col("n_chars")).as("chars_total"))
        .select(col("cluster"), col("k.id").as("keep_id"),
          (-col("k.nc")).as("keep_chars"), col("n_members"), col("chars_total"))
        .orderBy(col("cluster"))
    },

    // ---- Leakage-safe splitting: assign train/val/test by near-dup
    // CLUSTER, not by document — the split-repair step a pipeline runs
    // after dedup so two near-duplicates can never straddle a split
    // boundary (the q_hash_split per-doc gate leaks: a test document
    // whose near-twin sits in train is memorization dressed as
    // generalization). Same 12/2/2-by-first-md5-hex gate, keyed on the
    // cluster label (= the component's min doc_id); singleton clusters
    // reduce to the per-doc gate, so only near-dup docs can move. The
    // `moved` flag is the audit column: every moved doc is a doc whose
    // naive assignment differed from its cluster's. Scale: one gate
    // expression over the (node, component) labels — the clustering is
    // the shared dup-graph artifact; nothing new shuffles.
    Q("q_leakage_safe_split",
      s"""WITH RECURSIVE $ngramPairsSql,
        |$clusterLabSql
        |SELECT doc_id, cluster,
        |  CASE WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
        |       WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
        |       ELSE 'test' END AS split,
        |  (CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
        |        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
        |        ELSE 'test' END) <>
        |  (CASE WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
        |        WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
        |        ELSE 'test' END) AS moved
        |FROM lab ORDER BY doc_id""".stripMargin) { (s, d) =>
      def gate(c: org.apache.spark.sql.Column) = {
        val h = substring(md5(c.cast("string").cast("binary")), 1, 1)
        when(h <= "b", "train").when(h <= "d", "val").otherwise("test")
      }
      clusterComp(s, d)
        .select(col("node").as("doc_id"), col("component").as("cluster"))
        .select(col("doc_id"), col("cluster"), gate(col("cluster")).as("split"),
          (gate(col("doc_id")) =!= gate(col("cluster"))).as("moved"))
        .orderBy(col("doc_id"))
    },

    // ---- The leakage VERDICT: for every verified near-dup pair, does
    // the split assignment separate the twins? One row: pair count,
    // pairs straddling a boundary under the naive per-doc gate
    // (nonzero — each pair straddles with p ≈ 0.41 under the 12/2/2
    // gate), and under the cluster gate (structurally ZERO — both ends
    // share a component by construction; computing it through the same
    // join PROVES the property instead of asserting it). The engine
    // reads the shared pair artifact + component labels; the oracle
    // restates pairs, labels, and both gates from scratch.
    // LSH-RECALL ASSUMPTION (shared with every consumer of the
    // minhashVerifiedPairs artifact): the engine's pair set comes from
    // 16-band × 4-hash banding, whose miss probability at jaccard j is
    // (1-j⁴)¹⁶ — ~4e-8 at the j≥0.9 pairs this corpus contains, but
    // ~6e-2 at a hypothetical j=0.8 boundary pair. The oracle enumerates
    // ALL ≥0.8 pairs exhaustively, so n_pairs/n_leaky_naive here (and
    // the cluster labels everywhere) ride on that recall. If the
    // band/hash scheme is ever retuned, re-check this margin (or gate
    // the artifact with an exact-pair parity check at one SF) before
    // trusting the sweep.
    Q("q_split_leakage_audit",
      s"""WITH RECURSIVE $ngramPairsSql,
        |$clusterLabSql,
        |g AS (SELECT p2.doc_a, p2.doc_b, la.cluster AS ca, lb.cluster AS cb,
        |        CASE WHEN substr(md5(CAST(p2.doc_a AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
        |             WHEN substr(md5(CAST(p2.doc_a AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
        |             ELSE 'test' END AS na,
        |        CASE WHEN substr(md5(CAST(p2.doc_b AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
        |             WHEN substr(md5(CAST(p2.doc_b AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
        |             ELSE 'test' END AS nb,
        |        CASE WHEN substr(md5(CAST(la.cluster AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
        |             WHEN substr(md5(CAST(la.cluster AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
        |             ELSE 'test' END AS sa,
        |        CASE WHEN substr(md5(CAST(lb.cluster AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
        |             WHEN substr(md5(CAST(lb.cluster AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
        |             ELSE 'test' END AS sb
        |      FROM pairs p2 JOIN lab la ON p2.doc_a = la.doc_id
        |                    JOIN lab lb ON p2.doc_b = lb.doc_id)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CASE WHEN na <> nb THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_leaky_naive,
        |  CAST(SUM(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_leaky_safe
        |FROM g""".stripMargin) { (s, d) =>
      val pairs = minhashVerifiedPairs(s, d).select(col("doc_a"), col("doc_b"))
      val comp = clusterComp(s, d)
      def gate(c: org.apache.spark.sql.Column) = {
        val h = substring(md5(c.cast("string").cast("binary")), 1, 1)
        when(h <= "b", "train").when(h <= "d", "val").otherwise("test")
      }
      pairs
        .join(comp.select(col("node").as("doc_a"), col("component").as("ca")), "doc_a")
        .join(comp.select(col("node").as("doc_b"), col("component").as("cb")), "doc_b")
        .agg(count(lit(1)).as("n_pairs"),
          sum((gate(col("doc_a")) =!= gate(col("doc_b"))).cast("long"))
            .as("n_leaky_naive"),
          sum((gate(col("ca")) =!= gate(col("cb"))).cast("long"))
            .as("n_leaky_safe"))
    },

    // ---- Corpus-health diagnostics: per-SOURCE duplication rate — how
    // many documents (and bytes) each source loses to near-dup retention
    // under the same keep-longest policy. A doc is dropped iff it is not
    // its cluster's min(struct) keeper; the keeper comes from the same
    // map-side-combinable per-cluster aggregate as q_dedup_keep, joined
    // back to the members (no WindowExec partition sort — plan-asserted),
    // then one groupBy(source). The report a curation pipeline watches
    // to catch a crawler re-ingesting a source.
    Q("q_dup_source_stats",
      s"""WITH RECURSIVE $ngramPairsSql,
        |$clusterLabSql,
        |${clusterRankSql("source")}
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(SUM(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT)
        |    AS chars_dropped,
        |  round(CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 6) AS drop_ratio
        |FROM r GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      // keeper via the same map-side-combinable aggregate as
      // q_dedup_keep (r6 verdict symmetry note): a per-cluster
      // min(struct) + join back, instead of a WindowExec whose
      // partition sort touches every row
      val m = clusteredDocs(s, d)
      val keep = m.groupBy(col("cluster")).agg(keeperStruct.as("k"))
      m.join(keep, "cluster")
        .withColumn("dropped", col("doc_id") =!= col("k.id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("dropped"), col("n_chars")).otherwise(0L)).as("chars_dropped"))
        .select(col("source"), col("n_docs"), col("n_dropped"), col("chars_dropped"),
          round(col("n_dropped").cast("double") / col("n_docs"), 6).as("drop_ratio"))
        .orderBy(col("source"))
    },

    // ---- MinHash+LSH near-dup join, exact-verified — the 100 TB path for
    // q_ngram_jaccard: banded signatures generate candidate pairs via an
    // equi-join on band keys (never a cross join), then the exact Jaccard
    // runs on candidates only. 64 hashes, 16 bands × 4 rows: collision
    // probability 1-(1-j⁴)¹⁶ ≈ 1-4e-8 at j=0.9 (every true pair in this
    // corpus has j ≥ 0.9), so the verified output EQUALS the exact join —
    // which is exactly what the oracle checks: same SQL as
    // q_ngram_jaccard, so a recall miss in the banding, a broken
    // signature, or a wrong verify all hash-mismatch.
    Q("q_minhash_lsh",
      s"""WITH $ngramPairsSql
        |SELECT doc_a, doc_b, shared, da.n AS n_a, db.n AS n_b,
        |  CAST(shared AS DOUBLE) / (da.n + db.n - shared) AS jaccard
        |FROM p JOIN d da ON p.doc_a = da.doc_id JOIN d db ON p.doc_b = db.doc_id
        |WHERE CAST(shared AS DOUBLE) / (da.n + db.n - shared) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      minhashVerifiedPairs(s, d).orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- INCREMENTAL cross-snapshot dedup — the corpus-refresh shape: a
    // new crawl batch (modeled as doc_id % 8 = 0) deduped against the
    // accumulated historical corpus WITHOUT recomputing the old side.
    // The historical (band, band_key, doc_id) signature index persists
    // once as a parquet artifact (the Artifacts protocol — on a real
    // refresh it was written by the PREVIOUS snapshot's run); this run
    // only signs the new batch, probes the stored index via a band-key
    // equi-join (new-vs-old), adds the batch's own band collisions
    // (new-vs-new), and exact-verifies candidates only — old-vs-old
    // pairs are never generated or re-verified. Re-shingling for the
    // exact verify touches only candidate docs (left_semi on the
    // candidate id set), so historical work is O(candidates), not
    // O(corpus). The oracle states the FULL recompute restricted to
    // pairs involving a new doc, so a recall miss against the stored
    // index (stale artifact, wrong band scheme, dropped probe) turns the
    // gate red. Plan-asserted: the historical side is a parquet scan of
    // the artifact, and exactly one MinHash aggregate (the new batch's)
    // exists in the plan (PlanSuite); replay idempotence + crafted
    // new-vs-old/new-vs-new/old-vs-old cases in IncrementalDedupSuite.
    Q("q_incremental_dedup",
      s"""WITH $ngramPairsSql
        |SELECT doc_a, doc_b, shared, da.n AS n_a, db.n AS n_b,
        |  CAST(shared AS DOUBLE) / (da.n + db.n - shared) AS jaccard
        |FROM p JOIN d da ON p.doc_a = da.doc_id JOIN d db ON p.doc_b = db.doc_id
        |WHERE CAST(shared AS DOUBLE) / (da.n + db.n - shared) >= 0.8
        |  AND (${newIdSql("doc_a")} OR ${newIdSql("doc_b")})
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      incrementalVerifiedPairs(s, d).orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- INCREMENTAL cluster maintenance — the refresh seam for the
    // dedup END-STATE: the stored (node, component) label table is
    // UPDATED by a new batch's verified pairs without re-clustering the
    // historical corpus. The algebra that makes this exact: component
    // labels are the MIN doc_id of each component, and min-labeling is
    // associative over graph unions — so it suffices to (1) map each new
    // pair's ends to their GROUP id (historical doc → its stored label,
    // new doc → itself), (2) run connected components on that
    // metadata-scale group graph (touched components + new docs only),
    // and (3) relabel just the touched components via a broadcast join
    // over the stored label table. A new doc BRIDGING two historical
    // clusters merges them to the global min label — the hard case, and
    // exactly what the full recompute produces (IncrementalCcSuite pins
    // it on crafted graphs; the oracle is the full recursive-CTE
    // relabeling of the whole corpus, so any divergence hash-mismatches).
    // At 100 TB: historical work is one labels-artifact scan + one
    // broadcast join; the mini graph is pair-scale; nothing re-shingles,
    // re-signs, or re-clusters the old side (plan-asserted).
    Q("q_incremental_dedup_clusters",
      s"""WITH RECURSIVE $ngramPairsSql,
        |$clusterLabSql
        |SELECT doc_id, cluster FROM lab ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // pair-scale: sever lineage so the mini graph below reads a
      // materialized relation, not the whole candidate derivation twice
      val newPairs = incrementalVerifiedPairs(s, d)
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
      val newDocs = docs.filter(isNewDoc)
        .select(col("doc_id").as("node"))
      mergeIncrementalLabels(histCcLabels(s, d), newPairs, newDocs)
        .orderBy(col("doc_id"))
    },

    // ---- INCREMENTAL retention maintenance — the refresh seam for the
    // dedup END-STATE's manifest (q_dedup_keep's output): per-cluster
    // keeper rows are recomputed ONLY for clusters the new batch
    // touches. Two stored artifacts carry the historical state: the
    // per-cluster keeper stats (the previous manifest) and the per-doc
    // (doc_id, cluster, n_chars) ledger. A refresh derives the touched
    // group graph (miniComponents — every touched historical cluster
    // appears as a grp there), recomputes keepers over ONLY the touched
    // clusters' ledger members (broadcast semi-join) plus the new
    // batch's rows, and passes every untouched manifest row through via
    // a broadcast anti-join — exactness because untouched clusters have
    // identical membership by definition of touched, and min-struct
    // keepers are a per-cluster function of membership. Historical work:
    // two artifact scans + broadcast joins; the only documents scan is
    // the new batch's (doc_id, n_chars) projection (plan-asserted). The
    // oracle is the FULL q_dedup_keep recompute, so a stale ledger,
    // wrong touch set, or dropped merge hash-mismatches.
    Q("q_incremental_dedup_keep",
      s"""WITH RECURSIVE $ngramPairsSql,
        |$clusterLabSql,
        |${clusterRankSql()},
        |cs AS (SELECT cluster, COUNT(*) AS n_members,
        |         CAST(SUM(n_chars) AS BIGINT) AS chars_total
        |       FROM m GROUP BY cluster)
        |SELECT r.cluster, r.doc_id AS keep_id, r.n_chars AS keep_chars,
        |  cs.n_members, cs.chars_total
        |FROM r JOIN cs ON r.cluster = cs.cluster
        |WHERE r.rn = 1 ORDER BY r.cluster""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val isNew = isNewDoc
      // stored per-doc ledger + per-cluster manifest of the historical
      // corpus — written by the previous snapshot's retention run
      val ledger = Artifacts.parquet(s, d, "inc_keep_ledger") {
        histCcLabels(s, d)
          .select(col("node").as("doc_id"), col("component").as("cluster"))
          .join(docs.filter(!isNew).select(col("doc_id"), col("n_chars")), "doc_id")
      }
      val stats = Artifacts.parquet(s, d, "inc_keep_stats") { keeperRows(ledger) }
      val newPairs = incrementalVerifiedPairs(s, d)
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
      val newDocs = docs.filter(isNew).select(col("doc_id").as("node"))
      val newMembers = docs.filter(isNew).select(col("doc_id"), col("n_chars"))
      refreshKeeperState(histCcLabels(s, d), ledger, stats, newPairs,
        newDocs, newMembers)._1
        .orderBy(col("cluster"))
    },

    // ---- Streaming near-dup detection: the same MinHash-LSH + exact
    // verify as q_minhash_lsh, but ONLINE — documents arrive in
    // micro-batches (the corpus is staged as 4 files, one per trigger) and
    // a new document is checked against every earlier one via STATE, the
    // at-ingest dedup a training pipeline runs on its intake stream
    // instead of re-scanning the corpus per delivery. State lives per LSH
    // band bucket (flatMapGroupsWithState keyed on the band's signature
    // slice), so a new doc only ever meets bucket-mates — the streaming
    // form of "candidates via equi-join, never a cross join". A pair is
    // emitted exactly once, by its lowest colliding band (both signatures
    // are in hand, so each bucket can decide ownership locally), then
    // exact-verified in place from the carried shingle-hash sets. The
    // verified pair SET therefore equals the batch exact join — the same
    // oracle SQL as q_minhash_lsh, which is the whole point: a recall
    // miss, a state bug, or a cross-batch loss all hash-mismatch.
    // At 100 TB: bucket state is signature-only (64 ints/member); each
    // doc's shingle set is stored ONCE in a doc-keyed verify stage, so
    // state no longer multiplies document text by band count — production
    // bounds it in time with StreamingNearDup's ttl knob (processing-time
    // or watermark-driven event-time eviction, both tested in
    // EngineSuite); here ttl=None for batch-parity with the oracle.
    Q("q_stream_neardup",
      s"""WITH $ngramPairsSql
        |SELECT doc_a, doc_b, shared, da.n AS n_a, db.n AS n_b,
        |  CAST(shared AS DOUBLE) / (da.n + db.n - shared) AS jaccard
        |FROM p JOIN d da ON p.doc_a = da.doc_id JOIN d db ON p.doc_b = db.doc_id
        |WHERE CAST(shared AS DOUBLE) / (da.n + db.n - shared) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      import s.implicits._
      // stage the corpus as 4 range-partitioned files → 4 micro-batches:
      // near-dup pairs span batches, so they are found through state,
      // not within-batch luck; the sink is bounded (one row per verified
      // near-dup pair)
      Staging.replay(Tables.documents(s, d).select(col("doc_id"), col("text")),
        Seq(col("doc_id")), 4) { src =>
        Staging.view(graft.streaming.StreamingNearDup.pairs(
            src.as[(Long, String)], threshold = 0.8)) {
          _.select(col("doc_a"), col("doc_b"), col("shared"),
              col("n_a"), col("n_b"), col("jaccard"))
            .orderBy(col("doc_a"), col("doc_b"))
        }
      }
    },

    // ---- Winnowed rolling-hash fingerprints, exact-verified: char-level
    // Rabin–Karp k-grams (k=24) + MOSS winnowing (w=7), so documents
    // sharing any substring of length ≥ k+w-1 = 30 are GUARANTEED to
    // share a print (the winnowing theorem) even when whole-document
    // hashes differ — sub-document overlap dedup, storing only ~2/(w+1)
    // of the positions. k=24 (not a smaller gram) is the hot-key control:
    // 16-char grams are common boilerplate whose df² pair fan-out
    // dominated the candidate join at sf0.1; 24-char collisions are ~2×
    // rarer than 20-char ones and selection samples ~25% of them. Both
    // the candidate emission (per-print groups) and the 30-gram verify
    // (per-gram groups) emit ordered pairs INSIDE their key group — one
    // shuffle each on the key, no self-join. The output is the verified
    // intersection: exact shared-30-gram counts for pairs the prints
    // surfaced. Because recall is deterministic (theorem, not
    // probability), that intersection EQUALS the exact 30-gram pair join
    // — which is the oracle: DuckDB recomputes every pair's count from
    // scratch, so a broken print selection (candidate loss) or a wrong
    // verify both hash-mismatch.
    Q("q_winnow_dedup",
      """WITH nd AS (SELECT doc_id,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
        |  FROM documents),
        |g AS (SELECT DISTINCT doc_id, substr(norm, CAST(i AS INT), 30) AS g
        |      FROM nd, unnest(range(1, len(norm) - 28)) AS u(i)
        |      WHERE len(norm) >= 30)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
        |GROUP BY doc_a, doc_b
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val L = 30 // k + w - 1: the winnowing guarantee length
      val docs = Tables.spread(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), TextFunctions.normalize(col("text")).as("norm"))
      // ordered pair emission inside a key group (the ngramJaccardPairs
      // pattern): groupBy key → sorted doc list → in-task combinatorics
      def pairsByKey(rel: DataFrame, key: String): DataFrame =
        rel.groupBy(col(key))
          .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
          .filter(size(col("ds")) >= 2)
          .select(explode(graft.functions.OrderedPairs(col("ds"))).as("p"))
          .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      val prints = docs.select(col("doc_id"),
        explode(graft.functions.Winnow.fingerprints(col("norm"), k = 24, window = 7)).as("fp"))
      val cands = pairsByKey(prints, "fp").distinct()
      // exact verify: |shared distinct 30-grams| per pair, emitted from
      // per-gram groups — over CANDIDATE DOCS ONLY. The winnowing
      // guarantee cuts both ways: any pair sharing a 30-gram shares a
      // fingerprint, so both its docs are already in `cands`, and
      // restricting the gram explode to those docs provably loses no
      // oracle pair (a winnow recall bug still surfaces: the pair's docs
      // miss the gram set → the pair is absent → oracle hash-mismatch).
      // This keys verify cost to CANDIDATE volume, not corpus volume —
      // the shape that matters at 100 TB, and ~50× fewer gram-group rows
      // here than exploding all docs.
      val candDocs = cands
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
      // no .distinct() on the exploded grams: pairsByKey's
      // collect_set(doc_id) dedupes doc ids WITHIN each gram group and
      // each pair is emitted once per distinct gram value, so n_shared
      // (= count of emitted rows per pair) already counts DISTINCT shared
      // grams — a pre-distinct would only add a second full shuffle of
      // the largest intermediate for the same answer
      // Join-strategy doctrine (the ×30 ladder lesson, SCALE.md §3):
      // AQE left alone broadcast-converts both tails off the candidate
      // relation's COMPRESSED shuffle size — a few MB on disk is ~GB as
      // in-memory rows at 150 k docs, and the build OOMs the driver
      // (measured: SCALE_LADDER_x30.json r17 recorded x30:null here).
      // candDocs is the one COMPACT relation (distinct long ids, one row
      // per candidate doc) → shuffle_hash: a bounded per-partition hash
      // build, no sort of the gram-exploded probe. The pair⋈pair tail
      // has NO compact side (both are pair-scale and SHJ hash builds
      // cannot spill — shuffle_hash there just moved the OOM to "not
      // enough memory to build hash map") → merge: sort-merge spills
      // and completes ×30 at 23.1 s / 549.8 cpu, exponent 1.04.
      val grams = docs.join(candDocs.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          explode(TextFunctions.charGramHashes(col("norm"), L)).as("g"))
      pairsByKey(grams, "g")
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_shared"))
        .join(cands.hint("merge"), Seq("doc_a", "doc_b"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- SimHash near-dup pairs, oracle-checked bit-for-bit: 60-bit
    // fingerprints over md5-derived token hashes (see [[SimHash]]),
    // Hamming-LSH banding (4×15-bit chunks — pigeonhole-complete for
    // distance ≤ 3), exact Hamming ≤ 3 verify on candidates. The oracle
    // recomputes every signature from md5 hex digits and lists all pairs
    // at distance ≤ 3 via xor+bit_count, so banding recall, the bit
    // majority vote, and the verify threshold are all driver-checked.
    Q("q_simhash",
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |h AS (SELECT doc_id, substr(md5(tok), 1, 15) AS hx FROM t),
        |bits AS (
        |  SELECT doc_id, b,
        |    SUM(CASE WHEN
        |      (((strpos('0123456789abcdef', substr(hx, CAST(15 - b // 4 AS INT), 1)) - 1)
        |        >> CAST(b % 4 AS INT)) & 1) = 1 THEN 1 ELSE 0 END) AS c,
        |    COUNT(*) AS n
        |  FROM h, unnest(range(0, 60)) AS u(b) GROUP BY doc_id, b),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN c * 2 > n THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
        |             ELSE 0 END) AS BIGINT) AS sh
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val docs = Tables.spread(Tables.documents(s, d), col("doc_id"))
      val sig = SimHash.signatures(docs, "doc_id", "text")
      SimHash.nearPairs(sig, "doc_id", maxDist = 3)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- Edit-distance near-dup pairs: prefix blocking (equi-join on
    // (lang, first-16-chars) — a key shuffle, never a cross join) + a
    // length-difference prefilter (|len_a−len_b| > t implies distance > t,
    // so the O(L²) DP only runs on survivors). Spark's banded
    // levenshtein(l, r, threshold) early-exits above the bound — the DP is
    // O(L·t) not O(L²). Same shape as the LSH candidates: generation is
    // linear-ish, verification exact. The BLOCK is df-GATED (df ∈ [2, 64],
    // the containment-index discipline): on a real web corpus thousands
    // of documents share a 16-char boilerplate prefix, and an ungated
    // block is quadratic in that df — the gate caps every block at
    // C(64,2) = 2016 pairs, and a skipped hot block is by construction a
    // boilerplate prefix where the prefix key carries no near-dup signal
    // (MinHash/SimHash own that regime — they block on CONTENT, not
    // position). The gate is SEMANTICS, stated identically in the
    // oracle — a silently ungated engine emits extra pairs and
    // hash-mismatches. Skew regression: DedupSkewSuite.
    Q("q_edit_dedup",
      """WITH d AS (SELECT doc_id, lang, substr(text, 1, 16) AS blk,
        |             len(text) AS len, text FROM documents),
        |g AS (SELECT lang, blk FROM d GROUP BY lang, blk
        |      HAVING COUNT(*) BETWEEN 2 AND 64)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
        |FROM d a JOIN g ON a.lang = g.lang AND a.blk = g.blk
        |JOIN d b ON a.lang = b.lang AND a.blk = b.blk
        |  AND a.doc_id < b.doc_id
        |  AND abs(a.len - b.len) <= 20
        |WHERE levenshtein(a.text, b.text) <= 20
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      editBlockCandidates(
          Tables.documents(s, d).select(
            col("doc_id"), col("lang"),
            substring(col("text"), 1, 16).as("blk"),
            length(col("text")).as("len"), col("text")),
          maxBlock = 64, lenBand = 20)
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("text_a"), col("text_b"), 20).cast("long").as("dist"))
        .filter(col("dist") >= 0) // banded variant returns -1 above the bound
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- CORPUS-LEVEL source-overlap matrix: exact Jaccard between each
    // source pair's distinct-shingle VOCABULARIES — the mixing-recipe
    // input ("how much of source B is already in source A?") that doc-
    // level dedup never reports. Exact path: one shuffle on the shingle
    // key; each shingle's group holds at most |sources| rows, so the
    // pair expansion inside the join is bounded by |sources|² per key —
    // linear in corpus shingles at any scale (|sources| is a catalogue
    // constant, not data). Alongside the exact answer, a BOTTOM-K
    // MinHash sketch (k=256 smallest hashes per source — the mergeable
    // one-pass summary a 100 TB run would ship instead of the exact
    // join) estimates the same Jaccard as |A∩B ∩ bottomK(A∪B)| / k;
    // sketches are k·|sources| rows (metadata-scale, driver-combined),
    // and the emitted verdict `sketch_ok` asserts the estimate lands
    // within ±0.2 of the exact value (k=256 ⇒ σ ≈ 0.03, so the verdict
    // is ~6σ slack — deterministic per corpus under xxhash64). The
    // oracle states the exact matrix and TRUE: a broken sketch, not just
    // a broken join, turns the gate red.
    Q("q_source_overlap",
      """WITH sh AS (
        |  SELECT DISTINCT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM (SELECT source, string_split(text, ' ') AS t FROM documents),
        |       unnest(range(1, len(t) - 1)) AS u(i)
        |  WHERE len(t) >= 3),
        |n AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
        |p AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared
        |      FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        |      GROUP BY src_a, src_b)
        |SELECT src_a, src_b, shared, na.n AS n_a, nb.n AS n_b,
        |  round(CAST(shared AS DOUBLE) / (na.n + nb.n - shared), 6) AS jaccard,
        |  TRUE AS sketch_ok
        |FROM p JOIN n na ON p.src_a = na.source JOIN n nb ON p.src_b = nb.source
        |ORDER BY src_a, src_b""".stripMargin) { (s, d) =>
      // checkpointed (see Artifacts): n and both join legs of the returned plan read it
      val sh = Tables.spread(Tables.documents(s, d), col("doc_id"))
        .select(col("source"),
          explode(TextFunctions.shingleHashes(col("text"), 3)).as("s"))
        .distinct()
        .localCheckpoint()
      locally {
        val n = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val a = sh.select(col("source").as("src_a"), col("s"))
        val b = sh.select(col("source").as("src_b"), col("s"))
        val shared = a.join(b, "s").filter(col("src_a") < col("src_b"))
          .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("shared"))
        // bottom-k sketch per source via the native bounded-heap top-k
        // (ascending hash) — one pass, k rows per source out.
        // DRIVER-SIDE by design, bounded by |sources|: this operator
        // models corpus-LEVEL provenance sources (tens, not millions —
        // the documents table carries 20), so the collect is 256×|sources|
        // longs and the O(|sources|²) estimate loop is trivial; a
        // DOMAIN-level overlap run must instead equi-join sketch rows on
        // the hash key (the `shared` join above is exactly that shape).
        val sk = graft.plans.TopKPerKey(sh, Seq("source"),
            Seq(col("s").asc), k = 256)
          .collect().map(r => (r.getString(0), r.getLong(1)))
          .groupBy(_._1).map { case (src, rows) => src -> rows.map(_._2).toSet }
        val est: Map[(String, String), Double] = {
          val srcs = sk.keys.toSeq.sorted
          (for {
            (x, i) <- srcs.zipWithIndex; y <- srcs.drop(i + 1)
          } yield {
            val (ax, ay) = (sk(x), sk(y))
            val union = (ax ++ ay).toSeq.sorted.take(256)
            val inter = union.count(h => ax.contains(h) && ay.contains(h))
            (x, y) -> inter.toDouble / union.size
          }).toMap
        }
        val estDf = broadcast(s.createDataFrame(
          est.toSeq.map { case ((x, y), e) => (x, y, e) })
          .toDF("src_a", "src_b", "est"))
        // per-source totals are |sources| rows — un-hinted, AQE broadcasts
        shared
          .join(n.withColumnRenamed("source", "src_a").withColumnRenamed("n", "n_a"), "src_a")
          .join(n.withColumnRenamed("source", "src_b").withColumnRenamed("n", "n_b"), "src_b")
          .join(estDf, Seq("src_a", "src_b"))
          .select(col("src_a"), col("src_b"), col("shared"),
            col("n_a"), col("n_b"),
            round(col("shared").cast("double") /
              (col("n_a") + col("n_b") - col("shared")), 6).as("jaccard"),
            (abs(col("est") -
              col("shared").cast("double") /
                (col("n_a") + col("n_b") - col("shared"))) <= 0.2).as("sketch_ok"))
          .orderBy(col("src_a"), col("src_b"))
      }
    },

    // ---- CONTAINMENT dedup — the near-dup class Jaccard-LSH structurally
    // misses: a short document contained in a long one (a quote, an
    // excerpt, a page wrapped in more boilerplate) has Jaccard
    // |A∩B|/|A∪B| ≈ |A|/|B| (tiny) but containment |A∩B|/min(|A|,|B|)
    // ≈ 1. MinHash bands key on Jaccard, so these pairs never become LSH
    // candidates. Scale path: a RARE-SHINGLE inverted index — only
    // shingles with document frequency in [2, 10] emit candidate pairs
    // (df ≥ 2: a shingle in one doc pairs nothing; df ≤ 10 caps the
    // per-shingle pair fan-out at 45 — boilerplate shingles shared by
    // thousands of docs generate NOTHING instead of a quadratic blow-up),
    // then the exact intersection runs on candidates only, the
    // generation-bounds/verification-restores-exactness shape of every
    // dedup here. A contained doc shares ALL its shingles with its
    // container, so any of them that is rare corpus-wide witnesses the
    // pair; both engines state the identical generation rule, so the
    // (deliberate) miss of pairs with no rare shared shingle is part of
    // the checked contract, not drift. The corpus has no true subset
    // docs, so both engines synthesize the same quote view first (every
    // 10th doc contributes its first half as doc_id+1000000 — each
    // exercises the containment path); emitted pairs carry containment
    // AND jaccard, showing exactly which pairs a 0.8-Jaccard gate misses.
    Q("q_containment_dedup",
      """WITH docs2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string(tk[1:greatest(3, len(tk)//2)], ' ') AS text
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
        |  WHERE doc_id % 10 = 0),
        |sh AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM docs2),
        |       unnest(range(1, len(t) - 1)) AS u(i)
        |  WHERE len(t) >= 3),
        |d AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM df JOIN sh a ON a.s = df.s JOIN sh b
        |    ON b.s = df.s AND a.doc_id < b.doc_id
        |  WHERE df.df BETWEEN 2 AND 10),
        |inter AS (
        |  SELECT c.doc_a, c.doc_b, COUNT(*) AS shared
        |  FROM cand c JOIN sh a ON a.doc_id = c.doc_a
        |    JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
        |  GROUP BY c.doc_a, c.doc_b)
        |SELECT doc_a, doc_b, shared, da.n AS n_a, db.n AS n_b,
        |  round(CAST(shared AS DOUBLE) / least(da.n, db.n), 6) AS containment,
        |  round(CAST(shared AS DOUBLE) / (da.n + db.n - shared), 6) AS jaccard
        |FROM inter JOIN d da ON inter.doc_a = da.doc_id
        |  JOIN d db ON inter.doc_b = db.doc_id
        |WHERE CAST(shared AS DOUBLE) / least(da.n, db.n) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val base = Tables.spread(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), col("text"))
      val quotes = base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          array_join(slice(TextFunctions.tokens(col("text")), lit(1),
            greatest(lit(3), expr("size(split(text, ' ')) div 2"))), " ")
            .as("text"))
      // checkpointed (see Artifacts): the candidate groups and candidate-doc sets read it
      val sh = base.union(quotes)
        .select(col("doc_id"),
          explode(TextFunctions.shingleHashes(col("text"), 3)).as("s"))
        .distinct()
        .localCheckpoint()
      // rare-shingle candidate pairs, emitted per shingle GROUP in
      // place (the q_ngram_jaccard kernel) — the df gate both caps the
      // fan-out and IS the index: common shingles never group-emit.
      // Deliberately NOT checkpointed: it is one groupBy over the
      // checkpointed shingle relation, recomputing it for its two uses
      // is cheap, and the pair-emission kernel stays visible in the
      // returned plan (PlanSuite pins ordered_pairs there).
      val cands = sh.groupBy(col("s"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .filter(size(col("ds")).between(2, 10))
        .select(explode(graft.functions.OrderedPairs(col("ds"))).as("p"))
        .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
        .distinct()
      // Verify on PER-DOC SHINGLE SETS of CANDIDATE DOCS ONLY (r19,
      // guide §2.3/§2.4/§8 "decide with small rows"): the r18 shape
      // expanded every candidate pair by all of doc_a's shingles and
      // re-shuffled that blow-up by (doc_b, s) into a second hash join
      // plus a pair groupBy — the bench's top batch-cpu row (32.7 cpu-s
      // at sf0.1). |A∩B| needs only the two DISTINCT shingle sets side
      // by side: restrict the shingle relation to docs that appear in
      // some candidate pair (left_semi — near-dup scale, AQE broadcasts
      // it), collect each doc's set ONCE (the same groupBy also yields
      // n, replacing the old per-doc counts pass over ALL docs), and
      // let the pair relation pick both sets up by doc id;
      // shared = size(array_intersect(sa, sb)) — exact on distinct
      // sets, codegen-native, no exploded intermediate and no pair
      // groupBy. Set size is bounded by document length (the bound
      // collect_list already rides in candidate generation), so the row
      // width holds at 100 TB; candidates stay un-hinted (data-dependent
      // size — AQE picks broadcast at bench scale, hash beyond).
      val candDocs = cands.select(col("doc_a").as("doc_id"))
        .union(cands.select(col("doc_b").as("doc_id"))).distinct()
      val docSets = sh.join(candDocs, Seq("doc_id"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(collect_list(col("s")).as("ss"), count(lit(1)).as("n"))
        .localCheckpoint()
      cands
        .join(docSets.select(col("doc_id").as("doc_a"),
          col("ss").as("sa"), col("n").as("n_a")), "doc_a")
        .join(docSets.select(col("doc_id").as("doc_b"),
          col("ss").as("sb"), col("n").as("n_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("sa"), col("sb"))).cast("long").as("shared"),
          col("n_a"), col("n_b"))
        .filter(col("shared").cast("double") / least(col("n_a"), col("n_b")) >= 0.9)
        .select(col("doc_a"), col("doc_b"), col("shared"),
          col("n_a"), col("n_b"),
          round(col("shared").cast("double") /
            least(col("n_a"), col("n_b")), 6).as("containment"),
          round(col("shared").cast("double") /
            (col("n_a") + col("n_b") - col("shared")), 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---- All-pairs TF-IDF cosine similarity (Bayardo/WHIRL family) —
    // the WEIGHTED sparse-vector complement to q_ngram_jaccard's set
    // overlap: documents as tf·idf-weighted shingle vectors, pair score
    // = cosine. Candidate generation is the inverted-index prune every
    // all-pairs system uses (pairs must share ≥4 shingles of document
    // frequency 2–10 — rare features are the discriminative ones; a
    // shingle in >10 docs is boilerplate that pairs everything with
    // everything and indexes NOTHING). The oracle states the identical
    // gate, so the prune is part of the verified contract — same
    // posture as the MinHash bands. Exact kernel on candidates only.
    // Determinism: weights round to 6dp then travel as DECIMAL(18,6);
    // dot products and squared norms are exact decimal sums (order-
    // independent across both engines' reduction trees); the one
    // double op per pair (sqrt + divide) runs on identical inputs.
    // Scale: shingles travel as xxhash64; tf/df partial-combine
    // map-side; candidates are near-dup-pair-scale (264 pairs from
    // 9.5k shingle rows at sf0.1) and broadcast onto the weight
    // relation; no stage touches doc × doc.
    Q("q_allpairs_sim",
      """WITH sh AS (
        |  SELECT doc_id, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1]
        |           || ' ' || t[CAST(i AS INT)+2] AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |       unnest(range(1, len(t) - 1)) AS u(i)
        |  WHERE len(t) >= 3),
        |tf AS (SELECT doc_id, s, COUNT(*) AS tf FROM sh GROUP BY doc_id, s),
        |df AS (SELECT s, COUNT(*) AS dfd FROM tf GROUP BY s),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |w AS (SELECT doc_id, tf.s,
        |        CAST(round(tf * ln(CAST(n.n AS DOUBLE) / df.dfd), 6)
        |          AS DECIMAL(18,6)) AS w
        |      FROM tf JOIN df ON tf.s = df.s, n),
        |nm AS (SELECT doc_id, sqrt(CAST(SUM(w*w) AS DOUBLE)) AS nrm
        |       FROM w GROUP BY doc_id),
        |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM df JOIN tf a ON a.s = df.s
        |           JOIN tf b ON b.s = df.s AND a.doc_id < b.doc_id
        |         WHERE df.dfd BETWEEN 2 AND 10
        |         GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 4),
        |dot AS (SELECT c.doc_a, c.doc_b, SUM(a.w * b.w) AS dot
        |        FROM cand c JOIN w a ON a.doc_id = c.doc_a
        |          JOIN w b ON b.doc_id = c.doc_b AND b.s = a.s
        |        GROUP BY c.doc_a, c.doc_b)
        |SELECT doc_a, doc_b,
        |  round(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 6) AS cosine
        |FROM dot JOIN nm na ON na.doc_id = dot.doc_a
        |  JOIN nm nb ON nb.doc_id = dot.doc_b
        |WHERE round(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 6) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      // checkpointed (see Artifacts): the df counts, candidates and weights read it
      val sh = Tables.spread(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"),
          explode(TextFunctions.shingleHashes(col("text"), 3)).as("s"))
        .groupBy(col("doc_id"), col("s")).agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val nDocs = Tables.documents(s, d).count().toDouble
      // dfc is vocab-scale — un-hinted (AQE broadcasts at bench scale);
      // checkpointed: read twice (weights + candidate gate), and the df
      // GATE must see the FULL corpus's document frequencies
      val dfc = sh.groupBy(col("s")).agg(count(lit(1)).as("dfd"))
        .localCheckpoint()
      // rare-shingle candidates, emitted per shingle group in place
      // (the q_ngram_jaccard kernel), then pruned to ≥4 shared
      val cands = sh.join(dfc, "s").filter(col("dfd").between(2, 10))
        .groupBy(col("s"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .filter(size(col("ds")) >= 2)
        .select(explode(graft.functions.OrderedPairs(col("ds"))).as("p"))
        .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
        .agg(count(lit(1)).as("nsh"))
        .filter(col("nsh") >= 4)
        .select(col("doc_a"), col("doc_b"))
        .localCheckpoint()
      // Weights for CANDIDATE DOCS ONLY (r19, guide §3.2/§8 "decide with
      // small rows, then move only what survives"): every downstream use
      // of the weight relation — norms, both dot-product sides — is
      // inner-joined to the candidate pairs, so weights of docs in no
      // candidate pair are computed and shuffled only to be dropped.
      // The left_semi against the candidate-doc ids (near-dup scale, AQE
      // broadcasts it) prunes the big side BEFORE the exchanges; the tf
      // and df inputs stay corpus-wide, so surviving weight VALUES are
      // bit-identical to the unfiltered form.
      val candDocs = cands.select(col("doc_a").as("doc_id"))
        .union(cands.select(col("doc_b").as("doc_id"))).distinct()
      val w = sh.join(candDocs, Seq("doc_id"), "left_semi")
        .join(dfc, "s")
        .select(col("doc_id"), col("s"),
          round(col("tf").cast("double") * log(lit(nDocs) / col("dfd")), 6)
            .cast("decimal(18,6)").as("w"))
        .localCheckpoint()
      val nm = w.groupBy(col("doc_id"))
        .agg(sqrt(sum(col("w") * col("w")).cast("double")).as("nrm"))
      // cands is candidate-pair-scale (data-dependent) — un-hinted;
      // the weight sides hint shuffle_hash so the past-threshold
      // fallback hash-builds per partition instead of sorting the
      // expanded relation (exactJaccard rationale, r17 ladder)
      val a = w.select(col("doc_id").as("doc_a"), col("s"), col("w").as("wa"))
        .hint("shuffle_hash")
      val b = w.select(col("doc_id").as("doc_b"), col("s"), col("w").as("wb"))
        .hint("shuffle_hash")
      val dot = cands.join(a, "doc_a").join(b, Seq("doc_b", "s"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(sum(col("wa") * col("wb")).as("dot"))
      dot
        .join(nm.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("nrm", "na"), "doc_a")
        .join(nm.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("nrm", "nb"), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          round(col("dot").cast("double") / (col("na") * col("nb")), 6)
            .as("cosine"))
        .filter(col("cosine") >= 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }
  )
}
