package graft.queries

import graft.{Q, Tables}
import graft.functions.{SignLsh, VectorFunctions}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (`array<float>` vectors).
  * Brute-force cosine is the correctness baseline; the LSH-bucketed query
  * is the 100 TB scale path (equi-join on bucket id — candidate set shrinks
  * ~2^planes-fold, no cross join).
  *
  * All vectors are cast to array<double> up front: float arithmetic
  * differs between engines and accumulates error; doubles + round(…,6)
  * are bit-stable across Spark and the oracle.
  */
object VectorOps {

  private val Dim = 64

  /** Embeddings as array<double> vectors, keyed-spread (the test parquet
    * is one row group → one partition otherwise; Tables.spread no-ops
    * once the scan has real splits). */
  /** NOT spread to session width (r19): the vector kernels' per-row work
    * is ~1k flops (a 64-dim dot against ≤16 centroids) — even a 10⁶-row
    * single-split file is sub-second on one core, and a corpus big
    * enough to need parallelism arrives as many splits that already
    * parallelize. The r18 spread bought no compute win and taxed every
    * downstream stage of 23 vector queries with session-width task
    * floors (jstack: per-task codegen/classlink dominates these stages
    * at gate scale, ~0.2-0.3 cpu-s per near-empty task). Text paths keep
    * their spread — their explode factor is 30-100× input bytes. */
  private[graft] def embedRel(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("v", col("embedding").cast("array<double>"))

  /** Shared oracle CTE body for the SemDeDup component labels: first-K
    * quantizer, within-cell ≥0.4-cosine edges, recursive min-label walk.
    * `lab` is (vec_id, cluster); `e` is (vec_id, v). Consumed by
    * q_embed_clusters and q_semdedup_keep so the grouping the retention
    * rule runs on is the SAME verified grouping. */
  private val embedClusterCtes: String =
    """e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |kk AS (SELECT GREATEST(COUNT(*) // 32, 1) AS kc FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e, kk WHERE vec_id < kc),
      |asg AS (
      |  SELECT vec_id, v, cid FROM (
      |    SELECT e.vec_id, e.v, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
      |    FROM e CROSS JOIN c) WHERE rn = 1),
      |p AS (SELECT a.vec_id AS va, b.vec_id AS vb
      |      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
      |      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4),
      |edges AS (SELECT va AS ea, vb AS eb FROM p
      |          UNION SELECT vb, va FROM p),
      |walk(node, label) AS (
      |  SELECT vec_id, vec_id FROM embeddings
      |  UNION
      |  SELECT eb, w.label FROM walk w JOIN edges ee ON ee.ea = w.node),
      |lab AS (SELECT node AS vec_id, MIN(label) AS cluster FROM walk GROUP BY node)""".stripMargin

  /** (vec_id, v, cluster) — the cell-blocked SemDeDup components (first-K
    * quantizer, within-cell exact-cosine edges, alternating-star
    * connected components). */
  private def embedComponents(s: SparkSession, d: String): DataFrame =
    // staged ONCE per (context, sfDir) as a parquet artifact: FOUR gate
    // consumers (q_embed_clusters, q_semdedup_keep, q_stream_semdedup,
    // and their downstream relations) each re-derived the full
    // clustering chain before — an executor cache is released when
    // its query returns, so it shared nothing across them (~70
    // combined cpu-s of re-derivation at sf0.1). Every consumer's
    // oracle still states the full derivation, so a stale artifact
    // hash-mismatches.
    // eager: the driver's artifact write reads it after the corpus
    // scope has closed
    Artifacts.parquet(s, d, "sem_components") {
      Artifacts.scoped(embedRel(s, d)) { e =>
        componentsCells(e, quantCentroids(e)).localCheckpoint()
      }
    }

  /** First-k coarse-quantizer centroids of a (vec_id, v) relation
    * (k = |e|/32 — the same codebook-scale collect every SemDeDup
    * consumer shares; the oracle states `vec_id < kc`). */
  private[graft] def quantCentroids(e: DataFrame): IndexedSeq[IndexedSeq[Double]] = {
    val k = math.max(1L, e.count() / 32L).toInt
    e.filter(col("vec_id") < k).orderBy(col("vec_id"))
      .select(col("v")).collect().map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
  }

  /** Cell-blocked SemDeDup components of `e` under a given quantizer:
    * (vec_id, v, cell, cluster). Edges never cross cells, so every
    * component lives in exactly ONE cell — `cell` rides along for
    * consumers that need the cluster→cell map (the incremental refresh
    * probes new vectors into their cell's clusters only). */
  private[graft] def componentsCells(e: DataFrame,
      cents: IndexedSeq[IndexedSeq[Double]]): DataFrame = {
    // spread kept here (unlike the plain embedRel consumers): the
    // quantizer is corpus-proportional (k = n/32), so assignment is
    // O(n·k·dim) — quadratic posture — and the within-cell pair join
    // fans out quadratically per cell downstream
    val asg = Tables.spread(e, col("vec_id")).withColumn("cell",
      element_at(graft.functions.VectorExpressions.nearestCells(col("v"), cents, 1), 1))
    val a = asg.select(col("cell"), col("vec_id").as("va"), col("v").as("xa"))
    val b = asg.select(col("cell"), col("vec_id").as("vb"), col("v").as("xb"))
    val edges = a.join(b, Seq("cell"))
      .filter(col("va") < col("vb") &&
        round(VectorFunctions.cosine(col("xa"), col("xb")), 6) >= 0.4)
      .select(col("va").as("a"), col("vb").as("b"))
    val nodes = e.select(col("vec_id").as("node"))
    graft.ops.ConnectedComponents.components(edges, nodes)
      .select(col("node").as("vec_id"), col("component").as("cluster"))
      .join(asg, "vec_id")
  }


  /** q_semdedup_keep / q_stream_semdedup oracle: the full derivation —
    * grouping, centroid means, per-vector centroid cosine, per-cluster
    * keeper by (cent_cos ASC, vec_id ASC). Stated once, consumed by both
    * the batch query and its streaming twin. */
  private lazy val semdedupKeepSql: String =
    s"""WITH RECURSIVE $embedClusterCtes,
         |mm AS (SELECT l.cluster, e.vec_id, CAST(u.i AS INT) AS i,
         |         e.v[CAST(u.i AS INT)] AS x
         |       FROM lab l JOIN e ON e.vec_id = l.vec_id,
         |            unnest(range(1, 65)) AS u(i)),
         |cm AS (SELECT cluster, i,
         |         CAST(SUM(CAST(round(x, 6) AS DECIMAL(18,6))) AS DOUBLE)
         |           / COUNT(*) AS m
         |       FROM mm GROUP BY cluster, i),
         |d2 AS (SELECT mm.cluster, mm.vec_id,
         |         CAST(SUM(CAST(round(mm.x * cm.m, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sd,
         |         CAST(SUM(CAST(round(mm.x * mm.x, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sa,
         |         CAST(SUM(CAST(round(cm.m * cm.m, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sb
         |       FROM mm JOIN cm ON mm.cluster = cm.cluster AND mm.i = cm.i
         |       GROUP BY mm.cluster, mm.vec_id),
         |sc2 AS (SELECT cluster, vec_id,
         |          CASE WHEN sa = 0 OR sb = 0 THEN 0.0
         |            ELSE round(sd / (sqrt(sa) * sqrt(sb)), 6) END AS cent_cos
         |        FROM d2),
         |r AS (SELECT cluster, vec_id, cent_cos,
         |        ROW_NUMBER() OVER (PARTITION BY cluster
         |          ORDER BY cent_cos, vec_id) AS rn
         |      FROM sc2)
         |SELECT vec_id, cluster, cent_cos, rn = 1 AS keep
         |FROM r ORDER BY vec_id""".stripMargin

  /** Per-(cluster, dim) centroid means over the exploded (cluster,
    * vec_id, i, x) relation — ONE map-side-combinable aggregate under
    * the decimal discipline; output keys renamed (cc, ci) for the
    * re-join. */
  private[graft] def semdedupCentroids(x: DataFrame): DataFrame =
    x.groupBy(col("cluster").as("cc"), col("i").as("ci"))
      .agg((sum(round(col("x"), 6).cast("decimal(18,6)")).cast("double") /
        count(lit(1))).as("m"))

  /** Centroid cosine per (cluster, vec_id): co-partitioned re-join on
    * the (cluster, dim) key — the centroid relation is corpus-
    * proportional in cluster count and is deliberately NOT broadcast. */
  private[graft] def semdedupCentCos(x: DataFrame, cm: DataFrame): DataFrame =
    x.join(cm, col("cluster") === col("cc") && col("i") === col("ci"))
      .groupBy(col("cluster"), col("vec_id"))
      .agg(
        sum(round(col("x") * col("m"), 6).cast("decimal(18,6)"))
          .cast("double").as("sd"),
        sum(round(col("x") * col("x"), 6).cast("decimal(18,6)"))
          .cast("double").as("sa"),
        sum(round(col("m") * col("m"), 6).cast("decimal(18,6)"))
          .cast("double").as("sb"))
      .select(col("cluster"), col("vec_id"),
        when(col("sa") === 0 || col("sb") === 0, 0.0)
          .otherwise(round(col("sd") / (sqrt(col("sa")) * sqrt(col("sb"))), 6))
          .as("cent_cos"))

  /** The (cent_cos ASC, vec_id ASC) winner per cluster as min(struct) —
    * map-side combinable (matches the oracle's row_number choice), then
    * joined back for the keep flag. No WindowExec (PlanSuite). */
  private[graft] def semdedupDecision(scd: DataFrame): DataFrame = {
    val keep = scd.groupBy(col("cluster").as("kc"))
      .agg(min(struct(col("cent_cos").as("c"), col("vec_id").as("vv"))).as("k"))
      .select(col("kc"), col("k.vv").as("keep_id"))
    scd.join(keep, col("cluster") === col("kc"))
      .select(col("vec_id"), col("cluster"), col("cent_cos"),
        (col("vec_id") === col("keep_id")).as("keep"))
  }

  /** The absorption kernel of the incremental SemDeDup refresh, with
    * EXPLICIT frozen state: each new (vec_id, v) row probes its quantizer
    * cell (stored codebook `cents`), meets ONLY that cell's clusters via
    * the cluster→cell map `clCell` (cl, cell), scores centroid cosine
    * against the STORED centroids `cm`, and absorbs into its best
    * cluster (score DESC, cluster ASC). Returns batch-scale
    * (cluster, vec_id, cent_cos) decision rows, materialized ONCE
    * eagerly (the newBands.localCheckpoint pattern) — the keeper
    * decision consumes the merged ledger twice, and an un-materialized
    * result would re-score the whole batch per consumer. Factored so the
    * multi-batch lifecycle (SnapshotLifecycleSuite) absorbs through the
    * SAME kernel as the single-refresh query; per-vector absorption
    * reads only frozen state, so batch composition is associative. */
  private[graft] def semdedupAbsorb(newE: DataFrame,
      cents: IndexedSeq[IndexedSeq[Double]], cm: DataFrame,
      clCell: DataFrame): DataFrame = {
    // spread BEFORE the fan-out (r19): each new vector meets every
    // cluster of its cell × 64 dims — a ~cellClusters×64 row expansion
    // per input row. embedRel no longer session-spreads (the plain
    // kernels never needed it), but THIS map side does: on a single
    // input split the expansion ran serial (q_incremental_semdedup
    // 1.15 → 4.41 s wall at flat cpu when the spread was dropped).
    val xn = Tables.spread(newE, col("vec_id"))
      .withColumn("cell", element_at(
        graft.functions.VectorExpressions.nearestCells(col("v"), cents, 1), 1))
      .join(clCell, Seq("cell"))
      .select(col("cl").as("cluster"), col("vec_id"),
        posexplode(col("v")).as(Seq("i", "x")))
    semdedupCentCos(xn, cm)
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cent_cos").as("c"), (-col("cluster")).as("nc")))
        .as("k"))
      .select((-col("k.nc")).as("cluster"), col("vec_id"),
        col("k.c").as("cent_cos"))
      // eager: PlanSuite pins the incremental family's absorbed batch as
      // materialized; the keeper decision reads it twice
      .localCheckpoint()
  }

  /** q_incremental_semdedup oracle: the FULL recompute of the
    * incremental refresh semantics — historical clustering/centroids/
    * scores over the old snapshot (vec_id % 8 <> 0), each new vector
    * probed into its quantizer cell and absorbed into that cell's
    * best-centroid-cosine cluster (score DESC, cluster ASC), keeper
    * re-decided over the merged ledger. The engine serves the
    * historical side from stored artifacts; a stale artifact, wrong
    * probe, or drifted absorption rule hash-mismatches here. */
  private lazy val incSemdedupSql: String =
    s"""WITH RECURSIVE
       |eh AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |       FROM embeddings WHERE ${DedupOps.newIdSql("vec_id", not = true)}),
       |kk AS (SELECT GREATEST(COUNT(*) // 32, 1) AS kc FROM eh),
       |c AS (SELECT vec_id AS cid, v AS cv FROM eh, kk WHERE vec_id < kc),
       |asg AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT eh.vec_id, eh.v, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY eh.vec_id
       |        ORDER BY list_distance(eh.v, c.cv), c.cid) AS rn
       |    FROM eh CROSS JOIN c) WHERE rn = 1),
       |p AS (SELECT a.vec_id AS va, b.vec_id AS vb
       |      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4),
       |edges AS (SELECT va AS ea, vb AS eb FROM p
       |          UNION SELECT vb, va FROM p),
       |walk(node, label) AS (
       |  SELECT vec_id, vec_id FROM eh
       |  UNION
       |  SELECT eb, w.label FROM walk w JOIN edges ee ON ee.ea = w.node),
       |lab AS (SELECT node AS vec_id, MIN(label) AS cluster FROM walk GROUP BY node),
       |mm AS (SELECT l.cluster, e.vec_id, CAST(u.i AS INT) AS i,
       |         e.v[CAST(u.i AS INT)] AS x
       |       FROM lab l JOIN eh e ON e.vec_id = l.vec_id,
       |            unnest(range(1, 65)) AS u(i)),
       |cm AS (SELECT cluster, i,
       |         CAST(SUM(CAST(round(x, 6) AS DECIMAL(18,6))) AS DOUBLE)
       |           / COUNT(*) AS m
       |       FROM mm GROUP BY cluster, i),
       |d2 AS (SELECT mm.cluster, mm.vec_id,
       |         CAST(SUM(CAST(round(mm.x * cm.m, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sd,
       |         CAST(SUM(CAST(round(mm.x * mm.x, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sa,
       |         CAST(SUM(CAST(round(cm.m * cm.m, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sb
       |       FROM mm JOIN cm ON mm.cluster = cm.cluster AND mm.i = cm.i
       |       GROUP BY mm.cluster, mm.vec_id),
       |sc2 AS (SELECT cluster, vec_id,
       |          CASE WHEN sa = 0 OR sb = 0 THEN 0.0
       |            ELSE round(sd / (sqrt(sa) * sqrt(sb)), 6) END AS cent_cos
       |        FROM d2),
       |ccell AS (SELECT DISTINCT l.cluster, a.cid
       |          FROM lab l JOIN asg a ON a.vec_id = l.vec_id),
       |en AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |       FROM embeddings WHERE ${DedupOps.newIdSql("vec_id")}),
       |nasg AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT en.vec_id, en.v, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY en.vec_id
       |        ORDER BY list_distance(en.v, c.cv), c.cid) AS rn
       |    FROM en CROSS JOIN c) WHERE rn = 1),
       |nmm AS (SELECT cc.cluster, n.vec_id, CAST(u.i AS INT) AS i,
       |          n.v[CAST(u.i AS INT)] AS x
       |        FROM nasg n JOIN ccell cc ON cc.cid = n.cid,
       |             unnest(range(1, 65)) AS u(i)),
       |nd2 AS (SELECT nmm.cluster, nmm.vec_id,
       |          CAST(SUM(CAST(round(nmm.x * cm.m, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sd,
       |          CAST(SUM(CAST(round(nmm.x * nmm.x, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sa,
       |          CAST(SUM(CAST(round(cm.m * cm.m, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sb
       |        FROM nmm JOIN cm ON nmm.cluster = cm.cluster AND nmm.i = cm.i
       |        GROUP BY nmm.cluster, nmm.vec_id),
       |nsc AS (SELECT cluster, vec_id,
       |          CASE WHEN sa = 0 OR sb = 0 THEN 0.0
       |            ELSE round(sd / (sqrt(sa) * sqrt(sb)), 6) END AS cent_cos
       |        FROM nd2),
       |npick AS (SELECT cluster, vec_id, cent_cos FROM (
       |    SELECT cluster, vec_id, cent_cos,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY cent_cos DESC, cluster) AS rn
       |    FROM nsc) WHERE rn = 1),
       |merged AS (SELECT cluster, vec_id, cent_cos FROM sc2
       |           UNION ALL SELECT cluster, vec_id, cent_cos FROM npick),
       |r AS (SELECT cluster, vec_id, cent_cos,
       |        ROW_NUMBER() OVER (PARTITION BY cluster
       |          ORDER BY cent_cos, vec_id) AS rn
       |      FROM merged)
       |SELECT vec_id, cluster, cent_cos, rn = 1 AS keep
       |FROM r ORDER BY vec_id""".stripMargin

  /** Recall-verdict row for an ANN result `(src, nbr, sim, …)`: compares
    * the ANN answer for the first 100 vectors against their exact top-1
    * similarity (one linear broadcast pass — the probe subset keeps the
    * exact check O(probes·n), never O(n²)) and emits ONE row the driver
    * can oracle: total/answered/probe counts are exact SQL-predictable,
    * and `recall_ok` encodes the operator's recall floor — if the ANN
    * index degrades (bad planes, broken banding, lost coverage), a count
    * or the boolean flips and the row hash mismatches. `sim` is the exact
    * cosine of the chosen neighbor (rounded 6dp), so a 1e-5 tolerance
    * covers rounding while treating near-tie neighbors as hits. */
  /** Oracle for [[recallVerdict]] rows: the counts are exact functions of
    * the table; `recall_ok` asserts the floor holds. */
  private val annVerdictSql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
      |  CAST(COUNT(*) AS BIGINT) AS n_answered,
      |  CAST(LEAST(COUNT(*), 100) AS BIGINT) AS n_probes,
      |  true AS recall_ok
      |FROM embeddings""".stripMargin

  private def recallVerdict(s: SparkSession, d: String, ann: DataFrame,
                            floor: Double): DataFrame = {
    val e = embedRel(s, d)
    val probes = e.filter(col("vec_id") < 100)
      .select(col("vec_id").as("src"), col("v").as("va"))
    val exact1 = broadcast(probes)
      .crossJoin(e.select(col("vec_id").as("nbr"), col("v").as("vb")))
      .filter(col("src") =!= col("nbr"))
      .groupBy(col("src"))
      .agg(max(VectorFunctions.cosine(col("va"), col("vb"))).as("best_sim"))
    val probeStats = ann.join(exact1, "src")
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("sim") >= col("best_sim") - 1e-5, 1L).otherwise(0L)).as("n_hits"))
    val totals = e.agg(count(lit(1)).as("n_vectors"))
    val answered = ann.agg(count(lit(1)).as("n_answered"))
    totals.crossJoin(answered).crossJoin(probeStats)
      .select(col("n_vectors"), col("n_answered"), col("n_probes"),
        (col("n_hits").cast("double") / col("n_probes") >= floor).as("recall_ok"))
  }

  val all: Seq[Q] = Seq(

    // ---- Brute-force top-k cosine to one query vector (ANN baseline).
    // The query vector is broadcast; the scan is a single pass.
    Q("q_embed_topk",
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT vec_id,
        |        round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) AS sim
        |      FROM embeddings, q WHERE vec_id <> 0)
        |SELECT vec_id, sim FROM s ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d).withColumn("v", col("embedding").cast("array<double>"))
      val qv = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"),
          round(VectorFunctions.cosine(col("v"), col("qv")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    },

    // ---- Late-interaction (ColBERT-style) MaxSim retrieval: the query
    // is a SET of vectors (vec_id < 4) and each candidate document is a
    // label group; score = Σ over query vectors of the best cosine to
    // any vector in the group. The query set broadcasts; per-(group,
    // query-vector) maxes combine map-side, so the corpus crosses one
    // narrow shuffle on the group key — the multi-vector analogue of
    // q_embed_topk's single-vector scan. Per-query bests round to 6dp
    // and sum as DECIMAL (order-independent).
    Q("q_maxsim",
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 4),
        |c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id >= 4),
        |m AS (SELECT c.label, q.qid,
        |        MAX(round(list_cosine_similarity(c.v, q.qv), 6)) AS best
        |      FROM c CROSS JOIN q GROUP BY c.label, q.qid)
        |SELECT label, round(CAST(SUM(CAST(best AS DECIMAL(18,6))) AS DOUBLE), 6)
        |  AS maxsim
        |FROM m GROUP BY label ORDER BY maxsim DESC, label""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
        .withColumn("v", col("embedding").cast("array<double>"))
      val q = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      e.filter(col("vec_id") >= 4).select(col("label"), col("v"))
        .crossJoin(broadcast(q))
        .select(col("label"), col("qid"),
          round(VectorFunctions.cosine(col("v"), col("qv")), 6).as("sim"))
        .groupBy(col("label"), col("qid")).agg(max(col("sim")).as("best"))
        .select(col("label"), col("best").cast("decimal(18,6)").as("b"))
        .groupBy(col("label")).agg(sum(col("b")).as("s"))
        .select(col("label"), round(col("s").cast("double"), 6).as("maxsim"))
        .orderBy(col("maxsim").desc, col("label"))
    },

    // ---- Margin-based bitext mining (the LASER/CCMatrix criterion):
    // pair sentences across two languages by embedding similarity, but
    // accept a pair only when its cosine stands OUT of the source's
    // neighborhood — margin = best / mean(top-k, k = actual retained
    // ≤ 4) ≥ 1.1 — which kills
    // the hubness false positives an absolute threshold lets through.
    // Labels stand in for languages (label 0 = source, 1 = target).
    // Shape: the target side broadcasts (the minority language's
    // embedding table — at 100 TB the brute-force inner loop becomes
    // the IVF probe-cell join of q_ann_ivf and the margin formula is
    // unchanged); top-4 per source via the native bounded-heap
    // TopKPerKey, never a window sort; the mean is an exact DECIMAL
    // sum of 6dp-rounded sims, so the margin divides identical doubles
    // on both engines.
    Q("q_bitext_mining",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        |           FROM embeddings),
        |a AS (SELECT vec_id, v FROM e WHERE label = 0),
        |b AS (SELECT vec_id, v FROM e WHERE label = 1),
        |p AS (SELECT a.vec_id AS src, b.vec_id AS tgt,
        |        round(list_cosine_similarity(a.v, b.v), 6) AS sim
        |      FROM a CROSS JOIN b),
        |t AS (SELECT src, tgt, sim, ROW_NUMBER() OVER (
        |        PARTITION BY src ORDER BY sim DESC, tgt) AS rn FROM p),
        |m AS (SELECT src,
        |        MAX(CASE WHEN rn = 1 THEN tgt END) AS tgt,
        |        MAX(CASE WHEN rn = 1 THEN sim END) AS sim,
        |        CAST(SUM(CAST(sim AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg4
        |      FROM t WHERE rn <= 4 GROUP BY src)
        |SELECT src, tgt, sim, round(sim / avg4, 6) AS margin FROM m
        |WHERE round(sim / avg4, 6) >= 1.1 ORDER BY src""".stripMargin) { (s, d) =>
      val e = Tables.spread(Tables.embeddings(s, d), col("vec_id"))
        .withColumn("v", col("embedding").cast("array<double>"))
      val a = e.filter(col("label") === 0)
        .select(col("vec_id").as("src"), col("v").as("va"))
      val b = e.filter(col("label") === 1)
        .select(col("vec_id").as("tgt"), col("v").as("vb"))
      val scored = a.crossJoin(broadcast(b))
        .select(col("src"), col("tgt"),
          round(VectorFunctions.cosine(col("va"), col("vb")), 6).as("sim"))
      val top4 = graft.plans.TopKPerKey(scored, Seq("src"),
        Seq(col("sim").desc, col("tgt").asc), k = 4)
      top4.groupBy(col("src"))
        .agg(
          // min(struct(-sim, tgt)) = the (sim DESC, tgt ASC) winner
          min(struct((-col("sim")).as("ns"), col("tgt").as("tg"))).as("m1"),
          // mean over the ACTUAL retained k (≤4): when the minority side
          // has <4 rows, dividing by the literal 4 understates the mean
          // and inflates the margin past what LASER's criterion admits
          (sum(col("sim").cast("decimal(18,6)")).cast("double") /
            count(lit(1))).as("avg4"))
        .select(col("src"), col("m1.tg").as("tgt"), (-col("m1.ns")).as("sim"),
          round((-col("m1.ns")) / col("avg4"), 6).as("margin"))
        .filter(col("margin") >= 1.1)
        .orderBy(col("src"))
    },

    // ---- Cluster-quality evaluation: simplified (centroid-based)
    // silhouette per label — the metric that decides whether an
    // embedding clustering is usable before anything downstream trusts
    // it. True silhouette is point-to-point (quadratic); the centroid
    // form is the standard at-scale variant: a(i) = dist to own
    // centroid, b(i) = min dist to any other, s = (b-a)/max(a,b).
    // Shape: centroids are one map-side-combinable per-(label, dim)
    // aggregate (exact DECIMAL means of 6dp-rounded components — order-
    // independent); the 640-row centroid table broadcasts; per-point
    // distances expand each row ×|labels| map-side and re-aggregate on
    // the point key. Squared diffs quantize at 6dp BEFORE the decimal
    // sum — at O(10) magnitudes a 12dp round would sit within an ulp of
    // half-integers often enough for the two engines' rounding paths to
    // disagree; at 6dp the boundary probability is ~1e-8 per value.
    Q("q_silhouette",
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |x AS (SELECT vec_id, label, CAST(u.i AS INT) AS i,
        |        v[CAST(u.i AS INT)] AS x
        |      FROM e, unnest(range(1, 65)) AS u(i)),
        |cm AS (SELECT label AS clabel, i,
        |         CAST(SUM(CAST(round(x, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |           / COUNT(*) AS m
        |       FROM x GROUP BY label, i),
        |d2 AS (SELECT x.vec_id, x.label, cm.clabel,
        |         round(sqrt(CAST(SUM(CAST(round((x.x - cm.m)*(x.x - cm.m), 6)
        |           AS DECIMAL(18,6))) AS DOUBLE)), 6) AS dist
        |       FROM x JOIN cm ON cm.i = x.i
        |       GROUP BY x.vec_id, x.label, cm.clabel),
        |sil AS (SELECT vec_id, label,
        |          MAX(CASE WHEN clabel = label THEN dist END) AS a,
        |          MIN(CASE WHEN clabel <> label THEN dist END) AS b
        |        FROM d2 GROUP BY vec_id, label)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
        |  round(CAST(SUM(CAST(round((b - a) / greatest(a, b), 6)
        |    AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_sil,
        |  CAST(SUM(CASE WHEN round((b - a) / greatest(a, b), 6) < 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_misplaced
        |FROM sil GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      val e = Tables.spread(Tables.embeddings(s, d), col("vec_id"))
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("i", "x")))
      val cm = e.groupBy(col("label").as("clabel"), col("i").as("ci"))
        .agg((sum(round(col("x"), 6).cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("m"))
      val d2 = e.join(broadcast(cm), col("i") === col("ci"))
        .groupBy(col("vec_id"), col("label"), col("clabel"))
        .agg(round(sqrt(
          sum(round((col("x") - col("m")) * (col("x") - col("m")), 6)
            .cast("decimal(18,6)")).cast("double")), 6).as("dist"))
      val sCol = round((col("b") - col("a")) / greatest(col("a"), col("b")), 6)
      d2.groupBy(col("vec_id"), col("label"))
        .agg(max(when(col("clabel") === col("label"), col("dist"))).as("a"),
          min(when(col("clabel") =!= col("label"), col("dist"))).as("b"))
        .select(col("label"), sCol.as("sv"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("sv").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("mean_sil"),
          sum(when(col("sv") < 0, 1L).otherwise(0L)).as("n_misplaced"))
        .orderBy(col("label"))
    },

    // ---- Embedding whitening (Su et al. 2021, "Whitening Sentence
    // Representations" — the diagonal/standardization variant): per-
    // dimension standardize x' = (x − μ_i)/σ_i so downstream cosine
    // retrieval isn't dominated by high-variance dimensions (anisotropy).
    // Emitted per vector as the component-sum checksum and the whitened
    // L2 norm, so the oracle pins every component without shipping 64
    // doubles per row through the hash compare. At 100 TB: the moment
    // pass is ONE map-side-combinable per-dimension aggregate (64 rows
    // out — metadata-scale, broadcasts), the apply pass is a broadcast
    // join + per-vector aggregate; nothing shuffles vector payloads.
    // Determinism: components and squares round to 6dp then sum as
    // DECIMAL (order-independent); σ rounds to 6dp; a zero-variance
    // dimension is DEFINED as contributing 0 (Spark double-division
    // yields Infinity where DuckDB NULLs — the CASE pins both).
    Q("q_embed_whiten",
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |x AS (SELECT vec_id, label, CAST(u.i AS INT) AS i,
        |        v[CAST(u.i AS INT)] AS x
        |      FROM e, unnest(range(1, 65)) AS u(i)),
        |mo AS (SELECT i,
        |    CAST(SUM(CAST(round(x, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |      / COUNT(*) AS m,
        |    CAST(SUM(CAST(round(x*x, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |      / COUNT(*) AS m2
        |  FROM x GROUP BY i),
        |sd AS (SELECT i, m,
        |         round(sqrt(greatest(m2 - m*m, 0)), 6) AS sd FROM mo),
        |w AS (SELECT x.vec_id, x.label,
        |        CASE WHEN sd.sd = 0 THEN 0.0
        |          ELSE round((x.x - sd.m) / sd.sd, 6) END AS w
        |      FROM x JOIN sd ON x.i = sd.i)
        |SELECT vec_id, label,
        |  round(CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE), 6) AS chk,
        |  round(sqrt(CAST(SUM(CAST(round(w*w, 6) AS DECIMAL(18,6)))
        |    AS DOUBLE)), 6) AS nrm
        |FROM w GROUP BY vec_id, label ORDER BY vec_id""".stripMargin) { (s, d) =>
      val x = Tables.spread(Tables.embeddings(s, d), col("vec_id"))
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("i", "x")))
      val sd = x.groupBy(col("i").as("si"))
        .agg(
          (sum(round(col("x"), 6).cast("decimal(18,6)")).cast("double") /
            count(lit(1))).as("m"),
          (sum(round(col("x") * col("x"), 6).cast("decimal(18,6)"))
            .cast("double") / count(lit(1))).as("m2"))
        // clamp before sqrt: x and x² round to 6dp INDEPENDENTLY, so a
        // near-constant dimension can make m2 − m² fractionally negative
        // (≈ −1e-12) — Spark would NaN where DuckDB errors; the clamp
        // routes that case into the sd=0 zero-contribution branch on
        // both engines
        .select(col("si"), col("m"),
          round(sqrt(greatest(col("m2") - col("m") * col("m"), lit(0.0))), 6)
            .as("sd"))
      // 64 rows — hard-bounded by the dimension, broadcast is safe
      val w = x.join(broadcast(sd), col("i") === col("si"))
        .select(col("vec_id"), col("label"),
          when(col("sd") === 0, 0.0)
            .otherwise(round((col("x") - col("m")) / col("sd"), 6)).as("w"))
      w.groupBy(col("vec_id"), col("label"))
        .agg(
          round(sum(col("w").cast("decimal(18,6)")).cast("double"), 6).as("chk"),
          round(sqrt(sum(round(col("w") * col("w"), 6).cast("decimal(18,6)"))
            .cast("double")), 6).as("nrm"))
        .orderBy(col("vec_id"))
    },

    // ---- Brute-force kNN join: top-3 neighbors for the first 50 vectors.
    // (Correctness baseline for the LSH path below; at scale the probe side
    // is the small/broadcast side.)
    Q("q_embed_knn",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS src, b.vec_id AS nbr,
        |        round(list_cosine_similarity(a.v, b.v), 6) AS sim
        |      FROM e a JOIN e b ON b.vec_id <> a.vec_id
        |      WHERE a.vec_id < 50)
        |SELECT src, nbr, sim FROM (
        |  SELECT src, nbr, sim,
        |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, nbr) AS rn
        |  FROM p) WHERE rn <= 3
        |ORDER BY src, sim DESC, nbr""".stripMargin) { (s, d) =>
      val e = Tables.spread(Tables.embeddings(s, d)
        .withColumn("v", col("embedding").cast("array<double>")), col("vec_id"))
      val probes = e.filter(col("vec_id") < 50).select(col("vec_id").as("src"), col("v").as("va"))
      val cands = e.select(col("vec_id").as("nbr"), col("v").as("vb"))
      // top-3 via the custom bounded-heap operator (plans.TopKPerKey):
      // each partition keeps ≤3 pairs per probe before the shuffle, so the
      // exchange carries O(k × probes × partitions) rows instead of every
      // scored pair — and nothing is sorted (the window formulation this
      // replaces is still the oracle, which the result hash-matches).
      val scored = broadcast(probes).crossJoin(cands)
        .filter(col("nbr") =!= col("src"))
        .select(col("src"), col("nbr"),
          round(VectorFunctions.cosine(col("va"), col("vb")), 6).as("sim"))
      graft.plans.TopKPerKey(scored, Seq("src"),
          Seq(col("sim").desc, col("nbr").asc), k = 3)
        .select(col("src"), col("nbr"), col("sim"))
        .orderBy(col("src"), col("sim").desc, col("nbr"))
    },

    // ---- Embedding-cosine near-duplicate pairs (north-star dedup row):
    // exact threshold pairs as the correctness baseline; the LSH/IVF
    // variants below are the scale path for the same operation.
    Q("q_embed_dedup",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |        round(list_cosine_similarity(a.v, b.v), 6) AS sim
        |      FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, sim FROM p WHERE sim >= 0.8
        |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
      // The stream side is spread because the test parquet is one
      // row-group → one partition, which would run the O(n²) pair kernel
      // on a single core; Tables.spread no-ops once the scan has real
      // splits. (The exact all-pairs form is the correctness baseline;
      // LSH/IVF below are the scale path.)
      val e = Tables.embeddings(s, d)
        .withColumn("v", col("embedding").cast("array<double>"))
      val a = Tables.spread(e, col("vec_id"))
        .select(col("vec_id").as("vec_a"), col("v").as("va"))
      val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"))
      // Both predicates live in the join condition, cheap one FIRST: left
      // as a post-join filter, Catalyst pushes `sim >= 0.8` in front of
      // `vec_a < vec_b`, evaluating the cosine for all n² ordered pairs
      // instead of the n²/2 that survive the id test.
      a.join(broadcast(b), col("vec_a") < col("vec_b") &&
          round(VectorFunctions.cosine(col("va"), col("vb")), 6) >= 0.8)
        .select(col("vec_a"), col("vec_b"),
          round(VectorFunctions.cosine(col("va"), col("vb")), 6).as("sim"))
        .orderBy(col("vec_a"), col("vec_b"))
    },

    // ---- Embedding near-dup GROUPS, cell-blocked (SemDeDup shape — Abbas
    // et al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    // semantic deduplication"): quantize every vector to its nearest
    // centroid cell, emit exact-cosine ≥ 0.4 edges WITHIN cells only (an
    // equi-join on cell id — never a cross join), then collapse pairs into
    // connected components keyed by minimum vec_id. Why not LSH-verified
    // edges like q_dedup_clusters: sign-LSH per-plane collision
    // probability at the 0.4 threshold is 1-acos(0.4)/π ≈ 0.65 (this
    // corpus's edge sims sit AT the threshold — min 0.4000/0.4005/0.40001
    // across SFs), so recall ~1 forces tables ≫ 2^planes and candidate
    // volume above brute force; no banding config exists that holds the
    // oracle's exactness. Cell-blocking is the published scale answer:
    // within-cell pair work is n × cellSize, the cell count is the
    // recall/cost dial, and the quantizer is driver-recomputable so the
    // oracle checks it bit-for-bit.
    //
    // Quantizer: K = max(1, n/32) centroids = the first K vectors (near-
    // uniform corpus — sampled ids match the distribution), one argmin
    // assignment pass (NearestCells: ties by centroid id, same order as
    // the oracle's ORDER BY dist, cid). K caps at what broadcasts
    // (~10⁵ × dim doubles at 100 TB — the standard IVF codebook bound)
    // with cell size growing past it; at test scale K tracks n so cells
    // stay ~32 and the plan is LINEAR in n, driver-verified at all 3 SFs.
    // Collecting K centroid rows is codebook training, not a data collect
    // (same adjudication as annIvfNeighbors).
    Q("q_embed_clusters",
      s"""WITH RECURSIVE $embedClusterCtes
         |SELECT l.vec_id, l.cluster, CAST(c2.csize AS BIGINT) AS csize
         |FROM lab l JOIN (SELECT cluster, COUNT(*) AS csize FROM lab GROUP BY cluster) c2
         |  ON l.cluster = c2.cluster
         |ORDER BY l.vec_id""".stripMargin) { (s, d) =>
      val comp = embedComponents(s, d)
      val sizes = comp.groupBy(col("cluster")).agg(count(lit(1)).as("csize"))
      comp.join(sizes, "cluster")
        .select(col("vec_id"), col("cluster"), col("csize"))
        .orderBy(col("vec_id"))
    },

    // ---- SemDeDup RETENTION (the paper's actual keep rule — Abbas et
    // al. 2023 §3): within each semantic-duplicate group, KEEP the
    // example with the LOWEST cosine to the group centroid (the most
    // atypical member — keeping the medoid would bias toward the mode;
    // the paper measures this rule best for downstream quality) and
    // drop the rest. Groups are q_embed_clusters' components (shared
    // derivation — the two queries cannot drift). Shape at 100 TB:
    // group centroids are one map-side-combinable (cluster, dim)
    // aggregate; the per-member cosine re-joins on the (cluster, dim)
    // key — co-partitioned with the centroid shuffle, never broadcast
    // (cluster count is corpus-proportional); the winner is a
    // min(struct) aggregate, no window sort on any corpus-scale path
    // (the oracle's row_number states the same choice). Determinism:
    // products round to 6dp then DECIMAL-sum, zero-norm sides pinned
    // to 0 like q_embed_whiten.
    Q("q_semdedup_keep", semdedupKeepSql) { (s, d) =>
      // x feeds BOTH the centroid aggregate and the cosine re-join, and
      // scd feeds BOTH decision consumers (keeper agg + join back) —
      // un-materialized, every consumer subtree re-derives the whole
      // clustering (profiled at ~29 of 35 cpu-s re-derivation). x is
      // scoped (exploded, dims×corpus, held for scd's checkpoint job
      // only); scd is checkpointed (one narrow row per vector — the
      // decision relation a production run materializes anyway).
      // eager: the scope's one driver action — x is released when the
      // scope closes, and a lazy scd would re-derive it
      Artifacts.scoped(embedComponents(s, d)
          .select(col("cluster"), col("vec_id"),
            posexplode(col("v")).as(Seq("i", "x")))) { x =>
        val scd = semdedupCentCos(x, semdedupCentroids(x)).localCheckpoint()
        semdedupDecision(scd).orderBy(col("vec_id"))
      }
    },

    // ---- STREAMING SemDeDup twin — the retention rule SERVED at ingest
    // per the established twin pattern: the offline snapshot's verified
    // grouping (lab) and per-cluster centroids are computed once before
    // the stream starts (on a refresh they come from the previous
    // snapshot's run); vectors then arrive in micro-batches and each
    // trigger joins its batch to the grouping, re-scores centroid cosine
    // for ONLY the batch rows (the per-(cluster, vec_id) aggregate is
    // batch-local by construction — every vector lives in exactly one
    // trigger), and appends the scored rows to the ledger through the
    // idempotent per-batch write. The drain applies the same
    // min(struct) keeper decision over the merged ledger. Shares
    // q_semdedup_keep's oracle verbatim — a dropped trigger, a stale
    // centroid, or train/serve scoring skew hash-mismatches.
    Q("q_stream_semdedup", semdedupKeepSql) { (s, d) =>
      Artifacts.scoped(embedComponents(s, d)) { comp =>
        comp.count() // materialize: every trigger joins the snapshot
        val lab = comp.select(col("vec_id"), col("cluster"))
        val x0 = comp.select(col("cluster"), col("vec_id"),
          posexplode(col("v")).as(Seq("i", "x")))
        Artifacts.scoped(semdedupCentroids(x0)) { cm =>
          cm.count()
          Staging.ledger(embedRel(s, d), "vec_id", 3) { (batch, id, out) =>
            val xb = batch.join(lab, "vec_id")
              .select(col("cluster"), col("vec_id"),
                posexplode(col("v")).as(Seq("i", "x")))
            Staging.writeBatch(semdedupCentCos(xb, cm), out, id)
          }(out => semdedupDecision(Staging.drainParquet(s, out)).orderBy(col("vec_id")))
        }
      }
    },

    // ---- INCREMENTAL SemDeDup — the embedding analogue of
    // q_incremental_dedup (the corpus-refresh shape): a new embedding
    // batch (vec_id % 8 = 0) is retained/dropped against the accumulated
    // snapshot WITHOUT recomputing the old side. The previous run's
    // quantizer codebook, per-cluster centroids, and scored member
    // ledger persist as parquet artifacts (Artifacts protocol); this run
    // only touches the NEW batch: each new vector probes its quantizer
    // cell (the stored codebook — a k-row collect), meets ONLY that
    // cell's clusters via an equi-join on the cluster→cell map (never a
    // corpus scan, never all clusters), scores centroid cosine against
    // the STORED centroids through the same decimal-discipline kernel as
    // q_semdedup_keep, absorbs into its best cluster (score DESC,
    // cluster ASC), and the keeper re-decides over the merged ledger via
    // the shared min(struct) aggregate — a new member with a lower
    // centroid cosine can displace a historical keeper, exactly like a
    // production refresh. Old-vs-old work is never re-paid: at 100 TB
    // the refresh is O(batch × cellClusters × dim) plus one
    // ledger-scale aggregate. The oracle restates the FULL recompute
    // (clustering, centroids, probe, absorption, merge), so a stale
    // artifact, a wrong probe cell, or absorption drift all
    // hash-mismatch. PlanSuite asserts the historical side enters the
    // final plan as artifact scans with exactly one embeddings scan
    // (the new batch's); IncrementalSemdedupSuite covers replay
    // idempotence, single derivation, and keeper displacement.
    Q("q_incremental_semdedup", incSemdedupSql) { (s, d) =>
      val e = embedRel(s, d)
      val isNew = DedupOps.isNewId("vec_id")
      Artifacts.scoped(e.filter(!isNew)) { hist =>
        // shared snapshot derivation, built AT MOST ONCE and only if some
        // artifact is missing (first snapshot run): evaluated ONLY inside
        // the derive closures, so a refresh run with all artifacts staged
        // never scans the historical corpus; shared between the quant
        // artifact and the clustering so the first snapshot build pays
        // one count + collect
        lazy val histCents = quantCentroids(hist)
        // eager: the driver's artifact writes read it inside the scope
        lazy val comp = componentsCells(hist, histCents).localCheckpoint()
        def explodeX(c: DataFrame): DataFrame =
          c.select(col("cluster"), col("vec_id"),
            posexplode(col("v")).as(Seq("i", "x")))
        val quant = Artifacts.parquet(s, d, "inc_sem_quant") {
          import s.implicits._
          histCents.zipWithIndex
            .map { case (v, i) => (i + 1, v.toArray) }.toDF("cell", "cv")
        }
        val cm = Artifacts.parquet(s, d, "inc_sem_centroids") {
          semdedupCentroids(explodeX(comp))
        }
        val ledger = Artifacts.parquet(s, d, "inc_sem_ledger") {
          // the centroid artifact just staged above feeds the scoring —
          // derivations chain through parquet, not through lineage
          semdedupCentCos(explodeX(comp), cm)
            .join(comp.select(col("vec_id"), col("cell")), "vec_id")
        }
        // ---- refresh path: new batch only ----
        val cents = quant.orderBy(col("cell")).collect()
          .map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq
        val clCell = ledger.select(col("cluster").as("cl"), col("cell")).distinct()
        val npick = semdedupAbsorb(e.filter(isNew), cents, cm, clCell)
        val merged = ledger.select(col("cluster"), col("vec_id"), col("cent_cos"))
          .unionByName(npick)
        semdedupDecision(merged).orderBy(col("vec_id"))
      }
    },

    // ---- IVF-style ANN: coarse quantizer = 16 centroids SAMPLED from the
    // dataset (evenly spaced ids — matches the data distribution, so cells
    // stay balanced; random hyperplane centroids left the hot cell
    // quadratically expensive). Vectors are assigned to their nearest
    // centroid (argmin over native SqDist exprs); neighbor search
    // equi-joins within the cell. At scale: the assignment is a linear
    // scan, the join shuffles on a low-cardinality cell id, recall is
    // tuned by probing more cells / k-means iterations. The registered
    // query emits the oracled recall verdict (see [[recallVerdict]]);
    // [[annIvfNeighbors]] is the full listing.
    Q("q_ann_ivf", annVerdictSql) { (s, d) =>
      recallVerdict(s, d, annIvfNeighbors(s, d), floor = 0.6)
    },

    // ---- PQ ANN: product-quantized top-k for one query vector — encode
    // all vectors to 16 subspace codes (32× compression; measured
    // recall@10 1.0 vs 0.7 at m=8), shortlist by ADC table lookups (16
    // additions per row, no vector arithmetic), exact-cosine re-rank the
    // shortlist to top-10. At 100 TB the code table fits in executor RAM
    // where vectors cannot; the shortlist+re-rank shape bounds exact
    // compute to candidates. Oracle: a recall verdict against the exact
    // top-10 (floor 0.8) — exact-EQUALITY is the wrong contract for PQ
    // on near-uniform vectors, whose rank-10 vs rank-400 sims differ in
    // the 3rd decimal (ADC noise ≈ the gap, so equality would demand an
    // unbounded shortlist); the verdict still turns red if the quantizer
    // or shortlist regresses.
    Q("q_ann_pq",
      """SELECT CAST(10 AS BIGINT) AS n_results, true AS recall_ok
        |FROM (SELECT 1)""".stripMargin) { (s, d) =>
      val pq = annPqTopk(s, d).select(col("vec_id"))
      val e = embedRel(s, d)
      val qv = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      val exact10 = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"),
          round(VectorFunctions.cosine(col("v"), col("qv")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
        .select(col("vec_id"))
      pq.agg(count(lit(1)).as("n_results")).crossJoin(
        pq.join(exact10, "vec_id").agg(count(lit(1)).as("n_hits")))
        .select(col("n_results"),
          (col("n_hits").cast("double") / 10.0 >= 0.8).as("recall_ok"))
    },

    // ---- ANN scale path: multi-table sign-projection LSH (16 tables × 4
    // planes, measured recall@1 ≈ 0.93 on the test embeddings vs 0.04 for
    // a single 6-plane table). Candidates come from per-(table,bucket)
    // equi-joins, deduped before the cosine pass. Sizing at scale: planes
    // grow with log2(n / targetBucketSize) so per-bucket populations stay
    // bounded; tables buy recall at a linear candidate-count cost (the
    // recall/cost dial of the operator). The registered query emits the
    // oracled recall verdict (see [[recallVerdict]]);
    // [[annLshNeighbors]] is the full listing.
    Q("q_ann_lsh", annVerdictSql) { (s, d) =>
      recallVerdict(s, d, annLshNeighbors(s, d), floor = 0.8)
    },

    // ---- Embedding-space OUTLIER detection (the data-quality gate for
    // an embedding pipeline: encoder regressions, corrupt inputs, and
    // off-distribution junk all land far from every centroid): quantize
    // each vector to its nearest centroid cell (the same
    // driver-recomputable first-K quantizer as q_embed_clusters, ties by
    // centroid id) and flag vectors whose cosine to their OWN centroid
    // falls below 0.2. One linear assignment pass + a broadcast join to
    // the K-row centroid table — no shuffle of corpus vectors, the same
    // codebook-scale bound as the IVF path. Rounding before the
    // threshold keeps the flag bit-stable across engines.
    Q("q_embed_outliers",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |kk AS (SELECT GREATEST(COUNT(*) // 32, 1) AS kc FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e, kk WHERE vec_id < kc),
        |asg AS (SELECT vec_id, cid, cv, v FROM (
        |  SELECT e.vec_id, e.v, c.cid, c.cv,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
        |  FROM e CROSS JOIN c) WHERE rn = 1)
        |SELECT vec_id, CAST(cid AS BIGINT) AS cell, cent_sim
        |FROM (SELECT vec_id, cid,
        |        round(list_cosine_similarity(v, cv), 6) AS cent_sim
        |      FROM asg)
        |WHERE cent_sim < 0.2 ORDER BY vec_id""".stripMargin) { (s, d) =>
      // eager: a driver count, the driver's centroid collect and the
      // returned plan all read the cast vectors
      val e = embedRel(s, d).localCheckpoint()
      val k = math.max(1L, e.count() / 32L).toInt
      val cents = e.filter(col("vec_id") < k).orderBy(col("vec_id"))
        .select(col("v")).collect().map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
      // centRel is built FROM the collected `cents` array keyed by its
      // 0-based index — the same index NearestCells emits — so the join
      // is aligned by construction; keying on vec_id instead would only
      // be correct while ids happen to be 0-based and contiguous (the
      // fixture contract the ORACLE also assumes, but the Spark side
      // should not silently depend on it twice)
      import s.implicits._
      val centRel = cents.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toArray) }.toDF("cell", "cv")
      e.withColumn("cell",
          element_at(graft.functions.VectorExpressions.nearestCells(col("v"), cents, 1), 1)
            .cast("long"))
        .join(broadcast(centRel), "cell")
        .select(col("vec_id"), col("cell"),
          round(VectorFunctions.cosine(col("v"), col("cv")), 6).as("cent_sim"))
        .filter(col("cent_sim") < 0.2)
        .orderBy(col("vec_id"))
    },

    // ---- SEMANTIC decontamination: flag training vectors whose cosine
    // to ANY benchmark vector (label = 0 plays the held-out benchmark
    // here) reaches 0.35 — the embedding-space complement of the 13-gram
    // q_decontaminate pair. This is the canonical 100 TB shape for the
    // operator: benchmark embedding sets are always tiny relative to the
    // corpus, so the benchmark side is BROADCAST and the whole query is
    // one map-side pass over the corpus scan (per-row max over the
    // broadcast set, map-side-combinable max aggregate) — no shuffle of
    // corpus vectors, no candidate-generation machinery needed. Rounding
    // to 6dp happens BEFORE the max on both sides so the threshold
    // comparison is bit-stable across engines.
    Q("q_semantic_decon",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        |           FROM embeddings),
        |m AS (SELECT a.vec_id,
        |        max(round(list_cosine_similarity(a.v, b.v), 6)) AS max_sim
        |      FROM e a JOIN e b ON b.label = 0 AND a.label <> 0
        |      GROUP BY a.vec_id)
        |SELECT vec_id, max_sim FROM m WHERE max_sim >= 0.35
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val e = embedRel(s, d)
      val bench = e.filter(col("label") === 0).select(col("v").as("bv"))
      // the streamed side keeps its spread (unlike the plain embedRel
      // consumers): per-row work here is |benchmark set| × dim — the
      // corpus × bounded-set quadratic posture of q_embed_dedup
      Tables.spread(e.filter(col("label") =!= 0), col("vec_id"))
        .crossJoin(broadcast(bench))
        .select(col("vec_id"),
          round(VectorFunctions.cosine(col("v"), col("bv")), 6).as("sim"))
        .groupBy(col("vec_id"))
        .agg(max(col("sim")).as("max_sim"))
        .filter(col("max_sim") >= 0.35)
        .orderBy(col("vec_id"))
    },

    // ---- kNN label propagation (auto-labeling): predict a label for
    // every unlabeled vector by majority vote of its 5 nearest labeled
    // neighbors. The labeled seed set (vec_id % 5 = 0 stands in for the
    // small human-labeled pool) is BROADCAST — the realistic asymmetry at
    // 100 TB is a bounded labeled set vs an unbounded corpus — so
    // similarity compute is map-side; the per-vector top-5 goes through
    // the native bounded-heap operator (plans.TopKPerKey keeps ≤5 rows
    // per key BEFORE the exchange — shuffle volume is 5 rows/vector, and
    // no Sort node exists anywhere, asserted in PlanSuite) and the
    // majority vote is a map-side-combinable min(struct) — votes DESC,
    // label ASC tiebreak, integer-only ranking so membership can never
    // flip on a float ulp. Neighbor ranking ties break on labeled vec_id
    // on both sides.
    Q("q_knn_classify",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        |           FROM embeddings),
        |l AS (SELECT vec_id AS lid, v, label AS nl FROM e WHERE vec_id % 5 = 0),
        |u AS (SELECT vec_id, v FROM e WHERE vec_id % 5 <> 0),
        |p AS (SELECT u.vec_id, l.nl, l.lid,
        |        round(list_cosine_similarity(u.v, l.v), 6) AS sim
        |      FROM u CROSS JOIN l),
        |r AS (SELECT vec_id, nl FROM (
        |        SELECT vec_id, nl,
        |          ROW_NUMBER() OVER (PARTITION BY vec_id
        |            ORDER BY sim DESC, lid) AS rn
        |        FROM p) WHERE rn <= 5),
        |v AS (SELECT vec_id, nl, COUNT(*) AS n_votes FROM r GROUP BY vec_id, nl),
        |w AS (SELECT vec_id, nl AS pred_label, n_votes,
        |        ROW_NUMBER() OVER (PARTITION BY vec_id
        |          ORDER BY n_votes DESC, nl) AS vr
        |      FROM v)
        |SELECT vec_id, pred_label, n_votes FROM w WHERE vr = 1
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val e = embedRel(s, d)
      val lab = e.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id").as("lid"), col("v").as("lv"), col("label").as("nl"))
      // spread kept on the streamed side: per-row work is |labeled pool|
      // × dim and the pool is corpus-proportional (vec_id % 5) — the
      // quadratic posture, not the plain ~1k-flop kernels
      val sims = Tables.spread(e.filter(col("vec_id") % 5 =!= 0), col("vec_id"))
        .crossJoin(broadcast(lab))
        .select(col("vec_id"), col("nl"), col("lid"),
          round(VectorFunctions.cosine(col("v"), col("lv")), 6).as("sim"))
      val top5 = graft.plans.TopKPerKey(
        sims, Seq("vec_id"), Seq(col("sim").desc, col("lid").asc), k = 5)
      top5.groupBy(col("vec_id"), col("nl")).agg(count(lit(1)).as("n_votes"))
        .groupBy(col("vec_id"))
        .agg(min(struct((-col("n_votes")).as("nv"), col("nl").as("pl"))).as("m"))
        .select(col("vec_id"), col("m.pl").as("pred_label"),
          (-col("m.nv")).as("n_votes"))
        .orderBy(col("vec_id"))
    },

    // ---- Contrastive hard-negative mining: for each anchor, the top-3
    // nearest vectors carrying a DIFFERENT label — close in embedding
    // space but wrong class, the negatives that actually teach a
    // contrastive/metric-learning objective (random negatives are
    // trivially separable). Same scale posture as the kNN family: the
    // anchor subset broadcasts onto the corpus, the label-mismatch
    // predicate filters in the join, and the bounded-heap TopKPerKey
    // keeps ≤3 candidates per anchor per partition ahead of the
    // exchange — no sort, no window. At 100 TB the exact pass is the
    // baseline; the IVF postings bound the candidate set for the same
    // mining loop.
    Q("q_hard_negatives",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        |           FROM embeddings),
        |a AS (SELECT vec_id AS src, v, label AS sl FROM e WHERE vec_id < 50),
        |p AS (SELECT a.src, b.vec_id AS nbr, b.label AS nbr_label,
        |        round(list_cosine_similarity(a.v, b.v), 6) AS sim
        |      FROM a JOIN e b ON b.vec_id <> a.src AND b.label <> a.sl)
        |SELECT src, nbr, nbr_label, sim FROM (
        |  SELECT src, nbr, nbr_label, sim,
        |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, nbr) AS rn
        |  FROM p) WHERE rn <= 3
        |ORDER BY src, sim DESC, nbr""".stripMargin) { (s, d) =>
      val e = embedRel(s, d)
      val anchors = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("src"), col("v").as("va"), col("label").as("sl"))
      val cands = e.select(col("vec_id").as("nbr"), col("v").as("vb"),
        col("label").as("nbr_label"))
      val scored = broadcast(anchors).crossJoin(cands)
        .filter(col("nbr") =!= col("src") && col("nbr_label") =!= col("sl"))
        .select(col("src"), col("nbr"), col("nbr_label"),
          round(VectorFunctions.cosine(col("va"), col("vb")), 6).as("sim"))
      graft.plans.TopKPerKey(scored, Seq("src"),
          Seq(col("sim").desc, col("nbr").asc), k = 3)
        .select(col("src"), col("nbr"), col("nbr_label"), col("sim"))
        .orderBy(col("src"), col("sim").desc, col("nbr"))
    },

    // ---- ONLINE top-k retrieval serving: query vectors arrive as a
    // STREAM (2 micro-batches) and each trigger's batch is answered
    // against the static corpus — the retrieval-service shape (RAG /
    // nearest-neighbor lookup at inference time), complementing the
    // batch kNN join above. Per trigger: the arriving query batch
    // BROADCASTS (it is the tiny side by construction — a serving batch
    // is requests, the corpus is the index) onto the cached corpus
    // relation, exact cosine scores flow into the bounded-heap
    // `TopKPerKey` (no sort, no window), and the per-query top-3 appends
    // to the result sink. Each query id occurs in exactly one batch, so
    // per-batch top-k IS the global per-query top-k, which is what lets
    // the batch kNN oracle hash-check the streamed serving path
    // bit-for-bit. At 100 TB the per-trigger corpus pass is the exact
    // brute-force baseline; the IVF/LSH/PQ indexes above bound the
    // candidate set for the same serving loop (approximate, so they
    // carry recall verdicts instead of this query's exact oracle), and
    // the corpus cache stands in for the served index. foreachBatch is
    // the production sink seam: results append to a parquet dir here
    // (bounded: 3 rows per query), a real deployment answers RPCs.
    Q("q_stream_knn",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS src, b.vec_id AS nbr,
        |        round(list_cosine_similarity(a.v, b.v), 6) AS sim
        |      FROM e a JOIN e b ON b.vec_id <> a.vec_id
        |      WHERE a.vec_id < 50)
        |SELECT src, nbr, sim FROM (
        |  SELECT src, nbr, sim,
        |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, nbr) AS rn
        |  FROM p) WHERE rn <= 3
        |ORDER BY src, sim DESC, nbr""".stripMargin) { (s, d) =>
      val e = embedRel(s, d)
      Artifacts.scoped(e.select(col("vec_id").as("nbr"), col("v").as("vb"))) { corpus =>
        corpus.count() // materialize once: every trigger scans the cache
        val probes = e.filter(col("vec_id") < 50)
          .select(col("vec_id").as("src"), col("v").as("va"))
        Staging.ledger(probes, "src", 2) { (batch, id, out) =>
          val scored = broadcast(batch).crossJoin(corpus)
            .filter(col("nbr") =!= col("src"))
            .select(col("src"), col("nbr"),
              round(VectorFunctions.cosine(col("va"), col("vb")), 6)
                .as("sim"))
          Staging.writeBatch(
            graft.plans.TopKPerKey(scored, Seq("src"),
                Seq(col("sim").desc, col("nbr").asc), k = 3)
              .select(col("src"), col("nbr"), col("sim")),
            out, id)
        }(out => Staging.drainParquet(s, out, col("src"), col("sim").desc, col("nbr")))
      }
    },

    // ---- INDEX-SERVED streaming ANN: the scale path of q_stream_knn.
    // The IVF index is built ONCE before the stream starts (same
    // centroids as q_ann_ivf via [[ivfCentroids]]; postings = every
    // corpus vector unit-normed under its home cell, cached). Query
    // vectors then arrive in 2 micro-batches and each trigger touches
    // ONLY its candidate cells: the tiny probe batch broadcasts with its
    // 6 nearest cells exploded, equi-joins the postings on cell id, and
    // the bounded-heap min(struct) keeps the best neighbor per query —
    // per-trigger work is O(batch × cellSize × nprobe), not a corpus
    // scan, which is what lets a serving loop answer against 100 TB.
    // Approximate ⇒ the oracle is a recall VERDICT (floor 0.6, the same
    // contract as q_ann_ivf): counts are exact SQL-predictable and the
    // boolean flips if the index, probe assignment, or per-batch join
    // regresses. Exactness of the serving loop itself is covered by
    // q_stream_knn's bit-for-bit oracle on the brute-force path.
    Q("q_stream_ann",
      """SELECT CAST(LEAST(COUNT(*), 100) AS BIGINT) AS n_queries,
        |  CAST(LEAST(COUNT(*), 100) AS BIGINT) AS n_answered,
        |  true AS recall_ok
        |FROM embeddings""".stripMargin) { (s, d) =>
      Artifacts.scoped(embedRel(s, d)) { e =>
        val centroids = ivfCentroids(e)
        Artifacts.scoped(e.select(
            element_at(graft.functions.VectorExpressions.nearestCells(
              col("v"), centroids, 1), 1).as("cell"),
            col("vec_id").as("nbr"), unitNorm(col("v")).as("vbn"))) { postings =>
          postings.count() // materialize the index before serving starts
          val probes = e.filter(col("vec_id") < 100)
            .select(col("vec_id").as("src"), col("v").as("va"))
          val served = Staging.ledger(probes, "src", 2) { (batch, id, out) =>
            val probed = batch.withColumn("probe_cells",
                graft.functions.VectorExpressions.nearestCells(
                  col("va"), centroids, 6))
              .withColumn("van", unitNorm(col("va")))
            Staging.writeBatch(
              broadcast(probed)
                .select(col("src"), col("van"),
                  explode(col("probe_cells")).as("cell"))
                .join(postings, Seq("cell"))
                .filter(col("src") =!= col("nbr"))
                .select(col("src"), col("nbr"),
                  VectorFunctions.dot(col("van"), col("vbn")).as("sim"))
                .groupBy(col("src"))
                .agg(min(struct((-col("sim")).as("ns"), col("nbr").as("nb"))).as("m"))
                .select(col("src"), col("m.nb").as("nbr"),
                  round(-col("m.ns"), 6).as("sim")),
              out, id)
          }(out => Staging.drainParquet(s, out))
          // recall verdict against the exact best similarity per query
          // (one broadcast linear pass — O(probes·n), never O(n²))
          val exact1 = broadcast(probes.withColumn("van", unitNorm(col("va"))))
            .crossJoin(e.select(col("vec_id").as("nbr"), unitNorm(col("v")).as("vbn")))
            .filter(col("src") =!= col("nbr"))
            .groupBy(col("src"))
            .agg(max(VectorFunctions.dot(col("van"), col("vbn"))).as("best_sim"))
          val stats = served.join(exact1, "src")
            .agg(count(lit(1)).as("n_answered"),
              sum(when(col("sim") >= col("best_sim") - 1e-5, 1L).otherwise(0L))
                .as("n_hits"))
          probes.agg(count(lit(1)).as("n_queries")).crossJoin(stats)
            .select(col("n_queries"), col("n_answered"),
              (col("n_hits").cast("double") / col("n_queries") >= 0.6).as("recall_ok"))
        }
      }
    },

    // ---- Streaming INDEX MAINTENANCE: the other half of the serving
    // story. q_stream_ann streams QUERIES over a static index; here the
    // INDEX itself is built at ingest — the coarse quantizer is trained
    // once on the bootstrap half of the corpus (centroid training is
    // metadata-scale), then vectors arrive in micro-batches and each
    // trigger assigns ONLY its batch to home cells and appends postings
    // through the idempotent per-batch write (a replayed trigger
    // rewrites the same files — the exactly-once contract every other
    // foreachBatch sink here rides). Per-trigger work is O(batch), never
    // a corpus re-index. The verdict row carries two EXACT counts — the
    // corpus size and the index's distinct posting count, which must
    // match it (a dropped or double-appended batch flips n_indexed) —
    // plus the probe recall floor over the FINAL accumulated index.
    Q("q_stream_index_update",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  CAST(COUNT(*) AS BIGINT) AS n_indexed,
        |  CAST(LEAST(COUNT(*), 100) AS BIGINT) AS n_queries,
        |  true AS recall_ok
        |FROM embeddings""".stripMargin) { (s, d) =>
      Artifacts.scoped(embedRel(s, d)) { e =>
        val n = e.count()
        // quantizer from the bootstrap half only — the STREAM owns all
        // posting construction, including for vectors the quantizer
        // never saw (the production shape: train once, index forever)
        val centroids = ivfCentroids(e.filter(col("vec_id") < n / 2))
        Staging.ledger(e.select(col("vec_id"), col("v")),
            "vec_id", 2) { (batch, id, out) =>
          Staging.writeBatch(batch.select(
            element_at(graft.functions.VectorExpressions.nearestCells(
              col("v"), centroids, 1), 1).as("cell"),
            col("vec_id").as("nbr"), unitNorm(col("v")).as("vbn")),
            s"$out/postings", id)
        } { out =>
          val postings = Staging.readBatches(s, s"$out/postings")
          val probes = e.filter(col("vec_id") < 100)
            .select(col("vec_id").as("src"), col("v").as("va"))
          val probed = probes.withColumn("probe_cells",
              graft.functions.VectorExpressions.nearestCells(col("va"), centroids, 6))
            .withColumn("van", unitNorm(col("va")))
          val served = broadcast(probed)
            .select(col("src"), col("van"), explode(col("probe_cells")).as("cell"))
            .join(postings, Seq("cell"))
            .filter(col("src") =!= col("nbr"))
            .select(col("src"),
              VectorFunctions.dot(col("van"), col("vbn")).as("sim"))
            .groupBy(col("src")).agg(max(col("sim")).as("sim"))
          val exact1 = broadcast(probes.withColumn("van", unitNorm(col("va"))))
            .crossJoin(e.select(col("vec_id").as("nbr"), unitNorm(col("v")).as("vbn")))
            .filter(col("src") =!= col("nbr"))
            .groupBy(col("src"))
            .agg(max(VectorFunctions.dot(col("van"), col("vbn"))).as("best_sim"))
          val stats = served.join(exact1, "src")
            .agg(count(lit(1)).as("n_probed"),
              sum(when(col("sim") >= col("best_sim") - 1e-5, 1L).otherwise(0L))
                .as("n_hits"))
          val verdict = e.agg(count(lit(1)).as("n_vectors"))
            // plain COUNT, not countDistinct: range-staged batches are
            // key-disjoint, so the total posting count equals the corpus
            // size only if every batch landed EXACTLY once — a dropped
            // batch undershoots it and a double-append overshoots it
            // (countDistinct would mask the latter)
            .crossJoin(postings.agg(count(lit(1)).as("n_indexed")))
            .crossJoin(probes.agg(count(lit(1)).as("n_queries")))
            .crossJoin(stats)
            .select(col("n_vectors"), col("n_indexed"), col("n_queries"),
              (col("n_hits").cast("double") / col("n_queries") >= 0.6).as("recall_ok"))
          // the postings tree dies with the temp dir — copy the one-row
          // verdict out as a LOCAL relation
          s.createDataFrame(verdict.collectAsList(), verdict.schema)
        }
      }
    },

    // ---- DRIFT-MONITORED quantizer rebuild — the missing maintenance
    // verdict for every frozen-quantizer serving path above (r16 verdict
    // #3). The refresh-run shape: bootstrap quantizer + postings are
    // stored artifacts; the new batch is embed-scanned once and assigned;
    // then (1) a MONITOR probes served recall on a bounded query sample
    // drawn from the new batch against the exact best over the
    // accumulated index, emitting `rebuild_due` as the recall floor is
    // approached, and (2) the REBUILD path retrains centroids in vbn
    // space and re-assigns — reading only stored postings + the batch,
    // never re-embedding history (plan-asserted zero embeddings scans in
    // the rebuilt-index plan, PlanSuite). Both paths run and both floors
    // are oracled every gate run, so the rebuild machinery cannot rot
    // behind a false `rebuild_due`; AnnDriftSuite's crafted drifted
    // batch flips the verdict both ways (collapsed bootstrap quantizer →
    // rebuild_due=true and a rebuilt index that restores the floor).
    // Counts are exact SQL; booleans decide by integer
    // cross-multiplication, never float division.
    Q("q_ann_drift_rebuild",
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
         |  CAST(SUM(CASE WHEN ${DedupOps.newIdSql("vec_id")} THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         |  CAST(LEAST(SUM(CASE WHEN ${DedupOps.newIdSql("vec_id")} THEN 1 ELSE 0 END), 1000) AS BIGINT) AS n_queries,
         |  false AS rebuild_due,
         |  true AS recall_ok_frozen,
         |  true AS recall_ok_rebuilt
         |FROM embeddings""".stripMargin) { (s, d) =>
      val (cent0, histPost, index0, queries) = annDriftState(s, d)
      // scoped: feeds the monitor join, the exact reference, the retrain
      // passes and the rebuilt assignment — 6+ scans otherwise
      Artifacts.scoped(index0) { index =>
        val nHist = histPost.count()
        val nNew = index.count() - nHist
        val nQ = queries.count()
        // the sample window [0, 8·1000) equals "first min(n_new, 1000)
        // new ids" ONLY for a ~0-based contiguous id space — refuse
        // loudly on an offset/sparse one (the retrainFromIndex empty-seed
        // posture) instead of silently probing a truncated sample and
        // hash-mismatching the oracle's LEAST(n_new, 1000) count
        require(nQ == math.min(nNew, 1000L),
          s"q_ann_drift_rebuild assumes ~0-based contiguous vec_ids: the " +
          s"query-sample window [0, ${DedupOps.NewDocModulus * 1000}) " +
          s"caught $nQ new-batch vectors, expected min($nNew, 1000) — " +
          "offset or sparse id spaces are unsupported")
        val frozenHits = probedHits(index, cent0, queries, 6).head().getLong(0)
        val vecs = index.select(col("nbr"), col("vbn"))
        val cent1 = retrainFromIndex(vecs)
        // scoped: the monitor's served join and exact reference both scan
        // the rebuilt assignment (NearestCells over the full index twice
        // otherwise)
        val qVbn = queries.select(col("src"), col("qvn").as("pv"), col("qvn"))
        val rebuiltHits = Artifacts.scoped(
            indexRows(vecs, "nbr", "vbn", cent1, normalize = false)) { rebuilt =>
          probedHits(rebuilt, cent1, qVbn, 6).head().getLong(0)
        }
        import s.implicits._
        Seq((nHist + nNew, nNew, nQ,
          frozenHits * 100 < nQ * 61,   // rebuild_due: floor 0.6 approached
          frozenHits * 10 >= nQ * 6,    // frozen serving still above floor
          rebuiltHits * 10 >= nQ * 6))  // rebuilt index restores/holds it
          .toDF("n_vectors", "n_new", "n_queries", "rebuild_due",
            "recall_ok_frozen", "recall_ok_rebuilt")
      }
    },

    // ---- The drift monitor AT INGEST — q_ann_drift_rebuild's
    // per-trigger twin on the q_stream_index_update maintenance loop:
    // vectors arrive in micro-batches; each trigger appends its postings
    // through the idempotent per-batch write, then probes the
    // ACCUMULATED index with a bounded sample of ITS OWN batch (drift
    // lives in the new vectors — a fixed historical probe set is blind
    // to it: a drifted newcomer is near-orthogonal to old probes, so
    // their exact NNs never change). The exact reference rides the
    // postings' own vbn — the monitor never re-reads raw history — and
    // one verdict row lands per trigger via [[DriftMonitorState]] (the
    // kernel StreamDriftSuite flips both ways with crafted batches). At
    // production cadence the probe runs per-N-batches (its reference
    // pass is linear in the accumulated index). The verdict rows are
    // monitoring TELEMETRY: the postings keep the exactly-once
    // contract, while a replayed trigger's verdict recomputes against
    // whatever is accumulated at replay time (last-write-wins,
    // documented posture). The oracle pins trigger count, final index
    // size == corpus, probe count (12 × 4 — every gate SF's batches
    // exceed the per-trigger sample), and the POOLED rebuild verdict
    // across all triggers' samples (threshold 0.61, the
    // q_ann_drift_rebuild contract).
    Q("q_stream_drift_monitor",
      """SELECT CAST(4 AS BIGINT) AS n_triggers,
        |  CAST(COUNT(*) AS BIGINT) AS n_indexed,
        |  CAST(48 AS BIGINT) AS n_probes,
        |  false AS rebuild_due
        |FROM embeddings""".stripMargin) { (s, d) =>
      Artifacts.scoped(embedRel(s, d)) { e =>
        val n = e.count()
        // the monitoring contract is 4 triggers × 12-probe samples; a
        // corpus that cannot fill it fails HERE with a diagnostic, not
        // downstream as a confusing oracle count mismatch
        require(n >= 48,
          s"q_stream_drift_monitor needs ≥48 embeddings (4 triggers × " +
          s"12-probe per-batch samples); got $n — corpus too small for " +
          "the pooled-verdict contract")
        val centroids = ivfCentroids(e.filter(col("vec_id") < n / 2))
        // one maintainer state per query run, opened on the first trigger
        // (the ledger dir is the driver's): the accumulated-index cursor
        // lives here, not in per-tick filesystem walks
        var mon: DriftMonitorState = null
        Staging.ledger(e.select(col("vec_id"), col("v")),
            "vec_id", 4) { (batch, id, out) =>
          if (mon == null) mon = new DriftMonitorState(s, centroids, out)
          mon.tick(batch, id)
        } { out =>
          val verdicts = Staging.readBatches(s, s"$out/verdicts")
          val postings = Staging.readBatches(s, s"$out/postings")
          // the ORACLED verdict pools hits across triggers: a 12-probe
          // single trigger puts the trip threshold inside small-sample
          // noise (observed per-trigger minima 7-11/12 across SFs and
          // batch boundaries), while the pooled 48-probe recall sits
          // 0.73-0.79 with a 6-hit margin to the trip. Per-trigger flags
          // stay in the verdict rows as telemetry (StreamDriftSuite
          // pins them both ways on crafted batches).
          val row = verdicts
            .agg(count(lit(1)).as("n_triggers"),
              sum(col("n_hits")).as("hits"),
              sum(col("n_probes")).as("n_probes"))
            .crossJoin(postings.agg(count(lit(1)).as("n_indexed")))
            .select(col("n_triggers"), col("n_indexed"), col("n_probes"),
              (col("hits") * 100 < col("n_probes") * 61).as("rebuild_due"))
          // the temp tree dies with the scope — copy the one-row verdict
          // out as a LOCAL relation
          val out0 = s.createDataFrame(row.collectAsList(), row.schema)
          val h = out0.head()
          // post-run contract check: a skewed range split can stage a
          // file under 12 vectors even when n ≥ 48 — refuse loudly
          // (diagnostic names the under-filled sampling) instead of
          // letting the 4×12 pooled counts drift into a hash mismatch
          if (h.getLong(0) != 4L || h.getLong(2) != 48L)
            throw new IllegalStateException(
              s"q_stream_drift_monitor pooled-verdict contract broken: " +
              s"${h.getLong(0)} triggers / ${h.getLong(2)} probes, " +
              "expected 4 × 12 — a staged batch under-filled its " +
              "12-probe sample (skewed id range?)")
          out0
        }
      }
    }
  )

  /** Driver-side maintainer state for the streaming drift monitor: one
    * instance lives for the query run and holds the accumulated-postings
    * relation under the channel-source cursor discipline
    * ([[graft.sources.ChannelSource]]) — each tick lists ONLY the batch
    * dir it just wrote, plus a one-time recovery enumeration on the
    * first tick after a (re)start. The r17 shape re-walked the whole
    * postings tree every trigger (`recursiveFileLookup`): O(#batch-dirs)
    * listing per tick, quadratic over the stream's lifetime, against
    * LIST calls a cloud store rate-limits. Now listing work per tick is
    * O(1) in stream lifetime — [[dirsListedLastTick]] is the
    * observability hook DriftTickListingSuite pins that claim with.
    *
    * Replay safety: a restart reruns the last uncommitted batch, whose
    * `b$id` dir is re-WRITTEN (overwrite) — the tick therefore always
    * rebuilds exactly its own batch's relation (a retained one would
    * point at deleted part files). Older batches never re-run, so their
    * resolved relations are reused without touching the filesystem.
    * Every `compactEvery` batches the union plan is truncated by
    * RE-STAGING the accumulated postings to ONE parquet dir (per-tick
    * ANALYSIS stays bounded instead of growing one scan node per
    * trigger). Storage-backed, not a localCheckpoint (r19, r18 verdict
    * finding #4): at 100 TB postings a block-manager-resident compacted
    * base competes with execution memory for the stream's whole
    * lifetime, while a staged parquet base is exactly the posture the
    * per-batch postings already have — the superseded compact dir is
    * deleted once its successor is committed, so the live compacted
    * footprint is one copy. `compactEvery` is a constructor dial only so
    * the suite can drive compactions without 64 ticks; production keeps
    * the default. */
  private[graft] final class DriftMonitorState(s: SparkSession,
      cents: IndexedSeq[IndexedSeq[Double]], out: String,
      compactEvery: Int = 64) {
    private val perBatch = scala.collection.mutable.LinkedHashMap[Long, DataFrame]()
    private var base: Option[DataFrame] = None
    private var baseDir: Option[HPath] = None
    @volatile private[graft] var dirsListedLastTick = 0
    // `out` is reached only through the Hadoop filesystem Spark writes it
    // with, so the monitor runs on any store the session can write
    private val fs = new HPath(out).getFileSystem(GraftSqlBridge.newHadoopConf(s))

    // a DataFrameReader resolves schema + file list eagerly at creation:
    // exactly one listing of exactly this batch's dir
    private def relationFor(id: Long): DataFrame =
      s.read.parquet(s"$out/postings/b$id")

    /** Restart path: enumerate committed batch dirs ONCE (one LIST of
      * the root + one per-dir resolution), then the cursor takes over. */
    private var recovered = false
    private def recover(): Int = {
      recovered = true
      // a prior run's compacted base is a pure cache over the per-batch
      // dirs — drop any stale copy and rebuild the union from the
      // authoritative b$id dirs (compaction re-fires as ticks accumulate)
      fs.delete(new HPath(out, "postings_base"), true)
      val listed =
        try fs.listStatus(new HPath(out, "postings"))
        catch { case _: java.io.FileNotFoundException => return 0 }
      val ids = listed.iterator
        .map(_.getPath.getName)
        .filter(_.startsWith("b"))
        .flatMap(n => n.drop(1).toLongOption)
        .toVector.sorted
      ids.foreach(id => perBatch(id) = relationFor(id))
      ids.size
    }

    /** One maintenance-plus-monitor trigger: append `batch`'s postings
      * (idempotent per-batch write), probe the ACCUMULATED index with
      * the batch's own lowest-12 sample, write the trigger's verdict
      * row. Factored so StreamDriftSuite drives crafted batch sequences
      * through the exact code the streaming query runs. */
    def tick(batch: DataFrame, id: Long): Unit = {
      var listed = 0
      // recover BEFORE writing: the enumeration must see only batches
      // committed by prior runs, not this tick's own dir (a replayed
      // id's stale pre-overwrite relation is superseded just below)
      if (!recovered) listed += recover()
      Staging.writeBatch(indexRows(batch, "vec_id", "v", cents),
        s"$out/postings", id)
      perBatch(id) = relationFor(id) // always: this tick re-wrote b$id
      listed += 1
      if (perBatch.size >= compactEvery) {
        // re-stage the accumulated union as ONE parquet dir (class doc);
        // idempotent under replay — a re-run tick overwrites c$id — and
        // the superseded compact dir is deleted only after the new one
        // is fully written
        val next = new HPath(out, s"postings_base/c$id")
        (base.toSeq ++ perBatch.values).reduce(_.union(_))
          .write.mode("overwrite").parquet(next.toString)
        base = Some(s.read.parquet(next.toString))
        listed += 1 // the re-read of the fresh compact dir (1/compactEvery ticks)
        baseDir.filter(_ != next).foreach(fs.delete(_, true))
        baseDir = Some(next)
        perBatch.clear()
      }
      dirsListedLastTick = listed
      val acc = (base.toSeq ++ perBatch.values).reduce(_.union(_))
      // micro-batch-scale sample; scoped so the served/exact passes
      // don't re-sort the batch. A scope (not localCheckpoint) releases
      // at tick end, whereas localCheckpoint blocks wait until the RDD is
      // GC'd — the per-tick leak a long-lived stream cannot afford.
      Artifacts.scoped(batch.orderBy(col("vec_id")).limit(12)
          .select(col("vec_id").as("src"), col("v").as("pv"),
            unitNorm(col("v")).as("qvn"))) { sample =>
        // hits AND the probe count ride the one probedHits job — the
        // old separate sample.count() cost a scheduling round trip per
        // trigger for a 12-row count (r18). Denominator contract (r19,
        // ADVICE): every sample id is in acc (this tick just wrote the
        // batch) and probedHits counts self-only queries too, so nb ==
        // sample row count whenever the batch's vec_ids are distinct —
        // which the range-staged replay guarantees; a corpus violating
        // it (duplicate ids collapse the groupBy) under-fills nb and
        // trips the caller's loud 4×12 pooled-probe refusal instead of
        // silently skewing rebuild_due.
        val r = probedHits(acc, cents, sample, 6).head()
        val (hits, nb) = (r.getLong(0), r.getLong(1))
        import s.implicits._
        Staging.writeBatch(
          Seq((id, hits, nb, hits * 100 < nb * 61))
            .toDF("trigger", "n_hits", "n_probes", "rebuild_due"),
          s"$out/verdicts", id)
      }
    }
  }

  /** `v` scaled to unit L2 norm (zero vectors pass through), computed
    * ONCE per vector so candidate scoring can use a plain dot product —
    * cosine(a,b) = dot(â,b̂) — instead of recomputing BOTH norms inside
    * every pair evaluation (~3× the flops, plus a sqrt+div, at multi-probe
    * candidate volumes; the candidate pass is where ANN CPU lives). Only
    * the recall-verdict ANN paths use this — the verdict tolerance (1e-5)
    * dwarfs the last-ulp difference between the two formulas — while the
    * exact-oracle embed queries keep the cosine form whose 6-dp rounding
    * the DuckDB twin reproduces bit-for-bit. */
  private[graft] def unitNorm(v: Column): Column = {
    val n = sqrt(VectorFunctions.dot(v, v))
    // NOT transform(v, x => x / n): a lambda body re-evaluates every
    // expression it closes over PER ELEMENT (HOF lambdas are excluded
    // from subexpression elimination), which would recompute the dot dim
    // times — O(dim²) per vector. array_repeat evaluates its child once,
    // so this form pays the norm exactly twice per row (guard + repeat).
    when(n > 0, zip_with(v, array_repeat(n, size(v)), (x, nn) => x / nn))
      .otherwise(v)
  }

  /** IVF coarse-quantizer training on an already-cached embedding
    * relation: stride-sampled seeds + two Lloyd steps. Only the 16×64
    * centroid matrix ever touches the driver — centroid training, not a
    * data collect; legitimate at any corpus scale. Shared by the batch
    * listing ([[annIvfNeighbors]]) and the streamed serving path
    * (q_stream_ann), so both search the same index. */
  private[graft] def ivfCentroids(e: DataFrame): IndexedSeq[IndexedSeq[Double]] = {
    val n = e.count()
    val stride = math.max(1L, n / 16L)
    val sampled = e.filter(col("vec_id") % stride === 0 && col("vec_id") < stride * 16)
      .orderBy(col("vec_id"))
      .select(col("v")).collect().map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
    // two Lloyd steps tighten the sampled centroids (only the 16×64
    // centroid matrix touches the driver per step). Two, not three: each
    // step is a full corpus pass — the training cost that matters at
    // 100 TB — and the third pass bought no recall at either gated SF
    // (floors 0.65 @ sf0.001 / 0.6 @ sf0.1, FunctionsSuite), because the
    // stride-sampled seeds already match the data distribution.
    graft.functions.KMeans.lloydSteps(e, "v", sampled, iters = 2)
  }

  // ---- Quantizer-drift monitor + rebuild kernels (r16 verdict #3).
  //
  // The serving indexes above freeze their coarse quantizer at bootstrap
  // (train once, index forever — the right default, centroid training is
  // a corpus pass). At 100 TB with distribution drift that freeze decays
  // recall SILENTLY: new batches concentrate where the bootstrap saw no
  // mass, cell assignment degenerates, and the probe set stops covering
  // true neighbors. These kernels close the loop: a per-refresh recall
  // probe on a bounded query sample emits a `rebuild_due` verdict as the
  // floor is approached, and the rebuild path retrains + re-assigns from
  // the STORED postings (which carry the unit-normed vectors) plus the
  // new batch — never a historical re-embed, which at 100 TB is the cost
  // that matters (re-running the embedding model over the corpus).

  /** `(cell, nbr, vbn)` index rows for an id+vector relation under
    * `cents` — the serving-index row shape every ANN path here stores.
    * `normalize=false` when `vCol` is ALREADY unit-normed (the rebuild
    * path re-assigns stored vbn); assignment must run in the same vector
    * space the quantizer was trained in, so callers pair raw-v
    * assignment with raw-v-trained centroids and vbn with vbn. */
  private[graft] def indexRows(vecs: DataFrame, idCol: String, vCol: String,
      cents: IndexedSeq[IndexedSeq[Double]],
      normalize: Boolean = true): DataFrame =
    vecs.select(
      element_at(graft.functions.VectorExpressions.nearestCells(
        col(vCol), cents, 1), 1).as("cell"),
      col(idCol).as("nbr"),
      (if (normalize) unitNorm(col(vCol)) else col(vCol)).as("vbn"))

  /** Hit count of a probed index against its own exact reference: for
    * each query row `(src, pv, qvn)` (pv = probe vector in the
    * quantizer's training space, qvn = unit-normed scoring vector) the
    * served best-candidate cosine over `nprobe` probe cells is compared
    * to the exact best over the whole index (one linear broadcast pass —
    * bounded queries keep this O(|queries|·n), the same contract as
    * [[recallVerdict]]). Returns one row `(n_hits, n_queries)` — the
    * query count rides the exact pass's group-by (one row per query that
    * pairs with ≥1 index row, self included) so a caller that needs the
    * denominator does not pay a separate counting job per call (the
    * streaming monitor's tick paid one per trigger). A query with zero
    * served candidates has an all-null served column and counts in
    * n_queries but never as a hit. Self-pairs are NULLED, not
    * row-filtered (r19, ADVICE): a query whose only index row is itself
    * still groups — so when every query id is in the index (always true
    * for the tick: it probes the batch it just wrote), n_queries equals
    * the full sample size even on a degenerate 1-row first batch, the
    * same denominator as the pre-r18 separate sample.count(). */
  private[graft] def probedHits(index: DataFrame,
      cents: IndexedSeq[IndexedSeq[Double]], queries: DataFrame,
      nprobe: Int): DataFrame = {
    // ONE pass over query × index (r18, guide §1.2 "fewer passes"): the
    // exact reference already evaluates every (query, index-row) pair, so
    // the served-side best is the SAME max restricted to pairs whose
    // index cell is among the query's probe cells — an array_contains
    // flag on rows the cross join already produces, instead of a second
    // scan of the index through a cell equi-join (the r17 shape paid two
    // scans, two groupBys and computed the probe-cell pairs' dot twice).
    // Semantics: same self-exclusion (self-pairs null BOTH columns, and
    // max ignores nulls), same max; a query with no probe-cell candidate
    // has an all-null served column and counts in n_queries but never as
    // a hit; an all-null row (only-self query) is never a hit either
    // (CASE over a null comparison takes the ELSE 0 branch).
    val probed = queries.withColumn("probe_cells",
      graft.functions.VectorExpressions.nearestCells(col("pv"), cents, nprobe))
    broadcast(probed.select(col("src"), col("qvn"), col("probe_cells")))
      .crossJoin(index)
      .select(col("src"),
        (col("src") =!= col("nbr") &&
          array_contains(col("probe_cells"), col("cell"))).as("in_probe"),
        when(col("src") =!= col("nbr"),
          VectorFunctions.dot(col("qvn"), col("vbn"))).as("sim"))
      .groupBy(col("src"))
      .agg(max(col("sim")).as("best_sim"),
        max(when(col("in_probe"), col("sim"))).as("served"))
      .agg(coalesce(sum(when(col("served") >= col("best_sim") - 1e-5, 1L)
        .otherwise(0L)), lit(0L)).as("n_hits"),
        count(lit(1)).as("n_queries"))
  }

  /** Quantizer retrain from a stored index's `(nbr, vbn)` rows:
    * stride-sampled seeds + two Lloyd steps, all in vbn space. Reads
    * ONLY the stored postings — the whole point of carrying vbn in the
    * index row is that a rebuild never re-embeds (or even re-reads) the
    * historical raw corpus; the three passes here are columnar scans of
    * the float vectors the index already stores. */
  private[graft] def retrainFromIndex(idx: DataFrame): IndexedSeq[IndexedSeq[Double]] = {
    val n = idx.count()
    val stride = math.max(1L, n / 16L)
    val sampled = idx
      .filter(col("nbr") % stride === 0 && col("nbr") < stride * 16)
      .orderBy(col("nbr"))
      .select(col("vbn")).collect().map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
    // the stride sample assumes ~0-based, ~contiguous ids (true for every
    // corpus here; ivfCentroids makes the same assumption). An id space
    // offset past stride*16 would sample NOTHING and lloydSteps on an
    // empty codebook degenerates silently — refuse loudly instead.
    require(sampled.nonEmpty,
      s"retrainFromIndex sampled no seeds (n=$n, stride=$stride): " +
      "index ids are not ~0-based/contiguous; re-key or sample differently")
    graft.functions.KMeans.lloydSteps(idx, "vbn", sampled, iters = 2)
  }

  /** The 16-row centroid matrix as a `(cid, cv)` relation — the form the
    * quantizer persists as an artifact (the serving state a refresh
    * reads back instead of retraining). */
  private[graft] def centroidDf(s: SparkSession,
      cents: IndexedSeq[IndexedSeq[Double]]): DataFrame = {
    import s.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cid", "cv")
  }

  private[graft] def centroidsOf(df: DataFrame): IndexedSeq[IndexedSeq[Double]] =
    df.orderBy(col("cid")).select(col("cv")).collect()
      .map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq

  /** The drift-monitor serving state for `(s, d)`: the frozen bootstrap
    * quantizer (stored as the centroid artifact), the accumulated index
    * (stored historical postings ∪ the new batch's assignment — the
    * batch is embed-scanned ONCE, eagerly, at its localCheckpoint), and
    * the bounded query sample drawn from the new batch (drift shows up
    * in new queries first). */
  private[graft] def annDriftState(s: SparkSession, d: String)
      : (IndexedSeq[IndexedSeq[Double]], DataFrame, DataFrame, DataFrame) = {
    Tables.ensureConf(s)
    val cent0Df = Artifacts.parquet(s, d, "ann_drift_centroids") {
      Artifacts.scoped(embedRel(s, d).filter(!DedupOps.isNewId("vec_id"))) { h =>
        centroidDf(s, ivfCentroids(h))
      }
    }
    val cent0 = centroidsOf(cent0Df)
    val histPost = Artifacts.parquet(s, d, "ann_drift_postings") {
      indexRows(embedRel(s, d).filter(!DedupOps.isNewId("vec_id")),
        "vec_id", "v", cent0)
    }
    // eager: the driver's retraining rounds and the returned plan read
    // it, and PlanSuite pins the rebuild's batch as materialized
    val newB = embedRel(s, d).filter(DedupOps.isNewId("vec_id"))
      .select(col("vec_id"), col("v")).localCheckpoint()
    val index = histPost.union(indexRows(newB, "vec_id", "v", cent0))
    // contiguous ids ⇒ the first min(1000, |new|) new ids sit below
    // 8·1000. Cap 1000 (was 100): every gate SF's new batch now probes
    // in FULL (63/63/250), so the 0.61 trip sits on the widest sample
    // the corpus offers rather than a 100-vector slice — while the
    // monitor stays bounded at 100 TB (1000 probes, not |batch|)
    val queries = newB.filter(col("vec_id") < DedupOps.NewDocModulus * 1000)
      .select(col("vec_id").as("src"), col("v").as("pv"),
        unitNorm(col("v")).as("qvn"))
    (cent0, histPost, index, queries)
  }

  /** The rebuilt index for `(s, d)` — retrain in vbn space over the
    * accumulated index rows, re-assign the SAME rows. Plan-asserted
    * (PlanSuite) to contain zero embeddings scans: everything reads the
    * postings artifact + the checkpointed batch. */
  private[graft] def annDriftRebuiltIndex(s: SparkSession, d: String): DataFrame = {
    val (_, _, index, _) = annDriftState(s, d)
    val vecs = index.select(col("nbr"), col("vbn"))
    indexRows(vecs, "nbr", "vbn", retrainFromIndex(vecs), normalize = false)
  }

  /** IVF ANN full neighbor listing `(src, cell, nbr, sim)` — the operator
    * behind q_ann_ivf; public so recall regression tests probe it. */
  def annIvfNeighbors(s: SparkSession, d: String): DataFrame = {
    // scoped: the count, centroid sample, two Lloyd passes and the
    // probe assignment all re-scan e otherwise (6 jobs x scan+shuffle)
    val probed = Artifacts.scoped(embedRel(s, d)) { e =>
      val centroids = ivfCentroids(e)
      // multi-probe: the query side searches its 6 nearest cells (recall@1
      // 0.25 @1 probe → 0.63 @4 → 0.73-0.77 @6 on the test embeddings — the
      // probe count is IVF's recall/cost dial, and near-uniform synthetic
      // embeddings NEED more probes than clustered real ones because cell
      // boundaries carry little structure). All 16 distances evaluate
      // in ONE fused pass per vector (NearestCells); the stored side's
      // home cell is probe_cells[0].
      // eager: both join sides below read it, the subtree is map-only (no
      // exchange to share), and NearestCells would otherwise run twice
      // per vector
      e.withColumn("probe_cells",
          graft.functions.VectorExpressions.nearestCells(col("v"), centroids, 6))
        .withColumn("vn", unitNorm(col("v"))).localCheckpoint()
    }
    val a = probed.select(col("vec_id").as("src"), col("vn").as("va"),
      explode(col("probe_cells")).as("cell"))
    val b = probed.select(element_at(col("probe_cells"), 1).as("cell"),
      col("vec_id").as("nbr"), col("vn").as("vb"))
    // Best neighbor via a map-side-combinable min(struct) aggregation:
    // each (src,nbr) pair is unique (the join hits nbr's single home
    // cell), so the lexicographic min on (-sim, nbr, cell) is the
    // row_number()=1 row — without the full shuffle+sort a window would
    // pay on every candidate pair.
    a.join(b, Seq("cell"))
      .filter(col("src") =!= col("nbr"))
      .select(col("src"), col("nbr"), col("cell"),
        VectorFunctions.dot(col("va"), col("vb")).as("sim"))
      .groupBy(col("src"))
      .agg(min(struct((-col("sim")).as("ns"), col("nbr").as("nb"),
        col("cell").as("ce"))).as("m"))
      .select(col("src"), col("m.ce").as("cell"), col("m.nb").as("nbr"),
        round(-col("m.ns"), 6).as("sim"))
      .orderBy(col("src"))
  }

  /** PQ ANN top-10 `(vec_id, sim)` for query vector 0 — the operator
    * behind q_ann_pq; public so recall regression tests probe it. */
  def annPqTopk(s: SparkSession, d: String): DataFrame = {
    // eager: driver-side codebook training, the query-vector fetch, the
    // count and the returned plan all read the cast vectors
    val e = embedRel(s, d).localCheckpoint()
    val cb = graft.functions.ProductQuantizer.train(e, "v", "vec_id", m = 16)
    val q0 = e.filter(col("vec_id") === 0)
      .select(col("v")).head().getSeq[Double](0).toIndexedSeq
    val table = graft.functions.ProductQuantizer.adcTable(q0, cb)
    // shortlist scales with n (~10% of the corpus, floor 250): a fixed
    // shortlist shrinks relatively as n grows and recall decays with it;
    // the fraction is PQ's recall/cost dial (measured recall@10 here:
    // 1.0 at n=500, 0.9 at n=2000 — the near-uniform test embeddings are
    // ADC's hard case, real clustered embeddings do better).
    val shortlist = math.max(250L, e.count() / 10L).toInt
    e.filter(col("vec_id") =!= 0)
      .withColumn("codes", graft.functions.ProductQuantizer.encode(col("v"), cb))
      .withColumn("approx_d",
        graft.functions.ProductQuantizer.adc(col("codes"), table, k = 16))
      .orderBy(col("approx_d"), col("vec_id")).limit(shortlist) // ADC shortlist
      .select(col("vec_id"),
        round(VectorFunctions.cosine(col("v"), array(q0.map(lit): _*)), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(10) // exact re-rank
  }

  /** Multi-table sign-LSH best-neighbor listing `(src, nbr, sim)` — the
    * operator behind q_ann_lsh; public so recall regression tests probe
    * it. */
  def annLshNeighbors(s: SparkSession, d: String): DataFrame = {
    // uncached: the count is a footer read, and the banding pass and
    // both vector sides are parquet scans of the embeddings
    val e = embedRel(s, d)
    // Plane count auto-sizes with n so per-bucket populations stay
    // ~targetBucket: candidate volume is Σ pop² per bucket, so a fixed
    // plane count degenerates to all-pairs as n grows (at n=2000 a
    // 4-plane table already generates MORE pairs than brute force).
    // count() is a parquet-metadata action, cheap at any scale.
    val n = e.count()
    val nPlanes = math.max(4, math.min(16,
      math.ceil(math.log(n / 32.0) / math.log(2.0)).toInt))
    // Each extra plane cuts per-table collision probability (p^k), so
    // the table count grows with the plane count to hold recall:
    // candidates stay ~tables × n²/2^planes, net shrinking with n.
    // Measured recall@1: 0.93 (n=500, 4 planes × 16 tables), 0.89
    // (n=2000, 6 planes × 32 tables; 0.67 at 16 tables).
    val nTables = 16 * (1 << ((nPlanes - 4) / 2))
    val banded = e
      .select(col("vec_id"),
        posexplode(SignLsh.bucketTables(col("v"),
          nTables = nTables, nPlanes = nPlanes, dim = Dim))
          .as(Seq("table", "bucket")))
    val a = banded.select(col("table"), col("bucket"), col("vec_id").as("src"))
    val b = banded.select(col("table"), col("bucket"), col("vec_id").as("nbr"))
    val av = e.select(col("vec_id").as("src"), unitNorm(col("v")).as("va"))
    val bv = e.select(col("vec_id").as("nbr"), unitNorm(col("v")).as("vb"))
    // No distinct() on candidates: duplicate (src,nbr) pairs from
    // different tables agree on sim, so the min(struct) aggregation
    // absorbs them — cheaper than a dedicated dedup shuffle. The vector
    // joins auto-broadcast at test scale; at 100 TB they become
    // co-partitioned shuffle joins on src/nbr.
    a.join(b, Seq("table", "bucket"))
      .filter(col("src") =!= col("nbr"))
      .join(av, "src").join(bv, "nbr")
      .select(col("src"), col("nbr"),
        VectorFunctions.dot(col("va"), col("vb")).as("sim"))
      .groupBy(col("src"))
      .agg(min(struct((-col("sim")).as("ns"), col("nbr").as("nb"))).as("m"))
      .select(col("src"), col("m.nb").as("nbr"), round(-col("m.ns"), 6).as("sim"))
      .orderBy(col("src"))
  }
}
