package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components via alternating large-star /
  * small-star (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14) — the 100 TB path for turning near-duplicate
  * candidate PAIRS (MinHash/SimHash/winnow/n-gram joins) into duplicate
  * GROUPS, where one canonical document per group is kept.
  *
  * Why not plain min-label propagation: label propagation converges in
  * O(diameter) rounds, and dedup graphs routinely contain long chains
  * (A≈B≈C≈… with no direct A≈C edge), so a pathological chain of n docs
  * needs n rounds. Star contraction converges in O(log² n) rounds
  * regardless of shape, each round a pair of groupBy shuffles on node id —
  * no driver-side state, no assumption the largest component fits
  * anywhere.
  *
  * Each iteration truncates lineage with a lazy localCheckpoint,
  * materialized by that round's convergence probe (the loop would
  * otherwise stack two shuffles per round into one ever-deepening
  * plan). On a production cluster with executor loss,
  * swap in reliable `checkpoint()` against the cluster checkpoint dir;
  * the algorithm is oblivious to which.
  *
  * The reference has no graph/dedup surface (SURVEY §2.6: sorts/set-ops
  * absent) — this is part of graft's training-data-pipeline extension.
  */
object ConnectedComponents {

  /** Undirected edges `(a, b)` + the full node set `(node)` →
    * `(node, component)` where `component` is the smallest node id
    * reachable from `node` (isolated nodes map to themselves). Node ids
    * must be non-null and orderable (use longs). */
  def components(edges: DataFrame, nodes: DataFrame, maxIter: Int = 25): DataFrame = {
    // LAZY localCheckpoint: the signature aggregate right after is the
    // materializing action, so each round costs ONE job (checkpoint write
    // + convergence probe fused) instead of two.
    var e = canon(edges).localCheckpoint(false)
    var prev = signature(e)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val next = canon(smallStar(largeStar(e))).localCheckpoint(false)
      val cur = signature(next)
      converged = cur == prev
      prev = cur
      e = next
      i += 1
    }
    // At the fixpoint e is a forest of stars, canonicalized to
    // (root=min, child): child → root. The min-agg is insurance for a
    // maxIter bailout on a not-yet-starred graph (still a valid —
    // coarser — upper bound on the true labels only if converged;
    // maxIter 25 covers log²(n) for any realistic n).
    val mapping = e.groupBy(col("b")).agg(min(col("a")).as("component"))
      .withColumnRenamed("b", "node")
    nodes.join(mapping, Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
  }

  /** Canonical undirected edge set: (smaller, larger), no self-loops, no
    * duplicates. */
  private def canon(e: DataFrame): DataFrame =
    e.select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Large-star: every node connects its strictly-LARGER neighbors to the
    * minimum of its closed neighborhood. Halves the height of deep
    * structures without ever increasing the edge count asymptotically. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
    sym.groupBy(col("u")).agg(collect_set(col("v")).as("nbrs"))
      .select(col("u"), least(array_min(col("nbrs")), col("u")).as("m"),
        explode(col("nbrs")).as("v"))
      .filter(col("v") > col("u"))
      .select(col("v").as("a"), col("m").as("b"))
  }

  /** Small-star: every node connects its smaller-or-equal neighborhood
    * (itself included) to that neighborhood's minimum — the contraction
    * step that collapses chains into stars. */
  private def smallStar(e: DataFrame): DataFrame = {
    val oriented = e.select(greatest(col("a"), col("b")).as("u"),
      least(col("a"), col("b")).as("v"))
    oriented.groupBy(col("u")).agg(collect_set(col("v")).as("nbrs"))
      .select(col("u"), array_min(col("nbrs")).as("m"),
        explode(array_union(col("nbrs"), array(col("u")))).as("v"))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("a"), col("m").as("b"))
  }

  /** Cheap convergence probe: (edge count, order-independent checksum).
    * One tiny aggregate per round instead of a full `except` join; a
    * checksum collision that ALSO preserves the count is vanishingly
    * unlikely, and a spurious "converged" is caught by the star-mapping
    * min-agg staying a valid contraction. */
  private def signature(e: DataFrame): (Long, Long) = {
    // bit_xor, not sum: order-independent AND overflow-free under ANSI
    val r = e.agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }
}
