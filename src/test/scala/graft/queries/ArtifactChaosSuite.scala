package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.channel.Channel
import scala.util.{Failure, Success, Try}

/** Chaos contract for the Artifacts liveness window (r17 verdict #7):
  * the protocol documents a residual window — a staged dir swept AFTER a
  * consumer resolved its parquet read but before the consumer's job
  * runs — as "loud, never wrong". This suite PROVES that across the four
  * artifact-consumer families (dedup / decon / bm25 / semdedup): the
  * artifact root is deleted mid-scope, and every registered incremental
  * query must then either throw (loud) or return exactly the reference
  * answer — a silently wrong result set is the one outcome that fails —
  * and the NEXT call must self-heal by re-deriving to the same answer
  * (the r16 vanished-dir re-derivation fix, exercised here through the
  * registered queries instead of the helper alone).
  */
class ArtifactChaosSuite extends SparkSpec {

  private val consumers = Seq("q_incremental_dedup", "q_incremental_decon",
    "q_incremental_bm25", "q_incremental_semdedup")

  test("root swept mid-consumer: loud failure or right answer, then self-heal") {
    // a crafted COPY of sf0.001 under a unique dir: the artifact cache
    // key includes the data dir, so every derivation here is fresh and
    // lands under THIS suite's root — the sf-testdata keys other suites
    // may have staged under the default root are never touched (their
    // cache keys ignore graft.artifacts.root, so sweeping shared state
    // would poison later suites)
    val data = tmpDir("chaos_data")
    for (t <- Seq("documents.parquet", "embeddings.parquet"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"/root/testdata/sf0.001/$t"), data.resolve(t))
    val root = tmpDir("chaos_art_root")
    spark.conf.set("graft.artifacts.root", root.toString)
    try {
      for (name <- consumers) {
        def run() = SparkEntry.queries(name)(spark, data.toString)
        val ref = run().collect().map(_.toString).sorted.toSeq
        assert(ref.nonEmpty, s"$name: empty reference — chaos check is vacuous")
        // resolve a consumer BEFORE the sweep (its artifact reads are
        // now bound to concrete files), then yank the root out from
        // under it — the documented residual window, made deterministic
        val df = run()
        Channel.deleteRecursively(root)
        Try(df.collect().map(_.toString).sorted.toSeq) match {
          case Success(rows) => assert(rows == ref,
            s"$name returned WRONG rows after the sweep — silent corruption, " +
            "the one outcome the liveness posture forbids")
          case Failure(_) => () // loud is the accepted outcome
        }
        // self-heal: the completion-marker check must see the vanished
        // _SUCCESS, re-derive, and land the identical answer
        val healed = run().collect().map(_.toString).sorted.toSeq
        assert(healed == ref,
          s"$name failed to re-derive the same answer after the sweep")
      }
    } finally spark.conf.unset("graft.artifacts.root")
  }
}
