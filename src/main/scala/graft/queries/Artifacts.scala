package graft.queries

import graft.channel.Channel
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of materialization in the query layer: every
  * `persist`/`unpersist` under `src/main` lives in this file, and no
  * query leaves an entry in the session's `CacheManager` once its `run`
  * returns. A query that needs a relation read more than once gets it one
  * of four ways:
  *  - [[shared]]: nothing is materialized while the plan is built; the
  *    returned plan's branches read one marked subtree, and the action
  *    computes it once. The rule: a shared subtree runs once per
  *    execution when it ends in an exchange (an aggregate, a distinct, a
  *    repartition); otherwise each reader recomputes it. This is the
  *    default for a subtree that only branches of the returned plan
  *    read — building such a query starts no Spark job;
  *  - [[scoped]]: persisted for the driver actions of one block (counts,
  *    collects, training passes, a stream run), released at block end;
  *  - `localCheckpoint()`, called directly: materialized eagerly and
  *    lineage-free, which runs a job while the query is built. Each
  *    remaining site says why in an `// eager:` comment: a driver action
  *    also reads it, an iterative loop needs its lineage cut, a plan test
  *    pins it as materialized, the subtree ends in no exchange its
  *    readers could share, or the lazy form measured slower under
  *    `graft.Bench`. The ContextCleaner frees its blocks when the plan
  *    is garbage-collected, and it never enters `CacheManager`;
  *  - [[parquet]]: staged once per (context, sfDir) as a parquet artifact
  *    that many queries share (below).
  * The tokenizer trainers' round loops go through [[rounds]].
  *
  * Parquet-staged intermediate relations — the 100 TB gate-run pattern.
  *
  * A curation gate re-uses reduced relations (the char-LM's (doc, gram, n)
  * counts, the unigram LM's (doc, word, n) counts, the LSH dup graph)
  * across several consumers. Holding them as executor cache works at bench
  * scale but is the wrong posture at 100 TB: cache evicts under memory
  * pressure and silently re-pays the corpus scan, and lineage pins the
  * whole derivation. A production run stages such relations ONCE as a
  * columnar parquet artifact and serves every consumer a plain parquet
  * scan — column-pruned, predicate-pushed, lineage-free, spill-immune.
  *
  * This helper is that pattern in miniature: derive once per
  * (SparkContext, sfDir, name), write local parquet, hand out fresh reads.
  * Every consumer's ORACLE still states the full derivation in SQL, so a
  * stale or corrupt artifact hash-mismatches the gate instead of hiding.
  * Artifact dirs of stopped contexts are swept on the next call from any
  * live one; a JVM shutdown hook removes whatever remains.
  *
  * Staging location: the `graft.artifacts.root` session conf
  * (default `java.io.tmpdir`, correct for local[*] where driver and
  * executors share the filesystem). On a real cluster set it to a shared
  * filesystem path (HDFS/S3/NFS) — the write/read protocol is unchanged.
  * The root is created if absent; ArtifactsSuite exercises a
  * non-default root including the failed-derivation sweep there.
  */
private[queries] object Artifacts {

  /** `df` marked as one subtree that several branches of the returned
    * plan read (`graft.plans.Shared`): the optimizer does not rewrite
    * through the mark, so every branch plans the same exchange and the
    * action runs it once. No job runs here. */
  def shared(df: DataFrame): DataFrame = graft.plans.Shared(df)

  /** `body` over `df` persisted, released when `body` returns or throws.
    * A lazy plan that `body` returns and that reads the relation again
    * recomputes it from lineage once the scope is closed — so a scope
    * only pays off for reads that run inside it. */
  def scoped[A](df: DataFrame)(body: DataFrame => A): A = {
    val held = df.persist()
    try body(held) finally { held.unpersist(); () }
  }

  /** A trainer's round loop: `step(r, w)` derives round r's table from
    * round r−1's `w` (r = 1..n), or returns None when nothing is left to
    * merge. Round 0 is persisted; every later round is materialized by
    * `localCheckpoint`, which also truncates lineage — a step reads its
    * input twice, so a persist-only chain would double the logical plan
    * every round (2^rounds nodes at production round counts). The
    * previous round is released as soon as the next one is
    * materialized, so at most two rounds hold storage, on the failure
    * path too. Returns the last round's table, lineage-free: the last
    * checkpoint itself, or a checkpoint of round 0 when no round ran.
    * Its blocks are freed when the caller drops it. */
  def rounds(w0: DataFrame, n: Int)
      (step: (Int, DataFrame) => Option[DataFrame]): DataFrame = {
    val seed = w0.persist()
    // a checkpointed round's storage sits behind its plan's LogicalRDD
    // leaf; Dataset.unpersist only covers CacheManager entries (the
    // seed), and otherwise those blocks wait for driver GC
    def release(w: DataFrame): Unit =
      if (w eq seed) { seed.unpersist(); () }
      else w.queryExecution.analyzed.foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = false); ()
        case _ => ()
      }
    var w = seed
    var r = 1
    var more = true
    try {
      while (more && r <= n) {
        step(r, w) match {
          case Some(next) =>
            // eager: an iterative loop; each round is cut from its lineage
            val done = next.localCheckpoint()
            release(w)
            w = done
          case None => more = false
        }
        r += 1
      }
      // eager: the loop's result outlives the persisted seed it may be
      if (w eq seed) seed.localCheckpoint() else w
    } catch { case e: Throwable => release(w); throw e }
    finally { seed.unpersist(); () }
  }

  /** A staged artifact: its context, its directory, and the schema it
    * was written with — a hit reads with that schema, so serving an
    * artifact runs no parquet footer-inference job. */
  private case class Staged(sc: org.apache.spark.SparkContext,
      dir: java.nio.file.Path, schema: org.apache.spark.sql.types.StructType)

  private val staged = new java.util.concurrent.ConcurrentHashMap[(Long, String), Staged]()
  // one monitor PER KEY: a first-time derivation of artifact X must not
  // block an unrelated artifact Y's first request (each derivation is a
  // whole Spark job); double-derivation of the SAME key stays bounded
  private val keyLocks = new java.util.concurrent.ConcurrentHashMap[
    (Long, String), Object]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      staged.forEach((_, v) =>
        try Channel.deleteRecursively(v.dir)
        catch { case _: java.io.IOException => () })))
  }

  /** The staged relation named `name` for `(s.sparkContext, d)` — derived
    * and written on first request, a fresh parquet read on every call.
    * `derive` runs outside the map's bin locks, under the KEY's own
    * derivation monitor — same-key double-derivation is bounded while
    * unrelated artifacts derive concurrently. */
  def parquet(s: SparkSession, d: String, name: String)
      (derive: => DataFrame): DataFrame = {
    // stopped contexts' keys can never hit again (startTime differs) —
    // sweep their directories so session churn doesn't leak temp trees
    staged.forEach { (k, v) =>
      if (v.sc.isStopped && staged.remove(k, v)) {
        keyLocks.remove(k)
        try Channel.deleteRecursively(v.dir)
        catch { case _: java.io.IOException => () }
      }
    }
    val key = (s.sparkContext.startTime, s"$name@$d")
    // a staged dir can vanish UNDER a live context — a tmp sweeper, or a
    // caller-owned artifacts root deleted after its scope (test suites
    // sharing one getOrCreate context do exactly this) — so a hit is
    // only a hit while its COMPLETION MARKER still exists: parquet's
    // _SUCCESS file distinguishes a fully-written artifact from a
    // partially-swept one (part files gone, dir shell left), which a
    // bare Files.exists(dir) would still count as live. And because the
    // dir can vanish BETWEEN the marker check and the parquet footer
    // read, a failed fast-path read invalidates the key and falls
    // through to the locked re-derivation branch instead of surfacing a
    // confusing path-not-found to the caller. Residual window (known,
    // accepted): a dir swept AFTER read.parquet returned its DataFrame
    // but before a consumer job executes still fails that job — closing
    // it would require eager materialization per call, and the gate's
    // oracle hash-compare keeps any such failure loud, never wrong.
    def live(v: Staged): Boolean =
      java.nio.file.Files.exists(v.dir.resolve("_SUCCESS"))
    def tryRead(v: Staged): Option[DataFrame] =
      if (!live(v)) None
      else try Some(s.read.schema(v.schema).parquet(v.dir.toString))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    val hit = staged.get(key)
    val fast = if (hit == null) None else {
      val r = tryRead(hit)
      if (r.isEmpty) staged.remove(key, hit)
      r
    }
    fast.getOrElse(keyLocks.computeIfAbsent(key, _ => new Object).synchronized {
      val again = staged.get(key)
      val cached = if (again == null) None else tryRead(again)
      cached.getOrElse {
        if (again != null) staged.remove(key, again)
        val root = java.nio.file.Paths.get(
          s.conf.get("graft.artifacts.root", System.getProperty("java.io.tmpdir")))
        java.nio.file.Files.createDirectories(root)
        val dir = java.nio.file.Files.createTempDirectory(root, s"graft_art_${name}_")
        // a FAILED derivation must not leak its directory: it is only
        // registered (and thus sweepable / shutdown-removed) on success
        try derive.write.mode("overwrite").parquet(dir.toString)
        catch { case e: Throwable =>
          try Channel.deleteRecursively(dir)
          catch { case _: java.io.IOException => () }
          throw e
        }
        val out = s.read.parquet(dir.toString)
        staged.put(key, Staged(s.sparkContext, dir, out.schema))
        out
      }
    })
  }
}
