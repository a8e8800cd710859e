package graft.queries

import graft.{SparkSpec, SparkEntry, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The COMPOSED snapshot lifecycle (r15 verdict #2): three sequential
  * batch arrivals over one timeline, every refresh seam's stored
  * artifacts updated in place per batch through the SAME kernels the
  * single-refresh queries run, asserting after the final batch that each
  * seam's state equals its full recompute. The per-seam suites verify
  * one refresh against the doc_id%8 split; this drives the production
  * story the family exists for — and makes cross-seam staleness (a
  * keeper manifest written from pre-merge labels, a ledger missing a
  * bridge merge that spans batches) observable. Every state version
  * round-trips through parquet (the artifact storage contract), never
  * through lineage.
  */
class SnapshotLifecycleSuite extends SparkSpec {

  private val d = "/root/testdata/sf0.001"
  private lazy val statesDir = tmpDir("lifecycle")

  /** Persist one state VERSION as parquet and hand back a plain scan —
    * the artifact round-trip (versioned paths: parquet cannot overwrite
    * a path it is also reading). */
  private def store(name: String, df: DataFrame): DataFrame = {
    val p = statesDir.resolve(s"${name}_${System.nanoTime()}").toString
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  private def docs = Tables.documents(spark, d)
  private def batch(t: Int) = docs.filter(col("doc_id") % 3 === t)

  private def rowSet(df: DataFrame, cols: String*): Set[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).toSet

  /** Collected rows in the frame's own order — for top-k outputs where
    * order is part of the contract. */
  private def ordered(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("dedup family: bands, labels, ledger and manifest maintained over 3 batches equal the full recompute") {
    val root = tmpDir("lc_dedup_art")
    spark.conf.set("graft.artifacts.root", root.toString)
    try {
      var bands = store("bands", DedupOps.bandIndex(docs.limit(0)))
      var labels = store("labels",
        docs.select(col("doc_id").as("node"), col("doc_id").as("component")).limit(0))
      var ledger = store("ledger",
        docs.select(col("doc_id"), col("doc_id").as("cluster"), col("n_chars")).limit(0))
      var stats = store("stats", DedupOps.keeperRows(ledger))
      var ingested = docs.limit(0)
      val allPairs = scala.collection.mutable.Buffer.empty[Set[(Long, Long)]]

      for (t <- 0 to 2) {
        val b = batch(t)
        val corpus = ingested.union(b)
        val pairs = DedupOps.refreshVerifiedPairs(bands, b, corpus)
          .select(col("doc_a"), col("doc_b")).localCheckpoint()
        val newDocs = b.select(col("doc_id").as("node"))
        val newMembers = b.select(col("doc_id"), col("n_chars"))
        // manifest/ledger update reads the PRE-merge labels (the same
        // inputs the single-refresh query hands the kernel), THEN the
        // label state advances — the ordering a real refresh runs
        val (stats2, ledger2) = DedupOps.refreshKeeperState(
          labels, ledger, stats, pairs, newDocs, newMembers)
        stats = store("stats", stats2)
        ledger = store("ledger", ledger2)
        // the merge emits (doc_id, cluster); the stored label artifact's
        // schema — what the kernels read — is (node, component)
        labels = store("labels",
          DedupOps.mergeIncrementalLabels(labels, pairs, newDocs)
            .select(col("doc_id").as("node"), col("cluster").as("component")))
        bands = store("bands",
          bands.union(DedupOps.bandIndex(Tables.spread(b, col("doc_id")))))
        allPairs += pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        ingested = corpus
      }

      // every pair surfaces exactly once — at the batch its LATER end
      // arrives — so the union over batches is the full pair set
      val full = SparkEntry.queries("q_minhash_lsh")(spark, d)
      val fullPairs = full.select(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(allPairs.map(_.size).sum == allPairs.reduce(_ ++ _).size,
        "a pair was emitted by more than one batch")
      assert(allPairs.reduce(_ ++ _) == fullPairs,
        s"accumulated pairs diverged from the full recompute: " +
        s"missing=${fullPairs -- allPairs.reduce(_ ++ _)} " +
        s"extra=${allPairs.reduce(_ ++ _) -- fullPairs}")
      assert(fullPairs.nonEmpty, "vacuous: no near-dup pairs at sf0.001")

      // label state == full re-cluster (bridge merges may span batches)
      val labelView = labels.select(col("node").as("doc_id"),
        col("component").as("cluster"))
      val wantLabels = rowSet(
        SparkEntry.queries("q_dedup_clusters")(spark, d), "doc_id", "cluster")
      assert(rowSet(labelView, "doc_id", "cluster") == wantLabels,
        "maintained labels diverged from the full re-cluster")

      // manifest state == full retention recompute; ledger == labels+chars
      val wantKeep = rowSet(SparkEntry.queries("q_dedup_keep")(spark, d),
        "cluster", "keep_id", "keep_chars", "n_members", "chars_total")
      assert(rowSet(stats, "cluster", "keep_id", "keep_chars",
          "n_members", "chars_total") == wantKeep,
        "maintained manifest diverged from the full retention recompute")
      assert(rowSet(ledger, "doc_id", "cluster") == rowSet(labelView, "doc_id", "cluster"),
        "ledger labels drifted from the label state")
      // the band-index state equals a full signing pass
      assert(rowSet(bands, "band", "band_key", "doc_id") ==
        rowSet(DedupOps.bandIndex(docs), "band", "band_key", "doc_id"),
        "band index state diverged from a full signing")
    } finally spark.conf.unset("graft.artifacts.root")
  }

  test("decon index: per-batch novel-shingle appends serve the full probe") {
    val tagged = docs.select(col("doc_id"), col("text"),
      TextOps.splitTag.as("split"))
    var idx = store("decon", TextOps.deconShingleIndex(tagged.limit(0)))
    for (t <- 0 to 2) {
      val novel = TextOps.deconShingleIndex(
          tagged.filter(col("split") === "train" && col("doc_id") % 3 === t))
        .join(idx, Seq("s"), "left_anti")
      idx = store("decon", idx.union(novel))
    }
    val got = rowSet(TextOps.deconProbe(idx,
      tagged.filter(col("split") === "test")), "doc_id", "n_hits")
    val want = rowSet(SparkEntry.queries("q_decontaminate")(spark, d),
      "doc_id", "n_hits")
    assert(want.nonEmpty, "vacuous: no contaminated docs at sf0.001")
    assert(got == want, s"grown index probe diverged: got=$got want=$want")
    // each shingle held once — the invariant deconProbe counts on
    assert(idx.count() == idx.distinct().count(), "index holds duplicate shingles")
  }

  test("bm25: postings appended over 3 batches serve identically under the frozen snapshot stats") {
    val statsRow = store("bmstats",
      RetrievalOps.bm25SnapshotStats(batch(0))).head()
    var postings = store("postings", RetrievalOps.bm25QueryTf(batch(0)))
    for (t <- 1 to 2)
      postings = store("postings",
        postings.unionByName(RetrievalOps.bm25QueryTf(batch(t))))
    assert(rowSet(postings, "doc_id", "dl", "word", "tf") ==
      rowSet(RetrievalOps.bm25QueryTf(docs), "doc_id", "dl", "word", "tf"),
      "appended postings diverged from a full tokenize")
    val got = ordered(
      RetrievalOps.bm25ServeFrozen(postings, statsRow))
    val want = ordered(
      RetrievalOps.bm25ServeFrozen(RetrievalOps.bm25QueryTf(docs), statsRow))
    assert(got.nonEmpty && got == want,
      "serving over maintained postings diverged from the one-shot build")
  }

  test("semdedup: absorbing two batches sequentially equals absorbing them at once") {
    val e = VectorOps.embedRel(spark, d)
    def eb(t: Int) = e.filter(col("vec_id") % 3 === t)
    def explodeX(c: DataFrame): DataFrame =
      c.select(col("cluster"), col("vec_id"), posexplode(col("v")).as(Seq("i", "x")))
    // snapshot state: quantizer + clustering + centroids + scored ledger
    // over the FIRST batch, all frozen until the next rebuild
    val cents = VectorOps.quantCentroids(eb(0))
    val comp = VectorOps.componentsCells(eb(0), cents).persist()
    try {
      val cm = store("cm", VectorOps.semdedupCentroids(explodeX(comp)))
      val led0 = store("semledger",
        VectorOps.semdedupCentCos(explodeX(comp), cm)
          .join(comp.select(col("vec_id"), col("cell")), "vec_id"))
      val clCell = led0.select(col("cluster").as("cl"), col("cell")).distinct()
        .localCheckpoint()
      var ledger = store("semledger3",
        led0.select(col("cluster"), col("vec_id"), col("cent_cos")))
      for (t <- 1 to 2)
        ledger = store("semledger3", ledger.unionByName(
          VectorOps.semdedupAbsorb(eb(t), cents, cm, clCell)))
      val oneShot = led0.select(col("cluster"), col("vec_id"), col("cent_cos"))
        .unionByName(VectorOps.semdedupAbsorb(
          eb(1).unionByName(eb(2)), cents, cm, clCell))
      assert(rowSet(ledger, "cluster", "vec_id", "cent_cos") ==
        rowSet(oneShot, "cluster", "vec_id", "cent_cos"),
        "sequential absorption diverged from the one-shot refresh")
      val got = rowSet(VectorOps.semdedupDecision(ledger),
        "vec_id", "cluster", "cent_cos", "keep")
      val want = rowSet(VectorOps.semdedupDecision(oneShot),
        "vec_id", "cluster", "cent_cos", "keep")
      assert(got.nonEmpty && got == want,
        "keeper decision over the maintained ledger diverged")
    } finally { comp.unpersist(); () }
  }

  test("media dedup: chunk index maintained over 3 batches yields the full pair set") {
    var chunks = store("mchunks", MultimodalOps.mediaChunks(spark, docs.limit(0)))
    val acc = scala.collection.mutable.Buffer.empty[Set[String]]
    for (t <- 0 to 2) {
      val nc = MultimodalOps.mediaChunks(spark, batch(t)).localCheckpoint()
      acc += rowSet(MultimodalOps.mediaRefreshPairs(chunks, nc),
        "media_a", "media_b", "hamming")
      chunks = store("mchunks", chunks.union(nc))
    }
    val want = rowSet(SparkEntry.queries("q_media_dedup")(spark, d),
      "media_a", "media_b", "hamming")
    assert(want.nonEmpty, "vacuous: no near-dup media at sf0.001")
    assert(acc.map(_.size).sum == acc.reduce(_ ++ _).size,
      "a media pair was emitted by more than one batch")
    assert(acc.reduce(_ ++ _) == want,
      s"accumulated media pairs diverged: missing=${want -- acc.reduce(_ ++ _)}")
  }

  test("trained models: word-freq, dsir counts and quality features maintained over 3 batches retrain to the full models") {
    val root = tmpDir("lc_model_art")
    spark.conf.set("graft.artifacts.root", root.toString)
    try {
      // BPE word-frequency state: per-batch counts sum on the word key
      var wf = store("wf", CurationOps.wordFreqRel(batch(0)))
      for (t <- 1 to 2)
        wf = store("wf", wf.union(CurationOps.wordFreqRel(batch(t)))
          .groupBy(col("w")).agg(sum(col("freq")).as("freq")))
      val (merges, _) = CurationOps.bpeTrainOnWords(
        CurationOps.symsFromFreq(wf))
      val wantMerges = SparkEntry.queries("q_bpe_merges")(spark, d)
        .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
      assert(merges.nonEmpty && merges == wantMerges,
        s"word-freq state retrain diverged: $merges vs $wantMerges")

      // DSIR count state: per-batch (doc, lang, bucket, n) rows append
      var db = store("dsirdb", TextOps.dsirBuckets(batch(0)))
      for (t <- 1 to 2)
        db = store("dsirdb", db.unionByName(TextOps.dsirBuckets(batch(t))))
      val got = ordered(
        TextOps.dsirScored(db, TextOps.dsirLambdaOn(db))
          .orderBy(col("gkey").desc, col("doc_id")).limit(100))
      val want = ordered(
        SparkEntry.queries("q_dsir_sample")(spark, d))
      assert(got.nonEmpty && got == want, "dsir count state diverged")

      // the same word-freq state serves WordPiece's refresh; the unigram
      // family maintains its own (w, f) state the same way
      val (wpMerges, _) = CurationOps.wpTrainOnWords(
        CurationOps.symsFromFreq(wf))
      val wantWp = SparkEntry.queries("q_wordpiece_merges")(spark, d)
        .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      assert(wpMerges.nonEmpty && wpMerges == wantWp,
        "wordpiece retrain from the maintained word-freq state diverged")
      var uw = store("uwf", UnigramOps.wordRelOf(batch(0)))
      for (t <- 1 to 2)
        uw = store("uwf", uw.union(UnigramOps.wordRelOf(batch(t)))
          .groupBy(col("w")).agg(sum(col("f")).as("f")))
      val kept = UnigramOps.trainWithWords(uw, UnigramOps.MaxPiece,
        UnigramOps.Rounds, UnigramOps.Budget, UnigramOps.SeedCap)
      val wantUg = SparkEntry.queries("q_unigram_tokenizer")(spark, d)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(kept.nonEmpty && kept.sortBy { case (p, c) => (-c, p) } ==
        wantUg.sortBy { case (p, c) => (-c, p) },
        "unigram retrain from the maintained word-freq state diverged")

      // quality-feature state: per-doc rows append
      var feats = store("qfeats", TextOps.qualityFeatures(batch(0)))
      for (t <- 1 to 2)
        feats = store("qfeats", feats.unionByName(TextOps.qualityFeatures(batch(t))))
      val gotQ = ordered(
        TextOps.scoreQualityFeats(feats, TextOps.trainQualityWeightsOn(feats))
          .orderBy(col("doc_id")))
      val wantQ = ordered(
        SparkEntry.queries("q_quality_classifier")(spark, d))
      assert(gotQ.nonEmpty && gotQ == wantQ, "quality feature state diverged")
    } finally spark.conf.unset("graft.artifacts.root")
  }

  test("at-ingest index maintenance survives kill/restart mid-lifecycle (r16 verdict #5)") {
    // The batch seams above cover artifact timelines; the at-ingest
    // maintainers had checkpoint-restart tests only in ISOLATION. This
    // drives the q_stream_index_update maintenance loop — per-trigger
    // cell assignment appended through the idempotent per-batch write —
    // across a 6-trigger timeline with TWO kills at different artifact
    // states (after ~2 and ~4 committed triggers), each restart resuming
    // from the SAME checkpoint over the SAME postings tree. The
    // checkpoint/artifact interplay under test: a replayed trigger
    // rewrites its batch dir in place (no doubles), a skipped trigger
    // would leave a posting gap (no losses), and the accumulated index
    // after the final drain must equal the one-shot batch build of the
    // same assignment — bit-for-bit on (cell, nbr), count == corpus.
    val e = VectorOps.embedRel(spark, d).cache()
    try {
      val n = e.count()
      val centroids = VectorOps.ivfCentroids(e.filter(col("vec_id") < n / 2))
      def assigned(df: DataFrame): DataFrame = df.select(
        element_at(graft.functions.VectorExpressions.nearestCells(
          col("v"), centroids, 1), 1).as("cell"),
        col("vec_id").as("nbr"))
      val outRoot = tmpDir("lc_stream_idx").toString
      Staging.stage(e.select(col("vec_id"), col("v")),
        Seq(col("vec_id")), nFiles = 6) { in =>
        val schema = spark.read.parquet(in).schema
        // deterministic mid-lifecycle cut: hold the later range files
        // OUT of the source dir so even a host fast enough to drain
        // everything between the progress observation and q.stop()
        // cannot commit more than the released prefix (the poll-based
        // kill still exercises a genuine in-flight stop when it lands
        // mid-batch; the holdback just bounds what a full drain can see).
        // Files.move on one filesystem preserves the pinned mod-times,
        // and the file source picks up late-appearing UNSEEN files
        // regardless of their older timestamps.
        val inP = java.nio.file.Paths.get(in)
        val held = inP.resolveSibling("held")
        java.nio.file.Files.createDirectory(held)
        val parts = new java.io.File(in).listFiles()
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
        def hold(fs: Seq[java.io.File]): Unit = fs.foreach(f =>
          java.nio.file.Files.move(f.toPath, held.resolve(f.getName)))
        def release(names: Seq[java.io.File]): Unit = names.foreach(f =>
          java.nio.file.Files.move(held.resolve(f.getName), f.toPath))
        hold(parts.drop(3))
        def run(stopAfterBatches: Option[Int]): Unit = {
          val q = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(in)
            .writeStream.outputMode("append")
            .option("checkpointLocation", s"$outRoot/ck")
            .foreachBatch { (batch: DataFrame, id: Long) =>
              Staging.writeBatch(assigned(batch), s"$outRoot/postings", id)
              ()
            }
            .start()
          try stopAfterBatches match {
            case Some(k) =>
              val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
              while (Option(q.lastProgress).forall(_.batchId < k - 1) &&
                System.nanoTime < deadline) Thread.sleep(50)
            case None => q.processAllAvailable()
          } finally q.stop()
        }
        run(stopAfterBatches = Some(2)) // first kill — ≤ 3 files visible
        // mid-lifecycle observation: the partial artifact is a CONSISTENT
        // prefix — whole batch dirs, no fractional batch, every posting a
        // correct assignment (the artifact is serveable while the
        // maintainer is down). nPartial < n is now guaranteed by the
        // holdback, not by winning a race against the final commit.
        val partial = spark.read.option("recursiveFileLookup", "true")
          .parquet(s"$outRoot/postings")
        val nPartial = partial.count()
        assert(nPartial > 0 && nPartial < n,
          s"expected a mid-lifecycle prefix, got $nPartial of $n")
        assert(partial.join(assigned(e), Seq("cell", "nbr"), "left_anti").count() == 0,
          "partial postings contain a wrong assignment")
        release(parts.slice(3, 4))      // one more range enters the source
        run(stopAfterBatches = Some(4)) // second kill, later artifact state
        release(parts.drop(4))          // the rest arrive for the final run
        run(stopAfterBatches = None)    // final restart, drain to the end
        val got = spark.read.option("recursiveFileLookup", "true")
          .parquet(s"$outRoot/postings")
        assert(got.count() == n,
          s"accumulated index count ${got.count()} != corpus $n (lost or doubled batch)")
        val diffA = got.join(assigned(e), Seq("cell", "nbr"), "left_anti").count()
        val diffB = assigned(e).join(got, Seq("cell", "nbr"), "left_anti").count()
        assert(diffA == 0 && diffB == 0,
          s"accumulated index diverged from the one-shot build: extra=$diffA missing=$diffB")
      }
    } finally { e.unpersist(); () }
  }
}
