package graft

/** Production-constant tokenizer training runs (BENCH.md round-14
  * record): each family's trainer at realistic dials — batched merge
  * modes at m=16 from a top-64 ranking, unigram at MaxPiece=8 with a
  * multi-kB budget and the 10⁶-scale seed cap — run until the corpus
  * exhausts (the synthetic fixture's ~31-word vocabulary fuses long
  * before a 30k vocabulary, so the dials prove the LOOP STRUCTURE:
  * rounds-until-exhaustion, per-round cost, bounded driver crossings;
  * vocabulary size is corpus-limited, not loop-limited).
  *
  * Not part of the library surface; `sbt "runMain graft.TokenizerScaleMain"`.
  */
object TokenizerScaleMain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.localSession()

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"SCALE $label wall=${(System.nanoTime() - t0) / 1e9}%.1fs")
      r
    }

    // rounds dial far above exhaustion on purpose: the loop must stop
    // itself when no mergeable pair remains (production: rounds =
    // vocabSize / m)
    val bpe = timed("bpe_batched m=16 topK=64") {
      queries.CurationOps.bpeTrainBatched(spark, sfDir, rounds = 2000, m = 16, topK = 64)
    }
    println(s"SCALE bpe_batched merges=${bpe.size} " +
      s"rounds=${bpe.map(_._1).maxOption.getOrElse(0)}")

    val wp = timed("wordpiece_batched m=16 topK=64") {
      queries.CurationOps.wpTrainBatched(spark, sfDir, rounds = 2000, m = 16, topK = 64)
    }
    println(s"SCALE wordpiece_batched merges=${wp.size} " +
      s"rounds=${wp.map(_._1).maxOption.getOrElse(0)}")

    val kept = timed("unigram maxPiece=8 budget=8192 seedCap=1000000") {
      queries.UnigramOps.trainWith(spark, sfDir,
        maxPiece = 8, rounds = 2, budget = 8192, seedCap = 1000000)
    }
    println(s"SCALE unigram kept=${kept.size} " +
      s"multi=${kept.count(_._1.length > 1)} singles=${kept.count(_._1.length == 1)}")
    spark.stop()
  }
}
