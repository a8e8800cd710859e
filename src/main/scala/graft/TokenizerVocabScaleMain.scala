package graft

import org.apache.spark.sql.functions._

/** Vocabulary-scale tokenizer fixture (VERDICT r14 #6): the sf0.1 corpus
  * fuses at ~90 merges, so TokenizerScaleMain proves loop STRUCTURE but
  * not round-count scaling — the ~1.9k-round/30k-vocab claim was
  * extrapolated from 12-14 observed rounds. This main synthesizes a
  * deterministic wide-vocab word table (hash-derived multi-script words,
  * Zipf frequencies — no RNG, same table every run) and drives the
  * batched BPE trainer through 500+ rounds at production dials,
  * recording the PER-ROUND wall curve. The claim under test is that
  * per-round time is FLAT: the localCheckpoint-per-round discipline
  * means round k costs the same as round 1 (no lineage growth, no block
  * accumulation); a drifting curve exposes whatever driver-side state
  * still accumulates per round.
  *
  * Not part of the library surface;
  * `sbt "runMain graft.TokenizerVocabScaleMain [rounds] [nWords]"`.
  */
object TokenizerVocabScaleMain {

  /** splitmix64 — deterministic word derivation, no RNG state. */
  private def h64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val Alphabets = Array(
    "abcdefghijklmnopqrstuvwxyz",
    "абвгдежзийклмнопрстуфхцчшщэюя",
    "αβγδεζηθικλμνξοπρστυφχψω")

  /** Deterministic multi-script word for index i (6-14 chars, all BMP). */
  private def word(i: Long): String = {
    val base = h64(i)
    val ab = Alphabets(((base >>> 8) & 0x7FFFFFFFL).toInt % Alphabets.length)
    val len = 6 + (((base >>> 16) & 0x7FFFFFFFL) % 9).toInt
    val sb = new StringBuilder(len)
    var s = base
    var k = 0
    while (k < len) {
      s = h64(s + k)
      sb.append(ab((((s >>> 5) & 0x7FFFFFFFL) % ab.length).toInt))
      k += 1
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val rounds = args.lift(0).map(_.toInt).getOrElse(520)
    val nWords = args.lift(1).map(_.toInt).getOrElse(30000)
    val spark = Tables.localSession()
    import spark.implicits._

    // Zipf frequencies over a deduped hash-derived vocabulary: the merge
    // supply (~sum of word lengths) sustains m=16 selections for well
    // over the measured horizon, and frequency ties break on the pair
    // string exactly as in production
    val vocab = (0L until nWords.toLong).map(i => (word(i), math.max(1L, 100000L / (i + 1))))
      .groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toSeq
    println(s"VOCABSCALE vocab=${vocab.size} words (from $nWords indices)")
    val w0 = vocab.toDF("w", "freq")
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("syms", split(trim(regexp_replace(col("w"), "(.)", "$1 ")), " "))

    def drive(family: String)(train: ((Int, Int, Double) => Unit) => Int): Unit = {
      val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
      val nMerges = train((r, n, s) => {
        walls += s
        if (r % 25 == 0 || r == 1)
          println(f"VOCABSCALE $family round=$r%4d merges=$n%6d wall=$s%.3fs")
      })
      // the curve, bucketed: per-100-round median/p90 — flat is the claim
      walls.grouped(100).zipWithIndex.foreach { case (b, i) =>
        val ws = b.sorted
        println(f"VOCABSCALE $family bucket=${i * 100 + 1}%4d-${i * 100 + b.size}%4d " +
          f"p50=${ws(ws.size / 2)}%.3fs p90=${ws((ws.size * 9) / 10 min (ws.size - 1))}%.3fs " +
          f"sum=${ws.sum}%.1fs")
      }
      println(f"VOCABSCALE $family total rounds=${walls.size} merges=$nMerges " +
        f"wall=${walls.sum}%.1fs")
    }

    drive("bpe") { cb =>
      queries.CurationOps.bpeTrainBatchedOn(w0, rounds, m = 16, topK = 64, cb).size
    }
    drive("wordpiece") { cb =>
      queries.CurationOps.wpTrainBatchedOn(w0, rounds, m = 16, topK = 64, cb).size
    }
    spark.stop()
  }
}
