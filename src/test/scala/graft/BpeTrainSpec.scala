package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Bpe
import graft.ops.BpeTrain

/** BPE training against an independent driver-side reference: a naive
  * Scala reimplementation of iterated pair counting with replace
  * (non-overlapping) semantics and the same (cnt DESC, pair ASC)
  * tie-break. The distributed trainer must learn the identical table,
  * and `bpe_count_learned` must tokenize exactly as applying the
  * learned merges by hand. */
class BpeTrainSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Non-overlapping leftmost occurrence count (replace semantics). */
  private def occ(hay: String, needle: String): Int = {
    var i = 0; var n = 0
    while ({ val j = hay.indexOf(needle, i); j >= 0 && { i = j + needle.length; n += 1; true } }) ()
    n
  }

  /** Reference trainer over (word, freq) pairs. */
  private def referenceTrain(wordFreqs: Map[String, Long],
      rounds: Int): Seq[(Int, String, String, Long)] = {
    var states = wordFreqs.map { case (w, f) =>
      (w.flatMap(c => s"<$c>"), f)
    }.toSeq
    (1 to rounds).map { r =>
      val counts = scala.collection.mutable.Map[String, Long]()
      for ((st, f) <- states) {
        val syms = "<[^>]+>".r.findAllIn(st).toSeq
        for (p <- syms.zip(syms.drop(1)).map { case (a, b) => a + b }.distinct)
          counts(p) = counts.getOrElse(p, 0L) + f * occ(st, p)
      }
      val (pair, cnt) = counts.toSeq.sortBy { case (p, c) => (-c, p) }.head
      val merged = pair.replace("><", "")
      states = states.map { case (st, f) => (st.replace(pair, merged), f) }
      (r, pair, merged, cnt)
    }
  }

  private val corpus = Seq(
    "the thin thing sings in the ring",
    "a banana and an apple in the basket",
    "think in the end the thing is the same thing",
    "sing a song of things and rings 10 10 100 times",
    "aaa aaaa baaa",                // repeated-symbol runs: replace-count lane
    "the the the and and in in in")
  private lazy val docs = corpus.toDF("text")

  private def wordFreqs: Map[String, Long] = corpus
    .flatMap(_.toLowerCase.split("[^a-z0-9]+")).filter(_.nonEmpty)
    .groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }

  test("learnMerges matches the reference trainer exactly") {
    val got = BpeTrain.learnMerges(docs, "text", rounds = 8, vocabCap = 1000)
      .map(m => (m.rank, m.pair, m.merged, m.cnt))
    val want = referenceTrain(wordFreqs, 8)
    assert(got == want)
  }

  test("vocabCap truncates deterministically by (freq DESC, word ASC)") {
    // cap to 3 words: 'the' (7), 'in' (5), 'and' (4)... compute from the
    // reference freqs so the fixture can evolve without editing counts
    val top3 = wordFreqs.toSeq.sortBy { case (w, f) => (-f, w) }.take(3).toMap
    val got = BpeTrain.learnMerges(docs, "text", rounds = 3, vocabCap = 3)
      .map(m => (m.rank, m.pair, m.merged, m.cnt))
    assert(got == referenceTrain(top3, 3))
  }

  test("bpe_count_learned tokenizes exactly as the learned replace chain") {
    val learned = BpeTrain.learnMerges(docs, "text", rounds = 8, vocabCap = 1000)
    val spec = BpeTrain.mergeSpec(learned)
    val got = docs.select(
      call_function("bpe_count_learned", col("text"), lit(spec)).as("n"))
      .as[Long].collect().toSeq
    val want = corpus.map { t =>
      // apply the learned merges to the whole-document state by hand
      val base = t.toLowerCase.replaceAll("[^a-z0-9]+", "|")
        .flatMap(c => if (c == '|') "|" else s"<$c>")
      val fin = learned.foldLeft(base)((acc, m) => acc.replace(m.pair, m.merged))
      fin.count(_ == '<').toLong
    }
    assert(got == want)
  }

  test("learned tables satisfy the rank-order validity invariant") {
    val learned = BpeTrain.learnMerges(docs, "text", rounds = 8, vocabCap = 1000)
    Bpe.validateTable(learned.map(_.xy)) // must not throw
    // and an invalid spec is rejected at parse
    val e = intercept[IllegalArgumentException](Bpe.parseMergeSpec("th e,x q9"))
    assert(e.getMessage.contains("invalid BPE merge table"))
  }

  test("static-table bpe_count is the same machinery as the learned lane") {
    val spec = Bpe.Merges.map { case (x, y) => s"$x $y" }.mkString(",")
    val both = docs.select(
      call_function("bpe_count", col("text")).as("a"),
      call_function("bpe_count_learned", col("text"), lit(spec)).as("b"))
      .as[(Long, Long)].collect()
    assert(both.forall { case (a, b) => a == b })
  }
}
