package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory installs the whole native-function table through
  * `spark.sql.extensions=graft.GraftExtensions`: every function resolves
  * in pure SQL with no registration call, and bad size or spec arguments
  * fail analysis with a message naming the function and the argument. */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.spark
    import s.implicits._
    Seq(("some shared text about spark engines", 3)).toDF("t", "n")
      .createOrReplaceTempView("graft_ext_docs")
    s
  }

  private def select(call: String) = spark.sql(s"SELECT $call FROM graft_ext_docs")

  test("extensions install the codegen functions for pure SQL") {
    val calls = Seq(
      "minhash_sig" -> "minhash_sig(t)",
      "simhash64" -> "simhash64(t)",
      "rolling_hash64" -> "rolling_hash64(t)",
      "ngram_set" -> "ngram_set(t)",
      "minhash_agree" -> "minhash_agree(minhash_sig(t), minhash_sig(t))",
      "vec_dot" -> "vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))",
      "char_stats" -> "char_stats(t)",
      "word_ngrams" -> "word_ngrams(t, 2)",
      "lsh_bands" -> "lsh_bands(t, 8)",
      "lsh_bands_from_sig" -> "lsh_bands_from_sig(minhash_sig(t), 8)",
      "frame_energies" -> "frame_energies(t, 4)",
      "ahash_bits" -> "ahash_bits(t, 8L, 8L)",
      "bpe_count" -> "bpe_count(t)",
      "bpe_count_learned" -> "bpe_count_learned(t, 't h,i n')",
      "ac_counts" -> "ac_counts(t)",
      "zorder64" -> "zorder64(5L, 3L)",
      "bloom_agg" -> "bloom_agg(xxhash64(t))",
      "bloom_might_contain" ->
        "bloom_might_contain((SELECT bloom_agg(xxhash64(t)) FROM graft_ext_docs), xxhash64(t))")
    assert(calls.map(_._1).distinct.size == 18)
    calls.foreach { case (name, call) =>
      val rows = try select(call).collect()
        catch { case e: Exception => fail(s"$name does not resolve: ${e.getMessage}", e) }
      assert(rows.length == 1 && !rows(0).isNullAt(0), name)
    }
    val r = select("minhash_sig(t), lsh_bands(t, 8), lsh_bands_from_sig(minhash_sig(t), 8), " +
      "vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)), " +
      "bloom_might_contain((SELECT bloom_agg(xxhash64(t)) FROM graft_ext_docs), xxhash64(t))")
      .collect()(0)
    assert(r.getSeq[Long](0).length == 32)
    assert(r.getSeq[Long](1) == r.getSeq[Long](2), "bands from text and from sig must agree")
    assert(r.getDouble(3) == 11.0)
    assert(r.getBoolean(4), "a sketch must contain the value it was built from")
  }

  test("bad size and spec arguments fail analysis, naming function and argument") {
    val bad = Seq(
      "word_ngrams(t, 0)" -> "word_ngrams: n",
      "word_ngrams(t, -2)" -> "word_ngrams: n",
      "word_ngrams(t, NULL)" -> "word_ngrams: n",
      "word_ngrams(t, n)" -> "word_ngrams: n",
      "lsh_bands(t, 0)" -> "lsh_bands: bands",
      "lsh_bands(t, n)" -> "lsh_bands: bands",
      "lsh_bands_from_sig(minhash_sig(t), -1)" -> "lsh_bands_from_sig: bands",
      "lsh_bands_from_sig(minhash_sig(t), NULL)" -> "lsh_bands_from_sig: bands",
      "frame_energies(t, 0)" -> "frame_energies: window",
      "frame_energies(t, n)" -> "frame_energies: window",
      "ac_counts(t, t)" -> "ac_counts: spec",
      "ac_counts(t, NULL)" -> "ac_counts: spec",
      "bpe_count_learned(t, t)" -> "bpe_count_learned: spec",
      "bpe_count_learned(t, NULL)" -> "bpe_count_learned: spec")
    bad.foreach { case (call, want) =>
      // spark.sql analyzes eagerly: the error comes before any job runs
      val err = intercept[Exception](select(call))
      val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains(want)), s"$call: ${msgs.mkString(" / ")}")
    }
  }
}
