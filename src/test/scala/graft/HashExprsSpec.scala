package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the native expressions to the higher-order-function formulas
  * they replaced — bit-identical signatures mean LSH buckets, pair
  * tables, and every downstream test keep their semantics. */
class HashExprsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    "this is a long shared document about spark engines " * 4,
    "short", "", "ünïcødé text with Ümläute and 中文字符 mixed in",
    "punctuation!!! and   spacing\t\tvariations...").toDF("text")

  test("minhash_sig equals an independent reference implementation") {
    // Driver-side reimplementation written the "multiplied" way
    // (h + k*h2 with an explicit multiply) — pins the production
    // kernel's incremental-add form bit-for-bit. (The h+k*h2 family
    // can't be expressed in Spark SQL under ANSI mode: wraparound long
    // arithmetic throws ARITHMETIC_OVERFLOW there, which is fine in
    // plain Scala.)
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    def reference(text: String): Seq[Long] = {
      val u = UTF8String.fromString(text)
      val last = math.max(u.numChars() - 4, 1)
      (0 until 32).map { k =>
        (0 until last).map { i =>
          val sh = u.substring(i, i + 5)
          val h = XXH64.hashUnsafeBytes(sh.getBaseObject, sh.getBaseOffset, sh.numBytes, 42L)
          val h2 = XXH64.hashLong(h, 42L) | 1L
          h + k.toLong * h2
        }.min
      }
    }
    val rows = docs.filter(length(col("text")) > 0)
      .select(col("text"), expr("minhash_sig(text)").as("native"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == reference(r.getString(0)), r.getString(0).take(40))
    }
  }

  test("simhash64 equals the expression formula") {
    val formula =
      """transform(array(transform(
           filter(split(lower(text), '[^a-z0-9]+'), t -> length(t) > 0),
           t -> xxhash64(t))), ths ->
           aggregate(sequence(0, 63), cast(0 as bigint), (acc, i) ->
             acc | if(aggregate(ths, 0, (s, h) ->
                        s + if((shiftright(h, i) & 1) = 1, 1, -1)) > 0,
                      shiftleft(cast(1 as bigint), i), cast(0 as bigint))))[0]"""
    val rows = docs.select(expr("simhash64(text)"), expr(formula)).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("lsh_bands_from_sig equals lsh_bands; d03 computes the signature once per side") {
    val rows = docs.select(
      expr("lsh_bands(text, 8)"), expr("lsh_bands_from_sig(minhash_sig(text), 8)")).collect()
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString))
    // the optimizer must not re-inline the signature into an inferred
    // size()>0 filter (that was a full second shingling pass at the
    // scan); one minhash_sig per join side is the ceiling
    val plan = graft.queries.Llm.d03_minhash_lsh_pairs(spark, "/root/testdata/sf0.001")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("size(lsh_bands_from_sig"), plan.take(800))
    assert(plan.sliding("minhash_sig(".length).count(_ == "minhash_sig(") <= 2, plan.take(800))
  }

  test("vec_dot is bit-identical to the double-cast HOF formulation") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rows = emb.select(
      expr("vec_dot(embedding, embedding)"),
      expr("""aggregate(zip_with(
                transform(embedding, x -> cast(x as double)),
                transform(embedding, x -> cast(x as double)),
                (x, y) -> x * y), cast(0 as double), (acc, v) -> acc + v)"""),
      expr("vec_dot(embedding, transform(embedding, x -> cast(x as double) * 0.5d))"),
      expr("""aggregate(transform(embedding, x -> cast(x as double) * cast(x as double) * 0.5d),
              cast(0 as double), (acc, v) -> acc + v)""")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), r.toString)
      // mixed float×double input path
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)), r.toString)
    }
  }

  test("frame_energies equals the SQL higher-order formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val strs = Seq("", "a", " " * 64, "x" * 63, "y" * 64, "z" * 65) ++
      (1 to 30).map(_ => (0 until rnd.nextInt(300)).map(_ => (32 + rnd.nextInt(95)).toChar).mkString)
    val df = strs.toDF("text")
    val got = df.select(expr("frame_energies(text, 64)")).collect()
      .map(_.getSeq[Long](0).toList)
    val ref = df.select(expr(
      """transform(
        |  sequence(0, greatest(cast(ceil(length(text) / 64.0) as int) - 1, 0)),
        |  i -> if(length(substring(text, i*64 + 1, 64)) = 0, 0L,
        |    aggregate(
        |      transform(sequence(1, length(substring(text, i*64 + 1, 64))),
        |        j -> cast(ascii(substring(substring(text, i*64 + 1, 64), j, 1)) - 32 as bigint)),
        |      0L, (a, x) -> a + x * x)))""".stripMargin)).collect()
      .map(_.getSeq[Long](0).toList)
    assert(got.toSeq == ref.toSeq)
  }

  test("bpe_count equals the oracle's replace-chain semantics; table is valid; greedy-known cases") {
    import graft.functions.Bpe
    // the oracle's EXACT semantics, independently reimplemented:
    // java String.replace = leftmost-first non-overlapping, the same
    // convention DuckDB's replace() and the compiled kernel use
    def naive(text: String): Long = {
      val s0 = text.toLowerCase
        .replaceAll("[^a-z0-9]+", "|")
        .replaceAll("([a-z0-9])", "<$1>")
      val st = Bpe.Merges.foldLeft(s0) { case (acc, (x, y)) =>
        acc.replace(s"<$x><$y>", s"<$x$y>")
      }
      st.count(_ == '<').toLong
    }
    val corpus = Seq(
      "the", "thesis", "aaaa", "the things and others", "", "!!!",
      "a 10 100 1000 10x", "The THE the", "ünïcødé and 中文 tokens",
      "ingsingsings", "thththth", "ersatz era raters",
      "this is a long shared document about spark engines " * 4)
    val rows = corpus.toDF("text")
      .select(col("text"), expr("bpe_count(text)").as("n")).collect()
    rows.foreach { r =>
      assert(r.getLong(1) == naive(r.getString(0)),
        s"'${r.getString(0).take(40)}' native=${r.getLong(1)} oracle=${naive(r.getString(0))}")
    }
    // hand-checked greedy results: "the" fully merges; "thesis" →
    // th+es+is (rank order: th before es before is)
    val byText = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byText("the") == 1L && byText("thesis") == 3L && byText("aaaa") == 4L)
    assert(byText("") == 0L && byText("!!!") == 0L)
    // BPE never exceeds the character count and never undercounts words
    val ws = (t: String) => t.toLowerCase.split("[^a-z0-9]+").count(_.nonEmpty).toLong
    corpus.foreach { t =>
      val n = byText(t)
      assert(n <= t.length.toLong && n >= ws(t), s"'$t' -> $n")
    }
  }

  test("ac_counts equals a naive per-pattern scan (overlaps, nesting, unicode)") {
    import graft.functions.AhoCorasick
    // naive: count all end positions (indexOf from every offset) — the
    // AC definition, independent of the automaton code under test
    def naive(text: String, p: String): Long = {
      var n = 0L; var i = text.indexOf(p)
      while (i >= 0) { n += 1; i = text.indexOf(p, i + 1) }
      n
    }
    val pats = AhoCorasick.Blocklist
    val corpus = Seq(
      "", "big data", "big databig data big data",
      "fast table fast table the vector slow scan",
      // cross-pattern adjacency and a shared-word chain
      "customer row query line sort column stream batch hash merge",
      "spark join spark join spark join", "xbig datax",
      "ünïcødé 中文 big data 中文", "no hits at all here",
      ("small value window group " * 50))
    val rows = corpus.toDF("text")
      .select(col("text"), expr("ac_counts(text)").as("c")).collect()
    rows.foreach { r =>
      val got = r.getSeq[Long](1)
      val want = pats.map(p => naive(r.getString(0), p))
      assert(got == want, s"'${r.getString(0).take(40)}' got=$got want=$want")
    }
    // border-free patterns: AC end-position counts == non-overlapping
    // counts (the oracle's replace identity) — check on the dense row
    val dense = rows.find(_.getString(0).startsWith("small value window")).get
    def replCount(t: String, p: String) = (t.length - t.replace(p, "").length) / p.length
    assert(dense.getSeq[Long](1) ==
      pats.map(p => replCount(dense.getString(0), p).toLong))
  }

  test("word_ngrams equals the filter∘split + transform∘slice HOF chain") {
    val corpus = Seq(
      "", "one", "one two", "one two three", "a b c d e",
      "  leading and trailing  ", "punct!!!between,,words",
      "UPPER Case MiXeD 123 tokens", "ünïcødé séparators 中文 between a b c",
      "İstanbul I case folding edge a b", "tabs\tand\nnewlines a b c",
      ("the quick brown fox " * 30))
    val df = corpus.toDF("text")
      .withColumn("kernel", expr("word_ngrams(lower(text), 3)"))
      .withColumn("ws",
        expr("filter(split(lower(text), '[^a-z0-9]+'), w -> length(w) > 0)"))
      .withColumn("hof", when(size(col("ws")) < 3,
          expr("array()").cast("array<string>"))
        .otherwise(expr("transform(sequence(1, size(ws) - 2), " +
          "i -> array_join(slice(ws, i, 3), ' '))")))
    df.collect().foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](3),
        s"'${r.getString(0).take(40)}': kernel=${r.getSeq[String](1).take(3)} " +
          s"hof=${r.getSeq[String](3).take(3)}")
    }
  }

  test("zorder64 interleaves bits (naive reference) and preserves per-dim order") {
    import graft.functions.ZOrder
    def naive(a: Long, b: Long): Long = {
      var z = 0L
      for (i <- 0 until 32)
        z |= (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      z
    }
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 3L), (12345L, 67890L),
      (0xffffffffL, 0L), (0L, 0xffffffffL), (0xffffffffL, 0xffffffffL),
      (1L << 31, 1L << 31), (29563123L, 14999L))
    cases.foreach { case (a, b) =>
      assert(ZOrder.interleave(a, b) == naive(a, b), s"($a, $b)")
    }
    // fixing one dim, z is monotone in the other — the property that
    // makes contiguous z-ranges rectangles
    val bs = Seq(0L, 7L, 1000L)
    bs.foreach { b =>
      val zs = (0L to 64L).map(a => ZOrder.interleave(a, b))
      assert(zs == zs.sorted, s"monotone in a at b=$b")
    }
    // SQL evaluates (and codegens) the same kernel
    val r = spark.sql("SELECT zorder64(12345L, 67890L) AS z").head().getLong(0)
    assert(r == naive(12345L, 67890L))
  }

  test("expressions participate in codegen (no fallback)") {
    // a local Seq would constant-fold via ConvertToLocalRelation; use a
    // real parquet scan so the projection actually plans
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(expr("minhash_sig(text)"), expr("simhash64(text)"),
        expr("ac_counts(text)"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p.take(500))
  }
}
