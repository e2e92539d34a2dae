package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{Llm, Multimodal}

/** Property tests for the LLM-pipeline operators on a fixture with
  * KNOWN duplicates (the driver testdata has none): near-dup pair,
  * formatting-only dup, exact dup, and an embedding pointing the same
  * direction as a query. */
class LlmSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "this is a long shared document about spark engines " * 8
  private lazy val fixtureDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("llmfix").toString
    val docs = Seq(
      (0L, base, "en", "src0", base.length.toLong),
      (1L, base.replace("spark engines", "spork engines"), "en", "src0",
        base.length.toLong), // near-dup of 0
      (2L, "completely different content entirely unrelated to anything here " * 7,
        "en", "src1", 400L),
      (3L, base, "en", "src2", base.length.toLong), // exact dup of 0
      (4L, base.toUpperCase.replace(" ", "  ") + "!!!", "en", "src3", 500L), // formatting dup of 0
      (5L, "short text", "fr", "src4", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")

    val dim = 16
    def vec(f: Int => Float): Array[Float] = Array.tabulate(dim)(f)
    val embs = Seq(
      (0L, vec(i => if (i == 0) 1f else 0f), 0),
      (1L, vec(i => if (i == 1) 1f else 0f), 0),
      (8L, vec(i => if (i == 0) 5f else 0f), 1),  // same direction as query 0
      (9L, vec(i => if (i == 1) -1f else 0f), 1), // opposite of query 1
      (10L, vec(i => (i % 3).toFloat - 1f), 1))
      .toDF("vec_id", "embedding", "label")
    embs.write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("d01: exact dedup groups identical texts") {
    val groups = Llm.d01_exact_dedup(spark, fixtureDir).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(groups(0L) == 2, "doc 0 and 3 share a hash group")
    assert(groups.values.sum == 6)
  }

  test("d03: minhash LSH finds the near-dup pair, not unrelated docs") {
    val pairs = Llm.d03_minhash_lsh_pairs(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((0L, 1L)), s"near-dup pair missing: ${pairs.keys}")
    assert(pairs((0L, 1L)) > 0.5)
    assert(pairs.contains((0L, 3L)) && pairs((0L, 3L)) == 1.0, "exact dup = jaccard 1")
    assert(!pairs.contains((0L, 2L)) && !pairs.contains((1L, 2L)),
      "unrelated doc must not be a candidate")
  }

  test("d04: exact n-gram jaccard confirms candidates") {
    val j = Llm.d04_ngram_jaccard(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((0L, 3L)) == 1.0)
    // the edit touches 2 of every 9 words, so word-3-gram overlap is
    // genuinely moderate (≈ 0.43) — well above unrelated, below exact
    assert(j((0L, 1L)) > 0.3 && j((0L, 1L)) < 1.0)
  }

  test("d05/d06: simhash near-dups have small hamming distance") {
    val sh = Llm.d05_simhash(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(3L), "identical text, identical simhash")
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(0L), sh(1L)) <= 12, s"near-dup hamming ${hamming(sh(0L), sh(1L))}")
    assert(hamming(sh(0L), sh(2L)) > 12, s"unrelated hamming ${hamming(sh(0L), sh(2L))}")
    val pairs = Llm.d06_simhash_pairs(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)))
  }

  test("d07: cosine top-k ranks the aligned vector first") {
    val rows = Llm.d07_cosine_topk(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(rows((0L, 1L)) == (8L, 1.0), "query 0's nearest = vec 8 (same direction)")
    val (n1, c1) = rows((1L, 3L)) // query 1, worst rank of 3 candidates
    assert(n1 == 9L && c1 == -1.0, "opposite vector ranks last")
  }

  test("d12: fingerprint collapses formatting-only differences") {
    val fp = Llm.d12_fingerprint(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(0L) == fp(3L))
    assert(fp(0L) == fp(4L), "case/whitespace/punct differences collapse")
    assert(fp(0L) != fp(2L))
  }

  test("d09-d11: text stats are sane") {
    val q = Llm.d10_quality_score(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(q(5L).getAs[Long]("n_words") == 2)
    val t = Llm.d11_token_count(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t(5L) == 2)
    val lang = Llm.d09_lang_id(spark, fixtureDir).collect()
    assert(lang.length == 6)
  }

  test("d04 library path: exact jaccard verifies LSH candidates (semi-join first)") {
    val docs = graft.sources.Tables.documents(spark, fixtureDir)
    val pairs = Llm.d03_minhash_lsh_pairs(spark, fixtureDir).select("a_id", "b_id")
    val verified = Llm.verifyJaccard(docs, pairs)
    val j = verified.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((0L, 3L)) == 1.0, "exact dup verifies at jaccard 1")
    assert(j((0L, 1L)) > 0.3 && j((0L, 1L)) < 1.0, "near-dup verifies as moderate overlap")
    // plan shape: no quadratic join anywhere in the verify pipeline
    val plan = verified.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"verify must stay key-joined:\n$plan")
  }

  test("d15: bucketed near-dup plan has no nested-loop join and recalls exact pairs") {
    val bucketed = Llm.d15_embedding_near_dup(spark, fixtureDir)
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"d15 must join on the hyperplane code, not all-pairs:\n$plan")
    // precision/recall vs the exact all-pairs baseline (tiny fixture,
    // so all-pairs on the driver is fine): every bucketed pair must be
    // a true pair (precision 1 — same threshold applied), and parallel
    // vectors (identical hyperplane signs) are always recalled
    val vecs = graft.sources.Tables.embeddings(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val exact = (for {
      (ai, av) <- vecs; (bi, bv) <- vecs if ai < bi
      c = cosine(av, bv) if math.rint(c * 1e6) / 1e6 >= 0.3
    } yield (ai, bi)).toSet
    val got = bucketed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exact), s"bucketed pairs must be true pairs: got=$got exact=$exact")
    assert(got.contains((0L, 8L)), s"parallel vectors must share a bucket: $got")
  }

  test("d16: IVF probes recover the exact top-1; corpus joins stay hash-keyed") {
    val ivf = Llm.d16_ann_ivf(spark, fixtureDir)
    val plan = ivf.queryExecution.executedPlan.toString
    // the ONLY nested-loop joins allowed are corpus × broadcast
    // centroid table (linear in the corpus); the candidate join must
    // be keyed on the cell
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.sliding("BroadcastNestedLoopJoin".length).count(_ == "BroadcastNestedLoopJoin") <= 2, plan)
    val got = ivf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exactTop1 = Llm.d07_cosine_topk(spark, fixtureDir).collect()
      .collect { case r if r.getLong(1) == 1L => (r.getLong(0), r.getLong(2)) }.toMap
    // every query's true nearest neighbor survives the probe filter
    exactTop1.foreach { case (q, n1) =>
      assert(got.contains((q, 1L, n1)),
        s"query $q: IVF top-1 must equal exact top-1 $n1; got $got")
    }
  }

  test("mm2: batched decode features match the stub on driver") {
    val feats = Multimodal.mm2_decode_features(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val expected = Multimodal.decodeStub("short text".getBytes("UTF-8"))
    assert(feats(5L) == ((expected._1, expected._2, 10L)))
  }

  test("mm3: frame sampling yields deterministic slices") {
    val frames = Multimodal.mm3_frame_sample(spark, fixtureDir)
    val f5 = frames.filter(col("doc_id") === 5L).collect()
    assert(f5.length == 1, "10-byte payload → single frame")
    assert(f5(0).getAs[Long]("frame_len") == 10L)
  }

  test("d27: every vector lands in one cluster; co-directional vectors co-cluster") {
    // fixture centroids = vec_id < 8 → ids 0 and 1; vec 8 is 5× vec 0
    // (same direction, cosine 1) and vec 9 is -1× vec 1 (opposite)
    val out = Llm.d27_kmeans(spark, fixtureDir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.values.map(_._1).sum === 5L, "all 5 vectors assigned exactly once")
    assert(out.keySet.subsetOf(Set(0, 1)))
    assert(out(0)._2 === 0L, "cluster 0's first member is vector 0")
    assert(out(0)._3 >= 8L, "vector 8 (same direction as 0) joined cluster 0")
  }

  test("d35: finds strict-prefix pairs in both lanes; over-cap block yields none") {
    // long lane (prefix ≥ 64 chars): p64 is a strict prefix of full64.
    // short lane (prefix < 64 chars): the 64-char blocking key of a
    // 20-char doc can never equal a longer doc's key, so the exact
    // same-length-prefix join must recover (short20, full64)
    val full = base.take(120)
    val docs = Seq(
      (1L, full),            // full document
      (2L, full.take(80)),   // long-lane prefix (≥ 64)
      (3L, full.take(20)),   // short-lane prefix (< 64)
      (4L, "unrelated content nothing shares this opening at all"))
      .toDF("doc_id", "text")
    val pairs = Llm.prefixDedup(docs, maxBlockSize = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((2L, 1L), (3L, 1L), (3L, 2L)),
      s"expected both lanes' pairs, got $pairs")
    // cap: docs 1 and 2 share a 64-char block of size 2 (long lane)
    // AND the same 20-char opening (short lane's key side) — with
    // maxBlockSize = 1 both lanes drop their hot keys BEFORE joining,
    // so no pairs at all survive
    val capped = Llm.prefixDedup(docs, maxBlockSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set.empty, s"got $capped")
    // cap = 2 keeps both lanes (each hot key has exactly 2 members)
    val cap2 = Llm.prefixDedup(docs, maxBlockSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cap2 === Set((2L, 1L), (3L, 1L), (3L, 2L)), s"got $cap2")
  }

  test("d37: cross-doc spans mark coverage; within-doc repeats alone do not") {
    // A/B share ONE 8-word window ("one … eight" at A[1], B[2]);
    // D repeats its own 8-word phrase twice (positions 1 and 9) and E
    // is that phrase verbatim — so the repeated span IS cross-doc and
    // BOTH of D's occurrences count as duplicated text; C is below
    // the window size (no window, 0 bp, not dropped from the output)
    val docs = Seq(
      (1L, "one two three four five six seven eight nine"),          // A: 2 windows
      (2L, "zero one two three four five six seven eight"),          // B: 2 windows
      (3L, "hello world"),                                           // C: short
      (4L, "a b c d e f g h a b c d e f g h"),                       // D: 9 windows
      (5L, "a b c d e f g h"))                                       // E: 1 window
      .toDF("doc_id", "text")
    val out = Llm.duplicateSpans(docs, window = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((2L, 1L, 5000L)), s"A: ${out(1L)}")
    assert(out(2L) === ((2L, 1L, 5000L)), s"B: ${out(2L)}")
    assert(out(3L) === ((0L, 0L, 0L)), s"C: ${out(3L)}")
    assert(out(4L) === ((9L, 2L, 2222L)), s"D: ${out(4L)}")
    assert(out(5L) === ((1L, 1L, 10000L)), s"E: ${out(5L)}")
    // D without E: the self-repeat collapses to one census vote →
    // nothing in D is marked duplicated
    val alone = Llm.duplicateSpans(docs.filter(col("doc_id") =!= 5L), window = 8)
      .filter(col("doc_id") === 4L).collect().head
    assert((alone.getLong(1), alone.getLong(2)) === ((9L, 0L)),
      s"D alone: $alone")
    // the 100 TB lane: hashed span keys give the identical census
    val hashed = Llm.duplicateSpans(docs, window = 8, hashSpans = true)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(hashed === out, s"hashSpans diverged: $hashed vs $out")
  }

  test("d28: three ranked terms per doc, rare term outranks shared vocabulary") {
    val out = Llm.d28_tfidf(spark, fixtureDir)
    val byDoc = out.collect().groupBy(_.getLong(0))
    byDoc.foreach { case (doc, rows) =>
      // a doc with <3 distinct terms yields a shorter prefix of ranks
      val ranks = rows.map(_.getLong(1)).sorted.toSeq
      assert(ranks === (1L to ranks.length).toSeq && ranks.length <= 3, s"doc $doc: $ranks")
    }
    // doc 1's distinguishing token 'spork' (absent everywhere else)
    // must beat the corpus-wide boilerplate
    val top1 = byDoc(1L).find(_.getLong(1) == 1L).get.getString(2)
    assert(top1 === "spork", s"got $top1")
  }

  test("d42: dense-only fusion ranks the co-directional vector first") {
    val out = Llm.d42_rrf_hybrid(spark, fixtureDir).collect()
    // the fixture corpus lacks the BM25 query terms → lexical list is
    // empty, every fused score is the dense term alone
    assert(out.forall(_.getLong(1) == 0L), "no lexical ranks expected")
    val top = out.head
    assert(top.getLong(0) == 8L, s"vec 8 (cosine 1 with query 0) must rank first, got ${top.getLong(0)}")
    assert(top.getLong(2) == 1L)
    assert(math.abs(top.getDouble(3) - 1.0 / 61.0) < 1e-6,
      "fused score of a dense-only rank-1 hit is 1/(60+1)")
  }

  test("d43: the co-directional pair dedups within its cell, lower id keeps") {
    val rows = Llm.d43_semdedup(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(rows(0L)._1 == 8L && rows(8L)._1 == 8L, "0 and 8 share centroid 8's cell")
    assert(!rows(8L)._3 && rows(8L)._2 == 1.0, "vec 8 has a lower-id twin (vec 0) → dropped")
    assert(rows(0L)._3, "the lower id of the pair keeps")
    assert(rows(9L)._3 && rows(9L)._2 == -1.0, "a cell singleton keeps with no witness")
  }

  test("d43 cap: a degenerate mega-cell sub-splits bounded; idle cap leaves output unchanged") {
    // single centroid (vec 7) → EVERY vector lands in one cell: the
    // exact quantizer failure the occupancy guard exists for
    val n = 300
    val emb = (0 until n).map(i =>
        (i.toLong, Array.tabulate(8)(j => if (j == 0) 1f + i * 0.001f else 0.01f * j)))
      .toDF("vec_id", "embedding")
    val keyed = Llm.semDedupKeyed(Llm.semDedupAssign(emb, 7, 7), maxCellSize = 50)
    val occ = keyed.groupBy("cell", "sub").count().collect()
    assert(occ.map(_.getLong(2)).sum == n.toLong, "sub-split loses no members")
    assert(occ.length == math.ceil(n / 50.0).toInt, s"⌈n/cap⌉ sub-cells, got ${occ.length}")
    assert(occ.forall(_.getLong(2) <= 100L),
      s"a single mega-cell must not survive the cap: ${occ.map(_.getLong(2)).mkString(",")}")
    // the capped run still verdicts every vector
    val out = Llm.semDedup(emb, 7, 7, tau = 0.3, maxCellSize = 50)
    assert(out.count() == n.toLong)
    // the audit report names the mega-cell and its fan-out
    val rep = Llm.semDedupCapReport(emb, 7, 7, maxCellSize = 50).collect()
    assert(rep.length == 1 && rep(0).getAs[Long]("n_members") == n.toLong
      && rep(0).getAs[Long]("n_sub") == 6L, rep.mkString(","))
    // fixture cells never exceed 3 members (cell 8 = {0, 1, 8}) →
    // cap=3 is idle and the output is IDENTICAL to the
    // effectively-uncapped default
    val fix = graft.sources.Tables.embeddings(spark, fixtureDir)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    assert(canon(Llm.semDedup(fix, 8, 23, 0.3, maxCellSize = 3))
      === canon(Llm.semDedup(fix, 8, 23, 0.3, maxCellSize = Int.MaxValue)))
    assert(Llm.semDedupCapReport(fix, 8, 23, 3).collect().isEmpty,
      "no fixture cell is over-cap → empty report")
  }

  test("d45: sketch quantiles honor the accuracy contract; exact values bracket the data") {
    val r = Llm.d45_length_quantiles(spark, fixtureDir).collect().head
    assert(r.getAs[Long]("n_docs") == 6L)
    val (p50, p99) = (r.getAs[Double]("exact_p50"), r.getAs[Double]("exact_p99"))
    assert(p50 <= p99, "quantiles must be monotone")
    assert(r.getAs[Boolean]("ok_p50") && r.getAs[Boolean]("ok_p90") && r.getAs[Boolean]("ok_p99"),
      "approx_percentile at accuracy 10000 must satisfy its rank-error contract")
  }

  test("d46: blocking pairs the shared-prefix docs; distance separates exact from near dups") {
    val pairs = Llm.d46_fuzzy_join(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((0L, 3L)) == 0L, "identical texts join at distance 0")
    assert(pairs((0L, 1L)) == 1L, "spark→spork is one substitution within the key field")
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L },
      "the double-spaced formatting dup blocks differently and is not a candidate")
  }

  test("mm7: keyframes are the per-doc top deltas, rank-ordered") {
    val rows = Multimodal.mm7_keyframes(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (doc, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq, s"doc $doc ranks")
      assert(sorted.length <= 3)
      // deltas non-increasing in rank; ties broken by earlier frame
      sorted.sliding(2).foreach {
        case Array(hi, lo) =>
          assert(hi._4 > lo._4 || (hi._4 == lo._4 && hi._3 < lo._3), s"doc $doc order")
        case _ => ()
      }
    }
  }

  test("mm8: shots partition the frame sequence; boundaries agree with mm7 deltas") {
    val rows = Multimodal.mm8_shot_segments(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (doc, nFrames, nShots, longest, firstB) =>
      assert(nShots >= 1 && nShots <= nFrames, s"doc $doc shot count")
      assert(longest >= 1 && longest <= nFrames, s"doc $doc longest")
      // shots tile the sequence: longest can't exceed frames, and a
      // single-shot doc must have no boundary
      if (nShots == 1) assert(firstB == -1L, s"doc $doc boundary-free")
      else assert(firstB >= 1 && firstB < nFrames, s"doc $doc first boundary")
    }
  }

  test("d49: no near-dup pair straddles the split boundary") {
    val splits = Llm.d49_leakage_split(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(splits.size == 6, "every document gets a split")
    assert(splits.values.map(_._2).forall(Set("train", "val", "test")))
    // every strong near-dup pair must share its group AND its split
    val pairs = Llm.d04_ngram_jaccard(spark, fixtureDir).collect()
      .filter(_.getDouble(2) >= 0.5).map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "the fixture has near-dup pairs")
    pairs.foreach { case (a, b) =>
      assert(splits(a)._1 == splits(b)._1, s"pair ($a,$b) must share a group")
      assert(splits(a)._2 == splits(b)._2, s"pair ($a,$b) must share a split")
    }
  }

  test("d47: weighted sample is deterministic, ordered, and matches the key recompute") {
    import org.apache.spark.sql.functions._
    val a = Llm.d47_weighted_sample(spark, fixtureDir).collect()
    val b = Llm.d47_weighted_sample(spark, fixtureDir).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq, "re-runs draw the same sample")
    val keys = a.map(_.getDouble(2))
    assert(keys.sorted.toSeq == keys.toSeq, "rows come back in key order")
    // independent recompute of every key from the hash
    val re = spark.read.parquet(s"$fixtureDir/documents.parquet")
      .withColumn("n_tokens", expr(
        "cast(size(filter(split(lower(text), '[^a-z0-9]+'), w -> length(w) > 0)) as bigint)"))
      .filter(col("n_tokens") > 0)
      .withColumn("key2", round(-log((pmod(expr("xxhash64(doc_id)"), lit(1048576L)) + 1) / 1048576.0)
        / col("n_tokens"), 6))
      .select(col("doc_id"), col("key2")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    a.foreach(r => assert(r.getDouble(2) == re(r.getLong(0)), s"doc ${r.getLong(0)} key"))
  }

  test("d44: map-side HOF margin equals the explode+groupBy recompute") {
    import org.apache.spark.sql.functions._
    val out = Llm.d44_quality_classifier(spark, fixtureDir)
    val docs = spark.read.parquet(s"$fixtureDir/documents.parquet")
    val viaShuffle = docs
      .select(col("doc_id"), explode(expr(
        "filter(split(lower(text), '[^a-z0-9]+'), w -> length(w) > 0)")).as("w"))
      .groupBy("doc_id")
      .agg(sum(expr("pmod(xxhash64(w), 2003L) - 1001L")).as("margin2"),
        count(lit(1)).as("n2"))
    val joined = out.join(viaShuffle, Seq("doc_id"), "left").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[Long]("margin") == r.getAs[Long]("margin2"), s"doc ${r.getAs[Long]("doc_id")}")
      assert(r.getAs[Long]("n_tokens") == r.getAs[Long]("n2"))
      assert(r.getAs[Boolean]("keep") == (r.getAs[Long]("margin") > 0))
    }
  }

  test("mm9: pHash recall harness — recall degrades with perturbation strength, invariants hold") {
    val out = Multimodal.mm9_phash_recall(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6)))
      .toMap
    assert(out.keySet === Set(3, 7))
    out.values.foreach { case (cand, det, tcand, tdet, _) =>
      assert(det <= cand && tdet <= tcand && tcand <= cand,
        "detected ⊆ candidates; true pairs ⊆ both")
    }
    assert(out(7)._5 > out(3)._5,
      "lighter perturbation (every 7th byte) must recall MORE than heavier (every 3rd)")
    assert(out(3)._5 > 0L, "even heavy perturbation recalls something")
  }

  test("mm10: audio alignment matcher — corpus recall sane, correct matches align at the true shift") {
    val r = Multimodal.mm10_audio_match(spark, "/root/testdata/sf0.001").collect()(0)
    val (nDocs, nQ, nM, nRef, nAlign, bp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    assert(nQ <= nDocs && nM <= nQ && nRef <= nM)
    assert(nAlign == nRef,
      "every correctly-identified reference must also carry the true +2 frame shift " +
        "(a value-match at the wrong offset would be a histogram failure)")
    assert(bp > 2000, s"recall collapsed: $nAlign/$nQ")
    assert(nRef * 10 >= nM * 8, s"precision collapsed: $nRef/$nM")
  }

  test("d60: bigram LM — deterministic-context doc scores 0, surprising bigrams score negative") {
    // corpus: "a b" always follows a→b (P(b|a)=1 ⇒ lp 0); doc 3's "a c"
    // makes a's history split 4:1 ⇒ its bigrams are all surprising
    val docs = Seq((1L, "a b a b a b"), (2L, "a b"), (3L, "a c"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("d60").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val out = Llm.d60_bigram_logprob(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // histories: a→{b:4, c:1} (5), b→{a:2} (2); P(b|a)=0.8, P(a|b)=1, P(c|a)=0.2
    val lnPba = math.log(0.8)
    assert(out(1L)._1 == 5L)
    assert(math.abs(out(1L)._2 - ((3 * lnPba + 2 * 0.0) / 5)) < 1e-6)
    assert(out(3L) === ((1L, BigDecimal(math.log(0.2)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(out(1L)._2 > out(3L)._2, "the off-model doc scores lower")
  }

  test("d61: KL drift — a source matching the corpus mix scores near zero, a skewed one higher") {
    val docs = (
      (1 to 8).map(i => (i.toLong, "x y z w", "balanced")) ++
      Seq((100L, "x x x x", "skewed")))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("d61").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val out = Llm.d61_source_drift(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out("balanced")._1 == 32L && out("skewed")._1 == 4L)
    assert(out("skewed")._2 > out("balanced")._2 + 0.5,
      "the single-token source diverges hard from the corpus distribution")
    assert(out("balanced")._2 >= 0.0 && out("skewed")._2 >= 0.0, "KL is non-negative")
  }

  test("d57: global trigram census — exact counts, deterministic tie-break at the k-cut") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),        // trigrams: "alpha beta gamma", "beta gamma delta"
      (2L, "alpha beta gamma epsilon"),      // repeats "alpha beta gamma"
      (3L, "zeta eta theta"),                // singleton trigram
      (4L, "one two"))                       // too short — contributes nothing
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("d57").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val top = Llm.d57_ngram_topk(spark, dir, n = 3, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // rank 1 by count; ranks 2-3 are the count-1 ties broken by span asc
    assert(top.head === (("alpha beta gamma", 2L)))
    assert(top.drop(1).toSeq === top.drop(1).sortBy(_._1).toSeq,
      "equal counts order by span ascending")
    assert(top.length == 3 && top.drop(1).forall(_._2 == 1L))
  }

  test("d66: substring cut removes later occurrences, reassembles in order, matches brute force") {
    val extent = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, extent + " iota kappa"),                     // canonical first occurrence
      (1L, "intro words here " + extent + " closing words"),
      (2L, "completely unrelated unique content with no shared extents at all today"),
      (3L, extent + " iota kappa plus unique tail words")) // overlapping windows -> maximal extent
      .toDF("doc_id", "text")
    val out = Llm.substringDedupCut(docs, window = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(4)))).toMap

    // first occurrence + unique text untouched
    assert(out(0L) === ((10L, 0L, extent + " iota kappa")))
    assert(out(2L)._2 == 0L && out(2L)._3.nonEmpty)
    // doc 1: exactly the duplicated extent cut, prefix/suffix reassembled
    assert(out(1L) === ((13L, 8L, "intro words here closing words")))
    // doc 3: overlapping duplicated windows merge into ONE maximal cut
    // extent (tokens 0..9 all covered by windows shared with doc 0)
    assert(out(3L) === ((14L, 10L, "plus unique tail words")))

    // blocking-free quadratic reference: same policy, no census — for
    // every window occurrence, scan ALL docs for an earlier holder
    val toks = docs.collect().map(r => r.getLong(0) ->
      r.getString(1).toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toVector).toMap
    def windows(ts: Vector[String]) =
      if (ts.length < 8) Vector.empty else (0 to ts.length - 8).map(p => p -> ts.slice(p, p + 8).mkString(" "))
    for ((id, ts) <- toks) {
      val cut = windows(ts).collect { case (p, sp)
        if toks.exists { case (oid, ots) => oid < id && windows(ots).exists(_._2 == sp) } =>
          (p until p + 8)
      }.flatten.toSet
      val expected = ts.zipWithIndex.collect { case (t, q) if !cut(q) => t }.mkString(" ")
      assert(out(id)._3 === expected, s"doc $id vs brute force")
      assert(out(id)._2 === cut.size.toLong, s"doc $id n_removed vs brute force")
    }
  }

  test("d66: a 200-token duplicated block cuts as ONE merged extent, exactly") {
    // the interval-merge case the round-11 verdict asked for: a long
    // removable run whose 193 overlapping windows (window = 8) must
    // merge into a single [0, 199] extent — 200 coverage positions,
    // not 193 × 8 = 1544 pre-distinct rows — and cut exactly
    val block = (0 until 200).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (0L, block + " canonical tail"),
      (1L, "unique head words " + block + " unique closing words"),
      (2L, "no overlap with anything else entirely fresh text"))
      .toDF("doc_id", "text")
    val out = Llm.substringDedupCut(docs, window = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(4)))).toMap
    assert(out(0L)._2 == 0L, "first occurrence untouched")
    assert(out(1L) === ((206L, 200L, "unique head words unique closing words")),
      s"the whole block must cut as one extent: ${out(1L)}")
    assert(out(2L)._2 == 0L)
  }

  test("d65: classifier training converges on a separable fixture") {
    import graft.ops.ClassifierTrain
    // wide-margin fixture: 20 "good" docs (heavy 'the' — stopword
    // ratio well over 1/K) vs 20 "bad" docs (no 'the' at all), with
    // distinct content words so the hashed features separate cleanly
    val docs = ((0 until 20).map(i =>
        (i.toLong, "the quick data " + s"word$i table the scan the merge")) ++
      (20 until 40).map(i =>
        (i.toLong, s"slow batch word$i filter window group sort column hash join")))
      .toDF("doc_id", "text")
    val stats = ClassifierTrain.train(spark, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(stats.length == ClassifierTrain.Rounds + 1)
    val (_, m1, _) = stats.head
    val (_, mFinal, accFinal) = stats.last
    assert(m1 == 40L, s"round 1 starts from w=0: every doc is a mistake, got $m1")
    assert(mFinal < m1, s"training must reduce mistakes: $m1 -> $mFinal")
    assert(mFinal == 0L && accFinal == 10000L,
      s"separable fixture must converge to zero mistakes, got $mFinal (acc $accFinal)")
  }
}
