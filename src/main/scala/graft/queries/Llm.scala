package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables._

/** Large-scale training-data pipeline operators over `documents` /
  * `embeddings` (the extension surface beyond the reference — see the
  * builder brief and SURVEY §7.7). Everything is expression-level
  * (codegen'd, no UDFs): shingling, minhashing, simhashing, and
  * cosine distances are built from higher-order array functions, so
  * the hot paths stay inside whole-stage codegen and scale with
  * partitioning, not driver memory.
  *
  * Scale notes, per operator, live on the methods. The common theme:
  * never materialize all-pairs — dedup/similarity candidates come from
  * hash buckets (LSH bands, simhash chunks, hyperplane codes), so the
  * join key is the bucket and the shuffle is proportional to data,
  * not to data². */
object Llm {

  // ── d01: exact dedup (hash-groupBy) ────────────────────────────────
  /** One shuffle on the content hash; canonical doc = min id. At 100 TB
    * this is the classic first dedup pass; md5 collisions are
    * negligible and the hash is computed scan-side. */
  def d01_exact_dedup(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Spread a narrow scan across the cluster ONLY when it is actually
    * narrow (the single-file testdata arrives as 1–2 splits): at scale
    * the input is already hundreds of splits and an unconditional
    * repartition would re-shuffle the whole corpus for nothing.
    * Values are per-row deterministic, so partitioning never changes
    * results. */
  private[queries] def spreadIfNarrow(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.conf
    val target = conf.get("spark.sql.shuffle.partitions", "32").toInt
    // estimate the scan's split count from PLAN STATS (bytes /
    // maxPartitionBytes) — `df.rdd.getNumPartitions` forced a full
    // physical-planning + RDD conversion pass per call just to read a
    // number the optimizer already knows
    val splitBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    // stats are trustworthy only for file-scan-rooted plans: a plan
    // with joins/aggs above the scan reports conservative PRODUCTS of
    // sizes, which would inflate estSplits past target and silently
    // skip the spread. For those, estimate from the SUM of the leaf
    // relations' sizes instead — still a plan-time number (calling
    // .rdd here would eagerly execute every upstream shuffle stage
    // under AQE just to read a partition count)
    val plan = df.queryExecution.optimizedPlan
    val scanRooted = plan.collectLeaves().nonEmpty && plan.collectLeaves().forall {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case _ => false
    } && !plan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Join => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
      case _ => false
    }
    val sizeInBytes =
      if (scanRooted) plan.stats.sizeInBytes
      else plan.collectLeaves().map(_.stats.sizeInBytes).sum
    val estSplits = (sizeInBytes / splitBytes).toLong + 1
    if (estSplits >= target) df else df.repartition(target)
  }

  // ── d02: MinHash signatures + LSH banding ──────────────────────────
  /** 5-char shingles → 32 minhashes → 8 bands of 4 (collision prob ≈
    * sim⁴ per band, so candidate volume stays near-linear even on a
    * homogeneous corpus). Signatures come from the native codegen'd
    * `minhash_sig` expression (graft.functions) — the higher-order-
    * function formulation it replaced evaluated interpreted and
    * re-inlined the shingle array into every lambda (HashExprsSpec
    * pins bit-equivalence). Only the band table shuffles.
    *
    * Exploded (doc_id, band, band_hash) rows. The generator input is
    * the `lsh_bands` EXPRESSION, deliberately not a projected column:
    * exploding an attribute makes the optimizer infer a non-empty-
    * array filter, which then collapses through the projection and
    * lands in the (single-task) file scan as a second full
    * per-row signature evaluation — measured 6× slower than this
    * shape at sf0.1. */
  def d02_minhash_signatures(s: SparkSession, d: String): DataFrame =
    spreadIfNarrow(documents(s, d))
      .select(col("doc_id"), posexplode(expr("lsh_bands(text, 8)")).as(Seq("band", "band_hash")))
      .select(col("doc_id"), col("band").cast("long").as("band"), col("band_hash"))

  /** Candidate pairs = docs sharing ≥1 band bucket; estimated Jaccard =
    * fraction of matching minhash components. The bucket join is the
    * scale path: shuffle key (band, hash), never doc×doc. */
  def d03_minhash_lsh_pairs(s: SparkSession, d: String): DataFrame = {
    // sig computed ONCE per doc; bands derive from the signature array
    // (lsh_bands_from_sig), not from a second shingling pass. The
    // posexplode_outer matters: an inner explode makes the optimizer
    // infer `size(...) > 0` and push it through the project as a full
    // re-evaluation of the signature at the scan (bands are never
    // empty, so outer ≡ inner here).
    val sig = spreadIfNarrow(documents(s, d))
      .select(col("doc_id"), expr("minhash_sig(text)").as("minhash"))
      .select(col("doc_id"), col("minhash"),
        posexplode_outer(expr("lsh_bands_from_sig(minhash, 8)")).as(Seq("band", "bh")))
    // true self-join (same plan aliased twice) so ReuseExchange
    // computes the signature pipeline ONCE; estimate BEFORE dedup so
    // the distinct shuffles (a, b, est) — never the signature arrays
    val joined = sig.as("x").join(sig.as("y"),
      col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
        col("x.doc_id") < col("y.doc_id"))
    joined
      .withColumn("est_jaccard", round(
        expr("minhash_agree(x.minhash, y.minhash) / cast(32 as double)"), 6))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"), col("est_jaccard"))
      .distinct()
  }

  /** The deduplicated corpus itself: keep only each hash group's
    * canonical (min-id) document — what a training pipeline actually
    * feeds downstream. */
  def d13_dedup_corpus(s: SparkSession, d: String): DataFrame = {
    val canon = documents(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
    documents(s, d).withColumn("content_hash", md5(col("text")))
      .join(canon, Seq("content_hash", "doc_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  // ── d04: n-gram Jaccard — candidate-then-verify ────────────────────
  /** Exact word-3-gram Jaccard over an arbitrary candidate pair set
    * (a_id, b_id). The exact set intersection never runs all-pairs:
    * only docs that APPEAR in a pair get gram sets (semi-join first —
    * at 100 TB the candidates touch a tiny fraction of the corpus, so
    * gramming the whole corpus would dominate the query). Grams come
    * from the native codegen'd `ngram_set` (graft.functions.NGram). */
  def verifyJaccard(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val ids = pairs.select(col("a_id").as("doc_id"))
      .union(pairs.select(col("b_id").as("doc_id"))).distinct()
    val grams = docs.join(ids, "doc_id")
      .select(col("doc_id"), expr("ngram_set(text)").as("grams"))
    pairs
      .join(grams.select(col("doc_id").as("a_id"), col("grams").as("a_g")), "a_id")
      .join(grams.select(col("doc_id").as("b_id"), col("grams").as("b_g")), "b_id")
      .withColumn("inter", size(array_intersect(col("a_g"), col("b_g"))))
      .withColumn("uni", size(array_union(col("a_g"), col("b_g"))))
      .select(col("a_id"), col("b_id"),
        round(col("inter") / greatest(col("uni"), lit(1)), 6).as("jaccard"))
  }

  /** The gated d04 query blocks deterministically on each doc's
    * minimum gram (prefix blocking — content-derived, so the oracle
    * can reproduce it; the xxhash-bucketed LSH path is d03 →
    * verifyJaccard, exercised by spec). Same candidate-then-verify
    * shape: bucket join produces pairs, exact Jaccard confirms. */
  def d04_ngram_jaccard(s: SparkSession, d: String): DataFrame = {
    val g = spreadIfNarrow(documents(s, d))
      .select(col("doc_id"), expr("ngram_set(text)").as("grams"))
      .filter(size(col("grams")) > 0)
      .withColumn("block", array_min(col("grams")))
    val joined = g.as("x").join(g.as("y"),
      col("x.block") === col("y.block") && col("x.doc_id") < col("y.doc_id"))
    joined
      .withColumn("inter", size(array_intersect(col("x.grams"), col("y.grams"))))
      .withColumn("uni", size(array_union(col("x.grams"), col("y.grams"))))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        round(col("inter") / greatest(col("uni"), lit(1)), 6).as("jaccard"))
  }

  // ── d05: SimHash (64-bit) + hamming near-dup pairs ─────────────────
  /** Token-hash bit voting packed into one long; near-dup candidates
    * via the pigeonhole principle — hamming ≤ 3 ⇒ at least one of four
    * 16-bit chunks equal, so the join key is (chunk_idx, chunk). */
  def d05_simhash(s: SparkSession, d: String): DataFrame = {
    spreadIfNarrow(documents(s, d))
      .select(col("doc_id"), expr("simhash64(text)").as("simhash"))
  }

  def d06_simhash_pairs(s: SparkSession, d: String): DataFrame = {
    val sh = d05_simhash(s, d)
      .select(col("doc_id"), col("simhash"),
        posexplode(expr(
          "transform(sequence(0, 3), c -> shiftright(simhash, c*16) & 65535)")).as(Seq("chunk_idx", "chunk")))
    val a = sh.select(col("chunk_idx"), col("chunk"), col("doc_id").as("a_id"), col("simhash").as("a_sh"))
    val b = sh.select(col("chunk_idx"), col("chunk"), col("doc_id").as("b_id"), col("simhash").as("b_sh"))
    a.join(b, Seq("chunk_idx", "chunk")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        expr("bit_count(a_sh ^ b_sh)").cast("long").as("hamming"))
      // threshold BEFORE distinct: the hamming filter is free per row,
      // the distinct is a shuffle — shrink what shuffles
      .filter(col("hamming") <= 16)
      .distinct()
  }

  // ── d07: embedding cosine near-dup + brute-force ANN top-k ─────────
  /** Norm via the compiled `vec_dot` expression (graft.functions) —
    * float elements widen to double per-element, so results are
    * bit-identical to the double-cast HOF formulation it replaced,
    * while the float arrays (half the bytes) stay the shuffle
    * currency for every downstream join. */
  private def withNorm(df: DataFrame): DataFrame = {
    spreadIfNarrow(df)
      .withColumn("norm", expr("sqrt(vec_dot(embedding, embedding))"))
  }

  /** Brute-force exact top-k for a bounded query set (the correctness
    * baseline): broadcast the queries, stream the corpus once, rank
    * per query. Corpus side scales linearly; no corpus×corpus join. */
  def d07_cosine_topk(s: SparkSession, d: String): DataFrame = {
    val emb = withNorm(embeddings(s, d))
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"), col("norm").as("q_norm"))
    val scored = emb.filter(col("vec_id") >= 8)
      .join(broadcast(queries))
      .withColumn("cosine", expr("vec_dot(embedding, q_vec) / (norm * q_norm)"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** LSH-bucketed ANN — the 100 TB path: 6 deterministic pseudo-random
    * hyperplanes (weight literals baked into the plan, zero per-row
    * hashing) map every vector to a 64-bucket code; neighbors are only
    * scored within the query's bucket. Recall is traded for a shuffle
    * keyed on the code instead of a broadcast of the whole corpus;
    * bucket count scales with the plane count, tuned to corpus size. */
  private def annPlane(p: Int): String = (0 until 64).map { i =>
    val h = (p * 131L + i + 7L) * 0x9E3779B97F4A7C15L
    val v = ((h >>> 17) % 1000L) / 1000.0 - 0.5
    s"${v}D"
  }.mkString("array(", ", ", ")")

  private def annCodeExpr: String = (0 until 6).map { p =>
    s"if(vec_dot(embedding, slice(${annPlane(p)}, 1, size(embedding))) > 0, ${1 << p}, 0)"
  }.mkString("(", " + ", ")")

  /** The SAME hyperplanes as DuckDB literals — the codes are
    * deterministic plan constants, so the oracle rebuilds the exact
    * buckets and d08/d15 get full value-level verification. */
  private def annPlaneSql(p: Int): String = (0 until 64).map { i =>
    val h = (p * 131L + i + 7L) * 0x9E3779B97F4A7C15L
    val v = ((h >>> 17) % 1000L) / 1000.0 - 0.5
    s"$v"
  }.mkString("[", ", ", "]")

  private def annCodeSql: String = (0 until 6).map { p =>
    s"(CASE WHEN list_inner_product(vec, (${annPlaneSql(p)})[1:len(vec)]) > 0 THEN ${1 << p} ELSE 0 END)"
  }.mkString("(", " + ", ")")

  def d08OracleSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
       |m AS (SELECT vec_id, vec, sqrt(list_inner_product(vec, vec)) AS norm, $annCodeSql AS code FROM n),
       |q AS (SELECT code, vec_id AS query_id, vec AS q_vec, norm AS q_norm FROM m WHERE vec_id < 8),
       |scored AS (
       |  SELECT q.query_id, m.vec_id,
       |    list_inner_product(m.vec, q.q_vec) / (m.norm * q.q_norm) AS cosine
       |  FROM m JOIN q USING (code) WHERE m.vec_id >= 8),
       |ranked AS (
       |  SELECT query_id, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank,
       |    cosine
       |  FROM scored)
       |SELECT query_id, rank, vec_id AS neighbor_id, round(cosine, 6) AS cosine
       |FROM ranked WHERE rank <= 5""".stripMargin

  def d15OracleSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
       |m AS (SELECT vec_id, vec, sqrt(list_inner_product(vec, vec)) AS norm, $annCodeSql AS code FROM n)
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  round(list_inner_product(a.vec, b.vec) / (a.norm * b.norm), 6) AS cosine
       |FROM m a JOIN m b ON a.code = b.code AND a.vec_id < b.vec_id
       |WHERE round(list_inner_product(a.vec, b.vec) / (a.norm * b.norm), 6) >= 0.3""".stripMargin

  def d08_ann_lsh(s: SparkSession, d: String): DataFrame = {
    val emb = withNorm(embeddings(s, d)).withColumn("code", expr(annCodeExpr))
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("code"), col("vec_id").as("query_id"), col("embedding").as("q_vec"), col("norm").as("q_norm"))
    val scored = emb.filter(col("vec_id") >= 8).join(queries, "code")
      .withColumn("cosine", expr("vec_dot(embedding, q_vec) / (norm * q_norm)"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  // ── d16: IVF-style ANN (coarse quantizer + nprobe) ─────────────────
  /** The other classic ANN scale path next to hyperplane LSH (d08):
    * an inverted-file index. A small centroid table partitions the
    * corpus into cells (the coarse quantizer); a query probes only its
    * `nprobe` nearest cells. Centroids here are a deterministic corpus
    * sample (vec_id 8..23) so the DuckDB oracle can rebuild the exact
    * cells — at 100 TB you'd k-means a sample on the driver and
    * broadcast the result; everything downstream is unchanged.
    *
    * Scale shape: the 16-row centroid table is broadcast and the
    * argmax cell is a partial (map-side) `max_by` aggregation — the
    * only corpus shuffle is the cell-keyed candidate join, ∝ corpus
    * size / ncells × nprobe, never corpus². The intentional
    * BroadcastNestedLoopJoin is corpus × 16 centroids (linear). */
  def d16_ann_ivf(s: SparkSession, d: String): DataFrame = {
    val emb = withNorm(embeddings(s, d))
    val cent = emb.filter(col("vec_id").between(8, 23))
      .select(col("vec_id").as("cid"), col("embedding").as("c_vec"), col("norm").as("c_norm"))
    def ccos = expr("vec_dot(embedding, c_vec)") / (col("norm") * col("c_norm"))
    // cell assignment: argmax over the broadcast centroids; the struct
    // tiebreak (cosine desc, cid asc) matches the oracle's ROW_NUMBER
    val assigned = emb.filter(col("vec_id") >= 8)
      .crossJoin(broadcast(cent))
      .withColumn("ccos", ccos)
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cell"),
        first(col("embedding")).as("embedding"), first(col("norm")).as("norm"))
    val wp = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid").asc)
    val probes = emb.filter(col("vec_id") < 8)
      .crossJoin(broadcast(cent))
      .withColumn("ccos", ccos)
      .withColumn("pr", row_number().over(wp))
      .filter(col("pr") <= 2) // nprobe = 2
      .select(col("cid").as("cell"), col("vec_id").as("query_id"),
        col("embedding").as("q_vec"), col("norm").as("q_norm"))
    val scored = assigned.join(broadcast(probes), "cell")
      .withColumn("cosine", expr(
        "vec_dot(embedding, q_vec) / (norm * q_norm)"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** The same IVF structure in DuckDB: identical centroid set,
    * identical tiebreaks, so cells/probes/ranks match value-for-value. */
  def d16OracleSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
       |m AS (SELECT vec_id, vec, sqrt(list_inner_product(vec, vec)) AS norm FROM n),
       |cent AS (SELECT vec_id AS cid, vec AS c_vec, norm AS c_norm FROM m WHERE vec_id BETWEEN 8 AND 23),
       |asg AS (
       |  SELECT vec_id, cell, vec, norm FROM (
       |    SELECT m.vec_id, cent.cid AS cell, m.vec, m.norm,
       |      ROW_NUMBER() OVER (PARTITION BY m.vec_id
       |        ORDER BY list_inner_product(m.vec, cent.c_vec) / (m.norm * cent.c_norm) DESC, cent.cid ASC) AS rn
       |    FROM m CROSS JOIN cent WHERE m.vec_id >= 8)
       |  WHERE rn = 1),
       |probe AS (
       |  SELECT cell, query_id, q_vec, q_norm FROM (
       |    SELECT cent.cid AS cell, m.vec_id AS query_id, m.vec AS q_vec, m.norm AS q_norm,
       |      ROW_NUMBER() OVER (PARTITION BY m.vec_id
       |        ORDER BY list_inner_product(m.vec, cent.c_vec) / (m.norm * cent.c_norm) DESC, cent.cid ASC) AS rn
       |    FROM m CROSS JOIN cent WHERE m.vec_id < 8)
       |  WHERE rn <= 2),
       |scored AS (
       |  SELECT probe.query_id, asg.vec_id,
       |    list_inner_product(asg.vec, probe.q_vec) / (asg.norm * probe.q_norm) AS cosine
       |  FROM asg JOIN probe USING (cell)),
       |ranked AS (
       |  SELECT query_id, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank,
       |    cosine
       |  FROM scored)
       |SELECT query_id, rank, vec_id AS neighbor_id, round(cosine, 6) AS cosine
       |FROM ranked WHERE rank <= 5""".stripMargin

  // ── d09–d12: text analysis ─────────────────────────────────────────
  private def occurrences(c: Column, needle: String): Column =
    ((length(c) - length(replace(c, lit(needle), lit("")))) / needle.length).cast("long")

  /** Marker-token language scoring (n-gram heuristic shape; the
    * corpus vocabulary is synthetic so accuracy vs the `lang` column is
    * not meaningful — determinism and the operator shape are). */
  def d09_lang_id(s: SparkSession, d: String): DataFrame = {
    val t = lower(col("text"))
    val en = occurrences(t, " the ") + occurrences(t, " and ") + occurrences(t, " of ")
    val de = occurrences(t, " der ") + occurrences(t, " und ") + occurrences(t, " die ")
    val fr = occurrences(t, " le ") + occurrences(t, " et ") + occurrences(t, " la ")
    val es = occurrences(t, " el ") + occurrences(t, " y ") + occurrences(t, " de ")
    documents(s, d).select(
      col("doc_id"), col("lang").as("labeled_lang"),
      en.as("score_en"), de.as("score_de"), fr.as("score_fr"), es.as("score_es"))
      .withColumn("predicted",
        when(col("score_en") >= col("score_de") && col("score_en") >= col("score_fr") && col("score_en") >= col("score_es"), "en")
          .when(col("score_de") >= col("score_fr") && col("score_de") >= col("score_es"), "de")
          .when(col("score_fr") >= col("score_es"), "fr")
          .otherwise("es"))
  }

  /** Quality scoring: length, punctuation ratio, stopword ratio,
    * mean word length — single scan, all codegen'd. */
  def d10_quality_score(s: SparkSession, d: String): DataFrame = {
    documents(s, d)
      .withColumn("n_len", length(col("text")).cast("long"))
      .withColumn("n_punct", (length(col("text")) -
        length(regexp_replace(col("text"), "[\\p{Punct}]", ""))).cast("long"))
      .withColumn("words", expr("word_ngrams(lower(text), 1)"))
      .withColumn("n_words", size(col("words")).cast("long"))
      .withColumn("n_stop", expr(
        "size(filter(words, w -> w in ('the', 'a', 'of', 'and', 'to', 'in')))").cast("long"))
      .select(
        col("doc_id"), col("n_len"), col("n_punct"), col("n_words"), col("n_stop"),
        round(col("n_punct") / greatest(col("n_len"), lit(1)), 6).as("punct_ratio"),
        round(col("n_stop") / greatest(col("n_words"), lit(1)), 6).as("stop_ratio"))
  }

  /** Token counting: whitespace tokens + a BPE-ish estimate
    * (per-word ceil(len/4) subword pieces). */
  def d11_token_count(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("words", expr("filter(split(text, '\\\\s+'), w -> length(w) > 0)"))
      .select(
        col("doc_id"),
        size(col("words")).cast("long").as("n_ws_tokens"),
        expr("aggregate(words, cast(0 as bigint), (acc, w) -> acc + cast(ceil(length(w) / 4.0) as bigint))")
          .as("n_bpe_est"))

  /** Document fingerprint: md5 over the normalized text (lowercase,
    * punctuation stripped, whitespace collapsed) — catches
    * formatting-only duplicates that d01 misses. */
  /** Near-dup CLUSTERS: connected components over the verified
    * n-gram-Jaccard pairs (d04, threshold 0.5) — pair tables answer
    * "are these two docs dups?"; the component labels answer "which
    * docs form one duplicate group, and which single doc (min id) is
    * canonical?", which is what a dedup pass actually keeps. */
  def d18_dedup_clusters(s: SparkSession, d: String): DataFrame =
    graft.ops.ConnectedComponents
      .components(d04_ngram_jaccard(s, d).filter(col("jaccard") >= 0.5), "a_id", "b_id")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))

  /** d31: representative selection — the step AFTER clustering: from
    * each near-dup cluster keep ONE document (the longest by token
    * count, tiebreak min doc_id — "keep the best copy" in real
    * pipelines, where quality is whatever score the team trusts).
    * Output is per-cluster: the representative, member count, and the
    * token mass the dedup pass drops.
    *
    * Scale shape: d18's component labels (bucketed candidate
    * generation, label-propagation fixpoint ∝ edges) joined once to
    * per-doc token counts, then one tiny per-cluster agg — clusters
    * ≪ corpus, so everything after the components is a small-keyed
    * groupBy. */
  def d31_cluster_representatives(s: SparkSession, d: String): DataFrame = {
    val words = documents(s, d).select(col("doc_id"),
      expr("size(word_ngrams(lower(text), 1))")
        .cast("long").as("n_words"))
    d18_dedup_clusters(s, d).join(words, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max_by(col("doc_id"), struct(col("n_words"), -col("doc_id"))).as("rep_doc"),
        sum(col("n_words")).as("total_words"),
        (sum(col("n_words")) - max(col("n_words"))).as("words_dropped"))
  }

  /** Gopher/C4-style repetition filter: the fraction of duplicated
    * word-3-grams per document, in basis points (integer math — a
    * double ratio would hang parity on float printing). Distinct
    * grams come from the compiled `ngram_set`; the token count uses
    * the same tokenizer, so the ratio is self-consistent. Scan-side
    * only — at 100 TB this is the classic cheap quality gate run
    * before any expensive dedup pass. */
  def d17_repetition(s: SparkSession, d: String): DataFrame = {
    documents(s, d)
      .withColumn("tokens",
        expr("word_ngrams(lower(text), 1)"))
      .withColumn("n_tokens", size(col("tokens")).cast("long"))
      .withColumn("total_grams",
        when(col("n_tokens") === 0, 0L)
          .when(col("n_tokens") < 3, 1L)
          .otherwise(col("n_tokens") - 2))
      .withColumn("distinct_grams", expr("size(ngram_set(text))").cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("total_grams"), col("distinct_grams"),
        when(col("total_grams") === 0, 0L)
          .otherwise(expr("(total_grams - distinct_grams) * 10000 div total_grams"))
          .as("rep_bp"))
  }

  def d12_fingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"),
      md5(trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")))
        .as("fingerprint"))

  /** Rolling-hash fingerprint (polynomial, mod 1e9+7 over normalized
    * bytes) via the native `rolling_hash64` expression — the cheap
    * streaming fingerprint shape (one pass, no buffer). */
  def d14_rolling_fingerprint(s: SparkSession, d: String): DataFrame = {
    documents(s, d).select(col("doc_id"), expr("rolling_hash64(text)").as("fingerprint"))
  }

  /** Embedding-cosine near-dup pairs over the FULL corpus, routed
    * through the d08 hyperplane buckets: vectors only pair within
    * their 64-bucket code, so the join shuffles on `code` and the
    * comparison count scales with bucket occupancy, never corpus².
    * (The exact all-pairs formulation survives only as a small-SF
    * recall spec — see LlmSpec.) The plane literals are deterministic,
    * so the oracle reproduces the exact same buckets. */
  def d15_embedding_near_dup(s: SparkSession, d: String): DataFrame = {
    val emb = withNorm(embeddings(s, d)).withColumn("code", expr(annCodeExpr))
      .select(col("code"), col("vec_id"), col("embedding"), col("norm"))
    val joined = emb.as("x").join(emb.as("y"),
      col("x.code") === col("y.code") && col("x.vec_id") < col("y.vec_id"))
    joined
      .withColumn("cosine", round(
        expr("vec_dot(x.embedding, y.embedding)") / (col("x.norm") * col("y.norm")), 6))
      .filter(col("cosine") >= 0.3)
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"), col("cosine"))
  }

  // ── d25: segment-level dedup (paragraph dedup without paragraphs) ──
  /** Sub-document exact dedup — the RefinedWeb/CCNet "line dedup"
    * pass: documents split into fixed 8-word segments (the synthetic
    * corpus has no newline structure, so segment = the paragraph
    * stand-in), every segment's FIRST corpus occurrence (min
    * (doc_id, seg_idx)) is kept, later copies are dropped, and each
    * doc reports its segment counts plus the hash of its reassembled
    * cleaned text.
    *
    * Scale shape — the d01 pattern pushed down a level: one word-
    * explode + (doc, seg)-keyed agg to build segments (shuffle ∝
    * corpus tokens), one segment-text groupBy for the canonical
    * occurrence, one join back, one per-doc agg. No self-join, no
    * window over the corpus; everything keys on segment hash or
    * doc_id. The 1e6 key-packing bounds seg_idx, not corpus size
    * (docs with ≥8M words would need a wider pack). */
  def d25_segment_dedup(s: SparkSession, d: String): DataFrame = {
    val segs = documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .withColumn("seg_idx", expr("pos div 8"))
      .groupBy(col("doc_id"), col("seg_idx"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("w")))),
        x => x.getField("w")), " ").as("seg"))
      .withColumn("key", col("doc_id") * 1000000L + col("seg_idx"))
    val canon = segs.groupBy(col("seg")).agg(min(col("key")).as("canon_key"))
    segs.join(canon, "seg")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("key") === col("canon_key"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(transform(array_sort(collect_list(
            when(col("key") === col("canon_key"), struct(col("seg_idx"), col("seg"))))),
          x => x.getField("seg")), " ")).as("clean_hash"))
  }

  // ── d27: k-means topic clustering (Lloyd, 2 rounds) ───────────────
  /** Embedding-space clustering — the topic-bucketing pass a corpus
    * curation pipeline runs before per-topic sampling. Deterministic
    * throughout: centroids init from vec_id 0..7, cosine assignment
    * with (cos desc, cid asc) tiebreak, ONE Lloyd update, reassign.
    *
    * Scale shape: each assignment is corpus × k=8 against a BROADCAST
    * centroid table with a map-side `max_by` partial — never a corpus
    * shuffle. The centroid update posexplodes to (cell, dim) and
    * aggregates avg with map-side combine, so the update shuffle is
    * #partitions × k × 64 rows, independent of corpus size. Updated
    * components round to 6 decimals BEFORE reassignment — that makes
    * the float mean cross-engine stable (and at scale, stable under
    * re-partitioning of the partial sums). */
  def d27_kmeans(s: SparkSession, d: String): DataFrame = {
    val emb = withNorm(embeddings(s, d))
      .select(col("vec_id"), col("embedding"), col("norm"))
    def assign(cent: DataFrame): DataFrame =
      emb.crossJoin(broadcast(cent))
        .withColumn("ccos", expr("vec_dot(embedding, c_vec)") / (col("norm") * col("c_norm")))
        .groupBy(col("vec_id"))
        .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cell"),
          first(col("embedding")).as("embedding"))
    val cent0 = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("c_vec"),
        col("norm").as("c_norm"))
    val cent1 = assign(cent0)
      .select(col("cell"), posexplode(col("embedding")).as(Seq("j", "x")))
      .groupBy(col("cell"), col("j"))
      .agg(round(avg(col("x")), 6).as("c"))
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(struct(col("j"), col("c")))).as("jc"))
      .select(col("cell").as("cid"), expr("transform(jc, p -> p.c)").as("c_vec"))
      .withColumn("c_norm", sqrt(expr("vec_dot(c_vec, c_vec)")))
    assign(cent1)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        min(col("vec_id")).as("first_member"), max(col("vec_id")).as("last_member"))
  }

  /** The same two Lloyd rounds in DuckDB: identical init, tiebreaks,
    * and 6-decimal centroid rounding, so assignments match exactly. */
  def d27OracleSql: String =
    s"""WITH m AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
       |    sqrt(list_inner_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
       |                            list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS norm
       |  FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cid, vec AS c_vec, norm AS c_norm FROM m WHERE vec_id < 8),
       |a1 AS (
       |  SELECT vec_id, cid AS cell, vec FROM (
       |    SELECT m.vec_id, c0.cid, m.vec,
       |      ROW_NUMBER() OVER (PARTITION BY m.vec_id
       |        ORDER BY list_inner_product(m.vec, c0.c_vec) / (m.norm * c0.c_norm) DESC, c0.cid ASC) AS rn
       |    FROM m CROSS JOIN c0) WHERE rn = 1),
       |comps AS (
       |  SELECT cell, j, round(avg(vec[j]), 6) AS c
       |  FROM a1 CROSS JOIN (SELECT unnest(range(1, 65)) AS j)
       |  GROUP BY cell, j),
       |c1 AS (
       |  SELECT cell AS cid, list(CAST(c AS DOUBLE) ORDER BY j) AS c_vec FROM comps GROUP BY cell),
       |c1n AS (SELECT cid, c_vec, sqrt(list_inner_product(c_vec, c_vec)) AS c_norm FROM c1),
       |a2 AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT m.vec_id, c1n.cid,
       |      ROW_NUMBER() OVER (PARTITION BY m.vec_id
       |        ORDER BY list_inner_product(m.vec, c1n.c_vec) / (m.norm * c1n.c_norm) DESC, c1n.cid ASC) AS rn
       |    FROM m CROSS JOIN c1n) WHERE rn = 1)
       |SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
       |  min(vec_id) AS first_member, max(vec_id) AS last_member
       |FROM a2 GROUP BY cell""".stripMargin

  // ── d28: TF-IDF top terms per document ────────────────────────────
  /** Keyword extraction — the per-document salient-term pass (search
    * indexing, topic labeling, near-dup explanation). tf = in-doc
    * count, idf = ln(N/df), top-3 terms per doc by (score desc, term
    * asc).
    *
    * Scale shape: one token explode (∝ corpus tokens) feeding two
    * map-side-partial aggs — (doc, term) for tf and term for df; the
    * tf⋈df join keys on term (shuffle ∝ vocabulary + tf pairs, never
    * corpus²); the top-3 window partitions by doc_id, so no global
    * sort. N (total docs) is a 1-row broadcast cross join. */
  def d28_tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val tokens = spreadIfNarrow(docs).select(col("doc_id"),
        explode(expr("word_ngrams(lower(text), 1)")).as("term"))
    // tf is consumed twice (df census + scored-join probe); without
    // materialization each consumer re-ran tokenize + explode + census
    // over the corpus — the d60 pattern. One pass, then re-aggs.
    val tf = tokens.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score", round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("score"))
  }

  def d28OracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
       |    w -> length(w) > 0)) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, term),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.term,
       |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS score
       |  FROM tf JOIN df USING (term) CROSS JOIN n),
       |ranked AS (
       |  SELECT doc_id, term, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT doc_id, rank, term, score FROM ranked WHERE rank <= 3""".stripMargin

  // ── d30: unigram log-probability (perplexity-proxy filter) ────────
  /** The classic cheap quality score: per-doc mean unigram log-prob
    * under the corpus's own unigram LM. Docs full of rare/garbage
    * tokens score far below the mode — the "perplexity filter" pass a
    * pretraining pipeline runs when a real LM is too expensive.
    *
    * Scale shape: reuses the d28 tf decomposition — the per-(doc,term)
    * tf table (∝ distinct pairs, much smaller than the token stream)
    * joins term-keyed against the vocabulary (corpus term counts +
    * one 1-row total broadcast), then one per-doc agg of
    * Σ tf·ln p(w) / Σ tf. No corpus self-join; every shuffle keys on
    * term or doc_id. */
  def d30_unigram_logprob(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // tf consumed twice (vocabulary census chain + scored-join probe):
    // materialize the one corpus pass, as in d60/d28
    val tf = spreadIfNarrow(docs).select(col("doc_id"),
        explode(expr("word_ngrams(lower(text), 1)")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val vocab = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("n_total"))
    tf.join(vocab, "term").crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        round((sum(col("tf") * log(col("cnt").cast("double") / col("n_total")))
          / sum(col("tf"))), 6).as("mean_logprob"))
  }

  def d30OracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
       |    w -> length(w) > 0)) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
       |vocab AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY term),
       |total AS (SELECT sum(cnt) AS n_total FROM vocab)
       |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
       |  round(sum(tf.tf * ln(CAST(vocab.cnt AS DOUBLE) / total.n_total))
       |        / sum(tf.tf), 6) AS mean_logprob
       |FROM tf JOIN vocab USING (term) CROSS JOIN total
       |GROUP BY tf.doc_id""".stripMargin

  // ── d35: prefix/truncation dedup ──────────────────────────────────
  /** Truncation duplicates — one document a strict PREFIX of another
    * (re-crawls cut off mid-page, feeds truncated at size limits).
    * Two disjoint lanes, together EXACT (the oracle is the plain
    * quadratic spec, no blocking — it would catch a recall hole):
    *
    *  - prefix ≥ 64 chars: block on the first 64 characters (such a
    *    pair must share them), verify startsWith inside the block.
    *    Shuffle keys are blocks, candidate volume ∝ docs per block,
    *    never corpus². Blocks larger than `maxBlockSize` are dropped
    *    BEFORE the self-join (one count-by-key + broadcast anti-join):
    *    a block shared by that many docs is a boilerplate OPENING,
    *    not truncation — its quadratic pair set is meaningless and
    *    would dominate the join on a realistic corpus. Run d20's
    *    boilerplate pass first if over-cap blocks show up.
    *  - prefix < 64 chars: its full text IS shorter than any 64-char
    *    block, so block equality can never fire (the lanes are
    *    disjoint by string length). Join the short docs' exact text
    *    against the same-length prefix of every longer doc — the
    *    distinct short lengths (≤ 63 values, bounded collect) each
    *    add one shuffle key per doc, so the lane costs
    *    |short lengths| × corpus keys, still never corpus². The same
    *    `maxBlockSize` cap applies to the (len, prefix) join keys on
    *    both sides — a short boilerplate line shared by many docs is
    *    the same pathology as a hot 64-char block.
    *
    * Strictly-shorter keeps exact duplicates in d01's lane. */
  def d35_prefix_dedup(s: SparkSession, d: String): DataFrame =
    prefixDedup(spreadIfNarrow(documents(s, d)), maxBlockSize = 10000)

  /** Core of d35 over any (doc_id, text) frame; `maxBlockSize` caps
    * the 64-char-block population (default generous — drop only
    * blocks whose pair set is clearly boilerplate). */
  def prefixDedup(docsIn: DataFrame, maxBlockSize: Int): DataFrame = {
    val docs = docsIn.select(col("doc_id"), col("text"))
    // long lane: block on the shared first 64 chars, cap hot blocks.
    // Docs shorter than 64 chars can never appear in a long-lane pair
    // (prefix side needs len ≥ 64, so the full side needs ≥ 65) —
    // prune them BEFORE the block census so a pile of short exact
    // dups neither inflates a block past the cap nor rides the
    // self-join shuffle; exact dups are d01's lane either way
    val withBlk = docs.filter(length(col("text")) >= 64)
      .select(col("doc_id"), col("text"), substring(col("text"), 1, 64).as("blk"))
    val hot = withBlk.groupBy(col("blk")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBlockSize).select(col("blk"))
    val ok = withBlk.join(broadcast(hot), Seq("blk"), "left_anti")
    val a = ok.select(col("doc_id").as("prefix_id"), col("text").as("a_text"), col("blk"))
    val b = ok.select(col("doc_id").as("full_id"), col("text").as("b_text"), col("blk"))
    val longLane = a.join(b, Seq("blk"))
      .filter(length(col("a_text")) < length(col("b_text")) &&
        col("b_text").startsWith(col("a_text")))
      .select(col("prefix_id"), col("full_id"),
        length(col("a_text")).cast("long").as("prefix_len"),
        length(col("b_text")).cast("long").as("full_len"))
    // short lane: exact-text join against same-length prefixes; the
    // length set is bounded (< 64 values) so the collect is driver-safe
    val shortLens = docs.filter(length(col("text")) < 64)
      .select(length(col("text")).as("len")).distinct()
      .collect().map(_.getInt(0)).toSeq
    if (shortLens.isEmpty) longLane
    else {
      val shortDocs = docs.filter(length(col("text")) < 64)
        .select(col("doc_id").as("prefix_id"), col("text").as("a_text"),
          length(col("text")).as("len"))
      // one key per (doc, short length): explode of a LITERAL length
      // array — no join, stays inside whole-stage codegen
      val keys = docs
        .select(col("doc_id").as("full_id"), col("text"),
          length(col("text")).as("b_len"),
          explode(array(shortLens.sorted.map(lit): _*)).as("len"))
        .filter(col("b_len") > col("len"))
        .select(col("full_id"), col("len"), col("b_len"),
          col("text").substr(lit(1), col("len")).as("key"))
      // the same hot-key cap as the long lane, on BOTH sides of the
      // (len, key) join: pair volume per key is |identical short
      // texts| × |docs sharing that opening| — a short boilerplate
      // line ('404 not found') shared by 100k docs would otherwise
      // rebuild exactly the quadratic blow-up the block cap prevents
      val hotShort = shortDocs.groupBy(col("len"), col("a_text").as("key"))
        .agg(count(lit(1)).as("n")).filter(col("n") > maxBlockSize)
        .select(col("len"), col("key"))
        .unionByName(keys.groupBy(col("len"), col("key"))
          .agg(count(lit(1)).as("n")).filter(col("n") > maxBlockSize)
          .select(col("len"), col("key")))
        .distinct()
      val okShort = shortDocs.join(broadcast(hotShort),
        shortDocs("len") === hotShort("len") && shortDocs("a_text") === hotShort("key"),
        "left_anti")
      okShort.join(keys,
          okShort("len") === keys("len") && okShort("a_text") === keys("key"))
        .select(col("prefix_id"), col("full_id"),
          okShort("len").cast("long").as("prefix_len"),
          col("b_len").cast("long").as("full_len"))
        .unionByName(longLane)
    }
  }

  def d35OracleSql: String =
    """SELECT a.doc_id AS prefix_id, b.doc_id AS full_id,
      |  CAST(length(a.text) AS BIGINT) AS prefix_len,
      |  CAST(length(b.text) AS BIGINT) AS full_len
      |FROM documents a JOIN documents b
      |  ON length(a.text) < length(b.text) AND starts_with(b.text, a.text)""".stripMargin

  // ── d37: duplicated-span coverage ─────────────────────────────────
  /** Sliding-window exact-substring duplication — the scalable form
    * of suffix-array substring dedup ("Deduplicating Training Data
    * Makes Language Models Better", Lee et al. 2022): every length-8
    * word window of every document, censused across the corpus; a
    * window seen in ≥ 2 DISTINCT documents is duplicated text, and a
    * document's `dup_bp` (duplicated windows / windows, basis points)
    * is the drop-or-trim criterion. Distinct from d25 (tumbling
    * segments, removal) and d17 (within-doc repetition): overlapping
    * windows measure how much of a doc exists verbatim elsewhere.
    *
    * Shape: one window explode (≈ token count rows), a census
    * groupBy(span) over the (doc, span)-deduped set, one join back on
    * the span key — both shuffles keyed on span text, candidate
    * volume ∝ corpus window count, never docs². Within-doc repeats
    * keep their multiplicity in `n_windows` (they are all duplicated
    * TEXT once the span is shared) but collapse to one census vote,
    * so internal repetition alone never marks a span. With
    * `hashSpans = true` the shuffle/join key becomes the span's
    * XXH64 (d01's tradeoff — ~6× narrower shuffle rows against
    * vanishing collision odds); the gated d37 query passes it too,
    * which is sound because the output carries COUNTS only and a
    * key collision that could merge two spans is ~1e-9 at this span
    * volume (LlmSpec pins that both key variants produce identical
    * per-doc stats, so the oracle gate cannot flap on it).
    * Docs with fewer than 8 words have no window at this granularity
    * → 0 bp (short-doc dups are d01/d35's lanes). */
  def d37_duplicate_spans(s: SparkSession, d: String): DataFrame =
    // hashed span keys for the gated query too: the output carries
    // COUNTS only, and the census/join-back counts are identical under
    // the 64-bit key (LlmSpec pins variant equality; a collision that
    // could merge two spans is ~1e-9 at this span volume and the
    // xxhash is deterministic, so the gate can't flap) — the 50-byte
    // span strings stay out of both shuffles: 2.6 → 1.7 s at sf0.1
    duplicateSpans(documents(s, d), window = 8, hashSpans = true)

  /** Core of d37 over any (doc_id, text) frame. */
  def duplicateSpans(docs: DataFrame, window: Int,
      hashSpans: Boolean = false): DataFrame = {
    val w = window
    val spans = docs
      .select(col("doc_id"),
        explode(expr(s"word_ngrams(lower(text), $w)")).as("span"))
    // the census key: the span itself, or its 64-bit hash (project the
    // string away BEFORE the shuffles so the narrow key is what
    // actually moves)
    val wins =
      if (hashSpans) spans.select(col("doc_id"), xxhash64(col("span")).as("span"))
      else spans
    // Collapse to (doc, span, cnt) first (distinct-with-multiplicity
    // — in-doc repeats carry cnt), then census docs per span with a
    // hash groupBy over that UNIQUE-per-(doc,span) set and join the
    // duplicated-span set back. The census's partial aggregation
    // combines map-side, so a hot span (an 8-word boilerplate line
    // shared by a large share of the corpus) contributes one row per
    // map task to the shuffle — unlike the earlier count-over-window
    // on span, which formed one window partition per span that a
    // single task had to sort and stream, and which AQE's skew
    // splitting cannot divide. The explode + first groupBy (the
    // corpus-scale work) runs once: perDocSpan is locally
    // checkpointed and feeds both census and probe. The join is
    // unhinted — AQE broadcasts the dup-span set when it is small and
    // otherwise sort-merges with skew splitting available.
    val perDocSpan = wins.groupBy(col("doc_id"), col("span"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val dupSpans = perDocSpan.groupBy(col("span"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("span"), lit(1L).as("is_dup"))
    val perDoc = perDocSpan.join(dupSpans, Seq("span"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_windows"),
        sum(when(col("is_dup").isNotNull, col("cnt")).otherwise(0L)).as("n_dup_windows"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        when(coalesce(col("n_windows"), lit(0L)) === 0, 0L)
          .otherwise(expr("coalesce(n_dup_windows, 0) * 10000 div n_windows"))
          .as("dup_bp"))
  }

  def d37OracleSql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |    w -> length(w) > 0) AS ws
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, unnest(CASE WHEN len(ws) < 8 THEN []
      |    ELSE list_transform(range(1, len(ws) - 6),
      |      i -> array_to_string(list_slice(ws, i, i + 7), ' ')) END) AS span
      |  FROM t),
      |c AS (SELECT span, count(DISTINCT doc_id) AS n_docs FROM w GROUP BY span),
      |pd AS (
      |  SELECT w.doc_id, count(*) AS n_windows,
      |    sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup
      |  FROM w JOIN c USING (span) GROUP BY w.doc_id)
      |SELECT d.doc_id, CAST(coalesce(pd.n_windows, 0) AS BIGINT) AS n_windows,
      |  CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup_windows,
      |  CAST(CASE WHEN coalesce(pd.n_windows, 0) = 0 THEN 0
      |       ELSE coalesce(pd.n_dup, 0) * 10000 // pd.n_windows END AS BIGINT) AS dup_bp
      |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin

  // ── d66: exact-substring dedup REMOVAL (d37's second half) ────────
  /** Emit the DEDUPLICATED corpus: d37 censuses duplicated spans;
    * this operator CUTS them (Lee et al. 2022's suffix-array dedup,
    * windowed form — remove every verbatim extent that exists
    * elsewhere, keeping one canonical copy). Policy, deterministic on
    * both engines: a length-`window` word span's canonical occurrence
    * set is the MINIMUM doc_id containing it (first-occurrence-wins,
    * the d25 discipline); every occurrence in a higher doc_id is
    * removable, and a token is cut iff some removable window covers
    * it — so overlapping duplicated windows merge into MAXIMAL cut
    * extents by construction, and unique text is never touched.
    *
    * Shape: window explode (∝ corpus tokens) → span census keyed on
    * the span STRING (groupBy min(doc_id); the string key — not the
    * d37 hash lane — because the CUT TEXT depends on span equality
    * and the oracle replays string semantics) → join-back marks
    * removable occurrences → per-doc INTERVAL MERGE of the removable
    * windows into maximal disjoint extents → coverage explode of the
    * merged extents (each removed position exactly once, no distinct)
    * → one left join onto the token-position relation and an ordered
    * per-doc fold. Every shuffle is keyed (span, then doc, then
    * (doc, pos)); nothing is ever docs² and nothing collects. */
  def d66_substring_dedup_cut(s: SparkSession, d: String): DataFrame =
    substringDedupCut(documents(s, d), window = 8)

  /** Core of d66 over any (doc_id, text) frame. */
  def substringDedupCut(docs: DataFrame, window: Int): DataFrame = {
    val w = window
    val wins = docs
      .select(col("doc_id"), posexplode(expr(s"word_ngrams(lower(text), $w)")))
      .toDF("doc_id", "p", "span")
      .withColumn("h", xxhash64(col("span")))
    // Hash pre-filter before the string census (round 13): a span can
    // only have a removable occurrence if it appears in ≥ 2 distinct
    // docs, and equal strings hash equal — so census the narrow XXH64
    // key first (8-byte shuffle rows, min≠max of doc_id answers
    // "≥ 2 distinct docs" with primitive aggregates) and run the
    // STRING census, which the cut's exactness genuinely needs, over
    // the surviving candidates only. A hash collision can only WIDEN
    // the candidate set (the string census still computes the true
    // first_doc, so a unique span that sneaks in is never removable) —
    // semantics stay exact while the two corpus-wide span-string
    // shuffles shrink to the duplicated subset. The candidate-hash set
    // joins un-hinted: AQE broadcasts it while duplication is rare and
    // falls back to a skew-splittable narrow-key SMJ when it is not.
    val candH = wins.groupBy(col("h"))
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .select(col("h"))
    val cand = wins.join(candH, Seq("h"), "left_semi")
    val census = cand.groupBy(col("span")).agg(min(col("doc_id")).as("first_doc"))
    val removable = cand.join(census, "span")
      .filter(col("doc_id") > col("first_doc"))
      .select(col("doc_id"), col("p"))
    // INTERVAL MERGE before the coverage explode (the production plan
    // the original docstring promised): overlapping removable windows
    // [p, p+w-1] merge into maximal disjoint extents per doc first —
    // sorted by p with equal lengths, a window starts a new extent
    // iff it clears the previous start by more than w-1 — and only
    // then explode token positions. The old shape exploded w
    // positions per removable window and dropped overlap duplicates
    // with a distinct: shuffle ∝ w × removable windows (8× the
    // removed text on long duplicated runs). Now the explode emits
    // each removed position exactly once (extents are disjoint, so
    // no distinct), and the only w-free shuffles are the per-doc
    // window pass over removable WINDOW STARTS (rows ∝ removable
    // windows, partitioned by doc_id — never content-keyed) and the
    // (doc, pos) join itself. LlmSpec pins the explode-volume shrink
    // on a long duplicated block; the per-doc window partition is
    // bounded by document token counts, the d37 discipline.
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val covered = removable
      .withColumn("brk",
        when(col("p") - lag(col("p"), 1, -w).over(wd) > w - 1, 1L).otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("p")).as("lo"), (max(col("p")) + (w - 1)).as("hi"))
      .select(col("doc_id"), explode(expr("sequence(lo, hi)")).as("q"))
    val tokens = docs
      .select(col("doc_id"), posexplode(expr("word_ngrams(lower(text), 1)")))
      .toDF("doc_id", "q", "tok")
    val perDoc = tokens
      .join(covered.withColumn("rm", lit(1)), Seq("doc_id", "q"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("rm").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        // kept tokens reassembled in position order: collect_list
        // skips the NULLed-out removed tokens, struct sort is by q
        expr("array_join(transform(array_sort(collect_list(" +
          "CASE WHEN rm IS NULL THEN struct(q, tok) END)), x -> x.tok), ' ')")
          .as("text_kept"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        expr("(coalesce(n_tokens, 0) - coalesce(n_removed, 0)) * 10000" +
          " div greatest(coalesce(n_tokens, 0), 1)").as("kept_bp"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  def d66OracleSql: String =
    """WITH t AS MATERIALIZED (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |    x -> length(x) > 0) AS ws
      |  FROM documents),
      |w AS MATERIALIZED (
      |  SELECT doc_id, u['p'] AS p, u['span'] AS span FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(ws) < 8 THEN []
      |      ELSE list_transform(range(1, len(ws) - 6), i ->
      |        {'p': CAST(i - 1 AS BIGINT),
      |         'span': array_to_string(list_slice(ws, i, i + 7), ' ')}) END) AS u
      |    FROM t)),
      |census AS (SELECT span, min(doc_id) AS first_doc FROM w GROUP BY 1),
      |rem AS (
      |  SELECT w.doc_id, w.p FROM w JOIN census c USING (span)
      |  WHERE w.doc_id > c.first_doc),
      |cov AS (
      |  SELECT DISTINCT doc_id, p + r.o AS q
      |  FROM rem, (SELECT unnest(range(0, 8)) AS o) r),
      |tok AS (
      |  SELECT doc_id, u['q'] AS q, u['tok'] AS tok FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1), i ->
      |      {'q': CAST(i - 1 AS BIGINT), 'tok': ws[i]})) AS u
      |    FROM t)),
      |pd AS (
      |  SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(sum(CASE WHEN cov.q IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
      |    string_agg(CASE WHEN cov.q IS NULL THEN tk.tok END, ' ' ORDER BY tk.q)
      |      AS text_kept
      |  FROM tok tk LEFT JOIN cov USING (doc_id, q) GROUP BY 1)
      |SELECT d.doc_id,
      |  CAST(coalesce(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(pd.n_removed, 0) AS BIGINT) AS n_removed,
      |  CAST((coalesce(pd.n_tokens, 0) - coalesce(pd.n_removed, 0)) * 10000
      |    // greatest(coalesce(pd.n_tokens, 0), 1) AS BIGINT) AS kept_bp,
      |  coalesce(pd.text_kept, '') AS text_kept
      |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin

  /** Exact all-pairs variant on a deterministic sample — the recall
    * baseline d15 is measured against in LlmSpec; NOT a gated query
    * (a BroadcastNestedLoopJoin is quadratic work however you sample). */
  def embeddingNearDupExact(s: SparkSession, d: String): DataFrame = {
    val emb = withNorm(embeddings(s, d)).filter(pmod(col("vec_id"), lit(10)) === 0)
      .select(col("vec_id"), col("embedding"), col("norm"))
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_vec"), col("norm").as("a_norm"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_vec"), col("norm").as("b_norm"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cosine", round(expr("vec_dot(a_vec, b_vec) / (a_norm * b_norm)"), 6))
      .filter(col("cosine") >= 0.3)
      .select(col("a_id"), col("b_id"), col("cosine"))
  }

  // ── d41: BM25 top-k retrieval ─────────────────────────────────────
  /** Lexical retrieval scoring — BM25 (k1 = 1.2, b = 0.75) for a fixed
    * query over the corpus, top-20 by score: the data-selection /
    * targeted-retrieval primitive (select pretraining docs matching a
    * domain query; retrieve near-matches of an eval prompt). Shape:
    * per-doc term frequencies are scan-side expressions; the corpus
    * stats the formula needs (N, avg doc length, per-term doc
    * frequencies) are ONE single-row aggregate broadcast back — the
    * corpus is scanned twice, shuffled never — then
    * TakeOrderedAndProject keeps the top 20. Floats: IEEE-identical
    * expression order on both engines, rounded to 6 dp (the d07
    * discipline); constants are written as the same literals (2.2,
    * 0.25…) on both sides so neither engine re-derives them. */
  def d41_bm25_topk(s: SparkSession, d: String): DataFrame =
    bm25Scored(s, d).limit(20)

  /** The scored-and-ordered BM25 relation d41 and d42 both consume —
    * callers append their own LIMIT so each plan keeps its own
    * TakeOrderedAndProject k. */
  private def bm25Scored(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("hash", "join", "vector")
    val docs = documents(s, d)
      .withColumn("toks",
        expr("word_ngrams(lower(text), 1)"))
      .withColumn("dl", size(col("toks")).cast("long"))
    // consumed twice (corpus stats + scoring pass); materialized, the
    // tokenize runs once and the second consumer reads a narrow
    // (doc_id, dl, tf0..tf2) table ∝ docs (the d60 pattern)
    val withTf = terms.zipWithIndex.foldLeft(docs) { case (df, (t, i)) =>
      df.withColumn(s"tf$i", expr(s"cast(size(filter(toks, w -> w = '$t')) as bigint)"))
    }.drop("toks", "text", "lang", "source", "n_chars")
      .localCheckpoint()
    val aggs = Seq(sum(col("dl")).as("total_len")) ++
      terms.indices.map(i => sum((col(s"tf$i") > 0).cast("long")).as(s"df$i"))
    val stats = withTf.agg(count(lit(1)).as("n_docs"), aggs: _*)
    val scored = withTf.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("total_len").cast("double") / col("n_docs"))
    val perTerm = terms.indices.map { i =>
      val tf = col(s"tf$i").cast("double")
      val idf = log((col("n_docs").cast("double") - col(s"df$i") + lit(0.5)) /
        (col(s"df$i") + lit(0.5)) + lit(1.0))
      idf * (tf * lit(2.2)) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl")))
    }
    scored
      .withColumn("score", round(perTerm.reduce(_ + _), 6))
      .filter(col("score") > 0)
      .select(col("doc_id"), col("dl").as("doc_len"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
  }

  def d41OracleSql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> length(w) > 0) AS toks
      |  FROM documents),
      |d AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
      |    CAST(len(list_filter(toks, w -> w = 'hash')) AS BIGINT) AS tf0,
      |    CAST(len(list_filter(toks, w -> w = 'join')) AS BIGINT) AS tf1,
      |    CAST(len(list_filter(toks, w -> w = 'vector')) AS BIGINT) AS tf2
      |  FROM t),
      |s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len,
      |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
      |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
      |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
      |  FROM d),
      |sc AS (
      |  SELECT d.doc_id, d.dl,
      |    round(
      |      ln((CAST(s.n_docs AS DOUBLE) - s.df0 + 0.5) / (s.df0 + 0.5) + 1.0)
      |        * (CAST(d.tf0 AS DOUBLE) * 2.2)
      |        / (CAST(d.tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE) / (CAST(s.total_len AS DOUBLE) / s.n_docs)))
      |      + ln((CAST(s.n_docs AS DOUBLE) - s.df1 + 0.5) / (s.df1 + 0.5) + 1.0)
      |        * (CAST(d.tf1 AS DOUBLE) * 2.2)
      |        / (CAST(d.tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE) / (CAST(s.total_len AS DOUBLE) / s.n_docs)))
      |      + ln((CAST(s.n_docs AS DOUBLE) - s.df2 + 0.5) / (s.df2 + 0.5) + 1.0)
      |        * (CAST(d.tf2 AS DOUBLE) * 2.2)
      |        / (CAST(d.tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE) / (CAST(s.total_len AS DOUBLE) / s.n_docs)))
      |    , 6) AS score
      |  FROM d CROSS JOIN s)
      |SELECT doc_id, dl AS doc_len, score FROM sc
      |WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  // ── d42: reciprocal-rank fusion (hybrid lexical + dense retrieval) ─
  /** RRF (Cormack et al. 2009): fuse the BM25 ranking (d41's scorer)
    * with a dense cosine ranking (query = embedding 0, corpus joined
    * on doc_id = vec_id) as Σ 1/(60 + rank) over each retriever's
    * top-50 — the standard hybrid-retrieval step of a data-selection
    * pipeline. Ranks are integers with an id tiebreak, so fusion is
    * deterministic; the fused score is the same two-term expression on
    * both engines (no cross-row float summation).
    *
    * Scale shape: each retriever ends in a TakeOrderedAndProject
    * (top-50, never a global sort); ranks come from a window over the
    * 50 SURVIVORS, so the window's single partition is bounded by k,
    * not the corpus. Fusion is a full outer join of two ≤50-row sets —
    * driver-free, broadcastable, constant work regardless of corpus
    * size. */
  def d42_rrf_hybrid(s: SparkSession, d: String): DataFrame = {
    // lexical side: d41's BM25 scores, top-50, rank by (score desc, id)
    val lex = bm25Scored(s, d).limit(50)
      .withColumn("r_lex", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("r_lex"))
    // dense side: cosine vs embedding 0 over the rest of the corpus
    val emb = withNorm(embeddings(s, d))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_vec"), col("norm").as("q_norm"))
    val dense = emb.filter(col("vec_id") >= 1)
      .join(broadcast(q))
      .withColumn("cosine", expr("vec_dot(embedding, q_vec) / (norm * q_norm)"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(50)
      .withColumn("r_dense", row_number().over(
        Window.orderBy(col("cosine").desc, col("vec_id").asc)).cast("long"))
      .select(col("vec_id").as("doc_id"), col("r_dense"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60.0) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("r_dense")), lit(0.0)), 6))
      .select(col("doc_id"), coalesce(col("r_lex"), lit(0L)).as("r_lex"),
        coalesce(col("r_dense"), lit(0L)).as("r_dense"), col("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(20)
  }

  def d42OracleSql: String = {
    val bm25Top50 =
      d41OracleSql.replace("LIMIT 20", "LIMIT 50")
    s"""WITH lex0 AS ($bm25Top50),
       |lex AS (
       |  SELECT doc_id,
       |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS r_lex
       |  FROM lex0),
       |n AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
       |m AS (SELECT vec_id, vec, sqrt(list_inner_product(vec, vec)) AS norm FROM n),
       |q AS (SELECT vec AS q_vec, norm AS q_norm FROM m WHERE vec_id = 0),
       |dense0 AS (
       |  SELECT m.vec_id AS doc_id,
       |    list_inner_product(m.vec, q.q_vec) / (m.norm * q.q_norm) AS cosine
       |  FROM m CROSS JOIN q WHERE m.vec_id >= 1
       |  ORDER BY cosine DESC, m.vec_id ASC LIMIT 50),
       |dense AS (
       |  SELECT doc_id,
       |    ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id ASC) AS r_dense
       |  FROM dense0)
       |SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
       |  CAST(coalesce(lex.r_lex, 0) AS BIGINT) AS r_lex,
       |  CAST(coalesce(dense.r_dense, 0) AS BIGINT) AS r_dense,
       |  round(coalesce(1.0 / (60.0 + lex.r_lex), 0.0) +
       |        coalesce(1.0 / (60.0 + dense.r_dense), 0.0), 6) AS rrf
       |FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
       |ORDER BY rrf DESC, doc_id ASC LIMIT 20""".stripMargin
  }

  // ── d43: SemDeDup (cluster-scoped semantic dedup) ──────────────────
  /** SemDeDup (Abbas et al. 2023): assign every embedding to a coarse
    * cluster, compare pairs ONLY within a cluster, and drop any item
    * whose cosine to a LOWER-ID cluster-mate is ≥ τ — semantic
    * near-dup removal whose candidate volume is Σ cell², never
    * corpus². Cells reuse d16's deterministic coarse quantizer
    * (centroids = vec_id 8..23, broadcast; argmax is a map-side
    * max_by), so the DuckDB oracle rebuilds identical cells. Output is
    * one row per vector: its cell, the max cosine to a lower-id
    * cluster-mate (-1 when none), and the keep verdict. max() over
    * doubles is order-independent, so rounding after the aggregate is
    * engine-stable. Cells above `maxCellSize` sub-split before the
    * self-join ([[semDedupKeyed]]) so a degenerate quantizer cannot
    * go quadratic; the default cap is far above any real cell here,
    * so the gated output matches the uncapped oracle exactly. */
  def d43_semdedup(s: SparkSession, d: String): DataFrame =
    semDedup(embeddings(s, d), centLo = 8, centHi = 23, tau = 0.3,
      maxCellSize = 100000)

  /** Coarse cell assignment shared by [[semDedup]] and its spec:
    * argmax-cosine over broadcast centroids (vec_id ∈ [centLo,
    * centHi]), map-side max_by — zero shuffle before the groupBy. */
  private[graft] def semDedupAssign(embIn: DataFrame, centLo: Int,
      centHi: Int): DataFrame = {
    val emb = withNorm(embIn)
    val cent = emb.filter(col("vec_id").between(centLo, centHi))
      .select(col("vec_id").as("cid"), col("embedding").as("c_vec"), col("norm").as("c_norm"))
    emb.crossJoin(broadcast(cent))
      .withColumn("ccos", expr("vec_dot(embedding, c_vec)") / (col("norm") * col("c_norm")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cell"),
        first(col("embedding")).as("embedding"), first(col("norm")).as("norm"))
  }

  /** The occupancy guard (d35's playbook, applied to cells): cells
    * above `maxCellSize` SUB-SPLIT into ⌈n / maxCellSize⌉ hash
    * sub-cells, so the self-join key population — and with it the
    * per-key pair volume — is bounded by ~maxCellSize no matter how
    * degenerate the quantizer (one centroid attracting most of the
    * corpus would otherwise re-open the Σcell² quadratic path).
    * Comparisons then happen within sub-cells only — the standard
    * recall-for-boundedness trade every bucketed dedup here makes
    * (LSH bands, simhash chunks); SemDeDup is itself cluster-scoped
    * approximate, and an over-cap cell is a quantizer failure to fix
    * upstream (re-fit centroids), not a license to go quadratic.
    * The census is one count-by-cell broadcast back (tiny: ≤ one row
    * per centroid); under-cap cells keep sub = 0, so with no hot
    * cells the join keys — and the output — are IDENTICAL to the
    * uncapped plan. Audit what was capped with [[semDedupCapReport]]. */
  private[graft] def semDedupKeyed(assigned: DataFrame,
      maxCellSize: Int): DataFrame = {
    val hot = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxCellSize)
      .select(col("cell"), ceil(col("n") / lit(maxCellSize.toDouble)).cast("long").as("n_sub"))
    assigned.join(broadcast(hot), Seq("cell"), "left")
      .withColumn("sub",
        when(col("n_sub").isNull, lit(0L))
          .otherwise(pmod(xxhash64(col("vec_id")), col("n_sub"))))
      .drop("n_sub")
  }

  /** Operator-side audit of the guard: the over-cap cells with their
    * occupancy and sub-split fan-out — run it beside a capped
    * `semDedup` to see exactly which cells were sub-split (empty ⇒
    * the capped and uncapped outputs are identical). */
  def semDedupCapReport(embIn: DataFrame, centLo: Int, centHi: Int,
      maxCellSize: Int): DataFrame =
    semDedupAssign(embIn, centLo, centHi)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > maxCellSize)
      .withColumn("n_sub", ceil(col("n_members") / lit(maxCellSize.toDouble)).cast("long"))

  /** Core of d43 over any (vec_id, embedding) frame; see
    * [[d43_semdedup]] for semantics, [[semDedupKeyed]] for the
    * occupancy cap. */
  def semDedup(embIn: DataFrame, centLo: Int, centHi: Int, tau: Double,
      maxCellSize: Int): DataFrame = {
    // the cell assignment (centroid crossJoin + argmax groupBy over
    // the corpus) is consumed by the occupancy census, both self-join
    // sides, and the final verdict join — materialize the one pass
    // (d60 pattern); the keyed sub-split then rejoins only the tiny
    // broadcast hot-cell census per consumer
    val assigned = semDedupKeyed(
      semDedupAssign(embIn, centLo, centHi).localCheckpoint(), maxCellSize)
    val a = assigned.select(col("cell"), col("sub"), col("vec_id").as("a_id"),
      col("embedding").as("a_vec"), col("norm").as("a_norm"))
    val b = assigned.select(col("cell"), col("sub"), col("vec_id").as("b_id"),
      col("embedding").as("b_vec"), col("norm").as("b_norm"))
    // (cell, sub)-keyed self-join: shuffle ∝ capped occupancy; only
    // the lower-id side survives as a "kept" witness
    val dupCos = a.join(b, Seq("cell", "sub"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", expr("vec_dot(a_vec, b_vec) / (a_norm * b_norm)"))
      .groupBy(col("b_id").as("vec_id"))
      .agg(max(col("cos")).as("max_lower_cos"))
    assigned.select(col("vec_id"), col("cell"))
      .join(dupCos, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        round(coalesce(col("max_lower_cos"), lit(-1.0)), 6).as("max_lower_cosine"),
        (coalesce(col("max_lower_cos"), lit(-1.0)) < lit(tau)).as("keep"))
  }

  def d43OracleSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
       |m AS (SELECT vec_id, vec, sqrt(list_inner_product(vec, vec)) AS norm FROM n),
       |cent AS (SELECT vec_id AS cid, vec AS c_vec, norm AS c_norm FROM m WHERE vec_id BETWEEN 8 AND 23),
       |asg AS (
       |  SELECT vec_id, cell, vec, norm FROM (
       |    SELECT m.vec_id, cent.cid AS cell, m.vec, m.norm,
       |      ROW_NUMBER() OVER (PARTITION BY m.vec_id
       |        ORDER BY list_inner_product(m.vec, cent.c_vec) / (m.norm * cent.c_norm) DESC, cent.cid ASC) AS rn
       |    FROM m CROSS JOIN cent)
       |  WHERE rn = 1),
       |dup AS (
       |  SELECT b.vec_id, max(list_inner_product(a.vec, b.vec) / (a.norm * b.norm)) AS max_lower_cos
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  GROUP BY b.vec_id)
       |SELECT asg.vec_id, asg.cell,
       |  round(coalesce(dup.max_lower_cos, -1.0), 6) AS max_lower_cosine,
       |  coalesce(dup.max_lower_cos, -1.0) < 0.3 AS keep
       |FROM asg LEFT JOIN dup ON asg.vec_id = dup.vec_id""".stripMargin

  // ── d44: hashed-feature linear quality classifier ──────────────────
  /** fastText-style classifier INFERENCE at corpus scale: each token
    * hashes (xxhash64, seed 42 — Spark's builtin, bit-matched by the
    * generated DuckDB XXH64) to a weight in [-1001, 1001] via
    * `pmod(h, 2003) - 1001`; a doc's margin is the integer SUM of its
    * token weights, its score the margin normalized by token count.
    * Integer weights make the cross-row sum EXACT under any
    * partitioning/agg order — the float-parity discipline d41 uses for
    * expressions, extended to aggregation.
    *
    * Scale shape: zero shuffles — tokenize, hash, and sum run inside
    * one `aggregate(...)` higher-order expression per row (classifier
    * inference is embarrassingly parallel; a real weight table would
    * broadcast and the lookup stays map-side). */
  def d44_quality_classifier(s: SparkSession, d: String): DataFrame = {
    documents(s, d)
      .withColumn("toks",
        expr("word_ngrams(lower(text), 1)"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("margin", expr(
        "aggregate(toks, 0L, (acc, w) -> acc + (pmod(xxhash64(w), 2003L) - 1001L))"))
      .select(col("doc_id"), col("n_tokens"), col("margin"),
        round(col("margin") / (lit(1001.0) * greatest(col("n_tokens"), lit(1L))), 6)
          .as("score"),
        (col("margin") > 0L).as("keep"))
  }

  // ── d49: leakage-safe train/val/test split ─────────────────────────
  /** Group-aware corpus splitting — the leakage control every training
    * pipeline needs: near-duplicate documents must never straddle the
    * train/test boundary, or the model is evaluated on its own
    * training data. The split GROUP is the d18 near-dup component
    * (singletons group alone), and the assignment hashes the GROUP
    * key (xxh64 → 10 buckets: 8 train / 1 val / 1 test), so every
    * member of a component lands in the same split by construction.
    * Scale shape: d18's component labels (bucketed candidates, label
    * propagation ∝ edges) left-join the corpus once; assignment is a
    * map-side expression. */
  def d49_leakage_split(s: SparkSession, d: String): DataFrame = {
    val clusters = d18_dedup_clusters(s, d)
    val bucket = pmod(expr("xxhash64(group_key)"), lit(10L))
    documents(s, d).select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("group_key", coalesce(col("cluster_id"), col("doc_id")))
      .select(col("doc_id"), col("group_key"),
        when(bucket <= 7, "train").when(bucket === 8, "val").otherwise("test")
          .as("split"))
  }

  // ── d45: quantile sketch with an accuracy contract ─────────────────
  /** Corpus length quantiles two ways: the mergeable APPROX sketch
    * (`approx_percentile`, accuracy 10000 — the only shape that runs
    * at 100 TB: fixed-size state, one partial-agg pass, no sort) next
    * to the exact interpolated percentile as its verification
    * companion. Gated like q28's HLL contract: the EXACT values are
    * compared value-level, and the sketch is asserted against its
    * REAL guarantee — rank error ≤ n/accuracy — by checking the
    * returned value's rank window intersects the target rank (a value
    * bound would be wrong: on discrete data, adjacent ranks can be
    * arbitrarily far apart in value). Sketch internals differ across
    * engines; the contract doesn't. */
  def d45_length_quantiles(s: SparkSession, d: String): DataFrame = {
    val ps = Seq(0.5, 0.9, 0.99)
    val docs = documents(s, d).select(col("n_chars"))
    val agg = docs.agg(
      count(lit(1)).as("n_docs"),
      expr("percentile(n_chars, array(0.5D, 0.9D, 0.99D))").as("ex"),
      expr("approx_percentile(n_chars, array(0.5D, 0.9D, 0.99D), 10000)").as("ap"))
    // second pass: the sketch's guarantee is on RANK, not value — the
    // returned value's rank window [#{x < ap}+1, #{x <= ap}] must
    // intersect [p·n − err, p·n + err], err = n/accuracy (+1 slack for
    // the discrete-rank rounding). Integer counts, engine-stable.
    val aggCols = Seq(first(col("n_docs")).as("n_docs"), first(col("ex")).as("ex")) ++
      ps.indices.flatMap(i => Seq(
        sum((col("n_chars") <= expr(s"ap[$i]")).cast("long")).as(s"le$i"),
        sum((col("n_chars") < expr(s"ap[$i]")).cast("long")).as(s"lt$i")))
    val ranks = docs.crossJoin(broadcast(agg)).agg(aggCols.head, aggCols.tail: _*)
    val okCols = ps.zipWithIndex.map { case (p, i) =>
      val err = col("n_docs") / 10000.0 + 1.0
      val target = lit(p) * col("n_docs")
      (!(col(s"le$i") < target - err || col(s"lt$i") > target + err)).as(s"ok_p${(p * 100).toInt}")
    }
    ranks.select(
      (col("n_docs") +:
        round(expr("ex[0]"), 6).as("exact_p50") +:
        round(expr("ex[1]"), 6).as("exact_p90") +:
        round(expr("ex[2]"), 6).as("exact_p99") +: okCols): _*)
  }

  def d45OracleSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  round(quantile_cont(n_chars, 0.5), 6) AS exact_p50,
      |  round(quantile_cont(n_chars, 0.9), 6) AS exact_p90,
      |  round(quantile_cont(n_chars, 0.99), 6) AS exact_p99,
      |  TRUE AS ok_p50, TRUE AS ok_p90, TRUE AS ok_p99
      |FROM documents""".stripMargin

  // ── d46: blocked fuzzy join (edit-distance record linkage) ─────────
  /** Record linkage / fuzzy entity matching: candidate pairs come from
    * a cheap equality BLOCK (first 16 chars of the normalized key), so
    * the join is hash-keyed and the O(len²) Levenshtein DP runs only
    * within blocks — the classic blocking+verify shape (same
    * candidate-then-verify discipline as d03/d04), never corpus².
    * Key fields are CAPPED at 48 chars: edit distance on unbounded
    * documents is quadratic per pair; linkage compares bounded
    * name-like fields. `levenshtein` is the same DP on both engines,
    * so distances compare exactly. */
  def d46_fuzzy_join(s: SparkSession, d: String): DataFrame = {
    val n = documents(s, d).select(col("doc_id"),
      expr("substring(lower(text), 1, 48)").as("nm"),
      expr("substring(lower(text), 1, 16)").as("blk"))
    val a = n.select(col("blk"), col("doc_id").as("a_id"), col("nm").as("a_nm"))
    val b = n.select(col("blk"), col("doc_id").as("b_id"), col("nm").as("b_nm"))
    a.join(b, Seq("blk"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("dist", levenshtein(col("a_nm"), col("b_nm")).cast("long"))
      .filter(col("dist") <= 12)
      .select(col("a_id"), col("b_id"), col("dist"))
  }

  // ── d47: weighted sampling without replacement (A-Res) ─────────────
  /** Efraimidis–Spirakis weighted reservoir sampling, DETERMINISTIC:
    * u comes from xxh64(doc_id) folded into 2^20 buckets (never a
    * runtime RNG — re-runs, resumed jobs and the DuckDB oracle draw
    * the SAME sample), the key is −ln(u)/w with w = token count, and
    * the sample is the k smallest keys. This is the
    * quality/length-weighted corpus subsampling step of a
    * training-data pipeline ("sample 10 B tokens preferring long
    * docs") — at 100 TB the plan is exactly this one:
    * TakeOrderedAndProject keeps k rows per partition then merges, no
    * global sort, no shuffle of the corpus. Selection order compares
    * raw doubles (the d07/d41 discipline: identical expression on
    * both engines; output keys round to 6 dp). */
  def d47_weighted_sample(s: SparkSession, d: String): DataFrame = {
    documents(s, d)
      .withColumn("n_tokens", expr(
        "cast(size(word_ngrams(lower(text), 1)) as bigint)"))
      .filter(col("n_tokens") > 0)
      .withColumn("u",
        (pmod(expr("xxhash64(doc_id)"), lit(1048576L)) + 1) / 1048576.0)
      .withColumn("key", -log(col("u")) / col("n_tokens"))
      .orderBy(col("key").asc, col("doc_id").asc)
      .limit(100)
      .select(col("doc_id"), col("n_tokens"), round(col("key"), 6).as("sample_key"))
  }

  def d46OracleSql: String =
    """WITH n AS (
      |  SELECT doc_id, substr(lower(text), 1, 48) AS nm, substr(lower(text), 1, 16) AS blk
      |  FROM documents)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
      |FROM n a JOIN n b ON a.blk = b.blk AND a.doc_id < b.doc_id
      |WHERE levenshtein(a.nm, b.nm) <= 12""".stripMargin

  // ── d57: corpus-wide top-k n-gram census ──────────────────────────
  /** "What IS in my corpus" — the WIMBD-style global n-gram census:
    * the k most frequent word 3-grams corpus-wide, with exact counts
    * (memorization auditing, boilerplate discovery, filter-list
    * seeding). Two narrow passes instead of one wide one: pass 1
    * counts HASHES (8 bytes/span through the shuffle, map-side
    * combine collapses repeats before anything moves — the d37
    * discipline), a single-scalar driver read takes the k-th highest
    * count, and pass 2 re-scans only to recover the WINNING spans'
    * strings (left-semi against the broadcast winner-hash set, then a
    * count over that tiny survivor set). Ties at the boundary are
    * broken on the recovered STRING (count desc, span asc), so the
    * k-cut is total and cross-engine deterministic — which the
    * hash-only pass alone could not promise. At 100 TB: the string
    * census would shuffle ~50-byte keys; this ships 8-byte hashes
    * and touches strings only for ~k survivors. */
  def d57_ngram_topk(s: SparkSession, d: String, n: Int = 3, k: Int = 50): DataFrame = {
    // spans via the codegen word_ngrams kernel (one tokenizer sweep,
    // one allocation per span) — the HOF chain it replaced (filter ∘
    // split, then transform ∘ slice ∘ array_join) built two boxed
    // arrays per document and ran interpreted. Fed lower(text) so
    // unicode case folding stays Spark's own (kernel tokenization is
    // byte-exact vs the [^a-z0-9]+ regex).
    def spans = documents(s, d)
      .select(explode(expr(s"word_ngrams(lower(text), $n)")).as("span"))
    val hcensus = spans.select(xxhash64(col("span")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("cnt"))
    val kthRow = hcensus.select(col("cnt")).orderBy(col("cnt").desc).limit(k)
      .agg(min(col("cnt"))).collect()(0)
    val kth = if (kthRow.isNullAt(0)) 1L else kthRow.getLong(0)
    val winners = hcensus.filter(col("cnt") >= kth).select(col("h"))
    spans
      .join(broadcast(winners), xxhash64(col("span")) === col("h"), "left_semi")
      .groupBy(col("span")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("span")).limit(k)
  }

  def d57OracleSql: String =
    """WITH t AS (
      |  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |    w -> length(w) > 0) AS ws
      |  FROM documents),
      |w AS (
      |  SELECT unnest(CASE WHEN len(ws) < 3 THEN []
      |    ELSE list_transform(range(1, len(ws) - 1),
      |      i -> array_to_string(list_slice(ws, i, i + 2), ' ')) END) AS span
      |  FROM t)
      |SELECT span, CAST(count(*) AS BIGINT) AS cnt
      |FROM w GROUP BY span
      |ORDER BY cnt DESC, span LIMIT 50""".stripMargin

  // ── d62: heavy hitters via SpaceSaving, contract-gated ────────────
  /** The frequency-sketch completion of the sketch family (q28 HLL
    * distinct, d45 rank-error quantiles): corpus heavy hitters from a
    * SHUFFLE-FREE SpaceSaving pass — each partition keeps a 256-slot
    * counter table ([[graft.ops.SpaceSaving]]), emits ≤256 (term,
    * est, err) triples plus its eviction floor, and the merged
    * Σ-bounds bracket every true count: lb(t) = Σ(est−err) ≤ true(t)
    * ≤ Σ(present ? est : floor) = ub(t). The gate asserts that
    * contract against the exact top-10 (`lb_ok`/`ub_ok` must be
    * uniformly true) — the sketch's real guarantee, not a value bet;
    * the emitted terms/counts themselves come from the exact side, so
    * partition-order effects inside the sketch cannot move the
    * output.
    *
    * Scale shape — why this exists at 100 TB: the sketch side is one
    * mapPartitions with NO shuffle and output ≤ 257 rows × #partitions
    * regardless of corpus size (vs the exact side's vocabulary-wide
    * shuffle); floors ride a broadcast. On a real corpus you run the
    * sketch alone and only ever pay exact counting for the candidate
    * set it returns. */
  def d62_heavy_hitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = spreadIfNarrow(documents(s, d))
      .select(explode(expr(
        "word_ngrams(lower(text), 1)")).as("term"))
    val entries = toks.as[String].mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      val (es, floor) = graft.ops.SpaceSaving.summarize(it, 256)
      es.iterator.map { case (t, est, err) => (pid, t, est, err) } ++
        Iterator((pid, null.asInstanceOf[String], floor, -1L))
    }.toDF("pid", "term", "est", "err")
      .localCheckpoint() // one sketch pass feeds floors + per-term bounds
    val floors = entries.filter(col("term").isNull)
      .select(col("pid"), col("est").as("floor"))
    val bounds = entries.filter(col("term").isNotNull)
      .join(broadcast(floors), "pid")
      .groupBy(col("term"))
      .agg(sum(col("est")).as("pe"), sum(col("est") - col("err")).as("lb"),
        sum(col("floor")).as("pf"))
    val totalFloor = floors.agg(sum(col("floor")).as("tf"))
    // top-k as TakeOrderedAndProject (bounded, no global sort); the
    // rank window then runs over 10 rows, not the vocabulary
    val w = Window.orderBy(col("n").desc, col("term").asc)
    val top = toks.groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc).limit(10)
      .withColumn("rank", row_number().over(w).cast("long"))
    top.join(bounds, Seq("term"), "left").crossJoin(broadcast(totalFloor))
      .select(col("rank"), col("term"), col("n"),
        (coalesce(col("lb"), lit(0L)) <= col("n")).as("lb_ok"),
        (col("n") <= coalesce(col("pe"), lit(0L)) +
          (col("tf") - coalesce(col("pf"), lit(0L)))).as("ub_ok"))
  }

  /** Exact top-10 + the contract expectations (uniformly true). */
  def d62OracleSql: String =
    """WITH toks AS (
      |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      |    w -> length(w) > 0)) AS term
      |  FROM documents),
      |c AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY term)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term ASC) AS BIGINT) AS rank,
      |  term, n, true AS lb_ok, true AS ub_ok
      |FROM c ORDER BY n DESC, term ASC LIMIT 10""".stripMargin

  // ── d60: bigram-LM document scoring ───────────────────────────────
  /** One conditioning order up from d30 — the CCNet scoring shape
    * with a real conditional model: corpus-trained bigram MLE
    * P(w₂|w₁) = C(w₁w₂)/C(w₁·), per-doc mean log-prob (C(w₁·) is the
    * HISTORY count — bigrams starting with w₁ — so the conditional
    * properly normalizes; every doc bigram has corpus support ≥ 1 by
    * construction, no smoothing needed for MLE scoring). Shape: ONE
    * tokenize pass builds per-doc bigram tfs; the model is two
    * keyed censuses over that same tf relation (bigram counts,
    * history counts) joined back — train and score in one job, the
    * d30 discipline at bigram width. At 100 TB the bigram census is
    * the widest shuffle; map-side combine collapses repeats and the
    * key could drop to an 8-byte hash exactly as d37 — kept as
    * strings here since the score needs no string recovery either
    * way. */
  def d60_bigram_logprob(s: SparkSession, d: String): DataFrame = {
    // the per-doc bigram census is consumed THREE times (bigram-count
    // model, history-count model, and the scored join's probe side);
    // unmaterialized, each consumer re-ran the tokenize + bigram
    // explode + census over the corpus — 3 corpus passes for 1 scan's
    // worth of information (this was the d60 sf1 drift flagged in
    // round 11's verdict: plan fingerprint identical, cost 3x the
    // census). One eager localCheckpoint = one corpus pass; the model
    // censuses become re-aggs of the materialized (already collapsed)
    // tf relation.
    val tfb = spreadIfNarrow(documents(s, d))
      .withColumn("ws",
        expr("word_ngrams(lower(text), 1)"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, greatest(size(ws) - 1, 0)), i -> named_struct(" +
          "'w1', element_at(ws, i), " +
          "'bg', concat(element_at(ws, i), ' ', element_at(ws, i + 1))))")).as("s"))
      .select(col("doc_id"), col("s.w1").as("w1"), col("s.bg").as("bg"))
      .groupBy(col("doc_id"), col("w1"), col("bg")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val bgc = tfb.groupBy(col("bg")).agg(sum(col("tf")).as("cbg"))
    val hist = tfb.groupBy(col("w1")).agg(sum(col("tf")).as("cw"))
    tfb.join(bgc, "bg").join(hist, "w1")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        round(sum(col("tf") * log(col("cbg").cast("double") / col("cw")))
          / sum(col("tf")), 6).as("mean_bigram_lp"))
  }

  def d60OracleSql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |    w -> length(w) > 0) AS ws
      |  FROM documents),
      |bgs AS (
      |  SELECT doc_id, ws[CAST(i AS INT)] AS w1,
      |    ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)] AS bg
      |  FROM t CROSS JOIN UNNEST(range(1, len(ws))) AS u(i)),
      |tfb AS (SELECT doc_id, w1, bg, count(*) AS tf FROM bgs GROUP BY 1, 2, 3),
      |bgc AS (SELECT bg, sum(tf) AS cbg FROM tfb GROUP BY bg),
      |hist AS (SELECT w1, sum(tf) AS cw FROM tfb GROUP BY w1)
      |SELECT tfb.doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
      |  round(sum(tf * ln(CAST(cbg AS DOUBLE) / cw)) / sum(tf), 6) AS mean_bigram_lp
      |FROM tfb JOIN bgc USING (bg) JOIN hist USING (w1)
      |GROUP BY tfb.doc_id""".stripMargin

  // ── d61: per-source distribution drift (KL vs corpus) ─────────────
  /** Which sources are OFF-DISTRIBUTION — KL(source ‖ corpus) over
    * unigram term distributions, the mix-design drift diagnostic (a
    * source whose KL jumps between snapshots changed its content mix;
    * a high-KL source dominates fine-tuning loss out of proportion to
    * its token share). Terms absent from a source contribute zero
    * (the sum runs over the source's own support; corpus probability
    * is never zero there since corpus ⊇ source). Shape: one tokenize
    * pass → (source, term) census; corpus marginals are a term-keyed
    * re-agg of THAT census (never a second scan); output is
    * |sources| rows. */
  def d61_source_drift(s: SparkSession, d: String): DataFrame = {
    // the (source, term) census is consumed FOUR ways (corpus
    // marginals, per-source totals, the grand total via vocab, and
    // the KL join's probe side) — materialize the one tokenize pass
    // (d60 pattern); every marginal is then a re-agg of the census
    val stf = spreadIfNarrow(documents(s, d))
      .select(col("source"), explode(expr(
        "word_ngrams(lower(text), 1)")).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val vocab = stf.groupBy(col("term")).agg(sum(col("c")).as("cnt"))
    val stot = stf.groupBy(col("source")).agg(sum(col("c")).as("n_tokens"))
    val total = vocab.agg(sum(col("cnt")).as("n_total"))
    stf.join(vocab, "term").join(broadcast(stot), "source")
      .crossJoin(broadcast(total))
      .groupBy(col("source"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        round(sum((col("c").cast("double") / col("n_tokens")) *
          log((col("c").cast("double") / col("n_tokens")) /
            (col("cnt").cast("double") / col("n_total")))), 6).as("kl_vs_corpus"))
  }

  def d61OracleSql: String =
    """WITH toks AS (
      |  SELECT source, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |    w -> length(w) > 0)) AS term
      |  FROM documents),
      |stf AS (SELECT source, term, count(*) AS c FROM toks GROUP BY 1, 2),
      |vocab AS (SELECT term, sum(c) AS cnt FROM stf GROUP BY term),
      |stot AS (SELECT source, sum(c) AS n_tokens FROM stf GROUP BY source),
      |total AS (SELECT sum(cnt) AS n_total FROM vocab)
      |SELECT stf.source, CAST(max(stot.n_tokens) AS BIGINT) AS n_tokens,
      |  round(sum((CAST(c AS DOUBLE) / stot.n_tokens) *
      |    ln((CAST(c AS DOUBLE) / stot.n_tokens) /
      |        (CAST(cnt AS DOUBLE) / total.n_total))), 6) AS kl_vs_corpus
      |FROM stf JOIN vocab USING (term) JOIN stot USING (source) CROSS JOIN total
      |GROUP BY stf.source""".stripMargin

  // ── d59: product-quantization ANN (IVF's memory-side complement) ──
  /** PQ-ADC search (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011): split the 64-dim embedding into
    * m=4 16-dim subvectors, train an 8-centroid codebook per subspace
    * (init from vec_id<8's subvectors, one Lloyd round with the d27
    * recipe — 6-decimal centroid rounding for cross-engine-stable
    * float means), encode the corpus to 4 small codes, and answer
    * queries with ASYMMETRIC distance: a per-query 4×8 lookup table
    * of subspace L2² distances, summed per corpus code word.
    *
    * Scale shape — the point of PQ at 100 TB: the corpus compresses
    * to m log₂k bits per vector (here 4 codes ≈ 12 bits vs 256 bytes
    * raw), training assignments and the encode pass join the corpus
    * against a BROADCAST 32-row codebook (map-side argmin, never a
    * corpus shuffle), and search joins the code table against a
    * broadcast per-query LUT — one linear scan of codes per query
    * batch, no vector arithmetic in the hot loop. The ADC sum is an
    * explicitly ordered 4-term addition (pivot per subspace), so the
    * double result is partition-order-independent and matches the
    * oracle bit-for-bit. */
  def d59_pq_adc(s: SparkSession, d: String): DataFrame = {
    val emb = spreadIfNarrow(embeddings(s, d)).select(col("vec_id"), col("embedding"))
    val subIdx = s.range(0, 4).select(col("id").cast("int").as("sub"))
    def subvecs(df: DataFrame) = df.crossJoin(broadcast(subIdx))
      .withColumn("x", expr("slice(embedding, sub * 16 + 1, 16)"))
    val corpus = subvecs(emb.filter(col("vec_id") >= 8)).select(col("vec_id"), col("sub"), col("x"))
    val c0 = subvecs(emb.filter(col("vec_id") < 8))
      .select(col("sub"), col("vec_id").cast("int").as("cid"), col("x").as("c"))
    def l2(a: String, b: String) =
      expr(s"vec_dot($a, $a) + vec_dot($b, $b) - 2 * vec_dot($a, $b)")
    def assign(cent: DataFrame) = corpus.join(broadcast(cent), "sub")
      .withColumn("dist", l2("x", "c"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("cid"), struct(col("dist"), col("cid"))).as("code"),
        first(col("x")).as("x"))
    val c1 = assign(c0)
      .select(col("sub"), col("code").as("cell"), posexplode(col("x")).as(Seq("j", "xj")))
      .groupBy(col("sub"), col("cell"), col("j"))
      .agg(round(avg(col("xj")), 6).as("cj"))
      .groupBy(col("sub"), col("cell"))
      .agg(sort_array(collect_list(struct(col("j"), col("cj")))).as("jc"))
      .select(col("sub"), col("cell").as("cid"), expr("transform(jc, p -> p.cj)").as("c"))
    val codes = assign(c1).select(col("vec_id"), col("sub"), col("code"))
    val lut = subvecs(emb.filter(col("vec_id") < 4))
      .select(col("vec_id").as("query_id"), col("sub"), col("x").as("qx"))
      .join(broadcast(c1), "sub")
      .withColumn("qd", l2("qx", "c"))
      .select(col("query_id"), col("sub").as("ls"), col("cid"), col("qd"))
    def pick(i: Int) = max(when(col("sub") === i, col("qd")))
    val adc = codes.join(broadcast(lut),
        codes("sub") === lut("ls") && codes("code") === lut("cid"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(round(pick(0) + pick(1) + pick(2) + pick(3), 6).as("adc"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc").asc, col("vec_id").asc)
    adc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("adc"))
  }

  /** The same PQ train/encode/search in DuckDB: identical init,
    * argmin tiebreaks, 6-decimal centroid rounding, and the same
    * explicitly ordered 4-term ADC sum. */
  def d59OracleSql: String =
    s"""WITH m AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |sv AS (
       |  SELECT vec_id, s, array_slice(vec, s * 16 + 1, s * 16 + 16) AS x
       |  FROM m CROSS JOIN (SELECT unnest(range(4)) AS s)),
       |corpus AS (SELECT * FROM sv WHERE vec_id >= 8),
       |c0 AS (SELECT s, CAST(vec_id AS INT) AS cid, x AS c FROM sv WHERE vec_id < 8),
       |a1 AS (
       |  SELECT vec_id, s, cid AS code, x FROM (
       |    SELECT corpus.vec_id, corpus.s, c0.cid, corpus.x,
       |      ROW_NUMBER() OVER (PARTITION BY corpus.vec_id, corpus.s
       |        ORDER BY list_inner_product(corpus.x, corpus.x) + list_inner_product(c0.c, c0.c)
       |               - 2 * list_inner_product(corpus.x, c0.c) ASC, c0.cid ASC) AS rn
       |    FROM corpus JOIN c0 ON corpus.s = c0.s) WHERE rn = 1),
       |comps AS (
       |  SELECT s, code AS cell, j, round(avg(x[j]), 6) AS cj
       |  FROM a1 CROSS JOIN (SELECT unnest(range(1, 17)) AS j)
       |  GROUP BY s, cell, j),
       |c1 AS (SELECT s, cell AS cid, list(CAST(cj AS DOUBLE) ORDER BY j) AS c
       |  FROM comps GROUP BY s, cell),
       |codes AS (
       |  SELECT vec_id, s, cid AS code FROM (
       |    SELECT corpus.vec_id, corpus.s, c1.cid,
       |      ROW_NUMBER() OVER (PARTITION BY corpus.vec_id, corpus.s
       |        ORDER BY list_inner_product(corpus.x, corpus.x) + list_inner_product(c1.c, c1.c)
       |               - 2 * list_inner_product(corpus.x, c1.c) ASC, c1.cid ASC) AS rn
       |    FROM corpus JOIN c1 ON corpus.s = c1.s) WHERE rn = 1),
       |lut AS (
       |  SELECT sv.vec_id AS query_id, sv.s, c1.cid,
       |    list_inner_product(sv.x, sv.x) + list_inner_product(c1.c, c1.c)
       |      - 2 * list_inner_product(sv.x, c1.c) AS qd
       |  FROM sv JOIN c1 ON sv.s = c1.s WHERE sv.vec_id < 4),
       |adc AS (
       |  SELECT query_id, vec_id,
       |    round(max(CASE WHEN codes.s = 0 THEN qd END)
       |        + max(CASE WHEN codes.s = 1 THEN qd END)
       |        + max(CASE WHEN codes.s = 2 THEN qd END)
       |        + max(CASE WHEN codes.s = 3 THEN qd END), 6) AS adc
       |  FROM codes JOIN lut ON codes.s = lut.s AND codes.code = lut.cid
       |  GROUP BY query_id, vec_id)
       |SELECT query_id, rank, vec_id AS neighbor_id, adc FROM (
       |  SELECT query_id, vec_id, adc,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY adc ASC, vec_id ASC) AS BIGINT) AS rank
       |  FROM adc) WHERE rank <= 5""".stripMargin

  // ── d64: count-min sketch heavy users, exactly-oracled ────────────
  /** The fourth classic sketch beside q28's HLL, d45's quantile
    * sketch, and d62's SpaceSaving: a count-min sketch (d=4 rows ×
    * w=1024 buckets) over per-user event counts, its estimates gated
    * for the suite's heaviest users. The engine insight: CMS counters
    * are ORDER-INDEPENDENT SUMS — counter[i][b] = Σ cnt over keys
    * hashing to (i, b) — so unlike most sketches the whole structure
    * is an exact relational computation (one narrow groupBy of
    * 4·|users| 8-byte rows that map-side combine collapses to ≤ 4096
    * partials per partition: the fixed-size-state property falls out
    * of partial aggregation), and DuckDB can replay it VALUE-EXACTLY
    * from the generated XXH64 (`XxhOracle.d64Sql` — bucket =
    * unsigned % 1024, which equals Spark's pmod on the signed hash
    * because 1024 divides 2^64). The gate asserts per top-10 user:
    * est ≥ true (structural lower bound) and est − true ≤ 2N/w (the
    * ε=2/w overestimate bound, integer compare) — plus hash-exact
    * counter values, stronger than the usual probabilistic contract. */
  def d64_cms_heavy_users(s: SparkSession, d: String): DataFrame = {
    val w = 1024L
    val base = events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    val kb = base.select(col("user_id"),
        explode(expr("sequence(0L, 3L)")).as("i"))
      .withColumn("b", pmod(xxhash64(col("user_id") * 4 + col("i")), lit(w)))
    val counters = kb
      .join(base, "user_id")
      .groupBy(col("i"), col("b")).agg(sum(col("cnt")).as("c"))
    val tot = base.agg(sum(col("cnt")).as("n_total"))
    val top10 = base.orderBy(col("cnt").desc, col("user_id")).limit(10)
    top10.join(kb, "user_id")
      .join(counters, Seq("i", "b"))
      .groupBy(col("user_id"), col("cnt"))
      .agg(min(col("c")).as("est"))
      .crossJoin(broadcast(tot))
      .select(col("user_id"), col("cnt").as("true_cnt"), col("est"),
        (col("est") >= col("cnt")).as("lb_ok"),
        ((col("est") - col("cnt")) * lit(w / 2) <= col("n_total")).as("bound_ok"))
  }

  // ── d65: quality-classifier TRAINING (the d44 learning half) ──────
  /** Learn the hashed-linear-classifier weights in-engine — bounded
    * batch-perceptron rounds of keyed integer gradient aggregations,
    * then evaluate the learned model through the d44 margin shape.
    * Algorithm, constants, and the bit-exact DuckDB replay live in
    * [[graft.ops.ClassifierTrain]] / [[XxhOracle.d65Sql]]. */
  def d65_classifier_train(s: SparkSession, d: String): DataFrame =
    graft.ops.ClassifierTrain.train(s, documents(s, d))
}
