package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables._

/** Corpus-curation operators: the cleaning passes a training-data
  * pipeline runs BEFORE the dedup/similarity family in `Llm` —
  * scrubbing, boilerplate detection, benchmark decontamination, and
  * deterministic sampling. All are expression-level (codegen'd, no
  * UDFs) and single-scan where the semantics allow.
  *
  * Scale notes per operator; the common theme matches `Llm`: corpus-
  * wide state (boilerplate grams, benchmark grams) is aggregated
  * small and broadcast back, so no operator shuffles the corpus more
  * than once.
  */
object Curate {

  // ── d19: PII / pattern scrubbing ───────────────────────────────────
  /** Regex scrub pass: emails and URLs (the standard PII patterns) plus
    * a wordlist token that actually occurs in the corpus, so the
    * replacement path is exercised end-to-end (the synthetic corpus
    * contains no real PII). One scan, all counting and redaction in a
    * single codegen'd projection — at 100 TB this is a map-only pass
    * with zero shuffle. Patterns are RE2-compatible so the DuckDB
    * oracle runs them verbatim. */
  // (?i): PII patterns must catch capitalized addresses too; RE2- and
  // Java-regex-compatible, so the oracle runs the same flags
  private val emailRe = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val urlRe = "(?i)https?://[^\\s]+"
  private val tokenRe = "(?i)\\bcustomer\\b"

  /** The scrub EXPRESSION — shared by `scrub`/d19/d24 and the composed
    * pipeline (d38), so the two can't drift. */
  def scrubExpr(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, lit(emailRe), lit("<EMAIL>")),
        lit(urlRe), lit("<URL>")),
      lit(tokenRe), lit("<TOK>"))

  /** The scrub itself, over any (doc_id, text) frame — fixture-testable. */
  def scrub(docs: DataFrame): DataFrame = {
    val scrubbed = scrubExpr(col("text"))
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).cast("long").as("n_email"),
      size(regexp_extract_all(col("text"), lit(urlRe), lit(0))).cast("long").as("n_url"),
      size(regexp_extract_all(col("text"), lit(tokenRe), lit(0))).cast("long").as("n_tok"),
      length(scrubbed).cast("long").as("clean_len"),
      md5(scrubbed).as("clean_hash"),
      scrubbed.as("scrubbed"))
  }

  def d19_pii_scrub(s: SparkSession, d: String): DataFrame =
    scrub(documents(s, d)).drop("scrubbed")

  /** d24: the scrub regexes under CROSS-ENGINE fire. The corpus holds
    * no real emails/URLs (d19 proves sums are 0), so d19 alone never
    * exercises the email/URL patterns against the DuckDB oracle. Here
    * every doc gets a deterministic synthetic email + URL appended —
    * mixed case, `+` tag, dotted local part, hyphenated domain,
    * uppercase scheme, query string, trailing sentence punctuation —
    * and BOTH engines build the identical string, so the hash-match
    * is a true Java-regex ↔ RE2 parity check on the PII patterns. */
  def d24_pii_fixture(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val injected = concat(
      col("text"),
      lit(" Contact John.Doe+"), col("doc_id").cast("string"),
      lit("@Example-Mail.COM or HTTPS://t.example.org/p/"),
      col("doc_id").cast("string"), lit("?q=1&r=2 now."))
    scrub(docs.select(col("doc_id"), injected.as("text"))).drop("scrubbed")
  }

  // ── d20: boilerplate gram detection + per-doc ratio ───────────────
  /** C4-style boilerplate pass at gram granularity (the corpus has no
    * line structure): a word-3-gram occurring in ≥ `minDocs` distinct
    * documents is "boilerplate"; each document reports how much of it
    * is boilerplate, in basis points (integer — a double ratio would
    * hang parity on float printing).
    *
    * Scale shape: one explode of per-doc DISTINCT grams (`ngram_set`,
    * native codegen), one groupBy(gram) count — shuffle ∝ corpus gram
    * volume — then the boilerplate set (small by construction: only
    * grams frequent across docs) broadcasts back onto the same gram
    * table. The corpus is never joined to itself. */
  def d20_boilerplate(s: SparkSession, d: String, minDocs: Int = 3): DataFrame = {
    val docs = documents(s, d)
    // (doc_id, gram) is already distinct (ngram_set de-dups per doc),
    // so count(*) per gram IS the distinct-doc count. The census is a
    // hash groupBy: partial aggregation combines map-side, so a hot
    // boilerplate gram present in most documents contributes one row
    // per map task to the shuffle — unlike a count-over-window on
    // gram, which forms one window partition per gram that a single
    // task must sort and stream, and which AQE's skew splitting
    // cannot divide. The corpus' most expensive expression (the
    // ngram_set explode) is evaluated once: `grams` is locally
    // checkpointed and feeds both the census and the probe. The
    // boilerplate set joins back unhinted — small by construction
    // (only grams frequent across docs), so AQE broadcasts it at
    // runtime; if on some corpus it isn't, the fallback is a
    // sort-merge join whose skewed partitions AQE CAN split. The docs
    // left join below only restores zero-gram documents.
    // hashed gram keys (the d37 discipline): the output carries
    // per-doc COUNTS only, so the census/join-back key can be the
    // gram's XXH64 — the ~25-byte gram strings stay out of the
    // checkpoint and both shuffles (a collision that could merge two
    // grams is ~1e-9 at this gram volume and the hash is
    // deterministic, so the oracle gate cannot flap on it)
    val grams = docs.select(col("doc_id"), explode(expr("ngram_set(text)")).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gram"))
      .localCheckpoint(false)
    val boiler = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("gram"), lit(1L).as("is_boiler"))
    val perDoc = grams.join(boiler, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("is_boiler"), lit(0L))).as("n_boiler"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, 0L)
          .otherwise(expr("coalesce(n_boiler, 0) * 10000 div n_grams"))
          .as("boiler_bp"))
  }

  // ── d21: benchmark decontamination ────────────────────────────────
  /** Test-set decontamination: documents from the designated benchmark
    * source (`src0` stands in for an eval set) contribute their
    * distinct word-3-grams; every OTHER document reports how many of
    * its grams collide with the benchmark set. Real pipelines use
    * 8–13-grams; the synthetic corpus' tiny vocabulary needs 3-grams
    * for any collisions to exist — the plan is n-independent.
    *
    * Scale shape: the benchmark gram set is aggregated (distinct) and
    * broadcast — eval sets are small by definition — so the corpus
    * side is one explode + broadcast-hash-join + per-doc count. */
  def d21_decontaminate(s: SparkSession, d: String, benchSource: String = "src0"): DataFrame = {
    val docs = documents(s, d)
    val grams = docs.select(col("doc_id"), col("source"),
      explode(expr("ngram_set(text)")).as("gram"))
    val bench = grams.filter(col("source") === benchSource).select(col("gram")).distinct()
    val hits = grams.filter(col("source") =!= benchSource)
      .join(broadcast(bench), "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contam"))
    docs.filter(col("source") =!= benchSource)
      .select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"),
        coalesce(col("n_contam"), lit(0L)).gt(0).cast("long").as("contaminated"))
  }

  // ── d48: sketch-based decontamination (bloom membership) ──────────
  /** d21's decontamination with the SKETCH the 100 TB job actually
    * ships: the benchmark gram set folds into Spark's own runtime-
    * filter bloom (one aggregation → ~50 KB binary), which is
    * collected and inlined as a PLAN LITERAL on the probe side — no
    * gram-set broadcast join, the probe is a codegen'd per-row
    * expression. Bloom bits differ across engines, so the gated
    * output is the CONTRACT (q28's discipline): exact contamination
    * counts value-compared, plus (a) no-false-negatives — the bloom
    * must flag every truly contaminated gram (a hard guarantee of
    * the structure, not a probability), and (b) a false-positive-rate
    * bound over clean docs. */
  def d48_bloom_decontaminate(s: SparkSession, d: String,
      benchSource: String = "src0"): DataFrame = {
    val docs = documents(s, d)
    val grams = docs.select(col("doc_id"), col("source"),
      explode(expr("ngram_set(text)")).as("gram"))
    val bench = grams.filter(col("source") === benchSource).select(col("gram")).distinct()
    val bfBytes = bench
      .agg(call_function("bloom_agg", expr("xxhash64(gram)"),
        lit(50000L), lit(400000L)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val corpus = grams.filter(col("source") =!= benchSource)
    // an EMPTY bench gram set yields a null sketch from bloom_agg;
    // lit(null) into bloom_might_contain fails analysis with an opaque
    // error, and the correct degradation is simply "no hits"
    val hit =
      if (bfBytes == null) lit(false)
      else call_function("bloom_might_contain", lit(bfBytes), expr("xxhash64(gram)"))
    val probed = corpus
      .withColumn("hit", hit)
      .groupBy(col("doc_id"))
      .agg(sum(col("hit").cast("long")).as("n_flagged"), count(lit(1)).as("n_grams"))
    val truth = corpus.join(broadcast(bench), "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_true"))
    probed.join(truth, Seq("doc_id"), "left")
      .withColumn("n_true", coalesce(col("n_true"), lit(0L)))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_true") > 0, 1L).otherwise(0L)).as("n_true_contam_docs"),
        min(col("n_flagged") >= col("n_true")).as("no_false_negatives"),
        (sum(when(col("n_true") === 0 && col("n_flagged") > 0, 1L).otherwise(0L)) <=
          count(lit(1)).cast("double") * 0.05).as("fp_docs_ok"))
  }

  def d48OracleSql: String =
    """WITH t AS (
      |  SELECT doc_id, source, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> length(w) > 0) AS ws
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, source,
      |    CASE WHEN len(ws) = 0 THEN []
      |         WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
      |         ELSE list_distinct(list_transform(range(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
      |    END AS grams FROM t),
      |e AS (SELECT doc_id, source, unnest(grams) AS gram FROM g),
      |bench AS (SELECT DISTINCT gram FROM e WHERE source = 'src0'),
      |truth AS (
      |  SELECT doc_id, count(*) AS n_true FROM e JOIN bench USING (gram)
      |  WHERE source <> 'src0' GROUP BY doc_id),
      |corp AS (SELECT DISTINCT doc_id FROM e WHERE source <> 'src0')
      |SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN coalesce(t.n_true, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_true_contam_docs,
      |  TRUE AS no_false_negatives, TRUE AS fp_docs_ok
      |FROM corp LEFT JOIN truth t USING (doc_id)""".stripMargin

  // ── d22: deterministic hash-stratified sampling ───────────────────
  /** Data-mixing sample: per-language keep rates applied by a
    * DETERMINISTIC hash bucket (md5 of the doc id + salt, mod 100) —
    * not `rand()`, so the sample is reproducible across runs, engines,
    * and repartitioning, and downstream incremental loads see a stable
    * subset. Map-only, zero shuffle; the bucket arithmetic is the
    * cross-engine-stable 60-bit prefix of md5 (`conv(hex,16,10)` here,
    * `('0x'||hex)::BIGINT` in the oracle). */
  def hashBucket(id: Column, salt: String, mod: Int): Column =
    pmod(conv(substring(md5(concat(id.cast("string"), lit(":" + salt))), 1, 15), 16, 10)
      .cast("long"), lit(mod.toLong))

  def d22_hash_sample(s: SparkSession, d: String): DataFrame = {
    val bucket = hashBucket(col("doc_id"), "graft", 100)
    documents(s, d)
      .withColumn("bucket", bucket)
      .withColumn("rate", when(col("lang") === "en", lit(30L)).otherwise(lit(10L)))
      .filter(col("bucket") < col("rate"))
      .select(col("doc_id"), col("lang"), col("bucket"))
  }

  // ── d26: source mixing under a token budget ───────────────────────
  /** Data-mixing pass: every source gets the same token budget; a
    * source over budget is down-sampled to rate_bp = budget/total
    * basis points, picked by the d22 deterministic hash bucket (mod
    * 10000) so the mix is reproducible across runs, engines, and
    * repartitioning. The per-source totals are ONE tiny aggregate
    * (rows = #sources) broadcast back onto the corpus — the corpus
    * itself is scanned twice but never shuffled; at 100 TB the totals
    * side is kilobytes. Output: the kept documents with their
    * source's rate (basis points). */
  def d26_source_mix(s: SparkSession, d: String, budgetTokens: Long = 800L,
      tokenizer: String = "ws"): DataFrame = {
    // the budget's unit is switchable: "ws" counts whitespace words
    // (the gated d26 default), "bpe" counts what a BPE tokenizer
    // would actually bill (`functions.Bpe` — the gated d50 entry);
    // both are single-pass codegen expressions, the pipeline shape
    // is identical
    val nTok = tokenizer match {
      case "ws" => when(length(trim(col("text"))) === 0, 0L)
        .otherwise(size(split(trim(col("text")), " +")).cast("long"))
      case "bpe" => call_function("bpe_count", col("text"))
      case other => throw new IllegalArgumentException(
        s"unknown tokenizer '$other' (want ws|bpe)")
    }
    val docs = documents(s, d).withColumn("n_tokens", nTok)
    val totals = docs.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("src_tokens"))
      .select(col("source"),
        least(lit(10000L), expr(s"$budgetTokens * 10000 div src_tokens")).as("rate_bp"))
    docs.join(broadcast(totals), "source")
      .filter(hashBucket(col("doc_id"), "mix", 10000) < col("rate_bp"))
      .select(col("doc_id"), col("source"), col("rate_bp"), col("n_tokens"))
  }

  /** Oracle for the BPE-budgeted mix (gated d50): d26's pipeline with
    * `n_tokens` replayed as the `functions.Bpe` replace-chain — the
    * state renders once in a CTE, the merge list comes from the SAME
    * Scala table the engine compiles, so the two sides cannot drift. */
  def d50OracleSql: String = {
    val st = graft.functions.Bpe.oracleStateExpr("text")
    s"""WITH b AS (
       |  SELECT doc_id, source, $st AS st FROM documents),
       |t AS (
       |  SELECT doc_id, source, ${graft.functions.Bpe.oracleCountExpr("st")} AS n_tokens
       |  FROM b),
       |r AS (
       |  SELECT source, least(10000, 4000 * 10000 // sum(n_tokens)) AS rate_bp
       |  FROM t GROUP BY source)
       |SELECT t.doc_id, t.source, CAST(r.rate_bp AS BIGINT) AS rate_bp,
       |  CAST(t.n_tokens AS BIGINT) AS n_tokens
       |FROM t JOIN r USING (source)
       |WHERE ('0x' || substr(md5(t.doc_id::VARCHAR || ':mix'), 1, 15))::BIGINT % 10000
       |      < r.rate_bp""".stripMargin
  }

  // ── d29: sequence packing (context-window assembly) ───────────────
  /** Training-batch assembly: documents concatenated in doc_id order
    * and chunked into fixed token-budget context windows (the
    * "concat-then-chunk" packing used for LLM pretraining). Each doc
    * lands in the pack where its first token falls: pack_id =
    * floor(start_offset / budget), start_offset from a GLOBAL running
    * token total.
    *
    * Scale shape: the running total is `GlobalIndex.withPrefixSum` —
    * range-partition + per-partition totals + broadcast offsets, NOT
    * an unpartitioned `sum() over (order by ...)` window (that is the
    * q10 single-partition trap). Everything after is a map-side-
    * partial groupBy on pack_id. */
  def d29_sequence_pack(s: SparkSession, d: String): DataFrame = {
    val budget = 2048L
    val toks = documents(s, d).select(col("doc_id"),
      when(length(trim(col("text"))) === 0, 0L)
        .otherwise(size(split(trim(col("text")), " +")).cast("long")).as("n_tokens"))
    graft.ops.GlobalIndex.withPrefixSum(toks, Seq(col("doc_id")), "n_tokens", "cum")
      .withColumn("pack_id", ((col("cum") - col("n_tokens")) / budget).cast("long"))
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
  }

  def d29OracleSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) END AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t)
      |SELECT CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS pack_id,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM c GROUP BY 1""".stripMargin

  // ── d32: sliding-window chunking (stride < size ⇒ overlap) ────────
  /** Context-window chunking: each document splits into fixed
    * 128-token windows advancing by a 96-token stride (32-token
    * overlap) — the RAG/pretraining chunking pass. Emits one row per
    * chunk with its token span; the last window clips at the doc
    * boundary and short docs yield exactly one chunk.
    *
    * Scale shape: chunk boundaries are pure per-row arithmetic — an
    * `explode(sequence(...))` over the chunk count, no shuffle at all
    * until a downstream consumer groups; the scan stays whole-stage
    * codegen. */
  def d32_chunking(s: SparkSession, d: String): DataFrame = {
    val size = 128L
    val stride = 96L
    documents(s, d)
      .select(col("doc_id"),
        when(length(trim(col("text"))) === 0, 0L)
          .otherwise(org.apache.spark.sql.functions.size(
            split(trim(col("text")), " +")).cast("long")).as("n_tokens"))
      .withColumn("n_chunks",
        when(col("n_tokens") <= size, lit(1L))
          .otherwise(ceil((col("n_tokens") - size).cast("double") / stride).cast("long") + 1L))
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * stride).as("start_tok"),
        least(col("chunk_idx") * stride + size, col("n_tokens")).as("end_tok"))
  }

  def d32OracleSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) END AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    CASE WHEN n_tokens <= 128 THEN 1
      |         ELSE CAST(ceil((n_tokens - 128) / 96.0) AS BIGINT) + 1 END AS n_chunks
      |  FROM t)
      |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
      |  CAST(i * 96 AS BIGINT) AS start_tok,
      |  CAST(least(i * 96 + 128, n_tokens) AS BIGINT) AS end_tok
      |FROM c CROSS JOIN UNNEST(range(0, n_chunks)) AS u(i)""".stripMargin

  // ── d39: temperature-scaled language mixing ───────────────────────
  /** Multilingual mixing with a sampling temperature (the XLM-R /
    * mC4 recipe): group shares are re-weighted ∝ tokens^(1/T) — here
    * T = 2, i.e. sqrt — so low-resource languages are up-weighted
    * relative to their raw share, then each group is down-sampled to its
    * re-weighted token budget by the d22 deterministic hash bucket.
    *
    * Cross-engine float discipline: sqrt of an integer-valued double
    * is IEEE-exact in both engines, but a float SUM across groups is
    * order-dependent — so the weight is quantized per group
    * (floor(sqrt(t)*1000) as BIGINT) BEFORE the normalization sum,
    * making every downstream number exact integer math.
    *
    * Scale shape: identical to d26 — one tiny per-group aggregate
    * (rows = #languages) broadcast back; the corpus never shuffles. */
  def d39_temperature_mix(s: SparkSession, d: String,
      budgetTokens: Long = 4000L): DataFrame =
    temperatureMix(documents(s, d), budgetTokens)

  /** DataFrame-level core of d39 (any (doc_id, text, lang) frame). */
  def temperatureMix(docs0: DataFrame, budgetTokens: Long): DataFrame = {
    val docs = docs0
      .withColumn("n_tokens",
        when(length(trim(col("text"))) === 0, 0L)
          .otherwise(size(split(trim(col("text")), " +")).cast("long")))
    val weights = docs.groupBy(col("lang"))
      .agg(sum(col("n_tokens")).as("t"))
      .withColumn("w", floor(sqrt(col("t").cast("double")) * 1000).cast("long"))
    // normalization sum S = Σ w over ~#languages rows: tiny, exact
    val total = weights.agg(sum(col("w")).as("w_total"))
    val rates = weights.crossJoin(total)
      .select(col("lang"), col("t"),
        least(lit(10000L),
          expr(s"(($budgetTokens * w) div w_total) * 10000 div t")).as("rate_bp"))
    docs.join(broadcast(rates.select(col("lang"), col("rate_bp"))), "lang")
      .filter(hashBucket(col("doc_id"), "temp", 10000) < col("rate_bp"))
      .select(col("doc_id"), col("lang"), col("rate_bp"), col("n_tokens"))
  }

  def d39OracleSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) END AS n_tokens
      |  FROM documents),
      |g AS (
      |  SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS tt,
      |    CAST(floor(sqrt(CAST(sum(n_tokens) AS DOUBLE)) * 1000) AS BIGINT) AS w
      |  FROM t GROUP BY lang),
      |n AS (SELECT CAST(sum(w) AS BIGINT) AS w_total FROM g),
      |r AS (
      |  SELECT g.lang,
      |    least(10000, ((4000 * g.w) // n.w_total) * 10000 // g.tt) AS rate_bp
      |  FROM g CROSS JOIN n)
      |SELECT t.doc_id, t.lang, CAST(r.rate_bp AS BIGINT) AS rate_bp, t.n_tokens
      |FROM t JOIN r USING (lang)
      |WHERE ('0x' || substr(md5(t.doc_id::VARCHAR || ':temp'), 1, 15))::BIGINT % 10000
      |      < r.rate_bp""".stripMargin

  // ── d40: containment-based decontamination ────────────────────────
  /** Fuzzy eval-set decontamination by gram CONTAINMENT — the metric
    * real decontam pipelines threshold on (|doc ∩ bench| / |doc|),
    * normalizing d21's raw hit count by document size so long
    * documents aren't over-flagged. Same scale shape as d21: the
    * benchmark gram set aggregates small and broadcasts; the corpus
    * explodes once, joins on the gram key, and rolls up per doc. */
  def d40_containment(s: SparkSession, d: String,
      benchSource: String = "src0", thresholdBp: Long = 2000L): DataFrame = {
    val docs = documents(s, d)
    val grams = docs.select(col("doc_id"), col("source"),
      explode(expr("ngram_set(text)")).as("gram"))
    val bench = grams.filter(col("source") === benchSource)
      .select(col("gram")).distinct()
    val perDoc = grams.filter(col("source") =!= benchSource)
      .join(broadcast(bench.withColumn("__hit", lit(1L))), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_contam"))
    docs.filter(col("source") =!= benchSource).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, 0L)
          .otherwise(expr("coalesce(n_contam, 0) * 10000 div n_grams"))
          .as("containment_bp"))
      .withColumn("flagged", (col("containment_bp") >= thresholdBp).cast("long"))
  }

  def d40OracleSql: String =
    """WITH t AS (
      |  SELECT doc_id, source, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> length(w) > 0) AS ws
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, source,
      |    CASE WHEN len(ws) = 0 THEN []
      |         WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
      |         ELSE list_distinct(list_transform(range(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
      |    END AS grams FROM t),
      |e AS (SELECT doc_id, source, unnest(grams) AS gram FROM g),
      |bench AS (SELECT DISTINCT gram FROM e WHERE source = 'src0'),
      |pd AS (
      |  SELECT e.doc_id, count(*) AS n_grams,
      |    CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contam
      |  FROM e LEFT JOIN bench b USING (gram)
      |  WHERE e.source <> 'src0' GROUP BY e.doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams,
      |  CAST(coalesce(pd.n_contam, 0) AS BIGINT) AS n_contam,
      |  CAST(CASE WHEN coalesce(pd.n_grams, 0) = 0 THEN 0
      |       ELSE coalesce(pd.n_contam, 0) * 10000 // pd.n_grams END AS BIGINT) AS containment_bp,
      |  CAST(CASE WHEN (CASE WHEN coalesce(pd.n_grams, 0) = 0 THEN 0
      |       ELSE coalesce(pd.n_contam, 0) * 10000 // pd.n_grams END) >= 2000
      |       THEN 1 ELSE 0 END AS BIGINT) AS flagged
      |FROM documents d LEFT JOIN pd USING (doc_id)
      |WHERE d.source <> 'src0'""".stripMargin

  // ── d23: corpus stats ("data card") ───────────────────────────────
  /** Per-(source, lang) corpus statistics: doc counts, token totals,
    * and the EXACT median document length — the mixing/reporting
    * numbers a dataset card publishes. One groupBy; the exact
    * percentile is fine because the cardinality of (source, lang) is
    * tiny — at 100 TB swap `percentile` for `approx_percentile` and
    * accept the sketch bound. Median ×10 as BIGINT: int medians can
    * land on .5, and integer output is comparator-stable. */
  def d23_corpus_stats(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("n_tokens",
        size(split(trim(col("text")), " +")).cast("long"))
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(length(trim(col("text"))) === 0, 0L).otherwise(col("n_tokens"))).as("total_tokens"),
        (expr("percentile(n_chars, 0.5)") * 10).cast("long").as("median_chars_x10"))

  // ── d36: deterministic shuffle-shard plan ─────────────────────────
  /** The OUTPUT stage of a training-data pipeline: after curation the
    * corpus is shuffled and written as N shards, and both the shard
    * assignment and the intra-shard order must be deterministic (so a
    * re-run, a resumed job, and another engine produce byte-identical
    * shards). shard = pmod(xxhash64(doc_id), 16); order within a
    * shard = the signed hash itself. This query emits the shard PLAN
    * — per-shard doc count and the first document in hash order —
    * which the writer would consume via
    * `repartition(N, shard).sortWithinPartitions(h)`; gating the plan
    * gates the layout. One scan + one tiny 16-row aggregate; the
    * corpus shuffles once, keyed on the shard id, exactly as the real
    * write would. Oracle: generated DuckDB XXH64 (XxhOracle.d36Sql) —
    * hash parity IS the determinism claim. */
  def d36_shard_plan(s: SparkSession, d: String): DataFrame = {
    val h = expr("xxhash64(doc_id)") // seed 42, same as the write path
    documents(s, d)
      .select(col("doc_id"), pmod(h, lit(16)).as("shard"), h.as("__h"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        min_by(col("doc_id"), col("__h")).as("first_doc"))
  }

  def d36OracleSql: String = graft.queries.XxhOracle.d36Sql

  // ── d33: Gopher-style quality rules ───────────────────────────────
  /** The classic hand-tuned quality gates (Gopher/C4 lineage): word
    * count bounds, mean word length, alphabetic-word ratio, stop-word
    * presence — the fast row-local filter pass that runs BEFORE any
    * model-based scoring and typically drops 10–30% of a web corpus.
    * One codegen'd projection, ZERO shuffle — at 100 TB this is a
    * map-only scan. Metrics surface as integers (×100 / basis points
    * via integer division) so the cross-engine hash is exact. */
  /** The gopher metric/rule columns APPENDED to the input (all input
    * columns survive) — the form the composed pipeline (d38) consumes,
    * where `text` must ride along into the scrub stage. `gopherRules`
    * keeps its original narrow projection on top of this. */
  def withGopherRules(docs: DataFrame): DataFrame = {
    val stops = array(
      Seq("the", "be", "to", "of", "and", "that", "have", "with").map(lit): _*)
    docs
      .withColumn("__w", expr("filter(split(text, '\\\\s+'), w -> length(w) > 0)"))
      .withColumn("n_words", size(col("__w")).cast("long"))
      .withColumn("__word_chars", expr("aggregate(__w, 0L, (a, w) -> a + length(w))"))
      .withColumn("n_alpha_words",
        size(expr("filter(__w, w -> regexp_like(w, '[A-Za-z]'))")).cast("long"))
      .withColumn("stop_hits",
        size(array_intersect(expr("transform(__w, w -> lower(w))"), stops)).cast("long"))
      .withColumn("mean_word_len_x100",
        when(col("n_words") === 0, 0L)
          .otherwise(expr("__word_chars * 100 div n_words")))
      .withColumn("alpha_bp",
        when(col("n_words") === 0, 0L)
          .otherwise(expr("n_alpha_words * 10000 div n_words")))
      .withColumn("r_word_count", col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn("r_mean_len",
        col("mean_word_len_x100") >= 300 && col("mean_word_len_x100") <= 1000)
      .withColumn("r_alpha", col("alpha_bp") >= 8000)
      .withColumn("r_stops", col("stop_hits") >= 2)
      .withColumn("pass",
        col("r_word_count") && col("r_mean_len") && col("r_alpha") && col("r_stops"))
      .drop("__w", "__word_chars")
  }

  def gopherRules(docs: DataFrame): DataFrame =
    withGopherRules(docs).select(
      col("doc_id"), col("n_words"), col("mean_word_len_x100"),
      col("alpha_bp"), col("stop_hits"),
      col("r_word_count"), col("r_mean_len"), col("r_alpha"), col("r_stops"),
      col("pass"))

  def d33_gopher_rules(s: SparkSession, d: String): DataFrame =
    gopherRules(documents(s, d))

  // ── d34: n-gram novelty scoring ───────────────────────────────────
  /** Incremental-contribution scoring: for each document, how many of
    * its distinct word-3-grams FIRST appear in this document (global
    * first occurrence = min doc_id) — the signal behind "process in
    * crawl order, drop dumps that add nothing new". Shape: one gram
    * explode, one groupBy(gram) min-owner aggregation, one join back
    * on the gram key — both shuffles keyed on gram, candidate volume
    * ∝ corpus gram count, never docs². Zero-gram docs score 10000 bp
    * (vacuously novel). */
  def d34_novelty(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val grams = docs.select(col("doc_id"), explode(expr("ngram_set(text)")).as("gram"))
    val firstOwner = grams.groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
    val perDoc = grams.join(firstOwner, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, 10000L)
          .otherwise(expr("coalesce(n_novel, 0) * 10000 div n_grams")).as("novelty_bp"))
  }

  // ── d38: the composed end-to-end curation pipeline ────────────────
  /** THE pipeline — every cleaning stage fused into ONE job over
    * `documents`, in production order:
    *   gopher rules (d33) → PII scrub (d19) → quality gate (d10's
    *   punctuation ratio) → exact dedup (d01) → source mix (d26) →
    *   sequence pack (d29) → shard plan (d36).
    * The reference's north star is transducer-style pipeline
    * composition (`importer.clj:286-291` chains the whole batcher as
    * one xform); this is the Spark form: each stage is a DataFrame
    * transformation, and Catalyst fuses the map-only prefix (gopher
    * metrics + scrub + quality ratio) into a SINGLE whole-stage-
    * codegen scan with ZERO shuffles before dedup.
    *
    * Shuffle budget (PlanSpec pins the count): dedup's hash-keyed
    * groupBy, the mix totals aggregate (tiny, broadcast back), the
    * pack stage's range partition, and the final shard aggregate —
    * the corpus is never joined to itself and no stage re-shuffles
    * what a prior stage already keyed.
    *
    * Two calibrations against the synthetic corpus, both documented
    * rather than silent: the stop-word rule gates at ≥1 hit (the
    * corpus' vocabulary peaks at 1 hit from the 8-word list — d33
    * still reports the classic ≥2 rule as annotation); and the
    * quality gate runs BEFORE dedup (identical copies have identical
    * scrubbed text, so gate-then-dedup keeps exactly the same set as
    * dedup-then-gate while letting the gate fuse into the map-only
    * scan stage). */
  /** Stages up to (and including) the source mix — the part of d38
    * whose physical plan is pinned by PlanSpec (the pack stage's
    * prefix sum crosses into an RDD, hiding upstream plan structure
    * from the final frame's executedPlan). */
  /** The curation pipeline's map-only prefix — gopher gate → PII scrub
    * → content hash → punct gate → token count — as ONE codegen stage
    * with no exchange. Pure Column expressions, so the same code runs
    * over a batch scan (d38) and a document STREAM
    * (`streaming.Streams.curateStream`): batch/stream parity is
    * structural, not re-implemented. */
  def curatePrefix(docs: DataFrame): DataFrame =
    withGopherRules(docs)
      .filter(col("r_word_count") && col("r_mean_len") && col("r_alpha") &&
        col("stop_hits") >= 1)
      .withColumn("scrubbed", scrubExpr(col("text")))
      .withColumn("clean_hash", md5(col("scrubbed")))
      .withColumn("clean_len", length(col("scrubbed")).cast("long"))
      .withColumn("n_punct", (length(col("scrubbed")) -
        length(regexp_replace(col("scrubbed"), "[\\p{Punct}]", ""))).cast("long"))
      .filter(expr("n_punct * 10000 div greatest(clean_len, 1)") <= 150)
      .withColumn("n_tokens",
        when(length(trim(col("scrubbed"))) === 0, 0L)
          .otherwise(size(split(trim(col("scrubbed")), " +")).cast("long")))
      .select(col("doc_id"), col("source"), col("clean_hash"), col("n_tokens"))

  private[graft] def d38Kept(s: SparkSession, d: String,
      budgetTokens: Long): DataFrame = {
    val gated = curatePrefix(documents(s, d))
    // exact dedup: one hash-keyed shuffle, min-doc_id canonical
    val deduped = gated.groupBy(col("clean_hash"))
      .agg(min_by(struct(col("doc_id"), col("source"), col("n_tokens")),
        col("doc_id")).as("s"))
      .select(col("s.*"))
    // source mix: per-source token totals (rows = #sources) broadcast back
    val totals = deduped.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("src_tokens"))
      .select(col("source"),
        least(lit(10000L), expr(s"$budgetTokens * 10000 div src_tokens")).as("rate_bp"))
    deduped.join(broadcast(totals), "source")
      .filter(hashBucket(col("doc_id"), "mix", 10000) < col("rate_bp"))
  }

  def d38_curation_pipeline(s: SparkSession, d: String,
      budgetTokens: Long = 500L): DataFrame = {
    val packBudget = 2048L
    val mixed = d38Kept(s, d, budgetTokens)
    // sequence pack: distributed prefix sum in doc_id order (d29 shape)
    val packed = graft.ops.GlobalIndex.withPrefixSum(
        mixed.select(col("doc_id"), col("n_tokens")),
        Seq(col("doc_id")), "n_tokens", "cum")
      .withColumn("pack_id",
        ((col("cum") - col("n_tokens")) / packBudget).cast("long"))
    // shard plan: deterministic xxh64(doc_id) layout of the final set
    val h = expr("xxhash64(doc_id)")
    packed
      .select(col("doc_id"), col("n_tokens"), col("pack_id"),
        pmod(h, lit(16)).as("shard"), h.as("__h"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        countDistinct(col("pack_id")).as("n_packs"),
        min_by(col("doc_id"), col("__h")).as("first_doc"))
  }

  /** The WRITE that d36/d38's shard plan gates: `n` parquet shards
    * with DETERMINISTIC membership (pmod(xxhash64(doc_id), n)) and
    * intra-shard order (the signed hash, tie-broken by doc_id) —
    * `repartition(n, shard)` + `sortWithinPartitions` exactly as the
    * plan queries document. A re-run, a resumed job, and another
    * engine produce the same rows in the same order per shard
    * (ShardWriteSpec proves re-run equality row-for-row); at 100 TB
    * this is the one corpus shuffle the output stage was always going
    * to pay, keyed on the shard id. Returns the shard directory. */
  def writeShards(docs: DataFrame, outDir: String, nShards: Int = 16): String = {
    val h = expr("xxhash64(doc_id)")
    docs
      .withColumn("shard", pmod(h, lit(nShards)))
      .withColumn("__h", h)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("__h"), col("doc_id"))
      .drop("__h")
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    outDir
  }

  /** d38 oracle: the same seven stages in DuckDB SQL; the shard stage's
    * xxh64 comes from the generated oracle (XxhOracle.d38Sql wraps the
    * `packed` CTE below). */
  def d38OracleSql: String = {
    val ctes =
      """gp AS (
        |  SELECT doc_id, source, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS ws
        |  FROM documents),
        |gm AS (
        |  SELECT doc_id, source, text,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(COALESCE(list_sum(list_transform(ws, x -> length(x))), 0) AS BIGINT) AS word_chars,
        |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
        |    CAST(len(list_intersect(list_transform(ws, x -> lower(x)),
        |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits
        |  FROM gp),
        |gk AS (
        |  SELECT doc_id, source, text FROM gm
        |  WHERE n_words BETWEEN 50 AND 100000
        |    AND (CASE WHEN n_words = 0 THEN 0 ELSE word_chars * 100 // n_words END) BETWEEN 300 AND 1000
        |    AND (CASE WHEN n_words = 0 THEN 0 ELSE n_alpha_words * 10000 // n_words END) >= 8000
        |    AND stop_hits >= 1),
        |sc AS (
        |  SELECT doc_id, source,
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |      '(?i)https?://[^\s]+', '<URL>', 'g'),
        |      '(?i)\bcustomer\b', '<TOK>', 'g') AS scrubbed
        |  FROM gk),
        |qm AS (
        |  SELECT doc_id, source, md5(scrubbed) AS clean_hash,
        |    CAST(length(scrubbed) AS BIGINT) AS clean_len,
        |    CAST(length(scrubbed) - length(regexp_replace(scrubbed, '[[:punct:]]', '', 'g')) AS BIGINT) AS n_punct,
        |    CASE WHEN length(trim(scrubbed)) = 0 THEN 0
        |         ELSE CAST(len(string_split_regex(trim(scrubbed), ' +')) AS BIGINT) END AS n_tokens
        |  FROM sc),
        |qk AS (SELECT * FROM qm WHERE n_punct * 10000 // greatest(clean_len, 1) <= 150),
        |dd AS (
        |  SELECT doc_id, source, n_tokens FROM (
        |    SELECT doc_id, source, n_tokens,
        |      ROW_NUMBER() OVER (PARTITION BY clean_hash ORDER BY doc_id) AS rn
        |    FROM qk) WHERE rn = 1),
        |tot AS (
        |  SELECT source, least(10000, 500 * 10000 // sum(n_tokens)) AS rate_bp
        |  FROM dd GROUP BY source),
        |mx AS (
        |  SELECT dd.doc_id, dd.n_tokens
        |  FROM dd JOIN tot USING (source)
        |  WHERE ('0x' || substr(md5(dd.doc_id::VARCHAR || ':mix'), 1, 15))::BIGINT % 10000 < tot.rate_bp),
        |packed AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(floor((SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048.0) AS BIGINT) AS pack_id
        |  FROM mx)""".stripMargin
    graft.queries.XxhOracle.d38Sql(ctes)
  }

  def d34OracleSql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> length(w) > 0) AS ws
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(ws) = 0 THEN []
      |         WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
      |         ELSE list_distinct(list_transform(range(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
      |    END AS grams FROM t),
      |e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
      |f AS (SELECT gram, min(doc_id) AS first_doc FROM e GROUP BY gram),
      |pd AS (
      |  SELECT e.doc_id, count(*) AS n_grams,
      |    CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      |  FROM e JOIN f USING (gram) GROUP BY e.doc_id)
      |SELECT d.doc_id, CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams,
      |  CAST(coalesce(pd.n_novel, 0) AS BIGINT) AS n_novel,
      |  CAST(CASE WHEN coalesce(pd.n_grams, 0) = 0 THEN 10000
      |       ELSE coalesce(pd.n_novel, 0) * 10000 // pd.n_grams END AS BIGINT) AS novelty_bp
      |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin

  // ── d51: DSIR-shaped importance resampling ────────────────────────
  /** Data Selection via Importance Resampling (Xie et al. 2023): score
    * raw-corpus documents by how target-like their hashed n-gram
    * features are, select the top-k. Features are hashed unigrams
    * (xxhash64 → 1024 buckets); the per-bucket importance weight is
    * the Laplace-smoothed target/raw count ratio in INTEGER basis
    * points — `((ct+1)·10000) div (cr+1)` — instead of the paper's
    * log-ratio: the d44/q28 float-parity discipline (a cross-engine
    * log + float sum is order- and libm-dependent; integer weights
    * make the per-doc sum EXACT under any partitioning). The pipeline
    * shape is the paper's: feature hashing, a tiny weight table
    * (≤1024 rows, broadcast), map-side scoring, bounded top-k.
    * Target = the benchmark-ish 'src0' slice (d48's convention); raw =
    * everything else. 100 TB shape: two bucket-keyed aggs over the
    * token stream (1024-row results), one broadcast join, one
    * doc-keyed agg, TakeOrderedAndProject — never a corpus shuffle. */
  def d51_dsir(s: SparkSession, d: String, k: Int = 25,
      targetSource: String = "src0"): DataFrame = {
    val toks = documents(s, d).select(col("doc_id"), col("source"),
        explode(expr("word_ngrams(lower(text), 1)")).as("w"))
      .withColumn("b", pmod(xxhash64(col("w")), lit(1024L)))
    val ct = toks.filter(col("source") === targetSource)
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val cr = toks.filter(col("source") =!= targetSource)
      .groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val wts = ct.join(cr, Seq("b"), "full_outer")
      .select(col("b"),
        expr("((coalesce(ct, 0) + 1) * 10000) div (coalesce(cr, 0) + 1)").as("wt"))
    toks.filter(col("source") =!= targetSource)
      .join(broadcast(wts), Seq("b"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("wt")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  // ── d52: tokenizer fertility per source ───────────────────────────
  /** Tokenizer-aware budgeting diagnostics: per source, how many BPE
    * tokens the corpus actually bills per whitespace word (fertility)
    * and per character — the numbers that decide whether a ws-token
    * budget under- or over-provisions a real tokenizer. Exact LONG
    * sums per source; the two ratios are single divisions of exact
    * longs (deterministic — no float accumulation). Map-only scan +
    * one tiny keyed agg. */
  def d52_fertility(s: SparkSession, d: String): DataFrame = {
    documents(s, d).select(col("source"),
        when(length(trim(col("text"))) === 0, 0L)
          .otherwise(size(split(trim(col("text")), " +")).cast("long")).as("ws"),
        call_function("bpe_count", col("text")).as("bpe"),
        length(col("text")).cast("long").as("chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("chars")).as("n_chars"))
      .select(col("source"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
        round(col("bpe_tokens") / greatest(col("ws_tokens"), lit(1L)), 6).as("fertility"),
        round(col("n_chars") / greatest(col("bpe_tokens"), lit(1L)), 6).as("chars_per_token"))
  }

  def d52OracleSql: String = {
    val st = graft.functions.Bpe.oracleStateExpr("text")
    s"""WITH b AS (
       |  SELECT doc_id, source, text, $st AS st FROM documents),
       |t AS (
       |  SELECT source,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(string_split_regex(trim(text), ' +')) END AS ws,
       |    ${graft.functions.Bpe.oracleCountExpr("st")} AS bpe,
       |    length(text) AS chars
       |  FROM b)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ws) AS BIGINT) AS ws_tokens,
       |  CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
       |  round(CAST(sum(bpe) AS BIGINT) / greatest(CAST(sum(ws) AS BIGINT), 1), 6) AS fertility,
       |  round(CAST(sum(chars) AS BIGINT) / greatest(CAST(sum(bpe) AS BIGINT), 1), 6) AS chars_per_token
       |FROM t GROUP BY source""".stripMargin
  }

  // ── d53: BPE tokenizer training ───────────────────────────────────
  /** Learn a BPE merge table from the corpus (iterated pair counting,
    * Sennrich et al. 2016 — see [[graft.ops.BpeTrain]] for the
    * distributed shape and the cross-engine exactness argument), then
    * apply the learned table back to the full corpus through the
    * codegen `bpe_count_learned` expression — the complete
    * train-then-tokenize round trip, gated end-to-end: the DuckDB
    * oracle replays all training rounds as unrolled CTEs and the
    * final tokenization as a replace chain on the round winners, so
    * rank, pair, count AND the corpus token total must all match
    * bit-for-bit. Output: one row per learned merge (rank order) with
    * the corpus total under the final table on every row. */
  def d53_bpe_train(s: SparkSession, d: String,
      rounds: Int = graft.ops.BpeTrain.DefaultRounds,
      vocabCap: Int = graft.ops.BpeTrain.DefaultVocabCap): DataFrame = {
    val docs = documents(s, d)
    val learned = graft.ops.BpeTrain.learnMerges(docs, "text", rounds, vocabCap)
    val spec = graft.ops.BpeTrain.mergeSpec(learned)
    val tot = docs.agg(
      sum(call_function("bpe_count_learned", col("text"), lit(spec)))
        .cast("long").as("corpus_tokens"))
    s.createDataFrame(learned)
      .select(col("rank"), col("pair"), col("merged"), col("cnt"))
      .crossJoin(tot)
  }

  def d33OracleSql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS ws
      |  FROM documents),
      |m AS (
      |  SELECT doc_id,
      |    CAST(len(ws) AS BIGINT) AS n_words,
      |    CAST(COALESCE(list_sum(list_transform(ws, x -> length(x))), 0) AS BIGINT) AS word_chars,
      |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
      |    CAST(len(list_intersect(list_transform(ws, x -> lower(x)),
      |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits
      |  FROM w),
      |r AS (
      |  SELECT doc_id, n_words,
      |    CAST(CASE WHEN n_words = 0 THEN 0 ELSE word_chars * 100 // n_words END AS BIGINT) AS mean_word_len_x100,
      |    CAST(CASE WHEN n_words = 0 THEN 0 ELSE n_alpha_words * 10000 // n_words END AS BIGINT) AS alpha_bp,
      |    stop_hits
      |  FROM m)
      |SELECT doc_id, n_words, mean_word_len_x100, alpha_bp, stop_hits,
      |  n_words BETWEEN 50 AND 100000 AS r_word_count,
      |  mean_word_len_x100 BETWEEN 300 AND 1000 AS r_mean_len,
      |  alpha_bp >= 8000 AS r_alpha,
      |  stop_hits >= 2 AS r_stops,
      |  (n_words BETWEEN 50 AND 100000) AND (mean_word_len_x100 BETWEEN 300 AND 1000)
      |    AND alpha_bp >= 8000 AND stop_hits >= 2 AS pass
      |FROM r""".stripMargin

  // ── d54: URL canonicalization + per-domain caps ───────────────────
  /** The crawl-curation front door: canonicalize noisy URLs, collapse
    * exact re-crawls of the same canonical page, and CAP pages per
    * registered domain (the "no single host dominates the corpus"
    * rule every web-scale pipeline applies). The testdata has no URL
    * column, so each doc gets a deterministic synthetic URL with the
    * real-world mess baked in — scheme-case/WWW variants, an explicit
    * `:443` default port, tracking (`utm_*`) params, and a trailing
    * slash before the query — and small path/ref moduli so re-crawl
    * collisions actually occur at test scale. Canonicalization is a
    * fixed normalization chain (lowercase → strip www. → strip :443 →
    * drop utm_* params → collapse `/?`), all codegen'd string/regex
    * ops the oracle replays verbatim; page identity is the canonical
    * URL, the representative is the smallest doc_id (deterministic),
    * and each domain keeps its top-`cap` pages by (quality =
    * max n_chars desc, rep doc_id asc). Scale shape: one groupBy on
    * canonical URL (map-side combine collapses re-crawls early),
    * skew-immune per-domain totals, and a TWO-PHASE bounded top-k for
    * the kept set (rank within (domain, input split) first, then
    * re-rank the bounded survivors) — shuffle keys are url/domain,
    * never corpus², and no single task ever owns a mega-domain. */
  def d54_url_dedup(s: SparkSession, d: String, cap: Int = 2): DataFrame =
    urlDedup(documents(s, d), cap)

  /** Core of d54 over any (doc_id, n_chars) frame — separated so the
    * partitioning-independence of the two-phase top-k is directly
    * testable (CurateSpec runs it under different input
    * partitionings and asserts identical output). */
  def urlDedup(docs: DataFrame, cap: Int): DataFrame = {
    val url = concat(
      when(col("doc_id") % 3 === 0, lit("HTTPS://WWW.")).otherwise(lit("https://")),
      lit("host"), (col("doc_id") % 7).cast("string"), lit(".example.com"),
      when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
      lit("/p/"), (col("doc_id") % 13).cast("string"),
      when(col("doc_id") % 2 === 0,
        concat(lit("/?utm_source=feed&utm_id="), (col("doc_id") % 5).cast("string"),
          lit("&ref="), (col("doc_id") % 3).cast("string")))
        .otherwise(concat(lit("?ref="), (col("doc_id") % 3).cast("string"))))
    val canon = expr(
      """replace(
        |  regexp_replace(
        |    replace(replace(lower(url), '://www.', '://'), ':443', ''),
        |    'utm_[a-z]+=[^&]*&', ''),
        |  '/?', '?')""".stripMargin)
    val pages = docs.select(col("doc_id"), col("n_chars"), url.as("url"))
      .withColumn("canon", canon)
      .withColumn("domain", regexp_extract(col("canon"), "^https://([^/:?]+)", 1))
      .groupBy(col("domain"), col("canon"))
      .agg(count(lit(1)).as("n_crawls"), min(col("doc_id")).as("rep_doc"),
        max(col("n_chars")).as("quality"))
      .localCheckpoint(false) // one canon collapse feeds totals + top-k
    // Per-domain totals need no rank — a plain partial-aggregated
    // groupBy, immune to domain skew.
    val totals = pages.groupBy(col("domain"))
      .agg(sum(col("n_crawls")).cast("long").as("n_urls"),
        count(lit(1)).as("n_pages"),
        max(col("quality")).cast("long").as("max_quality"))
    // TWO-PHASE top-k for the kept set: a crawl corpus is dominated by
    // a few mega-domains, and a single row_number window partitioned
    // on domain would hand one task the whole domain to sort (AQE
    // cannot split a window partition). Phase 1 ranks within each
    // (domain, physical input partition) — window partitions are
    // bounded by the input split, and any global top-cap page is
    // by definition within the top-cap of its slice — keeping at most
    // cap survivors per slice; phase 2 re-ranks the ≤ numPartitions ×
    // cap survivors per domain, a bounded set. The (quality desc,
    // rep_doc asc) order is total within a domain (rep_doc is a min
    // over disjoint doc sets), so the result is partitioning-
    // independent and the oracle gate cannot flap.
    val local = pages
      .withColumn("pid", spark_partition_id())
      .withColumn("rk1", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("domain"), col("pid"))
          .orderBy(col("quality").desc, col("rep_doc"))))
      .filter(col("rk1") <= cap)
    val kept = local.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("domain"))
          .orderBy(col("quality").desc, col("rep_doc"))))
      .filter(col("rk") <= cap)
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("rep_doc")).cast("long").as("kept_docs_sum"))
    totals.join(kept, Seq("domain")) // every domain has >= 1 kept page
      .select(col("domain"), col("n_urls"), col("n_pages"), col("n_kept"),
        col("kept_docs_sum"), col("max_quality"))
  }

  def d54OracleSql: String =
    """WITH u AS (
      |  SELECT doc_id, n_chars,
      |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.' ELSE 'https://' END)
      |    || 'host' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
      |    || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
      |    || '/p/' || CAST(doc_id % 13 AS VARCHAR)
      |    || (CASE WHEN doc_id % 2 = 0
      |          THEN '/?utm_source=feed&utm_id=' || CAST(doc_id % 5 AS VARCHAR)
      |               || '&ref=' || CAST(doc_id % 3 AS VARCHAR)
      |          ELSE '?ref=' || CAST(doc_id % 3 AS VARCHAR) END) AS url
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_chars,
      |    replace(
      |      regexp_replace(
      |        replace(replace(lower(url), '://www.', '://'), ':443', ''),
      |        'utm_[a-z]+=[^&]*&', '', 'g'),
      |      '/?', '?') AS canon
      |  FROM u),
      |pages AS (
      |  SELECT regexp_extract(canon, '^https://([^/:?]+)', 1) AS domain, canon,
      |    count(*) AS n_crawls, min(doc_id) AS rep_doc, max(n_chars) AS quality
      |  FROM c GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY domain
      |    ORDER BY quality DESC, rep_doc) AS rk FROM pages)
      |SELECT domain, CAST(sum(n_crawls) AS BIGINT) AS n_urls,
      |  CAST(count(*) AS BIGINT) AS n_pages,
      |  CAST(sum(CASE WHEN rk <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN rk <= 2 THEN rep_doc ELSE 0 END) AS BIGINT) AS kept_docs_sum,
      |  CAST(max(quality) AS BIGINT) AS max_quality
      |FROM ranked GROUP BY domain""".stripMargin

  // ── d55: CCNet-style perplexity bucketing ─────────────────────────
  /** CCNet's quality tiering: score every document under a corpus
    * language model, then split each language into HEAD / MIDDLE /
    * TAIL terciles by score — downstream mixes oversample head,
    * drop or downweight tail. The LM here is the d30 unigram model
    * (tf-keyed joins against a broadcast-size vocabulary — the same
    * no-corpus-self-join shape; a KenLM slots in where the unigram
    * probability lookup sits). Tercile assignment is ntile(3) per
    * language ordered by (rounded score desc, doc_id) — rounding
    * first makes the order cross-engine total, so the bucket
    * BOUNDARY itself is deterministic and the oracle can replay it.
    * Output is per source × tier occupancy (doc count, chars, token
    * mass) — the table a mix designer reads. Scale: the only wide
    * ops are term-keyed aggs and one per-language window over doc
    * SCORES (1 row/doc, not tokens); at 100 TB the window becomes a
    * per-language range partition — still rows ∝ docs. */
  def d55_ccnet_buckets(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("score").desc, col("doc_id"))
    val scored = Llm.d30_unigram_logprob(s, d)
      .withColumnRenamed("mean_logprob", "score")
      .join(documents(s, d).select(col("doc_id"), col("lang"), col("source"),
        col("n_chars")), "doc_id")
    scored.withColumn("tier",
        element_at(array(lit("head"), lit("middle"), lit("tail")), ntile(3).over(w)))
      .groupBy(col("source"), col("tier"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        sum(col("n_tokens")).cast("long").as("sum_tokens"))
  }

  def d55OracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
       |    w -> length(w) > 0)) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
       |vocab AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY term),
       |total AS (SELECT sum(cnt) AS n_total FROM vocab),
       |scored AS (
       |  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
       |    round(sum(tf.tf * ln(CAST(vocab.cnt AS DOUBLE) / total.n_total))
       |          / sum(tf.tf), 6) AS score
       |  FROM tf JOIN vocab USING (term) CROSS JOIN total
       |  GROUP BY tf.doc_id),
       |tiers AS (
       |  SELECT s.doc_id, d.lang, d.source, d.n_chars, s.n_tokens,
       |    ['head', 'middle', 'tail'][NTILE(3) OVER (
       |      PARTITION BY d.lang ORDER BY s.score DESC, s.doc_id)] AS tier
       |  FROM scored s JOIN documents d ON d.doc_id = s.doc_id)
       |SELECT source, tier, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |FROM tiers GROUP BY source, tier""".stripMargin

  // ── d56: character-entropy filter ─────────────────────────────────
  /** Shannon entropy over each document's CHARACTER distribution —
    * the classic low-information filter (catches key-mash, repeated
    * padding, base64 blobs, single-char floods that length/stopword
    * heuristics miss). Zero-shuffle by construction: the histogram
    * is never materialized as rows — `char_stats` (a native codegen
    * expression, `functions/HashExprs.scala`) sweeps the text's code
    * points into a flat histogram and accumulates the
    * (cnt/n)·−log2(cnt/n) terms in ASCENDING code-point order — the
    * same summation order as the sorted-run `aggregate` formulation
    * it replaced (bit-identical float result — the sf1 gate
    * re-verified the hash over 50k rows after the swap), but O(len)
    * with zero boxing instead of O(len·log len) with one string per
    * char (measured: 12.0 → 0.34 s at sf1; the naive
    * per-distinct-char `filter` rescan this lineage started from was
    * 268 s). Map-only;
    * the explode→groupBy(doc, char) alternative would shuffle one
    * row PER CHARACTER of the corpus. Entropy is rounded to 6 dp
    * before the keep-verdict so the threshold compare is on a
    * cross-engine-stable value (the d55 discipline). */
  def d56_char_entropy(s: SparkSession, d: String): DataFrame = {
    documents(s, d)
      .withColumn("st", expr("char_stats(text)"))
      .select(col("doc_id"), col("st.n").as("n_chars_counted"),
        col("st.k").as("n_distinct_chars"),
        round(col("st.entropy"), 6).as("entropy"),
        (round(col("st.entropy"), 6) >= 3.0).as("keep"))
  }

  def d56OracleSql: String =
    """WITH ch AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ''), c -> c <> '')) AS c
      |  FROM documents),
      |hist AS (SELECT doc_id, c, count(*)::DOUBLE AS cnt FROM ch GROUP BY 1, 2),
      |tot AS (SELECT doc_id, sum(cnt) AS n, count(*) AS k FROM hist GROUP BY 1),
      |ent AS (
      |  SELECT h.doc_id, round(sum((h.cnt / t.n) * -log2(h.cnt / t.n)), 6) AS entropy
      |  FROM hist h JOIN tot t USING (doc_id) GROUP BY h.doc_id)
      |SELECT d.doc_id, CAST(coalesce(t.n, 0) AS BIGINT) AS n_chars_counted,
      |  CAST(coalesce(t.k, 0) AS BIGINT) AS n_distinct_chars,
      |  coalesce(e.entropy, 0.0) AS entropy,
      |  coalesce(e.entropy, 0.0) >= 3.0 AS keep
      |FROM documents d LEFT JOIN tot t USING (doc_id)
      |  LEFT JOIN ent e USING (doc_id)""".stripMargin

  // ── d58: cross-source overlap matrix ──────────────────────────────
  /** Which SOURCES share content with which — the mix-design /
    * contamination diagnostic (a crawl snapshot that substantially
    * overlaps a curated set should be downweighted, and benchmark
    * sets leaking into a crawl show up as an unexpected pair). Key =
    * the document's 8-token normalized PREFIX fingerprint (the d35
    * key: near-dup-tolerant — trailing edits don't escape it —
    * while exact-text overlap at small SF is empty). Shape: distinct
    * (source, key) pairs collapse scan-side duplicates, one groupBy
    * on the key gathers the set of sources carrying it (sources are
    * few — the set is bounded by |sources|, not docs), unordered
    * pairs unfold from the sorted set, and a final tiny agg counts
    * keys per pair. Shuffles move (source, 8-byte key-hash) — at
    * 100 TB the key census is the same narrow shape d01/d35 scale
    * on; nothing ever joins the corpus to itself. */
  def d58_source_overlap(s: SparkSession, d: String): DataFrame = {
    val key = expr("array_join(slice(word_ngrams(lower(text), 1), 1, 8), ' ')")
    val sh = documents(s, d)
      .select(col("source"), xxhash64(key).as("h")).distinct()
    sh.groupBy(col("h"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
      .select(explode(expr(
        "flatten(transform(srcs, (a, i) -> " +
          "transform(slice(srcs, i + 2, size(srcs)), b -> struct(a, b))))")).as("p"))
      .select(col("p.a").as("src_a"), col("p.b").as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  def d58OracleSql: String =
    """WITH k AS (
      |  SELECT DISTINCT source,
      |    array_to_string(list_slice(list_filter(
      |      string_split_regex(lower(text), '[^a-z0-9]+'),
      |      w -> length(w) > 0), 1, 8), ' ') AS pk
      |  FROM documents)
      |SELECT a.source AS src_a, b.source AS src_b,
      |  CAST(count(*) AS BIGINT) AS n_shared
      |FROM k a JOIN k b ON a.pk = b.pk AND a.source < b.source
      |GROUP BY 1, 2""".stripMargin

  // ── d63: multi-pattern blocklist sweep (Aho–Corasick) ──────────────
  /** Blocklist filtering — count occurrences of every blocklist phrase
    * per document, then a density verdict. The scan is ONE
    * Aho–Corasick automaton pass per document (`ac_counts`, a native
    * codegen expression): O(len) in the text and INDEPENDENT of the
    * pattern count, vs the expression-level alternative (a replace()
    * or regexp_count per pattern) that rescans the corpus once per
    * pattern — production blocklists run to thousands of terms, where
    * O(len × P) is the difference between one pass over 100 TB and
    * thousands. Map-only, zero shuffle; the verdict compares integer
    * products (`n_hits·1000 < n_chars·2`, i.e. < 2 hits per 1000
    * chars) so no float crosses the engine boundary. The oracle
    * replays each pattern's non-overlapping count with the
    * replace()-length identity — equal to AC end-position counts
    * because every pattern is border-free (asserted at automaton
    * build; see [[graft.functions.AhoCorasick.Blocklist]]). The SQL
    * is GENERATED from the same Scala pattern table the expression
    * compiles, so the two sides cannot drift (the d50 discipline). */
  def d63_blocklist(s: SparkSession, d: String): DataFrame = {
    documents(s, d)
      .withColumn("c", expr("ac_counts(text)"))
      .select(col("doc_id"), col("source"),
        expr("aggregate(c, 0L, (a, x) -> a + x)").as("n_hits"),
        expr("cast(size(filter(c, x -> x > 0)) as bigint)").as("n_patterns_hit"),
        (expr("aggregate(c, 0L, (a, x) -> a + x)") * 1000 <
          col("n_chars") * 2).as("keep"))
  }

  def d63OracleSql: String = {
    val occs = graft.functions.AhoCorasick.Blocklist.zipWithIndex.map {
      case (p, i) =>
        s"(length(text) - length(replace(text, '$p', ''))) // ${p.length} AS o$i"
    }.mkString(",\n    ")
    val ids = graft.functions.AhoCorasick.Blocklist.indices
    s"""WITH occ AS (
       |  SELECT doc_id, source, n_chars,
       |    $occs
       |  FROM documents)
       |SELECT doc_id, source,
       |  CAST(${ids.map(i => s"o$i").mkString(" + ")} AS BIGINT) AS n_hits,
       |  CAST(${ids.map(i => s"(o$i > 0)::int").mkString(" + ")} AS BIGINT)
       |    AS n_patterns_hit,
       |  (${ids.map(i => s"o$i").mkString(" + ")}) * 1000 < n_chars * 2 AS keep
       |FROM occ""".stripMargin
  }
}
