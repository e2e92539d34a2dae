package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Parameterized library surface for the dedup / similarity cores
  * (the `graft.queries.Llm` harness entries are thin wrappers with
  * the defaults the oracle checks). All knobs that matter at scale
  * are explicit: band/row counts for MinHash-LSH, chunk count for
  * SimHash blocking, hyperplane count for ANN buckets.
  */
object Dedup {

  /** MinHash signatures + band hashes over `textCol` — the persistable
    * signature-table artifact. k = 32 components (fixed by the native
    * expression); bands × rowsPerBand must equal k. */
  def minhashSignatures(df: DataFrame, id: Column, textCol: Column,
      bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    require(bands * rowsPerBand == 32, "bands × rowsPerBand must equal 32")
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      .select(id.as("doc_id"), textCol.as("__text"))
      .select(col("doc_id"),
        expr("minhash_sig(__text)").as("minhash"),
        expr(s"lsh_bands(__text, $bands)").as("band_hashes"))
  }

  /** LSH candidate pairs with estimated Jaccard (see Llm.d03 for the
    * shuffle-shape rationale). The signature is computed once per doc
    * and the band keys derive from it (`lsh_bands_from_sig`) — no
    * second shingling pass. posexplode_outer, not posexplode: an inner
    * explode makes the optimizer infer a `size(...) > 0` filter that
    * pushes through the project as a full re-evaluation at the scan
    * (bands are never empty, so outer ≡ inner). */
  def lshCandidatePairs(df: DataFrame, id: Column, textCol: Column,
      bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    require(bands * rowsPerBand == 32, "bands × rowsPerBand must equal 32")
    val sig = df
      .repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      .select(id.as("doc_id"), textCol.as("__text"))
      .select(col("doc_id"), expr("minhash_sig(__text)").as("minhash"))
      .select(col("doc_id"), col("minhash"),
        posexplode_outer(expr(s"lsh_bands_from_sig(minhash, $bands)")).as(Seq("band", "bh")))
    sig.as("x").join(sig.as("y"),
      col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
        col("x.doc_id") < col("y.doc_id"))
      .withColumn("est_jaccard", round(
        expr("minhash_agree(x.minhash, y.minhash) / cast(32 as double)"), 6))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"), col("est_jaccard"))
      .distinct()
  }

  /** SimHash per document + hamming-blocked near-dup pairs: hamming ≤
    * maxHamming candidates must share one of `chunks` equal chunks
    * (pigeonhole — choose chunks > maxHamming·…/16 appropriately). */
  def simhashPairs(df: DataFrame, id: Column, textCol: Column,
      chunks: Int = 4, maxHamming: Int = 16): DataFrame = {
    val bits = 64 / chunks
    val sh = df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      .select(id.as("doc_id"), textCol.as("__text"))
      .select(col("doc_id"), expr("simhash64(__text)").as("simhash"))
      .select(col("doc_id"), col("simhash"),
        posexplode(expr(
          s"transform(sequence(0, ${chunks - 1}), c -> shiftright(simhash, c*$bits) & ${(1L << bits) - 1})"))
          .as(Seq("chunk_idx", "chunk")))
    sh.as("x").join(sh.as("y"),
      col("x.chunk_idx") === col("y.chunk_idx") && col("x.chunk") === col("y.chunk") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming")).distinct()
      .filter(col("hamming") <= maxHamming)
  }

  private def withNorm(df: DataFrame, vecCol: String, normName: String): DataFrame =
    df.withColumn(normName, expr(s"sqrt(vec_dot($vecCol, $vecCol))"))

  /** Shared IVF tail: probe each query's `nprobe` nearest cells, rank
    * top-k inside the probed cells. `assigned` = (vec_id, cell,
    * embedding, norm). Queries are a bounded set → the probe table
    * broadcasts; candidate volume is Σ(occupancy of probed cells). */
  private def ivfRank(assigned: DataFrame, queries: DataFrame, cent: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    def ccos = expr("vec_dot(embedding, c_vec)") / (col("norm") * col("c_norm"))
    val wp = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid").asc)
    val probes = withNorm(queries, "embedding", "norm")
      .crossJoin(broadcast(cent))
      .withColumn("ccos", ccos)
      .withColumn("pr", row_number().over(wp))
      .filter(col("pr") <= nprobe)
      .select(col("cid").as("cell"), col("vec_id").as("query_id"),
        col("embedding").as("q_vec"), col("norm").as("q_norm"))
    val scored = assigned.join(broadcast(probes), "cell")
      .withColumn("cosine", expr("vec_dot(embedding, q_vec) / (norm * q_norm)"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** IVF ANN: assign every corpus vector to its nearest centroid
    * (broadcast centroid table + map-side argmax), probe each query's
    * `nprobe` nearest cells, rank top-k inside the probed cells. The
    * centroid DataFrame needs (cid, embedding); at scale it comes
    * from k-means over a sample — everything downstream is agnostic
    * to how centroids were produced.
    *
    * CENTROID-COUNT BUDGET: assignment is an EXACT broadcast
    * crossJoin — |corpus| × |centroids| dot products with no early
    * pruning, all map-side (zero shuffle of the corpus). That is the
    * right trade up to a few thousand centroids (d·C multiply-adds
    * per vector ≈ the cost of reading the vector); for the
    * 10⁴–10⁵-cell tables a 100 TB corpus wants, use [[annIvfCoarse]],
    * which cuts assignment to ~2·√C dot products per vector via a
    * two-level quantizer at a small recall cost. */
  def annIvf(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    val cent = withNorm(centroids, "embedding", "c_norm")
      .select(col("cid"), col("embedding").as("c_vec"), col("c_norm"))
    def ccos = expr("vec_dot(embedding, c_vec)") / (col("norm") * col("c_norm"))
    val assigned = withNorm(corpus, "embedding", "norm")
      .crossJoin(broadcast(cent))
      .withColumn("ccos", ccos)
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cell"),
        first(col("embedding")).as("embedding"), first(col("norm")).as("norm"))
    ivfRank(assigned, queries, cent, nprobe, k)
  }

  /** [[annIvf]] with a TWO-LEVEL coarse quantizer for large centroid
    * tables (the IMI/IVF-HNSW-coarse idea, e.g. Baranchuk et al. 2018):
    * every `coarseEvery`-th centroid (by dense cid — deterministic)
    * forms a coarse table of ~C/coarseEvery entries; each centroid
    * joins its nearest coarse entry, and a corpus vector first picks
    * its coarse entry (~C/coarseEvery dots), then argmaxes only that
    * entry's member centroids (~coarseEvery dots on average) — per
    * vector ~C/coarseEvery + coarseEvery dot products instead of C,
    * minimized at coarseEvery ≈ √C. APPROXIMATE: the true nearest
    * centroid can live under a different coarse entry, the standard
    * IVF trade; `coarseEvery = 1` degenerates to exact assignment
    * (every centroid is its own coarse entry), which the spec pins
    * bit-for-bit against [[annIvf]]. Probing is unchanged (queries
    * are bounded; they rank the FULL centroid table). */
  def annIvfCoarse(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      nprobe: Int, k: Int, coarseEvery: Int): DataFrame = {
    require(coarseEvery >= 1, s"coarseEvery must be ≥ 1, got $coarseEvery")
    val cent = withNorm(centroids, "embedding", "c_norm")
      .select(col("cid"), col("embedding").as("c_vec"), col("c_norm"))
    val coarse = cent.filter(pmod(col("cid"), lit(coarseEvery)) === 0)
      .select(col("cid").as("g_cid"), col("c_vec").as("g_vec"), col("c_norm").as("g_norm"))
    // centroid → its nearest coarse entry (C × C/coarseEvery, tiny)
    val members = cent.crossJoin(broadcast(coarse))
      .withColumn("gcos",
        expr("vec_dot(c_vec, g_vec)") / (col("c_norm") * col("g_norm")))
      .groupBy(col("cid"))
      .agg(max_by(col("g_cid"), struct(col("gcos"), -col("g_cid"))).as("g_cid"),
        first(col("c_vec")).as("c_vec"), first(col("c_norm")).as("c_norm"))
    // level 1: coarse pick; level 2: argmax over that entry's members
    val gcos = expr("vec_dot(embedding, g_vec)") / (col("norm") * col("g_norm"))
    val assigned = withNorm(corpus, "embedding", "norm")
      .crossJoin(broadcast(coarse))
      .withColumn("gcos", gcos)
      .groupBy(col("vec_id"))
      .agg(max_by(col("g_cid"), struct(col("gcos"), -col("g_cid"))).as("g_cid"),
        first(col("embedding")).as("embedding"), first(col("norm")).as("norm"))
      .join(broadcast(members), "g_cid")
      .withColumn("ccos",
        expr("vec_dot(embedding, c_vec)") / (col("norm") * col("c_norm")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cell"),
        first(col("embedding")).as("embedding"), first(col("norm")).as("norm"))
    ivfRank(assigned, queries, cent, nprobe, k)
  }

  /** Exact top-k cosine neighbors for a bounded query set (compiled
    * `vec_dot`; float arrays stay the join currency). */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    def norm(df: DataFrame, prefix: String): DataFrame =
      df.withColumn(s"${prefix}norm", expr("sqrt(vec_dot(embedding, embedding))"))
    val c = norm(corpus, "c_").select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_vec"), col("c_norm"))
    val q = norm(queries, "q_").select(col("vec_id").as("query_id"),
      col("embedding").as("q_vec"), col("q_norm"))
    val scored = c.join(broadcast(q))
      .withColumn("cosine", expr("vec_dot(c_vec, q_vec) / (c_norm * q_norm)"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
  }
}
