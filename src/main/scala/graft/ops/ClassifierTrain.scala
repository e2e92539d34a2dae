package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Quality-classifier TRAINING — the learning half of the d44
  * inference path (fastText-style hashed linear classifier, Joulin et
  * al. 2017 "Bag of Tricks for Efficient Text Classification"):
  * learn integer weights over hashed unigram features with a bounded
  * number of batch-perceptron rounds, entirely in-engine, then
  * evaluate the learned weights with the same margin expression d44
  * applies. Reference for the surrounding loop shape: the
  * `mbrainz-importer` batch pipeline's bounded-rounds discipline
  * (importer.clj:271-277's batch loop), re-expressed as keyed
  * aggregations.
  *
  * The TRAINING TARGET is a deterministic quality rule the harness
  * corpus can express: a document is "good" iff its stopword ratio
  * clears 1/K (K·cnt('the') ≥ n_tokens) — a rule that is exactly
  * LINEAR in the bag-of-words features (K·cnt_the − Σ_j cnt_j ≥ 0),
  * so a linear model can represent it and training has a real
  * optimum to find. A bias feature (slot j = D) makes the boundary
  * strictly separable (integer margins: the two classes sit at ≥ 0
  * and ≤ −1, so 2·rule + 1 separates with margin 1).
  *
  * Optimizer: batch perceptron with mistake-normalized integer
  * updates and a halving learning-rate schedule —
  * w_t = w_{t-1} + (Σ_{i∈mistakes} y_i·x_i · lr_t) div n_mistakes,
  * lr_t = LrScale >> (t−1). Plain lr=1 batch perceptron OSCILLATES
  * between basins (measured on the harness corpus: mistakes flip
  * 223↔277 forever); normalizing by the mistake count turns the step
  * into a scaled average gradient and halving damps the overshoot —
  * mistakes 500 → ~120 in 6 rounds on the same corpus. All
  * arithmetic is INTEGER (the d53/q87 discipline): sums are exact
  * under any partitioning/agg order, and both engines truncate
  * integral division toward zero (Spark `div`, DuckDB `//` —
  * verified −7/2 → −3 on both), so DuckDB replays the whole training
  * loop bit-exactly from the same parquet
  * ([[graft.queries.XxhOracle.d65Sql]] unrolls the rounds as CTEs).
  *
  * Scale shape (100 TB posture):
  *  - corpus-scale work is ONE tokenize + hash + (doc, feature)
  *    count aggregation — one shuffle ∝ corpus tokens, map-side
  *    combined — materialized once and re-scanned per round;
  *  - the model is BOUNDED by construction: D+1 = 1025 weight rows,
  *    broadcast to every margin/gradient pass (never shuffled);
  *  - each round is two keyed aggregations over the materialized
  *    feature table (margins by doc, gradient by feature) — never a
  *    collect of anything data-sized; rounds are fixed, so the total
  *    cost is one corpus pass + Rounds × 2 feature-table scans;
  *  - the mistake count and weight norms flow through 1-row
  *    aggregates cross-joined back in (no driver-side loop values).
  */
object ClassifierTrain {

  /** Hashed feature buckets; slot D is the bias feature. */
  val D = 1024
  /** Label rule: good iff K·cnt('the') ≥ n_tokens. 32 splits the
    * harness corpus ~45/55 — balanced enough that the learner must
    * actually separate, not predict the majority class. */
  val K = 32
  /** Training rounds (fixed — bounded cost; the oracle unrolls
    * exactly this many CTE stages). */
  val Rounds = 6
  /** Round-1 learning-rate scale; halves each round. */
  val LrScale = 1024L
  def lr(t: Int): Long = LrScale >> (t - 1)

  /** Train on `docs` (must have doc_id, text); returns one row per
    * round t = 1..Rounds — mistakes measured with w_{t−1}, weight
    * norms of w_t — plus a final row (round = Rounds+1) evaluating
    * the LEARNED weights through the d44 margin expression (the
    * train→infer round trip). Columns: round, n_mistakes, acc_bp,
    * w_l1, w_sum — all BIGINT, engine-exact. */
  def train(s: SparkSession, docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      expr("word_ngrams(lower(text), 1)").as("toks"))
    val labeled = toks.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        expr("aggregate(toks, 0L, (acc, t) -> acc + if(t = 'the', 1L, 0L))")
          .as("n_the"),
        col("toks"))
      .withColumn("y",
        when(lit(K.toLong) * col("n_the") >= col("n_tokens"), 1L).otherwise(-1L))
    // (doc, y, feature) counts + the bias feature — ONE corpus pass,
    // materialized once, re-scanned by every round
    val feats = labeled
      .select(col("doc_id"), col("y"), explode(col("toks")).as("tok"))
      .select(col("doc_id"), col("y"),
        pmod(xxhash64(col("tok")), lit(D.toLong)).as("j"))
      .groupBy(col("doc_id"), col("y"), col("j")).agg(count(lit(1)).as("cnt"))
      .unionByName(labeled.select(col("doc_id"), col("y"),
        lit(D.toLong).as("j"), lit(1L).as("cnt")))
      .localCheckpoint(false)
    val nDocs = math.max(docs.count(), 1L)

    def margins(w: DataFrame): DataFrame =
      feats.join(broadcast(w), Seq("j"), "left")
        .groupBy(col("doc_id"), col("y"))
        .agg(sum(col("cnt") * coalesce(col("w"), lit(0L))).as("margin"))
    def mistakeCount(m: DataFrame): DataFrame =
      m.agg(sum(when(col("y") * col("margin") <= 0, 1L).otherwise(0L))
        .cast("long").as("nm"))
    def wStats(w: DataFrame): DataFrame =
      w.agg(sum(abs(col("w"))).cast("long").as("w_l1"),
        sum(col("w")).cast("long").as("w_sum"))
    def statRow(t: Int, nm: DataFrame, ws: DataFrame): DataFrame =
      nm.crossJoin(broadcast(ws))
        .select(lit(t.toLong).as("round"), col("nm").as("n_mistakes"),
          expr(s"($nDocs - nm) * 10000 div $nDocs").as("acc_bp"),
          col("w_l1"), col("w_sum"))

    // w_0 = 0 over the full feature spine (bounded: D+1 rows)
    var w = s.range(D + 1).select(col("id").as("j"), lit(0L).as("w"))
      .localCheckpoint(true)
    val stats = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (t <- 1 to Rounds) {
      // ONE margins pass per round: the mistake doc set (≤ |docs|
      // rows of one long) and the 1-row mistake count derived from it
      // are lazily checkpointed, so the gradient's semi-join, the
      // weight update's divisor, and the stat row all reuse the same
      // executed margins DAG instead of re-running the broadcast join
      // + aggregation over feats three times — each round is exactly
      // two feature-table scans (margins, gradient)
      val mistakes = margins(w).filter(col("y") * col("margin") <= 0)
        .select(col("doc_id"))
        .localCheckpoint(false)
      // lazy too: the weight update's broadcast below is the first
      // consumer and materializes both caches — no extra job
      val nm = mistakes.agg(count(lit(1)).cast("long").as("nm"))
        .localCheckpoint(false)
      val grad = feats
        .join(mistakes, Seq("doc_id"), "left_semi")
        .groupBy(col("j")).agg(sum(col("y") * col("cnt")).as("g"))
      // eager checkpoint: the model is 1025 rows; materializing per
      // round keeps the plan flat instead of Rounds-deep
      w = w.join(grad, Seq("j"), "left")
        .crossJoin(broadcast(nm))
        .select(col("j"), (col("w") + when(col("nm") > 0,
            expr(s"(coalesce(g, 0L) * ${lr(t)}L) div nm")).otherwise(0L))
          .as("w"))
        .localCheckpoint(true)
      stats += statRow(t, nm, wStats(w))
    }
    // final eval: the learned weights through the inference margin
    stats += statRow(Rounds + 1, mistakeCount(margins(w)), wStats(w))
    stats.reduce(_ unionByName _)
  }
}
