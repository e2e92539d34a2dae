package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Validation stage (reference `validate` transducer,
  * `src/cognitect/xform/transducers.clj:11-21`, and error-as-data
  * anomaly maps, `src/cognitect/xform/async_edn.clj:16-22`).
  *
  * The reference halts on the first invalid record; at 100 TB the
  * right default is a single pass that annotates each row with its
  * violated rules and routes invalid rows to a quarantine side-channel
  * while valid rows flow on — with a fail-fast toggle for the
  * reference's semantics.
  */
object Validate {

  /** checks: rule name → predicate that is TRUE when the rule is
    * VIOLATED. Returns the input plus an `errors: array<string>`
    * column (empty = valid). One projection, no shuffle. */
  def annotate(df: DataFrame, checks: Seq[(String, Column)]): DataFrame =
    df.withColumn("errors",
      array_compact(array(checks.map { case (name, bad) =>
        when(bad, lit(name)) }: _*)))

  /** (valid rows without `errors`, quarantined rows with reasons). */
  def quarantine(df: DataFrame, checks: Seq[(String, Column)]): (DataFrame, DataFrame) = {
    val annotated = annotate(df, checks)
    (annotated.filter(size(col("errors")) === 0).drop("errors"),
      annotated.filter(size(col("errors")) > 0))
  }

  /** Datomic `:db/ensure` (entity specs): tx-TIME validation with
    * ALL-OR-NOTHING transaction semantics — one failing entity aborts
    * its whole transaction, not just the row (Datomic rolls back the
    * entire tx on any entity-spec violation). Input rows carry a
    * transaction grouping column `txCol`; `checks` name the spec
    * predicates (TRUE = violated). Output: the input annotated with
    *  - `ensure_tx` the row's transaction key (the evaluated `txCol`),
    *  - `errors`   per-entity violated spec names (error-as-data), and
    *  - `tx_ok`    whether the row's WHOLE transaction is clean.
    * Plan shape: the per-row annotate is scan-side; the tx verdict is
    * one keyed aggregation on `txCol` joined back — a broadcast-able
    * verdict table when txs ≪ rows, so the pass scales as scan +
    * small join rather than a second full shuffle. */
  def ensureTx(df: DataFrame, txCol: Column, checks: Seq[(String, Column)]): DataFrame = {
    // the tx key surfaces under the DOCUMENTED column `ensure_tx`;
    // output names are reserved — inputs already carrying one are
    // rejected loudly instead of silently overwritten (the old
    // internal `__tx` leaked into output and collided with same-named
    // input columns)
    Seq("ensure_tx", "tx_ok", "errors", "__ensure_bad").foreach(c =>
      require(!df.columns.contains(c), s"ensureTx reserves output column '$c'"))
    val annotated = annotate(df, checks).withColumn("ensure_tx", txCol)
    val verdict = annotated.groupBy(col("ensure_tx"))
      .agg(max(size(col("errors")) > 0).as("__ensure_bad"))
    annotated.join(verdict, "ensure_tx") // AQE broadcasts when txs ≪ rows
      .withColumn("tx_ok", !col("__ensure_bad"))
      .drop("__ensure_bad")
  }

  /** `:db.attr/preds` — Datomic's per-attribute predicates: the schema
    * declares predicate fns per attribute, and every ASSERT of that
    * attribute must satisfy ALL of them (retractions are not
    * validated — a datom row with `op = false` passes through
    * unchecked, matching Datomic, which fires attr preds on adds
    * only). `preds`: attr → (predicate name, predicate over the datom
    * columns — TRUE = VALID, Datomic's polarity; note `annotate`
    * above uses the opposite). A predicate evaluating to NULL counts
    * as failed, like a Datomic pred that throws. Returns the input
    * plus `errors: array<string>` naming the failed predicates
    * (empty = accepted) — one codegen'd projection, zero shuffle.
    *
    * Grain note: Datomic ABORTS the whole transaction on an attr-pred
    * failure; the engine's default grain is the datom (rejects
    * quarantined error-as-data, the rest of the batch lands — the
    * posture `quarantine` documents for 100 TB loads). To refuse the
    * whole batch, gate on `errors` being empty everywhere
    * (`requireValid`). */
  def attrPreds(datoms: DataFrame,
      preds: Map[String, Seq[(String, Column)]]): DataFrame = {
    val isAssert =
      if (datoms.columns.contains("op")) col("op") else lit(true)
    val checks = preds.toSeq.sortBy(_._1).flatMap { case (attr, ps) =>
      ps.map { case (name, valid) =>
        when(isAssert && col("a") === attr && !coalesce(valid, lit(false)),
          lit(name)) }
    }
    if (checks.isEmpty)
      datoms.withColumn("errors", array().cast("array<string>"))
    else datoms.withColumn("errors", array_compact(array(checks: _*)))
  }

  /** Fail-fast mode (the reference's halt-when): throws on the first
    * violation with per-rule counts. */
  def requireValid(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    val aggs = checks.map { case (name, bad) =>
      sum(when(bad, 1L).otherwise(0L)).as(name) }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val violations = checks.map(_._1).map(n => n -> row.getAs[Long](n)).filter(_._2 > 0)
    if (violations.nonEmpty)
      throw new IllegalStateException(s"validation failed: ${violations.toMap}")
    df
  }
}
