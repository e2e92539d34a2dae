package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.SchemaRegistry
import graft.store.Store

/** E3 — the analytics/exploration surface
  * (`/root/reference/examples/explore_db.clj`), re-expressed as
  * DataFrame programs over the EAV store. Datomic executes these
  * Datalog queries remotely; here the whole query runs in the engine.
  */
object Explore {

  /** Query 1 (explore_db.clj:13-21): unique attributes —
    * `[?e :db/unique ?u][?e :db/ident ?attr]` — the classic Datalog
    * self-join on ?e (J6). Both sides prune to one attribute partition
    * before the join. */
  def uniqueAttrs(store: Store): DataFrame = {
    val eav = store.eav
    val unique = eav.filter(col("a") === "db/unique")
      .select(col("e"), col("v").as("unique_kind"))
    val ident = eav.filter(col("a") === "db/ident")
      .select(col("e"), col("v").as("attr"))
    unique.join(ident, "e").select(col("attr"), col("unique_kind"))
  }

  /** Query 2 (explore_db.clj:24-31): entity count per unique attr.
    * The reference folds N parameterized query round-trips client-side;
    * here it's ONE groupBy over the attr-pruned scan (A6). */
  def entityCountsByUniqueAttr(store: Store, registry: SchemaRegistry): DataFrame = {
    val uniques = registry.uniqueAttrs.toSeq
    store.eav.filter(col("a").isInCollection(uniques))
      .groupBy(col("a").as("attr"))
      .agg(countDistinct(col("e")).as("n_entities"))
  }

  /** Query 3 (explore_db.clj:37-45): batch frequencies by entity-type
    * prefix (A7 + P10). Faithful to the reference's
    * `(str/replace b #"-.*" "")`, which strips from the FIRST dash —
    * so "areleases-artists-3" counts under "areleases", merging types
    * that share a prefix. */
  def batchFrequencies(store: Store): DataFrame =
    store.appliedBatchIds
      .withColumn("batch_entity", regexp_replace(col("batch_id"), "-.*", ""))
      .groupBy(col("batch_entity"))
      .agg(count(lit(1)).as("n_batches"))

  /** Fulltext search honoring `:db/fulltext` schema metadata
    * (schema.edn marks e.g. :artist/name, :release/name): tokenized
    * case-insensitive match over values of fulltext-indexed attrs
    * only — Datomic's `fulltext` Datalog function shape. It searches
    * the current state, as Datomic's fulltext index does: a card-one
    * value an upsert superseded no longer matches. */
  def fulltext(store: Store, registry: SchemaRegistry, needle: String): DataFrame = {
    val ftAttrs = registry.attrs.values.filter(_.fulltext).map(_.ident).toSeq
    fulltextOn(store.current(registry), ftAttrs, needle)
  }

  /** The fulltext core over any EAV-shaped frame: only datoms of the
    * declared fulltext attrs are searched — a token occurring in a
    * non-indexed attr's value must NOT match, exactly as in Datomic
    * (only `:db/fulltext true` attrs feed the Lucene index). A
    * multi-word needle tokenizes the same way as values and requires
    * EVERY token present (Lucene's implicit AND for a plain multi-term
    * query). Oracle-gated by q46. */
  def fulltextOn(eav: DataFrame, ftAttrs: Seq[String], needle: String): DataFrame =
    fulltextHits(eav, ftAttrs, needle).select(col("e"), col("a"), col("v"))

  /** Full 4-slot fulltext relation `(e, a, v, tx, score)` — Datomic's
    * fulltext clause binds up to `[?e ?v ?tx ?score]`:
    *  - retraction-aware: Datomic's fulltext searches the CURRENT
    *    index, so on a frame with an `op` column a value whose latest
    *    (tx, op) event is a retraction does not match;
    *  - `tx`: the latest ASSERT tx of that (e, a, v) in the searched
    *    frame (null when the frame carries no tx column, e.g. an
    *    already-resolved current view);
    *  - `score`: occurrences of the needle's tokens in the value —
    *    a deterministic term-frequency stand-in for Lucene's BM25
    *    (documented divergence: Datomic's score is an opaque Lucene
    *    relevance; ours is exact-count, so it is oracle-able).
    * One attr-pruned scan + one keyed agg; dedup on (e, a, v) keeps
    * the relation a set, as the 2-slot form always promised. */
  def fulltextHits(eav: DataFrame, ftAttrs: Seq[String], needle: String): DataFrame = {
    require(ftAttrs.nonEmpty, "schema declares no fulltext attrs")
    val tokens = needle.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
    require(tokens.nonEmpty, s"fulltext needle has no searchable tokens: '$needle'")
    val valueTokens = expr("filter(split(lower(v), '[^a-z0-9]+'), t -> length(t) > 0)")
    val withTx =
      if (eav.columns.contains("tx")) eav
      else eav.withColumn("tx", lit(null).cast("long"))
    val withOp = graft.store.Store.withOp(withTx)
    val inSet = tokens.map(t => s"'$t'").mkString(", ") // tokens are [a-z0-9]+, safe to inline
    withOp
      .filter(col("a").isInCollection(ftAttrs))
      .filter(tokens.map(t => array_contains(valueTokens, t)).reduce(_ && _))
      .groupBy(col("e"), col("a"), col("v"))
      // same visibility + tiebreak as Store.resolve: the latest (tx, op)
      // event must be an assert, tx binds the last assert
      .agg(max_by(col("op"), struct(col("tx"), col("op"))).as("__vis"),
        max(when(col("op"), col("tx"))).as("tx"))
      .filter(col("__vis")).drop("__vis")
      .withColumn("score", expr(
        s"cast(size(filter(split(lower(v), '[^a-z0-9]+'), t -> t IN ($inSet))) as double)"))
  }

  /** FK integrity (beyond the reference, which defers to Datomic's
    * transact-time resolution): ref datoms whose target e-key never
    * appears as an entity. */
  def danglingRefs(store: Store): DataFrame = {
    val eav = store.eav
    val entities = eav.select(col("e")).distinct()
    eav.filter(col("is_ref") && !col("v").startsWith("ident|"))
      .select(col("v").as("target"), col("a"))
      .join(entities, col("target") === col("e"), "left_anti")
      .groupBy(col("a")).agg(count(lit(1)).as("n_dangling"))
  }
}
