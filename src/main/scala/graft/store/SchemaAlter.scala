package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Datomic-style LIVE schema alteration — `d/transact` of attribute
  * metadata against an accumulating db (Datomic "Schema Change":
  * altering `:db/cardinality`, adding `:db/unique`, renaming a
  * `:db/ident` are online operations, never migrations). The log is
  * immutable, so an alteration never rewrites datoms; it changes how
  * RESOLUTION reads the log from the alteration's tx boundary
  * forward. Reference anchor: the importer transacts schema as data
  * before entities (`src/datomic/mbrainz/importer.clj:271-277`,
  * `subsets/entities/schema.edn`) and leans on Datomic's
  * alter-attribute rules for evolving it.
  */
object SchemaAlter {

  /** `:db/cardinality` one→many flip at `alterTx`, applied at READ
    * time as a two-phase resolution:
    *
    *   - prefix (tx ≤ alterTx): the attribute is still card-ONE —
    *     last-assert-wins, superseded values are dead (Datomic
    *     auto-retracted them at write time, so they do not survive
    *     the flip);
    *   - suffix (tx > alterTx): the single surviving value re-enters
    *     as an assert at the boundary and new asserts ACCUMULATE
    *     under set semantics; suffix retractions of the survivor
    *     remove it, retractions of a pre-flip SUPERSEDED value are
    *     stale and no-op.
    *
    * Scale shape: one pass over each log half — the prefix resolve is
    * the standard two-aggregation collapse, the suffix merges
    * incrementally against the bounded snapshot (shuffle ∝ live state
    * + delta, not history). Card-one retractions of OTHER attributes
    * in the suffix keep full-resolve semantics via the hybrid path's
    * touched-key carve-out. */
  def resolveCardFlip(log: DataFrame, attr: String, alterTx: Long,
      manyAttrs: Seq[String]): DataFrame = {
    val pre = Store.resolve(log.filter(col("tx") <= alterTx), manyAttrs)
    Store.resolveIncrementalHybrid(pre, log.filter(col("tx") > alterTx), log,
      manyAttrs :+ attr)
  }

  /** Precondition for ADDING `:db/unique` to an existing attribute:
    * Datomic rejects the alteration when current values collide.
    * Returns the conflicting values with owner counts — empty ⇒ the
    * alteration is permitted. Runs on whatever state view the caller
    * passes (Datomic checks as of the alteration's basis).
    *
    * Scale shape: a single map-side-combined aggregation on (a
    * pre-filtered partition of) the state — the attr filter prunes to
    * one attribute partition of the log's `partitionBy("a")` layout. */
  def uniqueConflicts(state: DataFrame, attr: String): DataFrame =
    state.filter(col("a") === attr)
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n_owners"))
      .filter(col("n_owners") > 1)

  /** `:db/ident` rename: the attribute entity keeps its id and its
    * datoms; our log stores attribute idents as strings, so the
    * rename is a view-level rewrite — no log rewrite, O(read) not
    * O(history). Pair with an alias map kept by the caller so the OLD
    * ident keeps resolving (Datomic's renamed idents stay
    * addressable). */
  def renameAttr(view: DataFrame, from: String, to: String): DataFrame =
    view.withColumn("a", when(col("a") === from, lit(to)).otherwise(col("a")))

  /** Resolve an ident through the rename alias map (old name → new). */
  def canonical(aliases: Map[String, String], ident: String): String =
    aliases.getOrElse(ident, ident)
}
