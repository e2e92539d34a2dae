package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.SchemaRegistry

/** `:db/fn` — Datomic's installable transaction functions: named code
  * invoked FROM tx data, expanding to the datoms the transaction
  * actually asserts (Datomic anchors them to classpath fns /
  * `:db/fn` entities; the two the transactor ships built-in are
  * `:db/cas` and `:db.fn/retractEntity`). The engine's analog is a
  * registry of named Scala functions over DataFrames: a tx function
  * sees the pre-transaction database VALUE and its argument ROWS, and
  * returns the datoms to append — set-oriented, so one invocation
  * expands all its argument rows in a single DataFrame program (the
  * row-at-a-time Datomic shape is the degenerate 1-row case).
  *
  * All functions of one transaction see the SAME pre-tx state — the
  * atomicity Datomic gives tx fns — because [[expand]] runs every
  * invocation against the one `TxCtx.state` value; the caller then
  * appends the union of their outputs as one tx (`Store.append`). A
  * tx function that detects an illegal transition must THROW (like
  * `:db/cas` on a stale expected value): the expansion then fails
  * before anything is appended.
  */
object TxFns {

  /** What a tx function sees: the pre-tx resolved state, the schema
    * registry, and the tx id it is expanding into. */
  final case class TxCtx(state: DataFrame, registry: SchemaRegistry, tx: Long)

  /** name → expansion. Args schema is the function's own contract. */
  type TxFn = (TxCtx, DataFrame) => DataFrame

  /** Immutable install-time registry (Datomic installs `:db/fn`s by
    * transacting them; here installation is a pure value update, so
    * two pipelines can carry different function sets side by side). */
  final class Registry private[TxFns] (private val fns: Map[String, TxFn]) {
    def install(name: String, fn: TxFn): Registry = new Registry(fns + (name -> fn))
    def names: Set[String] = fns.keySet
    def apply(name: String): TxFn = fns.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown tx function :$name (installed: ${fns.keys.toSeq.sorted.mkString(", ")})"))
  }

  /** `:db/cas` as a registry entry. Args: (e, a, expected, new_v,
    * new_v_long). Datomic aborts the WHOLE transaction on any failed
    * compare — so this throws (with the failed count) rather than
    * silently dropping losers; the error-as-data per-op view stays
    * available via `Store.cas` directly. The emptiness probe is one
    * bounded action over the op set (ops ≪ store by construction). */
  val casFn: TxFn = (ctx, args) => {
    val out = Store.cas(ctx.state, args, ctx.tx)
    val failed = out.filter(!col("cas_ok")).limit(1).count()
    if (failed > 0) throw new IllegalStateException(
      s":db/cas aborted tx ${ctx.tx}: compare failed (see Store.cas for per-op detail)")
    out.select(col("e"), col("a"), col("v"), col("v_long"), col("is_ref"),
      col("tx"), col("op"))
  }

  /** `:db.fn/retractEntity` as a registry entry. Args: (e) — the
    * target entities; the component cascade comes from the registry's
    * `:db/isComponent` attrs, exactly like the standalone form. */
  val retractEntityFn: TxFn = (ctx, args) =>
    Store.retractEntityTx(ctx.state, args,
      ctx.registry.attrs.values.filter(_.component).map(_.ident).toSeq, ctx.tx)

  /** The built-ins Datomic ships with the transactor. */
  val builtins: Registry = new Registry(Map(
    "db/cas" -> casFn,
    "db.fn/retractEntity" -> retractEntityFn))

  /** Pure expansion of one transaction's invocations against a given
    * state — the `d/with`-style dry run: returns the datoms the tx
    * would append, without touching any store. */
  def expand(ctx: TxCtx, fns: Registry,
      invocations: Seq[(String, DataFrame)]): DataFrame = {
    require(invocations.nonEmpty, "expand: no invocations")
    invocations.map { case (name, args) => fns(name)(ctx, args) }
      .reduce(_ unionByName _)
  }
}
