package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables._

/** Core relational operator inventory (SURVEY.md §2) re-expressed on
  * the harness testdata. Each `qNN_*` below is one `SparkEntry.queries`
  * entry with a DuckDB oracle in `SparkEntry.oracleSql`.
  *
  * Determinism rules (driver hash-compares vs DuckDB):
  *  - money/double aggregates go through decimal (exact, associative —
  *    safe under any partitioning / AQE re-plan; double sums are not);
  *  - every output row set is keyed (no SELECT without a natural key);
  *  - LIMIT always follows a total ORDER BY;
  *  - timestamps are compared as epoch millis (long), never as
  *    engine-local timestamp types.
  */
object Relational {

  /** Exact money arithmetic: cast to decimal before aggregation so the
    * sum is order-independent (100 TB = thousands of partial aggs; a
    * double sum would be nondeterministic in the last bits).
    *
    * Final projections are BIGINT cents (×100 for scale-2, ×10000 for
    * scale-4), never DECIMAL: decimal survives the math exactly but
    * stringifies differently across engines (DuckDB renders 5.00 as
    * "5.0", parquet decimal as "5.00"), so a comparator that hashes
    * printed values flags correct answers. Integer cents are exact AND
    * render identically everywhere. */
  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  private def cents(c: Column): Column = (dec(c) * 100).cast("long")
  private def money(c: Column): Column = (sum(dec(c)) * 100).cast("long")
  private def money4(c: Column): Column = (sum(c) * 10000).cast("long")

  /** Synthetic datom log for the store-semantics queries: one datom
    * per row of `src` (an orders frame) on entity `o_orderkey`.
    * `op = None` leaves the op column out — the store reads a log
    * without one as all asserts. */
  private def orderLog(src: DataFrame, v: Column, tx: Long, a: String = "order/price",
      vLong: Column = lit(null).cast("long"), op: Option[Boolean] = None): DataFrame =
    src.select(Seq(col("o_orderkey").cast("string").as("e"), lit(a).as("a"),
      v.cast("string").as("v"), vLong.as("v_long"), lit(false).as("is_ref"),
      lit(tx).as("tx")) ++ op.map(lit(_).as("op")): _*)

  /** Scratch dirs for the physical-layout queries (q83/q84/q85/q88):
    * one STABLE directory per (tag, source dir) instead of a fresh
    * createTempDirectory per invocation — repeated bench passes at
    * sf1+ leaked a full layout copy into /tmp per pass. Each
    * invocation wipes and rebuilds its dir (the layout build IS part
    * of the query under test), capping disk at one copy per query;
    * the whole scratch root is removed at JVM exit. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-layout-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(p)))
    p
  }
  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Path}
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
  }
  /** One scratch dir per (query tag, source dir). Keyed on SHA-256 of
    * the full source path — a 32-bit hashCode can collide, and since
    * each invocation wipes its dir first, a collision would let two
    * concurrent invocations of the same tag against DIFFERENT datasets
    * delete each other's layout mid-build. (Same tag + same dataset
    * concurrently is still racy by design: the layout build is part of
    * the query under test and owns its dir exclusively.) */
  private def scratchDir(tag: String, src: String): String = {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(src.getBytes("UTF-8"))
    val dir = scratchRoot.resolve(
      tag + "-" + sha.take(16).map("%02x".format(_)).mkString)
    deleteRecursively(dir)
    java.nio.file.Files.createDirectories(dir)
    dir.toString
  }

  // ── P1/A-family: scan → filter → project → hash aggregate ──────────
  // TPC-H Q1 shape (partial agg map-side, 2-col group key; the scan
  // reads only 6 of 16 lineitem columns — check ReadSchema).
  def q01_pricing_summary(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        money(col("l_quantity")).as("sum_qty"),
        money(col("l_extendedprice")).as("sum_base_price"),
        money4(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  // Projection + filter with parquet pushdown (PushedFilters in plan).
  def q02_filter_project(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(col("o_orderstatus") === "O" && col("o_totalprice") > 150000.0)
      .select(
        col("o_orderkey"),
        cents(col("o_totalprice")).as("price"),
        col("o_orderpriority"))

  // ── J1: enum/dictionary broadcast join (P2/P3) ─────────────────────
  // Small dim → explicit broadcast(): at 100 TB the fact side never
  // shuffles for this join.
  def q03_enum_broadcast_join(s: SparkSession, d: String): DataFrame =
    nation(s, d)
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))

  // Strict lookup semantics (reference throws on enum miss,
  // importer.clj:212-214): left join + null check → count misses.
  def q04_strict_lookup(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val n = nation(s, d)
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"), "left")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("n_nationkey").isNull, 1L).otherwise(0L)).as("n_misses"))
  }

  // ── J2: lookup-ref FK join (fact ⋈ entity on unique key) ──────────
  def q05_lookup_ref_join(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        money(col("o_totalprice")).as("total_price"))

  // ── J3/A1: reverse-ref assembly — children grouped under parent ───
  def q06_reverse_ref_assembly(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("track_count"),
        min(col("l_linenumber")).as("first_line"),
        max(col("l_linenumber")).as("last_line"),
        money(col("l_quantity")).as("sum_qty"))

  // ── J4: upsert-merge — collect refs into the entity's array ───────
  // The merged set is emitted as a sorted comma-joined string: scalar
  // columns survive any comparator; array cells don't sort in pandas.
  def q07_upsert_merge(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_suppkey"))).as("keys"))
      .select(col("l_orderkey"),
        concat_ws(",", col("keys")).as("supp_keys"),
        size(col("keys")).cast("long").as("n_supp"))

  // ── J5/P8: ledger anti-join (idempotent resume) ───────────────────
  def q08_ledger_anti_join(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val ledger = o.filter(pmod(col("o_orderkey"), lit(10)) < 3)
      .select(col("o_orderkey").as("batch_id"))
    o.join(ledger, o("o_orderkey") === ledger("batch_id"), "left_anti")
      .select(col("o_orderkey"), col("o_orderstatus"))
  }

  // Left-semi companion (EXISTS): customers that have orders.
  def q09_semi_join(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val o = orders(s, d).select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
  }

  // ── A2: deterministic batch numbering (tx-data->batches) ──────────
  // Dense numbering over an explicit total order replaces the
  // reference's inherited file order (batch.clj:31-40). Routed through
  // GlobalIndex (range-partition + per-partition counts + offset
  // broadcast): a bare `row_number() OVER (ORDER BY …)` window moves
  // every row through ONE partition — the classic scale killer. The
  // windowed formulation survives as a small-SF equivalence spec
  // (PlanSpec "q10 equals the single-partition window formulation").
  def q10_batch_numbering(s: SparkSession, d: String): DataFrame =
    q26_batch_numbering_scalable(s, d)

  // ── A3: distinct set build ────────────────────────────────────────
  def q11_distinct(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(col("o_orderpriority")).distinct()

  // ── A6/A7 + P10: regex projection + frequencies ───────────────────
  def q12_regex_frequencies(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .withColumn("prio_name", regexp_replace(col("o_orderpriority"), "^\\d+-", ""))
      .groupBy(col("prio_name"))
      .agg(count(lit(1)).as("n"))

  // ── P4: deterministic composite tempid ────────────────────────────
  def q13_tempid(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(concat_ws("-", lit("t"), col("l_orderkey"), col("l_linenumber")).as("tempid"))
      // two-level agg, not count+countDistinct in one: the mixed form
      // plans an Expand (rows × 2 into the shuffle); grouping first
      // combines map-side and the final agg reads one row per id
      .groupBy(col("tempid")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).cast("long").as("n_rows"), count(lit(1)).as("n_ids"))

  // ── S3: limit with explicit total order (top-k) ───────────────────
  def q14_topk(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price"))
      .limit(10)

  // ── V: validation stage — violations counted per rule ─────────────
  // (reference: spec validate transducer, transducers.clj:11-21; here
  // the checks run as one pass over the fact table, no shuffle)
  def q15_validation(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("l_quantity") <= 0 || col("l_quantity") > 50, 1L).otherwise(0L)).as("bad_qty"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L).otherwise(0L)).as("bad_discount"),
      sum(when(col("l_returnflag").isNull, 1L).otherwise(0L)).as("null_flag"),
      sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("null_shipdate"))

  // ── A5: loader metrics fold {txes, datoms} ────────────────────────
  def q16_metrics_fold(s: SparkSession, d: String): DataFrame =
    // two-level agg (groups then totals) — same no-Expand reasoning
    // as q13; {txes, datoms} falls out of one keyed pass
    lineitem(s, d)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("txes"), sum(col("c")).cast("long").as("datoms"))

  // ── min_by / max_by (argmin-style projection inside groups) ───────
  def q17_minmax_by(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("cheapest_order"),
        max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("priciest_order"))

  // ── Windowed analytics (A2 generalization): rank within group ─────
  def q18_window_rank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    orders(s, d)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 2)
      .select(col("o_custkey"), col("rk"), col("o_orderkey"),
        cents(col("o_totalprice")).as("price"))
  }

  // ── Tumbling time window over events ──────────────────────────────
  // `ts` arrives as epoch nanos (see Tables.events); the hour bucket is
  // integer `div` (not `/`: epoch nanos exceed double's 53-bit mantissa,
  // so float division can bucket a boundary event off-by-one).
  def q19_time_window(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(
        (expr("ts div 3600000000000") * lit(3600000L)).cast("long").as("hour_ms"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), money(col("value")).as("sum_value"))

  // ── Session windows over events (batch form of the streaming op) ──
  // Micros precision end-to-end so the gap decision is identical on
  // both engines; end = last event + gap (Spark session_window shape).
  def q21_session_window(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .groupBy(session_window(col("ets"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), money(col("value")).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"), col("sum_value"))

  // ── P5/P6: explode / unnest (dictionary → tx-data shape) ──────────
  def q24_explode_unnest(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .filter(col("vec_id") < 50)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "component")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        round(col("component").cast("double"), 6).as("component"))

  // ── V/P12: validation with quarantine side-channel ────────────────
  // The reference halts on the first invalid record (transducers.clj:
  // 11-21) or wraps errors as data (async_edn.clj:16-22); at scale the
  // right shape is one pass that routes bad rows to a quarantine with
  // machine-readable reasons while good rows continue.
  def rowChecks: Column = array(
    when(col("l_quantity") <= 0 || col("l_quantity") > 50, lit("bad_qty")),
    when(col("l_discount") < 0 || col("l_discount") > 1, lit("bad_discount")),
    when(col("l_returnflag").isNull, lit("null_flag")),
    when(col("l_extendedprice") <= 0, lit("bad_price")))

  def q25_quarantine(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .withColumn("errors", array_compact(rowChecks))
      .withColumn("is_valid", size(col("errors")) === 0)
      // group by (validity, order) first, then fold per validity —
      // count+countDistinct in one agg would Expand the scan × 2
      .groupBy(col("is_valid"), col("l_orderkey")).agg(count(lit(1)).as("c"))
      .groupBy(col("is_valid"))
      .agg(sum(col("c")).cast("long").as("n"), count(lit(1)).as("n_orders"))

  // ── A2 at scale: batch numbering WITHOUT the global window ────────
  // Same output as q10, built on GlobalIndex (range-partition + count
  // + offset broadcast) instead of a single-partition row_number —
  // the shape that survives 100 TB. Shares q10's oracle semantics.
  def q26_batch_numbering_scalable(s: SparkSession, d: String): DataFrame = {
    val keys = orders(s, d).select(col("o_orderkey"))
    graft.ops.GlobalIndex.withDenseIndex(keys, Seq(col("o_orderkey")), "rn0")
      .withColumn("batch_id",
        concat(lit("orders-"), ((col("rn0") / lit(100)).cast("long") + 1)))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("batch_size"),
        min(col("o_orderkey")).as("first_key"),
        max(col("o_orderkey")).as("last_key"))
  }

  // ── EAV / Datalog shapes (J6, A6) on testdata ─────────────────────
  // The store's long-format view built by unpivoting nation; the
  // Datalog pattern [?e :n_name ?name][?e :n_regionkey ?rk] is a
  // self-join on e. In the real store (graft.store.Store) the EAV scan
  // prunes by attribute partition before this join.
  private def nationEav(s: SparkSession, d: String): DataFrame =
    nation(s, d).select(col("n_nationkey").as("e"),
      expr("stack(2, 'n_name', n_name, 'n_regionkey', cast(n_regionkey as string))")
        .as(Seq("a", "v")))

  def q22_eav_self_join(s: SparkSession, d: String): DataFrame = {
    val eav = nationEav(s, d)
    val names = eav.filter(col("a") === "n_name").select(col("e"), col("v").as("nation_name"))
    val regions = eav.filter(col("a") === "n_regionkey").select(col("e"), col("v").as("region_key"))
    names.join(regions, "e").select(col("e").cast("int").as("e"), col("nation_name"), col("region_key"))
  }

  def q23_eav_count_per_attr(s: SparkSession, d: String): DataFrame =
    nationEav(s, d).groupBy(col("a")).agg(countDistinct(col("e")).as("n_entities"))

  /** The Datalog FRONT-END under the oracle gate: the same semantics
    * as q22, but planned by graft.query.Datalog from EDN query text
    * (pattern → pruned scan → self-join on ?e). */
  def q29_datalog_engine(s: SparkSession, d: String): DataFrame = {
    val q = graft.query.Datalog.parse(
      """[:find ?e ?nation-name ?region-key
        | :where [?e :n_name ?nation-name]
        |        [?e :n_regionkey ?region-key]]""".stripMargin)
    val registry = new graft.model.SchemaRegistry(Map.empty)
    graft.query.Datalog.runOn(nationEav(s, d).select(
        col("e").cast("string").as("e"), col("a"), col("v")), registry, q, Map.empty)
      .select(col("e").cast("int").as("e"),
        col("nation-name").as("nation_name"), col("region-key").as("region_key"))
  }

  // ── Set operations (beyond the reference, which only anti-joins) ──
  def q27_set_ops(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val big = c.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
    val auto = c.filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey"))
    val union = big.union(auto).distinct().withColumn("set_op", lit("union"))
    val inter = big.intersect(auto).withColumn("set_op", lit("intersect"))
    val exc = big.except(auto).withColumn("set_op", lit("except"))
    union.unionByName(inter).unionByName(exc)
  }

  /** Sketch aggregates (HLL++): the approximate path for distinct
    * counts at 100 TB — no exact-dedup shuffle, fixed-size mergeable
    * state. Sketch internals differ across engines, so the gated
    * output is (exact counts, bound-satisfied booleans): the oracle
    * recomputes the exact counts and asserts the booleans true —
    * value-level verification of the CONTRACT (rsd 2% ⇒ |err| well
    * under 5%) without hanging parity on sketch bits. */
  def q28_approx_distinct(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    // plan choice: TWO exact countDistincts next to the HLLs in one
    // agg make Catalyst plan an Expand (rows × 3, with the sketches
    // dragged through every replica) — 3.5 s at sf0.1. Splitting the
    // exact counts into per-column distinct-then-count passes keeps
    // each shuffle column-pruned with map-side partials, and the HLL
    // pass stays a single one-row aggregate: 0.73 s, same contract.
    val approx = li.agg(
      approx_count_distinct(col("l_orderkey"), 0.02).as("a_o"),
      approx_count_distinct(col("l_partkey"), 0.02).as("a_p"),
      count(lit(1)).as("n_rows"))
    val eo = li.select("l_orderkey").distinct().agg(count(lit(1)).as("exact_orders"))
    val ep = li.select("l_partkey").distinct().agg(count(lit(1)).as("exact_parts"))
    approx.crossJoin(eo).crossJoin(ep)
      .select(col("exact_orders"), col("exact_parts"), col("n_rows"),
        (abs(col("a_o") - col("exact_orders")) / col("exact_orders") <= 0.05).as("orders_ok"),
        (abs(col("a_p") - col("exact_parts")) / col("exact_parts") <= 0.05).as("parts_ok"))
  }

  // ── Time travel: as-of views over an assert-only log ──────────────
  /** Datomic `d/as-of` re-expressed on the store's resolution core
    * (`Store.resolve` — the exact code `current`/`asOf` run): a
    * synthesized assert-log over orders (every price at tx 1, every
    * 10th re-asserted doubled at tx 2) resolved at both transaction
    * horizons. The as-of filter is a plain predicate on the log's tx
    * column, so at scale it prunes parquet row groups — time travel
    * costs a filter, not a snapshot copy. */
  def q30_time_travel(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val cents = (dec(col("o_totalprice")) * 100).cast("long")
    val log = orderLog(o, cents, 1L).unionByName(
      orderLog(o, cents * 2, 2L).filter(pmod(col("e").cast("long"), lit(10)) === 0))
    graft.store.Store.resolveAtHorizons(log, Seq(1L, 2L), Seq.empty)
      .groupBy(col("asof_tx"))
      .agg(count(lit(1)).as("n_entities"),
        sum(col("v").cast("long")).cast("long").as("total_cents"))
  }

  // ── d/since: the incremental-consumer horizon ─────────────────────
  /** Datomic `d/since` surfaced as a query (`Store.sinceAtHorizons`,
    * the exact code `Store.since` feeds): a three-tx log over orders
    * (base price at tx 1, every 10th doubled at tx 2, every 100th
    * nudged at tx 3) read at since-horizons 0/1/2. Since FILTERS the
    * log rather than rewinding it — an entity untouched after the
    * horizon is invisible, so each horizon's row count shrinks to
    * "what changed since t", the exact shape an incremental consumer
    * (cache refresher, downstream sync) reads. One log scan fans out
    * to all horizons; at scale the `tx > t` predicate prunes parquet
    * row groups the same way as-of's `tx <= t` does, so a recent
    * since-window reads only recent row groups. */
  def q66_since(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val k = col("o_orderkey")
    val c = cents(col("o_totalprice"))
    val log = orderLog(o, c, 1L)
      .unionByName(orderLog(o.filter(pmod(k, lit(10)) === 0), c * 2, 2L))
      .unionByName(orderLog(o.filter(pmod(k, lit(100)) === 0), c + 1, 3L))
    graft.store.Store.sinceAtHorizons(log, Seq(0L, 1L, 2L), Seq.empty)
      .groupBy(col("since_tx"))
      .agg(count(lit(1)).as("n_entities"),
        sum(col("v").cast("long")).cast("long").as("total_cents"))
  }

  // ── Recursive Datalog rules: reachability closure ─────────────────
  /** Datomic rule recursion (the `%` rule set) over a location
    * hierarchy synthesized from supplier→nation→region: `(reach ?a
    * ?b)` is the transitive closure of `:loc` edges, evaluated by the
    * engine's semi-naive fixpoint (delta-only joins per round,
    * lineage truncated per round). The DuckDB oracle is the same
    * closure via WITH RECURSIVE. */
  def q31_datalog_recursion(s: SparkSession, d: String): DataFrame = {
    val edges = supplier(s, d).select(
        concat(lit("s"), col("s_suppkey").cast("string")).as("e"),
        lit("loc").as("a"),
        concat(lit("n"), col("s_nationkey").cast("string")).as("v"))
      .unionByName(nation(s, d).select(
        concat(lit("n"), col("n_nationkey").cast("string")).as("e"),
        lit("loc").as("a"),
        concat(lit("r"), col("n_regionkey").cast("string")).as("v")))
    val rules = graft.query.Datalog.parseRules(
      """[[(reach ?a ?b) [?a :loc ?b]]
        | [(reach ?a ?b) [?a :loc ?x] (reach ?x ?b)]]""".stripMargin)
    val q = graft.query.Datalog.parse("[:find ?a ?b :where (reach ?a ?b)]")
    graft.query.Datalog
      .runOn(edges, new graft.model.SchemaRegistry(Map.empty), q, Map.empty, rules)
      .select(col("a").as("src"), col("b").as("dst"))
  }

  // ── Retraction-aware time travel ──────────────────────────────────
  /** Datomic `[:db/retract e a v]` semantics through the store's
    * resolution core: every order's price asserted at tx 1, every
    * 10th retracted at tx 2, every 20th re-asserted doubled at tx 3 —
    * resolved at all three horizons. A retraction hides exactly the
    * value it names; a later re-assert restores the attribute. */
  def q39_retraction(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val cents = (dec(col("o_totalprice")) * 100).cast("long")
    val key = col("o_orderkey")
    val log = orderLog(o, cents, 1L, op = Some(true))
      .unionByName(orderLog(o.filter(pmod(key, lit(10)) === 0), cents, 2L, op = Some(false)))
      .unionByName(orderLog(o.filter(pmod(key, lit(20)) === 0), cents * 2, 3L, op = Some(true)))
    graft.store.Store.resolveAtHorizons(log, Seq(1L, 2L, 3L), Seq.empty)
      .groupBy(col("asof_tx"))
      .agg(count(lit(1)).as("n_entities"),
        sum(col("v").cast("long")).cast("long").as("total_cents"))
  }

  // ── Datalog expression clauses: predicate + function binding ──────
  /** `[(< ?r 2)]` filters and `[(str …) ?out]` bindings through the
    * Datalog engine — the expression-clause surface Datomic queries
    * lean on beyond plain patterns. Planned as ordinary Catalyst
    * filters/projections over the pattern joins. */
  def q32_datalog_predicates(s: SparkSession, d: String): DataFrame = {
    val q = graft.query.Datalog.parse(
      """[:find ?e ?tagged
        | :where [?e :n_name ?name]
        |        [?e :n_regionkey ?r]
        |        [(< ?r 2)]
        |        [(str ?name "#" ?r) ?tagged]]""".stripMargin)
    graft.query.Datalog.runOn(
        nationEav(s, d).select(col("e").cast("string").as("e"), col("a"), col("v")),
        new graft.model.SchemaRegistry(Map.empty), q, Map.empty)
      .select(col("e").cast("int").as("e"), col("tagged"))
  }

  // ── Pull API: declarative entity hydration ────────────────────────
  /** Datomic `d/pull` over an EAV view: nations hydrated with
    * `[:nation/name {:nation/region [:region/name]}]` — each pattern
    * entry is one attribute-pruned scan joined back on `e`; the nested
    * ref recurses on the deduped child set. Gated flattened (struct →
    * columns) so the comparator sees scalars. */
  def q33_pull_api(s: SparkSession, d: String): DataFrame = {
    val nat = nation(s, d)
    def nid = concat(lit("n"), col("n_nationkey").cast("string"))
    val eav = nat.select(nid.as("e"), lit("nation/name").as("a"), col("n_name").as("v"))
      .unionByName(nat.select(nid.as("e"), lit("nation/region").as("a"),
        concat(lit("r"), col("n_regionkey").cast("string")).as("v")))
      .unionByName(region(s, d).select(
        concat(lit("r"), col("r_regionkey").cast("string")).as("e"),
        lit("region/name").as("a"), col("r_name").as("v")))
    val registry = new graft.model.SchemaRegistry(Map(
      "nation/region" -> graft.model.AttrDef("nation/region", "ref",
        many = false, uniqueIdentity = false, uniqueValue = false,
        component = false, fulltext = false)))
    graft.query.Pull.pullFrom(eav, registry,
        graft.query.Pull.parsePattern("[:nation/name {:nation/region [:region/name]}]"),
        eav.filter(col("a") === "nation/name").select("e"))
      .select(col("e"), col("nation_name"),
        col("nation_region.region_name").as("region_name"))
  }

  // ── As-of (temporal) join ─────────────────────────────────────────
  /** Each purchase event picks up the user's most recent click value
    * at-or-before the purchase timestamp — `graft.ops.AsofJoin`'s
    * union + keyed forward-fill window (one shuffle, no per-key cross
    * product). The oracle is DuckDB's native ASOF LEFT JOIN, so the
    * operator's ≤-semantics and tie handling are value-verified. */
  def q34_asof_join(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("click_value"))
    graft.ops.AsofJoin
      .leftAsof(purchases, clicks, Seq("user_id"), "ts", "ts", Seq("click_value"))
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"),
        coalesce((dec(col("asof_click_value")) * 100).cast("long"), lit(-1L))
          .as("click_cents"))
  }

  // ── Datalog negation ──────────────────────────────────────────────
  /** `(not …)` over the engine — customers with no order in the
    * 1-URGENT priority class, as an anti-join the planner derives
    * from the negated pattern. */
  def q36_datalog_negation(s: SparkSession, d: String): DataFrame = {
    val eav = customer(s, d)
      .select(col("c_custkey").cast("string").as("e"),
        lit("cust/name").as("a"), col("c_name").as("v"))
      .unionByName(orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").cast("string").as("e"),
          lit("cust/urgent").as("a"), col("o_orderkey").cast("string").as("v")))
    val q = graft.query.Datalog.parse(
      "[:find ?e ?name :where [?e :cust/name ?name] (not [?e :cust/urgent _])]")
    graft.query.Datalog
      .runOn(eav, new graft.model.SchemaRegistry(Map.empty), q, Map.empty)
      .select(col("e").cast("long").as("e"), col("name"))
  }

  // ── Datalog disjunction ───────────────────────────────────────────
  /** `(or …)` over the engine: customers in either of two market
    * segments — the legs evaluate independently and union with set
    * semantics before joining the rest of the query. */
  def q37_datalog_or(s: SparkSession, d: String): DataFrame = {
    val eav = customer(s, d)
      .select(col("c_custkey").cast("string").as("e"),
        lit("cust/name").as("a"), col("c_name").as("v"))
      .unionByName(customer(s, d)
        .select(col("c_custkey").cast("string").as("e"),
          lit("cust/segment").as("a"), col("c_mktsegment").as("v")))
    val q = graft.query.Datalog.parse(
      """[:find ?e ?name
        | :where [?e :cust/name ?name]
        |        (or [?e :cust/segment "AUTOMOBILE"]
        |            [?e :cust/segment "MACHINERY"])]""".stripMargin)
    graft.query.Datalog
      .runOn(eav, new graft.model.SchemaRegistry(Map.empty), q, Map.empty)
      .select(col("e").cast("long").as("e"), col("name"))
  }

  // ── Pull inside :find ─────────────────────────────────────────────
  /** `(pull ?e pattern)` in :find — the idiom Datomic queries return
    * hydrated entities with. Gated flattened (struct → columns). */
  def q40_pull_in_find(s: SparkSession, d: String): DataFrame = {
    val q = graft.query.Datalog.parse(
      """[:find ?e (pull ?e [:n_name :n_regionkey])
        | :where [?e :n_name _]]""".stripMargin)
    graft.query.Datalog.runOn(
        nationEav(s, d).select(col("e").cast("string").as("e"), col("a"), col("v")),
        new graft.model.SchemaRegistry(Map.empty), q, Map.empty)
      .select(col("e").cast("int").as("e"),
        col("pull_e.n_name").as("nation_name"),
        col("pull_e.n_regionkey").as("region_key"))
  }

  // ── Datalog collection binding ────────────────────────────────────
  /** `:in $ [?seg ...]` — the parameterized-IN surface: the segment
    * list arrives as a query argument and becomes an IN filter that
    * Catalyst pushes into the pattern scan. */
  def q38_datalog_collection(s: SparkSession, d: String): DataFrame = {
    import graft.edn.Edn._
    val eav = customer(s, d)
      .select(col("c_custkey").cast("string").as("e"),
        lit("cust/name").as("a"), col("c_name").as("v"))
      .unionByName(customer(s, d)
        .select(col("c_custkey").cast("string").as("e"),
          lit("cust/segment").as("a"), col("c_mktsegment").as("v")))
    val q = graft.query.Datalog.parse(
      """[:find ?e ?name ?seg
        | :in $ [?seg ...]
        | :where [?e :cust/name ?name] [?e :cust/segment ?seg]]""".stripMargin)
    graft.query.Datalog
      .runOn(eav, new graft.model.SchemaRegistry(Map.empty), q,
        Map("seg" -> EVec(Vector(EStr("HOUSEHOLD"), EStr("BUILDING")))))
      .select(col("e").cast("long").as("e"), col("name"), col("seg"))
  }

  // ── Range (interval) join ─────────────────────────────────────────
  /** Clicks landing inside the hour after each purchase, per user —
    * `graft.ops.RangeJoin`'s bucketed interval join: intervals explode
    * over covering hour-buckets, the join is equi on (bucket, user),
    * the exact predicate post-filters. The naive inequality join
    * plans as a nested loop (quadratic); this shuffles ∝ rows. Times
    * compare at micros (DuckDB truncates nano parquet timestamps). */
  def q35_range_join(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600L * 1000 * 1000
    val ev = events(s, d).withColumn("ts_us", expr("ts div 1000"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), col("event_id").as("click_id"))
    val windows = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_us").as("w_start"), (col("ts_us") + hourUs).as("w_end"))
    graft.ops.RangeJoin
      .pointInInterval(clicks, windows, "ts_us", "w_start", "w_end",
        bucketWidth = hourUs, keys = Seq("user_id"))
      .select(col("user_id"), col("purchase_id"), col("click_id"))
  }

  // ── Interval self-join (batch twin of Streams.clickAttribution) ───
  /** Click attribution: each click joins the same user's impressions
    * in the 30-minute look-back. The equi key (user_id) carries the
    * shuffle; the time bounds are post-join filters — same state
    * keying as the watermarked stream-stream join, so the batch and
    * streaming answers coincide (StreamingSpec pins that). */
  def q42_click_attribution(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).withColumn("ts_us", expr("ts div 1000"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts_us").as("click_us"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("i_user"), col("event_id").as("imp_id"), col("ts_us").as("imp_us"))
    clicks.join(views,
        col("user_id") === col("i_user") &&
        col("imp_us") <= col("click_us") &&
        col("imp_us") >= col("click_us") - lit(graft.streaming.Streams.attributionHorizonUs))
      .select(col("user_id"), col("click_id"), col("imp_id"),
        expr("click_us div 1000").as("click_ms"),
        expr("imp_us div 1000").as("imp_ms"))
  }

  // ── Datalog relation binding ([[?a ?b]]) under the oracle gate ────
  /** Datomic's relation input binding: the arg is a SET OF TUPLES that
    * constrains variable combinations (a broadcast inner join in the
    * plan), not each variable independently — ("10","2") names a real
    * nation and a real region but the WRONG pairing (nation 10 lives
    * in region 0), so it matches nothing; only the two correct
    * pairings below survive. */
  def q43_datalog_relation_binding(s: SparkSession, d: String): DataFrame = {
    import graft.edn.Edn._
    val q = graft.query.Datalog.parse(
      """[:find ?e ?name
        | :in $ [[?e ?r]]
        | :where [?e :n_name ?name]
        |        [?e :n_regionkey ?r]]""".stripMargin)
    val tuples = EVec(Vector(
      EVec(Vector(EStr("5"), EStr("0"))),   // nation 5 really is in region 0
      EVec(Vector(EStr("7"), EStr("2"))),   // nation 7 really is in region 2
      EVec(Vector(EStr("10"), EStr("2"))))) // WRONG pairing: nation 10 is in region 0, not 2
    graft.query.Datalog.runOn(
        nationEav(s, d).select(col("e").cast("string").as("e"), col("a"), col("v")),
        new graft.model.SchemaRegistry(Map.empty), q, Map("e" -> tuples))
      .select(col("e").cast("int").as("e"), col("name"))
  }

  // ── Rollup (grouping sets): subtotals + grand total in one pass ───
  /** `ROLLUP(flag, status)` — per-group, per-flag subtotal, and grand
    * total computed in ONE aggregation (Spark expands grouping sets
    * map-side; no second scan). Rollup's NULL group keys are
    * COALESCEd to a sentinel on both engines: a NULL key would
    * stringify differently across the comparator's two load paths,
    * and `grouping_id` disambiguates real NULLs from subtotal rows. */
  def q44_rollup(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        money(col("l_quantity")).as("sum_qty"),
        grouping_id().cast("long").as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n"), col("sum_qty"), col("gid"))

  // ── Pivot: long → wide conditional aggregation ────────────────────
  /** Order counts + revenue cents per priority, pivoted to one row
    * per market segment. The pivot value list is EXPLICIT — at scale
    * an inferred list means an extra distinct scan AND a
    * nondeterministic column set. Pivot is planned as one hash
    * aggregate with conditional partials (the oracle spells that
    * formulation out). */
  def q45_pivot(s: SparkSession, d: String): DataFrame = {
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .pivot("o_orderpriority", prios)
      .agg(count(lit(1)).as("n"), money(col("o_totalprice")).as("cents"))
      // a pivot cell with no rows is NULL in Spark but 0 under the
      // oracle's COUNT/SUM FILTER formulation — coalesce both
      .select(col("c_mktsegment") +: prios.flatMap(p => Seq(
        coalesce(col(s"`${p}_n`"), lit(0L)).as(s"n_${p.charAt(0)}"),
        coalesce(col(s"`${p}_cents`"), lit(0L)).as(s"cents_${p.charAt(0)}"))): _*)
  }

  // ── Multi-source Datalog ($ + $2) ─────────────────────────────────
  /** Datomic's multi-database joins: `:in $ $2` binds a second
    * database, addressed per-pattern as `[$2 ?e :attr ?v]`. Here the
    * default db holds nations, `$2` holds regions — the shared ?rk
    * variable joins ACROSS databases exactly like any shared var
    * (each source is its own attribute-pruned scan; Catalyst plans
    * the cross-db equi-join and broadcasts the small side). */
  def q50_datalog_multi_db(s: SparkSession, d: String): DataFrame = {
    val q = graft.query.Datalog.parse(
      """[:find ?e ?n ?rname
        | :in $ $2
        | :where [?e :n_name ?n]
        |        [?e :n_regionkey ?rk]
        |        [$2 ?r :r_regionkey ?rk]
        |        [$2 ?r :r_name ?rname]]""".stripMargin)
    val regionEav = region(s, d).select(
      col("r_regionkey").cast("string").as("e"),
      expr("stack(2, 'r_regionkey', cast(r_regionkey as string), 'r_name', r_name)")
        .as(Seq("a", "v")))
    graft.query.Datalog.runOn(
        nationEav(s, d).select(col("e").cast("string").as("e"), col("a"), col("v")),
        new graft.model.SchemaRegistry(Map.empty), q, Map.empty,
        extraSrcs = Map("2" -> regionEav))
      .select(col("e").cast("int").as("e"), col("n").as("nation_name"),
        col("rname").as("region_name"))
  }

  // ── Datalog tx position: [?e :attr ?v ?tx] ────────────────────────
  /** The full datom pattern — binding the asserting TRANSACTION, the
    * provenance query every audited Datomic system runs ("when did
    * this value arrive"). Over a two-tx log (tx 1: every order;
    * tx 2: every 10th re-asserted at double), `?tx` surfaces both
    * versions with their provenance. History semantics: the log view,
    * not the resolved state (binding tx against a resolved view is a
    * loud error — see DatalogSpec). */
  def q52_datalog_tx(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val c = cents(col("o_totalprice"))
    def asLog(v: Column, tx: Long, pred: Column) = o.filter(pred).select(
      col("o_orderkey").cast("string").as("e"), lit("order/price").as("a"),
      v.cast("string").as("v"), lit(tx).as("tx"))
    val log = asLog(c, 1L, lit(true))
      .unionByName(asLog(c * 2, 2L, pmod(col("o_orderkey"), lit(10)) === 0))
    val q = graft.query.Datalog.parse(
      "[:find ?e ?v ?tx :where [?e :order/price ?v ?tx]]")
    graft.query.Datalog.runOn(log, new graft.model.SchemaRegistry(Map.empty), q, Map.empty)
      .select(col("e").cast("long").as("e"), col("v").cast("long").as("cents"),
        col("tx").cast("long").as("tx"))
  }

  // ── Entity API: pull [*] wildcard ─────────────────────────────────
  /** Datomic's `d/entity` / pull `[*]`: every schema attribute of the
    * root entities, one wide row each. The wildcard expands against
    * the schema registry (stable columns); each attr is one pruned
    * scan joined back on e — N attrs, N keyed joins, no pivot window. */
  def q51_entity_api(s: SparkSession, d: String): DataFrame = {
    import graft.model.{AttrDef, SchemaRegistry}
    def attr(n: String) = n -> AttrDef(n, "string", many = false,
      uniqueIdentity = false, uniqueValue = false, component = false, fulltext = false)
    val reg = new SchemaRegistry(Map(attr("n_name"), attr("n_regionkey")))
    val eav = nationEav(s, d).select(col("e").cast("string").as("e"), col("a"), col("v"))
    graft.query.Pull.pullFrom(eav, reg, Seq(graft.query.Pull.PWild),
        eav.select(col("e")).distinct())
      .select(col("e").cast("int").as("e"), col("n_name").as("name"),
        col("n_regionkey").as("region_key"))
  }

  // ── Fulltext search under the oracle gate ─────────────────────────
  /** Datomic's `fulltext` Datalog function reached FROM QUERY TEXT —
    * `[(fulltext $ :part/name ?needle) [[?e ?v]]]` with the needle as
    * an `:in` parameter, planned through the Datalog engine onto
    * `Explore.fulltextOn`. Parts as an EAV with `part/name`
    * fulltext-indexed and `part/type` NOT; the needle "small" occurs
    * in BOTH — p_name "small ring" and p_type "SMALL" — so the
    * oracle-matched result proves the schema gate: only name datoms
    * come back (only `:db/fulltext true` attrs feed Datomic's index).
    * Tokenization is split-on-non-alphanumeric, lowercased. */
  def q46_fulltext(s: SparkSession, d: String): DataFrame = {
    val eav = part(s, d).select(
      col("p_partkey").cast("string").as("e"),
      expr("stack(2, 'part/name', p_name, 'part/type', p_type)").as(Seq("a", "v")))
    val registry = new graft.model.SchemaRegistry(Map(
      "part/name" -> graft.model.AttrDef("part/name", "string", many = false,
        uniqueIdentity = false, uniqueValue = false, component = false, fulltext = true)))
    val q = graft.query.Datalog.parse(
      """[:find ?e ?v
        | :in $ ?needle
        | :where [(fulltext $ :part/name ?needle) [[?e ?v]]]]""".stripMargin)
    graft.query.Datalog.runOn(eav, registry, q,
        Map("needle" -> graft.edn.Edn.EStr("small")))
      .select(col("e").cast("long").as("e"), lit("part/name").as("a"), col("v"))
  }

  // ── AVET index-range scan ─────────────────────────────────────────
  /** Datomic `d/index-range`: all values of one attribute within a
    * half-open value range, in value order. Orders' price attribute in
    * [$50k, $60k) cents. At 100 TB the filter is attribute-partition
    * pruning + parquet min/max row-group pruning — see
    * `Store.indexRange`; the oracle is a plain range predicate. */
  def q47_index_range(s: SparkSession, d: String): DataFrame = {
    val c = cents(col("o_totalprice"))
    val eav = orders(s, d).select(
      col("o_orderkey").cast("string").as("e"), lit("order/price").as("a"),
      c.cast("string").as("v"), c.as("v_long"),
      lit(false).as("is_ref"), lit(1L).as("tx"), lit(true).as("op"))
    graft.store.Store.indexRange(eav, "order/price", 5000000L, 6000000L)
      .select(col("e").cast("long").as("e"), col("v_long").as("price_cents"))
  }

  // ── :db/cas transaction function ──────────────────────────────────
  /** Compare-and-swap: ops against orders' price attribute — e%4==0
    * ops carry the CORRECT expected value (accepted, price bumps by
    * 100 cents at tx 2), e%4==1 ops carry a stale expected (rejected,
    * error-as-data). Output: op outcome counts + the resolved final
    * total, proving rejected ops did NOT mutate state. */
  def q48_cas(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val c = cents(col("o_totalprice"))
    val state = o.select(
      col("o_orderkey").cast("string").as("e"), lit("order/price").as("a"),
      c.cast("string").as("v"), c.as("v_long"),
      lit(false).as("is_ref"), lit(1L).as("tx"), lit(true).as("op"))
    val k = col("o_orderkey")
    val ops = o.filter(pmod(k, lit(4)) < 2).select(
      col("o_orderkey").cast("string").as("e"), lit("order/price").as("a"),
      when(pmod(k, lit(4)) === 0, c).otherwise(c + 1).cast("string").as("expected"),
      (c + 100).cast("string").as("new_v"), (c + 100).as("new_v_long"))
    val out = graft.store.Store.cas(state, ops, 2L)
    val accepted = out.filter(col("cas_ok"))
      .select("e", "a", "v", "v_long", "is_ref", "tx", "op")
    val finalState = graft.store.Store.resolve(state.unionByName(accepted), Seq.empty)
    out.agg(
        sum(when(col("cas_ok"), 1L).otherwise(0L)).as("n_accepted"),
        sum(when(!col("cas_ok"), 1L).otherwise(0L)).as("n_rejected"))
      .crossJoin(finalState.agg(sum(col("v_long")).cast("long").as("total_cents")))
  }

  // ── :db.fn/retractEntity with component cascade ───────────────────
  /** Entity-wholesale retraction: orders divisible by 100 are
    * retracted at tx 2. The graph: orders own their lineitems via the
    * COMPONENT ref `order/line` (cascade: the lines' own datoms go
    * too), and customers point at orders via the non-component
    * `cust/order` (inbound refs to a dead entity are retracted, the
    * customer itself survives). Output: post-retraction datom counts
    * and sums per attribute — every row class (target datoms, cascaded
    * component datoms, inbound refs, untouched survivors) lands in a
    * different group, so the oracle pins the full semantics.
    *
    * Stage budget at sf0.1 (r8, honest noop-sink measurement —
    * count() had pruned the final aggregate's values): ~3.6–4.9 s
    * isolated, ~6.4 s in-suite under memory pressure. At sf1
    * (15 M-datom log): r9 42.6 s → r10 ~32.5 s (broadcast(dead) pin +
    * a stats split) → r11 ~27 s by replacing the full re-resolve
    * with the live-index merge: the r10 remainder was ~21 s of
    * resolve re-shuffling every datom through two keyed string
    * aggregations; resolveIncrementalHybrid's no-snapshot-shuffle
    * branch turns that into size-guard-pinned broadcast anti-join
    * probes of the batch against a never-reshuffled state scan, plus
    * an attr-pruned re-resolve of the card-one touched keys. At sf10
    * (150 M datoms): 263 → ~220 s, and the decade run is what forced
    * the final shape — the one-pass stats below behind an explicit
    * same-key repartition (fusing scan + probes + partial aggregation
    * maps into one stage OOMed execution memory under the
    * 32-partition local harness) and the EAGER retraction checkpoint.
    * What remains: ~5 s narrow checkpoint (a real store reads parquet
    * here), ~8 s retract closure + dead-datom scan + batch dedupe,
    * and the merged-state stats aggregation. */
  def q49_retract_entity(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val li = lineitem(s, d)
    val oe = concat(lit("o"), col("o_orderkey").cast("string"))
    // the synthetic lineitem is only unique on the full 4-tuple
    // (orderkey, linenumber, partkey, suppkey) — a narrower entity id
    // would alias distinct lines into one entity
    val le = concat(lit("l"), col("l_orderkey").cast("string"), lit("-"),
      col("l_linenumber").cast("string"), lit("-"),
      col("l_partkey").cast("string"), lit("-"), col("l_suppkey").cast("string"))
    val price = cents(col("o_totalprice"))
    val qty = cents(col("l_quantity"))
    def datoms(e: Column, a: String, v: Column, vLong: Column, isRef: Boolean, src: DataFrame) =
      src.select(e.as("e"), lit(a).as("a"), v.cast("string").as("v"),
        vLong.as("v_long"), lit(isRef).as("is_ref"), lit(1L).as("tx"), lit(true).as("op"))
    val loe = concat(lit("o"), col("l_orderkey").cast("string"))
    // materialize the synthesized log ONCE: retractEntityTx reads it
    // for the component edges and the dead-datom scan, and the final
    // resolve reads it again — without the checkpoint the 4-way
    // union-of-scans (with its long concat entity ids) is recomputed
    // by every consumer. A production store reads parquet here, which
    // is already materialized. Checkpoint the NARROW form: tx/op are
    // constants here (asserts at tx 1) and every non-ref v is just
    // its cents rendered as text, so store v only for ref rows and
    // reconstruct the rest — the materialized block and every scan of
    // it carry ~20 fewer bytes per datom.
    val narrow = datoms(oe, "order/price", lit(null), price, isRef = false, o)
      .unionByName(datoms(loe, "order/line", le, lit(null).cast("long"), isRef = true, li))
      .unionByName(datoms(le, "line/qty", lit(null), qty, isRef = false, li))
      .unionByName(datoms(concat(lit("c"), col("o_custkey").cast("string")),
        "cust/order", oe, lit(null).cast("long"), isRef = true, o))
      .drop("tx", "op")
      .localCheckpoint()
    val log = narrow
      .withColumn("v", coalesce(col("v"), col("v_long").cast("string")))
      .withColumn("tx", lit(1L)).withColumn("op", lit(true))
    val targets = o.filter(pmod(col("o_orderkey"), lit(100)) === 0)
      .select(concat(lit("o"), col("o_orderkey").cast("string")).as("e"))
    // materialize the retraction batch ONCE and EAGERLY: the hybrid
    // merge below probes it from five places (touched keys, safe-
    // branch anti joins, delta resolution, full-log union), and a
    // lazy checkpoint would run the state scan + dedupe INSIDE the
    // merge job, stacking its aggregation maps onto the merge
    // stage's execution memory; a production store reads the
    // committed tx batch here
    val retractions = graft.store.Store.retractEntityTx(
      log, targets, componentAttrs = Seq("order/line"), tx = 2L)
      .localCheckpoint()
    val manyAttrs = Seq("order/line", "cust/order")
    // Post-retraction state via the LIVE-INDEX path, not a full
    // re-resolve: the synthesized log (all asserts at tx 1, unique per
    // key by construction) IS the resolved basis snapshot — exactly
    // what a production store maintains — so the retraction batch
    // merges through resolveIncrementalHybrid: card-one retraction
    // keys (∝ the batch) re-resolve from attr-pruned history, the
    // card-many retractions anti-join the snapshot via the
    // no-snapshot-shuffle merge. The old shape re-shuffled all ~15 M
    // datoms (sf1) through resolve's two keyed aggregations — the
    // 21 s line item; state is now scanned with broadcast probes and
    // never re-shuffled, which is the point of a live index.
    val resolved = graft.store.Store.resolveIncrementalHybrid(
      snapshot = log, delta = retractions,
      fullLog = log.unionByName(retractions), manyAttrs = manyAttrs)
      .select(col("a"), col("e"), col("v_long"))
    val isMany = col("a").isInCollection(manyAttrs)
    // Per-attr stats in ONE pass over the merged state, exploiting
    // resolve's postcondition (card-one unique per (e, a), card-many
    // unique per (e, a, v)): group on (a, entity-key-if-many) — all
    // card-one rows of an attr collapse into a single null-key group
    // whose count IS both the datom and entity count; card-many rows
    // take the (a, e) hop their entity count genuinely needs. The
    // previous two-branch shape consumed `resolved` TWICE, running
    // the whole merge DAG concurrently for both branches. The
    // explicit repartition is a FUSION BREAK, not a semantic shuffle:
    // without it the state scan + broadcast probes + this agg's
    // partial hash maps fuse into one stage whose per-task execution
    // memory OOMed at sf10 under the 32-partition local harness;
    // with it the merge stage streams (near-zero memory) and the
    // aggregation owns its stage. Same key as the groupBy, so no
    // second exchange appears.
    resolved
      .select(col("a"), when(isMany, col("e")).as("ek"), col("v_long"))
      .repartition(col("a"), col("ek"))
      .groupBy(col("a"), col("ek"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("v_long")), lit(0L)).as("sv"))
      .groupBy(col("a"))
      .agg(sum(col("n")).cast("long").as("n_datoms"),
        when(col("a").isInCollection(manyAttrs), count(lit(1)))
          .otherwise(sum(col("n"))).cast("long").as("n_entities"),
        sum(col("sv")).cast("long").as("total_v"))
  }

  // ── d/with: speculative transaction ───────────────────────────────
  /** Datomic `d/with` — the what-if database: a speculative tx doubles
    * every 10th order's price; the query reports the BASE total and
    * the WITH total side by side from the same basis state. Nothing is
    * committed: both aggregates read plan-level views (`Store.withDb`
    * composes resolve over state ∪ txData), and the base total in the
    * output is the proof the speculation did not leak into state. */
  def q53_speculative_with(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val c = cents(col("o_totalprice"))
    val state = o.select(
      col("o_orderkey").cast("string").as("e"), lit("order/price").as("a"),
      c.cast("string").as("v"), c.as("v_long"),
      lit(false).as("is_ref"), lit(1L).as("tx"), lit(true).as("op"))
    val txData = o.filter(pmod(col("o_orderkey"), lit(10)) === 0).select(
      col("o_orderkey").cast("string").as("e"), lit("order/price").as("a"),
      (c * 2).cast("string").as("v"), (c * 2).as("v_long"),
      lit(false).as("is_ref"), lit(2L).as("tx"), lit(true).as("op"))
    val base = graft.store.Store.resolve(state, Seq.empty)
      .agg(count(lit(1)).as("n_base"), sum(col("v_long")).cast("long").as("base_cents"))
    val speculative = graft.store.Store.withDb(state, txData, Seq.empty)
      .agg(count(lit(1)).as("n_with"), sum(col("v_long")).cast("long").as("with_cents"))
    base.crossJoin(speculative)
  }

  // ── :db/tupleAttrs: composite tuples ──────────────────────────────
  /** Datomic composite tuples: `order/cust+date` is auto-derived from
    * (order/cust, order/date). With `:db.unique/identity` on the
    * tuple attr, composite-key conflicts are exactly the derived
    * values asserted by more than one entity — the query surfaces
    * them (same-customer-same-day order pairs). Derivation is one
    * groupBy(e) over the two source attrs' partitions; the uniqueness
    * probe is a groupBy on the derived value — both map-side-partial. */
  def q54_tuple_attrs(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val eav = o.select(
      col("o_orderkey").cast("string").as("e"),
      expr("stack(2, 'order/cust', cast(o_custkey as string), " +
        "'order/date', cast(cast(o_orderdate as date) as string))").as(Seq("a", "v")))
    val derived = graft.store.Store.deriveTupleAttr(
      eav, "order/cust+date", Seq("order/cust", "order/date"), tx = 2L)
    derived.groupBy(col("v").as("cust_date"))
      .agg(count(lit(1)).as("n_orders"), min(col("e").cast("long")).as("first_order"))
      .filter(col("n_orders") >= 2)
  }

  // ── :db/ensure: entity specs, all-or-nothing tx ───────────────────
  /** Datomic entity specs: `:db/ensure` runs spec predicates at tx
    * time and one failing entity ABORTS its whole transaction. Orders
    * arrive in batch-of-100 transactions (floor(key/100)); two specs
    * gate them (price cap, comment length). Output: tx-level and
    * entity-level accept/reject totals — entities rejected ONLY
    * because a sibling failed (clean rows in bad txs) are the
    * distinctive column, pinning the all-or-nothing semantics. */
  def q55_ensure_specs(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val checks = Seq(
      "price-cap" -> (cents(col("o_totalprice")) >= 49800000L),
      "pending-low" -> (col("o_orderstatus") === "P" && cents(col("o_totalprice")) < 600000L))
    val out = graft.ops.Validate.ensureTx(o, expr("o_orderkey div 100"), checks)
    // two-level aggregation instead of two countDistincts + sums in one
    // agg: the multi-distinct form plans an Expand (×3 row blow-up of
    // the whole annotated output); per-tx partials then one global agg
    // keep every pass map-side-combinable
    out.groupBy(col("ensure_tx"))
      .agg(first(col("tx_ok")).as("tx_ok"),
        sum(when(col("tx_ok"), 1L).otherwise(0L)).as("acc"),
        sum(when(!col("tx_ok") && size(col("errors")) === 0, 1L).otherwise(0L)).as("coll"),
        sum(when(size(col("errors")) > 0, 1L).otherwise(0L)).as("viol"))
      .agg(
        count(lit(1)).as("n_tx"),
        sum(when(!col("tx_ok"), 1L).otherwise(0L)).as("n_tx_rejected"),
        sum(col("acc")).as("n_accepted"),
        sum(col("coll")).as("n_collateral"),
        sum(col("viol")).as("n_violating"))
  }

  // ── VAET reverse-index scan: who references these entities? ───────
  /** Datomic `d/datoms db :vaet v` — the reverse-ref walk. The graph
    * reuses q49's shape (customers point at orders via `cust/order`,
    * orders own lines via `order/line`); for every 100th order the
    * scan returns ALL inbound ref datoms: the owning customer's edge
    * and nothing else pointing at it, while `order/line` edges point
    * FROM the order (outbound) and must not appear. Aggregated per
    * attribute so the oracle pins both the hit set and the exclusion. */
  def q56_vaet_scan(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val li = lineitem(s, d)
    val oe = concat(lit("o"), col("o_orderkey").cast("string"))
    val le = concat(lit("l"), col("l_orderkey").cast("string"), lit("-"),
      col("l_linenumber").cast("string"))
    def refs(e: Column, a: String, v: Column, src: DataFrame) =
      src.select(e.as("e"), lit(a).as("a"), v.as("v"),
        lit(null).cast("long").as("v_long"), lit(true).as("is_ref"),
        lit(1L).as("tx"), lit(true).as("op"))
    val log = refs(concat(lit("c"), col("o_custkey").cast("string")), "cust/order", oe, o)
      .unionByName(refs(concat(lit("o"), col("l_orderkey").cast("string")),
        "order/line", le, li))
    val targets = o.filter(pmod(col("o_orderkey"), lit(100)) === 0)
      .select(concat(lit("o"), col("o_orderkey").cast("string")).as("e"))
    graft.store.Store.vaet(log, targets)
      .groupBy(col("a"))
      .agg(count(lit(1)).as("n_inbound"),
        countDistinct(col("v")).as("n_targets"),
        countDistinct(col("e")).as("n_sources"))
  }

  // ── Pull options: :limit / :default / :as ─────────────────────────
  /** Datomic pull attribute options over a customer→orders graph:
    * `:default` fills customers without a name, `{(:cust/order
    * :limit 3) […]}` truncates each customer's SORTED order list
    * (deterministic first-3, not arbitrary-3), `:as` renames the
    * nested price column. Arrays flatten to csv for the comparator.
    * Plan shape unchanged from plain pull: one pruned scan + keyed
    * join per pattern entry; the limit slices post-collect (state per
    * group is the collected list — at true scale a pathological fan-out
    * would want a pre-aggregation top-n, which `eio/top`-style
    * windowing covers elsewhere). */
  def q57_pull_options(s: SparkSession, d: String): DataFrame = {
    import graft.model.{AttrDef, SchemaRegistry}
    val o = orders(s, d)
    val ce = concat(lit("c"), col("o_custkey").cast("string"))
    val oe = concat(lit("o"), col("o_orderkey").cast("string"))
    val eav = o.select(ce.as("e"), lit("cust/order").as("a"), oe.as("v"))
      .unionByName(o.select(oe.as("e"), lit("order/price").as("a"),
        cents(col("o_totalprice")).cast("string").as("v")))
      .unionByName(o.filter(pmod(col("o_custkey"), lit(10)) === 0)
        .select(ce.as("e"), lit("cust/name").as("a"),
          concat(lit("name-"), col("o_custkey").cast("string")).as("v")).distinct())
    def attr(n: String, many: Boolean) = n -> AttrDef(n, "string", many = many,
      uniqueIdentity = false, uniqueValue = false, component = false, fulltext = false)
    val reg = new SchemaRegistry(Map(
      attr("cust/order", many = true), attr("cust/name", many = false),
      attr("order/price", many = false)))
    val roots = o.select(ce.as("e")).distinct()
    graft.query.Pull.pullFrom(eav, reg, graft.query.Pull.parsePattern(
        """[(:cust/name :default "unknown")
          | {(:cust/order :limit 3) [(:order/price :as "price")]}]""".stripMargin),
        roots)
      .select(col("e"), col("cust_name").as("name"),
        size(col("cust_order")).cast("long").as("n_orders"),
        concat_ws(",", expr("transform(cust_order, x -> x.price)")).as("prices"))
  }

  // ── Datalog collection aggregates: (min n ?x) ─────────────────────
  /** Datomic's n-ary aggregates return COLLECTIONS — `(min 2 ?n)` is
    * the 2 smallest distinct values per group. Engine side it's a
    * collect_set + sort + slice (bounded output per group); flattened
    * to csv for the comparator. */
  def q59_datalog_agg_n(s: SparkSession, d: String): DataFrame = {
    val q = graft.query.Datalog.parse(
      """[:find ?r (min 2 ?n) (max 1 ?n)
        | :where [?e :n_name ?n]
        |        [?e :n_regionkey ?r]]""".stripMargin)
    graft.query.Datalog.runOn(nationEav(s, d).select(
        col("e").cast("string").as("e"), col("a"), col("v")),
        new graft.model.SchemaRegistry(Map.empty), q, Map.empty)
      .select(col("r").cast("long").as("region_key"),
        concat_ws(",", col("min_2_n")).as("two_smallest"),
        concat_ws(",", col("max_1_n")).as("largest"))
  }

  // ── Seeded sample/rand Datalog aggregates ─────────────────────────
  /** Datomic `(sample n ?x)` / `(rand n ?x)` — the only aggregates
    * Datomic defines as nondeterministic; here the draw is SEEDED by
    * md5 of the value text (sample: n smallest hashes of the distinct
    * set; rand: draw k minimizes md5(value ++ "#k"), so repeats can
    * happen) — deterministic, hence oracle-gated, while keeping the
    * "arbitrary members, not top/bottom" semantics. Per region: 3
    * sampled nation names + 2 rand draws, flattened to csv. */
  def q65_datalog_sample(s: SparkSession, d: String): DataFrame = {
    val q = graft.query.Datalog.parse(
      """[:find ?r (sample 3 ?n) (rand 2 ?n)
        | :where [?e :n_name ?n]
        |        [?e :n_regionkey ?r]]""".stripMargin)
    graft.query.Datalog.runOn(nationEav(s, d).select(
        col("e").cast("string").as("e"), col("a"), col("v")),
        new graft.model.SchemaRegistry(Map.empty), q, Map.empty)
      .select(col("r").cast("long").as("region_key"),
        concat_ws(",", col("sample_3_n")).as("sampled"),
        concat_ws(",", col("rand_2_n")).as("rand_drawn"))
  }

  // ── Pull recursion: {:ref depth} map specs ────────────────────────
  /** Datomic recursive pull — `{:cust/parent 2}`: a parent hierarchy
    * synthesized over customers (k → k div 10, ~4 levels at sf0.1),
    * every entity hydrated with its name and TWO ancestor levels by
    * re-applying the enclosing pattern; the third level renders as the
    * plain ref value (Datomic's depth-exhausted ":db/id only" shape).
    * Each recursion level is one attr-pruned scan + keyed join —
    * depth-bounded static unrolling, no row explosion. Flattened
    * (struct → columns) so the comparator sees scalars. */
  def q60_pull_recursion(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    def cid(k: Column) = concat(lit("c"), k.cast("string"))
    val eav = c.select(cid(col("c_custkey")).as("e"), lit("cust/name").as("a"),
        col("c_name").as("v"))
      .unionByName(c.filter(col("c_custkey") >= 10).select(
        cid(col("c_custkey")).as("e"), lit("cust/parent").as("a"),
        cid(expr("c_custkey div 10")).as("v")))
    val registry = new graft.model.SchemaRegistry(Map(
      "cust/parent" -> graft.model.AttrDef("cust/parent", "ref", many = false,
        uniqueIdentity = false, uniqueValue = false, component = false, fulltext = false)))
    graft.query.Pull.pullFrom(eav, registry,
        graft.query.Pull.parsePattern("[:cust/name {:cust/parent 2}]"),
        eav.filter(col("a") === "cust/name").select("e"))
      .select(col("e"),
        col("cust_name").as("name"),
        col("cust_parent.cust_name").as("parent_name"),
        col("cust_parent.cust_parent.cust_name").as("gp_name"),
        col("cust_parent.cust_parent.cust_parent").as("ggp_id"))
  }

  // ── Pull :xform: whitelisted per-attribute transforms ─────────────
  /** Datomic pull's `:xform` option — a per-attribute transform fn
    * applied to stored values post-read, resolved by NAME from the
    * registered whitelist (the `:db/fn` discipline: query text can
    * only reference installed functions). Over q57's customer→orders
    * graph: names upper-case via `str/upper-case` — while missing
    * names fill with the UNtransformed `:default` (pinning Datomic's
    * xform-before-default ordering, 'NAME-…' vs lowercase 'unknown') —
    * and nested order prices parse to longs via `parse-long`, so the
    * 2-smallest slice sorts NUMERICALLY and sums engine-side without a
    * cast. Plan shape identical to plain pull: xform is a scan-side
    * projection. */
  def q72_pull_xform(s: SparkSession, d: String): DataFrame = {
    import graft.model.{AttrDef, SchemaRegistry}
    val o = orders(s, d)
    val ce = concat(lit("c"), col("o_custkey").cast("string"))
    val oe = concat(lit("o"), col("o_orderkey").cast("string"))
    val eav = o.select(ce.as("e"), lit("cust/order").as("a"), oe.as("v"))
      .unionByName(o.select(oe.as("e"), lit("order/price").as("a"),
        cents(col("o_totalprice")).cast("string").as("v")))
      .unionByName(o.filter(pmod(col("o_custkey"), lit(10)) === 0)
        .select(ce.as("e"), lit("cust/name").as("a"),
          concat(lit("name-"), col("o_custkey").cast("string")).as("v")).distinct())
    def attr(n: String, many: Boolean) = n -> AttrDef(n, "string", many = many,
      uniqueIdentity = false, uniqueValue = false, component = false, fulltext = false)
    val reg = new SchemaRegistry(Map(
      attr("cust/order", many = true), attr("cust/name", many = false),
      attr("order/price", many = false)))
    val roots = o.select(ce.as("e")).distinct()
    graft.query.Pull.pullFrom(eav, reg, graft.query.Pull.parsePattern(
        """[(:cust/name :default "unknown" :xform str/upper-case)
          | {(:cust/order :limit 2) [(:order/price :as "price" :xform parse-long)]}]""".stripMargin),
        roots)
      .select(col("e"), col("cust_name").as("name"),
        size(col("cust_order")).cast("long").as("n2"),
        expr("aggregate(transform(cust_order, x -> x.price), 0L, (acc, p) -> acc + p)")
          .as("sum_price2"))
  }

  // ── :db/tupleAttrs transactor maintenance, end-to-end ─────────────
  /** The composite-tuple WRITE path (Datomic's transactor maintains
    * `:db/tupleAttrs` whenever a source attr changes), composed
    * statelessly over three synthesized transactions:
    *  tx1 asserts cust + day for every order → composites derive;
    *  tx2 shifts every 10th order's day by +30 → those composites
    *      supersede (touch ANY source → re-derive);
    *  tx3 retracts every 100th order's full source history → their
    *      composites retract (orphan cleanup).
    * tx1 loads every 3rd order only, so some tx2-touched entities
    * have a day but no cust — their composites carry a nil slot,
    * pinning partial-source derivation too. Output pins all the
    * behaviors: retracted orders contribute no tuple, shifted
    * orders' tuples disagree with the base day, and `total_day` sums
    * the day SLOT decoded back out of the tuple text (round-trip
    * through the shared encoding). Day values are epoch days (no
    * date-format parity risk). Stage budget: three sequential
    * maintenance rounds — each resolves only attr-pruned,
    * touched-entity state (batch-bounded, the appendWithTupleAttrs
    * shape) — plus the final resolve; the cost IS the transactional
    * write machinery under test, ~linear in batch sizes. */
  def q73_tuple_maintenance(s: SparkSession, d: String): DataFrame = {
    import graft.store.Store
    val o = orders(s, d)
    val oe = concat(lit("o"), col("o_orderkey").cast("string"))
    val day = unix_date(col("o_orderdate").cast("date")).cast("long")
    def dat(a: String, v: Column, tx: Long, op: Boolean, src: DataFrame) =
      src.select(oe.as("e"), lit(a).as("a"), v.cast("string").as("v"),
        lit(null).cast("long").as("v_long"), lit(false).as("is_ref"),
        lit(tx).as("tx"), lit(op).as("op"))
    val T = "order/cust+day"
    val srcs = Seq("order/cust", "order/day")
    val loaded = o.filter(pmod(col("o_orderkey"), lit(3)) === 0)
    val b1 = dat("order/cust", concat(lit("c"), col("o_custkey").cast("string")), 1L, op = true, loaded)
      .unionByName(dat("order/day", day, 1L, op = true, loaded))
    val upd = o.filter(pmod(col("o_orderkey"), lit(10)) === 0)
    val b2 = dat("order/day", day + 30, 2L, op = true, upd)
    val ret = o.filter(pmod(col("o_orderkey"), lit(100)) === 0)
    val b3 = dat("order/cust", concat(lit("c"), col("o_custkey").cast("string")), 3L, op = false, ret)
      .unionByName(dat("order/day", day, 3L, op = false, ret))
      .unionByName(dat("order/day", day + 30, 3L, op = false, ret))
    // b1 is a projection of the orders scan — recompute beats
    // materializing 300k rows; log2/log3 DO checkpoint (each embeds
    // the previous maintenance output, which must not re-execute in
    // every downstream resolve)
    val log1 = b1
    val m1 = Store.tupleMaintenanceTx(log1, b1, T, srcs, 1L)
    val log2 = log1.unionByName(m1).unionByName(b2).localCheckpoint()
    val m2 = Store.tupleMaintenanceTx(log2, b2, T, srcs, 2L)
    val log3 = log2.unionByName(m2).unionByName(b3).localCheckpoint()
    val m3 = Store.tupleMaintenanceTx(log3, b3, T, srcs, 3L)
    val cur = Store.resolve(log3.unionByName(m3), Seq.empty)
      .filter(col("a") === T)
      .select(col("e"), Store.tupleSlot(col("v"), 1, "long").as("tday"))
    cur.join(o.select(oe.as("e"), day.as("base_day")), Seq("e"))
      .agg(count(lit(1)).as("n_tuples"),
        sum(when(col("tday") =!= col("base_day"), 1L).otherwise(0L)).as("n_shifted"),
        sum(col("tday")).cast("long").as("total_day"))
  }

  // ── :db/noHistory trimming, end-to-end ────────────────────────────
  /** Datomic's churn valve gated against the oracle: heartbeats are a
    * noHistory attribute asserted at tx1 (`h1`, every order),
    * superseded at tx2 (`h2`, every 2nd) and retracted at tx3 (every
    * 10th — whose `h1` then RESURFACES as the visible value, the
    * engine's documented resolution). `dropNoHistory` must reduce the
    * heartbeat rows to exactly the one visible datom per entity —
    * superseded values, retracted values, and retraction markers all
    * gone — while `order/price` history passes through untouched.
    * The oracle states the expected OUTCOME per value class (h2
    * survives iff superseded-and-not-retracted), so any trim slip —
    * a marker kept, a superseded value kept, a resurface missed —
    * breaks counts. Trim shuffles key on the noHistory attr's datoms
    * only; the price rows never re-shuffle. */
  def q74_nohistory(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val c = cents(col("o_totalprice"))
    val hb = "order/heartbeat"
    val log = orderLog(o, c, 1L, vLong = c, op = Some(true))
      .unionByName(orderLog(o, lit("h1"), 1L, a = hb, op = Some(true)))
      .unionByName(orderLog(o.filter(pmod(col("o_orderkey"), lit(2)) === 0),
        lit("h2"), 2L, a = hb, op = Some(true)))
      .unionByName(orderLog(o.filter(pmod(col("o_orderkey"), lit(10)) === 0),
        lit("h2"), 3L, a = hb, op = Some(false)))
    graft.store.Store.dropNoHistory(log, Seq("order/heartbeat"), Seq.empty)
      .groupBy(col("a"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(col("v_long")), lit(0L)).cast("long").as("total_cents"),
        sum(when(col("v") === "h1", 1L).otherwise(0L)).as("n_h1"),
        sum(when(col("v") === "h2", 1L).otherwise(0L)).as("n_h2"))
  }

  // ── Hybrid incremental resolve, end-to-end ────────────────────────
  /** The live-index maintenance path gated against the oracle: a
    * snapshot resolved at basis tx2 merges a tx3 delta carrying the
    * FULL mix of shapes — card-one re-asserts, card-one RETRACTIONS
    * (the hybrid carve-out: their older value must resurface from
    * pre-snapshot history the snapshot no longer carries), card-many
    * retractions and asserts — via `resolveIncrementalHybrid`, and
    * the result must equal full resolution computed independently by
    * DuckDB. Population design keeps every shape disjoint where it
    * matters (the re-assert set excludes the retraction set, so
    * resurfacing is actually observable). Output: per-attr datom
    * count, price total, and per-tag-value counts. */
  def q75_incremental_hybrid(s: SparkSession, d: String): DataFrame = {
    import graft.store.Store
    val o = orders(s, d)
    val c = cents(col("o_totalprice"))
    val k = col("o_orderkey")
    // NOTE (round 12): materializing hist/delta here was tried and
    // REVERTED — recomputing these scan-rooted projection unions per
    // hybrid consumer is CHEAPER than one checkpoint write + wide
    // block re-reads (sf1 matched A/B: checkpointed q75 ran ~20%
    // slower). Materialization pays only for expensive-per-row or
    // data-collapsing subtrees (see d60/d28/mm10).
    val tag = "order/tag"
    val hist = orderLog(o, c, 1L, vLong = c, op = Some(true))
      .unionByName(orderLog(o.filter(pmod(k, lit(4)) === 0), c * 2, 2L,
        vLong = c * 2, op = Some(true)))
      .unionByName(orderLog(o, lit("t1"), 1L, a = tag, op = Some(true)))
      .unionByName(orderLog(o.filter(pmod(k, lit(3)) === 0), lit("t2"), 2L,
        a = tag, op = Some(true)))
    val delta = orderLog(o.filter(pmod(k, lit(5)) === 0 && pmod(k, lit(20)) =!= 0),
        c * 3, 3L, vLong = c * 3, op = Some(true))
      .unionByName(orderLog(o.filter(pmod(k, lit(20)) === 0), c * 2, 3L,
        vLong = c * 2, op = Some(false))) // card-one retraction → hybrid
      .unionByName(orderLog(o.filter(pmod(k, lit(6)) === 0), lit("t2"), 3L,
        a = tag, op = Some(false)))
      .unionByName(orderLog(o.filter(pmod(k, lit(7)) === 0), lit("t3"), 3L,
        a = tag, op = Some(true)))
    val many = Seq(tag)
    val snapshot = Store.resolve(hist, many).localCheckpoint()
    val full = hist.unionByName(delta)
    Store.resolveIncrementalHybrid(snapshot, delta, full, many)
      .groupBy(col("a"))
      .agg(count(lit(1)).as("n_datoms"),
        coalesce(sum(col("v_long")), lit(0L)).cast("long").as("total_cents"),
        sum(when(col("v") === "t1", 1L).otherwise(0L)).as("n_t1"),
        sum(when(col("v") === "t2", 1L).otherwise(0L)).as("n_t2"),
        sum(when(col("v") === "t3", 1L).otherwise(0L)).as("n_t3"))
  }

  // ── Query-map :offset/:limit one-shot page ────────────────────────
  /** Datomic client query-map pagination — `d/q {:query … :offset 100
    * :limit 50}`: the Datalog result paged in ONE bounded job
    * (`Datalog.page` — distinct tuple set, deterministic qseq order,
    * TakeOrderedAndProject(offset, limit): top-(offset+limit) per
    * partition then a driver merge — no full sort, no full collect,
    * the same plan shape at any corpus size). The oracle replays the
    * identical ORDER BY/LIMIT/OFFSET over the string-typed EAV
    * projection, so the page boundary itself is gated. */
  def q76_query_page(s: SparkSession, d: String): DataFrame = {
    val eav = orders(s, d).select(col("o_orderkey").cast("string").as("e"),
      expr("stack(2, 'o_custkey', cast(o_custkey as string), " +
        "'o_priority', o_orderpriority)").as(Seq("a", "v")))
    val q = graft.query.Datalog.parse(
      """[:find ?e ?cust ?prio
        | :where [?e :o_custkey ?cust]
        |        [?e :o_priority ?prio]]""".stripMargin)
    graft.query.Datalog.page(
        graft.query.Datalog.runOn(eav,
          new graft.model.SchemaRegistry(Map.empty), q, Map.empty),
        offset = 100, limit = 50)
      .select(col("e").cast("long").as("order_key"),
        col("cust").cast("long").as("cust_key"), col("prio").as("priority"))
  }

  // ── Exotic value types: bytes / bigint / bigdec ───────────────────
  /** `:db.type/bytes` + bigint + bigdec through the store's typed
    * lanes, end-to-end: a 3-slot tuple (bigint beyond Long range,
    * an 18-scale bigdec, an md5 blob) is ENCODED into the tuple text
    * form (`Store.tupleDatoms` — canonical decimal renderings, base64
    * for bytes), pushed through `resolve`, DECODED back
    * (`Store.tupleSlot`), and aggregated. The oracle computes the
    * same aggregates directly from the source columns, so any
    * precision loss or canonicalization drift in the encode/decode
    * round trip breaks the hash. Map-only encode + the resolve
    * machinery + one aggregate — nothing here shuffles wider at
    * scale than resolve itself. */
  def q77_typed_values(s: SparkSession, d: String): DataFrame = {
    import graft.store.Store
    val o = orders(s, d)
    // ×10^13 pushes the top orderkeys past Long.MaxValue — a true
    // bigint, unrepresentable in the v_long lane
    val big = col("o_orderkey").cast("decimal(38,0)") *
      lit("10000000000000").cast("decimal(38,0)")
    val dec18 = col("o_totalprice").cast("decimal(18,2)").cast("decimal(38,18)")
    val blob = unhex(md5(concat(col("o_orderstatus"), col("o_orderkey").cast("string"))))
    val datoms = Store.tupleDatoms(o, col("o_orderkey").cast("string"),
      "order/exotic", Seq(big, dec18, blob),
      Seq("bigint", "bigdec", "bytes"), tx = 1L)
    val decoded = Store.resolve(datoms, Seq.empty).select(
      Store.tupleSlot(col("v"), 0, "bigint").as("bi"),
      Store.tupleSlot(col("v"), 1, "bigdec").as("bd"),
      Store.tupleSlot(col("v"), 2, "bytes").as("by"))
    decoded.agg(
      count(lit(1)).as("n"),
      min(col("bi")).cast("string").as("min_bigint"),
      max(col("bi")).cast("string").as("max_bigint"),
      sum(col("bd")).cast("decimal(38,18)").cast("string").as("sum_bigdec"),
      min(base64(col("by"))).as("min_blob_b64"),
      max(base64(col("by"))).as("max_blob_b64"))
  }

  // ── Datalog mutual recursion ──────────────────────────────────────
  /** Mutually recursive rules — `hop-a`/`hop-b` alternate over two
    * edge types (supplier→nation via :locA, nation→region via :locB),
    * each rule recursing through the OTHER. The engine evaluates the
    * strongly-connected rule pair with a joint semi-naive fixpoint
    * (per-rule deltas, one job per rule per round). hop-a =
    * direct supplier→nation edges plus supplier→region through hop-b.
    * The oracle is the equivalent two-hop union — wrong SCC handling
    * (missing second-hop pairs or duplicated rounds) breaks the hash. */
  def q62_datalog_mutual(s: SparkSession, d: String): DataFrame = {
    val eav = supplier(s, d).select(
        concat(lit("s"), col("s_suppkey").cast("string")).as("e"),
        lit("locA").as("a"),
        concat(lit("n"), col("s_nationkey").cast("string")).as("v"))
      .unionByName(nation(s, d).select(
        concat(lit("n"), col("n_nationkey").cast("string")).as("e"),
        lit("locB").as("a"),
        concat(lit("r"), col("n_regionkey").cast("string")).as("v")))
    val rules = graft.query.Datalog.parseRules(
      """[[(hop-a ?x ?y) [?x :locA ?y]]
        | [(hop-a ?x ?y) [?x :locA ?z] (hop-b ?z ?y)]
        | [(hop-b ?x ?y) [?x :locB ?y]]
        | [(hop-b ?x ?y) [?x :locB ?z] (hop-a ?z ?y)]]""".stripMargin)
    val q = graft.query.Datalog.parse("[:find ?x ?y :where (hop-a ?x ?y)]")
    graft.query.Datalog
      .runOn(eav, new graft.model.SchemaRegistry(Map.empty), q, Map.empty, rules)
      .select(col("x").as("src"), col("y").as("dst"))
  }

  // ── Index-pull: paged entity reads in AVET order ──────────────────
  /** Datomic `d/index-pull` — page through entities by attribute
    * value: the first 100 orders priced at-or-above $50k, in (value,
    * entity) index order, each pulled with price + priority. The page
    * is a TakeOrderedAndProject over the attr-pruned scan (no full
    * sort); the pulls join against the 100-row page only. Ties at the
    * page boundary break on the entity key's STRING order — the same
    * order `Store.datoms`' AVET surface promises. */
  def q63_index_pull(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val c = cents(col("o_totalprice"))
    val eav = o.select(col("o_orderkey").cast("string").as("e"),
        lit("order/price").as("a"), c.cast("string").as("v"), c.as("v_long"),
        lit(false).as("is_ref"), lit(1L).as("tx"), lit(true).as("op"))
      .unionByName(o.select(col("o_orderkey").cast("string").as("e"),
        lit("order/priority").as("a"), col("o_orderpriority").as("v"),
        lit(null).cast("long").as("v_long"), lit(false).as("is_ref"),
        lit(1L).as("tx"), lit(true).as("op")))
    graft.store.Store.indexPull(eav, new graft.model.SchemaRegistry(Map.empty),
        "order/price", vFrom = 5000000L, limit = 100,
        graft.query.Pull.parsePattern("[:order/price :order/priority]"))
      .select(col("e").cast("long").as("e"), col("avet_v").as("price_cents"),
        col("order_priority").as("priority"))
  }

  // ── As-of by wall clock: :db/txInstant ────────────────────────────
  /** Datomic `d/as-of` with a DATE — "state as of <date>", the form
    * auditors actually ask for. The log carries `:db/txInstant` datoms
    * on its tx entities (tx 1 = 2020-01-15, tx 2 = 2020-03-10);
    * `Store.txAtInstant` resolves each date horizon to the latest tx
    * at-or-before it (one aggregate over the txInstant partition), and
    * the usual resolution runs at those txes. Horizons: mid-February
    * (between txes → tx 1) and the EXACT second instant (inclusive
    * boundary → tx 2) — a `<` instead of `<=` flips the second group's
    * totals, so the oracle pins the boundary rule. */
  def q61_asof_instant(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val c = cents(col("o_totalprice"))
    def txInstant(ms: Long, tx: Long) = s.range(1).select(
      lit(s"tx|$tx").as("e"), lit(graft.store.Store.txInstantAttr).as("a"),
      lit(java.time.Instant.ofEpochMilli(ms).toString).as("v"), lit(ms).as("v_long"),
      lit(false).as("is_ref"), lit(tx).as("tx"), lit(true).as("op"))
    val t1 = java.time.Instant.parse("2020-01-15T00:00:00Z").toEpochMilli
    val t2 = java.time.Instant.parse("2020-03-10T00:00:00Z").toEpochMilli
    val log = orderLog(o, c, 1L, vLong = c, op = Some(true))
      .unionByName(orderLog(o, c * 2, 2L, vLong = c * 2, op = Some(true))
        .filter(pmod(col("e").cast("long"), lit(10)) === 0))
      .unionByName(txInstant(t1, 1L))
      .unionByName(txInstant(t2, 2L))
    val horizons = Seq(
      java.time.Instant.parse("2020-02-01T00:00:00Z").toEpochMilli,
      t2 // exact boundary: at-or-before is INCLUSIVE
    ).map(ms => ms -> graft.store.Store.txAtInstant(log,
      new java.util.Date(ms)))
    val resolved = graft.store.Store
      .resolveAtHorizons(log, horizons.map(_._2), Seq.empty)
      .filter(col("a") === "order/price")
      .groupBy(col("asof_tx"))
      .agg(count(lit(1)).as("n_entities"),
        sum(col("v_long")).cast("long").as("total_cents"))
    resolved.select(
        when(col("asof_tx") === horizons(0)._2, horizons(0)._1)
          .otherwise(horizons(1)._1).as("asof_ms"),
        col("n_entities"), col("total_cents"))
  }

  // ── Excision: physical erasure including history ──────────────────
  /** Datomic `:db/excise` — the GDPR tool: over a two-tx price log
    * (tx 1 all orders, tx 2 every 10th doubled), every 20th order is
    * EXCISED. Resolving the excised log at BOTH horizons shows the
    * erased entities are gone from history itself (an as-of view
    * before the excision tx no longer sees them — exactly where
    * retraction and excision differ), while one audit datom per
    * target records that an excision happened. */
  def q58_excision(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val c = cents(col("o_totalprice"))
    val log = orderLog(o, c, 1L, vLong = c, op = Some(true))
      .unionByName(orderLog(o.filter(pmod(col("o_orderkey"), lit(10)) === 0),
        c * 2, 2L, vLong = c * 2, op = Some(true)))
    val targets = o.filter(pmod(col("o_orderkey"), lit(20)) === 0)
      .select(col("o_orderkey").cast("string").as("e"))
    val excised = graft.store.Store.excise(log, targets, tx = 3L)
    val audits = excised.filter(col("a") === "db/excise")
      .agg(count(lit(1)).as("n_audit"))
    graft.store.Store.resolveAtHorizons(
        excised.filter(col("a") =!= "db/excise"), Seq(1L, 2L), Seq.empty)
      .groupBy(col("asof_tx"))
      .agg(count(lit(1)).as("n_entities"),
        sum(col("v_long")).cast("long").as("total_cents"))
      .crossJoin(audits)
  }

  // ── Typed heterogeneous tuples ────────────────────────────────────
  /** `:db.type/tuple` + `:db/tupleTypes` — directly-asserted compound
    * values (vs q54's DERIVED composite `:db/tupleAttrs`): each
    * customer asserts one `cust/seg+nation` tuple `[segment nation]`
    * with slot types (string, long). The query round-trips — asserts
    * through `Store.tupleDatoms` (typed render, nil for nulls),
    * resolves, decodes both slots back out with `Store.tupleSlot`,
    * and aggregates on them — so a broken encode OR decode breaks the
    * oracle hash. Map-only datom build; one groupBy on the decoded
    * slot. */
  def q64_typed_tuples(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val datoms = graft.store.Store.tupleDatoms(
      c, col("c_custkey").cast("string"), "cust/seg+nation",
      Seq(col("c_mktsegment"), col("c_nationkey")),
      Seq("string", "long"), tx = 1L)
    val resolved = graft.store.Store.resolve(datoms, Seq.empty)
    resolved
      .select(graft.store.Store.tupleSlot(col("v"), 0, "string").as("segment"),
        graft.store.Store.tupleSlot(col("v"), 1, "long").as("nk"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("nk")).cast("long").as("nation_sum"))
  }

  // ── :db.attr/preds per-attribute predicates ───────────────────────
  /** Datomic `:db.attr/preds`: schema-declared predicates fire on
    * every assert of their attribute. Two attrs from orders — price
    * (cents) under `price-positive` ∧ `price-cap`, priority under
    * `priority-not-low` — with real violations in the data (orders
    * above the cap; 5-LOW priorities). Output: per-attr datom and
    * rejection counts. The check itself (`ops/Validate.attrPreds`) is
    * one codegen'd projection — a zero-shuffle scan pass at any
    * scale; only this summary aggregates. */
  def q67_attr_preds(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val c = cents(col("o_totalprice"))
    val price = o.select(
      col("o_orderkey").cast("string").as("e"), lit("order/price").as("a"),
      c.cast("string").as("v"), c.as("v_long"),
      lit(false).as("is_ref"), lit(1L).as("tx"), lit(true).as("op"))
    val prio = o.select(
      col("o_orderkey").cast("string").as("e"), lit("order/priority").as("a"),
      col("o_orderpriority").as("v"), lit(null).cast("long").as("v_long"),
      lit(false).as("is_ref"), lit(1L).as("tx"), lit(true).as("op"))
    val preds = Map(
      "order/price" -> Seq(
        "price-positive" -> (col("v_long") > 0),
        "price-cap" -> (col("v_long") < 50000000L)),
      "order/priority" -> Seq(
        "priority-not-low" -> (col("v") =!= "5-LOW")))
    graft.ops.Validate.attrPreds(price.unionByName(prio), preds)
      .groupBy(col("a"))
      .agg(count(lit(1)).as("n_datoms"),
        sum(when(size(col("errors")) > 0, 1L).otherwise(0L)).as("n_rejected"))
  }

  // ── :db/fn named transaction functions ────────────────────────────
  /** `:db/fn`: a custom `acct/inc-balance` tx function INSTALLED next
    * to the built-ins (`db/cas`, `db.fn/retractEntity` —
    * `store/TxFns.builtins`) and invoked as tx data: every order
    * entity holds a balance (cents, tx 1); the function reads each
    * argument entity's CURRENT balance from the pre-tx state and
    * asserts balance+amount at tx 2 for orders divisible by 7. The
    * final resolved totals prove the function saw real state (not
    * just its args) and that non-argument entities are untouched.
    * Plan: the fn body is one keyed join of args against the pruned
    * balance scan — ops ≪ store, broadcast at scale. */
  def q68_tx_fn(s: SparkSession, d: String): DataFrame = {
    import graft.store.{Store, TxFns}
    val o = orders(s, d)
    val c = cents(col("o_totalprice"))
    val state = o.select(
      col("o_orderkey").cast("string").as("e"), lit("acct/balance").as("a"),
      c.cast("string").as("v"), c.as("v_long"),
      lit(false).as("is_ref"), lit(1L).as("tx"), lit(true).as("op"))
    val incBalance: TxFns.TxFn = (ctx, args) => {
      val cur = ctx.state.filter(col("a") === "acct/balance")
        .select(col("e"), col("v_long").as("__cur"))
      args.join(cur, Seq("e"), "left")
        .select(col("e"), lit("acct/balance").as("a"),
          (coalesce(col("__cur"), lit(0L)) + col("amount")).cast("string").as("v"),
          (coalesce(col("__cur"), lit(0L)) + col("amount")).as("v_long"),
          lit(false).as("is_ref"), lit(ctx.tx).as("tx"), lit(true).as("op"))
    }
    val fns = TxFns.builtins.install("acct/inc-balance", incBalance)
    val args = o.filter(pmod(col("o_orderkey"), lit(7)) === 0)
      .select(col("o_orderkey").cast("string").as("e"), lit(100L).as("amount"))
    val ctx = TxFns.TxCtx(state, new graft.model.SchemaRegistry(Map.empty), 2L)
    val txDatoms = TxFns.expand(ctx, fns, Seq("acct/inc-balance" -> args))
    Store.resolve(state.unionByName(txDatoms), Seq.empty)
      .agg(count(lit(1)).as("n_entities"),
        sum(col("v_long")).cast("long").as("total_cents"))
  }

  // ── d/seek-datoms: paged index cursor from an arbitrary point ─────
  /** Datomic `d/seek-datoms`: start at an AVET point and iterate to
    * the index END, crossing the attribute boundary (what separates it
    * from `d/datoms`' equality components). Store: two attributes —
    * `order/cust` and `order/price` (cents) — seek from
    * (`order/cust`, 1_490) takes the tail of the cust index
    * AND continues into price (alphabetically after), proving the
    * boundary crossing; the 200-row page bounds the plan
    * (TakeOrderedAndProject, never a global sort). */
  def q69_seek_datoms(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val c = cents(col("o_totalprice"))
    val price = o.select(
      col("o_orderkey").cast("string").as("e"), lit("order/price").as("a"),
      c.cast("string").as("v"), c.as("v_long"),
      lit(false).as("is_ref"), lit(1L).as("tx"), lit(true).as("op"))
    val cust = o.select(
      col("o_orderkey").cast("string").as("e"), lit("order/cust").as("a"),
      col("o_custkey").cast("string").as("v"),
      col("o_custkey").as("v_long"),
      lit(false).as("is_ref"), lit(1L).as("tx"), lit(true).as("op"))
    graft.store.Store.seekDatoms(cust.unionByName(price), "avet",
        "order/cust", 1490L, 200)
      .select(col("a"), col("v_long"), col("e"))
  }

  // ── query-stats: per-clause row counts of the join frame ──────────
  /** Datomic `:query-stats` analog over a 3-clause query (pattern →
    * numeric predicate → second pattern): `runOnWithStats` reports the
    * join frame's row count AFTER each top-level clause — the "which
    * clause exploded" diagnostic. The gated output is the stats table
    * itself; the oracle recomputes each frame's cardinality
    * relationally, pinning the engine's intermediate semantics (not
    * just its final answer). Stats are collected driver-side (one
    * bounded count job per clause — a DEBUG surface, priced in the
    * docstring of runOnWithStats). */
  def q70_query_stats(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val c = cents(col("o_totalprice"))
    val eav = o.select(
        col("o_orderkey").cast("string").as("e"), lit("order/price").as("a"),
        c.cast("string").as("v"))
      .unionByName(o.select(
        col("o_orderkey").cast("string").as("e"), lit("order/priority").as("a"),
        col("o_orderpriority").as("v")))
    val q = graft.query.Datalog.parse(
      """[:find ?e ?p
        | :where [?e :order/price ?p]
        |        [(> ?p 20000000)]
        |        [?e :order/priority "1-URGENT"]]""".stripMargin)
    val (_, stats) = graft.query.Datalog.runOnWithStats(
      eav, new graft.model.SchemaRegistry(Map.empty), q, Map.empty)
    import s.implicits._
    stats.map(st => (st.idx.toLong, st.rowsOut)).toDF("clause_idx", "rows_out")
  }

  // ── d/filter: predicate-filtered database value ───────────────────
  /** Datomic `d/filter`: a db VALUE every read sees through a datom
    * predicate — here a redaction filter hiding `order/priority =
    * "5-LOW"` datoms. The same Datalog query (count per priority,
    * total price of surviving entities' price datoms) runs over the
    * filtered value unchanged; the filtered-out priority group is
    * simply absent, while OTHER attributes of those entities survive
    * (the predicate is per-datom, not per-entity — Datomic's
    * semantic). Catalyst pushes the predicate to the scan: the
    * filtered view is free. */
  def q71_filtered_db(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val c = cents(col("o_totalprice"))
    val eav = o.select(
        col("o_orderkey").cast("string").as("e"), lit("order/price").as("a"),
        c.cast("string").as("v"))
      .unionByName(o.select(
        col("o_orderkey").cast("string").as("e"), lit("order/priority").as("a"),
        col("o_orderpriority").as("v")))
    val redacted = graft.store.Store.filteredDb(eav,
      !(col("a") === "order/priority" && col("v") === "5-LOW"))
    val q = graft.query.Datalog.parse(
      """[:find ?p (count ?e)
        | :where [?e :order/priority ?p]]""".stripMargin)
    graft.query.Datalog.runOn(
        redacted, new graft.model.SchemaRegistry(Map.empty), q, Map.empty)
      .select(col("p").as("priority"), col("count_e").as("n_orders"))
  }

  // ── Log API: d/tx-range ───────────────────────────────────────────
  /** Datomic's log API — `(d/tx-range log from until)` — gated
    * end-to-end: a four-transaction log (bulk price assert, partial
    * re-assert, status asserts, status RETRACTS) is cut to the
    * half-open window [2, 4) and folded into per-transaction reports
    * (Datomic's `{:t …, :data […]}` seq, one row per t): datom count,
    * assert/retract split, distinct-entity count, and the payload sum
    * — so both the window boundary (tx1 and tx4 must be absent) and
    * the datom payloads inside it are hash-gated. On the persisted
    * store the same filter rides tx-column row-group stats: a log-tail
    * walk reads the tail. The retract split matters: a log consumer
    * (cache invalidation, CDC fan-out) treats op=false datoms
    * differently, and an engine that dropped or mis-flagged them
    * would still pass a count-only gate. */
  def q78_log_tx_range(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val k = col("o_orderkey")
    def ev(a: String, v: Column, vl: Column, tx: Long, op: Boolean, pred: Column) =
      o.filter(pred).select(k.cast("string").as("e"), lit(a).as("a"),
        v.cast("string").as("v"), vl.cast("long").as("v_long"),
        lit(false).as("is_ref"), lit(tx).as("tx"), lit(op).as("op"))
    val c = cents(col("o_totalprice"))
    val log = ev("order/price", c, c, 1L, op = true, lit(true))
      .unionByName(ev("order/price", c * 2, c * 2, 2L, op = true, pmod(k, lit(10)) === 0))
      .unionByName(ev("order/status", col("o_orderstatus"), lit(null), 3L, op = true,
        pmod(k, lit(20)) === 0))
      .unionByName(ev("order/status", col("o_orderstatus"), lit(null), 4L, op = false,
        pmod(k, lit(50)) === 0))
    graft.store.Store.txRange(log, 2L, 4L)
      .groupBy(col("tx").as("t"))
      .agg(count(lit(1)).as("n_datoms"),
        sum(when(col("op"), 1L).otherwise(0L)).as("n_asserts"),
        sum(when(col("op"), 0L).otherwise(1L)).as("n_retracts"),
        countDistinct(col("e")).as("n_entities"),
        coalesce(sum(col("v_long")), lit(0L)).cast("long").as("sum_v"))
  }

  // ── Partitions: eid encoding, locality, recovery ──────────────────
  /** Datomic partitions end-to-end: five user partitions are
    * installed (`:db.install/partition` order fixes their indices at
    * `:db.part/user`+1 …), every order is placed by market-segment
    * partition with a DENSE in-partition t (row_number by orderkey —
    * the transactor's per-partition allocation counter), and eids are
    * composed as `(part-idx << 42) | t` (`Store.entidAt`). The gate
    * then RECOVERS partition and t from the composed eids alone
    * (`Store.partIdxOf`/`tOf` — Datomic `d/part`) and audits, per
    * partition: entity count, eid range, density (max_t − min_t + 1 =
    * n ⇒ the allocator skipped nothing), and recovery (every eid maps
    * back to its partition). min/max eid land in the output, so the
    * bit layout itself is hash-gated — an engine that composed with
    * the wrong shift or signed overflow breaks the range values, not
    * just a boolean. Locality at scale: same-partition entities are
    * CONTIGUOUS in eid space, so sorting datoms by eid clusters each
    * partition into its own parquet row groups and an eid range
    * predicate (one partition's entities) prunes to them. */
  def q79_partitions(s: SparkSession, d: String): DataFrame = {
    import graft.store.Store
    val parts = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val partIdx = parts.zipWithIndex
      .foldLeft(lit(null).cast("long")) { case (acc, (seg, i)) =>
        when(col("c_mktsegment") === seg, lit(Store.partUser + 1 + i)).otherwise(acc) }
    val placed = orders(s, d)
      .join(customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), partIdx.as("part_idx"))
      .withColumn("t", row_number().over(
        Window.partitionBy(col("part_idx")).orderBy(col("o_orderkey"))).cast("long"))
      .withColumn("eid", Store.entidAt(col("part_idx"), col("t")))
    placed
      .select(col("part_idx"), col("eid"),
        Store.partIdxOf(col("eid")).as("part_rec"), Store.tOf(col("eid")).as("t_rec"),
        col("t"))
      .groupBy(col("part_idx"))
      .agg(count(lit(1)).as("n_entities"),
        min(col("eid")).as("min_eid"), max(col("eid")).as("max_eid"),
        (max(col("t_rec")) - min(col("t_rec")) + 1 === count(lit(1))).as("dense"),
        (sum(when(col("part_rec") === col("part_idx") && col("t_rec") === col("t"), 1L)
          .otherwise(0L)) === count(lit(1))).as("recovered"))
  }

  // ── History audit: attribute transitions with tx wall-clock ───────
  /** The canonical Datomic audit query — "what did this attribute
    * change FROM and TO, and WHEN": `(d/history db)` filtered to one
    * card-one attr, consecutive asserts per entity paired with a lag
    * window over tx order, each transition joined to its transaction's
    * `:db/txInstant` (every Datomic tx stamps one). Exercises the
    * history view + tx-entity metadata + ordered windows together —
    * none of q30/q52 pairs old→new values. Output is the sampled
    * entities' full transition list (old cents, new cents, tx,
    * wall-clock millis). Scale shape: the history scan prunes to ONE
    * attribute's partition, the per-entity window is rows ∝ that
    * attr's history, and the txInstant side is |txes| rows —
    * broadcast. The sample predicate bounds the OUTPUT, not the scan,
    * exactly like a production audit (`filter` pushes to the scan). */
  def q80_history_audit(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val k = col("o_orderkey")
    val c = cents(col("o_totalprice"))
    def ev(v: Column, tx: Long, pred: Column) = o.filter(pred)
      .select(k.cast("string").as("e"), lit("order/price").as("a"),
        v.cast("string").as("v"), v.cast("long").as("v_long"),
        lit(false).as("is_ref"), lit(tx).as("tx"), lit(true).as("op"))
    val log = ev(c, 1L, lit(true))
      .unionByName(ev(c * 2, 2L, pmod(k, lit(10)) === 0))
      .unionByName(ev(c * 3, 3L, pmod(k, lit(100)) === 0))
    // tx entities: one :db/txInstant per transaction, as the loader stamps
    val txInstants = s.range(1, 4).select(
      concat(lit("tx|"), col("id")).as("e"), lit(graft.store.Store.txInstantAttr).as("a"),
      lit(null).cast("string").as("v"),
      (lit(1700000000000L) + col("id") * 86400000L).as("v_long"),
      lit(false).as("is_ref"), col("id").as("tx"), lit(true).as("op"))
    val full = log.unionByName(txInstants)
    val hist = full.filter(col("a") === "order/price") // attr-partition prune
    val w = Window.partitionBy(col("e")).orderBy(col("tx"))
    val transitions = hist
      .withColumn("prev_cents", lag(col("v_long"), 1).over(w))
      .filter(col("prev_cents").isNotNull)
    val instants = full.filter(col("a") === graft.store.Store.txInstantAttr)
      .select(col("tx").as("itx"), col("v_long").as("tx_ms"))
    transitions
      .join(broadcast(instants), col("tx") === col("itx"))
      .filter(pmod(col("e").cast("long"), lit(500)) === 0) // bound the OUTPUT
      .select(col("e").cast("long").as("order_key"), col("tx"),
        col("prev_cents"), col("v_long").as("new_cents"), col("tx_ms"))
  }

  // ── Backup-restore audit: cold rebuild ≡ live view ────────────────
  /** The restore-verification run a production deployment does after
    * `restore-db`: rebuild current state COLD from the full log
    * (`Store.resolve` — the restore path) and compare it, in-engine,
    * against the LIVE incrementally-maintained view
    * (`resolveIncrementalHybrid` over a basis snapshot + delta — the
    * path the running system serves reads from). The two answers come
    * from different code paths with different shuffle shapes, so
    * `agrees` is a real independent cross-check, not a tautology; the
    * DuckDB oracle pins the restored values themselves by replaying
    * Datomic visibility semantics from the generation rules. The
    * fixture exercises the edges q75's does not: a STALE retraction
    * (names a never-asserted value — must no-op), card-one
    * re-assert AFTER a retraction (newest assert wins over the
    * resurfaced elder), and card-many re-assert of a retracted value
    * (visible again) plus re-assert of a PRESENT value (set
    * semantics — no duplicate row). Comparison is by per-attr count/
    * sum plus an order-independent bit_xor checksum over (e,v)
    * hashes — O(state) with no sort, the way you'd diff two 100 TB
    * snapshots. */
  def q81_restore_audit(s: SparkSession, d: String): DataFrame = {
    import graft.store.Store
    val o = orders(s, d)
    val oe = col("o_orderkey").cast("string")
    val c = cents(col("o_totalprice"))
    val k = col("o_orderkey")
    def dat(a: String, v: Column, vl: Column, tx: Long, op: Boolean, pred: Column) =
      o.filter(pred).select(oe.as("e"), lit(a).as("a"), v.cast("string").as("v"),
        vl.as("v_long"), lit(false).as("is_ref"), lit(tx).as("tx"), lit(op).as("op"))
    val t = lit(true)
    // NOTE (round 12): hist/delta materialization tried and REVERTED
    // (see q75's note — recompute of scan-rooted unions beat the
    // checkpoint at sf1; ~8 M sf0.1 input records re-read is cheaper
    // than it looks next to a wide block write)
    val hist = dat("order/price", c, c, 1L, op = true, t)
      .unionByName(dat("order/price", c * 2, c * 2, 2L, op = true, pmod(k, lit(4)) === 0))
      .unionByName(dat("order/tag", lit("t1"), lit(null).cast("long"), 1L, op = true, t))
      .unionByName(dat("order/tag", lit("t2"), lit(null).cast("long"), 2L, op = true,
        pmod(k, lit(3)) === 0))
    val delta = dat("order/price", c * 3, c * 3, 3L, op = true,
        pmod(k, lit(5)) === 0 && pmod(k, lit(20)) =!= 0)
      .unionByName(dat("order/price", c * 2, c * 2, 3L, op = false,
        pmod(k, lit(20)) === 0))                     // card-one retract → resurface
      .unionByName(dat("order/tag", lit("t1"), lit(null).cast("long"), 3L, op = false,
        pmod(k, lit(9)) === 0))
      .unionByName(dat("order/tag", lit("t2"), lit(null).cast("long"), 3L, op = false,
        pmod(k, lit(6)) === 0))
      .unionByName(dat("order/price", lit(999L), lit(999L), 4L, op = false,
        pmod(k, lit(11)) === 0))                     // STALE retract — must no-op
      .unionByName(dat("order/price", c * 4, c * 4, 4L, op = true,
        pmod(k, lit(40)) === 0))                     // re-assert after retract
      .unionByName(dat("order/tag", lit("t1"), lit(null).cast("long"), 4L, op = true,
        pmod(k, lit(18)) === 0))                     // t1 back for some retractees
      .unionByName(dat("order/tag", lit("t2"), lit(null).cast("long"), 4L, op = true,
        pmod(k, lit(12)) === 0))                     // mix of resurrect + set no-op
    val many = Seq("order/tag")
    val full = hist.unionByName(delta)
    val restored = Store.resolve(full, many)                       // cold path
    val snapshot = Store.resolve(hist, many).localCheckpoint()
    val live = Store.resolveIncrementalHybrid(snapshot, delta, full, many)
    def audit(df: DataFrame) = df.groupBy(col("a")).agg(
      count(lit(1)).as("n_datoms"),
      coalesce(sum(col("v_long")), lit(0L)).cast("long").as("total_cents"),
      sum(when(col("v") === "t1", 1L).otherwise(0L)).as("n_t1"),
      sum(when(col("v") === "t2", 1L).otherwise(0L)).as("n_t2"),
      expr("bit_xor(xxhash64(concat(e, '|', coalesce(v, ''))))").as("chk"))
    audit(restored).as("r").join(audit(live).as("l"), Seq("a"))
      .select(col("a"), col("r.n_datoms").as("n_datoms"),
        col("r.total_cents").as("total_cents"),
        col("r.n_t1").as("n_t1"), col("r.n_t2").as("n_t2"),
        (col("r.n_datoms") === col("l.n_datoms") &&
          col("r.total_cents") === col("l.total_cents") &&
          col("r.chk") === col("l.chk")).as("agrees"))
  }

  // ── Live schema alteration: card flip + unique gate + ident rename ─
  /** Datomic schema-change semantics end-to-end on one log
    * (docs.datomic.com "Schema Change" — alterations are LIVE, never
    * migrations): `order/status` starts card-ONE ("S1" everywhere at
    * tx1, "S2" replaces it on even keys at tx2), is flipped to
    * card-MANY at tx2 and RENAMED to `order/state`; tx3 asserts
    * accumulate ("S3" on key%3=0), tx4 retractions exercise the three
    * edges the flip creates: a real set-remove ("S2" on key%4=0, all
    * of which hold it), a retract of a value only SOME holders carry
    * ("S1" on key%5=0 — real on odd multiples, stale on even ones
    * whose "S1" was auto-retracted by the pre-flip card-one write),
    * and — via those even multiples — the superseded-value no-op.
    * Alongside, the `:db/unique` addition gate runs as of the
    * alteration basis: `order/code` (one distinct value per order)
    * passes with zero conflicts; `order/status` fails with exactly
    * the two colliding values ("S1" odd keys, "S2" even keys). The
    * old ident keeps resolving through the alias map (`alias_same`
    * compares the two read paths).
    *
    * Scale shape: the flip is [[graft.store.SchemaAlter.resolveCardFlip]]'s
    * two-phase read — prefix collapse + incremental suffix merge, one
    * pass over each log half; the unique gate is one map-side-combined
    * agg over a single attr partition; the rename is a view rewrite,
    * O(read) not O(history). All metrics fold in one aggregation over
    * the resolved state (no per-metric rescans). */
  def q82_schema_alter(s: SparkSession, d: String): DataFrame = {
    import graft.store.SchemaAlter
    val o = orders(s, d)
    val oe = col("o_orderkey").cast("string")
    val k = col("o_orderkey")
    def dat(a: String, v: Column, tx: Long, op: Boolean, pred: Column) =
      o.filter(pred).select(oe.as("e"), lit(a).as("a"), v.cast("string").as("v"),
        lit(null).cast("long").as("v_long"), lit(false).as("is_ref"),
        lit(tx).as("tx"), lit(op).as("op"))
    val t = lit(true)
    val log = dat("order/status", lit("S1"), 1L, op = true, t)
      .unionByName(dat("order/code", oe, 1L, op = true, t))
      .unionByName(dat("order/status", lit("S2"), 2L, op = true, pmod(k, lit(2)) === 0))
      .unionByName(dat("order/status", lit("S3"), 3L, op = true, pmod(k, lit(3)) === 0))
      .unionByName(dat("order/status", lit("S2"), 4L, op = false, pmod(k, lit(4)) === 0))
      .unionByName(dat("order/status", lit("S1"), 4L, op = false, pmod(k, lit(5)) === 0))
    val alterTx = 2L
    val aliases = Map("order/status" -> "order/state")
    val flipped = SchemaAlter.resolveCardFlip(log, "order/status", alterTx, Seq.empty)
    val state = SchemaAlter.renameAttr(flipped, "order/status", "order/state")
      .localCheckpoint()
    val basis = graft.store.Store.resolve(log.filter(col("tx") <= alterTx), Seq.empty)
    val codeOk = SchemaAlter.uniqueConflicts(basis, "order/code")
      .agg(count(lit(1)).as("v")).select(lit("uniq_code_conflicts").as("metric"), col("v"))
    val statusBad = SchemaAlter.uniqueConflicts(basis, "order/status")
      .agg(count(lit(1)).as("v")).select(lit("uniq_status_conflicts").as("metric"), col("v"))
    val st = state.filter(col("a") === "order/state")
    val counts = st.agg(
        sum(when(col("v") === "S1", 1L).otherwise(0L)).as("n_s1"),
        sum(when(col("v") === "S2", 1L).otherwise(0L)).as("n_s2"),
        sum(when(col("v") === "S3", 1L).otherwise(0L)).as("n_s3"),
        count(lit(1)).as("n_states"))
      .select(expr("stack(4, 'n_s1', n_s1, 'n_s2', n_s2, 'n_s3', n_s3, " +
        "'n_states', n_states)").as(Seq("metric", "v")))
    val multi = st.groupBy(col("e")).agg(count(lit(1)).as("n"))
      .agg(sum(when(col("n") >= 2, 1L).otherwise(0L)).as("v"))
      .select(lit("n_multi").as("metric"), col("v"))
    // old ident still resolves: the alias read path must see the same
    // datoms as the new-ident path
    val viaAlias = st.filter(col("a") === SchemaAlter.canonical(aliases, "order/status"))
    val aliasSame = viaAlias.agg(count(lit(1)).as("na"))
      .crossJoin(st.agg(count(lit(1)).as("nn")))
      .select(lit("alias_same").as("metric"),
        when(col("na") === col("nn"), 1L).otherwise(0L).as("v"))
    counts.unionByName(multi).unionByName(codeOk).unionByName(statusBad)
      .unionByName(aliasSame)
      .select(col("metric"), col("v").cast("long").as("value"))
  }

  // ── AVET as a physical layout: build + pruned range read ─────────
  /** Datomic's AVET index materialized as a parquet LAYOUT
    * ([[graft.store.IndexLayout]]): the resolved state range-clusters
    * on (a, v_long) and persists; the `d/index-range` read then comes
    * back as a scan whose predicates push down onto files that are
    * disjoint in exactly those keys — file skipping + row-group
    * skipping do the segment-tree's job (PlanSpec pins the pushdown;
    * this query gates the values end-to-end through a build → read
    * round trip). Two attributes share the layout so the a-filter has
    * something real to prune: `order/price` (queried) and
    * `order/bucket` (dead weight the layout must skip).
    *
    * Scale shape: the build is one range-shuffle of state + parallel
    * writes (no driver path); the read touches only the files whose
    * (a, v_long) range intersects [5e6, 6e6) — on a 100 TB store
    * that is the difference between a full-index scan and a few
    * segments, identical in spirit to Datomic's segment fetch. */
  def q83_avet_layout(s: SparkSession, d: String): DataFrame = {
    import graft.store.IndexLayout
    val o = orders(s, d)
    val c = cents(col("o_totalprice"))
    val k = col("o_orderkey")
    def dat(a: String, vl: Column) = o.select(
      col("o_orderkey").cast("string").as("e"), lit(a).as("a"),
      vl.cast("string").as("v"), vl.cast("long").as("v_long"),
      lit(false).as("is_ref"), lit(1L).as("tx"), lit(true).as("op"))
    val state = dat("order/price", c).unionByName(dat("order/bucket", pmod(k, lit(1000))))
    val path = scratchDir("avet", d)
    IndexLayout.materializeAvet(state, path, buckets = 16)
    IndexLayout.avetRange(s, path, "order/price", 5000000L, 6000000L)
      .agg(count(lit(1)).as("n_datoms"),
        sum(col("v_long")).cast("long").as("total_cents"),
        min(col("v_long")).as("min_cents"), max(col("v_long")).as("max_cents"))
  }

  // ── Inverted posting-list layout: build + term-pruned search ─────
  /** Datomic's fulltext index as a PHYSICAL layout (the q83/X143
    * discipline applied to text): build an inverted posting table —
    * one (term, doc_id, tf) row per distinct term per document —
    * range-clustered on the term's xxhash64 and persisted; a search
    * then reads ONLY the files whose term_hash range covers the
    * queried terms (IN-list pushdown + file/row-group statistics =
    * the inverted index's seek), never the corpus. Conjunctive
    * two-term query: docs containing BOTH terms, scored by summed
    * term frequency, deterministic top-100 (score desc, doc_id).
    *
    * Scale shape: the build is one explode + count shuffle and a
    * range-shuffle write (both ∝ corpus tokens, embarrassingly
    * parallel); the search is bounded by the two terms' posting
    * lists — on a 100 TB corpus that is KBs of postings read vs a
    * full-text scan, exactly the economics Datomic buys by keeping
    * Lucene beside the store. The oracle replays tokenize + filter +
    * conjunction + scoring from the raw table. */
  def q84_inverted_fulltext(s: SparkSession, d: String): DataFrame = {
    import graft.store.IndexLayout
    val terms = Seq("spark", "join")
    val path = scratchDir("postings", d)
    IndexLayout.materializePostings(documents(s, d), "doc_id", "text", path,
      buckets = 16)
    IndexLayout.postingsLookup(s, path, terms)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("score"))
      .filter(col("n_terms") === terms.size)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(100)
      .select(col("doc_id"), col("n_terms"), col("score"))
  }

  def q84OracleSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '')) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok
      |  WHERE term IN ('spark', 'join') GROUP BY 1, 2)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |  CAST(sum(tf) AS BIGINT) AS score
      |FROM tf GROUP BY doc_id HAVING count(*) = 2
      |ORDER BY score DESC, doc_id LIMIT 100""".stripMargin

  // ── Z-order clustered layout: two-dimensional pruning ────────────
  /** Multi-dimensional clustering (lakehouse Z-ORDER) under the
    * oracle gate: events persisted ordered by the Morton interleave
    * of (user_id, ts-minute) — `zorder64`, a codegen expression —
    * so each file's min/max statistics are narrow in BOTH columns,
    * and the rectangle query below (a user band × a time window)
    * prunes at the scan in both dimensions at once. 1-D clustering
    * (q83's AVET discipline) can only serve one access path; the
    * events table is queried by user AND by time, which is exactly
    * the case Z-order exists for. The z key lives only at write
    * time — the read filters the RAW columns, so both predicates
    * stay pushable (PlanSpec pins both in PushedFilters).
    *
    * Scale shape: the build is one range-shuffle + parallel write
    * (∝ rows, no driver path); the read touches only files whose
    * (user, minute) rectangle intersects the query's — on a 100 TB
    * event store the difference between scanning everything and a
    * few row groups. The oracle replays filter + aggregate off the
    * raw table, proving the layout changes nothing semantically. */
  def q85_zorder_events(s: SparkSession, d: String): DataFrame = {
    import graft.store.IndexLayout
    val minuteNs = 60L * 1000 * 1000 * 1000
    val path = scratchDir("zorder", d)
    IndexLayout.materializeZorder(
      events(s, d).withColumn("ts_min", expr(s"ts div $minuteNs")),
      "user_id", "ts_min", path, buckets = 16)
    spark_read(s, path)
      .filter(col("user_id") >= 100 && col("user_id") < 200 &&
        col("ts") >= lit(1704067200L * 1000000000L) &&
        col("ts") < lit(1704672000L * 1000000000L))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        money(col("value")).as("sum_cents"),
        min(col("event_id")).as("min_event"), max(col("event_id")).as("max_event"))
  }

  private def spark_read(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)

  def q85OracleSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_cents,
      |  min(event_id) AS min_event, max(event_id) AS max_event
      |FROM events
      |WHERE user_id >= 100 AND user_id < 200
      |  AND ts >= CAST('2024-01-01 00:00:00' AS TIMESTAMP)
      |  AND ts < CAST('2024-01-08 00:00:00' AS TIMESTAMP)""".stripMargin

  // ── Time-series resample → gap-fill → rolling window ─────────────
  /** The standard time-series pipeline over the event stream:
    * downsample to per-(user, day) buckets, DENSIFY the day axis so
    * every user carries every day of the table's span (gap days as
    * explicit zero rows — rolling windows are wrong without them),
    * then a 3-day rolling sum per user. All declarative: the day
    * spine is `sequence(min_day, max_day)` exploded from the global
    * single-row bounds aggregate and broadcast-crossed with the
    * distinct-user set (spine size = users × days — proportional to
    * the OUTPUT, which is inherent to gap-fill, never to the event
    * count); the rolling sum is one window pass over the densified
    * frame, partitioned by user so the sort is per-user-sized. The
    * money discipline keeps every value an integer cents long — the
    * rolling sum is exact on both engines. */
  def q86_resample_gapfill(s: SparkSession, d: String): DataFrame = {
    val dayNs = 86400L * 1000 * 1000 * 1000
    val ev = events(s, d)
      .select(col("user_id"), expr(s"ts div $dayNs").as("day"), col("value"))
    val agg = ev.groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n"), money(col("value")).as("cents"))
    val days = ev.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(expr("sequence(lo, hi)")).as("day"))
    val spine = ev.select(col("user_id")).distinct()
      .crossJoin(broadcast(days))
    val filled = spine.join(agg, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("cents"), lit(0L)).as("cents"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(-2, 0)
    filled.withColumn("cents_3d", sum(col("cents")).over(w))
  }

  def q86OracleSql: String =
    """WITH d AS (
      |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day, value FROM events),
      |agg AS (
      |  SELECT user_id, day, CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM d GROUP BY 1, 2),
      |b AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
      |spine AS (
      |  SELECT u.user_id, s.day
      |  FROM (SELECT DISTINCT user_id FROM d) u, b,
      |    unnest(generate_series(b.lo, b.hi)) AS s(day)),
      |f AS (
      |  SELECT spine.user_id, spine.day,
      |    coalesce(n, 0) AS n, coalesce(cents, 0) AS cents
      |  FROM spine LEFT JOIN agg USING (user_id, day))
      |SELECT user_id, day, n, cents,
      |  CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY day
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS cents_3d
      |FROM f""".stripMargin

  // ── PageRank over the page-transition graph ───────────────────────
  /** Iterative graph scoring under the oracle gate: consecutive
    * events per user (ordered by ts, event_id) define weighted
    * page-transition edges on the ~|pages| node set; three PageRank
    * rounds follow, in INTEGER basis points (scale 1e6, floor
    * division at exactly the same points on both engines — the d51
    * float-parity discipline, so the gate is exact, not tolerance-
    * based). Shape per round: ranks ⋈ edges (ranks is |nodes| rows),
    * one groupBy(dst) agg — the Pregel/GraphX economics re-expressed
    * as keyed re-aggs of a static edge relation. The
    * edge build is one window pass over events (user-partitioned);
    * rounds are BOUNDED (fixed 3) and never collect — at 100 TB the
    * per-round cost is one shuffle of |edges| contributions.
    *
    * The rank/out-degree tables are ∝ |nodes|, which is DATA-
    * DEPENDENT: small here (a bounded page universe), unbounded on an
    * arbitrary event log. So the broadcast is a size-GUARDED hint,
    * not unconditional (the [[graft.store.Store.retractEntityTx]]
    * `broadcastDeadMaxRows` discipline): node count is measured once
    * (one cheap distinct-count over the edge keys, amortized across
    * all 3 rounds) and oversize graphs fall back to shuffle joins —
    * rank-partitioned SortMergeJoin per round, correct at any scale.
    * Dangling-node leakage is accepted identically on both engines
    * (the standard simplification). */
  def q87_pagerank(s: SparkSession, d: String): DataFrame =
    q87_pagerankGuarded(s, d, broadcastRanksMaxRows = 5000000L)

  def q87_pagerankGuarded(s: SparkSession, d: String,
      broadcastRanksMaxRows: Long): DataFrame = {
    val scale = 1000000L
    val ev = events(s, d).select(col("user_id"),
      regexp_extract(col("props"), "([0-9]+)", 1).cast("long").as("page"),
      col("ts"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = ev
      .withColumn("src", lag(col("page"), 1).over(w))
      .filter(col("src").isNotNull)
      .groupBy(col("src"), col("page").as("dst"))
      .agg(count(lit(1)).as("w"))
      // rounds re-probe a static relation: materialize it once
      .localCheckpoint(false)
    val outW = edges.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .localCheckpoint(false)
    val nNodes = nodes.count() // feeds the broadcast-size guard
    def hinted(df: DataFrame): DataFrame =
      if (nNodes <= broadcastRanksMaxRows) broadcast(df) else df
    var ranks = nodes.withColumn("rank", lit(scale))
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(hinted(ranks), edges("src") === ranks("node"))
        .join(hinted(outW), "src")
        .select(col("dst"),
          expr("rank * w div wout").as("c")) // integral div: exact, both engines
        .groupBy(col("dst")).agg(sum(col("c")).as("cs"))
      ranks = nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          (lit(150000L) +
            expr("85 * coalesce(cs, 0L) div 100")).as("rank"))
    }
    ranks.select(col("node"), col("rank"))
  }

  def q87OracleSql: String = {
    // one PageRank round as SQL (rank table name parameterized) —
    // generated so Spark's loop and the oracle's unroll cannot drift
    def round(prev: String, next: String): String =
      s"""$next AS (
         |  SELECT n.node,
         |    150000 + CAST(85 * coalesce(c.cs, 0) // 100 AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst, SUM(CAST(r.rank * e.w // o.wout AS BIGINT)) AS cs
         |    FROM edges e JOIN $prev r ON r.node = e.src
         |      JOIN outw o ON o.src = e.src
         |    GROUP BY e.dst) c ON c.dst = n.node)""".stripMargin
    s"""WITH ev AS (
       |  SELECT user_id, CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS page,
       |    ts, event_id FROM events),
       |seq AS (
       |  SELECT user_id, page AS dst,
       |    lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
       |  FROM ev),
       |edges AS (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM seq
       |  WHERE src IS NOT NULL GROUP BY 1, 2),
       |outw AS (SELECT src, SUM(w) AS wout FROM edges GROUP BY 1),
       |nodes AS (
       |  SELECT DISTINCT src AS node FROM edges
       |  UNION SELECT DISTINCT dst FROM edges),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
       |${round("r0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")}
       |SELECT node, rank FROM r3""".stripMargin
  }

  // ── Index tail-merge compaction (Datomic's background indexing) ──
  /** Datomic never rebuilds an index per transaction — the log tail
    * accumulates and the background indexing job merges it into the
    * sorted segments, touching only the segments the tail lands in.
    * q88 gates that lifecycle end-to-end on the bucketed layout
    * ([[graft.store.IndexLayout.materializeAvetBucketed]]): build the
    * AVET from the first 80% of orders (the "indexed" state), merge
    * the remaining 20% as a tail ([[graft.store.IndexLayout
    * .compactTail]] — reads only tail-touched bucket directories,
    * dynamic-partition-overwrite rewrites only those), then a range
    * read over the compacted index (directory pruning from the
    * boundary sidecar + row-group pushdown within survivors). The
    * oracle computes the same range aggregate from ALL orders — so
    * the gate proves compaction lost nothing, duplicated nothing,
    * and the pruned read sees exactly the merged state. Compaction
    * cost ∝ touched buckets + tail, never index size
    * (IndexLayoutSpec pins that untouched directories are not
    * rewritten). */
  def q88_index_compaction(s: SparkSession, d: String): DataFrame = {
    import graft.store.IndexLayout
    val c = cents(col("o_totalprice"))
    val all = orders(s, d).select(
      col("o_orderkey").cast("string").as("e"), lit("order/price").as("a"),
      c.cast("string").as("v"), c.cast("long").as("v_long"),
      lit(false).as("is_ref"), lit(1L).as("tx"), lit(true).as("op"))
    val base = all.filter(col("e").cast("long") % 5 =!= 0)
    val tail = all.filter(col("e").cast("long") % 5 === 0)
    val path = scratchDir("avetc", d)
    IndexLayout.materializeAvetBucketed(base, path, buckets = 16)
    IndexLayout.compactTail(s, path, tail)
    IndexLayout.avetRangeBucketed(s, path, "order/price", 5000000L, 6000000L)
      .agg(count(lit(1)).as("n_datoms"),
        sum(col("v_long")).cast("long").as("total_cents"),
        countDistinct(col("e")).as("n_entities"),
        min(col("v_long")).as("min_cents"), max(col("v_long")).as("max_cents"))
  }

  def q88OracleSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_datoms,
      |  CAST(sum(c) AS BIGINT) AS total_cents,
      |  CAST(count(DISTINCT k) AS BIGINT) AS n_entities,
      |  CAST(min(c) AS BIGINT) AS min_cents, CAST(max(c) AS BIGINT) AS max_cents
      |FROM (SELECT o_orderkey AS k,
      |        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |      FROM orders)
      |WHERE c >= 5000000 AND c < 6000000""".stripMargin

  // ── Multi-way join (star): lineitem ⋈ orders ⋈ customer ⋈ nation ──
  /** Partial-aggregation pushdown through the join, by hand (Catalyst
    * does not push aggs through joins): revenue is additive per
    * order, so lineitem COLLAPSES to one row per orderkey BEFORE
    * touching the join chain — the widest shuffle moves |orders|
    * narrow partials (orderkey, rev, n) instead of |lineitem| wide
    * rows (4× fewer rows at every SF; exactness is decimal partials
    * re-summed, associative). Join strategy stays the optimizer's:
    * customer broadcasts while it fits and flips to SMJ when it
    * grows — the correct behavior at 100×. */
  def q20_star_join(s: SparkSession, d: String): DataFrame = {
    val perOrder = lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_extendedprice")) *
          (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))).as("rev"),
        count(lit(1)).as("nl"))
    perOrder
      .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg((sum(col("rev")) * 10000).cast("long").as("revenue"),
        sum(col("nl")).as("n_lines"))
  }
}
