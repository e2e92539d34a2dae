package graft.store

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.SchemaRegistry

/** Append-only EAV log on parquet + current-state view — the target
  * "database" (reference: Datomic Cloud; SURVEY §1.1 "entity graph").
  *
  * Scale posture: the log is append-only and partitioned by attribute
  * (`a`) — Datomic's AEVT analog — so attribute-filtered scans prune
  * partitions and loads never rewrite history (no read-modify-write of
  * a growing store). [[append]] is the only writer. Idempotency
  * state (applied batch ids) lives IN the log as datoms on the tx
  * entity, exactly like the reference (`already-transacted`,
  * batch.clj:46-60) — there is no separate ledger to drift.
  */
final class Store(spark: SparkSession, val dir: String) {

  private val eavPath = s"$dir/eav"

  /** Whether the log has been written. Asked through Hadoop FileSystem
    * — the store dir can be `file:`, `hdfs:` or an object store;
    * `java.io.File` would silently break everything but local disk. */
  def exists: Boolean = {
    val p = new org.apache.hadoop.fs.Path(eavPath)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** The log, read with the fixed `Store.schema`: no schema-inference
    * job per read. Files written before retraction support have no
    * `op` column; their rows read as asserts. */
  def eav: DataFrame =
    if (exists) spark.read.schema(Store.schema).parquet(eavPath)
      .withColumn("op", coalesce(col("op"), lit(true)))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Store.schema)

  /** Appends datoms to the log: the store's only writer (`Loader.load`
    * calls it; a retraction is a datom with `op` = false). Precondition:
    * every tx is non-negative (checked per row; a negative one fails
    * the write). */
  def append(datoms: DataFrame): Unit = {
    Store.withOp(datoms).withColumn("tx", Store.checkedTx)
      .select(Store.schema.fieldNames.map(col): _*)
      .write.mode(SaveMode.Append).partitionBy("a").parquet(eavPath)
    markSnapshotStale()
  }

  /** Applied batch ids (J5 input): datoms asserting the batch-id attr. */
  def appliedBatchIds: DataFrame =
    eav.filter(col("a") === graft.model.Mbrainz.batchIdAttr)
      .select(col("v").as("batch_id")).distinct()

  /** Wide relational view of one entity namespace — the reference's
    * `metaschema/mbrainz.edn` relational view (attrs as tables, refs
    * as joins; SURVEY.md §1.3), read-only over [[current]]: pivot the
    * current-state EAV rows of `ns/...` attrs into one row per entity.
    * Card-many attrs become sorted arrays. The pivot is a single
    * groupBy(e); attribute partition pruning keeps the scan to the
    * namespace's partitions. */
  def entityTable(registry: SchemaRegistry, ns: String): DataFrame = {
    val attrs = registry.attrs.values.filter(_.ident.startsWith(ns + "/")).toSeq.sortBy(_.ident)
    require(attrs.nonEmpty, s"no attrs in namespace $ns")
    val cur = current(registry).filter(col("a").isInCollection(attrs.map(_.ident)))
    val aggs = attrs.map { ad =>
      val picked = when(col("a") === ad.ident, col("v"))
      val colName = ad.ident.substring(ns.length + 1)
      if (ad.many) sort_array(collect_set(picked)).as(colName)
      else max(picked).as(colName) // exactly one post-resolution value
    }
    cur.groupBy(col("e")).agg(aggs.head, aggs.tail: _*)
  }

  /** SQL surface of the reference's `metaschema/mbrainz.edn`
    * relational view: registers `eav`, `eav_current`, and one wide
    * [[entityTable]] per entity namespace (artist, release, …) as temp
    * views so the whole store is queryable via `spark.sql(...)`.
    * Read-only; nothing here writes the log. */
  def registerViews(registry: SchemaRegistry): Unit = {
    eav.createOrReplaceTempView("eav")
    current(registry).createOrReplaceTempView("eav_current")
    registry.attrs.keys.map(_.takeWhile(_ != '/')).filter(_.nonEmpty).toSet
      .filterNot(Set("db", "mbrainz.initial-import"))
      .foreach { ns =>
        entityTable(registry, ns).createOrReplaceTempView(ns.replace('.', '_'))
      }
  }

  /** Cached resolved snapshot behind `current` — Datomic's live-index-
    * vs-log distinction: the log is the durable record, the current
    * view is a MAINTAINED index, not something every query rebuilds.
    * Without it each query pays a full-log resolve; with it the first
    * `current` call materializes the snapshot and every later read
    * scans it. Keyed by the registry's card-many attr set
    * (a different registry is a different resolution). Marked stale
    * by `append` and brought up to date by the next read. On a cluster
    * the same role is played by persisting to storage, but a
    * session-level persisted view is the right default for a
    * query-heavy workload. */
  @transient private var snapshot: Option[(Set[String], DataFrame)] = None
  // incremental-maintenance state: the snapshot's basis tx and the
  // log's row count when it was built (metadata-only to recompute),
  // plus a staleness flag set by appends instead of a full invalidate
  @transient private var snapBasis: Long = 0L
  @transient private var snapRows: Long = 0L
  @transient private var snapStale: Boolean = false
  /** Test observability: whether the last `current` call merged
    * incrementally (vs serving the cache or fully re-resolving). */
  @transient private[graft] var lastCurrentIncremental: Boolean = false

  /** Appends don't discard the maintained snapshot — they mark it
    * stale; the next `current` read merges the log TAIL into it
    * (`Store.resolveIncremental`) instead of re-resolving history. */
  private def markSnapshotStale(): Unit = synchronized { snapStale = true }

  /** Current-state view: card-many attrs accumulate (distinct union),
    * card-one attrs resolve last-writer-wins by tx (`Store.resolve`,
    * one shuffle). Served from the maintained snapshot when the
    * store hasn't changed since the last call. */
  def current(registry: SchemaRegistry): DataFrame = synchronized {
    val many = registry.attrs.values.filter(_.many).map(_.ident).toSet
    def rebuild(): DataFrame = {
      snapshot.foreach(_._2.unpersist(blocking = false))
      // one log listing: the row count and the basis tx come from one
      // aggregate over the same DataFrame the resolve reads
      val log = eav
      val g = log.agg(count(lit(1)), max(col("tx"))).collect()(0)
      val df = Store.resolve(log, many.toSeq.sorted)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      snapshot = Some((many, df)); snapRows = g.getLong(0)
      snapBasis = if (g.isNullAt(1)) 0L else g.getLong(1)
      snapStale = false; lastCurrentIncremental = false
      df
    }
    snapshot match {
      case Some((k, df)) if k == many && !snapStale => df
      case Some((k, df)) if k == many =>
        // incremental maintenance is only sound if EVERY new row is in
        // the tx > basis tail. Appends here carry batch-scoped txs that
        // are not globally monotone (loader types own disjoint ranges),
        // so prove it with row counts: old rows + delta rows must
        // equal the log's current row count — any out-of-order append
        // breaks the equation and falls back to a full re-resolve.
        // ONE aggregation job answers everything the merge needs
        // (total rows, delta rows, card-one-retraction count, and the
        // new basis tx) — a per-read prelude of several log scans would
        // be real money on a 100 TB log.
        val isDelta = col("tx") > snapBasis
        val isUnsafeRetract = isDelta && !col("op") &&
          (if (many.isEmpty) lit(true) else !col("a").isInCollection(many.toSeq))
        val log = eav
        val g = log.agg(
          count(lit(1)).as("total"),
          sum(isDelta.cast("long")).as("delta_rows"),
          sum(isUnsafeRetract.cast("long")).as("unsafe_rows"),
          max(col("tx")).as("new_basis")).collect()(0)
        val newRows = g.getLong(0)
        val deltaRows = if (g.isNullAt(1)) 0L else g.getLong(1)
        val unsafeRows = if (g.isNullAt(2)) 0L else g.getLong(2)
        val newBasis = if (g.isNullAt(3)) 0L else g.getLong(3)
        val delta = log.filter(isDelta)
        if (snapRows + deltaRows == newRows) {
          // unsafeRows == 0 is resolveIncremental's contract (no
          // card-ONE retraction in the delta). Otherwise a retraction
          // can resurface an older value the snapshot no longer
          // carries — those (e, a) keys re-resolve from full history
          // (hybrid), everything else merges snapshot + tail. Eager
          // localCheckpoint: materializes BEFORE the old snapshot is
          // dropped AND cuts lineage, so the plan doesn't grow with
          // every increment (cluster note: swap for reliable
          // checkpoint, same caveat as the Datalog fixpoints).
          val merged0 =
            if (unsafeRows == 0L)
              Store.resolveIncremental(df, delta, many.toSeq.sorted)
            else
              Store.resolveIncrementalHybrid(df, delta, log, many.toSeq.sorted)
          val merged = merged0.localCheckpoint()
          df.unpersist(blocking = false)
          snapshot = Some((many, merged)); snapBasis = newBasis; snapRows = newRows
          snapStale = false; lastCurrentIncremental = true
          merged
        } else rebuild()
      case _ => rebuild()
    }
  }

  /** The database as of transaction `tx` (Datomic `d/as-of`): the same
    * resolution, over only the datoms visible at `tx`. The tx filter
    * rides the parquet scan (min/max pruning on the tx column), so an
    * old as-of view reads only old row groups. */
  def asOf(registry: SchemaRegistry, tx: Long): DataFrame =
    Store.resolve(eav.filter(col("tx") <= tx),
      registry.attrs.values.filter(_.many).map(_.ident).toSeq)
}

object Store {
  /** Transaction wall-clock attribute (Datomic `:db/txInstant`): the
    * loader asserts one per tx entity — `v` is the ISO-8601 instant,
    * `v_long` the epoch millis (so date horizons ride parquet min/max
    * pruning like any numeric range). */
  val txInstantAttr = "db/txInstant"

  /** Datomic `d/tx-range` over any log frame (`Store.eav` or a
    * synthesized one): datoms in the half-open tx interval
    * [from, until). On the persisted store
    * both bounds prune row groups via the tx column's min/max stats,
    * so a log-tail walk reads the tail, not the log
    * (reference: the importer's `already-transacted` recovery scans
    * exactly such a suffix, importer.clj:271-277). */
  def txRange(log: DataFrame, from: Long, until: Long): DataFrame =
    log.filter(col("tx") >= from && col("tx") < until)

  // ── Partitions (Datomic `:db.part/*`) ─────────────────────────────
  /** Datomic packs the partition into the entity id's high bits: an
    * eid is `(part-idx << 42) | t`, giving each partition its own
    * contiguous 2^42 t-space. Entities transacted into the same
    * partition therefore sort ADJACENTLY in EAVT/AEVT — Datomic's
    * locality lever ("put entities you read together in the same
    * partition"); here it means per-partition parquet row-group
    * clustering and min/max pruning of eid range predicates for free.
    * Built-in partitions use Datomic's own idents/indices
    * (`:db.part/db` 0, `:db.part/tx` 3 — tx eids start at
    * 3·2^42 + 1000 — `:db.part/user` 4); user partitions install
    * like attributes (`:db.install/partition`) and take the next
    * index. All pure column arithmetic — composition and recovery
    * stay inside whole-stage codegen. */
  val partShift = 42
  val partSpan: Long = 1L << partShift            // 2^42 t-values per partition
  val partUser = 4L

  /** Compose an entity id from a partition index and an in-partition
    * t (both column-wise; `t` must be < 2^42). True bit ops, not
    * mul/div — exact at any eid magnitude, and they codegen to single
    * JVM shift/and instructions. */
  def entidAt(partIdx: Column, t: Column): Column =
    shiftleft(partIdx.cast("long"), partShift) + t.cast("long")

  /** Recover the partition index from an eid (Datomic `d/part`). */
  def partIdxOf(eid: Column): Column = shiftright(eid.cast("long"), partShift)

  /** Recover the in-partition t from an eid. */
  def tOf(eid: Column): Column = eid.cast("long").bitwiseAND(lit(partSpan - 1))

  /** Wall-clock → tx resolution over any log frame (Datomic accepts a
    * `java.util.Date` anywhere a tx id is accepted): the latest tx
    * whose `:db/txInstant` is at-or-before `date`, one aggregate over
    * that attribute's pruned partition. Returns -1 when `date` precedes
    * every transaction (an as-of there is the empty db). */
  def txAtInstant(log: DataFrame, date: java.util.Date): Long = {
    val r = log.filter(col("a") === txInstantAttr && col("v_long") <= date.getTime)
      .agg(max(col("tx"))).collect()(0)
    if (r.isNullAt(0)) -1L else r.getLong(0)
  }

  /** `tx`, failing the job on a negative one: the resolve kernel's
    * packed (tx, op) ordering would misorder it. It rides the projection
    * every row of a resolved log or an append passes through, so the
    * check costs no extra job. */
  private val checkedTx: Column = when(col("tx") < 0,
    raise_error(concat(lit("negative tx: "), col("tx").cast("string"))))
    .otherwise(col("tx"))

  /** Row limit of the broadcast pins in [[resolveIncremental]],
    * [[resolveIncrementalHybrid]] and [[retractEntityTx]], whose probe
    * sets are bounded by the transaction, not the store. Unpinned, AQE
    * drops the broadcast past its ~10 MB threshold and plans
    * SortMergeJoin shuffles of the full state: measured at sf10, two
    * extra state shuffles and an execution-memory OOM in-suite. A larger
    * set falls back to shuffle joins, correct at any scale. */
  private val broadcastMaxRows = 5000000L
  private def broadcastIfSmall(df: DataFrame, rows: Long): DataFrame =
    if (rows <= broadcastMaxRows) broadcast(df) else df

  /** A log without an `op` column (written before retraction support,
    * or synthesized) is all asserts. */
  private[graft] def withOp(df: DataFrame): DataFrame =
    if (df.columns.contains("op")) df else df.withColumn("op", lit(true))

  /** Resolution shared by `current` / `asOf` (and the q30/q39
    * harness queries), retraction-aware:
    *  - a value (e, a, v) is VISIBLE iff its latest op by tx is an
    *    assert (a retraction hides exactly the value it names; a
    *    later re-assert restores it);
    *  - card-many current = all visible values;
    *  - card-one current = the visible value with the greatest
    *    last-assert tx.
    * A log without retractions resolves identically to plain
    * last-writer-wins. Precondition: every tx is non-negative — a
    * negative tx fails the job (see [[resolveKernel]]). */
  def resolve(log: DataFrame, manyAttrs: Seq[String]): DataFrame =
    resolveKernel(log, manyAttrs, Seq(lit(true)))
      .select(col("e"), col("a"), col("s0.v").as("v"),
        col("s0.v_long").as("v_long"), col("s0.is_ref").as("is_ref"))

  /** INCREMENTAL resolution — Datomic's live-index model: merge an
    * already-resolved snapshot with a log DELTA (datoms strictly later
    * than every datom the snapshot resolved) instead of re-resolving
    * the full history.
    *
    * Contract: the delta holds no card-ONE retractions. Full
    * resolution lets an older unretracted value RESURFACE when the
    * current one is retracted (the PropertySpec reference model), but
    * the snapshot has already discarded superseded values. `current`
    * proves the contract with its guard aggregation and routes any
    * other delta to [[resolveIncrementalHybrid]], whose safe branch
    * satisfies it by construction; assert-only loader batches satisfy
    * it trivially.
    *
    * Under that contract the merge needs NO snapshot shuffle: every
    * delta event is strictly later than every snapshot row, so a
    * snapshot row survives iff the delta never touches its key —
    * card-one (e, a) superseded by any delta assert, card-many
    * (e, a, v) owned by whichever delta event is latest (a card-many
    * retraction kills its snapshot row; a stale one is a no-op) — and
    * the delta resolves among itself. One scan of the snapshot with
    * two anti-join probes of delta-derived key sets plus a `resolve`
    * ∝ |delta|: shuffle cost follows the BATCH, not the store — at
    * 100 TB, re-shuffling the live state per merge is exactly what a
    * live index must not do. */
  def resolveIncremental(snapshot: DataFrame, delta: DataFrame,
      manyAttrs: Seq[String]): DataFrame = {
    val snapState = snapshot
      .select(col("e"), col("a"), col("v"), col("v_long"), col("is_ref"))
    val deltaLog = withOp(delta).select(
      col("e"), col("a"), col("v"), col("v_long"), col("is_ref"), col("tx"), col("op"))
    val manyCol =
      if (manyAttrs.isEmpty) lit(false) else col("a").isInCollection(manyAttrs)
    // the contract is a batch-sized delta, so one count (∝ batch) buys
    // map-side anti-joins instead of snapshot shuffles
    val nDelta = deltaLog.count()
    val oneTouched = deltaLog.filter(!manyCol)
      .select(col("e"), col("a")).distinct()
    val manyTouched = deltaLog.filter(manyCol)
      .select(col("e"), col("a"), col("v")).distinct()
    val snapKept = snapState.filter(!manyCol)
      .join(broadcastIfSmall(oneTouched, nDelta), Seq("e", "a"), "left_anti")
      .unionByName(snapState.filter(manyCol)
        .join(broadcastIfSmall(manyTouched, nDelta), Seq("e", "a", "v"), "left_anti"))
    snapKept.unionByName(resolve(deltaLog, manyAttrs))
  }

  /** Incremental resolution WITH card-one retractions in the delta —
    * the hybrid path closing [[resolveIncremental]]'s contract.
    * A card-ONE retraction needs the pre-snapshot runner-up value
    * (full resolution lets an older unretracted value resurface), so
    * the (e, a) keys it touches are carved out and re-resolved from
    * the FULL log; everything else merges snapshot + delta as usual.
    *
    * Scale shape: the touched key set is bounded by the delta (tx
    * batches, not data volume) → both anti-joins and the full-log
    * semi-join broadcast it; the full-log scan is first pruned to the
    * touched ATTRIBUTES' partitions (a driver-side distinct over the
    * key set's attrs — bounded by the schema's card-one attr count),
    * so re-resolution reads the touched attrs' history, not the log. */
  def resolveIncrementalHybrid(snapshot: DataFrame, delta: DataFrame,
      fullLog: DataFrame, manyAttrs: Seq[String]): DataFrame = {
    val deltaLog = withOp(delta)
    val manyCol =
      if (manyAttrs.isEmpty) lit(false) else col("a").isInCollection(manyAttrs)
    val touchedKeys = deltaLog.filter(!col("op") && !manyCol)
      .select(col("e"), col("a")).distinct().localCheckpoint(false)
    // ONE driver job answers both bounded questions: the attr list
    // (attr-level pruning for the history re-read — retraction
    // batches name few attributes, the log partitions on `a`) and the
    // key count for the broadcast size guard. The per-attr rollup is
    // bounded by the schema's card-one attr count, so the collect
    // stays driver-safe; it also materializes the checkpoint.
    val attrCounts = touchedKeys.groupBy(col("a"))
      .agg(count(lit(1)).as("n")).collect()
    val touchedAttrs = attrCounts.map(_.getString(0)).toSeq
    // the touched keys are ∝ the tx batch: map-side probes while small
    val tk = broadcastIfSmall(touchedKeys, attrCounts.map(_.getLong(1)).sum)
    // the safe branch's delta has NO card-one retractions BY
    // CONSTRUCTION (exactly those keys were carved out above), which
    // is resolveIncremental's contract: the live state is scanned
    // once with anti-join probes, never re-shuffled
    val safe = resolveIncremental(
      snapshot.join(tk, Seq("e", "a"), "left_anti"),
      deltaLog.join(tk, Seq("e", "a"), "left_anti"), manyAttrs)
    val touched = resolve(
      fullLog.filter(col("a").isInCollection(touchedAttrs))
        .join(tk, Seq("e", "a"), "left_semi"), manyAttrs)
    safe.unionByName(touched)
  }

  /** Resolution at SEVERAL transaction horizons in ONE pass — the
    * audit/reporting shape ("state at end of each month"): the log
    * scans once and each horizon is a set of conditional aggregate
    * columns over the same collapse (see [[resolveKernel]]), so N
    * horizons cost one scan + shuffle ∝ the log, not N separate
    * resolve jobs. Duplicate horizons collapse. Output adds `asof_tx`.
    * Precondition: every tx is non-negative (checked per row). */
  def resolveAtHorizons(log: DataFrame, horizons: Seq[Long],
      manyAttrs: Seq[String]): DataFrame =
    resolveHorizons(log, horizons, "asof_tx", h => col("tx") <= h, manyAttrs)

  /** `d/since` resolution at several horizons in one pass — the
    * incremental-consumer mirror of [[resolveAtHorizons]]: horizon h
    * sees the datoms asserted AFTER it (`tx > h`), and latest-wins
    * resolution runs over only that suffix of the log. Matches
    * Datomic's since-db semantics: an entity whose current value
    * predates the horizon is invisible, not stale — since filters the
    * log, it does not rewind it. Same cost shape: one scan, shuffle ∝
    * the log. Output adds `since_tx`. Precondition: every tx is
    * non-negative (checked per row, visible or not). */
  def sinceAtHorizons(log: DataFrame, horizons: Seq[Long],
      manyAttrs: Seq[String]): DataFrame =
    resolveHorizons(log, horizons, "since_tx", h => col("tx") > h, manyAttrs)

  /** The kernel at each horizon's visibility predicate; the horizon
    * column materializes by exploding the COLLAPSED state at the very
    * end. */
  private def resolveHorizons(log: DataFrame, horizons: Seq[Long], hname: String,
      vis: Long => Column, manyAttrs: Seq[String]): DataFrame = {
    require(horizons.nonEmpty, "need at least one horizon")
    val hs = horizons.distinct
    resolveKernel(log, manyAttrs, hs.map(vis))
      .select(col("e"), col("a"), explode(array(hs.zipWithIndex.map { case (h, i) =>
        struct(lit(h).as("h"), col(s"s$i").as("s")) }: _*)).as("x"))
      .filter(col("x.s").isNotNull)
      .select(col("x.h").as(hname), col("e"), col("a"),
        col("x.s.v").as("v"), col("x.s.v_long").as("v_long"),
        col("x.s.is_ref").as("is_ref"))
  }

  /** THE resolution kernel behind `resolve`, the multi-horizon reads
    * and `dropNoHistory`. `vis(i)` is horizon i's visibility predicate
    * over log rows (`lit(true)`: the whole log). Output: `e`, `a` and
    * one struct column `s<i>` per horizon holding the visible
    * (v, v_long, is_ref, tx) — `tx` the value's last assert — or null
    * where nothing is visible; one row per (e, a) for card-one attrs
    * (the pick), per visible (e, a, v) for card-many.
    *
    * Tiebreaks are EXPLICIT in both pick orderings — a bare max_by
    * keeps the first-encountered row among ties, which is partition-
    * order-dependent (caught by PropertySpec's reference model):
    *  - same-tx assert+retract of one datom → assert wins (op=true
    *    sorts above false); Datomic rejects that tx shape outright,
    *    we resolve it deterministically;
    *  - same-tx double-assert on a card-one attr → max v wins.
    *
    * Plan shape: every buffer of the per-(e, a, v) collapse is a
    * mutable primitive — HashAggregate, no sort (a struct-typed buffer
    * is not UnsafeRow-mutable and would force a SortAggregate over the
    * raw log):
    *  - visible iff latest event by (tx, op) is an assert ⇔
    *    max assert-tx ≥ max retract-tx (tie → assert);
    *  - the surviving (v_long, is_ref) ride a max_by ordered by the
    *    (tx, op) pair packed into one long — exact, not an assumption
    *    of per-(e, a, v) constancy.
    * The explicit repartition on `e` (a subset of BOTH aggregations'
    * grouping keys; NOT (e, a) — single-attr logs constant-fold `a` to
    * a literal, which breaks the exchange/grouping semantic match and
    * re-inserts a second exchange) satisfies both distributions, so
    * the whole resolve runs behind ONE exchange; only the card-one
    * pick sorts, over the collapsed state rather than the raw log.
    *
    * The packed ordering needs tx ≥ 0 (Datomic t's fit in 2^42, far
    * below 2^62); [[checkedTx]] rejects a negative one. */
  private def resolveKernel(log: DataFrame, manyAttrs: Seq[String],
      vis: Seq[Column]): DataFrame = {
    val checked = withOp(log).withColumn("tx", checkedTx)
    val ord = shiftleft(col("tx"), 1) + col("op").cast("long")
    val hs = vis.indices
    val aggs = hs.flatMap { i => Seq(
      max(when(col("op") && vis(i), col("tx"))).as(s"at$i"),
      max(when(!col("op") && vis(i), col("tx"))).as(s"rt$i"),
      max_by(col("v_long"), when(vis(i), ord)).as(s"vl$i"),
      max_by(col("is_ref"), when(vis(i), ord)).as(s"ir$i")) }
    def visible(i: Int) = col(s"at$i").isNotNull &&
      (col(s"rt$i").isNull || col(s"at$i") >= col(s"rt$i"))
    // each horizon's state and pick ordering (null where invisible —
    // max_by skips null orderings) are built once per collapsed row,
    // so the card-one pick aggregates plain columns
    val collapsed = checked.repartition(col("e"))
      .groupBy(col("e"), col("a"), col("v"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(hs.map(visible).reduce(_ || _))
      .select(col("e") +: col("a") +: hs.flatMap { i => Seq(
        struct(col("v"), col(s"vl$i").as("v_long"), col(s"ir$i").as("is_ref"),
          col(s"at$i").as("tx")).as(s"st$i"),
        when(visible(i), struct(col(s"at$i"), col("v"))).as(s"o$i")) }: _*)
    val picks = hs.map(i => max_by(col(s"st$i"), col(s"o$i")).as(s"s$i"))
    val one = collapsed.filter(!col("a").isInCollection(manyAttrs))
      .groupBy(col("e"), col("a"))
      .agg(picks.head, picks.tail: _*)
    val many = collapsed.filter(col("a").isInCollection(manyAttrs))
      .select(col("e") +: col("a") +: hs.map { i =>
        when(col(s"o$i").isNotNull, col(s"st$i")).as(s"s$i") }: _*)
    one.unionByName(many)
  }

  /** Core of `:db/noHistory` trimming over a datom log (exactly the
    * `Store.schema` columns; `op` may be absent): rows of `nhAttrs`
    * reduce to their currently-VISIBLE datoms — the kernel's
    * resolution, with the winner's last assert-tx restored as `tx`
    * and op = true by construction; retraction markers and superseded
    * values vanish. Every other attr passes through untouched. The
    * shuffle keys on the noHistory attrs' datoms only — the full log
    * never re-shuffles. Precondition: every noHistory datom's tx is
    * non-negative (checked per row). */
  def dropNoHistory(log: DataFrame, nhAttrs: Seq[String],
      nhManyAttrs: Seq[String]): DataFrame = {
    val datoms = withOp(log)
    require(datoms.columns.toSet == schema.fieldNames.toSet,
      s"dropNoHistory needs a datom log with columns ${schema.fieldNames.mkString(", ")}; " +
        s"got ${datoms.columns.mkString(", ")}")
    val kept = resolveKernel(datoms.filter(col("a").isInCollection(nhAttrs)),
      nhManyAttrs, Seq(lit(true)))
      .select(col("e"), col("a"), col("s0.*"))
      .withColumn("op", lit(true))
    datoms.filter(!col("a").isInCollection(nhAttrs)).unionByName(kept)
  }

  /** AVET index-range scan (Datomic `d/index-range`): the datoms of
    * attribute `a` whose numeric value lies in [vFrom, vUntil), in
    * value order. On the attribute-partitioned log this is partition
    * pruning on `a` plus parquet min/max row-group pruning on
    * `v_long` — an index-range over a 100 TB store reads one
    * attribute's partitions and only the row groups intersecting the
    * range; the sort is the iteration order the Datomic API promises. */
  def indexRange(eav: DataFrame, a: String, vFrom: Long, vUntil: Long): DataFrame =
    eav.filter(col("a") === a && col("v_long") >= vFrom && col("v_long") < vUntil)
      .orderBy(col("v_long"), col("e"))

  /** Datomic `d/index-pull` — walk an AVET index range in value order
    * from a start point and pull each entity: the "page through
    * entities by attribute value" read (leaderboards, cursors,
    * time-ordered scans). `limit` bounds the page; the plan is a
    * TakeOrderedAndProject over the attr-pruned scan (no full sort)
    * feeding one pull per pattern entry — page size bounds every
    * downstream join. Returns the pulled rows plus the ordering
    * value (`avet_v`) so callers keep the index order. */
  def indexPull(cur: DataFrame, registry: SchemaRegistry, attr: String,
      vFrom: Long, limit: Int, pattern: Seq[graft.query.Pull.Spec]): DataFrame = {
    val page = cur.filter(col("a") === attr && col("v_long") >= vFrom)
      .orderBy(col("v_long"), col("e"))
      .limit(limit)
      .select(col("e"), col("v_long").as("avet_v"))
    graft.query.Pull.pullFrom(cur, registry, pattern, page.select(col("e")))
      .join(page, Seq("e"))
  }

  /** Datomic `d/seek-datoms` — start at an index POINT and iterate to
    * the index's end, crossing component boundaries (the semantic that
    * separates it from `d/datoms`, whose components are equality
    * filters: a seek from (:order/price, 5_000_000) continues past the
    * last :order/price datom into the alphabetically-next attribute).
    * `limit` bounds the page, so the plan is a TakeOrderedAndProject
    * over the residual scan — the cursor read behind Datomic's lazy
    * seek. On the attribute-partitioned log the `a >= aFrom` residual
    * still prunes every partition before `aFrom`; within the boundary
    * attribute the v_long bound rides parquet min/max row groups
    * (reference: mbrainz-importer explores the store with datoms
    * walks; seek is the paged variant, cf. SURVEY §2 store reads). */
  def seekDatoms(eav: DataFrame, index: String, aFrom: String, vFrom: Long,
      limit: Int): DataFrame = index match {
    case "avet" =>
      eav.filter(col("a") > aFrom ||
          (col("a") === aFrom && col("v_long") >= vFrom))
        .orderBy(col("a"), col("v_long"), col("e"))
        .limit(limit)
    case "aevt" =>
      eav.filter(col("a") >= aFrom)
        .orderBy(col("a"), col("e"), col("v"), col("tx"))
        .limit(limit)
    case other => throw new IllegalArgumentException(
      s"seek-datoms supports avet|aevt (got $other); eavt/vaet seeks key on e/v first")
  }

  /** VAET reverse-index scan (Datomic `d/datoms db :vaet v`): every
    * ref datom pointing AT one of the target entities — "who
    * references X", the query behind retractEntity's inbound-ref
    * cascade and any back-reference navigation. On the
    * attribute-partitioned log the is_ref population lives in the ref
    * attrs' partitions; the target probe is a semi-join (broadcast
    * when targets are a bounded set), so the scan never widens beyond
    * ref partitions. Output in (v, a, e) — VAET — order. */
  def vaet(eav: DataFrame, targets: DataFrame): DataFrame =
    eav.filter(col("is_ref"))
      .join(targets.select(col("e").as("__vaet_t")).distinct(),
        col("v") === col("__vaet_t"), "left_semi")
      .orderBy(col("v"), col("a"), col("e"))

  /** `:db/cas` transaction function (compare-and-swap). `ops` columns:
    * (e, a, expected, new_v, new_v_long). An op succeeds iff the
    * current value of (e, a) in `state` equals `expected` — null
    * expected matches a not-yet-asserted attr, as in Datomic. Output
    * is one row per op: accepted rows are assertion datoms at `tx`
    * (`cas_ok` = true); failed ops come back as error-as-data rows
    * carrying the observed current value (like `ops/Validate`) — in
    * Datomic a failed CAS aborts its whole transaction, so callers
    * gate on zero failures before appending the accepted datoms.
    * Plan shape: ONE left broadcast/hash join of the op set against
    * the (e, a)-keyed current state — ops are small relative to the
    * store, so this scales as a map-side join over the pruned scan. */
  def cas(state: DataFrame, ops: DataFrame, tx: Long): DataFrame = {
    val cur = state.select(col("e"), col("a"), col("v").as("cur_v"))
    ops.join(cur, Seq("e", "a"), "left")
      .withColumn("cas_ok", col("cur_v") <=> col("expected"))
      .select(col("e"), col("a"),
        col("new_v").as("v"), col("new_v_long").as("v_long"),
        lit(false).as("is_ref"), lit(tx).as("tx"), lit(true).as("op"),
        col("cas_ok"), col("cur_v"), col("expected"))
  }

  /** Datomic `d/filter` — a predicate-restricted database VALUE: every
    * read through the returned log sees only datoms passing `pred`
    * (the classic use is security trimming: hide an attribute set or
    * an entity population before handing the db to a query). Pure
    * plan composition — the predicate becomes a pushed filter on the
    * underlying scan, and resolve/datoms/query layers compose over it
    * unchanged. */
  def filteredDb(log: DataFrame, pred: Column): DataFrame = log.filter(pred)

  /** Datomic `d/with`: a SPECULATIVE transaction — the database value
    * that WOULD result from applying `txData` to `state`, without
    * committing anything. Pure plan composition: the returned view is
    * `resolve(state ∪ txData)`; nothing is written, the caller's
    * `state` is untouched, and two `with`s from the same basis are
    * independent (exactly the what-if semantics Datomic documents for
    * `d/with`, reference analog: conflict-checked batches are dry-run
    * against the current db before commit). At scale this costs one
    * resolution pass over (visible state + tx rows) — the tx side is
    * typically tiny, so the union adds no shuffle of its own. */
  def withDb(state: DataFrame, txData: DataFrame, manyAttrs: Seq[String]): DataFrame = {
    resolve(state.unionByName(withOp(txData), allowMissingColumns = true), manyAttrs)
  }

  /** The maintenance datoms ONE batch implies for ONE composite
    * (Datomic's transactor-maintained `:db/tupleAttrs`; the q73
    * harness query composes it statelessly over synthesized logs, and
    * a writer appends its output after the batch). `logAfter` is the
    * log INCLUDING the batch:
    *  - touched entities (any source-attr datom in the batch) get
    *    their composite re-derived from current source state;
    *  - touched entities with NO visible source values left get every
    *    ASSERTED composite value retracted — not just the resolved
    *    current one, because resolution resurfaces older unretracted
    *    values (the PropertySpec reference model), so "clear the
    *    attr" means retracting its assert history.
    * Both resolves are attr-pruned and semi-joined to the touched
    * set; cost follows the batch, not the log. */
  def tupleMaintenanceTx(logAfter: DataFrame, batch: DataFrame, tupleAttr: String,
      srcAttrs: Seq[String], tx: Long): DataFrame = {
    val touched = withOp(batch).filter(col("a").isInCollection(srcAttrs))
      .select(col("e")).distinct()
    val srcState = resolve(
      logAfter.filter(col("a").isInCollection(srcAttrs))
        .join(touched, Seq("e"), "left_semi"), Seq.empty)
      .localCheckpoint(false)
    val derived = deriveTupleAttr(srcState, tupleAttr, srcAttrs, tx)
    val dead = touched.join(srcState.select(col("e")).distinct(), Seq("e"), "left_anti")
    val stale = logAfter.filter(col("a") === tupleAttr && col("op"))
      .join(dead, Seq("e"), "left_semi")
      .select(col("e"), col("a"), col("v"), col("v_long"), col("is_ref")).distinct()
      .withColumn("tx", lit(tx)).withColumn("op", lit(false))
    derived.unionByName(stale)
  }

  /** `:db/tupleAttrs` — Datomic's composite tuples: a derived attribute
    * whose value is the tuple of N sibling scalar attrs of the same
    * entity, auto-maintained by the transactor whenever any source
    * attr changes. Given a RESOLVED current-state view, emits the
    * derived datoms `(e, tupleAttr, "[v1 v2 ...]")` for every entity
    * that has at least one source attr (missing slots render as nil,
    * as in Datomic). One groupBy(e) over the source attrs' pruned
    * partitions — the derivation is map-side-partial and never touches
    * other attributes' data. Composite uniqueness (`:db.unique/identity`
    * on the tuple attr) then reduces to plain groupBy on `v`. */
  def deriveTupleAttr(current: DataFrame, tupleAttr: String,
      srcAttrs: Seq[String], tx: Long): DataFrame = {
    require(srcAttrs.size >= 2, "a composite tuple needs at least 2 source attrs")
    val slots = srcAttrs.map(a => max(when(col("a") === a, col("v"))).as(a))
    current.filter(col("a").isInCollection(srcAttrs))
      .groupBy(col("e"))
      .agg(slots.head, slots.tail: _*)
      .select(col("e"), lit(tupleAttr).as("a"),
        renderTuple(srcAttrs.map(a => col(s"`$a`"))).as("v"),
        lit(null).cast("long").as("v_long"), lit(false).as("is_ref"),
        lit(tx).as("tx"), lit(true).as("op"))
  }

  /** `:db.type/tuple` + `:db/tupleTypes` — directly-asserted
    * heterogeneous tuples (Datomic's compound values: coordinates,
    * ranges, versioned keys). Each row of `rows` contributes one
    * datom `(e, attr, "[s0 s1 …]")`; slots are cast to their declared
    * types (long/double/boolean parse, anything else passes as text)
    * and render in THE SAME text encoding `deriveTupleAttr` uses —
    * nil for null slots — so asserted and composite tuples compare
    * and join interchangeably. Arity is validated here (Datomic
    * rejects a tuple whose length disagrees with :db/tupleTypes);
    * per-slot cast failures surface as nil, the encoding's null.
    * Unencodable string slots (embedded space / literal "nil") fail
    * loudly at encode time via `renderTuple`'s shared guard — the
    * same protection now covers composite (`deriveTupleAttr`) and
    * query-built (Datalog `(tuple …)`) tuples. Map-only — no
    * shuffle. */
  def tupleDatoms(rows: DataFrame, e: Column, attr: String,
      slots: Seq[Column], tupleTypes: Seq[String], tx: Long): DataFrame = {
    require(tupleTypes.size >= 2, "a tuple needs at least 2 slots")
    require(slots.size == tupleTypes.size,
      s"tuple arity ${slots.size} != :db/tupleTypes arity ${tupleTypes.size}")
    val typed = slots.zip(tupleTypes).map { case (c, t) =>
      t match {
        case "long" | "ref" => c.cast("long")
        // instants carry epoch MILLIS, the store-wide convention
        // (`txInstantAttr`'s v_long) — a bare cast("long") on a
        // timestamp would yield SECONDS and silently lose precision
        case "instant" => unix_millis(c.cast("timestamp"))
        case "double" | "float" => c.cast("double")
        case "boolean" => c.cast("boolean")
        // exotic value types (`:db.type/bytes`, bigint, bigdec) ride
        // the same text encoding through CANONICAL renderings —
        // base64 for bytes (space-free, so the slot guard never
        // trips), fixed-precision decimals for the big numerics
        // (encode and decode share the scale, so differently-scaled
        // inputs compare equal after the round trip). Precision is
        // bounded at Spark's DECIMAL(38) — wider values are a load
        // error here where Datomic's java.math types keep growing;
        // bytes are equality/identity payloads, not range-scan keys
        // (base64 does not sort bytewise; Datomic likewise excludes
        // bytes from index ordering).
        case "bytes" => base64(c.cast("binary"))
        case "bigint" => c.cast("decimal(38,0)")
        case "bigdec" => c.cast("decimal(38,18)")
        case _ => c // renderTuple's shared encode guard covers strings
      }
    }
    rows.select(e.as("e"), lit(attr).as("a"), renderTuple(typed).as("v"),
      lit(null).cast("long").as("v_long"), lit(false).as("is_ref"),
      lit(tx).as("tx"), lit(true).as("op"))
  }

  /** THE tuple text encoding — `"[s0 s1 …]"` with `nil` for null
    * slots. Single definition shared by `tupleDatoms`,
    * `deriveTupleAttr` and the Datalog `(tuple …)` function, so
    * query-built, asserted, and derived tuples always compare equal;
    * `tupleSlot` is its inverse.
    *
    * Encode-time guard, applied HERE so every producer path fails
    * loudly: the space-separated text form cannot represent a slot
    * whose string rendering contains a space or is the literal
    * `"nil"` — without the check such slots would silently DECODE to
    * wrong values. Numeric/boolean renderings never trip it; typed
    * instants render as epoch-millis longs before reaching this
    * (`tupleDatoms`), so only genuine string payloads can. */
  def renderTuple(slots: Seq[Column]): Column =
    concat(lit("["), concat_ws(" ", slots.map(encodeSlot): _*), lit("]"))

  /** One guarded slot rendering: null → "nil"; unencodable → error. */
  private def encodeSlot(c: Column): Column = {
    val s = c.cast("string")
    coalesce(
      when(s.contains(" ") || s === "nil",
        raise_error(concat(
          lit("tuple slot not encodable (embedded space or literal \"nil\"): "), s)))
        .otherwise(s),
      lit("nil"))
  }

  /** Slot extractor for the tuple text encoding: slot `i` of `v`,
    * cast per the declared type; `nil` decodes to null. The inverse
    * of `tupleDatoms`/`deriveTupleAttr` rendering. */
  def tupleSlot(v: Column, i: Int, tupleType: String): Column = {
    val raw = split(v.substr(lit(2), length(v) - 2), " ")(i)
    val noNil = when(raw === "nil", lit(null)).otherwise(raw)
    tupleType match {
      case "long" | "ref" | "instant" => noNil.cast("long") // instant = epoch millis
      case "double" | "float" => noNil.cast("double")
      case "boolean" => noNil.cast("boolean")
      case "bytes" => unbase64(noNil)
      case "bigint" => noNil.cast("decimal(38,0)")
      case "bigdec" => noNil.cast("decimal(38,18)")
      case _ => noNil
    }
  }

  /** `:db.fn/retractEntity`: retract a set of entities wholesale at
    * `tx`. Generates retraction datoms (op = false) for
    *  - every current datom whose E is a target,
    *  - every ref datom whose V points AT a target (inbound refs), and
    *  - the recursive closure of sub-entities owned via COMPONENT ref
    *    attrs (Datomic cascades ownership exactly this way).
    * The closure loop runs once per component-NESTING level — bounded
    * by the schema's component depth, not by data size — and each
    * round is a semi-join of the component edge set against the new
    * frontier. Append the result to the log; `resolve` then hides the
    * retracted values at horizons ≥ `tx`.
    *
    * The dead set is bounded by the RETRACTION REQUEST (targets plus
    * their component closure), not by corpus size, so the dead-datom
    * scan pins `broadcast(dead)` whenever the closure-loop row counts
    * (already computed to answer the emptiness check) stay within
    * [[broadcastMaxRows]] — one pass over state, two map-side hash
    * probes, ZERO shuffles of state. Without the pin, size estimation
    * over the localCheckpointed frontiers crossed the broadcast
    * threshold at sf1 and planned two SortMergeJoins, i.e. two full
    * shuffles of the multi-M-row state (the 42.6 s q49 line item in
    * BENCH_sf1 r9). */
  def retractEntityTx(state: DataFrame, targets: DataFrame,
      componentAttrs: Seq[String], tx: Long): DataFrame = {
    // Each closure frontier is materialized ONCE (lazy localCheckpoint
    // forced by the count that also answers the emptiness check and
    // feeds the broadcast-size guard); the accumulated dead set stays
    // a lazy union of those materialized frontiers — re-checkpointing
    // the growing union every round would copy the whole set O(depth)
    // times.
    val t0 = targets.select(col("e")).distinct().localCheckpoint(false)
    var deadRows = t0.count()
    var frontiers = List(t0)
    if (componentAttrs.nonEmpty) {
      // Materialize the component edge set ONCE: the closure loop
      // re-reads it every round, and deriving it lazily re-scanned the
      // FULL state per round (depth+1 scans of a multi-M-row log when
      // the state is an unpartitioned checkpoint, as in the harness
      // queries). A production store prunes this filter to the
      // componentAttrs' attribute partitions (VAET-style), so the
      // materialized set is ∝ component edges, never ∝ state.
      val compEdges = state
        .filter(col("a").isInCollection(componentAttrs) && col("is_ref"))
        .select(col("e").as("src"), col("v").as("dst"))
        .localCheckpoint(false)
      var growing = true
      while (growing) {
        val dead = frontiers.reduce(_ unionByName _)
        val next = compEdges
          .join(frontiers.head, compEdges("src") === frontiers.head("e"), "left_semi")
          .select(col("dst").as("e")).distinct()
          .join(dead, Seq("e"), "left_anti").localCheckpoint(false)
        val n = next.count()
        if (n == 0L) growing = false else { deadRows += n; frontiers ::= next }
      }
    }
    val deadUnion = frontiers.reduce(_ unionByName _)
    val dead = broadcastIfSmall(deadUnion, deadRows)
    // One scan of state: mark entity hits and inbound-ref hits via two
    // map-side probes of the same broadcast dead set, then dedupe on
    // the (e, a, v) KEY over a narrow projection: v_long/is_ref are
    // functionally determined by (e, a, v) and tx/op are rewritten
    // here, so a row-level distinct over full-width rows would shuffle
    // the long entity-id strings for nothing.
    state
      .join(dead.select(col("e").as("__dead_e")),
        col("e") === col("__dead_e"), "left")
      .join(dead.select(col("e").as("__dead_v")),
        col("is_ref") && col("v") === col("__dead_v"), "left")
      .filter(col("__dead_e").isNotNull || col("__dead_v").isNotNull)
      .select(col("e"), col("a"), col("v"), col("v_long"), col("is_ref"))
      .dropDuplicates("e", "a", "v")
      .withColumn("tx", lit(tx)).withColumn("op", lit(false))
  }

  /** Datomic excision (`:db/excise`): PHYSICAL removal of an entity's
    * datoms INCLUDING history — the compliance tool (GDPR erasure)
    * where retraction is not enough because `history`/`asOf` would
    * still show the values. Returns the excised log: every datom whose
    * E is a target or whose ref V points at a target is gone from all
    * horizons, and one audit datom per target (`db.excise/<e>`,
    * `db/excise`, target, tx) records THAT an excision happened
    * without recording what was removed — exactly Datomic's audit
    * shape. Unlike the rest of the store this rewrites rather than
    * appends; at scale it is an offline rewrite pass over the
    * attribute partitions (two semi-joins, shuffle ∝ log). */
  def excise(log: DataFrame, targets: DataFrame, tx: Long): DataFrame = {
    val t = targets.select(col("e")).distinct()
    val keep = log.join(t, Seq("e"), "left_anti")
      .join(t.select(col("e").as("__x")),
        col("is_ref") && col("v") === col("__x"), "left_anti")
    val audit = t.select(
      concat(lit("db.excise/"), col("e")).as("e"),
      lit("db/excise").as("a"), col("e").as("v"),
      lit(null).cast("long").as("v_long"), lit(false).as("is_ref"),
      lit(tx).as("tx"), lit(true).as("op"))
    keep.unionByName(audit)
  }

  import org.apache.spark.sql.types._
  val schema: StructType = StructType(Seq(
    StructField("e", StringType, nullable = false),
    StructField("a", StringType, nullable = false),
    StructField("v", StringType, nullable = false),
    StructField("v_long", LongType, nullable = true),
    StructField("is_ref", BooleanType, nullable = false),
    StructField("tx", LongType, nullable = false),
    StructField("op", BooleanType, nullable = false)))
}
