package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Relational

/** Physical-plan regression tests — the 100 TB posture is enforced
  * here, not just described: filters reach the parquet scan, scans
  * prune columns, small dims broadcast, anti joins stay anti, and the
  * hot paths run inside whole-stage codegen. */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q01: scan prunes to the 6 referenced lineitem columns and pushes the filter") {
    val p = plan(Relational.q01_pricing_summary(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"), readSchema)
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"), readSchema)
  }

  test("q02: predicate pushdown on orders") {
    val p = plan(Relational.q02_filter_project(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), IsNotNull(o_totalprice), EqualTo(o_orderstatus,O)"), p)
  }

  test("q03/q20: dimension joins are broadcast, not shuffled") {
    assert(plan(Relational.q03_enum_broadcast_join(spark, sf)).contains("BroadcastHashJoin"))
    val star = plan(Relational.q20_star_join(spark, sf))
    assert(star.contains("BroadcastHashJoin"), star.take(500))
  }

  test("q08: ledger resume is a real anti join") {
    val p = plan(Relational.q08_ledger_anti_join(spark, sf))
    assert(p.contains("LeftAnti"), p.take(500))
  }

  test("q09: semi join stays semi") {
    assert(plan(Relational.q09_semi_join(spark, sf)).contains("LeftSemi"))
  }

  test("aggregates are partial (map-side) before the shuffle") {
    val p = plan(Relational.q01_pricing_summary(spark, sf))
    assert(p.contains("HashAggregate"), p.take(300))
    // partial + final pairs ⇒ at least two HashAggregate nodes
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q44/q45: grouping sets and pivot are single-pass aggregations") {
    val p44 = plan(Relational.q44_rollup(spark, sf))
    assert(p44.contains("Expand"), p44.take(500)) // grouping sets expand, not a scan per set
    assert("HashAggregate".r.findAllIn(p44).size >= 2, p44.take(500)) // partial + final
    val p45 = plan(Relational.q45_pivot(spark, sf))
    assert(!p45.contains("Union"), p45.take(500)) // one conditional agg, not a union of scans
    assert("HashAggregate".r.findAllIn(p45).size >= 2, p45.take(500))
  }

  test("hot paths are inside whole-stage codegen") {
    // codegen markers ("*(n)") only appear once AQE finalizes; execute first
    val df = Relational.q01_pricing_summary(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p.take(500))
  }

  test("q14: global top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = plan(Relational.q14_topk(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
  }

  test("q10 equals the single-partition window formulation, without the window") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // the reference-shape twin: row_number over a global ORDER BY —
    // correct but single-partition; q10 must produce the same batches
    // via the two-pass GlobalIndex and must NOT contain a
    // no-partition-key window exchange
    val windowed = graft.sources.Tables.orders(spark, sf)
      .select(col("o_orderkey"))
      .withColumn("rn", row_number().over(Window.orderBy(col("o_orderkey"))))
      .withColumn("batch_id",
        concat(lit("orders-"), (((col("rn") - 1) / lit(100)).cast("long") + 1)))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("batch_size"),
        min(col("o_orderkey")).as("first_key"),
        max(col("o_orderkey")).as("last_key"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val scalable = Relational.q10_batch_numbering(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(scalable == windowed)
    val p = plan(Relational.q10_batch_numbering(spark, sf))
    assert(!p.contains("SinglePartition") || !p.contains("Window"),
      s"q10 must not run a global window:\n${p.take(800)}")
  }

  test("d27: the only nested loop is corpus x 8 broadcast centroids; updates are hash aggs") {
    val p = plan(graft.queries.Llm.d27_kmeans(spark, sf))
    // the centroid table must come in as a broadcast, never shuffled
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(600))
    assert(!p.contains("CartesianProduct"), "corpus x corpus would be quadratic: " + p.take(600))
    // the centroid recompute is a partial hash agg, not a corpus sort
    assert(p.contains("HashAggregate"), p.take(600))
  }

  test("d28/d30: tf decomposition joins on term — no cartesian beyond the 1-row total") {
    for (q <- Seq(graft.queries.Llm.d28_tfidf(spark, sf),
                  graft.queries.Llm.d30_unigram_logprob(spark, sf))) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), p.take(600))
      assert(p.contains("HashAggregate"), p.take(600))
    }
  }

  test("q56: VAET probe is a semi join over ref datoms") {
    val p = plan(Relational.q56_vaet_scan(spark, sf))
    assert(p.contains("LeftSemi"), p.take(600))
  }

  test("store current(): second read over an unchanged store scans the materialized snapshot") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val st = new graft.store.Store(spark,
      java.nio.file.Files.createTempDirectory("snapstore").toString)
    val reg = new graft.model.SchemaRegistry(Map.empty)
    def datoms(rows: Seq[(String, String, String, Long)]) =
      rows.toDF("e", "a", "v", "tx")
        .withColumn("v_long", lit(null).cast("long"))
        .withColumn("is_ref", lit(false))
    st.append(datoms(Seq(("e1", "x/a", "1", 1L), ("e2", "x/a", "2", 1L))))
    val first = st.current(reg)
    assert(first.count() == 2) // materializes the snapshot
    val second = st.current(reg)
    assert(second eq first, "unchanged store must serve the SAME snapshot")
    val p = second.queryExecution.executedPlan.toString.toLowerCase
    assert(p.contains("inmemory") || p.contains("tablecache"),
      s"second read must scan the cached view, not re-resolve:\n${p.take(800)}")
    // append invalidates: the next current() re-resolves and sees the new datom
    st.append(datoms(Seq(("e3", "x/a", "3", 2L))))
    val third = st.current(reg)
    assert(!(third eq second) && third.count() == 3)
  }

  test("d43: cell self-join is hash-keyed; only the centroid broadcast nests; census broadcasts") {
    val p = plan(graft.queries.Llm.d43_semdedup(spark, sf))
    assert(!p.contains("CartesianProduct"),
      "an unkeyed corpus self-join would be quadratic: " + p.take(600))
    // nested loops may only be corpus × BROADCAST centroids (the
    // pre-AQE plan repeats that subtree per reference); the pair join
    // itself must be a keyed join
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p.take(600))
  }

  test("d33: gopher rules are a map-only scan (zero shuffle)") {
    val p = plan(graft.queries.Curate.d33_gopher_rules(spark, sf))
    assert(!p.contains("Exchange"), s"d33 must not shuffle:\n${p.take(600)}")
  }

  test("d34/mm5: novelty and perceptual dedup join on their keys, never all-pairs") {
    for (q <- Seq(graft.queries.Curate.d34_novelty(spark, sf),
                  graft.queries.Multimodal.mm5_perceptual_hash(spark, sf))) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        p.take(600))
    }
  }

  test("d35: block cap filters BEFORE the self-join; no all-pairs join") {
    val p = plan(graft.queries.Llm.d35_prefix_dedup(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(600))
    // the cap's anti-join must sit BELOW the BLOCK self-join in the
    // tree (printed later = deeper): capping after the join would
    // still materialize the quadratic hot-block pairs. Locate the
    // self-join by its `blk` key, not by the first join in the print
    // (the short lane's join can print first and make the check
    // vacuous), and require it to exist whatever join strategy the
    // planner picks.
    val lines = p.linesIterator.toSeq
    val selfJoin = lines.indexWhere(l =>
      l.contains("Join") && l.contains("blk#") && !l.contains("LeftAnti"))
    val anti = lines.indexWhere(l => l.contains("LeftAnti") && l.contains("blk#"))
    assert(selfJoin >= 0, s"block self-join missing:\n${p.take(800)}")
    assert(anti > selfJoin,
      s"cap anti-join must be upstream (deeper) than the self-join:\n${p.take(800)}")
  }

  test("q64: typed-tuple build prunes the customer scan to its 3 columns") {
    val p = plan(Relational.q64_typed_tuples(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("c_custkey") && readSchema.contains("c_mktsegment")
      && readSchema.contains("c_nationkey"), readSchema)
    assert(!readSchema.contains("c_acctbal") && !readSchema.contains("c_address"),
      readSchema)
  }

  test("d37: span census and join-back key on span, never all-pairs") {
    val p = plan(graft.queries.Llm.d37_duplicate_spans(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(600))
    // both worker-side shuffles ride the span key (census + join-back;
    // the doc_id shuffles belong to the per-doc rollup + left join)
    assert(p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("span")), p.take(800))
    // the hashed lane moves a bigint key, not the string: the span
    // attribute entering the post-checkpoint exchanges prints with
    // the L (LongType) suffix (xxhash64 itself runs upstream of the
    // checkpointed (doc, span, cnt) collapse, inside its lineage)
    val ph = plan(graft.queries.Llm.duplicateSpans(
      graft.sources.Tables.documents(spark, sf), window = 8, hashSpans = true))
    assert(!ph.contains("CartesianProduct") && !ph.contains("BroadcastNestedLoopJoin"))
    assert(ph.linesIterator.exists(l => l.matches(""".*\bspan#\d+L\b.*""")), ph.take(800))
    assert(!ph.linesIterator.exists(l =>
      l.contains("Exchange") && l.matches(""".*\bspan#\d+\b(?!L).*""")), ph.take(800))
  }

  test("census queries never window-partition on a content key (unsplittable under skew)") {
    // a hot value (boilerplate span/gram, hyper-duplicated image,
    // mega-domain) makes a content-keyed window partition that ONE
    // task must sort and stream — AQE cannot split a window
    // partition. These four compute per-key stats via partial-
    // aggregated groupBy + join-back instead; pin Window out of the
    // plan entirely (d54's bounded two-phase rank is windowed, but
    // its phase-1 partitions are capped by the input split — assert
    // the salt column rides every window there)
    for (q <- Seq(graft.queries.Curate.d20_boilerplate(spark, sf),
                  graft.queries.Llm.d37_duplicate_spans(spark, sf),
                  graft.queries.Multimodal.mm5_perceptual_hash(spark, sf))) {
      val p = plan(q)
      assert(!p.contains("Window"), s"content-keyed window present:\n${p.take(600)}")
    }
    val p54 = plan(graft.queries.Curate.d54_url_dedup(spark, sf))
    val windows = p54.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty, "d54's two-phase rank should remain windowed")
    // phase-1 (the only window over unbounded input) carries the
    // partition-id salt; phase-2's input is already cap-bounded
    assert(windows.exists(_.contains("pid")), windows.mkString("\n"))
  }

  test("d66: coverage explodes merged extents, not per-window positions") {
    val p = plan(graft.queries.Llm.d66_substring_dedup_cut(spark, sf))
    // the interval merge emits one sequence(lo, hi) per maximal
    // removable extent — the explode is ∝ removed text, with no
    // distinct over w× overlapping positions; the old per-window
    // sequence(p, p + 7) shape must not come back
    assert(p.contains("sequence(lo"), p.take(800))
    assert(!p.contains("sequence(p"), p.take(800))
    // the merge's window pass is doc-keyed (bounded partitions), and
    // the census stays a groupBy — no content-keyed window partition
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("doc_id")),
      windows.mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q66: the log scans once per union leg, NOT once per horizon") {
    val p = plan(Relational.q66_since(spark, sf))
    // the horizon fan-out is a generator (explode) over the scanned
    // log — a per-horizon re-resolve would multiply the 3 union legs
    // by the 3 horizons
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("orders"))
    assert(scans == 3, s"expected the 3 union-leg scans only, got $scans:\n${p.take(800)}")
    assert(p.contains("Generate explode") || p.contains("Expand"), p.take(400))
  }

  test("d36: shard plan shuffles once, keyed on the shard id") {
    val p = plan(graft.queries.Curate.d36_shard_plan(spark, sf))
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.size == 1, s"exactly one shuffle:\n${p.take(800)}")
    assert(exchanges.head.contains("shard"), exchanges.head)
  }

  test("d38: composed pipeline — map prefix fused, shuffles only on dedup/mix keys") {
    // stages up to the mix: every hash exchange keys on clean_hash
    // (dedup) or source (mix totals); the gopher+scrub+quality prefix
    // adds NO exchange of its own, the totals side joins broadcast,
    // and nothing goes all-pairs
    val p = plan(graft.queries.Curate.d38Kept(spark, sf, 500L))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(600))
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && exchanges.size <= 3, // dedup (may print twice: totals + join branch) + source
      s"unexpected exchange count ${exchanges.size}:\n${exchanges.mkString("\n")}")
    exchanges.foreach(e =>
      assert(e.contains("clean_hash") || e.contains("source"),
        s"exchange on unexpected key: $e"))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"mix totals must broadcast back:\n${p.take(800)}")
    // final stage: every hash exchange keys on the shard id (the
    // count-distinct pack rewrite legitimately adds a second pass
    // keyed shard+pack_id; nothing may shuffle on anything else)
    val pf = plan(graft.queries.Curate.d38_curation_pipeline(spark, sf))
    val fin = pf.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(fin.nonEmpty && fin.size <= 2 && fin.forall(_.contains("shard")),
      s"final stage shuffles must key on shard:\n${fin.mkString("\n")}")
  }

  test("d41: BM25 top-k plans as TakeOrderedAndProject over a broadcast stats row") {
    val p = plan(graft.queries.Llm.d41_bm25_topk(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must not global-sort:\n${p.take(600)}")
    assert(p.contains("BroadcastExchange"),
      s"the single-row stats must broadcast:\n${p.take(800)}")
  }

  test("d40: containment joins on the gram key; bench set broadcasts") {
    val p = plan(graft.queries.Curate.d40_containment(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(600))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"benchmark gram set must broadcast:\n${p.take(800)}")
  }

  test("d29: prefix-sum packing has no unpartitioned window") {
    val p = plan(graft.queries.Curate.d29_sequence_pack(spark, sf))
    assert(!(p.contains("Window") && p.contains("SinglePartition")),
      s"d29 must not run a global window:\n${p.take(800)}")
  }

  test("mm7: keyframe top-3 is fully scan-side — no exchange anywhere") {
    val p = plan(graft.queries.Multimodal.mm7_keyframes(spark, sf))
    assert(!p.contains("Exchange"),
      s"the in-row array_sort top-3 must not shuffle:\n${p.take(800)}")
    assert(p.contains("Generate"), p.take(400))
  }

  test("d44: classifier inference has no exchange (one aggregate() per row)") {
    val p = plan(graft.queries.Llm.d44_quality_classifier(spark, sf))
    assert(!p.contains("Exchange"),
      s"hashed-feature scoring must stay map-side:\n${p.take(800)}")
  }

  test("d42: both retrievers end in bounded top-k, never a global sort") {
    val p = plan(graft.queries.Llm.d42_rrf_hybrid(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"retriever top-50s must plan as top-k:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("d46: fuzzy join is hash-keyed on the block, never nested-loop") {
    val p = plan(graft.queries.Llm.d46_fuzzy_join(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"Levenshtein must run only within equality blocks:\n${p.take(800)}")
  }

  test("d59: PQ trains/encodes against a broadcast codebook, never a cartesian") {
    val p = plan(graft.queries.Llm.d59_pq_adc(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("q83: AVET layout read pushes the (a, v_long) range onto the parquet scan") {
    val p = plan(Relational.q83_avet_layout(spark, sf))
    // PushedFilters renders truncated in toString — assert via the
    // scan's DataFilters, which carry the same pushed predicates
    assert(p.contains("GreaterThanOrEqual(v_long,5000000)"),
      s"v_long lower bound must reach PushedFilters:\n${p.take(1200)}")
    assert(p.contains("DataFilters: [isnotnull(a") && p.contains(" < 6000000)"),
      s"v_long upper bound must reach the scan:\n${p.take(1200)}")
    assert(p.contains("EqualTo(a,order/price)"),
      s"attr filter must reach PushedFilters:\n${p.take(1200)}")
  }

  test("q84: postings search pushes the term-hash IN-list onto the layout scan") {
    val p = plan(Relational.q84_inverted_fulltext(spark, sf))
    // xxhash64(lit) must constant-fold so the disjunction reaches the
    // scan as Or(EqualTo(term_hash,…)) — no per-row hashing at read
    assert(p.contains("EqualTo(term_hash,"),
      s"term_hash literals must reach PushedFilters:\n${p.take(1200)}")
    assert(p.contains("In(term, [join,spark])") || p.contains("In(term,"),
      s"collision-guard term filter must reach the scan:\n${p.take(1200)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must plan as TakeOrderedAndProject, not a full sort:\n${p.take(1200)}")
  }

  test("q85: z-ordered read pushes BOTH dimensions' predicates onto the scan") {
    val p = plan(Relational.q85_zorder_events(spark, sf))
    assert(p.contains("GreaterThanOrEqual(user_id,100)") &&
      p.contains("LessThan(user_id,200)"),
      s"user band must reach PushedFilters:\n${p.take(1200)}")
    // PushedFilters renders truncated — assert the time window via the
    // scan-adjacent Filter's nanos literals (the q83 discipline)
    assert(p.contains(">= 1704067200000000000") && p.contains("< 1704672000000000000"),
      s"time window must reach the scan:\n${p.take(1200)}")
  }

  test("q87: rank broadcast is size-guarded — oversize node sets fall back to shuffle joins") {
    // threshold -1 removes estimation-based broadcasts so the plans
    // reflect ONLY the guard's decision (hint vs no hint)
    TestSpark.withConfs(Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")) {
      val hinted = plan(Relational.q87_pagerankGuarded(spark, sf, broadcastRanksMaxRows = 5000000L))
      assert(hinted.contains("BroadcastHashJoin"), hinted.take(800))
      val guarded = plan(Relational.q87_pagerankGuarded(spark, sf, broadcastRanksMaxRows = 0L))
      assert(!guarded.contains("BroadcastHashJoin"), guarded.take(800))
      assert(guarded.contains("SortMergeJoin"), guarded.take(800))
    }
  }
}
