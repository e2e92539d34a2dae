package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.store.Store

/** Transaction functions (:db/cas, :db.fn/retractEntity), the AVET
  * index-range scan, and schema-gated fulltext — the Datomic write/
  * read surface beyond plain assert/retract. Oracle-gated by
  * q46-q49; these specs pin the semantic edges the harness data
  * doesn't reach (null-expected CAS, depth-2 component cascade,
  * non-component refs NOT cascading). */
class TxFnSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def datoms(rows: (String, String, String, Long)*) = {
    import spark.implicits._
    rows.toDF("e", "a", "v", "tx")
      .withColumn("v_long", lit(null).cast("long"))
      .withColumn("is_ref", lit(false))
      .withColumn("op", lit(true))
  }

  private def refDatoms(rows: (String, String, String, Long)*) =
    datoms(rows: _*).withColumn("is_ref", lit(true))

  test("cas: correct expected accepts, stale rejects, null expected matches unset attr") {
    import spark.implicits._
    val state = datoms(
      ("e1", "price", "100", 1L),
      ("e2", "price", "200", 1L))
    val ops = Seq(
      ("e1", "price", Some("100"), "150"), // correct expected → accept
      ("e2", "price", Some("999"), "250"), // stale expected → reject
      ("e3", "price", None, "300"))        // unset attr + null expected → accept
      .toDF("e", "a", "expected", "new_v")
      .withColumn("new_v_long", col("new_v").cast("long"))
    val out = Store.cas(state, ops, 2L).collect().map(r =>
      r.getString(0) -> r.getBoolean(r.fieldIndex("cas_ok"))).toMap
    assert(out === Map("e1" -> true, "e2" -> false, "e3" -> true))
    // rejected op carries the observed current value (error-as-data)
    val rej = Store.cas(state, ops, 2L).filter(!col("cas_ok")).collect()(0)
    assert(rej.getString(rej.fieldIndex("cur_v")) === "200")
    // applying only accepted datoms: e2 unchanged, e1 swapped, e3 created
    val accepted = Store.cas(state, ops, 2L).filter(col("cas_ok"))
      .select("e", "a", "v", "v_long", "is_ref", "tx", "op")
    val resolved = Store.resolve(state.unionByName(accepted), Seq.empty)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(resolved === Map("e1" -> "150", "e2" -> "200", "e3" -> "300"))
  }

  test("sinceAtHorizons: log suffix per horizon; orphan retraction stays invisible") {
    // e1 re-asserted at tx2; e2 untouched after tx1; e3 new at tx3;
    // e4 asserted tx1 then retracted tx2
    val log = datoms(
      ("e1", "p", "10", 1L), ("e1", "p", "20", 2L),
      ("e2", "p", "30", 1L),
      ("e3", "p", "40", 3L),
      ("e4", "p", "50", 1L))
      .unionByName(datoms(("e4", "p", "50", 2L)).withColumn("op", lit(false)))
    val out = Store.sinceAtHorizons(log, Seq(0L, 1L, 2L), Seq.empty)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (h, rows) =>
        h -> rows.map(r => r.getString(1) -> r.getString(3)).toMap }
    // since 0 = the whole log: e4's retraction wins, the rest current
    assert(out(0L) === Map("e1" -> "20", "e2" -> "30", "e3" -> "40"))
    // since 1: e2 vanishes (not stale — INVISIBLE: nothing after tx1);
    // e4's suffix holds a retraction with no assert → still absent
    assert(out(1L) === Map("e1" -> "20", "e3" -> "40"))
    // since 2: only the tx3 assert
    assert(out(2L) === Map("e3" -> "40"))
  }

  test("retractEntity: depth-2 component cascade + inbound refs; non-component survives") {
    import spark.implicits._
    // order o1 owns line l1 (component), l1 owns sub s1 (component,
    // depth 2); customer c1 points at o1 (non-component ref); o1
    // points at nation n1 via a non-component ref — n1 must survive
    val state = datoms(
      ("o1", "price", "100", 1L),
      ("l1", "qty", "5", 1L),
      ("s1", "note", "x", 1L),
      ("o2", "price", "999", 1L),
      ("n1", "name", "JP", 1L))
      .unionByName(refDatoms(
        ("o1", "order/line", "l1", 1L),
        ("l1", "line/sub", "s1", 1L),
        ("c1", "cust/order", "o1", 1L),
        ("c1", "cust/order", "o2", 1L),
        ("o1", "order/nation", "n1", 1L)))
    val targets = Seq("o1").toDF("e")
    val retr = Store.retractEntityTx(state, targets,
      componentAttrs = Seq("order/line", "line/sub"), tx = 2L)
    // retracted: o1's 3 datoms (price, order/line, order/nation),
    // cascade l1 (qty, line/sub), cascade s1 (note), inbound c1→o1
    val retracted = retr.select("e", "a", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(retracted === Set(
      ("o1", "price", "100"), ("o1", "order/line", "l1"), ("o1", "order/nation", "n1"),
      ("l1", "qty", "5"), ("l1", "line/sub", "s1"),
      ("s1", "note", "x"),
      ("c1", "cust/order", "o1")))
    assert(retr.filter(col("op")).count() === 0, "all generated datoms are retractions")
    // post-retraction state: o2, n1, and c1's OTHER ref survive
    val after = Store.resolve(state.unionByName(retr), Seq("cust/order"))
      .select("e", "a", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(after === Set(
      ("o2", "price", "999"), ("n1", "name", "JP"), ("c1", "cust/order", "o2")))
  }

  test("indexRange: half-open value range in value order, attr-pruned on a real store") {
    val store = new Store(spark, java.nio.file.Files.createTempDirectory("idxrange").toString)
    store.append(datoms(
      ("e1", "price", "10", 1L), ("e2", "price", "20", 1L),
      ("e3", "price", "30", 1L), ("e4", "other", "20", 1L))
      .withColumn("v_long", col("v").cast("long")))
    val out = Store.indexRange(store.eav, "price", 10L, 30L)
    assert(out.select("e").collect().map(_.getString(0)).toSeq === Seq("e1", "e2"),
      "half-open [10, 30) in value order; the 'other' attr's 20 is excluded")
    // the attr filter prunes store partitions; the range rides the scan
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters"), p.take(800))
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(v_long,10"), p.take(800))
  }

  test("fulltextOn: schema gate and tokenization") {
    import spark.implicits._
    val eav = Seq(
      ("p1", "part/name", "small ring"),
      ("p2", "part/name", "Smallish ring"), // 'smallish' tokenizes whole: no match
      ("p3", "part/type", "SMALL"),         // non-fulltext attr: must not match
      ("p4", "part/name", "SMALL bolt"))    // case-insensitive match
      .toDF("e", "a", "v")
    val hits = graft.query.Explore.fulltextOn(eav, Seq("part/name"), "Small")
      .select("e").collect().map(_.getString(0)).toSet
    assert(hits === Set("p1", "p4"))
  }

  test("d25 segments: within-doc duplicates dedup to the first occurrence") {
    import spark.implicits._
    // doc 1: segment A appears twice (idx 0 and 1); doc 2 repeats A again
    // and adds its own B; 8 words per segment
    val a = "w1 w2 w3 w4 w5 w6 w7 w8"
    val b = "x1 x2 x3 x4 x5 x6 x7 x8"
    val docs = Seq((1L, s"$a $a"), (2L, s"$a $b"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("d25").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.Llm.d25_segment_dedup(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map(1L -> ((2L, 1L)), 2L -> ((2L, 1L))),
      "doc1 keeps one of two copies of A; doc2 keeps only B")
  }

  test("filteredDb: reads through the filtered value never see trimmed datoms") {
    import org.apache.spark.sql.functions.{col => c}
    val log = datoms(
      ("e1", "name", "A", 1L), ("e1", "ssn", "123", 1L),
      ("e2", "name", "B", 1L))
    val trimmed = Store.filteredDb(log, c("a") =!= "ssn")
    // the query layer composes over the filtered value unchanged
    val got = Store.resolve(trimmed, Seq.empty)
      .select("e", "a").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("e1", "name"), ("e2", "name")))
    assert(trimmed.filter(c("e") === "e1").count() === 1)
  }

  test("excise: erases history AND inbound refs, leaves an audit datom") {
    import spark.implicits._
    val log = datoms(
      ("e1", "price", "100", 1L), ("e1", "price", "200", 2L), // two-tx history
      ("e2", "price", "300", 1L))
      .unionByName(refDatoms(("c1", "cust/order", "e1", 1L)))
    val out = Store.excise(log, Seq("e1").toDF("e"), tx = 3L)
    // every e1 datom (both txs) and the inbound ref are GONE — asOf 1
    // no longer sees e1 (retraction would have kept it at horizon 1)
    val atTx1 = Store.resolveAtHorizons(out.filter(col("a") =!= "db/excise"),
      Seq(1L), Seq.empty).select("e").collect().map(_.getString(0)).toSet
    assert(atTx1 === Set("e2"), "history before the excision tx is erased too")
    val audit = out.filter(col("a") === "db/excise").collect()
    assert(audit.length == 1)
    assert(audit(0).getString(0) === "db.excise/e1" && audit(0).getString(2) === "e1")
    assert(out.filter(col("e") === "e1" || (col("is_ref") && col("v") === "e1")).count() === 0)
  }

  test("withDb: speculation sees the tx, base state does not; two withs are independent") {
    val state = datoms(("e1", "price", "100", 1L), ("e2", "price", "200", 1L))
    val tx1 = datoms(("e1", "price", "150", 2L))
    val tx2 = datoms(("e2", "price", "999", 2L))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(snap(Store.withDb(state, tx1, Seq.empty)) ===
      Map("e1" -> "150", "e2" -> "200"))
    // a second with from the SAME basis sees tx2 but never tx1
    assert(snap(Store.withDb(state, tx2, Seq.empty)) ===
      Map("e1" -> "100", "e2" -> "999"))
    // the basis itself is untouched
    assert(snap(Store.resolve(state, Seq.empty)) ===
      Map("e1" -> "100", "e2" -> "200"))
    // with also sees retractions speculatively
    val retr = tx1.withColumn("op", lit(false))
      .withColumn("v", lit("100")).withColumn("tx", lit(2L))
    assert(snap(Store.withDb(state, retr, Seq.empty)) === Map("e2" -> "200"))
  }

  test("deriveTupleAttr: composite from siblings, nil for missing slots") {
    val cur = datoms(
      ("e1", "order/cust", "7", 1L), ("e1", "order/date", "1995-01-01", 1L),
      ("e2", "order/cust", "7", 1L), ("e2", "order/date", "1995-01-01", 1L),
      ("e3", "order/cust", "9", 1L), // no date → nil slot
      ("e4", "other/attr", "x", 1L)) // neither source attr → no tuple
    val out = Store.deriveTupleAttr(cur, "order/cust+date",
      Seq("order/cust", "order/date"), tx = 2L)
    val m = out.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(m === Map(
      "e1" -> "[7 1995-01-01]", "e2" -> "[7 1995-01-01]", "e3" -> "[9 nil]"))
    assert(out.filter(col("a") =!= "order/cust+date").count() === 0)
    // composite uniqueness = groupBy on the derived value
    val conflicts = out.groupBy("v").count().filter(col("count") >= 2)
      .collect().map(_.getString(0)).toSeq
    assert(conflicts === Seq("[7 1995-01-01]"))
  }

  test("ensureTx: one failing entity rejects its whole tx, clean txs pass") {
    import spark.implicits._
    val rows = Seq(
      (1L, 10L, "a"), (2L, 10L, "BAD"), (3L, 10L, "c"), // tx 10: one violator
      (4L, 20L, "d"), (5L, 20L, "e"))                   // tx 20: clean
      .toDF("id", "txid", "payload")
    val out = graft.ops.Validate.ensureTx(rows, col("txid"),
      Seq("no-bad" -> (col("payload") === "BAD")))
    val byId = out.collect().map(r => r.getLong(r.fieldIndex("id")) ->
      ((r.getSeq[String](r.fieldIndex("errors")).nonEmpty, r.getBoolean(r.fieldIndex("tx_ok"))))).toMap
    assert(byId === Map(
      1L -> ((false, false)), 2L -> ((true, false)), 3L -> ((false, false)),
      4L -> ((false, true)), 5L -> ((false, true))),
      "rows 1 and 3 are collateral rejections: clean rows in a failed tx")
  }

  test("indexPull pages in (value, entity) order") {
    import spark.implicits._
    val cur = Seq(
      ("e1", "score", "30", 30L), ("e2", "score", "10", 10L),
      ("e3", "score", "20", 20L), ("e4", "score", "10", 10L),
      ("e1", "name", "A", -1L), ("e2", "name", "B", -1L),
      ("e3", "name", "C", -1L), ("e4", "name", "D", -1L))
      .toDF("e", "a", "v", "vl")
      .withColumn("v_long", when(col("vl") >= 0, col("vl")))
      .drop("vl")
      .withColumn("is_ref", lit(false))
      .withColumn("tx", lit(1L)).withColumn("op", lit(true))
    val reg = new graft.model.SchemaRegistry(Map.empty)
    val page = Store.indexPull(cur, reg, "score", vFrom = 10L, limit = 3,
        graft.query.Pull.parsePattern("[:name]"))
      .orderBy(col("avet_v"), col("e")).collect()
      .map(r => (r.getString(r.fieldIndex("e")), r.getLong(r.fieldIndex("avet_v")),
        r.getString(r.fieldIndex("name"))))
    // value order, e-string tiebreak, page cut after 3: e2(10) e4(10) e3(20)
    assert(page.toSeq == Seq(("e2", 10L, "B"), ("e4", 10L, "D"), ("e3", 20L, "C")),
      page.mkString(", "))
  }

  test("txInstant: date→tx boundaries (exact instant, between txes, before first)") {
    import spark.implicits._
    def ms(iso: String) = java.time.Instant.parse(iso).toEpochMilli
    def date(iso: String) = new java.util.Date(ms(iso))
    val log = Seq(
      ("e1", "price", "100", 1L, Option.empty[Long]),
      ("e1", "price", "200", 2L, Option.empty[Long]),
      ("tx|1", Store.txInstantAttr, "2020-01-15T00:00:00Z", 1L, Some(ms("2020-01-15T00:00:00Z"))),
      ("tx|2", Store.txInstantAttr, "2020-03-10T00:00:00Z", 2L, Some(ms("2020-03-10T00:00:00Z"))))
      .toDF("e", "a", "v", "tx", "v_long")
      .withColumn("is_ref", lit(false)).withColumn("op", lit(true))
    // exact instant is INCLUSIVE (at-or-before)
    assert(Store.txAtInstant(log, date("2020-01-15T00:00:00Z")) == 1L)
    assert(Store.txAtInstant(log, date("2020-03-10T00:00:00Z")) == 2L)
    // between txes → the earlier one; after all → the last
    assert(Store.txAtInstant(log, date("2020-02-01T00:00:00Z")) == 1L)
    assert(Store.txAtInstant(log, date("2021-01-01T00:00:00Z")) == 2L)
    // before the first tx → -1, and an as-of there is the empty db
    assert(Store.txAtInstant(log, date("2019-12-31T23:59:59Z")) == -1L)
    assert(Store.resolve(log.filter(col("tx") <= -1L), Seq.empty).count() == 0)
  }

  test(":db/tupleAttrs auto-maintenance: derive on touch, supersede on change, retract when sources go") {
    import graft.model.{AttrDef, SchemaRegistry}
    val st = new Store(spark,
      java.nio.file.Files.createTempDirectory("tupmaint").toString)
    val reg = new SchemaRegistry(Map(
      "order/cust" -> AttrDef("order/cust", "string", many = false,
        uniqueIdentity = false, uniqueValue = false, component = false, fulltext = false),
      "order/date" -> AttrDef("order/date", "string", many = false,
        uniqueIdentity = false, uniqueValue = false, component = false, fulltext = false),
      "order/cust+date" -> AttrDef("order/cust+date", "tuple", many = false,
        uniqueIdentity = true, uniqueValue = false, component = false, fulltext = false,
        tupleAttrs = Seq("order/cust", "order/date"))))
    def tupleOf(e: String): Seq[String] =
      st.current(reg).filter(col("a") === "order/cust+date" && col("e") === e)
        .select("v").collect().map(_.getString(0)).toSeq
    // the transactor's write: the batch, then the composite datoms it
    // implies at the batch's tx
    def transact(batch: org.apache.spark.sql.DataFrame, tx: Long): Unit = {
      st.append(batch)
      st.append(Store.tupleMaintenanceTx(st.eav, batch, "order/cust+date",
        reg("order/cust+date").tupleAttrs, tx))
    }
    // tx1: both sources land → composite derived automatically
    transact(datoms(
      ("o1", "order/cust", "c9", 1L), ("o1", "order/date", "d1", 1L)), 1L)
    assert(tupleOf("o1") == Seq("[c9 d1]"))
    // tx2: one source changes → the composite supersedes (transactor
    // behavior: touching ANY source re-derives)
    transact(datoms(("o1", "order/date", "d2", 2L)), 2L)
    assert(tupleOf("o1") == Seq("[c9 d2]"))
    // an untouched entity is never visited
    transact(datoms(("o2", "order/cust", "c5", 3L)), 3L)
    assert(tupleOf("o1") == Seq("[c9 d2]") && tupleOf("o2") == Seq("[c5 nil]"))
    // tx4: retract EVERY asserted source value of o1 (the engine's
    // documented resolution resurfaces older unretracted values —
    // PropertySpec's reference model — so clearing an attr means
    // retracting its history, as the loader's retraction path does)
    // → the composite retracts too
    transact(
      datoms(("o1", "order/cust", "c9", 4L), ("o1", "order/date", "d1", 4L),
        ("o1", "order/date", "d2", 4L))
        .withColumn("op", lit(false)), 4L)
    assert(tupleOf("o1").isEmpty, "orphaned composite must be retracted")
    assert(tupleOf("o2") == Seq("[c5 nil]"), "other entities untouched")
  }

  test("typed tuples: round-trip through the text encoding, nil slots, arity gate") {
    import spark.implicits._
    val rows = Seq(
      ("p1", Some("alpha"), Some(7L), Some(1.5)),
      ("p2", None, Some(9L), None),           // null slots render nil
      ("p3", Some("gamma"), None, Some(-2.0)))
      .toDF("id", "s", "n", "x")
    val datoms = Store.tupleDatoms(rows, col("id"), "geo/tag+n+x",
      Seq(col("s"), col("n"), col("x")), Seq("string", "long", "double"), tx = 1L)
    val v = datoms.collect().map(r =>
      r.getString(r.fieldIndex("e")) -> r.getString(r.fieldIndex("v"))).toMap
    assert(v("p1") === "[alpha 7 1.5]")
    assert(v("p2") === "[nil 9 nil]")
    assert(v("p3") === "[gamma nil -2.0]")
    // decode = encode⁻¹, with per-slot types and nil → null
    val back = datoms.select(col("e"),
        Store.tupleSlot(col("v"), 0, "string").as("s"),
        Store.tupleSlot(col("v"), 1, "long").as("n"),
        Store.tupleSlot(col("v"), 2, "double").as("x"))
      .collect().map(r => r.getString(0) ->
        ((Option(r.getString(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(back("p1") === ((Some("alpha"), Some(7L), Some(1.5))))
    assert(back("p2") === ((None, Some(9L), None)))
    assert(back("p3") === ((Some("gamma"), None, Some(-2.0))))
    // arity mismatch is a loud error, as in Datomic
    val err = intercept[IllegalArgumentException](
      Store.tupleDatoms(rows, col("id"), "t", Seq(col("s")), Seq("string", "long"), 1L))
    assert(err.getMessage.contains("arity"), err.getMessage)
    // encode-time guard: a string slot the space-separated text form
    // cannot represent (embedded space / literal "nil") fails loudly
    // instead of decoding to a wrong value later
    val bad = Seq(("p9", "two words", 1L)).toDF("id", "s", "n")
    val encErr = intercept[Exception](
      Store.tupleDatoms(bad, col("id"), "t/s+n",
        Seq(col("s"), col("n")), Seq("string", "long"), 1L).collect())
    assert(encErr.getMessage.contains("not encodable"), encErr.getMessage)
    val nilRow = Seq(("p9", "nil", 1L)).toDF("id", "s", "n")
    val nilErr = intercept[Exception](
      Store.tupleDatoms(nilRow, col("id"), "t/s+n",
        Seq(col("s"), col("n")), Seq("string", "long"), 1L).collect())
    assert(nilErr.getMessage.contains("not encodable"), nilErr.getMessage)
    // instant slots carry epoch MILLIS (the store-wide convention) —
    // a bare long cast would truncate to seconds
    val at = java.time.Instant.parse("2020-01-02T03:04:05.678Z")
    val ts = Seq(("i1", java.sql.Timestamp.from(at), 1L)).toDF("id", "at", "k")
    val enc = Store.tupleDatoms(ts, col("id"), "t/at+k",
      Seq(col("at"), col("k")), Seq("instant", "long"), 1L)
    val millis = enc.select(Store.tupleSlot(col("v"), 0, "instant").as("m"))
      .collect()(0).getLong(0)
    assert(millis === at.toEpochMilli, s"got $millis")
    // schema registry parses :db/tupleTypes
    val reg = graft.model.SchemaRegistry.fromEdn(
      """[{:db/ident :geo/latlon
        |  :db/valueType :db.type/tuple
        |  :db/tupleTypes [:db.type/double :db.type/double]
        |  :db/cardinality :db.cardinality/one}]""".stripMargin)
    assert(reg("geo/latlon").tupleTypes === Seq("double", "double"))
    assert(reg("geo/latlon").valueType === "tuple")
  }

  test("noHistory: superseded values invisible to history(registry); current unchanged") {
    import graft.model.{AttrDef, SchemaRegistry}
    def ad(n: String, noHist: Boolean, many: Boolean = false) =
      n -> AttrDef(n, "string", many, uniqueIdentity = false,
        uniqueValue = false, component = false, fulltext = false, noHistory = noHist)
    val reg = new SchemaRegistry(Map(
      ad("dev/heartbeat", noHist = true),          // card-one, churny
      ad("dev/tags", noHist = true, many = true),  // card-many noHistory
      ad("dev/name", noHist = false)))
    val st = new Store(spark,
      java.nio.file.Files.createTempDirectory("nohist").toString)
    st.append(datoms(
      ("d1", "dev/heartbeat", "t1", 1L), ("d1", "dev/name", "alpha", 1L),
      ("d1", "dev/tags", "a", 1L), ("d1", "dev/tags", "b", 1L)))
    st.append(datoms(("d1", "dev/heartbeat", "t2", 2L),
      ("d1", "dev/name", "beta", 2L)))
    // retract tag "a" at tx 3
    st.append(datoms(("d1", "dev/tags", "a", 3L)).withColumn("op", lit(false)))
    st.append(datoms(("d1", "dev/heartbeat", "t3", 4L)))
    def history = Store.dropNoHistory(st.eav, Seq("dev/heartbeat", "dev/tags"), Seq("dev/tags"))
    val hist = history.select("e", "a", "v", "op")
    val hb = hist.filter(col("a") === "dev/heartbeat").collect()
    // superseded heartbeats t1/t2 are GONE; only the current t3 row remains
    assert(hb.map(_.getString(2)).toSeq === Seq("t3"), hb.mkString(","))
    // retracted noHistory card-many value and its retraction marker both vanish
    val tags = hist.filter(col("a") === "dev/tags").collect()
    assert(tags.map(_.getString(2)).toSeq === Seq("b"), tags.mkString(","))
    assert(tags.forall(_.getBoolean(3)))
    // a NORMAL attr keeps its full history (both name versions)
    assert(hist.filter(col("a") === "dev/name").count() === 2)
    // current view is unchanged by the flag
    val cur = st.current(reg).filter(col("a") =!= "db/txInstant")
      .select("e", "a", "v")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(cur === Set(("d1", "dev/heartbeat", "t3"), ("d1", "dev/name", "beta"),
      ("d1", "dev/tags", "b")), cur.toString)
    // the registry-less raw log still has everything (the durable record)
    assert(st.eav.filter(col("a") === "dev/heartbeat").count() === 3)
    // retract-then-REASSERT: the live value survives with its later tx
    // (only superseded/retracted values vanish, not the attr)
    st.append(datoms(("d1", "dev/heartbeat", "t3", 5L)).withColumn("op", lit(false)))
    st.append(datoms(("d1", "dev/heartbeat", "t9", 6L)))
    val hb2 = history.filter(col("a") === "dev/heartbeat")
      .select("v", "tx").collect()
    assert(hb2.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("t9", 6L)),
      hb2.mkString(","))
  }

  test("renderTuple guard also covers composite (deriveTupleAttr) tuples") {
    import spark.implicits._
    // the advice gap: the encode guard used to protect tupleDatoms
    // only; a composite tuple built from a spacey source value would
    // silently mis-decode. Now the shared renderTuple guard fires.
    val cur = Seq(("e1", "x/a", "one two"), ("e1", "x/b", "3")).toDF("e", "a", "v")
    val err = intercept[Exception](
      Store.deriveTupleAttr(cur, "x/a+b", Seq("x/a", "x/b"), 1L).collect())
    assert(err.getMessage.contains("not encodable"), err.getMessage)
  }

  test(":db.attr/preds: per-attribute predicates accept/reject; retractions pass unchecked") {
    import graft.ops.Validate
    val preds = Map(
      "acct/balance" -> Seq(
        "non-negative" -> (col("v_long") >= 0L),
        "below-cap" -> (col("v_long") < 1000L)),
      "acct/owner" -> Seq(
        "non-empty" -> (length(col("v")) > 0)))
    val rows = datoms(
      ("e1", "acct/balance", "500", 1L),   // ok
      ("e2", "acct/balance", "-5", 1L),    // fails non-negative
      ("e3", "acct/balance", "5000", 1L),  // fails below-cap
      ("e4", "acct/owner", "", 1L),        // fails non-empty
      ("e5", "acct/other", "anything", 1L) // attr with no preds → ok
    ).withColumn("v_long", expr("try_cast(v AS bigint)"))
    val out = Validate.attrPreds(rows, preds)
      .select(col("e"), col("errors")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(out("e1").isEmpty && out("e5").isEmpty)
    assert(out("e2") === Seq("non-negative"))
    assert(out("e3") === Seq("below-cap"))
    assert(out("e4") === Seq("non-empty"))
    // null pred result counts as failed (a Datomic pred that throws)
    val nullRow = datoms(("e6", "acct/balance", "x", 1L))
      .withColumn("v_long", lit(null).cast("long"))
    val e6 = Validate.attrPreds(nullRow, preds).select(col("errors")).collect()(0)
    assert(e6.getSeq[String](0).toSet === Set("non-negative", "below-cap"))
    // retraction of a violating value passes unchecked (preds fire on asserts)
    val retraction = datoms(("e2", "acct/balance", "-5", 2L))
      .withColumn("v_long", lit(-5L)).withColumn("op", lit(false))
    assert(Validate.attrPreds(retraction, preds)
      .select(col("errors")).collect()(0).getSeq[String](0).isEmpty)
  }

  test(":db/fn: custom inc-balance installs next to builtins and transacts through a store") {
    import graft.store.TxFns
    val st = new Store(spark,
      java.nio.file.Files.createTempDirectory("txfns").toString)
    val reg = new graft.model.SchemaRegistry(Map.empty)
    st.append(datoms(
      ("a1", "acct/balance", "100", 1L),
      ("a2", "acct/balance", "200", 1L))
      .withColumn("v_long", col("v").cast("long")))
    // the custom function: read CURRENT balance, assert balance+amount
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
    assert(fns.names === Set("db/cas", "db.fn/retractEntity", "acct/inc-balance"))
    import spark.implicits._
    // one tx: expand every invocation against the pre-tx state, append
    st.append(TxFns.expand(TxFns.TxCtx(st.current(reg), reg, 2L), fns,
      Seq("acct/inc-balance" -> Seq(("a1", 50L), ("a3", 7L)).toDF("e", "amount"))))
    val bal = st.current(reg).filter(col("a") === "acct/balance")
      .select("e", "v_long").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a1 bumped from its REAL current value, a2 untouched, a3 created from 0
    assert(bal === Map("a1" -> 150L, "a2" -> 200L, "a3" -> 7L))
    // unknown name fails loudly
    val ex = intercept[IllegalArgumentException](fns("nope"))
    assert(ex.getMessage.contains("acct/inc-balance"))
  }

  test(":db/fn: builtin cas entry aborts the whole tx on a stale expected") {
    import graft.store.TxFns
    import spark.implicits._
    val st = new Store(spark,
      java.nio.file.Files.createTempDirectory("txfnscas").toString)
    val reg = new graft.model.SchemaRegistry(Map.empty)
    st.append(datoms(("a1", "acct/balance", "100", 1L))
      .withColumn("v_long", col("v").cast("long")))
    val stale = Seq(("a1", "acct/balance", "999", "50"))
      .toDF("e", "a", "expected", "new_v")
      .withColumn("new_v_long", col("new_v").cast("long"))
    intercept[IllegalStateException] {
      st.append(TxFns.expand(TxFns.TxCtx(st.current(reg), reg, 2L), TxFns.builtins,
        Seq("db/cas" -> stale)))
    }
    // nothing landed: the store still resolves to the original value
    val v = st.current(reg).filter(col("a") === "acct/balance")
      .select("v").collect()(0).getString(0)
    assert(v === "100")
    // a correct expected goes through the same registry path
    val ok = Seq(("a1", "acct/balance", "100", "50"))
      .toDF("e", "a", "expected", "new_v")
      .withColumn("new_v_long", col("new_v").cast("long"))
    st.append(TxFns.expand(TxFns.TxCtx(st.current(reg), reg, 3L), TxFns.builtins,
      Seq("db/cas" -> ok)))
    assert(st.current(reg).filter(col("a") === "acct/balance")
      .select("v").collect()(0).getString(0) === "50")
  }

  test("loader stamps one txInstant per tx; as-of by date reads through it") {
    val registry = graft.model.SchemaRegistry.load(MbrainzFixture.schemaPath)
    val st = new Store(spark,
      java.nio.file.Files.createTempDirectory("txinst").toString)
    val loader = new graft.pipeline.Loader(spark, registry, st)
    val before = new java.util.Date(System.currentTimeMillis() - 1000)
    val line =
      """{:batch-ident {:db/id "datomic.tx", :mbrainz.initial-import/batch-id "artists-1"}, :data [""" +
        """{:artist/gid #uuid "66666666-6666-4666-8666-666666666666", :artist/name "N", :artist/sortName "S"}]}"""
    val f = java.nio.file.Files.createTempFile("ti", ".edn")
    java.nio.file.Files.write(f, line.getBytes)
    loader.loadBatchFile("artists", f.toString)
    val instants = st.eav.filter(col("a") === Store.txInstantAttr).collect()
    assert(instants.length == 2, "one txInstant per tx (import-schema + artists-1)")
    assert(instants.forall(r => r.getString(r.fieldIndex("e")).startsWith("tx|")))
    // a horizon before the load sees nothing; one after sees the artist
    assert(st.asOf(registry, Store.txAtInstant(st.eav, before))
      .filter(col("a") === "artist/name").count() == 0)
    assert(st.asOf(registry, Store.txAtInstant(st.eav, new java.util.Date()))
      .filter(col("a") === "artist/name").count() == 1)
  }

  test("partitions: entid compose/recover round-trips, high indices exact, adjacency holds") {
    import spark.implicits._
    // round-trip across the full useful range, including a partition
    // index large enough that mul/div arithmetic in doubles would
    // already be lossy (idx 2^20 → eid ≈ 2^62)
    val cases = Seq((0L, 0L), (0L, 1L), (3L, 1000L), (4L, 1L),
      (9L, Store.partSpan - 1), (1048575L, 42L))
    val df = cases.toDF("p", "t")
      .withColumn("eid", Store.entidAt(col("p"), col("t")))
      .withColumn("p2", Store.partIdxOf(col("eid")))
      .withColumn("t2", Store.tOf(col("eid")))
    df.collect().foreach { r =>
      assert(r.getLong(r.fieldIndex("p2")) == r.getLong(0), s"part of ${r}")
      assert(r.getLong(r.fieldIndex("t2")) == r.getLong(1), s"t of ${r}")
    }
    // Datomic's layout constants: tx partition is index 3, so the
    // first tx eid (t=1000 convention) sits at 3·2^42 + 1000
    val txEid = df.filter(col("p") === 3L && col("t") === 1000L)
      .select(col("eid")).collect()(0).getLong(0)
    assert(txEid == 3L * Store.partSpan + 1000L)
    // locality: same-partition eids are contiguous, different
    // partitions are ≥ 2^42 apart — an eid range covers one partition
    val sorted = df.orderBy(col("eid")).select(col("p"), col("eid")).collect()
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        if (a.getLong(0) == b.getLong(0))
          assert(b.getLong(1) - a.getLong(1) < Store.partSpan)
        else assert(b.getLong(1) - a.getLong(1) >= 1L)
      case _ =>
    }
  }

  test("txRange (static): half-open [from, until), bounds exact") {
    val log = datoms(
      ("e1", "x", "1", 1L), ("e1", "x", "2", 2L),
      ("e2", "x", "3", 3L), ("e3", "x", "4", 4L))
    val got = Store.txRange(log, 2L, 4L).select("tx").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(2L, 3L), "from inclusive, until exclusive")
    assert(Store.txRange(log, 5L, 9L).count() == 0)
  }

  test("q81 restore audit: cold resolve and live hybrid agree on the edge fixture") {
    val rows = graft.queries.Relational.q81_restore_audit(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(rows.keySet == Set("order/price", "order/tag"))
    assert(rows.values.forall(identity),
      "stale retract, re-assert-after-retract, and card-many set semantics " +
        "must resolve identically on both paths")
  }
}
