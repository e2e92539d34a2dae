package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.SchemaRegistry
import graft.pipeline.Loader
import graft.store.Store

/** Upsert semantics across sequential loads (SURVEY §7.3 hard part 2):
  * card-one attrs are last-writer-wins by tx, card-many attrs union —
  * driven by schema.edn metadata, per Datomic's :db.unique/identity
  * behavior. */
class UpsertSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val registry = SchemaRegistry.load(MbrainzFixture.schemaPath)

  private def batchFile(lines: String*): String = {
    val f = java.nio.file.Files.createTempFile("upsert", ".edn")
    java.nio.file.Files.write(f, lines.mkString("\n").getBytes)
    f.toString
  }

  test("card-one last-wins, card-many unions, across separate loads") {
    val store = new Store(spark, java.nio.file.Files.createTempDirectory("upsert").toString)
    val loader = new Loader(spark, registry, store)
    val gid = "11111111-1111-4111-8111-111111111111"
    val a1 = "22222222-2222-4222-8222-222222222222"
    val a2 = "33333333-3333-4333-8333-333333333333"

    // load 1: release with name v1 and one artist
    loader.loadBatchFile("releases", batchFile(
      s"""{:batch-ident {:db/id "datomic.tx", :mbrainz.initial-import/batch-id "releases-1"}, :data [""" +
        s"""{:release/gid #uuid "$gid", :release/name "Name V1", :release/artists {:artist/gid #uuid "$a1"}}]}"""))
    // load 2 (different batch id ⇒ not filtered): same entity, new name, second artist
    loader.loadBatchFile("releases", batchFile(
      s"""{:batch-ident {:db/id "datomic.tx", :mbrainz.initial-import/batch-id "releases-2"}, :data [""" +
        s"""{:release/gid #uuid "$gid", :release/name "Name V2", :release/artists {:artist/gid #uuid "$a2"}}]}"""))

    val cur = store.current(registry)
    val e = s"release/gid|$gid"
    val name = cur.filter(col("e") === e && col("a") === "release/name")
      .select("v").collect().map(_.getString(0)).toSeq
    assert(name == Seq("Name V2"), "card-one: last writer wins")
    val artists = cur.filter(col("e") === e && col("a") === "release/artists")
      .select("v").collect().map(_.getString(0)).toSet
    assert(artists == Set(s"artist/gid|$a1", s"artist/gid|$a2"), "card-many: union")
    // the raw log retains history (append-only)
    assert(store.eav.filter(col("e") === e && col("a") === "release/name").count() == 2)
  }

  test("as-of sees the superseded value; since sees only the delta") {
    val store = new Store(spark, java.nio.file.Files.createTempDirectory("asof").toString)
    val loader = new Loader(spark, registry, store)
    val gid = "55555555-5555-4555-8555-555555555555"
    loader.loadBatchFile("releases", batchFile(
      s"""{:batch-ident {:db/id "datomic.tx", :mbrainz.initial-import/batch-id "releases-1"}, :data [""" +
        s"""{:release/gid #uuid "$gid", :release/name "Old Name"}]}"""))
    loader.loadBatchFile("releases", batchFile(
      s"""{:batch-ident {:db/id "datomic.tx", :mbrainz.initial-import/batch-id "releases-2"}, :data [""" +
        s"""{:release/gid #uuid "$gid", :release/name "New Name"}]}"""))
    val e = s"release/gid|$gid"
    def nameAt(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.filter(col("e") === e && col("a") === "release/name")
        .select("v").collect().map(_.getString(0)).toSeq
    val txs = store.eav.filter(col("e") === e && col("a") === "release/name")
      .select("tx").collect().map(_.getLong(0)).sorted
    assert(txs.length == 2 && txs(0) < txs(1), s"two loads must get distinct txs: ${txs.toSeq}")
    assert(nameAt(store.current(registry)) == Seq("New Name"))
    assert(nameAt(store.asOf(registry, txs(0))) == Seq("Old Name"),
      "as-of the first tx must see the superseded value")
    assert(nameAt(store.eav.filter(col("tx") > txs(0))) == Seq("New Name"),
      "since the first tx must carry only the re-assertion")
    assert(store.eav.filter(col("e") === e && col("a") === "release/name").count() == 2)
    // tx-range: half-open [from, until) over the log
    assert(Store.txRange(store.eav, txs(0), txs(0) + 1)
      .filter(col("e") === e && col("a") === "release/name").count() == 1)
    assert(Store.txRange(store.eav, txs(1) + 1, Long.MaxValue)
      .filter(col("e") === e && col("a") === "release/name").count() == 0)
  }

  test("retraction hides the named value; stale retracts are no-ops; as-of still sees history") {
    import spark.implicits._
    val store = new Store(spark, java.nio.file.Files.createTempDirectory("retract").toString)
    def datoms(rows: (String, String, String, Long)*) =
      rows.toDF("e", "a", "v", "tx")
        .withColumn("v_long", lit(null).cast("long"))
        .withColumn("is_ref", lit(false))
    // card-one name asserted at tx 1, card-many genres at tx 1-2
    store.append(datoms(
      ("b1", "release/name", "Old", 1L),
      ("b1", "release/artists", "a1", 1L),
      ("b1", "release/artists", "a2", 2L)))
    // tx 3: retract the current name and one of the card-many values
    store.append(datoms(
      ("b1", "release/name", "Old", 3L),
      ("b1", "release/artists", "a1", 3L)).withColumn("op", lit(false)))
    def vals(df: org.apache.spark.sql.DataFrame, a: String) =
      df.filter(col("e") === "b1" && col("a") === a)
        .select("v").collect().map(_.getString(0)).toSet
    val cur = store.current(registry)
    assert(vals(cur, "release/name") == Set.empty, "retracted card-one value is gone")
    assert(vals(cur, "release/artists") == Set("a2"), "card-many keeps the unretracted value")
    assert(vals(store.asOf(registry, 2L), "release/name") == Set("Old"),
      "as-of before the retraction still sees the value")
    // tx 4: re-assert a new name; tx 5: a STALE retract of "Old" is a no-op
    store.append(datoms(("b1", "release/name", "New", 4L)))
    store.append(datoms(("b1", "release/name", "Old", 5L)).withColumn("op", lit(false)))
    assert(vals(store.current(registry), "release/name") == Set("New"),
      "stale retraction must not hide the newer assert")
    assert(store.eav.filter(col("e") === "b1").count() == 7, "history keeps everything")
    // Datalog view selection: runOn(eav) = history, runCurrent =
    // resolved, runAsOf = horizon before the retraction
    val q = graft.query.Datalog.parse("[:find ?n :where [?e :release/name ?n]]")
    def names(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getString(0)).toSet
    assert(names(graft.query.Datalog.runCurrent(store, registry, q)) == Set("New"))
    assert(names(graft.query.Datalog.runOn(store.eav, registry, q, Map.empty)) == Set("Old", "New"))
    assert(names(graft.query.Datalog.runAsOf(store, registry, 2L, q)) == Set("Old"))
  }

  test("current(): snapshot maintains incrementally on appends; out-of-order rebuilds; retractions go hybrid") {
    import spark.implicits._
    val store = new Store(spark, java.nio.file.Files.createTempDirectory("incsnap").toString)
    def datoms(rows: (String, String, String, Long)*) =
      rows.toDF("e", "a", "v", "tx")
        .withColumn("v_long", lit(null).cast("long"))
        .withColumn("is_ref", lit(false))
    def cur() = store.current(registry)
      .select("e", "a", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    def full() = Store.resolve(store.eav,
        registry.attrs.values.filter(_.many).map(_.ident).toSeq)
      .select("e", "a", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    store.append(datoms(
      ("b1", "release/name", "Old", 1L),
      ("b1", "release/artists", "a1", 1L)))
    assert(cur() === full())
    // append-only delta (newer tx): the incremental merge must see the
    // superseding name, the accumulated artist, and the new entity
    store.append(datoms(
      ("b1", "release/name", "New", 2L),
      ("b1", "release/artists", "a2", 2L),
      ("b2", "release/name", "Other", 2L)))
    val c2 = cur()
    assert(c2 === full())
    assert(store.lastCurrentIncremental, "a monotone assert-only delta must merge, not rebuild")
    assert(c2(("b1", "release/name", "New")) && c2(("b1", "release/artists", "a1")) &&
      c2(("b1", "release/artists", "a2")) && c2(("b2", "release/name", "Other")))
    // out-of-order append (tx at/below the basis): the row-count guard
    // must force a rebuild, and the result stays correct
    store.append(datoms(("b3", "release/name", "Early", 1L)))
    assert(cur() === full())
    assert(!store.lastCurrentIncremental, "an out-of-order tx must fail the count guard")
    // card-one retraction in the delta: the hybrid path re-resolves the
    // touched (e, a) keys from full history — full semantics RESURFACE
    // the older unretracted value (the PropertySpec reference model),
    // which the discarded-history snapshot alone could never produce —
    // while the rest of the store still merges incrementally
    store.append(datoms(("b1", "release/name", "New", 3L)).withColumn("op", lit(false)))
    val c4 = cur()
    assert(c4 === full())
    assert(store.lastCurrentIncremental,
      "a card-one retraction takes the hybrid incremental path, not a rebuild")
    assert(c4(("b1", "release/name", "Old")),
      "retracting the current value resurfaces the superseded one")
  }

  test("seek-datoms: AVET page crosses the attribute boundary in index order") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "a/x", "1", 1L), ("e2", "a/x", "2", 2L), ("e3", "a/x", "5", 5L),
      ("e4", "b/y", "10", 10L), ("e5", "b/y", "11", 11L), ("e6", "b/y", "12", 12L))
      .toDF("e", "a", "v", "v_long")
      .withColumn("is_ref", lit(false)).withColumn("tx", lit(1L)).withColumn("op", lit(true))
    val page = Store.seekDatoms(eav, "avet", "a/x", 2L, 4)
      .select("a", "v_long", "e").collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(page.toSeq == Seq(
      ("a/x", 2L, "e2"), ("a/x", 5L, "e3"), ("b/y", 10L, "e4"), ("b/y", 11L, "e5")),
      s"seek must take a/x's tail then continue into b/y: ${page.mkString(", ")}")
    // the page is a TakeOrderedAndProject, not a global sort
    val plan = Store.seekDatoms(eav, "avet", "a/x", 2L, 4).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
  }

  test("attribute-partitioned store prunes scans by attr") {
    val store = new Store(spark, java.nio.file.Files.createTempDirectory("prune").toString)
    val loader = new Loader(spark, registry, store)
    loader.loadBatchFile("artists", batchFile(
      """{:batch-ident {:db/id "datomic.tx", :mbrainz.initial-import/batch-id "artists-1"}, :data [""" +
        """{:artist/gid #uuid "44444444-4444-4444-8444-444444444444", :artist/name "X", :artist/sortName "X"}]}"""))
    val q = store.eav.filter(col("a") === "artist/name")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("isnotnull(a"), p.take(800))
    assert(q.count() == 1)
  }
}
