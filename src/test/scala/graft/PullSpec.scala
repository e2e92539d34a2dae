package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{AttrDef, SchemaRegistry}
import graft.query.Pull

/** Pull API semantics on a hand-built current-state EAV: scalar
  * attrs, card-many arrays, nested forward refs (card-one → struct,
  * card-many → sorted struct array), reverse refs, missing → null. */
class PullSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ad(ident: String, ref: Boolean = false, many: Boolean = false) =
    ident -> AttrDef(ident, if (ref) "ref" else "string", many,
      uniqueIdentity = false, uniqueValue = false, component = false, fulltext = false)

  private lazy val registry = new SchemaRegistry(Map(
    ad("band/name"), ad("band/genres", many = true),
    ad("band/label", ref = true),
    ad("album/name"), ad("album/band", ref = true),
    ad("label/name")))

  private lazy val cur = Seq(
    ("b1", "band/name", "Alpha"), ("b1", "band/genres", "rock"),
    ("b1", "band/genres", "jazz"), ("b1", "band/label", "l1"),
    ("b2", "band/name", "Beta"),
    ("a1", "album/name", "First"), ("a1", "album/band", "b1"),
    ("a2", "album/name", "Second"), ("a2", "album/band", "b1"),
    ("l1", "label/name", "BigLabel"))
    .toDF("e", "a", "v")

  private def roots(es: String*) = es.toDF("e")

  test("[*] expands to every registry attr; explicit map specs keep hydration") {
    // wildcard alone: all six attrs as scalar columns (refs un-recursed)
    val wide = Pull.pullFrom(cur, registry, Pull.parsePattern("[*]"), roots("b1"))
    assert(wide.columns.sorted.toSeq ===
      Seq("album_band", "album_name", "band_genres", "band_label", "band_name", "e", "label_name"))
    val r = wide.collect()(0)
    assert(r.getAs[String]("band_name") === "Alpha")
    assert(r.getAs[String]("band_label") === "l1", "wildcard renders the ref as its id")
    // [* {:band/label [...]}]: the explicit entry wins (hydrated struct)
    val hydrated = Pull.pullFrom(cur, registry,
      Pull.parsePattern("[* {:band/label [:label/name]}]"), roots("b1"))
    assert(hydrated.columns.count(_ == "band_label") === 1, "no duplicate column")
    assert(hydrated.select(col("band_label.label_name")).collect()(0).getString(0) === "BigLabel")
  }

  test("entity: one wide row per root, every attribute") {
    val store = new graft.store.Store(spark,
      java.nio.file.Files.createTempDirectory("entity").toString)
    store.append(cur.withColumn("v_long", lit(null).cast("long"))
      .withColumn("is_ref", lit(false)).withColumn("tx", lit(1L)))
    val row = Pull.pullFrom(store.current(registry), registry, Seq(Pull.PWild), roots("b2"))
      .collect()(0)
    assert(row.getAs[String]("band_name") === "Beta")
    assert(row.getAs[String]("label_name") === null, "absent attrs are null")
  }

  test("scalars, card-many arrays, and missing-attr nulls") {
    val out = Pull.pullFrom(cur, registry,
      Pull.parsePattern("[:band/name :band/genres]"), roots("b1", "b2"))
      .collect().map(r => r.getString(0) -> (r.getString(1), Option(r.getSeq[String](2)))).toMap
    assert(out("b1") == ("Alpha", Some(Seq("jazz", "rock"))), "card-many sorts")
    assert(out("b2") == ("Beta", None), "missing card-many is null")
  }

  test("nested forward ref card-one becomes a struct") {
    val row = Pull.pullFrom(cur, registry,
      Pull.parsePattern("[:band/name {:band/label [:label/name]}]"), roots("b1"))
      .collect()(0)
    assert(row.getString(1) == "Alpha")
    assert(row.getStruct(2).getString(0) == "BigLabel")
  }

  test("reverse ref collects the pointing entities, sorted") {
    val row = Pull.pullFrom(cur, registry,
      Pull.parsePattern("[:band/name {:album/_band [:album/name]}]"), roots("b1"))
      .collect()(0)
    val albums = row.getSeq[org.apache.spark.sql.Row](2).map(_.getString(0))
    assert(albums == Seq("First", "Second"), albums.toString)
  }

  test("pull over a loaded store: release hydrated with its artists") {
    val mb = SchemaRegistry.load(MbrainzFixture.schemaPath)
    assert(mb.isRef("release/artists") && mb.isMany("release/artists"),
      "pull relies on schema ref/cardinality metadata")
  }

  test("pull-many: explicit entity-id list, one row per id") {
    val store = new graft.store.Store(spark,
      java.nio.file.Files.createTempDirectory("pullmany").toString)
    store.append(cur
      .withColumn("v_long", lit(null).cast("long"))
      .withColumn("is_ref", col("a") === "band/label" || col("a") === "album/band")
      .withColumn("tx", lit(1L)))
    val out = Pull.pull(store, registry,
        "[:band/name {:band/label [:label/name]}]", roots("b1", "b2"))
      .collect().map(r => r.getAs[String]("e") -> r).toMap
    assert(out.keySet === Set("b1", "b2"))
    assert(out("b1").getAs[String]("band_name") == "Alpha")
    val lbl = out("b1").getStruct(out("b1").fieldIndex("band_label"))
    assert(lbl.getString(lbl.fieldIndex("label_name")) == "BigLabel")
    assert(out("b2").isNullAt(out("b2").fieldIndex("band_label")))
  }

  test("attr options: :default fills missing, :as renames, :limit truncates sorted") {
    val out = Pull.pullFrom(cur, registry, Pull.parsePattern(
        """[(:band/name :as "title")
          | (:band/label :default "indie")
          | (:band/genres :limit 1)]""".stripMargin),
        roots("b1", "b2"))
      .collect().map(r => r.getString(0) ->
        ((r.getString(r.fieldIndex("title")),
          r.getString(r.fieldIndex("band_label")),
          r.getSeq[String](r.fieldIndex("band_genres"))))).toMap
    // genres sort (jazz < rock) BEFORE the limit: the first of the
    // stable order, not an arbitrary element
    assert(out("b1") === (("Alpha", "l1", Seq("jazz"))))
    assert(out("b2") === (("Beta", "indie", null)))
  }

  test(":xform transforms stored values; default fills untransformed; card-many per element") {
    val out = Pull.pullFrom(cur, registry, Pull.parsePattern(
        """[(:band/name :xform str/upper-case)
          | (:band/label :default "indie" :xform str/upper-case)
          | (:band/genres :xform str/upper-case)]""".stripMargin),
        roots("b1", "b2"))
      .collect().map(r => r.getString(0) ->
        ((r.getString(r.fieldIndex("band_name")),
          r.getString(r.fieldIndex("band_label")),
          r.getSeq[String](r.fieldIndex("band_genres"))))).toMap
    assert(out("b1")._1 == "ALPHA" && out("b2")._1 == "BETA")
    // stored label upper-cases; the MISSING one falls back to the
    // UNtransformed default — xform-before-default, Datomic's ordering
    assert(out("b1")._2 == "L1" && out("b2")._2 == "indie")
    // card-many: per element, order preserved
    assert(out("b1")._3 == Seq("JAZZ", "ROCK") && out("b2")._3 == null)
  }

  test(":xform can change the column type; unknown fails loudly") {
    val typed = Pull.pullFrom(cur, registry,
        Pull.parsePattern("[(:band/name :xform str/length)]"), roots("b1"))
      .collect()(0)
    assert(typed.getLong(typed.fieldIndex("band_name")) == 5L) // 'Alpha'
    val ex = intercept[IllegalArgumentException] {
      Pull.pullFrom(cur, registry,
        Pull.parsePattern("[(:band/name :xform no.such/fn)]"), roots("b1")).collect()
    }
    assert(ex.getMessage.contains("not registered"), ex.getMessage)
  }

  test("recursion {:ref N}: re-applies the enclosing pattern, exhaustion renders plain id") {
    val chainReg = new SchemaRegistry(Map(ad("p/name"), ad("p/boss", ref = true)))
    val chain = Seq(
      ("p1", "p/name", "Ann"), ("p1", "p/boss", "p2"),
      ("p2", "p/name", "Bob"), ("p2", "p/boss", "p3"),
      ("p3", "p/name", "Cyd"), ("p3", "p/boss", "p4"),
      ("p4", "p/name", "Dee"))
      .toDF("e", "a", "v")
    val row = Pull.pullFrom(chain, chainReg,
        Pull.parsePattern("[:p/name {:p/boss 2}]"), roots("p1"))
      .collect()(0)
    assert(row.getAs[String]("p_name") == "Ann")
    val l1 = row.getStruct(row.fieldIndex("p_boss"))
    assert(l1.getString(l1.fieldIndex("p_name")) == "Bob")
    val l2 = l1.getStruct(l1.fieldIndex("p_boss"))
    assert(l2.getString(l2.fieldIndex("p_name")) == "Cyd")
    // depth exhausted: the third hop is the PLAIN ref value, not a struct
    assert(l2.getString(l2.fieldIndex("p_boss")) == "p4")
  }

  test("recursion {:ref ...}: unbounded resolves to closure depth; cycles terminate") {
    val chainReg = new SchemaRegistry(Map(ad("p/name"), ad("p/boss", ref = true)))
    val cyclic = Seq(
      ("p1", "p/name", "Ann"), ("p1", "p/boss", "p2"),
      ("p2", "p/name", "Bob"), ("p2", "p/boss", "p3"),
      ("p3", "p/name", "Cyd"), ("p3", "p/boss", "p1")) // cycle back to p1
      .toDF("e", "a", "v")
    val row = Pull.pullFrom(cyclic, chainReg,
        Pull.parsePattern("[:p/name {:p/boss ...}]"), roots("p1"))
      .collect()(0)
    val l1 = row.getStruct(row.fieldIndex("p_boss"))
    val l2 = l1.getStruct(l1.fieldIndex("p_boss"))
    assert(row.getAs[String]("p_name") == "Ann")
    assert(l1.getString(l1.fieldIndex("p_name")) == "Bob")
    assert(l2.getString(l2.fieldIndex("p_name")) == "Cyd")
    // closure depth from p1 is 2 (p2, p3); the cycle edge renders as
    // the already-seen entity's plain id — Datomic's ":db/id only"
    assert(l2.getString(l2.fieldIndex("p_boss")) == "p1")
  }

  test("recursion {:ref ...}: bulk roots — depth is per-root, not a global visited set") {
    // EVERY chain entity is a root (the standard bulk-pull shape:
    // roots = all entities). A global visited set seeded with the
    // whole root set would see each child as "already visited" and
    // resolve depth 0 — every ref would render as a plain id. The
    // per-root walk resolves depth 3 (p1's hop count to p4), so each
    // root nests its own chain.
    val chainReg = new SchemaRegistry(Map(ad("p/name"), ad("p/boss", ref = true)))
    val chain = Seq(
      ("p1", "p/name", "Ann"), ("p1", "p/boss", "p2"),
      ("p2", "p/name", "Bob"), ("p2", "p/boss", "p3"),
      ("p3", "p/name", "Cyd"), ("p3", "p/boss", "p4"),
      ("p4", "p/name", "Dee"))
      .toDF("e", "a", "v")
    val out = Pull.pullFrom(chain, chainReg,
        Pull.parsePattern("[:p/name {:p/boss ...}]"),
        roots("p1", "p2", "p3", "p4"))
      .collect().map(r => r.getAs[String]("e") -> r).toMap
    // p1 hydrates the full chain: Bob → Cyd → Dee
    val r1 = out("p1")
    val l1 = r1.getStruct(r1.fieldIndex("p_boss"))
    val l2 = l1.getStruct(l1.fieldIndex("p_boss"))
    val l3 = l2.getStruct(l2.fieldIndex("p_boss"))
    assert(l1.getString(l1.fieldIndex("p_name")) == "Bob")
    assert(l2.getString(l2.fieldIndex("p_name")) == "Cyd")
    assert(l3.getString(l3.fieldIndex("p_name")) == "Dee")
    assert(l3.isNullAt(l3.fieldIndex("p_boss"))) // chain ends
    // p3 nests one real level (Dee), deeper levels null
    val r3 = out("p3")
    val m1 = r3.getStruct(r3.fieldIndex("p_boss"))
    assert(m1.getString(m1.fieldIndex("p_name")) == "Dee")
    assert(m1.isNullAt(m1.fieldIndex("p_boss")))
    // p4 has no boss at all
    assert(out("p4").isNullAt(out("p4").fieldIndex("p_boss")))
  }

  test("recursion {:ref ...}: auto-unroll caps at MaxAutoUnroll, deeper renders plain id") {
    val chainReg = new SchemaRegistry(Map(ad("p/name"), ad("p/boss", ref = true)))
    val n = Pull.MaxAutoUnroll + 4 // chain DEEPER than the cap
    val rows = (1 to n).flatMap { i =>
      Seq((s"p$i", "p/name", s"name$i")) ++
        (if (i < n) Seq((s"p$i", "p/boss", s"p${i + 1}")) else Seq.empty)
    }
    val chain = rows.toDF("e", "a", "v")
    val row = Pull.pullFrom(chain, chainReg,
        Pull.parsePattern("[:p/name {:p/boss ...}]"), roots("p1"))
      .collect()(0)
    // walk down: exactly MaxAutoUnroll nested struct levels, then the
    // ref renders as the plain id (Datomic's limit-hit shape)
    var cur: org.apache.spark.sql.Row = row
    for (_ <- 1 to Pull.MaxAutoUnroll)
      cur = cur.getStruct(cur.fieldIndex("p_boss"))
    assert(cur.getString(cur.fieldIndex("p_name")) == s"name${Pull.MaxAutoUnroll + 1}")
    assert(cur.schema("p_boss").dataType == org.apache.spark.sql.types.StringType)
    assert(cur.getString(cur.fieldIndex("p_boss")) == s"p${Pull.MaxAutoUnroll + 2}")
  }

  test("[*] recursively hydrates COMPONENT refs; schema cycles stay safe") {
    def comp(ident: String) =
      ident -> AttrDef(ident, "ref", many = false,
        uniqueIdentity = false, uniqueValue = false, component = true, fulltext = false)
    val reg = new SchemaRegistry(Map(ad("o/price"), ad("l/qty"), comp("o/line")))
    val tree = Seq(
      ("o1", "o/price", "100"), ("o1", "o/line", "l1"),
      ("l1", "l/qty", "5"))
      .toDF("e", "a", "v")
    val row = Pull.pullFrom(tree, reg, Pull.parsePattern("[*]"), roots("o1")).collect()(0)
    // the owned line arrives as a hydrated struct, not a plain id
    val line = row.getStruct(row.fieldIndex("o_line"))
    assert(line.getString(line.fieldIndex("l_qty")) == "5")
    // a SELF-nested component would cycle at plan time: the second
    // occurrence on the path renders as the plain id instead
    val cycReg = new SchemaRegistry(Map(ad("p/name"), comp("p/part")))
    val cyc = Seq(
      ("p1", "p/name", "A"), ("p1", "p/part", "p2"),
      ("p2", "p/name", "B"), ("p2", "p/part", "p1"))
      .toDF("e", "a", "v")
    val r2 = Pull.pullFrom(cyc, cycReg, Pull.parsePattern("[*]"), roots("p1")).collect()(0)
    val sub = r2.getStruct(r2.fieldIndex("p_part"))
    assert(sub.getString(sub.fieldIndex("p_name")) == "B")
    assert(sub.getString(sub.fieldIndex("p_part")) == "p1", "cycle cut renders the id")
  }

  test(":default on a cardinality-many attr is rejected loudly") {
    val err = intercept[IllegalArgumentException] {
      Pull.pullFrom(cur, registry,
        Pull.parsePattern("""[(:band/genres :default "none")]"""), roots("b1"))
    }
    assert(err.getMessage.contains("cardinality-one"), err.getMessage)
  }

  test("implicit 1000-item default limit on card-many; :limit nil lifts it") {
    // a root with 1500 values on a card-many attr — past Datomic's
    // implicit default
    val big = (1 to 1500).map(i => ("r1", "x/many", f"v$i%04d"))
      .toDF("e", "a", "v")
    val reg = new SchemaRegistry(Map(ad("x/many", many = true)))
    def vals(pattern: String): Seq[String] = {
      val row = Pull.pullFrom(big, reg, Pull.parsePattern(pattern), roots("r1"))
        .collect()(0)
      row.getSeq[String](row.fieldIndex("x_many"))
    }
    // bare attr: truncates at 1000, first of the sorted order
    val dflt = vals("[:x/many]")
    assert(dflt.length === 1000 && dflt.head === "v0001" && dflt.last === "v1000")
    // :limit nil — everything
    assert(vals("[(:x/many :limit nil)]").length === 1500)
    // explicit :limit still overrides
    assert(vals("[(:x/many :limit 3)]") === Seq("v0001", "v0002", "v0003"))
  }

  test("map-spec options: {(:ref :limit n) [...]} truncates hydrated children") {
    val revReg = new SchemaRegistry(Map(
      ad("band/name"), ad("album/name"), ad("album/band", ref = true)))
    val out = Pull.pullFrom(cur, revReg, Pull.parsePattern(
        """[:band/name {(:album/_band :limit 1) [:album/name]}]"""),
        roots("b1"))
      .collect()(0)
    val hydrated = out.getSeq[org.apache.spark.sql.Row](out.fieldIndex("album__band"))
    assert(hydrated.length == 1 && hydrated.head.getString(0) == "First",
      s"limit 1 keeps the first sorted child: $hydrated")
  }
}
