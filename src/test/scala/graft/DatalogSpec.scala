package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.edn.Edn
import graft.edn.Edn._
import graft.model.{Mbrainz, SchemaRegistry}
import graft.pipeline.{Batcher, Loader}
import graft.query.Datalog
import graft.store.Store

/** The Datalog front-end runs the reference's own example queries
  * (`examples/explore_db.clj`) verbatim against a store loaded from the
  * generated mbrainz input ([[MbrainzFixture]]); expected values come
  * from the generator's `Truth` and a plain `Edn` parse of the input. */
class DatalogSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val fx = MbrainzFixture
  private lazy val registry = SchemaRegistry.load(fx.schemaPath)
  private val types = Seq("schema", "enums", "super-enums", "artists", "areleases",
    "areleases-artists", "labels", "releases", "releases-artists")

  private lazy val store: Store = {
    val batches = java.nio.file.Files.createTempDirectory("dlbatches").toString
    val b = new Batcher(spark, fx.basedir, batches, batchSize = 1000)
    types.foreach(b.createBatchFile)
    val st = new Store(spark, java.nio.file.Files.createTempDirectory("dlstore").toString)
    val loader = new Loader(spark, registry, st)
    types.foreach(t => loader.loadBatchFile(t, s"$batches/$t.edn"))
    st
  }

  test("explore query 1: unique attributes (self-join on ?e)") {
    val q = Datalog.parse(
      """[:find ?attr ?unique
        | :where [?e :db/unique ?unique]
        |        [?e :db/ident ?attr]]""".stripMargin)
    val rows = Datalog.runOn(store.eav, registry, q, Map.empty).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("artist/gid") == "db.unique/identity")
    assert(rows("mbrainz.initial-import/batch-id") == "db.unique/value")
    // exactly the generated schema's :db/unique attrs plus the import schema's
    assert(rows == fx.uniqueAttrs + (Mbrainz.batchIdAttr -> "db.unique/value"))
  }

  test("explore query 2: parameterized entity count per attr") {
    val q = Datalog.parse(
      """[:find (count ?e)
        | :in $ ?attr
        | :where [?e ?attr _]]""".stripMargin)
    def countFor(attr: String): Long =
      Datalog.runOn(store.eav, registry, q, Map("attr" -> Edn.kw(attr))).collect()(0).getLong(0)
    assert(countFor("artist/gid") == fx.truth.artistGids.size)
    assert(countFor("label/gid") == fx.truth.labelGids.size)
    assert(countFor("abstractRelease/gid") == fx.truth.areleaseGids.size)
  }

  test("explore query 3: all batch ids (wildcard entity)") {
    val q = Datalog.parse(
      "[:find ?v :where [_ :mbrainz.initial-import/batch-id ?v]]")
    val ids = Datalog.runOn(store.eav, registry, q, Map.empty).collect().map(_.getString(0)).toSet
    assert(ids.contains("artists-1") && ids.contains("schema-1"))
    // import-schema + ⌈rows / 1000⌉ batches per type
    assert(ids.size == 1 + types.map(fx.batches(_, 1000)).sum)
  }

  test("constants in value position, including enum refs") {
    val code = fx.pickedField("country")
    val q = Datalog.parse(
      s"""[:find ?name
        | :where [?e :artist/country :country/$code]
        |        [?e :artist/name ?name]]""".stripMargin)
    val names = Datalog.runOn(store.eav, registry, q, Map.empty).collect().map(_.getString(0))
    assert(names.contains(fx.pickedField("name")))
    val expected = fx.artists.filter(fx.field(_, "country").contains(code))
      .map(fx.field(_, "name").get).distinct
    assert(names.sorted.toSeq == expected.sorted)
  }

  test("aggregates: min/max/count-distinct with grouping") {
    val q = Datalog.parse(
      """[:find ?type (count ?e) (min ?year)
        | :where [?e :artist/type ?type]
        |        [?e :artist/startYear ?year]]""".stripMargin)
    val rows = Datalog.runOn(store.eav, registry, q, Map.empty).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toList
    val person = rows.find(_._1 == "ident|artist.type/person").get
    val persons = fx.artists.filter(a => fx.field(a, "type").contains("Person") &&
      a.getKw("begin_date_year").isDefined)
    assert(person._2 == persons.size)
    assert(person._3 == persons.map(fx.field(_, "begin_date_year").get).min)
  }

  test("cross-pattern join through a ref: artists of a release") {
    val q = Datalog.parse(
      """[:find ?release-name ?artist-name
        | :where [?r :release/artists ?a]
        |        [?r :release/name ?release-name]
        |        [?a :artist/name ?artist-name]]""".stripMargin)
    val rows = Datalog.runOn(store.eav, registry, q, Map.empty).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // over the log: a duplicate-gid release contributes every name it
    // was ever asserted with
    val releaseNames = fx.releases.groupBy(fx.field(_, "gid").get)
      .map { case (g, rs) => g -> rs.map(fx.field(_, "name").get) }
    val artistName = fx.artists.map(a => fx.field(a, "gid").get -> fx.field(a, "name").get).toMap
    val expected = fx.releasesArtists.flatMap { ra =>
      val artist = artistName(fx.field(ra, "artist").get)
      releaseNames(fx.field(ra, "release").get).map(_ -> artist)
    }.toSet
    assert(rows == expected)
  }

  test("unbound :in parameter is a clear error") {
    val q = Datalog.parse("[:find (count ?e) :in $ ?attr :where [?e ?attr _]]")
    val e = intercept[IllegalArgumentException](Datalog.runOn(store.eav, registry, q, Map.empty))
    assert(e.getMessage.contains("unbound"))
  }

  private def chainEav(n: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (s"n$i", "next", s"n${i + 1}")).toDF("e", "a", "v")
  }
  private lazy val emptyRegistry = new SchemaRegistry(Map.empty)

  test("recursive rule: transitive closure of a 25-deep chain converges") {
    val rules = Datalog.parseRules(
      """[[(reach ?a ?b) [?a :next ?b]]
        | [(reach ?a ?b) [?a :next ?x] (reach ?x ?b)]]""".stripMargin)
    val q = Datalog.parse("[:find ?a ?b :where (reach ?a ?b)]")
    val rows = Datalog.runOn(chainEav(25), emptyRegistry, q, Map.empty, rules)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // closure of a length-25 path: all i<j pairs = 26*25/2
    assert(rows.size == 26 * 25 / 2, s"got ${rows.size}")
    assert(rows.contains(("n0", "n25")), "deepest path must be found")
  }

  test("rule disjunction and constant args in a rule call") {
    import spark.implicits._
    val eav = Seq(
      ("a1", "mother", "b"), ("a2", "father", "b"), ("b", "mother", "c"))
      .toDF("e", "a", "v")
    val rules = Datalog.parseRules(
      """[[(parent ?c ?p) [?c :mother ?p]]
        | [(parent ?c ?p) [?c :father ?p]]
        | [(ancestor ?c ?p) (parent ?c ?p)]
        | [(ancestor ?c ?p) (parent ?c ?x) (ancestor ?x ?p)]]""".stripMargin)
    val q = Datalog.parse("""[:find ?c :where (ancestor ?c "c")]""")
    val rows = Datalog.runOn(eav, emptyRegistry, q, Map.empty, rules)
      .collect().map(_.getString(0)).toSet
    assert(rows == Set("a1", "a2", "b"), rows.toString)
  }

  test("predicates, function bindings, and :with bag semantics") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "score", "10"), ("e1", "bonus", "5"),
      ("e2", "score", "3"), ("e2", "bonus", "1"),
      ("e3", "score", "10"), ("e3", "bonus", "2"))
      .toDF("e", "a", "v")
    // numeric predicate: scores > 5 (text values compare numerically
    // because the literal is numeric)
    val qPred = Datalog.parse(
      "[:find ?e :where [?e :score ?s] [(> ?s 5)]]")
    val hi = Datalog.runOn(eav, emptyRegistry, qPred, Map.empty)
      .collect().map(_.getString(0)).toSet
    assert(hi == Set("e1", "e3"), hi.toString)
    // function binding: total = score + bonus
    val qFn = Datalog.parse(
      "[:find ?e ?total :where [?e :score ?s] [?e :bonus ?b] [(+ ?s ?b) ?total]]")
    val totals = Datalog.runOn(eav, emptyRegistry, qFn, Map.empty)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(totals == Map("e1" -> 15.0, "e2" -> 4.0, "e3" -> 12.0), totals.toString)
    // :with — count distinct score VALUES without vs with entity
    val qSet = Datalog.parse("[:find (count ?s) :where [?e :score ?s]]")
    assert(Datalog.runOn(eav, emptyRegistry, qSet, Map.empty)
      .collect()(0).getLong(0) == 2, "set semantics: {10, 3}")
    val qBag = Datalog.parse("[:find (count ?s) :with ?e :where [?e :score ?s]]")
    assert(Datalog.runOn(eav, emptyRegistry, qBag, Map.empty)
      .collect()(0).getLong(0) == 3, ":with ?e keeps one row per entity")
  }

  test("(not …) negation drops bindings with any inner solution") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "name", "A"), ("e1", "flag", "x"),
      ("e2", "name", "B"),
      ("e3", "name", "C"), ("e3", "flag", "y"))
      .toDF("e", "a", "v")
    val q = Datalog.parse("""[:find ?e :where [?e :name _] (not [?e :flag _])]""")
    val out = Datalog.runOn(eav, emptyRegistry, q, Map.empty)
      .collect().map(_.getString(0)).toSet
    assert(out == Set("e2"), out.toString)
    // not with a constant value: entities whose flag is not "x"
    val q2 = Datalog.parse("""[:find ?e :where [?e :name _] (not [?e :flag "x"])]""")
    val out2 = Datalog.runOn(eav, emptyRegistry, q2, Map.empty)
      .collect().map(_.getString(0)).toSet
    assert(out2 == Set("e2", "e3"), out2.toString)
  }

  test("(or …) disjunction with (and …) groups; extended aggregates") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "kind", "a"), ("e1", "score", "10"),
      ("e2", "kind", "b"), ("e2", "score", "20"),
      ("e3", "kind", "c"), ("e3", "score", "30"),
      ("e4", "kind", "b"), ("e4", "flag", "x"), ("e4", "score", "40"))
      .toDF("e", "a", "v")
    val qOr = Datalog.parse(
      """[:find ?e :where (or [?e :kind "a"] (and [?e :kind "b"] [?e :flag "x"]))]""")
    val out = Datalog.runOn(eav, emptyRegistry, qOr, Map.empty)
      .collect().map(_.getString(0)).toSet
    assert(out == Set("e1", "e4"), out.toString)
    val qAgg = Datalog.parse(
      "[:find (avg ?s) (median ?s) (variance ?s) (stddev ?s) :where [_ :score ?s]]")
    val r = Datalog.runOn(eav, emptyRegistry, qAgg, Map.empty).collect()(0)
    assert(r.getDouble(0) == 25.0 && r.getDouble(1) == 25.0)
    assert(math.abs(r.getDouble(2) - 500.0 / 3) < 1e-9, "sample variance of {10,20,30,40}")
    assert(math.abs(r.getDouble(3) - math.sqrt(500.0 / 3)) < 1e-9)
  }

  test(":in collection binding [?x ...] filters the bound variable") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "kind", "a"), ("e2", "kind", "b"), ("e3", "kind", "c"))
      .toDF("e", "a", "v")
    val q = Datalog.parse("[:find ?e :in $ [?k ...] :where [?e :kind ?k]]")
    val out = Datalog.runOn(eav, emptyRegistry, q,
        Map("k" -> EVec(Vector(EStr("a"), EStr("c")))))
      .collect().map(_.getString(0)).toSet
    assert(out == Set("e1", "e3"), out.toString)
  }

  test(":in tuple binding [?a ?b] destructures one sequential arg") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "kind", "a"), ("e1", "size", "1"),
      ("e2", "kind", "a"), ("e2", "size", "2"),
      ("e3", "kind", "b"), ("e3", "size", "1"))
      .toDF("e", "a", "v")
    val q = Datalog.parse("[:find ?e :in $ [?k ?s] :where [?e :kind ?k] [?e :size ?s]]")
    // one sequential arg under the first var's name (Datomic shape)
    val out = Datalog.runOn(eav, emptyRegistry, q,
        Map("k" -> EVec(Vector(EStr("a"), EStr("1")))))
      .collect().map(_.getString(0)).toSet
    assert(out == Set("e1"), out.toString)
    // per-var args still work (both vars bound individually)
    val out2 = Datalog.runOn(eav, emptyRegistry, q,
        Map("k" -> EStr("b"), "s" -> EStr("1")))
      .collect().map(_.getString(0)).toSet
    assert(out2 == Set("e3"), out2.toString)
  }

  test(":in tuple binding supports `_` blanks and rejects wrong arity") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "kind", "a"), ("e2", "kind", "b"))
      .toDF("e", "a", "v")
    val q = Datalog.parse("[:find ?e :in $ [?k _] :where [?e :kind ?k]]")
    val out = Datalog.runOn(eav, emptyRegistry, q,
        Map("k" -> EVec(Vector(EStr("a"), EStr("ignored")))))
      .collect().map(_.getString(0)).toSet
    assert(out == Set("e1"), out.toString)
    // wrong arity is a loud error, not a silent scalar substitution
    val err = intercept[IllegalArgumentException] {
      Datalog.runOn(eav, emptyRegistry, q, Map("k" -> EVec(Vector(EStr("a")))))
    }
    assert(err.getMessage.contains("arity"), err.getMessage)
  }

  test(":in tuple binding rejects a sequential head mixed with per-var args") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "kind", "a"), ("e1", "size", "1"),
      ("e2", "kind", "b"), ("e2", "size", "1"))
      .toDF("e", "a", "v")
    val q = Datalog.parse("[:find ?e :in $ [?k ?s] :where [?e :kind ?k] [?e :size ?s]]")
    // ambiguous: ?k holds a Datomic-shape sequential AND ?s has its own
    // arg — destructuring would overwrite s="1" with "b"; must throw
    val err = intercept[IllegalArgumentException] {
      Datalog.runOn(eav, emptyRegistry, q,
        Map("k" -> EVec(Vector(EStr("a"), EStr("b"))), "s" -> EStr("1")))
    }
    assert(err.getMessage.contains("per var"), err.getMessage)
  }

  test("multi-source: [$2 …] patterns scan the second database; shared vars join across") {
    import spark.implicits._
    val db1 = Seq(
      ("n1", "name", "tokyo"), ("n1", "rk", "0"),
      ("n2", "name", "osaka"), ("n2", "rk", "1"))
      .toDF("e", "a", "v")
    val db2 = Seq(
      ("r0", "rk", "0"), ("r0", "rname", "east"),
      ("r1", "rk", "1"), ("r1", "rname", "west"))
      .toDF("e", "a", "v")
    val q = Datalog.parse(
      """[:find ?n ?rname
        | :in $ $2
        | :where [?e :name ?n] [?e :rk ?k]
        |        [$2 ?r :rk ?k] [$2 ?r :rname ?rname]]""".stripMargin)
    val out = Datalog.runOn(db1, emptyRegistry, q, Map.empty,
        extraSrcs = Map("2" -> db2))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out === Set("tokyo" -> "east", "osaka" -> "west"))
  }

  test("tx position: constant filters, variable binds; resolved views reject it") {
    import spark.implicits._
    val log = Seq(
      ("e1", "price", "100", 1L), ("e1", "price", "150", 2L),
      ("e2", "price", "200", 1L))
      .toDF("e", "a", "v", "tx")
    // constant tx: only the tx-2 assertion
    val q2 = Datalog.parse("[:find ?e ?v :where [?e :price ?v 2]]")
    val at2 = Datalog.runOn(log, emptyRegistry, q2, Map.empty)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(at2 === Set("e1" -> "150"))
    // variable tx: every assertion with provenance
    val qv = Datalog.parse("[:find ?e ?v ?tx :where [?e :price ?v ?tx]]")
    val all = Datalog.runOn(log, emptyRegistry, qv, Map.empty)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(all === Set(("e1", "100", "1"), ("e1", "150", "2"), ("e2", "200", "1")))
    // a view without a tx column rejects tx patterns loudly
    val err = intercept[IllegalArgumentException] {
      Datalog.runOn(log.drop("tx"), emptyRegistry, qv, Map.empty).collect()
    }
    assert(err.getMessage.contains("no tx column"), err.getMessage)
  }

  test("multi-source: a missing :in database is a clear error") {
    import spark.implicits._
    val db1 = Seq(("n1", "name", "tokyo")).toDF("e", "a", "v")
    val q = Datalog.parse(
      "[:find ?n :in $ $2 :where [?e :name ?n] [$2 ?e :extra _]]")
    val err = intercept[IllegalArgumentException] {
      Datalog.runOn(db1, emptyRegistry, q, Map.empty)
    }
    assert(err.getMessage.contains("unbound :in databases"), err.getMessage)
  }

  test(":in relation binding with a var unbound by :where is a clear error") {
    import spark.implicits._
    val eav = Seq(("e1", "kind", "a")).toDF("e", "a", "v")
    val q = Datalog.parse("[:find ?e :in $ [[?e ?x]] :where [?e :kind _]]")
    val err = intercept[IllegalArgumentException] {
      Datalog.runOn(eav, emptyRegistry, q,
        Map("e" -> EVec(Vector(EVec(Vector(EStr("e1"), EStr("y")))))))
    }
    assert(err.getMessage.contains("not bound"), err.getMessage)
  }

  test(":in relation binding [[?a ?b]] constrains combinations, not vars") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "kind", "a"), ("e1", "size", "1"),
      ("e2", "kind", "a"), ("e2", "size", "2"),
      ("e3", "kind", "b"), ("e3", "size", "1"))
      .toDF("e", "a", "v")
    val q = Datalog.parse("[:find ?e :in $ [[?k ?s]] :where [?e :kind ?k] [?e :size ?s]]")
    // allowed combos ("a","1") and ("b","2"): a per-var IN filter
    // (k in {a,b}, s in {1,2}) would admit all three entities; the
    // relation admits only e1 = ("a","1") — e2 is ("a","2") and e3 is
    // ("b","1"), both real values but disallowed PAIRINGS
    val out = Datalog.runOn(eav, emptyRegistry, q,
        Map("k" -> EVec(Vector(
          EVec(Vector(EStr("a"), EStr("1"))),
          EVec(Vector(EStr("b"), EStr("2")))))))
      .collect().map(_.getString(0)).toSet
    // per-var: k in {a,b}, s in {1,2} would admit e1,e2,e3; the relation
    // admits only e1 (a,1) — e2 is (a,2), e3 is (b,1): both excluded
    assert(out == Set("e1"), out.toString)
  }

  test("or-join and not-join scope on declared vars only") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "name", "A"), ("e1", "tag", "hot"),
      ("e2", "name", "B"), ("e2", "ref", "e1"),
      ("e3", "name", "C"))
      .toDF("e", "a", "v")
    // or-join: e is interesting if it has a tag (any) OR something refs it —
    // each leg binds different internals (?t vs ?o), only ?e unifies
    val qOr = Datalog.parse(
      """[:find ?e :where [?e :name _]
        | (or-join [?e] [?e :tag ?t] [?o :ref ?e])]""".stripMargin)
    val out = Datalog.runOn(eav, emptyRegistry, qOr, Map.empty)
      .collect().map(_.getString(0)).toSet
    assert(out == Set("e1"), out.toString)
    // not-join: drop entities referenced by anything, the ?o stays internal
    val qNot = Datalog.parse(
      """[:find ?e :where [?e :name _] (not-join [?e] [?o :ref ?e])]""")
    val out2 = Datalog.runOn(eav, emptyRegistry, qNot, Map.empty)
      .collect().map(_.getString(0)).toSet
    assert(out2 == Set("e2", "e3"), out2.toString)
  }

  test("(pull ?e pattern) in :find hydrates each binding") {
    import spark.implicits._
    val eav = Seq(
      ("b1", "band/name", "Alpha"), ("b1", "band/label", "l1"),
      ("b2", "band/name", "Beta"), ("b2", "band/label", "l2"),
      ("l1", "label/name", "BigLabel"), ("l2", "label/name", "SmallLabel"),
      ("b1", "kind", "band"), ("b2", "kind", "band"))
      .toDF("e", "a", "v")
    val registry = new SchemaRegistry(Map(
      "band/label" -> graft.model.AttrDef("band/label", "ref", many = false,
        uniqueIdentity = false, uniqueValue = false, component = false, fulltext = false)))
    val q = Datalog.parse(
      """[:find ?e (pull ?e [:band/name {:band/label [:label/name]}])
        | :where [?e :kind "band"]]""".stripMargin)
    val rows = Datalog.runOn(eav, registry, q, Map.empty).collect()
      .map { r =>
        val s = r.getStruct(1)
        (r.getString(0), s.getString(0), s.getStruct(1).getString(0))
      }.toSet
    assert(rows == Set(("b1", "Alpha", "BigLabel"), ("b2", "Beta", "SmallLabel")),
      rows.toString)
  }

  test("missing? and get-else idioms") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "name", "A"), ("e1", "nick", "Ace"),
      ("e2", "name", "B"))
      .toDF("e", "a", "v")
    val qMissing = Datalog.parse(
      "[:find ?e :where [?e :name _] [(missing? $ ?e :nick)]]")
    val out = Datalog.runOn(eav, emptyRegistry, qMissing, Map.empty)
      .collect().map(_.getString(0)).toSet
    assert(out == Set("e2"), out.toString)
    val qGetElse = Datalog.parse(
      """[:find ?e ?nick :where [?e :name _] [(get-else $ ?e :nick "none") ?nick]]""")
    val out2 = Datalog.runOn(eav, emptyRegistry, qGetElse, Map.empty)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out2 == Map("e1" -> "Ace", "e2" -> "none"), out2.toString)
  }

  test("get-some, ground, and :keys") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "name", "A"), ("e1", "nick", "Ace"),
      ("e2", "name", "B"), ("e2", "alias", "Bee"),
      ("e3", "other", "x"))
      .toDF("e", "a", "v")
    // get-some: first present attr wins; e3 (neither attr) drops
    val q = Datalog.parse(
      """[:find ?e ?label
        | :where [?e ?a _] [(get-some $ ?e :nick :alias) ?label]]""".stripMargin)
    val out = Datalog.runOn(eav, emptyRegistry, q, Map.empty)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("e1" -> "Ace", "e2" -> "Bee"), out.toString)
    // ground inside or-join legs tags which leg matched
    val q2 = Datalog.parse(
      """[:find ?e ?kind
        | :where (or-join [?e ?kind]
        |          (and [?e :nick _] [(ground "nicked") ?kind])
        |          (and [?e :alias _] [(ground "aliased") ?kind]))]""".stripMargin)
    val out2 = Datalog.runOn(eav, emptyRegistry, q2, Map.empty)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out2 == Map("e1" -> "nicked", "e2" -> "aliased"), out2.toString)
    // :keys renames output columns positionally over :find
    val q3 = Datalog.parse(
      """[:find ?e (count ?a)
        | :keys entity n_attrs
        | :where [?e ?a _]]""".stripMargin)
    val df3 = Datalog.runOn(eav, emptyRegistry, q3, Map.empty)
    assert(df3.columns.toSeq == Seq("entity", "n_attrs"))
    val m3 = df3.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m3 == Map("e1" -> 2L, "e2" -> 2L, "e3" -> 1L), m3.toString)
  }

  test("collection aggregates: (min n ?x), (max n ?x), (distinct ?x)") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "score", "a"), ("e1", "score", "c"), ("e1", "score", "b"),
      ("e1", "score", "c"), // duplicate — distinct semantics drop it
      ("e2", "score", "z"))
      .toDF("e", "a", "v")
    val q = Datalog.parse(
      """[:find ?e (min 2 ?s) (max 1 ?s) (distinct ?s)
        | :where [?e :score ?s]]""".stripMargin)
    val out = Datalog.runOn(eav, emptyRegistry, q, Map.empty)
      .collect().map(r => r.getString(0) ->
        ((r.getSeq[String](1), r.getSeq[String](2), r.getSeq[String](3)))).toMap
    assert(out("e1") === ((Seq("a", "b"), Seq("c"), Seq("a", "b", "c"))))
    assert(out("e2") === ((Seq("z"), Seq("z"), Seq("z"))))
  }

  test("(max n ?x) returns the n largest in ASCENDING order (Datomic collection order)") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "score", "a"), ("e1", "score", "c"), ("e1", "score", "b"),
      ("e1", "score", "d"))
      .toDF("e", "a", "v")
    val q = Datalog.parse("[:find ?e (max 2 ?s) (min 2 ?s) :where [?e :score ?s]]")
    val r = Datalog.runOn(eav, emptyRegistry, q, Map.empty).collect()(0)
    assert(r.getSeq[String](1) == Seq("c", "d"), "two largest, sorted ascending")
    assert(r.getSeq[String](2) == Seq("a", "b"))
  }

  test("find specifications: scalar `.`, collection [?x ...], single tuple [?x ?y]") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "name", "A"), ("e2", "name", "B"), ("e3", "name", "C"))
      .toDF("e", "a", "v")
    // scalar: one row, one column
    val qS = Datalog.parse("[:find (count ?e) . :where [?e :name _]]")
    val s = Datalog.runOn(eav, emptyRegistry, qS, Map.empty).collect()
    assert(s.length == 1 && s(0).getLong(0) == 3)
    // collection: every value, one column
    val qC = Datalog.parse("[:find [?n ...] :where [_ :name ?n]]")
    val c = Datalog.runOn(eav, emptyRegistry, qC, Map.empty)
    assert(c.columns.toSeq == Seq("n"))
    assert(c.collect().map(_.getString(0)).toSet == Set("A", "B", "C"))
    // single tuple: one row, the find columns
    val qT = Datalog.parse("""[:find [?e ?n] :where [?e :name ?n] [(= ?n "B")]]""")
    val t = Datalog.runOn(eav, emptyRegistry, qT, Map.empty).collect()
    assert(t.length == 1 && t(0).getString(0) == "e2" && t(0).getString(1) == "B")
    // bare elements stay a relation
    val qR = Datalog.parse("[:find ?e ?n :where [?e :name ?n]]")
    assert(Datalog.runOn(eav, emptyRegistry, qR, Map.empty).count() == 3)
  }

  test("get-some tuple destructuring [?attr ?v] binds the winning attribute") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "name", "A"), ("e1", "nick", "Ace"),
      ("e2", "name", "B"), ("e2", "alias", "Bee"))
      .toDF("e", "a", "v")
    val q = Datalog.parse(
      """[:find ?e ?attr ?label
        | :where [?e :name _] [(get-some $ ?e :nick :alias) [?attr ?label]]]""".stripMargin)
    val out = Datalog.runOn(eav, emptyRegistry, q, Map.empty)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set(("e1", "nick", "Ace"), ("e2", "alias", "Bee")), out.toString)
  }

  test("fulltext clause: schema-gated, needle via :in; unindexed attr rejected") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "doc/title", "Small Ring of Fire"),
      ("e2", "doc/title", "Large Ring"),
      ("e3", "doc/body", "a small note")) // body is NOT fulltext-indexed
      .toDF("e", "a", "v")
    val registry = new SchemaRegistry(Map(
      "doc/title" -> graft.model.AttrDef("doc/title", "string", many = false,
        uniqueIdentity = false, uniqueValue = false, component = false, fulltext = true)))
    val q = Datalog.parse(
      """[:find ?e ?v :in $ ?needle
        | :where [(fulltext $ :doc/title ?needle) [[?e ?v]]]]""".stripMargin)
    val out = Datalog.runOn(eav, registry, q, Map("needle" -> EStr("small")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("e1" -> "Small Ring of Fire"), out.toString)
    // substring of a token must not hit (tokenized, not LIKE)
    val none = Datalog.runOn(eav, registry, q, Map("needle" -> EStr("rin")))
    assert(none.count() == 0)
    // multi-word needle: every token must be present (implicit AND),
    // in any order — "Large Ring" has ring but not fire
    val multi = Datalog.runOn(eav, registry, q, Map("needle" -> EStr("fire ring")))
      .collect().map(_.getString(0)).toSet
    assert(multi == Set("e1"), multi.toString)
    // reaching for an unindexed attr is a loud query error
    val qBad = Datalog.parse(
      """[:find ?e ?v :where [(fulltext $ :doc/body "small") [[?e ?v]]]]""")
    val err = intercept[IllegalArgumentException](
      Datalog.runOn(eav, registry, qBad, Map.empty))
    assert(err.getMessage.contains("fulltext"), err.getMessage)
  }

  test("(tuple …) composes and [(untuple ?t) [?a ?b]] destructures, nil round-trips") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "p/x", "7"), ("e1", "p/y", "foo"),
      ("e2", "p/x", "9")) // e2 has no p/y
      .toDF("e", "a", "v")
    // compose: the same text encoding tupleDatoms writes
    val qT = Datalog.parse(
      """[:find ?e ?t
        | :where [?e :p/x ?x]
        |        [(get-else $ ?e :p/y "nil") ?y]
        |        [(tuple ?x ?y) ?t]]""".stripMargin)
    val t = Datalog.runOn(eav, emptyRegistry, qT, Map.empty)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(t === Map("e1" -> "[7 foo]", "e2" -> "[9 nil]"), t.toString)
    // destructure back out; nil decodes to null, `_` skips a slot
    val qU = Datalog.parse(
      """[:find ?e ?y2
        | :where [?e :p/x ?x]
        |        [(get-else $ ?e :p/y "nil") ?y]
        |        [(tuple ?x ?y) ?t]
        |        [(untuple ?t) [_ ?y2]]]""".stripMargin)
    val u = Datalog.runOn(eav, emptyRegistry, qU, Map.empty)
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(u === Map("e1" -> Some("foo"), "e2" -> None), u.toString)
  }

  test("untuple decodes slots per :db/tupleTypes when the attr declares them") {
    import spark.implicits._
    // lexical decode would rank "9" > "10"; typed decode must not
    val eav = Seq(
      ("e1", "geo/tag+n", "[a 10]"),
      ("e2", "geo/tag+n", "[b 9]"))
      .toDF("e", "a", "v")
    val reg = new SchemaRegistry(Map(
      "geo/tag+n" -> graft.model.AttrDef("geo/tag+n", "tuple", many = false,
        uniqueIdentity = false, uniqueValue = false, component = false,
        fulltext = false, tupleTypes = Seq("string", "long"))))
    val q = Datalog.parse(
      """[:find ?e ?n
        | :where [?e :geo/tag+n ?t]
        |        [(untuple ?t) [_ ?n]]
        |        [(> ?n 9)]]""".stripMargin)
    val rows = Datalog.runOn(eav, reg, q, Map.empty)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows === Map("e1" -> 10L), rows.toString)
    // without declared tupleTypes the slot stays textual (back-compat)
    val qs = Datalog.parse(
      """[:find ?e ?n
        | :where [?e :geo/tag+n ?t]
        |        [(untuple ?t) [_ ?n]]]""".stripMargin)
    val text = Datalog.runOn(eav, emptyRegistry, qs, Map.empty)
      .collect().map(r => r.getString(1)).toSet
    assert(text === Set("10", "9"), text.toString)
  }

  test("fulltext single-slot form [[?e]] binds entity only") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "doc/title", "The Fire Ring", 5L),
      ("e2", "doc/title", "Large Ring", 6L))
      .toDF("e", "a", "v", "tx")
    val reg = new SchemaRegistry(Map(
      "doc/title" -> graft.model.AttrDef("doc/title", "string", many = false,
        uniqueIdentity = false, uniqueValue = false, component = false, fulltext = true)))
    val q = Datalog.parse(
      """[:find ?e :where [(fulltext $ :doc/title "ring") [[?e]]]]""")
    val out = Datalog.runOn(eav, reg, q, Map.empty)
      .collect().map(_.getString(0)).toSet
    assert(out === Set("e1", "e2"), out.toString)
    // a slot vector with no bound output is a loud parse error
    val err = intercept[IllegalArgumentException](Datalog.parse(
      """[:find ?e :where [(fulltext $ :doc/title "ring") [[_]]]]"""))
    assert(err.getMessage.contains("at least one"), err.getMessage)
  }

  test("(sample n ?x) / (rand n ?x): seeded deterministic draws") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "tag", "red"), ("e2", "tag", "green"), ("e3", "tag", "blue"),
      ("e4", "tag", "cyan"), ("e5", "tag", "plum"))
      .toDF("e", "a", "v")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val values = Seq("red", "green", "blue", "cyan", "plum")
    // the engine's seed: rank by md5(value), take the 2 smallest, sort asc
    val expectSample = values.sortBy(md5hex).take(2).sorted
    val q = Datalog.parse(
      """[:find (sample 2 ?v) :where [?e :tag ?v]]""")
    val out = Datalog.runOn(eav, emptyRegistry, q, Map.empty)
      .collect()(0).getSeq[String](0)
    assert(out === expectSample, s"got $out, want $expectSample")
    // deterministic: the same query twice draws the same values
    val again = Datalog.runOn(eav, emptyRegistry, q, Map.empty)
      .collect()(0).getSeq[String](0)
    assert(again === out)
    // n >= population: every distinct value comes back
    val all = Datalog.parse("""[:find (sample 9 ?v) :where [?e :tag ?v]]""")
    assert(Datalog.runOn(eav, emptyRegistry, all, Map.empty)
      .collect()(0).getSeq[String](0).sorted === values.sorted)
    // rand draws WITH replacement: draw k minimizes md5(value ++ "#k")
    val expectRand = (0 until 3)
      .map(k => values.minBy(v => md5hex(v + s"#$k"))).sorted
    val qr = Datalog.parse("""[:find (rand 3 ?v) :where [?e :tag ?v]]""")
    val outR = Datalog.runOn(eav, emptyRegistry, qr, Map.empty)
      .collect()(0).getSeq[String](0)
    assert(outR === expectRand, s"got $outR, want $expectRand")
  }

  test("fulltext 3/4-slot destructuring: [?e ?v ?tx ?score] and _ wildcards") {
    import spark.implicits._
    val eav = Seq(
      // "ring ring ring" scores 3 for needle "ring"; latest assert tx 5
      ("e1", "doc/title", "ring ring ring", 2L),
      ("e1", "doc/title", "ring ring ring", 5L),
      ("e2", "doc/title", "one ring only", 3L))
      .toDF("e", "a", "v", "tx")
    val registry = new SchemaRegistry(Map(
      "doc/title" -> graft.model.AttrDef("doc/title", "string", many = false,
        uniqueIdentity = false, uniqueValue = false, component = false, fulltext = true)))
    // 4-slot: tx is the latest matching assert, score is term frequency
    val q4 = Datalog.parse(
      """[:find ?e ?tx ?score
        | :where [(fulltext $ :doc/title "ring") [[?e _ ?tx ?score]]]]""".stripMargin)
    val out4 = Datalog.runOn(eav, registry, q4, Map.empty)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out4 === Set(("e1", 5L, 3.0), ("e2", 3L, 1.0)), out4.toString)
    // 3-slot suffix: [?e ?v ?tx]
    val q3 = Datalog.parse(
      """[:find ?e ?tx
        | :where [(fulltext $ :doc/title "only") [[?e ?v ?tx]]]]""".stripMargin)
    val out3 = Datalog.runOn(eav, registry, q3, Map.empty)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out3 === Set(("e2", 3L)), out3.toString)
    // score can join downstream clauses like any binding: keep docs
    // whose score exceeds 2 (predicate over the fulltext relation)
    val qPred = Datalog.parse(
      """[:find ?e
        | :where [(fulltext $ :doc/title "ring") [[?e _ _ ?score]]]
        |        [(> ?score 2.0)]]""".stripMargin)
    val outP = Datalog.runOn(eav, registry, qPred, Map.empty)
      .collect().map(_.getString(0)).toSet
    assert(outP === Set("e1"), outP.toString)
    // a frame WITHOUT tx binds tx as null (resolved current view)
    val noTx = Datalog.runOn(eav.drop("tx"), registry, q4, Map.empty).collect()
    assert(noTx.forall(_.isNullAt(1)), noTx.mkString(","))
    // retraction-aware on a log frame: a value whose latest event is a
    // retract does not match, and ?tx binds the last ASSERT, never the
    // retraction's tx (Datomic searches the current index)
    val logged = eav.withColumn("op",
        org.apache.spark.sql.functions.lit(true)).unionByName(
      Seq(("e2", "doc/title", "one ring only", 7L, false),
        ("e1", "doc/title", "ring ring ring", 9L, false), // stale: re-asserted below
        ("e1", "doc/title", "ring ring ring", 10L, true))
        .toDF("e", "a", "v", "tx", "op"))
    val vis = Datalog.runOn(logged, registry, q4, Map.empty)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(vis === Map("e1" -> 10L), vis.toString) // e2 retracted, gone
  }

  test("log API: (tx-ids $ t1 t2) and (tx-data $ ?tx) walk the log from query text") {
    import spark.implicits._
    val log = Seq(
      ("e1", "price", "100", 1L, true),
      ("e2", "price", "200", 2L, true),
      ("e1", "price", "100", 3L, false), // retraction at tx 3
      ("e1", "price", "150", 3L, true),
      ("e3", "price", "300", 5L, true))
      .toDF("e", "a", "v", "tx", "op")
    // tx-ids: distinct txes in [2, 5) — half-open, as in Datomic
    val qIds = Datalog.parse(
      """[:find ?tx :where [(tx-ids $ 2 5) [?tx ...]]]""")
    val ids = Datalog.runOn(log, emptyRegistry, qIds, Map.empty)
      .collect().map(_.getLong(0)).toSet
    assert(ids === Set(2L, 3L), ids.toString)
    // tx-data with a CONSTANT tx: the datoms of tx 3, op flag bound
    val qData = Datalog.parse(
      """[:find ?e ?v ?op :where [(tx-data $ 3) [[?e _ ?v _ ?op]]]]""")
    val d3 = Datalog.runOn(log, emptyRegistry, qData, Map.empty)
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet
    assert(d3 === Set(("e1", "100", false), ("e1", "150", true)), d3.toString)
    // tx-data with a VARIABLE tx joins: walk the ids of [2,5) and
    // pull each tx's data — the composed log-walk idiom
    val qWalk = Datalog.parse(
      """[:find ?tx ?e ?v
        | :where [(tx-ids $ 2 5) [?tx ...]]
        |        [(tx-data $ ?tx) [[?e _ ?v]]]]""".stripMargin)
    val walk = Datalog.runOn(log, emptyRegistry, qWalk, Map.empty)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(walk === Set((2L, "e2", "200"), (3L, "e1", "100"), (3L, "e1", "150")),
      walk.toString)
  }

  test("history five-tuple: [?e :attr ?v ?tx ?added] binds the op flag") {
    import spark.implicits._
    val log = Seq(
      ("e1", "price", "100", 1L, true),
      ("e1", "price", "100", 2L, false), // retraction appears with added=false
      ("e1", "price", "150", 3L, true))
      .toDF("e", "a", "v", "tx", "op")
    val q = Datalog.parse(
      "[:find ?v ?tx ?added :where [?e :price ?v ?tx ?added]]")
    val got = Datalog.runOn(log, emptyRegistry, q, Map.empty)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set(("100", "1", "true"), ("100", "2", "false"), ("150", "3", "true")))
    // constant in the added slot filters to retractions only
    val qRetr = Datalog.parse(
      "[:find ?v ?tx :where [?e :price ?v ?tx false]]")
    val retr = Datalog.runOn(log, emptyRegistry, qRetr, Map.empty)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(retr === Set(("100", "2")))
    // binding added against an op-less resolved view is a loud error
    val noOp = log.drop("op")
    val err = intercept[IllegalArgumentException] {
      Datalog.runOn(noOp, emptyRegistry, q, Map.empty).collect()
    }
    assert(err.getMessage.contains("op column"))
  }

  test("rule-local variables are lexically scoped from :in parameters") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "type", "a"), ("e2", "type", "b"), ("e3", "name", "C"))
      .toDF("e", "a", "v")
    // the rule's ?t is internal; the :in ?t must NOT leak into it
    val rules = Datalog.parseRules("[[(typed ?e) [?e :type ?t]]]")
    val q = Datalog.parse(
      """[:find ?e :in $ % ?t :where (typed ?e) [?e :type ?t]]""")
    val out = Datalog.runOn(eav, emptyRegistry, q,
        Map("t" -> EStr("b")), rules)
      .collect().map(_.getString(0)).toSet
    assert(out == Set("e2"),
      s"rule must see ALL typed entities, outer pattern narrows to 'b': $out")
    // keyword in the entity slot resolves through the ident| encoding
    val eav2 = Seq(("ident|artist.type/person", "db/ident", "artist.type/person"))
      .toDF("e", "a", "v")
    val q2 = Datalog.parse("[:find ?v :where [:artist.type/person :db/ident ?v]]")
    val out2 = Datalog.runOn(eav2, emptyRegistry, q2, Map.empty)
      .collect().map(_.getString(0)).toSet
    assert(out2 == Set("artist.type/person"), out2.toString)
    // rule arity mismatches are rejected
    val qBad = Datalog.parse("[:find ?x :where (typed ?x ?y)]")
    val err = intercept[IllegalArgumentException](
      Datalog.runOn(eav, emptyRegistry, qBad, Map.empty, rules))
    assert(err.getMessage.contains("expects 1 args"), err.getMessage)
  }

  test("mutual recursion: even/odd through the SCC-wise joint fixpoint") {
    import spark.implicits._
    val eav = Seq(
      ("n0", "zero", "n0"),
      ("n1", "pred", "n0"), ("n2", "pred", "n1"),
      ("n3", "pred", "n2"), ("n4", "pred", "n3"))
      .toDF("e", "a", "v")
    // `odd` has NO base definition — it is seeded entirely through
    // `even`, the legal mutual-recursion shape the engine must handle
    val rules = Datalog.parseRules(
      """[[(even ?x) [?x :zero ?x]]
        | [(even ?x) [?x :pred ?y] (odd ?y)]
        | [(odd ?x) [?x :pred ?y] (even ?y)]]""".stripMargin)
    val even = Datalog.runOn(eav, emptyRegistry,
        Datalog.parse("[:find ?x :where (even ?x)]"), Map.empty, rules)
      .collect().map(_.getString(0)).toSet
    assert(even == Set("n0", "n2", "n4"), even.toString)
    val odd = Datalog.runOn(eav, emptyRegistry,
        Datalog.parse("[:find ?x :where (odd ?x)]"), Map.empty, rules)
      .collect().map(_.getString(0)).toSet
    assert(odd == Set("n1", "n3"), odd.toString)
  }

  test("non-linear recursion: two self-calls in one body (doubling closure)") {
    val rules = Datalog.parseRules(
      """[[(reach ?a ?b) [?a :next ?b]]
        | [(reach ?a ?b) (reach ?a ?x) (reach ?x ?b)]]""".stripMargin)
    val q = Datalog.parse("[:find ?a ?b :where (reach ?a ?b)]")
    val rows = Datalog.runOn(chainEav(8), emptyRegistry, q, Map.empty, rules)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows.size == 9 * 8 / 2, s"closure of a length-8 chain: got ${rows.size}")
    assert(rows.contains(("n0", "n8")))
  }

  test("required-bindings head [(r [?t] ?e)]: bound calls work, unbound rejected") {
    import spark.implicits._
    val eav = Seq(
      ("e1", "type", "a"), ("e2", "type", "b"), ("e3", "type", "a"))
      .toDF("e", "a", "v")
    val rules = Datalog.parseRules("""[[(of-type [?t] ?e) [?e :type ?t]]]""")
    // constant argument satisfies the requirement
    val out = Datalog.runOn(eav, emptyRegistry,
        Datalog.parse("""[:find ?e :where (of-type "a" ?e)]"""), Map.empty, rules)
      .collect().map(_.getString(0)).toSet
    assert(out == Set("e1", "e3"), out.toString)
    // an already-bound variable satisfies it too
    val out2 = Datalog.runOn(eav, emptyRegistry,
        Datalog.parse(
          """[:find ?e :where [?x :type ?t] [(= ?t "b")] (of-type ?t ?e)]"""),
        Map.empty, rules)
      .collect().map(_.getString(0)).toSet
    assert(out2 == Set("e2"), out2.toString)
    // an unbound required var is a loud error, not a silent full scan
    val err = intercept[IllegalArgumentException](
      Datalog.runOn(eav, emptyRegistry,
        Datalog.parse("[:find ?e ?t :where (of-type ?t ?e)]"), Map.empty, rules))
    assert(err.getMessage.contains("required binding"), err.getMessage)
  }

  test("query-stats: per-clause rows-out on a known query") {
    import spark.implicits._
    val eav = Seq(
      ("n1", "x/name", "a"), ("n2", "x/name", "b"), ("n3", "x/name", "c"),
      ("n1", "x/region", "r0"), ("n2", "x/region", "r0"), ("n3", "x/region", "r1"))
      .toDF("e", "a", "v")
    val q = Datalog.parse(
      """[:find ?e ?n
        | :where [?e :x/name ?n]
        |        [?e :x/region "r0"]
        |        [(!= ?n "a")]]""".stripMargin)
    val (out, stats) = Datalog.runOnWithStats(eav, emptyRegistry, q, Map.empty)
    assert(out.collect().map(_.getString(0)).toSeq === Seq("n2"))
    // clause 0 binds all 3 names; clause 1 narrows to the 2 r0
    // entities; clause 2's predicate drops "a"
    assert(stats.map(s => (s.idx, s.rowsOut)) === Seq((0, 3L), (1, 2L), (2, 1L)),
      stats.toString)
    assert(stats(1).clause.contains("region"), stats(1).clause)
  }

  test("query-map :offset/:limit: one deterministic page in sorted-column order") {
    val q = Datalog.parse(
      """[:find ?name ?sort
        | :where [?e :artist/name ?name]
        |        [?e :artist/sortName ?sort]]""".stripMargin)
    val result = Datalog.runOn(store.eav, registry, q, Map.empty)
    val all = result.distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(all.size >= 5)
    // offset+limit slices the sorted distinct result
    val page = Datalog.page(result, offset = 2, limit = 2).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(page === all.slice(2, 4), s"page mismatch: $page vs ${all.slice(2, 4)}")
    // :limit -1 = everything after the offset
    val tail = Datalog.page(result, offset = all.size - 1, limit = -1).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(tail === all.takeRight(1))
    // the page plans as one bounded TakeOrderedAndProject job
    val plan = Datalog.page(result, 2, 2).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
    intercept[IllegalArgumentException](Datalog.page(result, -1, 10))
  }

  test("recursive call under (not …) is rejected as unstratified") {
    val rules = Datalog.parseRules(
      """[[(reach ?a ?b) [?a :next ?b]]
        | [(reach ?a ?b) [?a :next ?x] (not (reach ?x ?b)) [?x :next ?b]]]""".stripMargin)
    val q = Datalog.parse("[:find ?a ?b :where (reach ?a ?b)]")
    val e = intercept[IllegalArgumentException](
      Datalog.runOn(chainEav(3), emptyRegistry, q, Map.empty, rules))
    assert(e.getMessage.contains("unstratified"), e.getMessage)
  }
}
