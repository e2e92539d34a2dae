package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model.{Mbrainz, SchemaRegistry}
import graft.pipeline.{Batcher, Loader, Manifest, Retry}
import graft.query.Explore
import graft.store.Store

/** E2 loader + store + E3 queries, end-to-end on the generated mbrainz
  * input ([[MbrainzFixture]]): batch (E1) → load (E2) → explore (E3),
  * plus the idempotency and resume properties (SURVEY §5.5). Expected
  * counts come from the generator's `Truth` and a plain `Edn` parse of the input. */
class LoaderSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val fx = MbrainzFixture
  private lazy val registry = SchemaRegistry.load(fx.schemaPath)

  private val types = Seq("schema", "enums", "super-enums", "artists", "areleases",
    "areleases-artists", "labels", "releases", "releases-artists")

  private lazy val batchesDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("loaderbatches").toString
    val b = new Batcher(spark, fx.basedir, dir, batchSize = 100)
    types.foreach(b.createBatchFile)
    dir
  }

  private lazy val loaded: (Store, Map[String, Long]) = {
    val storeDir = java.nio.file.Files.createTempDirectory("store").toString
    val store = new Store(spark, storeDir)
    val loader = new Loader(spark, registry, store)
    val stats = types.map(t => t -> loader.loadBatchFile(t, s"$batchesDir/$t.edn").txes).toMap
    (store, stats)
  }

  test("full import applies every batch once") {
    val (_, stats) = loaded
    // one tx per batch: ⌈rows / 100⌉ per type, releases counting the
    // appended duplicate-gid rows
    assert(stats == types.map(t => t -> fx.batches(t, 100)).toMap)
  }

  test("idempotency: re-running is a no-op") {
    val (store, _) = loaded
    val before = store.eav.count()
    val loader = new Loader(spark, registry, store)
    val again = types.map(t => loader.loadBatchFile(t, s"$batchesDir/$t.edn").txes).sum
    assert(again == 0, "no batch should re-apply")
    assert(store.eav.count() == before)
  }

  test("resume: a partially-applied type only loads the remainder") {
    val storeDir = java.nio.file.Files.createTempDirectory("store2").toString
    val store = new Store(spark, storeDir)
    val loader = new Loader(spark, registry, store)
    // simulate a crashed run: the first half of the artist batches already in
    val n = fx.batches("artists", 100)
    val k = (n / 2).toInt
    assert(k >= 1 && k < n, s"need a proper prefix of $n artist batches")
    val firstK = java.nio.file.Files.createTempFile("partial", ".edn")
    val all = graft.sources.EdnSource.readText(s"$batchesDir/artists.edn").split('\n')
    java.nio.file.Files.write(firstK, all.take(k).mkString("\n").getBytes)
    assert(loader.loadBatchFile("artists", firstK.toString).txes == k)
    val rest = loader.loadBatchFile("artists", s"$batchesDir/artists.edn")
    assert(rest.txes == n - k)
  }

  test("explore: unique attrs self-join finds schema uniques") {
    val (store, _) = loaded
    val rows = Explore.uniqueAttrs(store).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("artist/gid") == "db.unique/identity")
    assert(rows("label/gid") == "db.unique/identity")
    // exactly the generated schema's :db/unique attrs, with their kind,
    // plus the import schema's, which every load carries
    assert(rows == fx.uniqueAttrs + (Mbrainz.batchIdAttr -> "db.unique/value"))
  }

  test("explore: entity counts per unique attr match source data") {
    val (store, _) = loaded
    val counts = Explore.entityCountsByUniqueAttr(store, registry).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("artist/gid") == fx.truth.artistGids.size)
    assert(counts("label/gid") == fx.truth.labelGids.size)
    assert(counts("abstractRelease/gid") == fx.truth.areleaseGids.size)
    // releases.edn has more rows than distinct gids —
    // :db.unique/identity upserts merge the duplicates, as Datomic would
    val gids = fx.releases.map(fx.field(_, "gid").get)
    assert(gids.distinct.size < gids.size)
    assert(counts("release/gid") == gids.distinct.size)
  }

  test("explore: batch frequencies (first-dash prefix, faithful)") {
    val (store, _) = loaded
    val freq = Explore.batchFrequencies(store).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def b(t: String): Long = fx.batches(t, 100)
    // "areleases" merges areleases + areleases-artists;
    // "releases" merges releases + releases-artists
    assert(freq("artists") == b("artists"))
    assert(freq("areleases") == b("areleases") + b("areleases-artists"))
    assert(freq("releases") == b("releases") + b("releases-artists"))
    assert(freq("super") == b("super-enums")) // "super-enums-N" → "super"
  }

  test("upsert: releases-artists hoist adds refs to existing releases") {
    val (store, _) = loaded
    import org.apache.spark.sql.functions._
    val cur = store.current(registry)
    val withArtists = cur.filter(col("a") === "release/artists")
      .select(col("e")).distinct().count()
    val expected = fx.releasesArtists.map(fx.field(_, "release").get).distinct.size
    assert(withArtists == expected, s"releases with artists: $withArtists")
    // card-many union: no duplicate (e,a,v)
    val dups = cur.filter(col("a") === "release/artists")
      .groupBy("e", "a", "v").count().filter(col("count") > 1).count()
    assert(dups == 0)
  }

  test("fulltext searches the current state: a release's superseded name no longer matches") {
    val (store, _) = loaded
    import org.apache.spark.sql.functions.col
    // each duplicate row renames its release to "<name> Remaster" in a
    // later tx, so the original name's tokens match only the new name
    val renamed = fx.releases.takeRight(fx.nDuplicateReleases)
    assert(renamed.size == fx.nDuplicateReleases)
    renamed.foreach { dup =>
      val gid = fx.field(dup, "gid").get
      val original = fx.field(fx.releases.find(fx.field(_, "gid").contains(gid)).get, "name").get
      assert(fx.field(dup, "name").get == s"$original Remaster")
      val names = Explore.fulltext(store, registry, original)
        .filter(col("e") === s"release/gid|$gid" && col("a") === "release/name")
        .collect().map(_.getString(2)).toSeq
      assert(names == Seq(s"$original Remaster"), s"release $gid")
    }
  }

  // ── inline fixtures: a small schema and batch files written here ──

  private lazy val inlineRegistry = SchemaRegistry.fromEdn(
    """[{:db/ident :artist/gid, :db/valueType :db.type/uuid, :db/cardinality :db.cardinality/one, :db/unique :db.unique/identity}
      | {:db/ident :artist/name, :db/valueType :db.type/string, :db/cardinality :db.cardinality/one}
      | {:db/ident :label/gid, :db/valueType :db.type/uuid, :db/cardinality :db.cardinality/one, :db/unique :db.unique/identity}
      | {:db/ident :label/name, :db/valueType :db.type/string, :db/cardinality :db.cardinality/one}
      | {:db/ident :release/gid, :db/valueType :db.type/uuid, :db/cardinality :db.cardinality/one, :db/unique :db.unique/identity}
      | {:db/ident :release/name, :db/valueType :db.type/string, :db/cardinality :db.cardinality/one}
      | {:db/ident :release/year, :db/valueType :db.type/long, :db/cardinality :db.cardinality/one}
      | {:db/ident :release/artists, :db/valueType :db.type/ref, :db/cardinality :db.cardinality/many}
      | {:db/ident :release/labels, :db/valueType :db.type/ref, :db/cardinality :db.cardinality/many}]""".stripMargin)

  private def gid(kind: Int, n: Int): String = f"$kind%08d-0000-4000-8000-$n%012d"

  /** Batch lines per type: 4 artist, 3 label and 5 release batches of
    * 3 entities each; releases ref artists and labels by lookup ref. */
  private val inlineLines: Map[String, Seq[String]] = {
    def batch(tpe: String, n: Int, ents: Seq[String]): String =
      s"""{:batch-ident {:db/id "datomic.tx", :${Mbrainz.batchIdAttr} "$tpe-$n"}, :data [${ents.mkString(" ")}]}"""
    def per(tpe: String, batches: Int)(ent: Int => String): Seq[String] =
      (1 to batches).map(b => batch(tpe, b, (0 until 3).map(i => ent((b - 1) * 3 + i))))
    Map(
      "artists" -> per("artists", 4)(i => s"""{:artist/gid #uuid "${gid(1, i)}", :artist/name "artist $i"}"""),
      "labels" -> per("labels", 3)(i => s"""{:label/gid #uuid "${gid(2, i)}", :label/name "${if (i == 4) "zed" else "label"} $i"}"""),
      "releases" -> per("releases", 5)(i =>
        s"""{:release/gid #uuid "${gid(3, i)}", :release/name "release $i", :release/year ${1990 + i}, """ +
          s""":release/artists [{:artist/gid #uuid "${gid(1, i % 12)}"}], :release/labels {:label/gid #uuid "${gid(2, i % 9)}"}}"""))
  }

  /** A fresh dir holding one `<type>.edn` per inline type. */
  private def inlineBatches(): String = {
    val dir = java.nio.file.Files.createTempDirectory("inlinebatches")
    inlineLines.foreach { case (t, ls) =>
      java.nio.file.Files.write(dir.resolve(s"$t.edn"), ls.mkString("\n").getBytes) }
    dir.toString
  }

  private def freshStore(): Store =
    new Store(spark, java.nio.file.Files.createTempDirectory("inlinestore").toString)

  private def txesOf(stats: Map[String, Loader#LoadStats]): Map[String, Long] =
    stats.map { case (t, s) => t -> s.txes }

  /** The log as a sorted multiset of rows, without `db/txInstant`. */
  private def logRows(store: Store): Seq[String] = {
    import org.apache.spark.sql.functions.col
    store.eav.filter(col("a") =!= Store.txInstantAttr)
      .select("e", "a", "v", "v_long", "is_ref", "tx", "op")
      .collect().map(_.mkString("|")).toSeq.sorted
  }

  private val inlineTypes = Seq("artists", "labels", "releases")

  test("loadAll in one pass equals loading each batch file in turn") {
    val dir = inlineBatches()
    val onePass = freshStore()
    val all = new Loader(spark, inlineRegistry, onePass).loadAll(dir)
    val perFile = freshStore()
    val loader = new Loader(spark, inlineRegistry, perFile)
    val each = inlineTypes.map(t => t -> loader.loadBatchFile(t, s"$dir/$t.edn")).toMap
    assert(txesOf(all) == Map("artists" -> 4L, "labels" -> 3L, "releases" -> 5L))
    assert(all.map { case (t, s) => t -> (s.txes, s.datoms, s.rejected) } ==
      each.map { case (t, s) => t -> (s.txes, s.datoms, s.rejected) })
    // artists: 4 txes × (3 × 2 attrs + batch id + txInstant) datoms
    assert(all("artists").datoms == 4 * 8)
    assert(logRows(onePass) == logRows(perFile))
  }

  /** The full fixture's batch files, loaded by one `loadAll` into a
    * fresh store. */
  private lazy val loadedAll: Store = {
    val store = freshStore()
    new Loader(spark, registry, store).loadAll(batchesDir)
    store
  }

  /** [[loadedAll]]'s tx entities' `(e, tx, instant)`. */
  private lazy val loadAllTxes: Seq[(String, Long, String)] = {
    import org.apache.spark.sql.functions.col
    loadedAll.eav.filter(col("a") === Store.txInstantAttr).select("e", "tx", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
  }

  test("a fresh loadAll writes at most one parquet file per attribute") {
    val attrs = loadedAll.eav.select("a").distinct().count()
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(loadedAll.dir, "eav"))
      .filter(_.getFileName.toString.endsWith(".parquet")).count()
    assert(files <= attrs, s"$files files for $attrs attributes")
  }

  test("a fresh loadAll stamps one txInstant for every tx entity, the import schema's included") {
    val importSchema = loadAllTxes.filter(_._1 == "tx|import-schema-1")
    assert(importSchema.size == 1)
    // one tx entity per batch of every type, plus the import schema's
    assert(loadAllTxes.size == 1 + types.map(fx.batches(_, 100)).sum)
    assert(loadAllTxes.map(_._3).distinct.size == 1, "one instant for the whole load")
  }

  test("every tx entity has its own tx, and the import schema's is the smallest") {
    val txes = loadAllTxes.map(_._2)
    assert(txes.distinct.size == txes.size)
    assert(loadAllTxes.minBy(_._2)._1 == "tx|import-schema-1")
    assert(loadAllTxes.filter(_._1 == "tx|schema-1").map(_._2) == Seq(1L))
  }

  test("loadAll over a batch directory with no batch files still transacts the import schema") {
    import org.apache.spark.sql.functions.col
    val store = freshStore()
    val empty = java.nio.file.Files.createTempDirectory("nobatches").toString
    assert(new Loader(spark, inlineRegistry, store).loadAll(empty).isEmpty)
    assert(store.appliedBatchIds.collect().map(_.getString(0)).toSeq == Seq("import-schema-1"))
    assert(store.eav.filter(col("e") === s"ident|${Mbrainz.batchIdAttr}" && col("a") === "db/unique")
      .select("v").collect().map(_.getString(0)).toSeq == Seq("db.unique/value"))
  }

  test("a second loadAll applies nothing and leaves the log unchanged") {
    val dir = inlineBatches()
    val store = freshStore()
    val loader = new Loader(spark, inlineRegistry, store)
    loader.loadAll(dir)
    val before = store.eav.count()
    val again = loader.loadAll(dir)
    assert(txesOf(again) == inlineTypes.map(_ -> 0L).toMap)
    // nor is the import schema re-applied: a load of no batch files adds nothing
    assert(loader.load(Nil).isEmpty)
    assert(store.eav.count() == before)
  }

  test("loadAll after the first k batches of a type were applied loads only the rest") {
    val dir = inlineBatches()
    val store = freshStore()
    val loader = new Loader(spark, inlineRegistry, store)
    val partial = java.nio.file.Files.createTempFile("partial", ".edn")
    java.nio.file.Files.write(partial, inlineLines("releases").take(2).mkString("\n").getBytes)
    assert(loader.loadBatchFile("releases", partial.toString).txes == 2)
    val rest = loader.loadAll(dir)
    assert(txesOf(rest) == Map("artists" -> 4L, "labels" -> 3L, "releases" -> 3L))
    val full = freshStore()
    new Loader(spark, inlineRegistry, full).loadAll(dir)
    assert(logRows(store) == logRows(full))
  }

  test("attrPreds rejections are counted against the type they came from") {
    import org.apache.spark.sql.functions.col
    val dir = inlineBatches()
    val store = freshStore()
    val preds = Map("label/name" -> Seq("no-z-names" -> !col("v").startsWith("z")))
    val stats = new Loader(spark, inlineRegistry, store, attrPreds = preds).loadAll(dir)
    assert(stats.map { case (t, s) => t -> s.rejected } ==
      Map("artists" -> 0L, "labels" -> 1L, "releases" -> 0L))
    assert(stats("labels").datoms == 3 * 8 - 1)
    assert(store.eav.filter(col("a") === "label/name" && col("v").startsWith("z")).count() == 0)
  }

  test("load rejects a type named twice") {
    val dir = inlineBatches()
    val loader = new Loader(spark, inlineRegistry, freshStore())
    val e = intercept[IllegalArgumentException](
      loader.load(Seq("artists" -> s"$dir/artists.edn", "labels" -> s"$dir/labels.edn",
        "artists" -> s"$dir/artists.edn")))
    assert(e.getMessage.contains("artists"))
  }

  test("manifest: an import-order that names a type twice is rejected") {
    val base = """{:store-dir "s", :basedir "b", :concurrency 4, :import-order """
    assert(Manifest.parse(base + "[:artists :labels]}").importOrder == Seq("artists", "labels"))
    val e = intercept[IllegalArgumentException](Manifest.parse(base + "[:artists :labels :artists]}"))
    assert(e.getMessage.contains("artists"))
  }

  test("retry: transient failures back off then succeed") {
    var calls = 0
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val r = Retry.retrying(
      () => { calls += 1; if (calls < 4) throw new java.io.IOException("flaky"); 42 },
      Retry.transientIo, Retry.backoff(100, 30000, 2.0, 12), slept.append(_))
    assert(r == 42 && calls == 4)
    assert(slept.toSeq == Seq(100L, 200L, 400L))
  }

  test("retry: non-transient rethrows immediately") {
    var calls = 0
    intercept[IllegalArgumentException](Retry.retrying(
      () => { calls += 1; throw new IllegalArgumentException("fatal") },
      Retry.transientIo, Retry.backoff(), _ => ()))
    assert(calls == 1)
  }

  test("retry: backoff exhaustion rethrows") {
    intercept[java.io.IOException](Retry.retrying(
      () => throw new java.io.IOException("down"),
      Retry.transientIo, Retry.backoff(1, 4, 2.0, maxTries = 3), _ => ()))
  }
}
