package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model.{Mbrainz, SchemaRegistry}
import graft.pipeline.{Batcher, Loader, Manifest, Retry}
import graft.query.Explore
import graft.store.Store

/** E2 loader + store + E3 queries, end-to-end on the reference data:
  * batch (E1) → load (E2) → explore (E3), plus the idempotency and
  * resume properties (SURVEY §5.5). */
class LoaderSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val basedir = "/root/reference/subsets"
  private lazy val registry = SchemaRegistry.load(s"$basedir/entities/schema.edn")

  private val types = Seq("schema", "enums", "super-enums", "artists", "areleases",
    "areleases-artists", "labels", "releases", "releases-artists")

  private lazy val batchesDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("loaderbatches").toString
    val b = new Batcher(spark, basedir, dir, batchSize = 100)
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
    assert(stats("schema") == 1)
    assert(stats("enums") == 1)
    assert(stats("super-enums") == 82)
    assert(stats("artists") == 47)
    assert(stats("areleases") == 102)
    assert(stats("labels") == 13)
    assert(stats("areleases-artists") == 106)
    assert(stats("releases-artists") == 119)
    assert(stats("releases") == 116) // 11510 rows / 100
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
    // simulate a crashed run: first 10 batches of artists already in
    val firstTen = java.nio.file.Files.createTempFile("partial", ".edn")
    val all = graft.sources.EdnSource.readText(s"$batchesDir/artists.edn").split('\n')
    java.nio.file.Files.write(firstTen, all.take(10).mkString("\n").getBytes)
    assert(loader.loadBatchFile("artists", firstTen.toString).txes == 10)
    val rest = loader.loadBatchFile("artists", s"$batchesDir/artists.edn")
    assert(rest.txes == 37)
  }

  test("explore: unique attrs self-join finds schema uniques") {
    val (store, _) = loaded
    val rows = Explore.uniqueAttrs(store).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("artist/gid") == "db.unique/identity")
    assert(rows("label/gid") == "db.unique/identity")
    assert(rows.size >= 6)
  }

  test("explore: entity counts per unique attr match source data") {
    val (store, _) = loaded
    val counts = Explore.entityCountsByUniqueAttr(store, registry).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("artist/gid") == 4601)
    assert(counts("label/gid") == 1207)
    assert(counts("abstractRelease/gid") == 10180)
    // releases.edn has 11510 rows but only 11434 distinct gids —
    // :db.unique/identity upserts merge the duplicates, as Datomic would
    assert(counts("release/gid") == 11434)
  }

  test("explore: batch frequencies (first-dash prefix, faithful)") {
    val (store, _) = loaded
    val freq = Explore.batchFrequencies(store).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // "areleases" merges areleases(102) + areleases-artists(106);
    // "releases" merges releases(116) + releases-artists(119)
    assert(freq("artists") == 47)
    assert(freq("areleases") == 208)
    assert(freq("releases") == 235)
    assert(freq("super") == 82) // "super-enums-N" → "super"
  }

  test("upsert: releases-artists hoist adds refs to existing releases") {
    val (store, _) = loaded
    import org.apache.spark.sql.functions._
    val cur = store.current(registry)
    val withArtists = cur.filter(col("a") === "release/artists")
      .select(col("e")).distinct().count()
    assert(withArtists > 10000, s"releases with artists: $withArtists")
    // card-many union: no duplicate (e,a,v)
    val dups = cur.filter(col("a") === "release/artists")
      .groupBy("e", "a", "v").count().filter(col("count") > 1).count()
    assert(dups == 0)
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
    loader.ensureImportSchema()
    val each = inlineTypes.map(t => t -> loader.loadBatchFile(t, s"$dir/$t.edn")).toMap
    assert(txesOf(all) == Map("artists" -> 4L, "labels" -> 3L, "releases" -> 5L))
    assert(all.map { case (t, s) => t -> (s.txes, s.datoms, s.rejected) } ==
      each.map { case (t, s) => t -> (s.txes, s.datoms, s.rejected) })
    // artists: 4 txes × (3 × 2 attrs + batch id + txInstant) datoms
    assert(all("artists").datoms == 4 * 8)
    assert(logRows(onePass) == logRows(perFile))
    // one instant for the whole data load; the import schema has its own
    import org.apache.spark.sql.functions.col
    val instants = onePass.eav.filter(col("a") === Store.txInstantAttr && col("e") =!= "tx|import-schema-1")
      .select("v").distinct().count()
    assert(instants == 1)
  }

  test("a second loadAll applies nothing and leaves the log unchanged") {
    val dir = inlineBatches()
    val store = freshStore()
    val loader = new Loader(spark, inlineRegistry, store)
    loader.loadAll(dir)
    val before = store.eav.count()
    val again = loader.loadAll(dir)
    assert(txesOf(again) == inlineTypes.map(_ -> 0L).toMap)
    assert(loader.ensureImportSchema().txes == 0)
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
