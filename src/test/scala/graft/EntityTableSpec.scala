package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.SchemaRegistry
import graft.pipeline.{Batcher, Loader}
import graft.store.Store

/** Wide entity tables pivoted from the EAV store (the metaschema's
  * relational view), on the generated mbrainz input
  * ([[MbrainzFixture]]). */
class EntityTableSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val fx = MbrainzFixture
  private lazy val registry = SchemaRegistry.load(fx.schemaPath)
  private lazy val nArtists = fx.truth.artistGids.size.toLong

  private lazy val store: Store = {
    val batches = java.nio.file.Files.createTempDirectory("etbatches").toString
    val b = new Batcher(spark, fx.basedir, batches, batchSize = 1000)
    Seq("schema", "enums", "super-enums", "artists").foreach(b.createBatchFile)
    val st = new Store(spark, java.nio.file.Files.createTempDirectory("etstore").toString)
    val loader = new Loader(spark, registry, st)
    Seq("schema", "enums", "super-enums", "artists").foreach(t =>
      loader.loadBatchFile(t, s"$batches/$t.edn"))
    st
  }

  test("artist entity table has one row per artist with typed columns") {
    val artists = store.entityTable(registry, "artist")
    assert(artists.count() == nArtists)
    val rows = artists.filter(col("e") === fx.artistKey(fx.pickedField("gid"))).collect()
    assert(rows.length == 1)
    val picked = rows(0)
    assert(picked.getAs[String]("name") == fx.pickedField("name"))
    assert(picked.getAs[String]("type") ==
      "ident|" + fx.enumIdent("artist_type", fx.pickedField("type")))
    assert(picked.getAs[String]("gender") ==
      "ident|" + fx.enumIdent("gender", fx.pickedField("gender")))
    assert(picked.getAs[String]("country") == "ident|country/" + fx.pickedField("country"))
    assert(picked.getAs[String]("startYear") == fx.pickedField("begin_date_year"))
    // the input has begin_date_month; the reference drops it (typo'd name-map)
    assert(picked.getAs[String]("startMonth") == null)
  }

  test("spark.sql over registered store views") {
    store.registerViews(registry)
    val n = spark.sql("SELECT count(*) FROM artist").collect()(0).getLong(0)
    assert(n == nArtists)
    val top = spark.sql(
      """SELECT c.v AS country, count(*) AS n
        |FROM eav_current c WHERE c.a = 'artist/country'
        |GROUP BY 1 ORDER BY n DESC, country LIMIT 1""".stripMargin).collect()(0)
    assert(top.getString(0).startsWith("ident|country/"))
    val code = fx.pickedField("country")
    val joined = spark.sql(
      s"""SELECT a.name FROM artist a
        |WHERE a.country = 'ident|country/$code' ORDER BY a.name LIMIT 3""".stripMargin)
      .collect().map(_.getString(0))
    val names = fx.artists.filter(fx.field(_, "country").contains(code)).map(fx.field(_, "name").get)
    assert(names.size >= 3)
    assert(joined.toSeq == names.sorted.take(3))
  }

  test("fulltext search honors :db/fulltext schema metadata") {
    val token = fx.pickedField("name").split(' ').head
    val hits = graft.query.Explore.fulltext(store, registry, token).collect()
    assert(hits.nonEmpty)
    assert(hits.forall(r => registry(r.getString(1)).fulltext), "only fulltext attrs")
    assert(hits.exists(r => r.getString(1) == "artist/name"))
    // tokenized match — substring of a token must NOT hit
    val sub = token.take(2).toLowerCase
    assert(!fx.truth.fulltextValues.exists(_._2.toLowerCase.split("[^a-z0-9]+").contains(sub)))
    assert(graft.query.Explore.fulltext(store, registry, sub).collect().isEmpty)
  }
}
