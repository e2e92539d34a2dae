package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.edn.Edn
import graft.model.{Mbrainz, SchemaRegistry}
import graft.pipeline.{Batcher, Loader}
import graft.query.Metaschema
import graft.store.Store

/** A metaschema declaration in the reference's shape (SURVEY §1.3)
  * drives denormalized views over a store loaded from the generated
  * mbrainz input ([[MbrainzFixture]]). */
class MetaschemaSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val fx = MbrainzFixture
  private lazy val registry = SchemaRegistry.load(fx.schemaPath)

  /** The generated schema's relational view: its identity attrs are the
    * tables, and each ref to an entity or a dictionary joins to its
    * table (enum refs are values, not joins). */
  private val declText =
    """{:tables {:artist/gid artist, :abstractRelease/gid abstractRelease,
      |          :release/gid release, :label/gid label}
      | :joins {:artist/country country,
      |         :abstractRelease/artists artist,
      |         :release/artists artist, :release/abstractRelease abstractRelease,
      |         :release/labels label, :release/media medium,
      |         :release/country country, :release/language language,
      |         :release/script script,
      |         :label/country country,
      |         :medium/tracks track,
      |         :track/artists artist}}""".stripMargin
  private lazy val decl = Metaschema.parse(declText)

  test("metaschema parses tables and joins") {
    def ident(m: Edn.EMap): String = fx.field(m, "db/ident").get
    val identities = fx.uniqueAttrs.filter(_._2 == "db.unique/identity").keySet
    val enumRefs = Mbrainz.byName.values.flatMap(_.mappings).collect {
      case Mbrainz.AttrMapping(_, attr, Mbrainz.KEnum(_)) => attr }.toSet
    val joinRefs = fx.schema.filter(fx.field(_, "db/valueType").contains("db.type/ref")).map(ident)
      .filterNot(enumRefs)
    assert(decl.tables == identities)
    assert(decl.tables.contains("artist/gid"))
    assert(decl.joins.keySet == joinRefs.toSet)
    assert(decl.joins("release/artists") == "artist")
    assert(decl.joins("artist/country") == "country")
    // every join lands on a namespace the schema declares
    val namespaces = fx.schema.map(ident(_).takeWhile(_ != '/')).toSet
    assert(decl.joins.values.forall(namespaces))
  }

  test("join resolution denormalizes refs to display values") {
    val batches = java.nio.file.Files.createTempDirectory("msbatches").toString
    val b = new Batcher(spark, fx.basedir, batches, batchSize = 1000)
    Seq("schema", "enums", "super-enums", "artists").foreach(b.createBatchFile)
    val store = new Store(spark, java.nio.file.Files.createTempDirectory("msstore").toString)
    val loader = new Loader(spark, registry, store)
    Seq("schema", "enums", "super-enums", "artists").foreach(t =>
      loader.loadBatchFile(t, s"$batches/$t.edn"))

    val resolved = Metaschema.resolveJoin(store, registry, decl, "artist/country", "country/name")
    val picked = resolved.filter(col("e") === lit(fx.artistKey(fx.pickedField("gid"))))
      .collect()
    val countryName = fx.field(fx.country(fx.pickedField("country")), "country/name").get
    assert(picked.map(_.getString(1)).toSeq == Seq(countryName))
    assert(resolved.count() == fx.artists.count(_.getKw("country").isDefined))
  }
}
