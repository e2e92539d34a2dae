package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import graft.edn.Edn
import graft.edn.Edn._
import graft.mbench.Gen
import graft.sources.EdnSource

/** The mbrainz-shaped input of the end-to-end suites: the benchmark's
  * seeded generator (`Gen.write`, compiled into the tests by
  * `build.sbt`) writes the 7 entity files, the 4 dictionaries and a
  * `schema.edn` matching `Mbrainz`, once per JVM. Expected values come
  * from its [[Gen.Truth]] and from a plain `Edn.parseAll` (no Spark) of the
  * written files, never from program output.
  *
  * `releases.edn` ends with [[nDuplicateReleases]] extra rows that
  * reuse the gid and `:release_group` of the first releases under a new
  * `:name`, so `:db.unique/identity` has duplicates to merge (the
  * reference sample's releases.edn holds 11,510 rows but 11,434 gids).
  * Originals lead the file and duplicates end it, so at every batch
  * size the tests use they are in different transactions. */
object MbrainzFixture {

  val seed = 1L
  val scale = 0.1
  val nDuplicateReleases = 5

  private lazy val generated: (String, Gen.Truth) = {
    val dir = Files.createTempDirectory("mbrainz").toString
    val t = Gen.write(dir, seed, scale)
    val dups = t.releases.take(nDuplicateReleases).map { r =>
      s"""{:gid #uuid "${r.gid}", :name "${r.name} Remaster", """ +
        s""":release_group #uuid "${t.areleaseGids(r.arelease)}"}""" + "\n"
    }
    Files.write(Paths.get(dir, "entities", "releases.edn"),
      dups.mkString.getBytes(StandardCharsets.UTF_8), StandardOpenOption.APPEND)
    (dir, t)
  }

  /** The base directory the `Batcher` reads (`<basedir>/entities/`). */
  lazy val basedir: String = generated._1
  lazy val truth: Gen.Truth = generated._2

  def entityPath(file: String): String = s"$basedir/entities/$file.edn"
  lazy val schemaPath: String = entityPath("schema")

  /** Every form of an entity file, parsed without Spark. */
  def parse(file: String): Vector[EMap] =
    Edn.parseAll(EdnSource.readText(entityPath(file))).map(_.asInstanceOf[EMap])

  lazy val artists: Vector[EMap] = parse("artists")
  lazy val releases: Vector[EMap] = parse("releases")
  lazy val releasesArtists: Vector[EMap] = parse("releases-artists")
  lazy val schema: Vector[EMap] =
    Edn.parse(EdnSource.readText(schemaPath)).asInstanceOf[EVec].items.map(_.asInstanceOf[EMap])

  /** A form's scalar value as the store writes it: strings and uuids
    * as text, longs in decimal, keywords qualified without the colon. */
  def field(m: EMap, key: String): Option[String] = m.getKw(key).map {
    case EStr(s) => s
    case EUuid(u) => u
    case ELong(n) => n.toString
    case k: EKw => k.qualified
    case other => sys.error(s"unexpected value for :$key: $other")
  }

  /** The generated schema's `:db/unique` attrs and their kind. */
  lazy val uniqueAttrs: Map[String, String] = schema.flatMap(m =>
    field(m, "db/unique").map(field(m, "db/ident").get -> _)).toMap

  /** Input forms of a batched type: Truth's rows, plus the appended
    * duplicate releases. */
  def rows(tpe: String): Long =
    truth.rowsPerType(tpe) + (if (tpe == "releases") nDuplicateReleases else 0)

  /** Forms in a generated entity file: [[rows]], and for media one
    * row per (track, artist). */
  def forms(file: String): Long =
    if (file == "media") truth.media.iterator.flatten.flatMap(_.tracks).map(_.artists.size.toLong).sum
    else rows(file)

  /** Batches the `Batcher` cuts a type into: one per `size` forms. */
  def batches(tpe: String, size: Int): Long = (rows(tpe) + size - 1) / size

  /** The `:db/ident` the enum class `cls` maps input `value` to. */
  def enumIdent(cls: String, value: String): String = {
    val classes = Edn.parse(EdnSource.readText(entityPath("enums"))).asInstanceOf[EMap]
    val m = classes.get(ESym("", cls)).get.asInstanceOf[EMap]
    m.get(EStr(value)).get.asInstanceOf[EKw].qualified
  }

  /** The countries dictionary entry of a code, parsed without Spark. */
  def country(code: String): EMap =
    Edn.parse(EdnSource.readText(entityPath("countries"))).asInstanceOf[EMap]
      .get(EStr(code)).get.asInstanceOf[EMap]

  /** The first artist with a type, gender, country, begin year and
    * begin month: the row the named-row assertions check. */
  lazy val picked: EMap = artists.find(a =>
    Seq("type", "gender", "country", "begin_date_year", "begin_date_month")
      .forall(k => a.getKw(k).isDefined)).get

  def pickedField(key: String): String = field(picked, key).get

  /** The store's e-key of an artist gid. */
  def artistKey(gid: String): String = s"artist/gid|$gid"
}
