package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Minimal mbrainz-shaped input for suites that run the `Batcher` on
  * inline data: the four dictionaries `Transform.Dims` loads
  * (`enums.edn`, `countries.edn`, `langs.edn`, `scripts.edn`, in the
  * reference's shapes, FIXTURES.md §A) and a `schema.edn` for artists,
  * releases, media and tracks. */
object EdnFixtures {

  def uuid(n: Int): String = f"00000000-0000-4000-8000-${n}%012d"

  val enums: String =
    """{gender {"Male" :artist.gender/male, "Female" :artist.gender/female}
      | artist_type {"Person" :artist.type/person, "Group" :artist.type/group}
      | release_group_type {"Album" :release.type/album}
      | release_packaging {"Jewel Case" :release.packaging/jewelcase}
      | medium_format {"CD" :medium.format/cd, "Vinyl" :medium.format/vinyl}
      | label_type {"Original Production" :label.type/originalproduction}}
      |""".stripMargin

  val countries: String =
    """{"GB" {:db/ident :country/GB, :country/name "United Kingdom"}
      | "US" {:db/ident :country/US, :country/name "United States"}}
      |""".stripMargin

  val langs: String =
    """{"eng" {:db/ident :language/eng, :language/name "English"}}
      |""".stripMargin

  val scripts: String =
    """{"Latn" {:db/ident :script/Latn, :script/name "Latin"}
      | "Cyrl" {:db/ident :script/Cyrl, :script/name "Cyrillic"}}
      |""".stripMargin

  val schema: String =
    """[{:db/ident :artist/gid, :db/valueType :db.type/uuid, :db/cardinality :db.cardinality/one, :db/unique :db.unique/identity}
      | {:db/ident :artist/name, :db/valueType :db.type/string, :db/cardinality :db.cardinality/one, :db/fulltext true}
      | {:db/ident :release/gid, :db/valueType :db.type/uuid, :db/cardinality :db.cardinality/one, :db/unique :db.unique/identity}
      | {:db/ident :release/name, :db/valueType :db.type/string, :db/cardinality :db.cardinality/one}
      | {:db/ident :release/media, :db/valueType :db.type/ref, :db/cardinality :db.cardinality/many, :db/isComponent true}
      | {:db/ident :medium/tracks, :db/valueType :db.type/ref, :db/cardinality :db.cardinality/many, :db/isComponent true}
      | {:db/ident :medium/format, :db/valueType :db.type/ref, :db/cardinality :db.cardinality/one}
      | {:db/ident :medium/position, :db/valueType :db.type/long, :db/cardinality :db.cardinality/one}
      | {:db/ident :medium/trackCount, :db/valueType :db.type/long, :db/cardinality :db.cardinality/one}
      | {:db/ident :track/artists, :db/valueType :db.type/ref, :db/cardinality :db.cardinality/many}
      | {:db/ident :track/position, :db/valueType :db.type/long, :db/cardinality :db.cardinality/one}
      | {:db/ident :track/duration, :db/valueType :db.type/long, :db/cardinality :db.cardinality/one}
      | {:db/ident :track/name, :db/valueType :db.type/string, :db/cardinality :db.cardinality/one, :db/fulltext true}]
      |""".stripMargin

  /** A fresh base directory whose `entities/` holds the dictionaries,
    * `schema.edn` and `files` (file name → EDN text). */
  def basedir(files: (String, String)*): Path = {
    val base = Files.createTempDirectory("ednfixtures")
    val entities = Files.createDirectory(base.resolve("entities"))
    (Seq("enums.edn" -> enums, "countries.edn" -> countries, "langs.edn" -> langs,
      "scripts.edn" -> scripts, "schema.edn" -> schema) ++ files).foreach { case (f, text) =>
      Files.write(entities.resolve(f), text.getBytes(StandardCharsets.UTF_8))
    }
    base
  }
}
