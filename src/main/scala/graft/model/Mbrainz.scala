package graft.model

/** Declarative model of the mbrainz import: input shapes, attribute
  * renames, ref structuring, and enum/dictionary resolution — the
  * Spark-side registry replacing the reference's name-maps
  * (`src/datomic/mbrainz/importer.clj:68-146`) and clojure.spec shapes
  * (`src/datomic/mbrainz/importer/entities.clj:37-51`).
  *
  * Column-name convention: qualified attr `:artist/startYear` is stored
  * in DataFrame column `artist__startYear` (parquet-safe); `attr`
  * retains the qualified name for EDN rendering and the EAV view.
  */
object Mbrainz {

  /** How an input value becomes an output attribute value. */
  sealed trait Kind
  case object KStr extends Kind
  case object KLong extends Kind
  case object KUuid extends Kind
  /** Enum resolution via the named `enums.edn` class; strict (miss = error),
    * `importer.clj:215-219`. Stored as qualified keyword text. */
  final case class KEnum(enumClass: String) extends Kind
  /** Dictionary resolution via countries/langs/scripts → `:db/ident`;
    * strict, `importer.clj:220-224`. */
  final case class KSuperEnum(dict: String) extends Kind
  /** Forward lookup-ref `{uniqAttr v}` (`importer.clj:182`). */
  final case class KRefMap(uniqAttr: String) extends Kind
  /** Reverse ref `[uniqAttr v]` under a `_`-attr (`importer.clj:180-181`). */
  final case class KRevRef(uniqAttr: String) extends Kind
  /** `[:db/id uniq]` hoist: the value becomes the row's own unique key
    * (`importer.clj:178-179`). */
  final case class KHoist(uniqAttr: String) extends Kind

  /** One input key → one output attribute. */
  final case class AttrMapping(inputKey: String, attr: String, kind: Kind) {
    def col: String = Mbrainz.colName(attr)
  }

  /** Raw input field as parsed from the entity EDN (uuid ⇒ string). */
  final case class InField(name: String, isLong: Boolean = false)

  final case class EntityType(name: String, inFields: Seq[InField], mappings: Seq[AttrMapping])

  def colName(attr: String): String = attr.replace("/", "__")

  private val dateTriples: Seq[InField] = Seq(
    InField("begin_date_year", isLong = true), InField("begin_date_month", isLong = true),
    InField("begin_date_day", isLong = true), InField("end_date_year", isLong = true),
    InField("end_date_month", isLong = true), InField("end_date_day", isLong = true))

  /** NOTE the two misspelled input keys `begin_data_month` /
    * `begin_date_date` faithfully reproduce `artist-attrs`
    * (`importer.clj:68-81`): actual inputs `begin_date_month` /
    * `begin_date_day` are unmapped and therefore DROPPED — confirmed by
    * the golden output (`subsets/batches/artists.edn` carries no
    * `:artist/startMonth`). Behavior-preserving, not a typo here. */
  val artists: EntityType = EntityType(
    name = "artists",
    inFields = Seq(InField("gid"), InField("name"), InField("sortname"),
      InField("type"), InField("gender"), InField("country")) ++ dateTriples,
    mappings = Seq(
      AttrMapping("gid", "artist/gid", KUuid),
      AttrMapping("name", "artist/name", KStr),
      AttrMapping("sortname", "artist/sortName", KStr),
      AttrMapping("type", "artist/type", KEnum("artist_type")),
      AttrMapping("gender", "artist/gender", KEnum("gender")),
      AttrMapping("country", "artist/country", KSuperEnum("countries")),
      AttrMapping("begin_date_year", "artist/startYear", KLong),
      AttrMapping("begin_data_month", "artist/startMonth", KLong),
      AttrMapping("begin_date_date", "artist/startDay", KLong),
      AttrMapping("end_date_year", "artist/endYear", KLong),
      AttrMapping("end_date_month", "artist/endMonth", KLong),
      AttrMapping("end_date_day", "artist/endDay", KLong)))

  val areleases: EntityType = EntityType(
    name = "areleases",
    inFields = Seq(InField("gid"), InField("name"), InField("type"), InField("artist_credit")),
    mappings = Seq(
      AttrMapping("gid", "abstractRelease/gid", KUuid),
      AttrMapping("name", "abstractRelease/name", KStr),
      AttrMapping("type", "abstractRelease/type", KEnum("release_group_type")),
      AttrMapping("artist_credit", "abstractRelease/artistCredit", KStr)))

  val releases: EntityType = EntityType(
    name = "releases",
    inFields = Seq(InField("gid"), InField("artist_credit"), InField("name"),
      InField("label"), InField("packaging"), InField("status"), InField("country"),
      InField("language"), InField("script"), InField("barcode"),
      InField("date_year", isLong = true), InField("date_month", isLong = true),
      InField("date_day", isLong = true), InField("release_group"),
      InField("acid", isLong = true)),
    mappings = Seq(
      AttrMapping("gid", "release/gid", KUuid),
      AttrMapping("artist_credit", "release/artistCredit", KStr),
      AttrMapping("name", "release/name", KStr),
      AttrMapping("label", "release/labels", KRefMap("label/gid")),
      AttrMapping("packaging", "release/packaging", KEnum("release_packaging")),
      AttrMapping("status", "release/status", KStr),
      AttrMapping("country", "release/country", KSuperEnum("countries")),
      AttrMapping("language", "release/language", KSuperEnum("langs")),
      AttrMapping("script", "release/script", KSuperEnum("scripts")),
      AttrMapping("barcode", "release/barcode", KStr),
      AttrMapping("date_year", "release/year", KLong),
      AttrMapping("date_month", "release/month", KLong),
      AttrMapping("date_day", "release/day", KLong),
      AttrMapping("release_group", "release/abstractRelease", KRefMap("abstractRelease/gid"))))

  val labels: EntityType = EntityType(
    name = "labels",
    inFields = Seq(InField("gid"), InField("name"), InField("sort_name"),
      InField("type"), InField("country")) ++ dateTriples,
    mappings = Seq(
      AttrMapping("gid", "label/gid", KUuid),
      AttrMapping("name", "label/name", KStr),
      AttrMapping("sort_name", "label/sortName", KStr),
      AttrMapping("type", "label/type", KEnum("label_type")),
      AttrMapping("country", "label/country", KSuperEnum("countries")),
      AttrMapping("begin_date_year", "label/startYear", KLong),
      AttrMapping("begin_date_month", "label/startMonth", KLong),
      AttrMapping("begin_date_day", "label/startDay", KLong),
      AttrMapping("end_date_year", "label/endYear", KLong),
      AttrMapping("end_date_month", "label/endMonth", KLong),
      AttrMapping("end_date_day", "label/endDay", KLong)))

  val releasesArtists: EntityType = EntityType(
    name = "releases-artists",
    inFields = Seq(InField("release"), InField("artist")),
    mappings = Seq(
      AttrMapping("release", "release/gid", KHoist("release/gid")),
      AttrMapping("artist", "release/artists", KRefMap("artist/gid"))))

  val areleasesArtists: EntityType = EntityType(
    name = "areleases-artists",
    inFields = Seq(InField("release_group"), InField("artist")),
    mappings = Seq(
      AttrMapping("release_group", "abstractRelease/gid", KHoist("abstractRelease/gid")),
      AttrMapping("artist", "abstractRelease/artists", KRefMap("artist/gid"))))

  /** Media input: contiguous track rows sharing medium `:id`
    * (`importer.clj:236-247`); medium attrs from the first row, track
    * attrs per row, plus the composite track tempid `track-<id>-<tracknum>`
    * (`importer.clj:135,161-164`). */
  val mediumMappings: Seq[AttrMapping] = Seq(
    AttrMapping("release", "release/_media", KRevRef("release/gid")),
    AttrMapping("position", "medium/position", KLong),
    AttrMapping("track_count", "medium/trackCount", KLong),
    AttrMapping("format", "medium/format", KEnum("medium_format")))

  val trackMappings: Seq[AttrMapping] = Seq(
    AttrMapping("name", "track/name", KStr),
    AttrMapping("tracknum", "track/position", KLong),
    AttrMapping("length", "track/duration", KLong),
    AttrMapping("artist", "track/artists", KRefMap("artist/gid")))

  val mediaInFields: Seq[InField] = Seq(
    InField("id", isLong = true), InField("release"), InField("position", isLong = true),
    InField("track_count", isLong = true), InField("format"), InField("name"),
    InField("tracknum", isLong = true), InField("length", isLong = true),
    InField("artist"))

  val media: EntityType = EntityType("media", mediaInFields,
    mediumMappings ++ trackMappings)

  /** Import order (`importer.clj:40-44`). The reference needs it for FK
    * / upsert dependencies between types; graft's one-pass loader does
    * not (`pipeline.Loader`), but it fixes each type's tx range: batch
    * `<type>-n` is transacted at tx [[batchTx]]`(txRangeIndex(type), n)`
    * (`store.Datoms.batchDatoms`). */
  val importOrder: Seq[String] = Seq("schema", "enums", "super-enums",
    "artists", "areleases", "areleases-artists", "labels", "releases",
    "releases-artists", "media")

  /** Width of one type's tx range: an import type's batch numbers must
    * stay below it, or its txes would run into the next type's. */
  val txRange: Long = 1000000L

  /** A type's tx-range index: its place in [[importOrder]], or
    * `importOrder.size` for any other type (an update batch), so that
    * its txes lie above every import type's and a later update wins
    * over the imported value. */
  def txRangeIndex(tpe: String): Int = {
    val i = importOrder.indexOf(tpe)
    if (i < 0) importOrder.size else i
  }

  /** The tx of batch `<type>-n`, `typeIdx` being the type's
    * [[txRangeIndex]]: `typeIdx * txRange + n`. Fails when an import
    * type's `n` would leave its range. */
  def batchTx(typeIdx: Int, n: Long): Long = {
    require(typeIdx >= importOrder.size || n < txRange,
      s"an import type's batch number must be below $txRange, got $n")
    typeIdx * txRange + n
  }

  val batchIdAttr: String = "mbrainz.initial-import/batch-id"

  /** The super-enum dictionaries (`countries.edn`, …), in the order
    * their entities appear in the `super-enums` batch file
    * (importer.clj:198-201). */
  val superEnums: Seq[String] = Seq("countries", "langs", "scripts")

  val byName: Map[String, EntityType] = Seq(
    artists, areleases, releases, labels, releasesArtists, areleasesArtists, media
  ).map(t => t.name -> t).toMap
}
