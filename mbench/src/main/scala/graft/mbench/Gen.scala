package graft.mbench

import java.io.{BufferedWriter, File, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable

/** Seeded, mbrainz-shaped entity EDN generator.
  *
  * Writes `<dir>/entities/` with the seven entity files the importer
  * reads (artists, areleases, areleases-artists, labels, releases,
  * releases-artists, media), the four dictionaries (`enums.edn`,
  * `countries.edn`, `langs.edn`, `scripts.edn`) and a `schema.edn`
  * matching the attribute mappings of `graft.model.Mbrainz`.
  *
  * Row proportions follow the reference sample (artists 4,601,
  * areleases 10,180, releases 11,510, labels 1,207, releases-artists
  * 11,806, areleases-artists 10,544; dictionaries 257 / 7,777 / 159;
  * 59 enum values) times `scale`. Media is synthesized: 1–3 media per
  * release, 5–20 tracks per medium, a few percent of multi-artist
  * tracks, so tracks hold most of the datoms.
  *
  * Shapes covered: `#uuid` literals, enum and dictionary codes that all
  * resolve, date triples, edge lists with skewed artist degree, media
  * runs sharing `:id` with multi-artist tracks, and forms that span
  * lines. The same (seed, scale) always produces byte-identical files;
  * the returned [[Gen.Truth]] is what the checks compare against.
  */
object Gen {

  final case class Track(num: Int, name: String, durationMs: Long, artists: Vector[Int])
  final case class Medium(id: Long, position: Int, formatIdent: String, tracks: Vector[Track])
  final case class Release(gid: String, name: String, year: Option[Long], arelease: Int,
      label: Option[Int])

  /** The generator's own tables: everything a check needs to predict. */
  final case class Truth(
      seed: Long,
      scale: Double,
      artistGids: Vector[String],
      artistNames: Vector[String],
      areleaseGids: Vector[String],
      areleaseNames: Vector[String],
      labelGids: Vector[String],
      labelNames: Vector[String],
      releases: Vector[Release],
      releaseArtists: Vector[Vector[Int]],   // per release, edge-file order
      areleaseArtists: Vector[Vector[Int]],  // per arelease
      media: Vector[Vector[Medium]],         // per release
      nSchemaAttrs: Int,
      nEnumValues: Int,
      nDictEntries: Int,
      rowsPerType: Map[String, Long],
      ednBytes: Long) {

    def nTracks: Long = media.iterator.flatten.map(_.tracks.size.toLong).sum
    def nMedia: Long = media.iterator.map(_.size.toLong).sum

    /** Every (attr, value) of the fulltext-indexed attributes, one per
      * entity — the corpus `Explore.fulltext` searches. */
    def fulltextValues: Iterator[(String, String)] =
      artistNames.iterator.map("artist/name" -> _) ++
        areleaseNames.iterator.map("abstractRelease/name" -> _) ++
        labelNames.iterator.map("label/name" -> _) ++
        releases.iterator.map(r => "release/name" -> r.name) ++
        media.iterator.flatten.flatMap(_.tracks).map(t => "track/name" -> t.name)
  }

  // ── dictionaries ──────────────────────────────────────────────────
  /** enum class → (input string, ident namespace); 59 values in all. */
  val enumClasses: Seq[(String, String, Seq[String])] = Seq(
    ("gender", "artist.gender", Seq("Male", "Female", "Other")),
    ("artist_type", "artist.type",
      Seq("Person", "Group", "Orchestra", "Choir", "Character", "Other")),
    ("release_group_type", "release.type", Seq("Album", "Single", "EP", "Audiobook", "Other",
      "Compilation", "Soundtrack", "Spokenword", "Interview", "Live", "Remix")),
    ("release_packaging", "release.packaging", Seq("Jewel Case", "Slim Jewel Case", "Digipak",
      "Cardboard/Paper Sleeve", "Other", "Keep Case", "None", "Gatefold Cover",
      "Discbox Slider", "Fatbox")),
    ("medium_format", "medium.format", Seq("CD", "DVD", "SACD", "DualDisc", "LaserDisc",
      "MiniDisc", "Vinyl", "Cassette", "Cartridge", "Reel-to-reel", "DAT", "Digital Media",
      "Other", "Wax Cylinder", "Piano Roll", "DCC", "7\" Vinyl", "10\" Vinyl", "12\" Vinyl",
      "VHS", "Video CD", "SVCD", "HD-DVD")),
    ("label_type", "label.type", Seq("Distributor", "Holding", "Production",
      "Original Production", "Bootleg Production", "Reissue Production")))

  /** Keyword name for an enum input: lowercase alphanumerics, leading
    * digits moved to the end (`7" Vinyl` → `vinyl7`). */
  def enumName(in: String): String = {
    val s = in.toLowerCase.filter(_.isLetterOrDigit)
    val digits = s.takeWhile(_.isDigit)
    s.drop(digits.length) + digits
  }

  private def enumValues(cls: String): Seq[String] = enumClasses.find(_._1 == cls).get._3

  private def letters(i: Int, width: Int): String = {
    val sb = new StringBuilder
    var n = i
    (0 until width).foreach { _ => sb.insert(0, ('a' + n % 26).toChar); n /= 26 }
    sb.toString
  }

  // ── schema ────────────────────────────────────────────────────────
  private sealed trait Flag
  private case object Many extends Flag
  private case object Identity extends Flag
  private case object UniqueValue extends Flag
  private case object Fulltext extends Flag
  private case object Component extends Flag

  private val dateAttrs = Seq("startYear", "startMonth", "startDay", "endYear", "endMonth", "endDay")

  /** Attribute definitions derived from the `Mbrainz` mappings. */
  private val schemaAttrs: Seq[(String, String, Seq[Flag])] =
    Seq(("artist/gid", "uuid", Seq(Identity)), ("artist/name", "string", Seq(Fulltext)),
      ("artist/sortName", "string", Nil), ("artist/type", "ref", Nil),
      ("artist/gender", "ref", Nil), ("artist/country", "ref", Nil)) ++
    dateAttrs.map(d => (s"artist/$d", "long", Nil)) ++
    Seq(("abstractRelease/gid", "uuid", Seq(Identity)),
      ("abstractRelease/name", "string", Seq(Fulltext)),
      ("abstractRelease/type", "ref", Nil),
      ("abstractRelease/artists", "ref", Seq(Many)),
      ("abstractRelease/artistCredit", "string", Nil),
      ("release/gid", "uuid", Seq(Identity)), ("release/name", "string", Seq(Fulltext)),
      ("release/artists", "ref", Seq(Many)), ("release/abstractRelease", "ref", Nil),
      ("release/labels", "ref", Seq(Many)), ("release/media", "ref", Seq(Many, Component)),
      ("release/packaging", "ref", Nil), ("release/status", "string", Nil),
      ("release/country", "ref", Nil), ("release/language", "ref", Nil),
      ("release/script", "ref", Nil), ("release/barcode", "string", Nil),
      ("release/year", "long", Nil), ("release/month", "long", Nil),
      ("release/day", "long", Nil), ("release/artistCredit", "string", Nil),
      ("label/gid", "uuid", Seq(Identity)), ("label/name", "string", Seq(Fulltext)),
      ("label/sortName", "string", Nil), ("label/type", "ref", Nil),
      ("label/country", "ref", Nil)) ++
    dateAttrs.map(d => (s"label/$d", "long", Nil)) ++
    Seq(("medium/tracks", "ref", Seq(Many, Component)), ("medium/format", "ref", Nil),
      ("medium/position", "long", Nil), ("medium/trackCount", "long", Nil),
      ("medium/name", "string", Seq(Fulltext)),
      ("track/artists", "ref", Seq(Many)), ("track/position", "long", Nil),
      ("track/duration", "long", Nil), ("track/name", "string", Seq(Fulltext)),
      ("track/artistCredit", "string", Nil),
      ("country/name", "string", Seq(UniqueValue)),
      ("language/name", "string", Seq(UniqueValue)),
      ("script/name", "string", Seq(UniqueValue)))

  /** The identity attribute per entity file, for the count checks. */
  val gidAttr: Map[String, String] = Map("artists" -> "artist/gid",
    "areleases" -> "abstractRelease/gid", "labels" -> "label/gid", "releases" -> "release/gid")

  private def schemaEdn: String = schemaAttrs.map { case (ident, vt, flags) =>
    val parts = Seq(s":db/ident :$ident", s":db/valueType :db.type/$vt",
      ":db/cardinality :db.cardinality/" + (if (flags.contains(Many)) "many" else "one")) ++
      (if (flags.contains(Identity)) Seq(":db/unique :db.unique/identity") else Nil) ++
      (if (flags.contains(UniqueValue)) Seq(":db/unique :db.unique/value") else Nil) ++
      (if (flags.contains(Fulltext)) Seq(":db/fulltext true") else Nil) ++
      (if (flags.contains(Component)) Seq(":db/isComponent true") else Nil) :+
      s""":db/doc "The ${ident.replace('/', ' ')} attribute""""
    parts.mkString(" {", ",\n  ", "}")
  }.mkString("[\n", "\n", "\n]\n")

  // ── names ─────────────────────────────────────────────────────────
  private val syllables = Seq("ka", "lo", "mi", "ren", "tu", "sa", "vel", "dor", "ni", "qua",
    "bel", "zan", "fi", "gor", "hal", "jun", "mor", "pel", "ris", "tor")
  /** 400 two-syllable words; drawn with a squared-uniform index, so a
    * few words are common and most are rare (fulltext results range
    * from a handful of rows to thousands). */
  val words: Vector[String] =
    (for (a <- syllables; b <- syllables) yield a + b).toVector

  final class Rng(seed: Long) {
    private val r = new java.util.SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def chance(p: Double): Boolean = r.nextDouble() < p
    def double(): Double = r.nextDouble()
    /** Skewed index in [0, n): low indices are drawn far more often. */
    def skewed(n: Int, power: Double): Int =
      math.min(n - 1, (n * math.pow(r.nextDouble(), power)).toInt)
    def uuid(): String = {
      val hi = (r.nextLong() & ~0xF000L) | 0x4000L
      val lo = (r.nextLong() & 0x3FFFFFFFFFFFFFFFL) | Long.MinValue
      new java.util.UUID(hi, lo).toString
    }
    def word(): String = words(skewed(words.size, 2.0))
    def name(nWords: Int): String =
      (1 to nWords).map(_ => word().capitalize).mkString(" ")
  }

  private def n(base: Int, scale: Double, min: Int): Int = math.max(min, math.round(base * scale).toInt)

  // ── writer ────────────────────────────────────────────────────────
  /** Writes entity EDN forms, one per line, every `spanEvery`-th form
    * spread over several lines (entries separated by newlines). */
  private final class FormWriter(f: File) {
    private val w = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(f.toPath), StandardCharsets.UTF_8), 1 << 16)
    private var count = 0L
    def form(entries: Seq[(String, String)]): Unit = {
      val sep = if (count % 13 == 7) ",\n " else ", "
      w.write(entries.map { case (k, v) => s":$k $v" }.mkString("{", sep, "}"))
      w.write('\n')
      count += 1
    }
    def raw(s: String): Unit = w.write(s)
    def close(): Unit = w.close()
  }

  private def str(s: String): String = "\"" + graft.edn.Edn.escape(s) + "\""
  private def uuidLit(u: String): String = "#uuid \"" + u + "\""

  /** Generate every input file under `<dir>/entities`. */
  def write(dir: String, seed: Long, scale: Double): Truth = {
    val ent = new File(dir, "entities")
    ent.mkdirs()
    val rng = new Rng(seed)

    val nArtists = n(4601, scale, 20)
    val nAreleases = n(10180, scale, 30)
    val nReleases = n(11510, scale, 30)
    val nLabels = n(1207, scale, 5)
    val nRelArtists = math.max(nReleases, n(11806, scale, 30))
    val nArelArtists = math.max(nAreleases, n(10544, scale, 30))
    val nCountries = n(257, scale, 20)
    val nLangs = n(7777, scale, 20)
    val nScripts = n(159, scale, 8)

    val countries = (0 until nCountries).map(i => letters(i, 2).toUpperCase)
    val langs = (0 until nLangs).map(i => letters(i, 3))
    val scripts = (0 until nScripts).map(i => letters(i, 4).capitalize)

    // dictionaries
    val enumW = new FormWriter(new File(ent, "enums.edn"))
    enumW.raw(enumClasses.map { case (cls, ns, vals) =>
      cls + " " + vals.map(v => s"${str(v)} :$ns/${enumName(v)}").mkString("{", ",\n  ", "}")
    }.mkString("{", ",\n ", "}\n"))
    enumW.close()
    def dict(file: String, ns: String, codes: Seq[String]): Unit = {
      val w = new FormWriter(new File(ent, file))
      w.raw(codes.map { c =>
        s"${str(c)} {:db/ident :$ns/$c, :$ns/name ${str(s"$ns $c")}}"
      }.mkString("{", ",\n ", "}\n"))
      w.close()
    }
    dict("countries.edn", "country", countries)
    dict("langs.edn", "language", langs)
    dict("scripts.edn", "script", scripts)
    Files.write(new File(ent, "schema.edn").toPath, schemaEdn.getBytes(StandardCharsets.UTF_8))

    def opt[T](p: Double)(v: => T): Option[T] = if (rng.chance(p)) Some(v) else None
    def dates(prefix: String): Seq[(String, String)] = {
      val y = rng.between(1900, 2000)
      Seq(s"${prefix}_year" -> y.toString, s"${prefix}_month" -> rng.between(1, 12).toString,
        s"${prefix}_day" -> rng.between(1, 28).toString)
    }

    // artists
    val artistGids = Vector.fill(nArtists)(rng.uuid())
    val artistNames = Vector.fill(nArtists)(rng.name(rng.between(1, 3)))
    val aw = new FormWriter(new File(ent, "artists.edn"))
    (0 until nArtists).foreach { i =>
      val e = Seq("gid" -> uuidLit(artistGids(i)), "name" -> str(artistNames(i)),
        "sortname" -> str(artistNames(i).split(' ').reverse.mkString(", "))) ++
        opt(0.9)("type" -> str(enumValues("artist_type")(rng.int(6)))) ++
        opt(0.7)("gender" -> str(enumValues("gender")(rng.int(3)))) ++
        opt(0.8)("country" -> str(countries(rng.skewed(nCountries, 2.0)))) ++
        (if (rng.chance(0.6)) dates("begin_date") else Nil) ++
        (if (rng.chance(0.2)) dates("end_date") else Nil)
      aw.form(e)
    }
    aw.close()

    // labels
    val labelGids = Vector.fill(nLabels)(rng.uuid())
    val labelNames = Vector.fill(nLabels)(rng.name(rng.between(1, 2)) + " Records")
    val lw = new FormWriter(new File(ent, "labels.edn"))
    (0 until nLabels).foreach { i =>
      lw.form(Seq("gid" -> uuidLit(labelGids(i)), "name" -> str(labelNames(i)),
        "sort_name" -> str(labelNames(i))) ++
        opt(0.8)("type" -> str(enumValues("label_type")(rng.int(6)))) ++
        opt(0.8)("country" -> str(countries(rng.skewed(nCountries, 2.0)))) ++
        (if (rng.chance(0.5)) dates("begin_date") else Nil) ++
        (if (rng.chance(0.1)) dates("end_date") else Nil))
    }
    lw.close()

    // abstract releases + their artist edges (skewed artist degree)
    val areleaseGids = Vector.fill(nAreleases)(rng.uuid())
    val areleaseNames = Vector.fill(nAreleases)(rng.name(rng.between(1, 3)))
    def edges(nEnt: Int, nEdges: Int): Vector[Vector[Int]] = {
      val sets = Array.fill(nEnt)(mutable.LinkedHashSet.empty[Int])
      (0 until nEnt).foreach(i => sets(i) += rng.skewed(nArtists, 3.0))
      var extra = nEdges - nEnt
      var guard = 0
      while (extra > 0 && guard < nEdges * 10) {
        if (sets(rng.int(nEnt)).add(rng.skewed(nArtists, 3.0))) extra -= 1
        guard += 1
      }
      sets.map(_.toVector).toVector
    }
    val areleaseArtists = edges(nAreleases, nArelArtists)
    val arw = new FormWriter(new File(ent, "areleases.edn"))
    (0 until nAreleases).foreach { i =>
      arw.form(Seq("gid" -> uuidLit(areleaseGids(i)), "name" -> str(areleaseNames(i)),
        "artist_credit" -> str(areleaseArtists(i).map(artistNames).mkString(" & "))) ++
        opt(0.9)("type" -> str(enumValues("release_group_type")(rng.int(11)))))
    }
    arw.close()
    val araw = new FormWriter(new File(ent, "areleases-artists.edn"))
    areleaseArtists.zipWithIndex.foreach { case (as, i) =>
      as.foreach(a => araw.form(Seq("release_group" -> uuidLit(areleaseGids(i)),
        "artist" -> uuidLit(artistGids(a)))))
    }
    araw.close()

    // releases
    val relArtists = edges(nReleases, nRelArtists)
    val releases = Vector.tabulate(nReleases) { _ =>
      Release(rng.uuid(), rng.name(rng.between(1, 3)),
        opt(0.9)(rng.between(1950, 2020).toLong), rng.int(nAreleases),
        opt(0.8)(rng.skewed(nLabels, 2.0)))
    }
    val rw = new FormWriter(new File(ent, "releases.edn"))
    releases.zipWithIndex.foreach { case (r, i) =>
      rw.form(Seq("gid" -> uuidLit(r.gid),
        "artist_credit" -> str(relArtists(i).map(artistNames).mkString(" & ")),
        "name" -> str(r.name)) ++
        r.label.map(l => "label" -> uuidLit(labelGids(l))) ++
        opt(0.7)("packaging" -> str(enumValues("release_packaging")(rng.int(10)))) ++
        Seq("status" -> str(if (rng.chance(0.9)) "Official" else "Promotion")) ++
        opt(0.8)("country" -> str(countries(rng.skewed(nCountries, 2.0)))) ++
        opt(0.8)("language" -> str(langs(rng.skewed(nLangs, 3.0)))) ++
        opt(0.8)("script" -> str(scripts(rng.skewed(nScripts, 3.0)))) ++
        opt(0.5)("barcode" -> str(f"${rng.int(1000000)}%06d${rng.int(1000000)}%06d")) ++
        r.year.toSeq.flatMap(y => Seq("date_year" -> y.toString,
          "date_month" -> rng.between(1, 12).toString, "date_day" -> rng.between(1, 28).toString)) ++
        Seq("release_group" -> uuidLit(areleaseGids(r.arelease)),
          "acid" -> rng.int(100000).toString))
    }
    rw.close()
    val raw = new FormWriter(new File(ent, "releases-artists.edn"))
    relArtists.zipWithIndex.foreach { case (as, i) =>
      as.foreach(a => raw.form(Seq("release" -> uuidLit(releases(i).gid),
        "artist" -> uuidLit(artistGids(a)))))
    }
    raw.close()

    // media: contiguous track rows sharing a medium :id; a multi-artist
    // track repeats its row once per artist
    val formats = enumValues("medium_format")
    var mediumId = 0L
    val mw = new FormWriter(new File(ent, "media.edn"))
    val media = releases.indices.map { ri =>
      val nMedia = { val u = rng.double(); if (u < 0.7) 1 else if (u < 0.9) 2 else 3 }
      (1 to nMedia).map { pos =>
        mediumId += 1
        val format = formats(rng.skewed(formats.size, 2.0))
        val nTracks = rng.between(5, 20)
        val main = relArtists(ri).head
        val tracks = (1 to nTracks).map { tn =>
          val artists =
            if (rng.chance(0.04)) Vector(main, (main + 1 + rng.int(nArtists - 1)) % nArtists)
            else Vector(main)
          Track(tn, rng.name(rng.between(1, 4)), rng.between(60000, 600000).toLong, artists)
        }.toVector
        tracks.foreach { t =>
          t.artists.foreach { a =>
            mw.form(Seq("id" -> mediumId.toString, "release" -> uuidLit(releases(ri).gid),
              "position" -> pos.toString, "track_count" -> nTracks.toString,
              "format" -> str(format), "name" -> str(t.name), "tracknum" -> t.num.toString,
              "length" -> t.durationMs.toString, "artist" -> uuidLit(artistGids(a))))
          }
        }
        Medium(mediumId, pos, s"medium.format/${enumName(format)}", tracks)
      }.toVector
    }.toVector
    mw.close()

    val ednBytes = ent.listFiles().filter(_.isFile).map(_.length()).sum
    Truth(seed, scale, artistGids, artistNames, areleaseGids, areleaseNames, labelGids,
      labelNames, releases, relArtists, areleaseArtists, media,
      nSchemaAttrs = schemaAttrs.size, nEnumValues = enumClasses.map(_._3.size).sum,
      nDictEntries = nCountries + nLangs + nScripts,
      rowsPerType = Map(
        "schema" -> schemaAttrs.size.toLong,
        "enums" -> enumClasses.map(_._3.size).sum.toLong,
        "super-enums" -> (nCountries + nLangs + nScripts).toLong,
        "artists" -> nArtists.toLong, "areleases" -> nAreleases.toLong,
        "areleases-artists" -> areleaseArtists.map(_.size.toLong).sum,
        "labels" -> nLabels.toLong, "releases" -> nReleases.toLong,
        "releases-artists" -> relArtists.map(_.size.toLong).sum,
        "media" -> mediumId),
      ednBytes = ednBytes)
  }

  /** Input rows the entity files hold (media counts track rows). */
  def entityRows(t: Truth): Long =
    Seq("artists", "areleases", "areleases-artists", "labels", "releases", "releases-artists")
      .map(t.rowsPerType).sum + t.media.iterator.flatten.flatMap(_.tracks)
      .map(_.artists.size.toLong).sum
}
