package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.edn.Edn
import graft.edn.Edn._
import graft.model.Mbrainz
import graft.ops.EdnRender
import graft.pipeline.Batcher
import graft.sources.EdnSource
import EdnFixtures.uuid

/** The batcher on inline input files: every type's batch file is its
  * ordered stream of tx-data forms cut every `batchSize` forms, with
  * batch ids `<type>-1…`. */
class BatcherSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Writes `tpe`'s batch file from a fresh fixture base holding
    * `files`; returns the count `createBatchFile` reported and the
    * (batch id, data) of each line of the file. */
  private def batch(size: Int, tpe: String, files: (String, String)*): (Long, Seq[(String, Vector[Edn])]) = {
    val out = java.nio.file.Files.createTempDirectory("batcherspec").toString
    val n = new Batcher(spark, EdnFixtures.basedir(files: _*).toString, out, size).createBatchFile(tpe)
    val lines = EdnSource.readText(s"$out/$tpe.edn").split('\n').toSeq.filter(_.nonEmpty)
    (n, lines.map { line =>
      val m = Edn.parse(line).asInstanceOf[EMap]
      (m.getKw("batch-ident").get.asInstanceOf[EMap].getKw(Mbrainz.batchIdAttr).get.asInstanceOf[EStr].value,
        m.getKw("data").get.asInstanceOf[EVec].items)
    })
  }

  private def attr(form: Edn, name: String): Edn = form.asInstanceOf[EMap].getKw(name).get

  private def artist(i: Int): String =
    s"""{:gid #uuid "${uuid(i)}", :name "Artist $i", :sortname "$i, Artist", :gender "Male", :country "GB"}"""

  test("entity rows fill k full batches, and one more for the k·size+1-th row") {
    Seq(6 -> 2, 7 -> 3).foreach { case (n, k) =>
      val (written, batches) = batch(3, "artists", "artists.edn" -> (1 to n).map(artist).mkString("\n"))
      assert(written == k)
      assert(batches.map(_._1) == (1 to k).map(i => s"artists-$i"))
      assert(batches.map(_._2.size) == Seq.fill(n / 3)(3) ++ Seq(n % 3).filter(_ > 0))
      val data = batches.flatMap(_._2)
      assert(data.map(attr(_, "artist/gid")) == (1 to n).map(i => EUuid(uuid(i))))
      assert(attr(data.head, "artist/gender") == EKw("artist.gender", "male"))
      assert(attr(data.head, "artist/country") == EKw("country", "GB"))
    }
  }

  test("a form that spans lines is one form, in its place") {
    val spanning =
      s"""{:gid #uuid "${uuid(2)}",
         | :name "Artist 2",
         | :sortname "2, Artist"}""".stripMargin
    val (written, batches) = batch(2, "artists",
      "artists.edn" -> Seq(artist(1), spanning, artist(3)).mkString("\n"))
    assert(written == 2)
    assert(batches.map(_._2.size) == Seq(2, 1))
    val data = batches.flatMap(_._2)
    assert(data.map(attr(_, "artist/gid")) == (1 to 3).map(i => EUuid(uuid(i))))
    assert(attr(data(1), "artist/name") == EStr("Artist 2"))
  }

  test("dictionary types chunk the schema, enum and super-enum forms in file order") {
    def idents(tpe: String, size: Int, n: Int): Seq[String] = {
      val (written, batches) = batch(size, tpe)
      assert(written == (n + size - 1) / size)
      assert(batches.map(_._1) == (1 to written.toInt).map(i => s"$tpe-$i"))
      assert(batches.init.forall(_._2.size == size))
      batches.flatMap(_._2).map(f => attr(f, "db/ident").asInstanceOf[EKw].qualified)
    }
    val schemaIdents = idents("schema", 5, 13)
    assert(schemaIdents.take(3) == Seq("artist/gid", "artist/name", "release/gid"))
    assert(schemaIdents.last == "track/name")
    assert(idents("enums", 2, 9) == Seq("artist.gender/male", "artist.gender/female",
      "artist.type/person", "artist.type/group", "release.type/album", "release.packaging/jewelcase",
      "medium.format/cd", "medium.format/vinyl", "label.type/originalproduction"))
    assert(idents("super-enums", 2, 5) ==
      Seq("country/GB", "country/US", "language/eng", "script/Latn", "script/Cyrl"))
    val (_, enums) = batch(100, "enums")
    assert(enums.head._2.head == Edn.parse("{:db/ident :artist.gender/male, :artist.gender/name \"Male\"}"))
  }

  test("media keep file order across batch boundaries") {
    // medium ids out of order, so neither id nor hash order is file order
    val ids = Seq(50, 10, 40, 20, 30)
    val rows = ids.zipWithIndex.flatMap { case (id, m) =>
      (1 to 2).map { tn =>
        s"""{:id $id, :release #uuid "${uuid(m)}", :position 1, :track_count 2, :format "Vinyl",
           | :name "Track $id-$tn", :tracknum $tn, :length 1000, :artist #uuid "${uuid(100 + m)}"}""".stripMargin
      }
    }
    val (written, batches) = batch(2, "media", "media.edn" -> rows.mkString("\n"))
    assert(written == 3)
    assert(batches.map(_._1) == Seq("media-1", "media-2", "media-3"))
    assert(batches.map(_._2.size) == Seq(2, 2, 1))
    val media = batches.flatMap(_._2)
    assert(media.map(attr(_, "release/_media")) ==
      ids.indices.map(m => EVec(Vector(EKw("release", "gid"), EUuid(uuid(m))))))
    // tracks in reversed input order within each medium
    assert(media.map(m => attr(m, "medium/tracks").asInstanceOf[EVec].items.map(attr(_, "track/name"))) ==
      ids.map(id => Vector(EStr(s"Track $id-2"), EStr(s"Track $id-1"))))
    // no media: no batch, and an empty batch file
    assert(batch(2, "media", "media.edn" -> "") == (0L, Nil))
  }

  test("runAll writes the types whose source file exists") {
    val out = java.nio.file.Files.createTempDirectory("batcherspecall").toString
    val base = EdnFixtures.basedir("artists.edn" -> artist(1)).toString
    val written = new Batcher(spark, base, out, 100).runAll(Seq("enums", "super-enums", "artists", "media"))
    assert(written == Map("enums" -> 1L, "super-enums" -> 1L, "artists" -> 1L))
    assert(!new java.io.File(s"$out/media.edn").exists())
  }

  test("runAll resolves a file: URI basedir and outDir like plain paths") {
    val types = Seq("enums", "super-enums", "artists", "media")
    val base = EdnFixtures.basedir("artists.edn" -> artist(1)).toString
    val plainOut = java.nio.file.Files.createTempDirectory("batcherspecplain").toString
    val uriOut = java.nio.file.Files.createTempDirectory("batcherspecuri").toString + "/out"
    val plain = new Batcher(spark, base, plainOut, 100).runAll(types)
    val uri = new Batcher(spark, "file:" + base, "file:" + uriOut, 100).runAll(types)
    assert(plain == Map("enums" -> 1L, "super-enums" -> 1L, "artists" -> 1L))
    assert(uri == plain)
    plain.keys.foreach { t =>
      assert(EdnSource.readText(s"$uriOut/$t.edn") == EdnSource.readText(s"$plainOut/$t.edn"), t)
    }
  }

  test("createBatchFile reads an entity file once: records read equal its forms") {
    val out = java.nio.file.Files.createTempDirectory("batcherspecreads").toString
    val b = new Batcher(spark, MbrainzFixture.basedir, out, 100)
    Seq("artists", "media").foreach { tpe =>
      val (_, _, counters) = QueryMetrics.measure(spark)(b.createBatchFile(tpe))
      assert(counters.inputRows == MbrainzFixture.forms(tpe), tpe)
    }
  }

  /** The full fixture's batch files, one `createBatchFile` per type,
    * and their bytes by type. */
  private lazy val perType: (String, Map[String, Array[Byte]]) = {
    val out = java.nio.file.Files.createTempDirectory("batcherspecpertype").toString
    val b = new Batcher(spark, MbrainzFixture.basedir, out, 100)
    Mbrainz.importOrder.foreach(b.createBatchFile)
    (out, Mbrainz.importOrder.map(t => t -> bytes(s"$out/$t.edn")).toMap)
  }

  private def bytes(path: String): Array[Byte] = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))

  private val entityFiles = Seq("artists", "areleases", "areleases-artists", "labels", "releases",
    "releases-artists", "media")

  test("runAll's concurrent jobs write the files createBatchFile writes, reading each entity file once") {
    val out = java.nio.file.Files.createTempDirectory("batcherspecrunall").toString
    val b = new Batcher(spark, MbrainzFixture.basedir, out, 100)
    val (written, _, counters) = QueryMetrics.measure(spark)(b.runAll())
    assert(written.keySet == Mbrainz.importOrder.toSet)
    Mbrainz.importOrder.foreach { t =>
      assert(bytes(s"$out/$t.edn").sameElements(perType._2(t)), t)
    }
    assert(counters.inputRows == entityFiles.map(MbrainzFixture.forms).sum)
  }

  /** A copy of the full fixture's base whose entity file `<type>.edn`
    * ends with `form`, for each `(type, form)`. */
  private def fixtureWith(appended: (String, String)*): java.nio.file.Path = {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val base = Files.createTempDirectory("batcherspecmiss")
    Files.createDirectory(base.resolve("entities"))
    Files.list(Paths.get(MbrainzFixture.basedir, "entities")).forEach { f =>
      Files.copy(f, base.resolve("entities").resolve(f.getFileName))
    }
    appended.foreach { case (tpe, form) =>
      Files.write(base.resolve(s"entities/$tpe.edn"), s"\n$form\n".getBytes(java.nio.charset.StandardCharsets.UTF_8),
        StandardOpenOption.APPEND)
    }
    base
  }

  /** An artist whose country is in no dictionary: a super-enum miss. */
  private val artistMiss = s"""{:gid #uuid "${uuid(999)}", :name "Z", :sortname "Z", :country "ZZ"}"""

  test("a failed type under runAll: the others commit, its old file stays, no stage or pool thread is left") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = fixtureWith("artists" -> artistMiss)
    val out = Files.createTempDirectory("batcherspecmissout")
    val previous = out.resolve("artists.edn")
    Files.copy(Paths.get(perType._1, "artists.edn"), previous, StandardCopyOption.REPLACE_EXISTING)

    val ex = intercept[IllegalStateException](new Batcher(spark, base.toString, out.toString, 100).runAll())
    assert(ex.getMessage.contains("artist/country"), ex.getMessage)
    assert(ex.getMessage.contains("ZZ"), ex.getMessage)
    Mbrainz.importOrder.filter(_ != "artists").foreach { t =>
      assert(bytes(s"$out/$t.edn").sameElements(perType._2(t)), t)
    }
    assert(bytes(previous.toString).sameElements(perType._2("artists")))
    val stages = Files.walk(out).filter(_.getFileName.toString.endsWith(".stage")).count()
    assert(stages == 0)
    val pool = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(_.getName.startsWith(Batcher.threadPrefix))
    pool.foreach(_.join(10000))
    assert(pool.forall(!_.isAlive), pool.filter(_.isAlive).map(_.getName).mkString(", "))
  }

  test("two failed types under runAll: the first in import order is thrown, the other suppressed") {
    val t = MbrainzFixture.truth
    val mediaMiss = s"""{:id 999999, :release #uuid "${t.releases.head.gid}", :position 99, :track_count 1,
       | :format "NotAFormat", :name "X", :tracknum 1, :length 1000,
       | :artist #uuid "${t.artistGids.head}"}""".stripMargin.replace("\n", "")
    val base = fixtureWith("artists" -> artistMiss, "media" -> mediaMiss)
    val out = java.nio.file.Files.createTempDirectory("batcherspectwomissout").toString
    val ex = intercept[IllegalStateException](new Batcher(spark, base.toString, out, 100).runAll())
    assert(ex.getMessage.contains("artist/country"), ex.getMessage)
    val suppressed = ex.getSuppressed.toSeq
    assert(suppressed.size == 1, suppressed.mkString("; "))
    assert(suppressed.head.isInstanceOf[IllegalStateException], suppressed.head)
    assert(suppressed.head.getMessage.contains("medium/format"), suppressed.head.getMessage)
    assert(suppressed.head.getMessage.contains("NotAFormat"), suppressed.head.getMessage)
  }

  test("batchIdOf reads the id of every batchLine and of nothing else") {
    val a = Mbrainz.batchIdAttr
    Seq("artists-1", "releases-artists-117", "import-schema-1", "x").foreach { id =>
      Seq(Nil, Seq("{:a 1}"), Seq("{:a \"q\"}", "{:b 2}")).foreach { data =>
        assert(EdnRender.batchIdOf(a, EdnRender.batchLine(a, id, data)).contains(id))
      }
    }
    Seq(
      "{:data [], :batch-ident {:db/id \"datomic.tx\", :" + a + " \"a-1\"}}",
      EdnRender.batchLine("other/batch-id", "a-1", Nil),
      " " + EdnRender.batchLine(a, "a-1", Nil),
      EdnRender.batchLine(a, "", Nil),
      "").foreach { line => assert(EdnRender.batchIdOf(a, line).isEmpty, line) }
  }
}
