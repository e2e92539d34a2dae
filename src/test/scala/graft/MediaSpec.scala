package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.edn.Edn
import graft.edn.Edn._
import graft.pipeline.Batcher
import graft.sources.EdnSource

/** Media assembly (A1 + P4, importer.clj:236-247): the entity file is
  * missing upstream (.MISSING_LARGE_BLOBS), so this synthesizes a
  * fixture per FIXTURES.md §A and asserts the assembly semantics:
  * contiguous grouping by :id, medium attrs from first row, reversed
  * track order (Clojure conj-onto-list), composite tempids coalescing
  * multi-artist tracks, format enum resolution. */
class MediaSpec extends AnyFunSuite {

  private def uuid(n: Int): String = f"00000000-0000-4000-8000-${n}%012d"

  test("media assembly end-to-end") {
    val spark = TestSpark.spark
    val base = EdnFixtures.basedir()
    val entities = base.resolve("entities")
    val media =
      s"""{:id 10, :release #uuid "${uuid(1)}", :position 1, :track_count 3, :format "CD",
         | :name "Track A", :tracknum 1, :length 180000, :artist #uuid "${uuid(2)}"}
         |{:id 10, :release #uuid "${uuid(1)}", :position 1, :track_count 3, :format "CD",
         | :name "Track B", :tracknum 2, :length 200000, :artist #uuid "${uuid(3)}"}
         |{:id 10, :release #uuid "${uuid(1)}", :position 1, :track_count 3, :format "CD",
         | :name "Track B", :tracknum 2, :length 200000, :artist #uuid "${uuid(4)}"}
         |{:id 20, :release #uuid "${uuid(5)}", :position 2, :track_count 1,
         | :name "Solo", :tracknum 1, :length 120000, :artist #uuid "${uuid(2)}"}
         |""".stripMargin
    java.nio.file.Files.write(entities.resolve("media.edn"),
      media.getBytes(java.nio.charset.StandardCharsets.UTF_8))

    val out = java.nio.file.Files.createTempDirectory("mediaout").toString
    val b = new Batcher(spark, base.toString, out, batchSize = 100)
    val nBatches = b.createBatchFile("media")
    assert(nBatches == 1L)

    val batches = Edn.parseAll(EdnSource.readText(s"$out/media.edn"))
    val data = batches(0).asInstanceOf[EMap].getKw("data").get.asInstanceOf[EVec].items
    assert(data.size == 2, "two media expected")

    val m10 = data(0).asInstanceOf[EMap]
    assert(m10.getKw("release/_media").contains(
      EVec(Vector(EKw("release", "gid"), EUuid(uuid(1))))))
    assert(m10.getKw("medium/position").contains(ELong(1)))
    assert(m10.getKw("medium/trackCount").contains(ELong(3)))
    assert(m10.getKw("medium/format").contains(EKw("medium.format", "cd")))
    val tracks10 = m10.getKw("medium/tracks").get.asInstanceOf[EVec].items.map(_.asInstanceOf[EMap])
    assert(tracks10.size == 3)
    // reversed input order: B(artist4), B(artist3), A(artist2)
    assert(tracks10.map(_.getKw("db/id").get) ==
      Vector(EStr("track-10-2"), EStr("track-10-2"), EStr("track-10-1")))
    assert(tracks10(0).getKw("track/artists").contains(
      EMap((EKw("artist", "gid"): Edn) -> (EUuid(uuid(4)): Edn))))
    assert(tracks10(2).getKw("track/name").contains(EStr("Track A")))
    assert(tracks10(2).getKw("track/position").contains(ELong(1)))
    assert(tracks10(2).getKw("track/duration").contains(ELong(180000)))

    val m20 = data(1).asInstanceOf[EMap]
    assert(m20.getKw("medium/format").isEmpty, "no format given → attr absent")
    assert(m20.getKw("medium/tracks").get.asInstanceOf[EVec].items.size == 1)
  }

  test("strict enum miss fails the import") {
    val spark = TestSpark.spark
    val base = EdnFixtures.basedir()
    val out = java.nio.file.Files.createTempDirectory("mediabadout")
    val b = new Batcher(spark, base.toString, out.toString, batchSize = 100)
    def track(id: Int, format: String) =
      s"""{:id $id, :release #uuid "${uuid(1)}", :position 1, :track_count 1,
         | :format "$format", :name "X", :tracknum 1, :length 1000,
         | :artist #uuid "${uuid(2)}"}""".stripMargin
    def artist(n: Int, country: String) =
      s"""{:gid #uuid "${uuid(n)}", :name "A$n", :sortname "A$n", :country "$country"}"""
    // (type, forms that resolve, a last form that misses, its attr and raw value):
    // an enum miss, a super-enum miss, and an input of another enum
    // class ("Male" is a gender, not an artist type)
    val maleType = s"""{:gid #uuid "${uuid(3)}", :name "A3", :sortname "A3", :type "Male", :country "GB"}"""
    Seq(("media", Seq(track(1, "CD"), track(2, "Vinyl")), track(3, "NotAFormat"), "medium/format", "NotAFormat"),
      ("artists", Seq(artist(1, "GB"), artist(2, "US")), artist(3, "ZZ"), "artist/country", "ZZ"),
      ("artists", Seq(artist(1, "GB"), artist(2, "US")), maleType, "artist/type", "Male"))
      .foreach { case (tpe, good, miss, attr, value) =>
        def input(forms: Seq[String]) = java.nio.file.Files.write(base.resolve(s"entities/$tpe.edn"),
          forms.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        input(good)
        assert(b.createBatchFile(tpe) == 1L)
        val dest = out.resolve(s"$tpe.edn")
        val before = java.nio.file.Files.readAllBytes(dest)
        // a rerun whose input misses on its last form fails and leaves
        // the previous batch file as it was
        input(good :+ miss)
        val ex = intercept[IllegalStateException](b.createBatchFile(tpe))
        assert(ex.getMessage.contains(attr), ex.getMessage)
        assert(ex.getMessage.contains(value), ex.getMessage)
        assert(java.nio.file.Files.readAllBytes(dest).sameElements(before), tpe)
        assert(!java.nio.file.Files.exists(out.resolve(s"$tpe.edn.stage")), tpe)
      }
  }
}
