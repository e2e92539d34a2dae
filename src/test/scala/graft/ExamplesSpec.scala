package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{Mbrainz, SchemaRegistry}
import graft.ops.Validate
import graft.sources.EdnSource

/** Transcript-style tests mirroring the reference's five example REPL
  * scripts (`examples/` in the reference repo) — the de-facto
  * transcriptor suite (SURVEY §5.2) — on the generated mbrainz input
  * ([[MbrainzFixture]]). create/load/explore are covered
  * end-to-end by BatcherGoldenSpec, LoaderSpec, and DatalogSpec; this
  * covers the remaining two. */
class ExamplesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val artistsPath = MbrainzFixture.entityPath("artists")
  private lazy val nArtists = MbrainzFixture.truth.artistGids.size.toLong

  test("explore_entity_files: top N forms + count (eio/top, counter)") {
    // (eio/top f 2) — read only the first 2 forms
    val top2 = EdnSource.parseFile(artistsPath).take(2).toVector
    assert(top2.size == 2)
    // (transduce (map (constantly 1)) + artists) — count all forms
    val df = EdnSource.readEntities(spark, artistsPath, Mbrainz.artists)
    assert(df.count() == nArtists)
    // limit pushdown on the DataFrame surface
    assert(df.limit(2).collect().length == 2)
  }

  test("validate_entity_files: wrong spec fails, right spec passes") {
    val artists = EdnSource.readEntities(spark, artistsPath, Mbrainz.artists)
    // wrong spec: validating artists as areleases must fail —
    // areleases require :artist_credit, which artist rows never carry
    val asAreleases = Seq(
      "missing_gid" -> col("gid").isNull,
      "missing_name" -> col("name").isNull,
      "missing_artist_credit" -> lit(true)) // artists have no artist_credit column value
    val ex = intercept[IllegalStateException](
      Validate.requireValid(artists, asAreleases))
    assert(ex.getMessage.contains("missing_artist_credit"))

    // right spec: artists validated as artists pass
    val asArtists = Seq(
      "missing_gid" -> col("gid").isNull,
      "missing_name" -> col("name").isNull,
      "missing_sortname" -> col("sortname").isNull,
      "bad_month" -> (col("begin_date_month") < 1 || col("begin_date_month") > 12),
      "bad_day" -> (col("begin_date_day") < 1 || col("begin_date_day") > 31))
    Validate.requireValid(artists, asArtists)
    val (good, bad) = Validate.quarantine(artists, asArtists)
    assert(bad.count() == 0 && good.count() == nArtists)
  }
}
