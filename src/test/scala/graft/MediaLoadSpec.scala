package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.edn.Edn
import graft.model.SchemaRegistry
import graft.pipeline.{Batcher, Loader}
import graft.query.Datalog
import graft.store.Store

/** End-to-end media path through the LOADER: nested component
  * entities (medium → tracks) become child datoms + component refs;
  * multi-artist tracks coalesce onto one entity via the shared
  * tempid; reverse refs attach media to their release. */
class MediaLoadSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def uuid(n: Int): String = f"00000000-0000-4000-8000-${n}%012d"

  test("media batches load into component track entities") {
    val base = EdnFixtures.basedir()
    val entities = base.resolve("entities")
    val media =
      s"""{:id 10, :release #uuid "${uuid(1)}", :position 1, :track_count 2, :format "CD",
         | :name "Track A", :tracknum 1, :length 180000, :artist #uuid "${uuid(2)}"}
         |{:id 10, :release #uuid "${uuid(1)}", :position 1, :track_count 2, :format "CD",
         | :name "Track B", :tracknum 2, :length 200000, :artist #uuid "${uuid(3)}"}
         |{:id 10, :release #uuid "${uuid(1)}", :position 1, :track_count 2, :format "CD",
         | :name "Track B", :tracknum 2, :length 200000, :artist #uuid "${uuid(4)}"}
         |""".stripMargin
    java.nio.file.Files.write(entities.resolve("media.edn"), media.getBytes)

    val batches = java.nio.file.Files.createTempDirectory("mlbatches").toString
    new Batcher(spark, base.toString, batches, batchSize = 100).runAll(Seq("schema", "media"))

    val registry = SchemaRegistry.load(s"$entities/schema.edn")
    val store = new Store(spark, java.nio.file.Files.createTempDirectory("mlstore").toString)
    val loader = new Loader(spark, registry, store)
    loader.loadBatchFile("schema", s"$batches/schema.edn")
    val stats = loader.loadBatchFile("media", s"$batches/media.edn")
    assert(stats.txes == 1)

    val cur = store.current(registry)
    // two track entities (B coalesced across its two artist rows)
    val tracks = cur.filter(col("a") === "track/name").select("e", "v").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(tracks.values.toSet == Set("Track A", "Track B"))
    assert(tracks.size == 2)
    // the coalesced track carries BOTH artists (card-many union on one entity)
    val bE = tracks.find(_._2 == "Track B").get._1
    val bArtists = cur.filter(col("e") === bE && col("a") === "track/artists")
      .select("v").collect().map(_.getString(0)).toSet
    assert(bArtists == Set(s"artist/gid|${uuid(3)}", s"artist/gid|${uuid(4)}"))
    // medium owns both tracks (component refs), release owns the medium
    val mediumTracks = cur.filter(col("a") === "medium/tracks").count()
    assert(mediumTracks == 2)
    val releaseMedia = cur.filter(col("a") === "release/media").select("e").collect()
    assert(releaseMedia.map(_.getString(0)).toSeq == Seq(s"release/gid|${uuid(1)}"))

    // and the Datalog layer walks release → medium → track
    val q = Datalog.parse(
      """[:find ?track-name
        | :where [?r :release/media ?m]
        |        [?m :medium/tracks ?t]
        |        [?t :track/name ?track-name]]""".stripMargin)
    val names = Datalog.runOn(store.eav, registry, q, Map.empty).collect().map(_.getString(0)).toSet
    assert(names == Set("Track A", "Track B"))
  }
}
