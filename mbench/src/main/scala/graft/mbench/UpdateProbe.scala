package graft.mbench

import java.io.File
import scala.collection.mutable
import graft.edn.Edn
import graft.model.Mbrainz
import graft.ops.EdnRender
import graft.pipeline.Loader
import graft.query.Pull
import Stats._
import Workloads._

/** The update probe of the traced `import` run: a closed loop of small
  * transactions against a copy of the fresh store. Each operation loads
  * one batch of about 100 upserts with
  * `Loader.loadBatchFile` (card-one renames, new release–artist edges,
  * new artists), then reads back every touched entity (`Store.current`
  * + `Pull.pull`, collected) and checks it holds exactly what the step
  * wrote. Batch ids give txes above the store's basis, so each read
  * takes the incremental-merge path. */
final class UpdateProbe(ctx: Ctx, truth: Gen.Truth, base: Imported) {
  private val loader = new Loader(ctx.spark, base.registry, base.store)
  private val rng = new Gen.Rng(ctx.o.seed * 31 + 7)
  // the generator's tables, updated by every step
  private val artistGids = mutable.ArrayBuffer[String]()
  private val artistNames = mutable.ArrayBuffer[String]()
  private var releaseArtists: Array[mutable.Set[Int]] = _
  private val txMs = mutable.ArrayBuffer[Double]()
  private val rawMs = mutable.ArrayBuffer[Double]()
  private val incremental = mutable.ArrayBuffer[Boolean]()
  private var stepNo = 0
  private val stepDir = new File(ctx.work, "update-steps")

  /** Runs `steps` transactions on the store, whose current state must be
    * resolved already, with their checks and reports the update metrics.
    * The store keeps the updates. */
  def run(steps: Int): Unit = {
    artistGids ++= truth.artistGids
    artistNames ++= truth.artistNames
    releaseArtists = truth.releaseArtists.map(v => mutable.Set(v: _*)).toArray
    rmrf(stepDir)
    stepDir.mkdirs()
    (1 to steps).foreach(_ => step())
    report()
  }

  private def str(s: String): String = "\"" + Edn.escape(s) + "\""
  private def uuidLit(u: String): String = "#uuid \"" + u + "\""

  private def step(): Unit = {
    stepNo += 1
    val tr = ctx.trace
    // about 100 upserts: 40 renames (fewer on a tiny store), 40 new
    // release–artist edges, 20 new artists
    val renamed = mutable.LinkedHashSet[Int]()
    while (renamed.size < math.min(40, artistGids.size / 2)) renamed += rng.int(artistGids.size)
    val data = mutable.ArrayBuffer[String]()
    renamed.foreach { a =>
      artistNames(a) = s"${rng.name(2)} Renamed $stepNo"
      data += s"{:artist/gid ${uuidLit(artistGids(a))}, :artist/name ${str(artistNames(a))}}"
    }
    val edged = mutable.LinkedHashSet[Int]()
    (1 to 40).foreach { _ =>
      var r = rng.int(releaseArtists.length)
      while (releaseArtists(r).size >= artistGids.size) r = rng.int(releaseArtists.length)
      var a = rng.skewed(artistGids.size, 3.0)
      while (releaseArtists(r).contains(a)) a = rng.int(artistGids.size)
      releaseArtists(r) += a
      edged += r
      data += s"{:release/gid ${uuidLit(truth.releases(r).gid)}, " +
        s":release/artists {:artist/gid ${uuidLit(artistGids(a))}}}"
    }
    val created = (1 to 20).map { _ =>
      artistGids += rng.uuid()
      artistNames += rng.name(2)
      val a = artistGids.size - 1
      data += s"{:artist/gid ${uuidLit(artistGids(a))}, :artist/name ${str(artistNames(a))}, " +
        s":artist/sortName ${str(artistNames(a))}}"
      a
    }
    val batchId = s"update-${10000000L + stepNo}"
    val path = new File(stepDir, s"$batchId.edn")
    writeText(path, EdnRender.batchLine(Mbrainz.batchIdAttr, batchId, data.toSeq) + "\n")

    val (stats, tS) = timeS(tr.span("pipeline.loader.tx") { loader.loadBatchFile("update", path.getPath) })
    val artistRoots = (renamed.toSeq ++ created).distinct
    val roots = artistRoots.map(a => s"artist/gid|${artistGids(a)}") ++
      edged.toSeq.map(r => s"release/gid|${truth.releases(r).gid}")
    val ((rows, incr), rS) = timeS {
      tr.span("store.current_update") { base.store.current(base.registry) }
      val incr = base.store.lastCurrentIncremental
      val spark = ctx.spark
      import spark.implicits._
      val pulled = tr.span("update.pull") {
        Pull.pull(base.store, base.registry, "[:artist/name :release/artists]", roots.toDF("e"))
          .collect()
      }
      (pulled, incr)
    }
    txMs += tS * 1000
    rawMs += rS * 1000
    incremental += incr
    ctx.op(s"update-$stepNo") { c =>
      c(stats.txes == 1, s"applied ${stats.txes} txes")
      val byE = rows.map(r => r.getAs[String]("e") -> r).toMap
      c(byE.size == roots.size, s"read back ${byE.size} of ${roots.size} entities")
      artistRoots.zipWithIndex.foreach { case (a, k) =>
        val want = if (k == 0) ctx.wrong(artistNames(a)) else artistNames(a)
        val got = byE.get(s"artist/gid|${artistGids(a)}").map(_.getAs[String]("artist_name"))
        c(got.contains(want), s"artist ${artistGids(a)} name $got != $want")
      }
      edged.foreach { r =>
        val want = releaseArtists(r).map(a => s"artist/gid|${artistGids(a)}").toSet
        val got = byE.get(s"release/gid|${truth.releases(r).gid}")
          .map(_.getAs[scala.collection.Seq[String]]("release_artists").toSet)
        c(got.contains(want), s"release ${truth.releases(r).gid} artists $got != $want")
      }
    }
  }

  private def report(): Unit = {
    val tr = ctx.trace
    ctx.metric("tx_p50_ms", median(txMs.toSeq), "ms")
    ctx.metric("tx_p90_ms", pct(txMs.toSeq, 0.9), "ms")
    ctx.metric("raw_p50_ms", median(rawMs.toSeq), "ms")
    ctx.metric("raw_p90_ms", pct(rawMs.toSeq, 0.9), "ms")
    ctx.metric("tx_samples", txMs.size, "count")
    val cur = tr.durationsMs("store.current_update")
    val incrMs = cur.zip(incremental).collect { case (ms, true) => ms }
    ctx.metric("pipeline.loader.jobs_per_tx",
      tr.counters("pipeline.loader.tx").jobs.toDouble / cur.size, "count")
    ctx.metric("store.current_incr_p50_ms", if (incrMs.isEmpty) 0.0 else median(incrMs), "ms")
    ctx.metric("store.incremental_frac", incremental.count(identity).toDouble / incremental.size,
      "ratio")
  }
}
