package graft.mbench

import scala.collection.mutable
import org.apache.spark.sql.Row
import graft.model.Mbrainz
import graft.query.{Datalog, Explore, Pull}
import Stats._
import Workloads._

/** The query probe of the traced `import` run: read-only, closed loop
  * over the fresh store. Each operation is one query, collected and
  * checked against the generator's own tables.
  * The templates run in a fixed cycle; the seed draws their parameters:
  *  - Datalog over current state: an artist's releases in a year range;
  *    track count and duration per release through media → tracks;
  *  - `Pull.pull` of a release with nested media and tracks;
  *  - `Explore.fulltext` on a name token;
  *  - `Datalog.runAsOf` at the basis before media loaded;
  *  - `Explore.entityCountsByUniqueAttr` / `batchFrequencies`.
  * Artists are drawn half uniformly and half by edge (so prolific
  * artists come up), tokens by word frequency: results range from one
  * row to thousands. */
final class QueryProbe(ctx: Ctx, truth: Gen.Truth, imp: Imported) {
  private val store = imp.store
  private val registry = imp.registry
  private val rng = new Gen.Rng(ctx.o.seed * 17 + 3)
  private val samples = mutable.ArrayBuffer[Double]()
  private var resultRows = 0L
  private val spans = Seq("query.datalog", "query.pull", "query.fulltext", "query.explore",
    "store.asof")

  private lazy val releasesByArtist: Map[Int, Seq[Int]] =
    truth.releaseArtists.zipWithIndex.flatMap { case (as, r) => as.map(_ -> r) }
      .groupBy(_._1).map { case (a, rs) => a -> rs.map(_._2) }
  private lazy val edges: Vector[Int] = truth.releaseArtists.flatten
  /** token → the (attr, value) of every entity whose fulltext value holds it */
  private lazy val tokenIndex: Map[String, Seq[(String, String)]] =
    truth.fulltextValues.toSeq
      .flatMap { case (a, v) => v.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).distinct
        .map(t => t -> (a, v)) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2) }
  /** The basis before media loaded: the last releases-artists batch. */
  private def preMediaTx: Long =
    Mbrainz.importOrder.indexOf("releases-artists") * 1000000L +
      expectedBatches(truth)("releases-artists")

  /** Resolves the current state if it is not cached (the snapshot every
    * current-state query then hits), runs one cycle of the templates
    * with their checks and reports the query metrics. */
  def run(): Unit = {
    store.current(registry).count()
    (1 to QueryProbe.cycle.size).foreach(runOp)
    checkAsOf()
    report()
    ctx.progress("query probe")
  }

  private def pickArtist(): Int =
    if (rng.chance(0.5)) rng.int(truth.artistGids.size) else edges(rng.int(edges.size))
  private def pickRelease(): Int = rng.int(truth.releases.size)

  private def releasesOf(a: Int, years: Long => Boolean): Set[(String, String)] =
    releasesByArtist.getOrElse(a, Nil).map(truth.releases)
      .collect { case r if r.year.exists(years) => (r.name, r.year.get.toString) }.toSet

  private def yearQuery(gid: String, filter: String): Datalog.Query = Datalog.parse(
    s"""[:find ?name ?year
       | :where [?a :artist/gid #uuid "$gid"] [?r :release/artists ?a]
       |        [?r :release/name ?name] [?r :release/year ?year] $filter]""".stripMargin)

  private def runOp(i: Int): Unit = {
    val tr = ctx.trace
    val reg = registry
    val template = QueryProbe.cycle((i - 1) % QueryProbe.cycle.size)
    if (tr.enabled && Set("years", "tracks", "pull").contains(template))
      tr.span("store.current_hit") { store.current(reg) }
    // each template: (span, timed query, check of its collected rows)
    val (span, run, check): (String, () => Array[Row], (Checks, Array[Row]) => Unit) =
      if (template == "years") {
        val a = pickArtist()
        val y0 = rng.between(1950, 2015)
        val y1 = y0 + rng.between(0, 30)
        val q = yearQuery(truth.artistGids(a), s"[(>= ?year $y0)] [(<= ?year $y1)]")
        ("query.datalog", () => Datalog.runCurrent(store, reg, q).collect(), (c, rows) => {
          val got = rows.map(r => (r.get(0).toString, r.get(1).toString)).toSet
          val want = releasesOf(a, y => y >= y0 && y <= y1)
          c(got == want, s"releases of artist $a in $y0..$y1: ${got.size} rows != ${want.size}")
        })
      } else if (template == "tracks") {
        val r = pickRelease()
        val q = Datalog.parse(
          s"""[:find ?r (count ?t) (sum ?d)
             | :where [?r :release/gid #uuid "${truth.releases(r).gid}"] [?r :release/media ?m]
             |        [?m :medium/tracks ?t] [?t :track/duration ?d]]""".stripMargin)
        ("query.datalog", () => Datalog.runCurrent(store, reg, q).collect(), (c, rows) => {
          val tracks = truth.media(r).flatMap(_.tracks)
          val got = rows.map(x => (x.getLong(1), x.getDouble(2).toLong)).toSeq
          val want = Seq((tracks.size.toLong, tracks.map(_.durationMs).sum))
          c(got == want, s"tracks of release $r: $got != $want")
        })
      } else if (template == "pull") {
        val r = pickRelease()
        val spark = ctx.spark
        import spark.implicits._
        val roots = Seq(s"release/gid|${truth.releases(r).gid}").toDF("e")
        ("query.pull", () => Pull.pull(store, reg,
          "[:release/name {:release/media [:medium/position " +
            "{:medium/tracks [:track/name :track/position]}]}]", roots).collect(),
          (c, rows) => {
            val want = (truth.releases(r).name, truth.media(r).map(m => (m.position.toString,
              m.tracks.map(t => (t.num.toString, t.name)).toSet)).toSet)
            val got = rows.map { row =>
              val media = Option(row.getAs[scala.collection.Seq[Row]]("release_media"))
                .getOrElse(Nil).map { m =>
                  (m.getAs[Any]("medium_position").toString,
                    m.getAs[scala.collection.Seq[Row]]("medium_tracks").map(t =>
                      (t.getAs[Any]("track_position").toString, t.getAs[String]("track_name"))).toSet)
                }.toSet
              (row.getAs[String]("release_name"), media)
            }.toSeq
            c(got == Seq(want), s"pull of release $r differs")
          })
      } else if (template == "fulltext") {
        val token = rng.word()
        ("query.fulltext", () => Explore.fulltext(store, reg, token).collect(), (c, rows) => {
          val want = tokenIndex.getOrElse(token, Nil)
          c(rows.length == ctx.wrong(want.size.toLong),
            s"fulltext '$token': ${rows.length} rows != ${want.size}")
          c(rows.map(x => (x.getAs[String]("a"), x.getAs[String]("v"))).toSeq.sorted == want.sorted,
            s"fulltext '$token' values differ")
        })
      } else if (template == "asof") {
        val a = pickArtist()
        val q = yearQuery(truth.artistGids(a), "")
        ("store.asof", () => Datalog.runAsOf(store, reg, preMediaTx, q).collect(), (c, rows) => {
          val got = rows.map(r => (r.get(0).toString, r.get(1).toString)).toSet
          c(got == releasesOf(a, _ => true), s"as-of releases of artist $a differ")
        })
      } else if (template == "counts") {
        ("query.explore", () => Explore.entityCountsByUniqueAttr(store, reg).collect(),
          (c, rows) => {
            val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
            val want = Map(
              "artist/gid" -> truth.artistGids.distinct.size.toLong,
              "abstractRelease/gid" -> truth.areleaseGids.distinct.size.toLong,
              "label/gid" -> truth.labelGids.distinct.size.toLong,
              "release/gid" -> truth.releases.map(_.gid).distinct.size.toLong,
              "db/ident" -> (truth.nSchemaAttrs + truth.nEnumValues + truth.nDictEntries + 1L),
              Mbrainz.batchIdAttr -> (expectedBatches(truth).values.sum + 1L))
            c(want.forall { case (k, n) => got.get(k).contains(n) }, s"entity counts $got")
            c(Seq("country/name", "language/name", "script/name").map(got.getOrElse(_, 0L)).sum ==
              truth.nDictEntries, s"dictionary counts $got")
          })
      } else {
        ("query.explore", () => Explore.batchFrequencies(store).collect(), (c, rows) => {
          val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
          val want = (expectedBatches(truth).toSeq :+ ("import-schema" -> 1L))
            .groupBy(_._1.replaceAll("-.*", "")).map { case (k, xs) => k -> xs.map(_._2).sum }
          c(got == want, s"batch frequencies $got != $want")
        })
      }
    val (rows, s) = timeS(tr.span(span)(run()))
    samples += s * 1000
    resultRows += rows.length
    ctx.op(s"query-$i-$span")(c => check(c, rows))
  }

  /** The as-of view before media sees no media datoms (the pull and
    * track templates check that the current view sees them). */
  private def checkAsOf(): Unit = ctx.op("asof-no-media") { c =>
    def count(q: String, asOf: Boolean): Long = {
      val parsed = Datalog.parse(q)
      (if (asOf) Datalog.runAsOf(store, registry, preMediaTx, parsed)
       else Datalog.runCurrent(store, registry, parsed)).count()
    }
    val media = "[:find ?m :where [?r :release/media ?m]]"
    val tracks = "[:find ?t :where [?m :medium/tracks ?t]]"
    c(count(media, asOf = true) == 0, "as-of view sees media")
    c(count(tracks, asOf = true) == 0, "as-of view sees tracks")
  }

  private def report(): Unit = {
    ctx.metric("query_p50_ms", median(samples.toSeq), "ms")
    ctx.metric("query_p90_ms", pct(samples.toSeq, 0.9), "ms")
    ctx.metric("query_samples", samples.size, "count")
    val tr = ctx.trace
    def p50(span: String): Double = {
      val d = tr.durationsMs(span)
      if (d.isEmpty) 0.0 else median(d)
    }
    ctx.metric("query.datalog_p50_ms", p50("query.datalog"), "ms")
    ctx.metric("query.pull_p50_ms", p50("query.pull"), "ms")
    ctx.metric("query.fulltext_p50_ms", p50("query.fulltext"), "ms")
    ctx.metric("query.explore_p50_ms", p50("query.explore"), "ms")
    ctx.metric("store.asof_p50_ms", p50("store.asof"), "ms")
    ctx.metric("store.current_hit_ms", p50("store.current_hit"), "ms")
    val cs = tr.counters(spans: _*)
    ctx.metric("query.rows_per_result", cs.inputRows.toDouble / math.max(1L, resultRows), "ratio")
    ctx.metric("query.jobs_per_query", cs.jobs.toDouble / samples.size, "count")
    ctx.metric("query.shuffle_mb_per_query", cs.shuffleMb / samples.size, "MB")
  }
}

object QueryProbe {
  /** Template order of every run: the mix is fixed, the seed draws the
    * parameters. */
  val cycle: Seq[String] = Seq("years", "tracks", "pull", "fulltext", "counts", "asof", "pull",
    "years", "fulltext", "explore")
}
