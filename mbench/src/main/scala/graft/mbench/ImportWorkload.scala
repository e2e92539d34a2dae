package graft.mbench

import java.io.File
import scala.collection.mutable
import graft.edn.Edn
import graft.model.Mbrainz
import graft.ops.Transform
import graft.pipeline.Loader
import graft.query.Explore
import graft.sources.EdnSource
import graft.store.Datoms
import Stats._
import Workloads._

/** `import`: the paper's pipeline, cold. Seeded entity EDN → `Batcher.runAll`
  * → `Loader.loadAll` into an empty store → the first `Store.current`;
  * then `Loader.loadAll` again over the same batch files, which must
  * apply nothing. One operation is one such import. */
final class ImportWorkload(ctx: Ctx, scale: Double) extends Workload {
  private val inDir = new File(ctx.work, "import-in").getPath
  private var truth: Gen.Truth = _
  private val resumeS = mutable.ArrayBuffer[Double]()
  private val datomsPerS = mutable.ArrayBuffer[Double]()
  private val bytesPerDatom = mutable.ArrayBuffer[Double]()
  private val digests = mutable.LinkedHashSet[String]()
  private var last: Imported = _
  private var lastResume: (Long, Long) = (0L, 0L) // (txes applied, batches attempted)
  private var snapshotMb = 0.0

  def setupOnce(): Double = timeS {
    rmrf(new File(inDir))
    truth = Gen.write(inDir, ctx.o.seed, scale)
  }._2

  def opsFor(seconds: Double): Int = math.max(1, math.round(seconds / 30.0).toInt)

  def runOp(i: Int): Double = {
    val tr = ctx.trace
    ctx.clearCaches()
    val imp = importPipeline(ctx, inDir, new File(ctx.work, "import-run"))
    snapshotMb = cachedMb(ctx.spark)
    val loader = new Loader(ctx.spark, imp.registry, imp.store)
    val (resume, rS) = timeS(tr.span("pipeline.loader.resume") { loader.loadAll(imp.batchDir) })
    resumeS += rS
    datomsPerS += imp.datoms / imp.importS
    bytesPerDatom += bytes(imp.storeDir).toDouble / imp.datoms
    last = imp
    val attempted = 1L + imp.batches.values.sum
    lastResume = (resume.values.map(_.txes).sum, attempted)
    ctx.op(s"import-$i")(c => check(c, imp, lastResume._1))
    (imp.importS + rS) * 1000
  }

  override def info(latMs: Seq[Double]): Unit = {
    ctx.infoNum("import_datoms_per_s", median(datomsPerS.toSeq))
    ctx.infoNum("resume_s", median(resumeS.toSeq))
    ctx.infoNum("store_bytes_per_datom", median(bytesPerDatom.toSeq))
    sizes()
  }

  /** One traced import. As the layer split needs, the reads and the
    * transforms are first forced on their own, so the import that follows
    * reads warm files with a warm JIT, and tracing is on: its
    * `import_datoms_per_s`, `resume_s` and `store_bytes_per_datom` are
    * not the untraced run's (which puts those in `info`). Then the
    * parse, query and update probes run on the fresh store. The overhead
    * is that of tracing a resume: `Loader.loadBatchFile` of the artists
    * batches, already applied, three times untraced and three times
    * traced in alternating order (medians). */
  def traced(nOps: Int): Double = {
    val tr = new Trace(ctx.spark.sparkContext, enabled = true)
    ctx.trace = tr
    probeSourcesOps()
    ctx.progress("sources/ops")
    runOp(1)
    ctx.progress("import")
    ctx.metric("import_datoms_per_s", median(datomsPerS.toSeq), "datoms/s")
    ctx.metric("resume_s", median(resumeS.toSeq), "s")
    ctx.metric("store_bytes_per_datom", median(bytesPerDatom.toSeq), "B/datom")
    sizes()
    probeParse(last)
    perLayer()
    ctx.progress("parse")
    probeReads()
    ctx.progress("query/update")
    val loader = new Loader(ctx.spark, last.registry, last.store)
    def resume(): Double = timeS(tr.span("trace.overhead") {
      loader.loadBatchFile("artists", s"${last.batchDir}/artists.edn")
    })._2
    val pairs = (1 to 3).map { k =>
      if (k % 2 == 1) { val p = tr.off(resume()); (p, resume()) }
      else { val t = resume(); (tr.off(resume()), t) }
    }
    median(pairs.map(_._2)) / median(pairs.map(_._1)) - 1
  }

  private def check(c: Checks, imp: Imported, resumedTxes: Long): Unit = {
    val expected = expectedBatches(truth)
    Mbrainz.importOrder.foreach { tpe =>
      val want = if (tpe == "artists") ctx.wrong(expected(tpe)) else expected(tpe)
      c(imp.batches.get(tpe).contains(want),
        s"$tpe batches ${imp.batches.get(tpe)} != $want")
    }
    c(resumedTxes == 0, s"re-run applied $resumedTxes txes")
    val counts = Explore.entityCountsByUniqueAttr(imp.store, imp.registry).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantCounts = Map(
      "artist/gid" -> truth.artistGids.distinct.size.toLong,
      "abstractRelease/gid" -> truth.areleaseGids.distinct.size.toLong,
      "label/gid" -> truth.labelGids.distinct.size.toLong,
      "release/gid" -> truth.releases.map(_.gid).distinct.size.toLong,
      "db/ident" -> (truth.nSchemaAttrs + truth.nEnumValues + truth.nDictEntries + 1L),
      Mbrainz.batchIdAttr -> (imp.batches.values.sum + 1L))
    wantCounts.foreach { case (a, n) =>
      c(counts.get(a).contains(n), s"entity count $a ${counts.get(a)} != $n")
    }
    val dangling = Explore.danglingRefs(imp.store).collect()
    c(dangling.isEmpty, s"dangling refs ${dangling.mkString(",")}")
    val digest = stateDigest(imp)
    c(digests.isEmpty || digests.contains(digest), s"state digest $digest != ${digests.head}")
    digests += digest
    val stored = new File(ctx.work, s"digests/import-${ctx.o.seed}-$scale.txt")
    if (stored.exists()) {
      val prev = new String(java.nio.file.Files.readAllBytes(stored.toPath), "UTF-8").trim
      c(prev == digest, s"state digest $digest != earlier run's $prev")
    } else writeText(stored, digest)
  }

  /** Traced run only: force the reads and the transforms on their own
    * (noop writes), so `sources` and `ops` get times of their own. */
  private def probeSourcesOps(): Unit = {
    val tr = ctx.trace
    val ent = s"$inDir/entities"
    tr.span("sources.dicts") {
      EdnSource.readEnums(s"$ent/enums.edn")
      Seq("countries", "langs", "scripts").foreach(d => EdnSource.readSuperEnum(s"$ent/$d.edn"))
    }
    val dims = Transform.Dims.load(ctx.spark, ent)
    Seq("artists", "areleases", "areleases-artists", "labels", "releases",
      "releases-artists", "media").foreach { name =>
      val t = Mbrainz.byName(name)
      val keep = if (name == "media") Seq("id") else Nil
      val path = s"$ent/$name.edn"
      tr.span("sources.read") {
        EdnSource.readEntities(ctx.spark, path, t).write.format("noop").mode("overwrite").save()
      }
      tr.span("ops.transform") {
        Transform.requireStrict(
          Transform.transform(EdnSource.readEntities(ctx.spark, path, t), t, dims, keep), t, keep)
          .write.format("noop").mode("overwrite").save()
      }
    }
  }

  /** Traced run only: single-thread `Edn.parse` and `Datoms.batchDatoms`
    * of every batch line, and the applied-batch-id scan. */
  private def probeParse(imp: Imported): Unit = {
    val tr = ctx.trace
    val lines = Mbrainz.importOrder.flatMap { tpe =>
      val f = new File(imp.batchDir, s"$tpe.edn")
      val idx = Mbrainz.importOrder.indexOf(tpe)
      scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.trim.nonEmpty).map(idx -> _).toVector
    }
    tr.span("edn.parse") { lines.foreach(l => Edn.parse(l._2)) }
    tr.span("store.datoms") { lines.foreach { case (i, l) => Datoms.batchDatoms(l, imp.registry, i) } }
    tr.span("store.applied_ids") { imp.store.appliedBatchIds.count() }
  }

  private def sizes(): Unit = {
    ctx.infoNum("datoms", last.datoms)
    ctx.infoNum("store_bytes", bytes(last.storeDir))
    ctx.infoNum("entity_rows", Gen.entityRows(truth))
    ctx.infoNum("edn_bytes", truth.ednBytes)
    ctx.infoNum("snapshot_mb", snapshotMb)
  }

  private def perLayer(): Unit = {
    val tr = ctx.trace
    val read = tr.totalS("sources.read") + tr.totalS("sources.dicts")
    val transform = tr.totalS("ops.transform") - tr.totalS("sources.read")
    val src = tr.counters("sources.read")
    ctx.metric("sources.read_s", read, "s")
    ctx.metric("sources.tasks", src.tasks, "count")
    ctx.metric("sources.task_skew", src.taskSkew, "ratio")
    ctx.metric("ops.transform_s", transform, "s")
    val batcher = tr.counters("pipeline.batcher")
    ctx.metric("pipeline.batcher_s", tr.totalS("pipeline.batcher") - read - transform, "s")
    ctx.metric("pipeline.batcher.batches", last.batches.values.sum, "count")
    ctx.metric("pipeline.batcher.shuffle_mb", batcher.shuffleMb, "MB")
    val loader = tr.counters("pipeline.loader")
    ctx.metric("pipeline.loader_s", tr.totalS("pipeline.loader"), "s")
    ctx.metric("pipeline.loader.jobs", loader.jobs, "count")
    ctx.metric("pipeline.loader.shuffle_mb", loader.shuffleMb, "MB")
    ctx.metric("pipeline.loader.spill_mb", loader.spillMb, "MB")
    ctx.metric("pipeline.loader.task_skew", loader.taskSkew, "ratio")
    ctx.metric("pipeline.loader.txes", last.txes, "count")
    ctx.metric("pipeline.loader.datoms", last.datoms, "count")
    ctx.metric("pipeline.loader.skip_frac",
      (lastResume._2 - lastResume._1).toDouble / lastResume._2, "ratio")
    ctx.metric("edn.parse_s", tr.totalS("edn.parse"), "s")
    ctx.metric("store.datoms_s", tr.totalS("store.datoms") - tr.totalS("edn.parse"), "s")
    ctx.metric("store.applied_ids_s", tr.totalS("store.applied_ids"), "s")
    ctx.metric("store.current_full_s", tr.totalS("store.current_full"), "s")
    ctx.metric("store.current.shuffle_mb", tr.counters("store.current_full").shuffleMb, "MB")
    val files = dataFiles(last.storeDir)
    ctx.metric("store.files", files, "count")
    ctx.metric("store.files_per_tx", files.toDouble / last.txes, "ratio")
    ctx.metric("store.snapshot_mb", snapshotMb, "MB")
  }

  /** Traced run only: one cycle of the query templates on the fresh
    * store, then one update transaction on it, so the query layer and the
    * per-transaction path are measured in this workload. */
  private def probeReads(): Unit = {
    new QueryProbe(ctx, truth, last).run()
    new UpdateProbe(ctx, truth, last).run(steps = 1)
  }
}
