package graft.mbench

import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, hash, lit, sum, xxhash64}
import graft.model.SchemaRegistry
import graft.pipeline.{Batcher, Loader}
import graft.store.Store
import Stats._

/** One workload: a set-up, a fixed amount of timed work, and checks. */
trait Workload {
  /** Builds the inputs; returns its seconds. */
  def setupOnce(): Double
  /** How many times `setupOnce` runs; `setup_s` reports the median. */
  def setupReps: Int = 3
  /** One-time work after set-up that the run needs warm (JIT warm-up). */
  def warmUp(): Double = 0.0
  /** Operations the timed region runs for `seconds` of nominal time. */
  def opsFor(seconds: Double): Int
  /** Runs operation `i` and its checks; returns the latency in ms of its
    * timed part (checks excluded). */
  def runOp(i: Int): Double
  /** The timed region's seconds from its operations' latencies. */
  def timedSeconds(latMs: Seq[Double]): Double = latMs.sum / 1000
  /** Workload-specific numbers of the untraced run, from its operations'
    * latencies, into `ctx.info`. */
  def info(latMs: Seq[Double]): Unit = ()
  /** The traced run: runs `nOps` operations with `ctx.trace` on, reports
    * the per-layer metrics and returns the tracing overhead (traced ÷
    * untraced time − 1) it measured. */
  def traced(nOps: Int): Double
}

object Workloads {

  def session(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val local = new File(work, "spark-local")
    local.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("mbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // shuffle and spill on the same disk as the store, inside the
      // checkout: both sides see the same flush policy
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def run(o: Main.Opts, processStart: Long): String = {
    val work = new File(o.work)
    work.mkdirs()
    val spark = session(work)
    val sessionS = (System.nanoTime() - processStart) / 1e9
    val ctx = new Ctx(spark, o, processStart)
    val scale = o.scale.getOrElse(Main.defaultScale(o.workload))
    val wl: Workload = o.workload match {
      case "import" => new ImportWorkload(ctx, scale)
      case "harness-resolve" => new HarnessWorkload(ctx, scale)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setups = (1 to wl.setupReps).map(_ => wl.setupOnce())
    val warmS = wl.warmUp()
    val setupS = sessionS + median(setups) + warmS
    ctx.infoNum("session_s", sessionS)
    ctx.info("setup_samples_s") = setups.map(num).mkString("[", ",", "]")
    ctx.infoNum("warmup_s", warmS)
    ctx.infoNum("scale", scale)

    System.gc() // set-up garbage stays out of the timed region
    ctx.progress("set up")
    val nOps = wl.opsFor(o.seconds)
    ctx.infoNum("ops", nOps)
    if (!o.trace) {
      // the timed region is the operations' timed parts; checks between
      // them are outside it
      val lat = (1 to nOps).map(wl.runOp)
      ctx.progress("timed pass")
      ctx.info("op_ms") = lat.map(num).mkString("[", ",", "]")
      wl.info(lat)
      ctx.metric("setup_s", setupS, "s")
      ctx.metric("run_s", wl.timedSeconds(lat), "s")
    } else {
      val overhead = wl.traced(nOps)
      ctx.progress("traced run")
      // a layer the workload leaves idle reports 0
      PerLayer.all.foreach { case (n, u) => if (!ctx.metrics.contains(n)) ctx.metric(n, 0.0, u) }
      ctx.metric("trace.overhead_frac", overhead, "ratio")
      ctx.metric("failed_frac", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio")
    }
    spark.stop()

    val metrics = ctx.metrics.map { case (k, (v, u)) =>
      s"${q(k)}:{\"value\":${num(v)},\"unit\":${q(u)}}"
    }.mkString("{", ",", "}")
    val info = ctx.info.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val failures = ctx.failures.map(q).mkString("[", ",", "]")
    s"""{"correct":${ctx.failed == 0},"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
      s""""metrics":$metrics,"info":$info,"failures":$failures}"""
  }

  // ── shared import path ──────────────────────────────────────────────

  /** One run of the paper's pipeline into fresh batch and store dirs. */
  final case class Imported(store: Store, registry: SchemaRegistry, batchDir: String,
      storeDir: File, batches: Map[String, Long], txes: Long, datoms: Long,
      importS: Double, currentRows: Long)

  def importPipeline(ctx: Ctx, inDir: String, out: File): Imported = {
    val tr = ctx.trace
    rmrf(out)
    val batchDir = new File(out, "batches").getPath
    val storeDir = new File(out, "store")
    val registry = SchemaRegistry.load(s"$inDir/entities/schema.edn")
    val t0 = System.nanoTime()
    val batches = tr.span("pipeline.batcher") {
      new Batcher(ctx.spark, inDir, batchDir, 100).runAll()
    }
    val store = new Store(ctx.spark, storeDir.getPath)
    val loader = new Loader(ctx.spark, registry, store)
    val stats = tr.span("pipeline.loader") { loader.loadAll(batchDir) }
    val rows = tr.span("store.current_full") { store.current(registry).count() }
    val importS = (System.nanoTime() - t0) / 1e9
    // loadAll also transacts the import schema: one more tx
    Imported(store, registry, batchDir, storeDir, batches,
      stats.values.map(_.txes).sum + 1, store.eav.count(), importS, rows)
  }

  /** Expected batch counts: ⌈rows / 100⌉ per type. */
  def expectedBatches(t: Gen.Truth): Map[String, Long] =
    t.rowsPerType.map { case (k, n) => k -> (n + 99) / 100 }

  /** Order-independent digest of the current state without
    * `db/txInstant`: row count plus two sums of row hashes. */
  def stateDigest(imp: Imported): String = {
    val r = imp.store.current(imp.registry).filter(col("a") =!= Store.txInstantAttr)
      .agg(count(lit(1)),
        sum(xxhash64(col("e"), col("a"), col("v")).cast("decimal(38,0)")),
        sum(hash(col("e"), col("a"), col("v")).cast("long")))
      .collect()(0)
    s"${r.get(0)}:${r.get(1)}:${r.get(2)}"
  }
}

/** Every per-layer metric of a traced run, with its unit. */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "import_datoms_per_s" -> "datoms/s", "resume_s" -> "s", "store_bytes_per_datom" -> "B/datom",
    "tx_p50_ms" -> "ms", "tx_p90_ms" -> "ms", "raw_p50_ms" -> "ms", "raw_p90_ms" -> "ms",
    "query_p50_ms" -> "ms", "query_p90_ms" -> "ms", "query_samples" -> "count",
    "tx_samples" -> "count",
    "harness_geomean_s" -> "s", "failed_frac" -> "ratio",
    "sources.read_s" -> "s", "sources.tasks" -> "count", "sources.task_skew" -> "ratio",
    "ops.transform_s" -> "s",
    "pipeline.batcher_s" -> "s", "pipeline.batcher.batches" -> "count",
    "pipeline.batcher.shuffle_mb" -> "MB",
    "pipeline.loader_s" -> "s", "pipeline.loader.jobs" -> "count",
    "pipeline.loader.shuffle_mb" -> "MB", "pipeline.loader.spill_mb" -> "MB",
    "pipeline.loader.task_skew" -> "ratio", "pipeline.loader.txes" -> "count",
    "pipeline.loader.datoms" -> "count", "pipeline.loader.skip_frac" -> "ratio",
    "pipeline.loader.jobs_per_tx" -> "count",
    "edn.parse_s" -> "s", "store.datoms_s" -> "s",
    "store.applied_ids_s" -> "s",
    "store.current_full_s" -> "s", "store.current.shuffle_mb" -> "MB",
    "store.files" -> "count", "store.files_per_tx" -> "ratio", "store.snapshot_mb" -> "MB",
    "store.current_incr_p50_ms" -> "ms", "store.incremental_frac" -> "ratio",
    "store.current_hit_ms" -> "ms", "store.asof_p50_ms" -> "ms",
    "query.datalog_p50_ms" -> "ms", "query.pull_p50_ms" -> "ms",
    "query.fulltext_p50_ms" -> "ms", "query.explore_p50_ms" -> "ms",
    "query.rows_per_result" -> "ratio", "query.jobs_per_query" -> "count",
    "query.shuffle_mb_per_query" -> "MB") ++
    HarnessWorkload.queries.map(n => s"queries.${n}_s" -> "s") ++ Seq(
    "queries.shuffle_mb" -> "MB", "queries.spill_mb" -> "MB", "queries.task_skew" -> "ratio",
    "trace.overhead_frac" -> "ratio")
}
