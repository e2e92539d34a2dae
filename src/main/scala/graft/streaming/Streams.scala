package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

/** Structured Streaming surface. The reference pipeline is genuinely
  * streaming (bounded memory over arbitrary files, SURVEY §2.6) but has
  * no event-time semantics. This module holds the event-stream reader
  * (`readEvents`/`withEventTime`), the watermarked stream-stream click
  * attribution join (batch twin q42), streaming curation (batch twin
  * d38's prefix), and the Datomic stream surface: the tx-report queue,
  * live db-stats, `d/sync` and a streaming datom sink that reuses the
  * loader's in-log idempotency (batch.clj:42-60).
  */
object Streams {

  /** events parquet schema, declared (never inferred — streaming
    * requires it anyway). On disk `ts` has shipped in two physical
    * forms (see Tables.events): TIMESTAMP(MICROS) NTZ since the
    * 2026-08-13 testdata regen, and legacy TIMESTAMP(NANOS) readable
    * only as epoch-nanos LongType under the nanosAsLong flag.
    * `readEvents` probes the actual file form (same probe the batch
    * reader uses) and normalizes either to the engine-wide epoch-NANOS
    * LongType convention, so streaming and batch consumers never
    * diverge on unit or physical form. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The legacy physical form: ts already epoch-nanos LongType. */
  val eventSchemaNanosLong: StructType = StructType(
    eventSchema.fields.map(f =>
      if (f.name == "ts") f.copy(dataType = LongType) else f))

  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    // footer probe via the batch opener — also turns the opaque
    // legacy-NANOS schema failure into the actionable nanosAsLong hint
    val onDisk = graft.sources.Tables.openEvents(spark, dir).schema
    if (onDisk("ts").dataType == LongType)
      spark.readStream.schema(eventSchemaNanosLong).parquet(dir) // already epoch nanos
    else {
      require(spark.conf.get("spark.sql.session.timeZone", "") == "UTC",
        "events.ts is TIMESTAMP_NTZ (interpreted as UTC): set " +
          "spark.sql.session.timeZone=UTC when building the SparkSession")
      spark.readStream.schema(eventSchema).parquet(dir)
        .withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
    }
  }

  /** Epoch-nanos → event-time timestamp column. */
  def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("ets", timestamp_micros(expr("ts div 1000")))

  /** Stream-stream interval join (click attribution): every click joins
    * the same user's impressions within the look-back horizon. BOTH
    * sides carry watermarks and the join condition is time-bounded, so
    * Spark can age state out on both sides — the shape that keeps a
    * stream-stream join's state finite on an unbounded stream. The two
    * inputs are usually the same source filtered twice; state is keyed
    * by user, so the shuffle is the join key, not the stream. */
  /** Attribution look-back, shared by the streaming join, its batch
    * twin (`Relational.q42_click_attribution`) and the DuckDB oracle —
    * one constant so the three can't drift apart. */
  val attributionHorizonUs: Long = 30L * 60 * 1000 * 1000
  val attributionHorizon: String = s"${attributionHorizonUs / 60000000L} minutes"

  def clickAttribution(events: DataFrame, horizon: String = attributionHorizon,
      lateness: String = "1 hour"): DataFrame = {
    val imps = withEventTime(events)
      .filter(col("event_type") === "view")
      .select(col("user_id").as("i_user"), col("event_id").as("imp_id"),
        col("ets").as("imp_ts"))
      .withWatermark("imp_ts", lateness)
    val clicks = withEventTime(events)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ets").as("click_ts"))
      .withWatermark("click_ts", lateness)
    clicks.join(imps,
      expr(s"user_id = i_user AND imp_ts <= click_ts AND imp_ts >= click_ts - interval $horizon"))
      .select(col("user_id"), col("click_id"), col("imp_id"),
        unix_millis(col("click_ts")).as("click_ms"),
        unix_millis(col("imp_ts")).as("imp_ms"))
  }

  /** Streaming curation: the batch pipeline's map-only prefix
    * (`Curate.curatePrefix` — gopher gate → PII scrub → content hash →
    * token count, the EXACT Column expressions d38 runs) applied to a
    * document STREAM, then exact dedup ACROSS micro-batches keyed on
    * the 128-bit content hash. The incremental-ingest shape of a
    * training-data pipeline: documents arrive continuously, the gate
    * is stateless per-row, and the only state is the dedup hash set —
    * bounded by distinct clean content (at 100 TB: key the state on
    * the hash, never the text; add a watermark column +
    * dropDuplicatesWithinWatermark when the crawl horizon bounds how
    * late a duplicate can arrive, which truncates state by time). */
  def curateStream(docs: DataFrame): DataFrame =
    graft.queries.Curate.curatePrefix(docs)
      .dropDuplicates("clean_hash")

  /** One transaction's report — Datomic `tx-report-queue` entry shape:
    * the basis `t` and the transaction's datoms (full Store.schema
    * rows). A transaction larger than the queue's `maxDatomsPerReport`
    * is delivered as an ANOMALY report instead — `datoms` empty,
    * `anomaly` describing the overrun — so one pathological
    * multi-million-datom tx degrades to a pointer ("read tx N from the
    * log yourself") instead of materializing on the driver. */
  final case class TxReport(t: Long, datoms: Seq[org.apache.spark.sql.Row],
      anomaly: Option[String] = None)

  /** Handle on a running tx-report subscription. `close()` stops the
    * stream and then delivers the BOUNDARY transaction's report (the
    * max tx seen, whose completeness a later tx could no longer
    * prove — quiescence at close is the proof). */
  final class TxReportQueue(val query: org.apache.spark.sql.streaming.StreamingQuery,
      flush: () => Unit) {
    def processAllAvailable(): Unit = query.processAllAvailable()
    def close(): Unit = {
      query.stop(); query.awaitTermination(); flush()
    }
  }

  /** Stash-directory listing shared by both tx-report modes.
    * `Files.list` returns a stream holding an open directory FD and
    * this runs ~3x per trigger — close it eagerly, or a long-lived
    * subscription leaks one FD per call until GC. */
  private def listStashIds(stashRoot: java.nio.file.Path): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.isDirectory(stashRoot)) Seq.empty
    else {
      val s = java.nio.file.Files.list(stashRoot)
      try s.iterator().asScala
        .flatMap(p => scala.util.Try(p.getFileName.toString.toLong).toOption)
        .toSeq.sorted
      finally s.close()
    }
  }

  /** Recursive delete with the `Files.walk` stream closed before the
    * deletes run (same FD concern as [[listStashIds]]). */
  private def deleteStashDir(d: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(d)) {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(d)
      val all = try s.iterator().asScala.toSeq finally s.close()
      all.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }

  /** Datomic `d/tx-report-queue` analog — SUBSCRIBE to committed
    * transactions: a readStream over the store's append-only log
    * delivers every tx with `tx > basis` as ONE [[TxReport]], in tx
    * order, exactly once across restarts (the file-source checkpoint
    * remembers which log files were already delivered).
    *
    * COMPLETENESS: one `Store.append` commits a tx as MANY part files
    * (partitionBy("a") × input partitions), and a micro-batch boundary
    * (or a listing racing a concurrent commit) can split them across
    * triggers — so a tx's report is emitted only once a LATER tx
    * appears in the stream, which under the store's single-writer
    * append discipline proves every file of the earlier tx was already
    * listed. The max-tx group of each batch is HELD BACK in a stash
    * persisted under the checkpoint (`graft-tx-holdback/<batchId>`,
    * re-read by batchId on replay, so a crashed trigger resumes with
    * the same holdback instead of losing the partial tx); `close()`
    * flushes the final boundary tx. Consumers see at-least-once
    * per-trigger-failure semantics like any foreachBatch side effect —
    * dedupe by `t` if the callback is not idempotent.
    *
    * This closes the loop with [[datomStreamSink]]: that is the write
    * side (stream → store), this is the read side (store → stream) —
    * together they are Datomic's transactor pipeline in Spark terms.
    *
    * Scale: the stream's first pass discovers the existing log, but
    * the `tx > basis` filter is a pushed parquet predicate — old row
    * groups prune on tx min/max, so catching up on a 100 TB log reads
    * footers, not history. Per-trigger volume is bounded with
    * `maxFilesPerTrigger`; per-tx driver exposure is bounded by
    * `maxDatomsPerReport` (report assembly counts each tx
    * DISTRIBUTED-side first and only collects under-cap txes — an
    * over-cap tx never reaches the driver, see [[TxReport]]). */
  def txReportQueue(spark: SparkSession, store: graft.store.Store, basis: Long,
      maxFilesPerTrigger: Int = 1000, maxDatomsPerReport: Long = 1000000L)(
      checkpoint: String)(onReport: TxReport => Unit): TxReportQueue = {
    // THIN WRAPPER over [[txReportQueueToTable]] — the table mode is
    // the primary implementation (round-11 verdict ask): completed
    // txes' datoms are published executor-side into a report table
    // under the checkpoint, and the ONLY rows that ever reach the
    // driver are the under-cap reports this compatibility API's
    // callback contract requires — read back from the report
    // partition, bounded by `maxDatomsPerReport`, after the pointer
    // told us the count. The streaming internals (per-trigger
    // counting, boundary holdback, replay) no longer collect anything.
    val reportDir = s"$checkpoint/graft-tx-reports"
    val fields = graft.store.Store.schema.fieldNames.toSeq
    txReportQueueToTable(spark, store, basis, reportDir, maxFilesPerTrigger)(
      checkpoint) { ptr =>
      if (ptr.nDatoms > maxDatomsPerReport)
        onReport(TxReport(ptr.t, Seq.empty, Some(
          s"tx ${ptr.t} has ${ptr.nDatoms} datoms, over " +
            s"maxDatomsPerReport=$maxDatomsPerReport; read it from the " +
            s"report table (${ptr.path}) or the store log (tx = ${ptr.t}) instead")))
      else {
        val rows = spark.read.parquet(ptr.path)
          .withColumn("tx", lit(ptr.t))
          .select(fields.map(col): _*)
          .collect().toSeq
        onReport(TxReport(ptr.t, rows.sortBy(r =>
          (r.getAs[String]("e"), r.getAs[String]("a"), r.getAs[String]("v")))))
      }
    }
  }

  /** One completed transaction's POINTER — the no-driver-rows report:
    * basis `t`, its datom count, and the report-table partition
    * holding its datoms (`reportDir/tx=<t>`, full Store.schema). */
  final case class TxReportPointer(t: Long, nDatoms: Long, path: String)

  /** [[txReportQueue]] with the DRIVER REMOVED from the data path —
    * the deployment shape for large transactions: completed txes'
    * datoms are written EXECUTOR-SIDE into a report TABLE
    * (`reportDir`, partitioned by tx; dynamic partition overwrite
    * makes trigger replays idempotent), and the subscriber receives
    * only [[TxReportPointer]]s. No `maxDatomsPerReport` cap exists in
    * this mode because no datom ever reaches the driver — a
    * multi-M-datom tx streams straight from log scan to report
    * partition; the only driver traffic is the per-tx COUNT map
    * (bounded by txes-per-trigger, metadata scale) and the pointers.
    * The boundary-tx holdback stash is likewise written and merged as
    * DataFrames (never collected). Same completeness/ordering/replay
    * contract as [[txReportQueue]]. */
  def txReportQueueToTable(spark: SparkSession, store: graft.store.Store,
      basis: Long, reportDir: String, maxFilesPerTrigger: Int = 1000)(
      checkpoint: String)(onReport: TxReportPointer => Unit): TxReportQueue = {
    import java.nio.file.{Files, Paths}
    val stashRoot = Paths.get(checkpoint, "graft-tx-holdback")
    def stashIds(): Seq[Long] = listStashIds(stashRoot)
    def readMeta(id: Long): Option[(Long, Long)] = { // (tx, cnt)
      val m = stashRoot.resolve(s"$id/meta")
      if (!Files.exists(m)) None else {
        val parts = new String(Files.readAllBytes(m), "UTF-8").trim.split(" ")
        Some((parts(0).toLong, parts(1).toLong))
      }
    }
    def stashDf(id: Long): Option[org.apache.spark.sql.DataFrame] = {
      val p = stashRoot.resolve(s"$id/rows.parquet")
      if (!Files.exists(p)) None
      else Some(spark.read.schema(graft.store.Store.schema).parquet(p.toString))
    }
    def deleteStash(id: Long): Unit = deleteStashDir(stashRoot.resolve(s"$id"))
    // executor-side publish: append-by-overwrite of exactly the txes'
    // partitions (replay rewrites identical bytes — idempotent)
    def publish(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("tx").parquet(reportDir)
    def pointer(t: Long, cnt: Long): Unit =
      onReport(TxReportPointer(t, cnt, s"$reportDir/tx=$t"))
    val q = store.eavStream(Some(maxFilesPerTrigger))
      .filter(col("tx") > basis)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (rawBatch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val batch = rawBatch.select(
          graft.store.Store.schema.fieldNames.toSeq.map(col): _*)
        val prevId = stashIds().filter(_ < batchId).lastOption
        val holdback = prevId.flatMap(readMeta)
        val counts = batch.groupBy(col("tx")).count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val totals = holdback.foldLeft(counts) { case (m, (htx, hcnt)) =>
          m.updated(htx, m.getOrElse(htx, 0L) + hcnt)
        }
        if (totals.nonEmpty) {
          val boundary = totals.keys.max
          val completes = totals.keys.filter(_ < boundary).toSeq.sorted
          if (completes.nonEmpty) {
            val fromBatch = batch.filter(col("tx").isin(completes: _*))
            val fromStash = holdback.toSeq.collect {
              case (htx, _) if htx < boundary => prevId.flatMap(stashDf)
            }.flatten
            publish(fromStash.foldLeft(fromBatch)(_ unionByName _))
            completes.foreach(t => pointer(t, totals(t)))
          }
          // stash the boundary tx for the next trigger — as a
          // DataFrame write, never a collect (overwrite on replay)
          deleteStash(batchId)
          Files.createDirectories(stashRoot.resolve(s"$batchId"))
          val bBatch = batch.filter(col("tx") === boundary)
          val bAll = holdback.toSeq.collect {
            case (htx, _) if htx == boundary => prevId.flatMap(stashDf)
          }.flatten.foldLeft(bBatch)(_ unionByName _)
          bAll.write.mode("overwrite")
            .parquet(stashRoot.resolve(s"$batchId/rows.parquet").toString)
          Files.write(stashRoot.resolve(s"$batchId/meta"),
            s"$boundary ${totals(boundary)}".getBytes("UTF-8"))
          stashIds().filter(id => id < prevId.getOrElse(batchId)).foreach(deleteStash)
        }
        ()
      }
      .start()
    new TxReportQueue(q, () => {
      stashIds().lastOption.foreach { id =>
        readMeta(id).foreach { case (t, cnt) =>
          stashDf(id).foreach(publish)
          pointer(t, cnt)
        }
      }
      stashIds().foreach(deleteStash)
    })
  }

  /** LIVE db-stats — the first consumer every tx-report subscriber
    * builds: a continuously-maintained per-attribute datom count over
    * the store, expressed as a plain streaming aggregation over the
    * log (no custom state code — Structured Streaming's complete-mode
    * aggregate IS the maintained view). `net_datoms` nets retractions
    * against asserts, `n_datoms` counts log rows. Registered as temp
    * view `viewName`, so `spark.table(viewName)` reads the CURRENT
    * stats at any moment while loads stream in. Memory sink = local
    * live view; a cluster deployment points the same aggregation at a
    * real sink. State is one row per attribute — bounded by schema
    * size, not log length. */
  def liveDbStats(store: graft.store.Store, viewName: String)(
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    store.eavStream()
      .groupBy(col("a"))
      .agg(count(lit(1)).as("n_datoms"),
        sum(when(col("op"), 1L).otherwise(-1L)).as("net_datoms"))
      .writeStream
      .outputMode(OutputMode.Complete)
      .option("checkpointLocation", checkpoint)
      .format("memory").queryName(viewName)
      .start()

  /** Datomic `d/sync` analog: block until the store's basis-t reaches
    * `t`, then return it (callers then read `store.current` / `asOf`
    * at a basis they KNOW includes their own write — the
    * read-your-writes coordination `d/sync` exists for). Polls the
    * log's tx max (parquet column stats — no data pages); throws on
    * timeout like Datomic's deref. */
  def sync(store: graft.store.Store, t: Long, timeoutMs: Long = 30000L,
      pollMs: Long = 50L): Long = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var b = store.basisT
    while (b < t) {
      if (System.nanoTime() > deadline)
        throw new java.util.concurrent.TimeoutException(
          s"d/sync: basis $b has not reached $t within ${timeoutMs}ms")
      Thread.sleep(pollMs)
      b = store.basisT
    }
    b
  }

  /** Streaming datom ingestion: each micro-batch of (e, a, v[, v_long,
    * is_ref]) rows appends atomically to the EAV store with
    * tx = txBase + batchId, so the store is queryable — `current`,
    * `asOf`, `since`, Datalog — WHILE the stream runs, and every
    * micro-batch is its own time-travel horizon. Replayed batches
    * skip via a tx-presence probe: the log IS the ledger, the same
    * in-log idempotency the loader uses (batch.clj:42-60). */
  def datomStreamSink(datoms: DataFrame, store: graft.store.Store, txBase: Long)(
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    datoms.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val tx = txBase + batchId
        val applied = store.exists &&
          store.eav.filter(col("tx") === tx).limit(1).count() > 0
        if (!applied && !batch.isEmpty) {
          val full = Seq(
            "v_long" -> lit(null).cast("long"),
            "is_ref" -> lit(false)).foldLeft(batch.toDF()) { case (df, (c, d)) =>
            if (df.columns.contains(c)) df else df.withColumn(c, d)
          }
          store.append(full.withColumn("tx", lit(tx)))
        }
        ()
      }
      .start()
}
