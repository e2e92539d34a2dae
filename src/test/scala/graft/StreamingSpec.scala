package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams
import graft.StreamingSpec.Ev

object StreamingSpec {
  /** One event as the hand-rolled sessionizer below reads it. */
  final case class Ev(user_id: Long, ts_ms: Long, value: Double)
}

class StreamingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("stream-stream interval join (click attribution) equals the batch twin") {
    val dir = "/root/testdata/sf0.001"
    val streamDir = java.nio.file.Files.createTempDirectory("evjoin")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val joined = Streams.clickAttribution(Streams.readEvents(spark, streamDir.toString))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("attrib_out").start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table("attrib_out")
      .select("user_id", "click_id", "imp_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.queries.Relational.q42_click_attribution(spark, dir)
      .select("user_id", "click_id", "imp_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == batch)
    assert(batch.nonEmpty)
  }

  test("built-in session windows match the stateful sessionizer on closed sessions") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val batchSessions = graft.queries.Relational.q21_session_window(spark, dir)
      .select(col("user_id"), col("start_us"), col("n_events")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // same result via the hand-rolled sessionizer run in batch mode
    val evs = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts_ms"), col("value"))
      .as[Ev].collect().toSeq
    val byUser = evs.groupBy(_.user_id)
    val manual = byUser.flatMap { case (u, es) =>
      val sorted = es.sortBy(_.ts_ms)
      val sessions = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      var start = -1L; var last = -1L; var n = 0L
      sorted.foreach { e =>
        if (start < 0 || e.ts_ms - last >= 1800000000L) { // gap in micros
          if (start >= 0) sessions += ((u, start, n))
          start = e.ts_ms; n = 0
        }
        last = e.ts_ms; n += 1
      }
      if (start >= 0) sessions += ((u, start, n))
      sessions
    }.map { case (u, s, n) => (u, s) -> n }.toMap
    assert(batchSessions == manual)
  }

  test("stream-static enrichment: broadcast dim joins inside the micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val dim = Seq(("US", "North America"), ("DE", "Europe")).toDF("code", "region")
    val out = mem.toDF().toDF("id", "code")
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("code"), "left")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try {
      mem.addData((1L, "US"), (2L, "DE"), (3L, "XX"))
      q.processAllAvailable()
      val rows = spark.table("enrich_out")
        .collect().map(r => r.getLong(1) -> Option(r.getString(2))).toMap
      assert(rows == Map(1L -> Some("North America"), 2L -> Some("Europe"), 3L -> None))
    } finally q.stop()
  }

  test("streaming datom ingestion: store queryable mid-stream, batches are horizons") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val registry = new graft.model.SchemaRegistry(Map.empty)
    val store = new graft.store.Store(spark,
      java.nio.file.Files.createTempDirectory("streamstore").toString)
    val ckpt = java.nio.file.Files.createTempDirectory("streamckpt").toString
    val mem = MemoryStream[(String, String, String)]
    val q = Streams.datomStreamSink(
      mem.toDF().toDF("e", "a", "v"), store, txBase = 100L)(ckpt)
    try {
      mem.addData(("e1", "name", "v1"))
      q.processAllAvailable()
      def name(df: org.apache.spark.sql.DataFrame) =
        df.filter(col("e") === "e1" && col("a") === "name")
          .select("v").collect().map(_.getString(0)).toSeq
      assert(name(store.current(registry)) == Seq("v1"), "queryable after batch 0")
      mem.addData(("e1", "name", "v2")) // upsert in a later micro-batch
      q.processAllAvailable()
      assert(name(store.current(registry)) == Seq("v2"), "last micro-batch wins")
      assert(name(store.asOf(registry, 100L)) == Seq("v1"),
        "each micro-batch is an as-of horizon")
      assert(store.eav.select("tx").distinct().count() == 2)
    } finally q.stop()
  }

  test("tx-report-queue: subscriber sees exactly the post-basis txes, in order, across restarts") {
    import spark.implicits._
    val store = new graft.store.Store(spark,
      java.nio.file.Files.createTempDirectory("txqstore").toString)
    val ckpt = java.nio.file.Files.createTempDirectory("txqckpt").toString
    def datoms(rows: (String, String, String, Long)*) =
      rows.toDF("e", "a", "v", "tx")
        .withColumn("v_long", lit(null).cast("long"))
        .withColumn("is_ref", lit(false))
    // history BEFORE the subscription: must never be delivered
    store.append(datoms(("e1", "x/a", "v1", 1L), ("e2", "x/a", "v2", 2L)))
    val basis = store.basisT
    assert(basis == 2L)
    val reports = new java.util.concurrent.ConcurrentLinkedQueue[Streams.TxReport]()
    val q = Streams.txReportQueue(spark, store, basis)(ckpt)(reports.add(_))
    try {
      q.processAllAvailable()
      assert(reports.isEmpty, "nothing at-or-before the basis is delivered")
      store.append(datoms(("e3", "x/a", "v3", 3L)))
      store.append(datoms(("e4", "x/a", "v4", 4L), ("e4", "x/b", "v5", 4L)))
      q.processAllAvailable()
      // tx 3's completeness is proven by tx 4's presence; tx 4 is the
      // boundary — held until close
      val inFlight = reports.toArray(Array.empty[Streams.TxReport])
      assert(inFlight.map(_.t).toSeq == Seq(3L),
        s"boundary tx held back until proven complete: ${inFlight.map(_.t).mkString(",")}")
    } finally q.close()
    val seen = reports.toArray(Array.empty[Streams.TxReport])
    assert(seen.map(_.t).toSeq == Seq(3L, 4L), s"per-tx reports in tx order: ${seen.map(_.t).mkString(",")}")
    assert(seen(0).datoms.map(_.getAs[String]("e")) == Seq("e3"))
    assert(seen(1).datoms.map(r => (r.getAs[String]("e"), r.getAs[String]("a"))).toSeq
      == Seq(("e4", "x/a"), ("e4", "x/b")), "a report carries the tx's FULL datom set")
    // restart with the same checkpoint: only appends after the stop arrive
    store.append(datoms(("e5", "x/a", "v6", 5L)))
    val reports2 = new java.util.concurrent.ConcurrentLinkedQueue[Streams.TxReport]()
    val q2 = Streams.txReportQueue(spark, store, basis)(ckpt)(reports2.add(_))
    try q2.processAllAvailable() finally q2.close()
    val seen2 = reports2.toArray(Array.empty[Streams.TxReport])
    assert(seen2.map(_.t).toSeq == Seq(5L),
      s"restart resumes at the first unseen append, no replay: ${seen2.map(_.t).mkString(",")}")
  }

  test("tx-report-queue: a tx split across micro-batches is still ONE complete report") {
    import spark.implicits._
    val store = new graft.store.Store(spark,
      java.nio.file.Files.createTempDirectory("txfragstore").toString)
    val ckpt = java.nio.file.Files.createTempDirectory("txfragckpt").toString
    def datoms(rows: (String, String, String, Long)*) =
      rows.toDF("e", "a", "v", "tx")
        .withColumn("v_long", lit(null).cast("long"))
        .withColumn("is_ref", lit(false))
    // two attrs → partitionBy("a") writes ≥ 2 part files for tx 1;
    // maxFilesPerTrigger=1 forces them into DIFFERENT micro-batches —
    // the exact fragmentation the holdback exists for
    store.append(datoms(("e1", "x/a", "v1", 1L), ("e1", "x/b", "v2", 1L)))
    store.append(datoms(("e2", "x/a", "v3", 2L)))
    val reports = new java.util.concurrent.ConcurrentLinkedQueue[Streams.TxReport]()
    val q = Streams.txReportQueue(spark, store, basis = 0L,
      maxFilesPerTrigger = 1)(ckpt)(reports.add(_))
    try q.processAllAvailable() finally q.close()
    val seen = reports.toArray(Array.empty[Streams.TxReport])
    assert(seen.map(_.t).toSeq == Seq(1L, 2L),
      s"one report per tx, in order: ${seen.map(_.t).mkString(",")}")
    assert(seen(0).datoms.map(r => (r.getAs[String]("a"), r.getAs[String]("v"))).toSeq
      == Seq(("x/a", "v1"), ("x/b", "v2")),
      "the fragmented tx's report carries BOTH files' datoms")
  }

  test("tx-report table mode: pointers only, datoms land in the report table, split txes complete") {
    import spark.implicits._
    val store = new graft.store.Store(spark,
      java.nio.file.Files.createTempDirectory("txtblstore").toString)
    val ckpt = java.nio.file.Files.createTempDirectory("txtblckpt").toString
    val reportDir = java.nio.file.Files.createTempDirectory("txtblout").toString
    def datoms(rows: (String, String, String, Long)*) =
      rows.toDF("e", "a", "v", "tx")
        .withColumn("v_long", lit(null).cast("long"))
        .withColumn("is_ref", lit(false))
    // tx 1 fragments across triggers (two attrs × maxFilesPerTrigger=1)
    store.append(datoms(("e1", "x/a", "v1", 1L), ("e1", "x/b", "v2", 1L)))
    store.append(datoms(("e2", "x/a", "v3", 2L)))
    val ptrs = new java.util.concurrent.ConcurrentLinkedQueue[Streams.TxReportPointer]()
    val q = Streams.txReportQueueToTable(spark, store, basis = 0L, reportDir,
      maxFilesPerTrigger = 1)(ckpt)(ptrs.add(_))
    try q.processAllAvailable() finally q.close()
    val seen = ptrs.toArray(Array.empty[Streams.TxReportPointer])
    assert(seen.map(_.t).toSeq == Seq(1L, 2L),
      s"one pointer per tx, in order: ${seen.map(_.t).mkString(",")}")
    assert(seen.map(_.nDatoms).toSeq == Seq(2L, 1L))
    assert(seen.map(_.path).toSeq == Seq(s"$reportDir/tx=1", s"$reportDir/tx=2"))
    // the report TABLE carries the datoms — including the fragmented
    // tx's rows from BOTH triggers — and the driver callback never saw a row
    val table = spark.read.parquet(reportDir)
      .select("tx", "a", "v").collect()
      .map(r => (r.getAs[Long]("tx"), r.getString(1), r.getString(2))).toSet
    assert(table == Set((1L, "x/a", "v1"), (1L, "x/b", "v2"), (2L, "x/a", "v3")))
  }

  test("tx-report-queue: an over-cap tx degrades to an anomaly report, stream survives") {
    import spark.implicits._
    val store = new graft.store.Store(spark,
      java.nio.file.Files.createTempDirectory("txcapstore").toString)
    val ckpt = java.nio.file.Files.createTempDirectory("txcapckpt").toString
    def datoms(rows: (String, String, String, Long)*) =
      rows.toDF("e", "a", "v", "tx")
        .withColumn("v_long", lit(null).cast("long"))
        .withColumn("is_ref", lit(false))
    store.append(datoms(("e1", "x/a", "v1", 1L), ("e2", "x/a", "v2", 1L),
      ("e3", "x/a", "v3", 1L)))               // 3 datoms: over the cap of 2
    store.append(datoms(("e4", "x/a", "v4", 2L))) // under cap
    val reports = new java.util.concurrent.ConcurrentLinkedQueue[Streams.TxReport]()
    val q = Streams.txReportQueue(spark, store, basis = 0L,
      maxDatomsPerReport = 2L)(ckpt)(reports.add(_))
    try q.processAllAvailable() finally q.close()
    val seen = reports.toArray(Array.empty[Streams.TxReport])
    assert(seen.map(_.t).toSeq == Seq(1L, 2L))
    assert(seen(0).datoms.isEmpty && seen(0).anomaly.exists(_.contains("maxDatomsPerReport")),
      s"over-cap tx is an anomaly pointer, not a driver OOM: ${seen(0)}")
    assert(seen(1).anomaly.isEmpty &&
      seen(1).datoms.map(_.getAs[String]("e")) == Seq("e4"),
      "the stream keeps delivering normal reports after the anomaly")
  }

  test("live db-stats view updates as transactions land; retractions net out") {
    import spark.implicits._
    val store = new graft.store.Store(spark,
      java.nio.file.Files.createTempDirectory("livestore").toString)
    val ckpt = java.nio.file.Files.createTempDirectory("liveckpt").toString
    def datoms(rows: (String, String, String, Long, Boolean)*) =
      rows.toDF("e", "a", "v", "tx", "op")
        .withColumn("v_long", lit(null).cast("long"))
        .withColumn("is_ref", lit(false))
    store.append(datoms(("e1", "x/a", "v1", 1L, true), ("e2", "x/b", "v2", 1L, true)))
    val q = Streams.liveDbStats(store, "live_stats")(ckpt)
    try {
      q.processAllAvailable()
      def stats() = spark.table("live_stats").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(stats() == Map("x/a" -> ((1L, 1L)), "x/b" -> ((1L, 1L))))
      // a later tx asserts one more x/a and retracts the x/b value:
      // the VIEW updates in place — n_datoms counts rows, net nets ops
      store.append(datoms(("e3", "x/a", "v3", 2L, true), ("e2", "x/b", "v2", 2L, false)))
      q.processAllAvailable()
      assert(stats() == Map("x/a" -> ((2L, 2L)), "x/b" -> ((2L, 0L))),
        s"live view must reflect the new tx: ${stats()}")
    } finally q.stop()
  }

  test("tx reports and live db-stats read a log written without an op column as asserts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("oplessstream").toString
    Seq(("e1", "x/a", "v1", 1L), ("e2", "x/b", "v2", 1L), ("e3", "x/a", "v3", 2L))
      .toDF("e", "a", "v", "tx")
      .withColumn("v_long", lit(null).cast("long")).withColumn("is_ref", lit(false))
      .write.partitionBy("a").parquet(s"$dir/eav")
    val store = new graft.store.Store(spark, dir)
    val stats = Streams.liveDbStats(store, "oplessstats")(
      java.nio.file.Files.createTempDirectory("oplessstatsckpt").toString)
    try {
      stats.processAllAvailable()
      val got = spark.table("oplessstats").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == Map("x/a" -> ((2L, 2L)), "x/b" -> ((1L, 1L))), s"net_datoms: $got")
    } finally stats.stop()
    val reports = new java.util.concurrent.ConcurrentLinkedQueue[Streams.TxReport]()
    val q = Streams.txReportQueue(spark, store, basis = 0L)(
      java.nio.file.Files.createTempDirectory("oplessckpt").toString)(reports.add(_))
    try q.processAllAvailable() finally q.close()
    val seen = reports.toArray(Array.empty[Streams.TxReport])
    assert(seen.map(_.t).toSeq == Seq(1L, 2L))
    val ops = seen.toSeq.flatMap(_.datoms).map(_.getAs[Any]("op"))
    assert(ops == Seq(true, true, true), s"ops: $ops")
  }

  test("d/sync: blocks until the basis reaches t, times out if it never does") {
    import spark.implicits._
    val store = new graft.store.Store(spark,
      java.nio.file.Files.createTempDirectory("syncstore").toString)
    def datoms(rows: (String, String, String, Long)*) =
      rows.toDF("e", "a", "v", "tx")
        .withColumn("v_long", lit(null).cast("long"))
        .withColumn("is_ref", lit(false))
    store.append(datoms(("e1", "x/a", "v1", 7L)))
    assert(Streams.sync(store, 7L) == 7L, "an already-reached basis returns immediately")
    // a concurrent writer lands tx 9 while sync waits
    val writer = new Thread(() => {
      Thread.sleep(300)
      store.append(datoms(("e2", "x/a", "v2", 9L)))
    })
    writer.start()
    assert(Streams.sync(store, 9L, timeoutMs = 20000L) >= 9L,
      "sync returns once the writer's tx is visible")
    writer.join()
    intercept[java.util.concurrent.TimeoutException] {
      Streams.sync(store, 99L, timeoutMs = 300L)
    }
  }

  test("readEvents probes the physical form: nanos-as-long files stream unchanged") {
    import spark.implicits._
    // pre-regen testdata shape: ts already epoch-nanos LongType —
    // the probe must pick the long schema and skip the NTZ cast
    val dir = java.nio.file.Files.createTempDirectory("evlong").toString
    Seq((1L, 3600L * 1000 * 1000 * 1000, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir)
    val df = Streams.readEvents(spark, dir)
    assert(df.isStreaming)
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    // the NTZ testdata path still resolves (schema probe, cast applied)
    val real = Streams.readEvents(spark, "/root/testdata/sf0.001/events.parquet")
    assert(real.isStreaming &&
      real.schema("ts").dataType == org.apache.spark.sql.types.LongType)
  }

  test("streaming curation dedups across micro-batches and matches the batch prefix") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text", "source").limit(40)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val (b1, b2) = docs.splitAt(25)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val stream = Streams.curateStream(mem.toDF.toDF("doc_id", "text", "source"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("curate_out").start()
    try {
      mem.addData(b1.toSeq: _*); q.processAllAvailable()
      // second micro-batch replays 10 docs from the first: the dedup
      // state must drop them even though they're in a different batch
      mem.addData((b2 ++ b1.take(10)).toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("curate_out")
      .select("clean_hash").collect().map(_.getString(0))
    assert(got.nonEmpty, "some documents must survive the gate")
    assert(got.length == got.distinct.length, "no content hash emitted twice")
    val batchHashes = graft.queries.Curate.curatePrefix(
        docs.toSeq.toDF("doc_id", "text", "source"))
      .select("clean_hash").distinct().collect().map(_.getString(0)).toSet
    assert(got.toSet == batchHashes,
      "the stream keeps exactly the batch-distinct clean hashes")
  }
}
