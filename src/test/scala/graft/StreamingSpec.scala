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
