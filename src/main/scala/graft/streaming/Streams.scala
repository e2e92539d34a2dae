package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface. The reference pipeline is genuinely
  * streaming (bounded memory over arbitrary files, SURVEY §2.6) but has
  * no event-time semantics. This module holds the event-stream reader
  * (`readEvents`/`withEventTime`), the watermarked stream-stream click
  * attribution join (batch twin q42) and streaming curation (batch twin
  * d38's prefix). It neither reads nor writes the datom store: data
  * enters the store only through the loader's batch append.
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
}
