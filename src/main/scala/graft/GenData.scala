package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-testdata generator mirroring the driver's
  * sf-scaled tables (TESTDATA.md schemas + distributions measured off
  * `/root/testdata/sf0.1`: categorical frequencies, value ranges, key
  * reference shapes, sortedness, single-file-per-table layout). Used
  * to produce the sf1 (10× sf0.1) scale-sensitivity dataset — the
  * driver's own generator isn't in the repo, and exact row parity is
  * NOT needed: the correctness gate runs the same DuckDB oracle over
  * the same files, so any realistic deterministic instance exercises
  * the engine end-to-end.
  *
  * Generation is pure column expressions over `spark.range` (xxhash64
  * of the row id + a salt drives every value) — no RNG state, no
  * driver-side loops, reproducible at any scale and parallelism.
  *
  * Usage: `runMain graft.GenData <sf> <outDir>` (e.g. `1 /tmp/sf1`).
  */
object GenData {

  private def h(c: Column, salt: String): Column = pmod(xxhash64(c, lit(salt)), lit(Long.MaxValue))
  private def hmod(c: Column, salt: String, m: Long): Column = pmod(xxhash64(c, lit(salt)), lit(m))
  private def pick(c: Column, salt: String, opts: Seq[String]): Column =
    element_at(array(opts.map(lit): _*), (hmod(c, salt, opts.size.toLong) + 1).cast("int"))
  /** 2-decimal double in [lo, hi). */
  private def money2(c: Column, salt: String, lo: Double, hi: Double): Column =
    round(lit(lo) + hmod(c, salt, ((hi - lo) * 100).toLong).cast("double") / 100.0, 2)
  private def dayTs(base: String, days: Column): Column =
    date_from_unix_date((unix_date(lit(base).cast("date")) + days).cast("int"))
      .cast("timestamp_ntz")

  def generate(spark: SparkSession, sf: Double, outDir: String): Unit = {
    val nCust = (150000 * sf).toLong max 10
    val nSupp = (10000 * sf).toLong max 5
    val nPart = (200000 * sf).toLong max 10
    val nOrders = (1500000 * sf).toLong max 20
    val nLine = (6000000 * sf).toLong max 40
    val nEvents = (1000000 * sf).toLong max 20
    val nUsers = (15000 * sf).toLong max 5
    val nDocs = (50000 * sf).toLong max 10
    val nVecs = (20000 * sf).toLong max 30

    def id(n: Long) = spark.range(n).withColumnRenamed("id", "k")
    val k = col("k")

    write(outDir, "region", spark.createDataFrame(Seq(
      (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST")))
      .toDF("r_regionkey", "r_name"))

    write(outDir, "nation", id(25).select(
      k.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), k.cast("string")).as("n_name"),
      (k % 5).cast("int").as("n_regionkey")))

    write(outDir, "customer", id(nCust).select(
      k.as("c_custkey"),
      format_string("Customer#%09d", k).as("c_name"),
      hmod(k, "cnat", 25).cast("int").as("c_nationkey"),
      money2(k, "cbal", -1000, 10000).as("c_acctbal"),
      pick(k, "cseg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")))

    write(outDir, "supplier", id(nSupp).select(
      k.as("s_suppkey"),
      format_string("Supplier#%09d", k).as("s_name"),
      hmod(k, "snat", 25).cast("int").as("s_nationkey"),
      money2(k, "sbal", -1000, 10000).as("s_acctbal")))

    val adjs = Seq("large", "hot", "blue", "small", "dark", "light", "round", "flat")
    val nouns = Seq("ring", "bolt", "gear", "plate", "wheel", "cog", "pin", "rod")
    write(outDir, "part", id(nPart).select(
      k.as("p_partkey"),
      concat(pick(k, "padj", adjs), lit(" "), pick(k, "pnoun", nouns)).as("p_name"),
      concat(lit("Brand#"), hmod(k, "pbrand", 25).cast("string")).as("p_brand"),
      pick(k, "ptype", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"))
        .as("p_type"),
      (hmod(k, "psize", 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (k % 1000).cast("double") / 10.0, 1).as("p_retailprice")))

    write(outDir, "orders", id(nOrders).select(
      k.as("o_orderkey"),
      hmod(k, "ocust", nCust).as("o_custkey"),
      pick(k, "ostat", Seq("O", "P", "F")).as("o_orderstatus"),
      money2(k, "oprice", 1000, 500000).as("o_totalprice"),
      dayTs("1995-01-01", hmod(k, "odate", 2405)).as("o_orderdate"),
      pick(k, "oprio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))

    write(outDir, "lineitem", id(nLine).select(
      hmod(k, "lord", nOrders).as("l_orderkey"),
      hmod(k, "lpart", nPart).as("l_partkey"),
      hmod(k, "lsupp", nSupp).as("l_suppkey"),
      (hmod(k, "lnum", 7) + 1).cast("int").as("l_linenumber"),
      (hmod(k, "lqty", 50) + 1).cast("double").as("l_quantity"),
      money2(k, "lext", 900, 105000).as("l_extendedprice"),
      (hmod(k, "ldisc", 11).cast("double") / 100.0).as("l_discount"),
      (hmod(k, "ltax", 9).cast("double") / 100.0).as("l_tax"),
      pick(k, "lrf", Seq("A", "N", "R")).as("l_returnflag"),
      pick(k, "lls", Seq("O", "F")).as("l_linestatus"),
      dayTs("1995-01-01", hmod(k, "lship", 2500) + 1).as("l_shipdate")))

    // events: ts non-decreasing in event_id (measured property the
    // streaming/asof queries rely on) — a monotone ramp over 30 days
    // plus jitter strictly below the per-event gap
    val monthUs = 30L * 24 * 3600 * 1000000
    val gapUs = monthUs / nEvents
    write(outDir, "events", id(nEvents).select(
      k.as("event_id"),
      timestamp_micros(
        lit(java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
          .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L) +
          k * lit(gapUs) + hmod(k, "ejit", (gapUs / 2) max 1)
      ).cast("timestamp_ntz").as("ts"),
      hmod(k, "euser", nUsers).as("user_id"),
      pick(k, "etype", Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      (hmod(k, "eval", 56022).cast("double") / 100.0).as("value"),
      format_string("{\"k\": %d}", hmod(k, "eprops", 100)).as("props")))

    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
      "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
      "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
      "table", "the", "value", "vector", "window")
    val vocabArr = array(vocab.map(lit): _*)
    val nWords = (hmod(k, "dlen", 100) + 8).cast("int")
    val docText = array_join(transform(sequence(lit(1), nWords),
      j => element_at(vocabArr,
        (pmod(xxhash64(k * 1000 + j, lit("dword")), lit(vocab.size.toLong)) + 1)
          .cast("int"))), " ")
    write(outDir, "documents", id(nDocs)
      .select(k.as("doc_id"),
        docText.as("text"),
        // en-heavy language mix (~40/15/15/15/15, the measured shape)
        element_at(array(Seq("en", "en", "en", "de", "en", "es", "fr", "en", "zh", "en")
          .map(lit): _*), (hmod(k, "dlang", 10) + 1).cast("int")).as("lang"),
        concat(lit("src"), hmod(k, "dsrc", 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))

    write(outDir, "embeddings", id(nVecs).select(
      k.as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        j => ((pmod(xxhash64(k * 64 + j, lit("evec")), lit(7000L)).cast("double") / 10000.0)
          - 0.35).cast("float")).as("embedding"),
      hmod(k, "elabel", 10).cast("int").as("label")))
  }

  /** Single flat file per table (`<out>/<name>.parquet`) — the
    * driver's layout, which both `sources.Tables` and the DuckDB
    * oracle's `read_parquet` expect. Row groups are capped at 8 MB
    * (default 128 MB): a single-file table with ONE row group can
    * only ever be scanned by one task no matter how small the input
    * splits are, which serializes every scan-side tokenize/explode at
    * sf1+; 8 MB row groups keep the single-file layout the oracle
    * needs while letting Spark's splits actually parallelize — the
    * realistic posture, since a production corpus arrives as many
    * files. Layout only; bytes of data are identical. */
  private def write(outDir: String, name: String, df: DataFrame): Unit = {
    val spark = df.sparkSession
    val tmp = s"$outDir/__tmp_$name"
    df.coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", (8 * 1024 * 1024).toString)
      .parquet(tmp)
    val conf = spark.sessionState.newHadoopConf()
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val fs = tmpPath.getFileSystem(conf)
    val part = fs.listStatus(tmpPath)
      .map(_.getPath).find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
    val dest = new org.apache.hadoop.fs.Path(s"$outDir/$name.parquet")
    fs.delete(dest, false)
    require(fs.rename(part, dest), s"could not install $dest")
    fs.delete(tmpPath, true)
    System.err.println(s"[gendata] wrote $dest")
  }

  def main(args: Array[String]): Unit = {
    val (sf, out) = args match {
      case Array(s, o) => (s.toDouble, o)
      case _ => throw new IllegalArgumentException("usage: GenData <sf> <outDir>")
    }
    val spark = Harness.session()
    generate(spark, sf, out)
    spark.stop()
  }
}
