package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Datomic's covering indexes as PHYSICAL parquet layouts. The live
  * store answers `index-range` by filtering the log view
  * ([[Store.indexRange]]); at 100 TB the index must be a LAYOUT, not
  * a filter — Datomic itself keeps EAVT/AEVT/AVET/VAET as separately
  * sorted segment trees precisely so a range read touches only the
  * segments that can hold it. Here that becomes: range-cluster the
  * resolved state on the index's sort key and persist; every file
  * then covers a disjoint key range, parquet row-group min/max
  * statistics mirror the clustering, and a range predicate prunes at
  * BOTH levels (Spark file skipping + row-group skipping) before any
  * row is read. The same write also sorts within partitions, so scans
  * that do survive pruning read key-clustered pages (fast predicate
  * evaluation, high compression).
  */
object IndexLayout {

  /** Persist the AVET layout: files clustered by (a, v_long). On a
    * cluster this is the index-build job — one range-shuffle of the
    * state, embarrassingly parallel writes, no driver involvement. */
  def materializeAvet(state: DataFrame, path: String, buckets: Int): Unit =
    state.repartitionByRange(buckets, col("a"), col("v_long"))
      .sortWithinPartitions(col("a"), col("v_long"))
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** `d/index-range` against the materialized layout: a plain read
    * whose (a, v_long) predicates push down to the parquet scan —
    * `.explain` shows them in PushedFilters, and the clustered layout
    * turns them into skipped files/row-groups rather than row-level
    * work. Half-open [vFrom, vUntil) like the live path. */
  def avetRange(spark: SparkSession, path: String, a: String,
      vFrom: Long, vUntil: Long): DataFrame =
    spark.read.parquet(path)
      .filter(col("a") === a && col("v_long") >= vFrom && col("v_long") < vUntil)

  /** Datomic's fulltext index (a Lucene tree beside the EAVT store)
    * re-expressed the same way as the AVET layout: an inverted
    * POSTING-LIST table — one row per (term, doc), clustered on the
    * term's hash. The live `fulltext` Datalog function scans text;
    * at 100 TB search must touch only the postings of the queried
    * terms, so the build range-clusters postings on `term_hash` and
    * a term lookup becomes an IN-filter that parquet file/row-group
    * statistics resolve to a handful of files — the inverted index's
    * seek, re-expressed as layout + pushdown. Tokenization matches
    * `fulltext` (lowercase, split on non-alphanumeric). */
  def materializePostings(docs: DataFrame, idCol: String, textCol: String,
      path: String, buckets: Int): Unit =
    docs.select(col(idCol).as("doc_id"),
        explode_outer(expr(
          s"filter(split(lower($textCol), '[^a-z0-9]+'), w -> w <> '')")).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .withColumn("term_hash", xxhash64(col("term")))
      .repartitionByRange(buckets, col("term_hash"))
      .sortWithinPartitions(col("term_hash"), col("doc_id"))
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Term lookup against the layout: the `term_hash` IN-list pushes
    * down (file + row-group skipping); the string equality guards
    * hash collisions AFTER pruning. Returns (term, doc_id, tf). */
  // ── Bucketed AVET + tail-merge compaction ──────────────────────────
  // Datomic doesn't rebuild its index trees per transaction: the log
  // tail accumulates and a background INDEXING job merges it into the
  // sorted segments, touching only the segments the tail lands in.
  // The layout below re-expresses that: the index is a parquet table
  // DIRECTORY-PARTITIONED by range bucket (boundaries recorded at
  // build in a sidecar), so
  //   - a range read prunes whole directories (true file skipping,
  //     stronger than row-group stats) before the usual pushdown;
  //   - compaction reads ONLY the buckets the tail touches, merges,
  //     and dynamic-partition-overwrite rewrites just those
  //     directories — untouched buckets are never read or written.
  // At 100 TB with a small tail this is the difference between a
  // full-index rewrite and a few segment rewrites — Datomic's
  // indexing economics, re-expressed as layout + dynamic overwrite.

  /** Boundary sidecar: upper-INCLUSIVE (a, v_long) composite bound per
    * bucket except the last (+∞). Computed from a bounded sort-key
    * sample at build; correctness never depends on boundary quality —
    * only write amplification does. */
  private def boundsPath(path: String) = s"$path/_bounds.json"

  private def writeBounds(path: String, bounds: Seq[(String, Long)]): Unit = {
    val json = bounds.map { case (a, v) =>
      s"""{"a": "${a.replace("\\", "\\\\").replace("\"", "\\\"")}", "v": $v}"""
    }.mkString("[", ",", "]")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(boundsPath(path)), json)
  }

  private def readBounds(path: String): Seq[(String, Long)] = {
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(boundsPath(path)))
    """\{"a": "((?:[^"\\]|\\.)*)", "v": (-?\d+)\}""".r.findAllMatchIn(json).map { m =>
      (m.group(1).replace("\\\"", "\"").replace("\\\\", "\\"), m.group(2).toLong)
    }.toSeq
  }

  /** Bucket id of each row: how many boundaries the key exceeds — a
    * bounded `filter` over the broadcast boundary array literal (≤
    * buckets elements), evaluated scan-side. */
  private def withBucket(df: DataFrame, bounds: Seq[(String, Long)]): DataFrame = {
    val arr = array(bounds.map { case (a, v) =>
      struct(lit(a).as("ba"), lit(v).as("bv"))
    }: _*)
    df.withColumn("bucket",
      size(filter(arr, b =>
        b.getField("ba") < col("a") ||
          (b.getField("ba") === col("a") && b.getField("bv") < col("v_long")))))
  }

  /** Build the bucketed layout: boundary sample → per-bucket sorted
    * parquet under `bucket=N/` directories. One exchange on the bucket
    * id + per-partition sort — embarrassingly parallel writes. */
  def materializeAvetBucketed(state: DataFrame, path: String, buckets: Int): Unit = {
    val n = buckets.max(1)
    // boundary sample: deterministic every-k-th element of the sorted
    // (a, v_long) sample, driver-bounded (≤ 8k keys)
    val sample = state.select(col("a"), col("v_long"))
      .orderBy(xxhash64(col("a"), col("v_long"), col("e"))).limit(8192)
      .orderBy(col("a"), col("v_long")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val step = math.max(1, sample.length / n)
    val bounds = (1 until n).flatMap(i => sample.lift(i * step - 1)).distinct
    withBucket(state, bounds)
      .repartition(n, col("bucket"))
      .sortWithinPartitions(col("bucket"), col("a"), col("v_long"))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(path)
    writeBounds(path, bounds) // after the write: Overwrite wipes the dir
  }

  /** Merge a datom tail into the layout, rewriting ONLY the buckets
    * the tail touches (dynamic partition overwrite). Cost ∝ touched
    * buckets + tail, never the index size. */
  def compactTail(spark: SparkSession, path: String, tail: DataFrame): Unit = {
    val bounds = readBounds(path)
    val tailB = withBucket(tail, bounds)
    // touched-bucket set: bounded by the bucket count, tiny collect
    val touched = tailB.select(col("bucket")).distinct().collect().map(_.getInt(0))
    if (touched.isEmpty) return
    val cols = tail.columns.map(col) :+ col("bucket")
    val old = spark.read.parquet(path) // partition-pruned by the isin below
      .filter(col("bucket").isin(touched.map(Integer.valueOf): _*))
      .select(cols: _*)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try old.unionByName(tailB.select(cols: _*))
      .repartition(touched.length.max(1), col("bucket"))
      .sortWithinPartitions(col("bucket"), col("a"), col("v_long"))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Range read against the bucketed layout: candidate buckets are
    * derived from the sidecar DRIVER-side, so the `bucket` predicate
    * prunes whole directories before the (a, v_long) pushdown prunes
    * row groups within the survivors. */
  def avetRangeBucketed(spark: SparkSession, path: String, a: String,
      vFrom: Long, vUntil: Long): DataFrame = {
    val bounds = readBounds(path)
    def bucketOf(key: (String, Long)): Int =
      bounds.count(b => b._1 < key._1 || (b._1 == key._1 && b._2 < key._2))
    val lo = bucketOf((a, vFrom))
    val hi = bucketOf((a, vUntil)) // vUntil exclusive, but inclusive here is safe
    spark.read.parquet(path)
      .filter(col("bucket") >= lo && col("bucket") <= hi &&
        col("a") === a && col("v_long") >= vFrom && col("v_long") < vUntil)
  }

  /** Two-dimensional clustering: order by the Morton interleave of two
    * pre-scaled keys ([[graft.functions.ZOrder64]]), so contiguous key
    * ranges are small RECTANGLES in (a, b) space and every persisted
    * file carries narrow min/max statistics in BOTH raw columns — a
    * predicate on either dimension (or both) then resolves at the
    * scan via row-group statistics instead of row-level work. This is
    * the standard lakehouse Z-ORDER; 1-D range clustering
    * ([[materializeAvet]]) can only make one access path prunable,
    * and the events table has two (by user, by time). The z key
    * exists only at WRITE time — reads filter the raw columns, which
    * is what keeps both predicates pushable. */
  def materializeZorder(df: DataFrame, aCol: String, bCol: String,
      path: String, buckets: Int): Unit = {
    df.withColumn("__z",
        expr(s"zorder64(cast($aCol as bigint), cast($bCol as bigint))"))
      .repartitionByRange(buckets, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  def postingsLookup(spark: SparkSession, path: String,
      terms: Seq[String]): DataFrame = {
    // xxhash64(lit(t)) constant-folds to a long literal, so the whole
    // disjunction reaches the scan as a pushable In/Or over term_hash
    val hashPred = terms.map(t => col("term_hash") === xxhash64(lit(t)))
      .reduce(_ || _)
    spark.read.parquet(path)
      .filter(hashPred && col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"), col("tf"))
  }
}
