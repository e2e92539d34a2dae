package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Measurement instrument ONLY (not on any query or bench path) — the
  * round-13 skew A/B the round-12 verdict asked for: time the OLD
  * content-keyed-window census shapes (eradicated in r12 for d20/d37/
  * mm5) against the CURRENT partial-aggregated groupBy shapes, on a
  * corpus with genuinely hot keys. `GenData <sf> <dir> skew` opens
  * EVERY doc with the same ~120-word boilerplate prefix and lets docs
  * differ only in their tails, so each span/gram key of the prefix
  * owns one row per doc — the distribution AQE's skew handling cannot
  * split, because it is a single window partition, not an oversized
  * shuffle partition.
  *
  *   sbt -batch "runMain graft.GenData 0.1 /tmp/sf01skew skew"
  *   SPARK_GRAFT_SF_DIR=/tmp/sf01skew sbt -batch "runMain graft.SkewProbe"
  *
  * Old shapes are verbatim from the pre-r12 tree (cce66e2^): d37's
  * count-over-Window(span) census, d20's string-keyed gram census
  * (the window variant for the hot-key comparison). Timings print per
  * rep; compare medians. The last timed rep also prints its
  * [[QueryMetrics]] counters, whose skew diagnostic — max/median task
  * time and max task shuffle-read rows — is the point: the window
  * shape must co-locate every row of a hot key in ONE task, the census
  * shape partial-aggregates it away map-side, and that difference
  * shows in these numbers even when the fixture is too small for
  * wall-clock separation.
  */
object SkewProbe {
  private def time(label: String, reps: Int)(mk: => DataFrame): Unit = {
    val spark = SparkSession.active
    val secs = (1 to reps).map { i =>
      val (_, dt, c) = QueryMetrics.measure(spark)(
        mk.write.format("noop").mode("overwrite").save())
      if (i == reps) println(f"[skewprobe] $label%-28s $c")
      dt
    }
    println(f"[skewprobe] $label%-28s ${secs.sorted.apply(reps / 2)}%7.2f s  " +
      s"(reps: ${secs.map(x => f"$x%.2f").mkString(" ")})")
    Harness.clearCaches(spark)
  }

  /** d37 census via count-over-window on the span key (pre-r12). */
  private def d37WindowShape(docs: DataFrame, w: Int): DataFrame = {
    val wins = docs
      .select(col("doc_id"), explode(expr(s"word_ngrams(lower(text), $w)")).as("span"))
      .select(col("doc_id"), xxhash64(col("span")).as("span"))
    val perDocSpan = wins.groupBy(col("doc_id"), col("span"))
      .agg(count(lit(1)).as("cnt"))
    val withNDocs = perDocSpan.withColumn("n_docs",
      count(lit(1)).over(Window.partitionBy(col("span"))))
    withNDocs.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_windows"),
        sum(when(col("n_docs") >= 2, col("cnt")).otherwise(0L)).as("n_dup_windows"))
  }

  /** d20 gram census via count-over-window on the gram key (the
    * content-keyed window variant the r12 rework replaced). */
  private def d20WindowShape(docs: DataFrame, minDocs: Int): DataFrame = {
    val grams = docs.select(col("doc_id"), explode(expr("ngram_set(text)")).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gram"))
    val withNDocs = grams.withColumn("n_docs",
      count(lit(1)).over(Window.partitionBy(col("gram"))))
    withNDocs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_docs") >= minDocs, 1L).otherwise(0L)).as("n_boiler"))
  }

  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf01skew")
    val reps = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val spark = Harness.session()
    def docs = graft.sources.Tables.documents(spark, d)
    // warmup (codegen/JIT) then timed reps, old vs new per operator
    time("d37 window (warm)", 1)(d37WindowShape(docs, 8))
    time("d37 window census", reps)(d37WindowShape(docs, 8))
    time("d37 groupBy census", reps)(
      graft.queries.Llm.duplicateSpans(docs, window = 8, hashSpans = true))
    time("d20 window census", reps)(d20WindowShape(docs, 3))
    time("d20 groupBy census", reps)(
      graft.queries.Curate.d20_boilerplate(spark, d))
    spark.stop()
  }
}
