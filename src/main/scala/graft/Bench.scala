package graft

/** Benchmark main (driver contract): runs every harness query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  * A warmup action first, so JVM/Spark startup doesn't land on the
  * first query's number; per-query progress goes to stderr. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()

    // warmup: touch every table once (codegen + IO caches + thread pools)
    Seq("lineitem", "orders", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").count()
    }

    // JIT warmup: run EVERY query once at the smallest SF before timing.
    // Whole-stage codegen emits the same classes regardless of data
    // volume, so this compiles + JITs each query's generated code on
    // ~100x less data — without it the first heavy execution of a
    // stage runs partly interpreted and times 10-20x worse than the
    // engine's steady state (measured: q49 227s cold vs 6s warm).
    // local-iteration filter: SPARK_GRAFT_ONLY=q57,q60 times only the
    // matching queries (comma-separated substrings). The driver never
    // sets it, so the recorded BENCH artifacts always cover everything.
    val names = Harness.selected()

    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR",
      "/root/testdata/sf0.001")
    if (new java.io.File(warmDir).isDirectory) {
      val t0 = System.nanoTime()
      names.foreach { case (name, fn) =>
        // noop sink, matching the timed action — count() would skip
        // JIT-compiling the projection paths the timed run executes
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup $name: ${e.getMessage}") }
        Harness.clearCaches(spark)
      }
      System.err.println(f"[bench] warmup pass done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    // Per-query variance on this host swamps real deltas: roving
    // degradation windows slow EVERYTHING 20-100x for minutes at a
    // time (observed: a 0.3s query recording 44s medians because all
    // 5 back-to-back runs landed inside one window). Defense is
    // experiment DESIGN, not statistics alone: run the whole suite
    // once per PASS and take each query's median ACROSS passes — one
    // query's samples are then minutes apart, so a window poisons at
    // most one sample per query instead of all of them.
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_RUNS", "5").toInt.max(1)
    val samples = scala.collection.mutable.Map[String, List[(Double, Boolean)]]()
      .withDefaultValue(Nil)
    val passSecs = scala.collection.mutable.ListBuffer[Double]()
    for (pass <- 1 to nRuns) {
      val t0 = System.nanoTime()
      names.foreach { case (name, fn) =>
        val q0 = System.nanoTime()
        // noop DSv2 sink, NOT count(): count() lets the optimizer
        // prune every projection that doesn't feed a filter/agg/join,
        // so pure map queries (mm6's frame energies, d44's classifier,
        // q13's tempids) timed the SCAN only — the noop write forces
        // every output column to materialize while still writing
        // nothing (measured: mm6 0.13 s under count() vs ~0.7 s real)
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false }
        val sec = (System.nanoTime() - q0) / 1e9
        // per-query progress: a stalled/straggling query must be
        // identifiable from stderr while the run is still going
        System.err.println(f"[bench] p$pass $name%-26s $sec%7.2f s")
        Harness.clearCaches(spark)
        samples(name) = (sec, ok) :: samples(name)
      }
      passSecs += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] pass $pass/$nRuns done in ${passSecs.last}%.1f s")
    }
    val results = names.map { case (name, _) =>
      val runs = samples(name).reverse
      val ok = runs.forall(_._2)
      val sorted = runs.map(_._1).sorted
      val median = sorted(sorted.size / 2)
      val runsStr = runs.map(r => f"${r._1}%.2f").mkString(" ")
      System.err.println(f"[bench] $name%-26s $median%8.2f s  (runs: $runsStr)" +
        (if (ok) "" else "  FAILED"))
      (name, median, ok)
    }
    // a failed query must be visible in the JSON (negative time) and in
    // the exit code — a regression can't silently record a fast "win"
    val qs = results.map { case (k, v, ok) => "\"" + k + "\":" + (if (ok) v else -1) }
      .mkString("{", ",", "}")
    val failed = results.filterNot(_._3).map(_._1)
    val total = results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // pass_sec: whole-suite wall time per pass — identical code should
    // give near-identical passes, so a 62s→652s spread IS the host's
    // degradation window, visible right in the recorded artifact
    val passJson = passSecs.map(p => f"$p%.1f").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"n_runs":$nRuns,"pass_sec":$passJson,"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
