package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one way the program's mains and the test suites start and tidy
  * a Spark session. */
object Harness {

  /** The only session builder: `local[cpus]` with one shuffle partition
    * per core, AQE on, UTC, parquet nanos read as longs (the engine's
    * epoch-nanos convention), no UI, and every native function of
    * [[GraftExtensions]] installed at birth. `cpus` defaults to
    * `SPARK_GRAFT_CPUS` if set, else the JVM's available processors. */
  def session(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // shuffle/spill on tmpfs when there is one: a timing run stuck
      // in kernel write syscalls on a degraded disk measures the disk,
      // not the engine (a real cluster writes shuffle to local NVMe).
      // Shuffle volume per harness query is ≪ RAM.
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark-local"
        else System.getProperty("java.io.tmpdir"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The harness queries sorted by name, kept to those containing one of
    * the comma-separated substrings of `only` (default
    * `SPARK_GRAFT_ONLY`; unset keeps every query). */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val subs = only.map(_.split(",").toSeq)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => subs.forall(_.exists(n.contains)) }
  }

  /** Queries are independent: drops cached plans and any blocks a query
    * left behind (localCheckpoint fixpoints, bucketed temp tables), so a
    * long run measures each query, not the residue of the ones before
    * it — without this, late queries read 10-20x slower than they run
    * in isolation. */
  def clearCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
