package graft

import org.apache.spark.sql.SparkSession

/** Plan-stability fingerprints: for every `SparkEntry.queries` entry,
  * print one line of physical-plan node counts (join strategies,
  * exchanges, cartesians, top-k, hash and sort aggregates) WITHOUT
  * executing the query. Run at two scale factors and diff the
  * outputs — identical fingerprints mean the optimizer picked the
  * same strategy shape at both scales;
  * a broadcast→SortMergeJoin flip on a grown build side is the only
  * diff a healthy decade step should show (and `cart` must stay 0
  * everywhere). Used for the sf0.1→sf1 plan audit (README scale
  * section):
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt -batch "runMain graft.PlanFingerprint" | grep "FP " > /tmp/plans_sf01.txt
  *   SPARK_GRAFT_SF_DIR=/tmp/sf1 \
  *     sbt -batch "runMain graft.PlanFingerprint" | grep "FP " > /tmp/plans_sf1.txt
  *   diff /tmp/plans_sf01.txt /tmp/plans_sf1.txt
  *
  * Queries that drive fixpoint loops (retract closure, Datalog
  * recursion) execute their bounded driver-side iteration during
  * CONSTRUCTION; the final plan is still fingerprinted unexecuted. */
object PlanFingerprint {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark-local"
        else System.getProperty("java.io.tmpdir"))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if only.forall(_.exists(name.contains))) {
      try {
        val p = fn(spark, d).queryExecution.executedPlan.toString
        def n(pat: String) = pat.r.findAllIn(p).size
        println(s"FP $name bhj=${n("BroadcastHashJoin")} smj=${n("SortMergeJoin")} " +
          s"shj=${n("ShuffledHashJoin")} bnlj=${n("BroadcastNestedLoopJoin")} " +
          s"cart=${n("CartesianProduct")} exch=${n("Exchange")} " +
          s"top=${n("TakeOrderedAndProject")} hagg=${n("\\bHashAggregate")} " +
          s"sagg=${n("SortAggregate")}")
      } catch { case e: Throwable =>
        println(s"FP $name ERROR ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
