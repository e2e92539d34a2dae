package graft

import org.apache.spark.sql.execution.FormattedMode

/** The one profiling main. For every selected harness query
  * (`SPARK_GRAFT_ONLY`, see [[Harness.selected]]) on
  * `SPARK_GRAFT_SF_DIR` it
  *  1. prints one `FP` line of physical-plan node counts (join
  *     strategies, exchanges, cartesians, top-k, hash and sort
  *     aggregates) of the UNEXECUTED plan;
  *  2. writes the formatted explain to `$SPARK_GRAFT_EXPLAIN_OUT/<query>.txt`
  *     when that is set (the plan-evidence artifact behind
  *     `plans/r{N}/`);
  *  3. runs the query `SPARK_GRAFT_RUNS` times (default 3; 0 = plan
  *     only, nothing executes) to the noop sink, printing each run's
  *     seconds and [[QueryMetrics]] counters. Run 1 carries the
  *     codegen/JIT cost every Spark job pays once; a query whose later
  *     runs are fast has a warm-up artifact, not a plan problem.
  *
  * Plan-stability audit: run plan-only at two scale factors and diff
  * the `FP` lines — identical fingerprints mean the optimizer picked
  * the same strategy shape at both scales; a broadcast→SortMergeJoin
  * flip on a grown build side is the only diff a healthy decade step
  * should show (and `cart` must stay 0 everywhere):
  *
  *   SPARK_GRAFT_RUNS=0 SPARK_GRAFT_SF_DIR=<sf0.1 dir> \
  *     sbt -batch "runMain graft.Profile" | grep "FP " > /tmp/plans_sf01.txt
  *   SPARK_GRAFT_RUNS=0 SPARK_GRAFT_SF_DIR=<sf1 dir> \
  *     sbt -batch "runMain graft.Profile" | grep "FP " > /tmp/plans_sf1.txt
  *   diff /tmp/plans_sf01.txt /tmp/plans_sf1.txt
  *
  * Queries that drive fixpoint loops (retract closure, Datalog
  * recursion) execute their bounded driver-side iteration during
  * CONSTRUCTION; the final plan is still fingerprinted unexecuted. */
object Profile {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a harness data directory"))
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val explainOut = sys.env.get("SPARK_GRAFT_EXPLAIN_OUT")
    explainOut.foreach(new java.io.File(_).mkdirs())
    val spark = Harness.session()
    for ((name, fn) <- Harness.selected()) {
      val planned =
        try {
          val qe = fn(spark, d).queryExecution
          val p = qe.executedPlan.toString
          def n(pat: String) = pat.r.findAllIn(p).size
          println(s"FP $name bhj=${n("BroadcastHashJoin")} smj=${n("SortMergeJoin")} " +
            s"shj=${n("ShuffledHashJoin")} bnlj=${n("BroadcastNestedLoopJoin")} " +
            s"cart=${n("CartesianProduct")} exch=${n("Exchange")} " +
            s"top=${n("TakeOrderedAndProject")} hagg=${n("\\bHashAggregate")} " +
            s"sagg=${n("SortAggregate")}")
          explainOut.foreach { out =>
            val f = new java.io.PrintWriter(s"$out/$name.txt")
            try f.write(qe.explainString(FormattedMode)) finally f.close()
          }
          true
        } catch { case e: Throwable =>
          println(s"FP $name ERROR ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
        }
      Harness.clearCaches(spark)
      if (planned) for (i <- 1 to runs) {
        try {
          val (_, sec, c) = QueryMetrics.measure(spark)(
            fn(spark, d).write.format("noop").mode("overwrite").save())
          println(f"[profile] $name%-28s run$i $sec%7.2f s  $c")
        } catch { case e: Throwable =>
          println(s"[profile] $name run$i FAILED: ${e.getMessage}")
        }
        Harness.clearCaches(spark)
      }
    }
    spark.stop()
  }
}
