package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** AQE skew-join handling: a hot join key concentrates one shuffle
  * partition; adaptive execution splits it into subpartitions at
  * runtime (plan shows `skew=true`), with no salting in the query.
  * Thresholds are lowered to trip the optimization at test scale;
  * production keeps the defaults. */
class SkewJoinSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("a hot key triggers AQE skew-join splitting (skew=true in plan)") {
    TestSpark.withConfs(Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")) {
      import spark.implicits._
      // 200k rows on ONE key + a thin tail: classic hot-entity skew
      val fact = spark.range(200000).select(lit(1L).as("k"), col("id").as("payload"))
        .union(spark.range(1000).select((col("id") + 2).as("k"), col("id").as("payload")))
      val dim = spark.range(1001).select((col("id") + 1).as("k"), (col("id") * 10).as("attr"))
      // NOTE: no groupBy on the join key afterwards — AQE declines to
      // split a skewed partition when the join's output partitioning
      // is required downstream (it would need an extra shuffle)
      val joined = fact.join(dim, "k").agg(count(lit(1)).as("n"))
      val rows = joined.collect()
      // correctness first: the hot key keeps all 200k rows (+1k tail)
      assert(rows(0).getLong(0) == 201000L, rows(0).toString)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        "expected AQE to mark the hot partition skewed:\n" + p.take(1500))
    }
  }
}
