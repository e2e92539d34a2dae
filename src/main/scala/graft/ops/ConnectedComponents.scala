package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by min-label propagation — the clustering
  * step a production dedup pipeline runs AFTER pair generation
  * (d03/d04/d06/d15 emit near-dup PAIRS; choosing one canonical doc
  * per duplicate group needs the transitive closure of those pairs).
  *
  * Each round every node takes the min of its own label and its
  * neighbors' labels; convergence in O(graph diameter) rounds. Near-
  * dup graphs are short-diameter (dups of a common source), so a few
  * rounds settle even at corpus scale. All steps are keyed
  * joins/aggregations (shuffle ∝ edges); `localCheckpoint` truncates
  * the per-round lineage exactly as the Datalog fixpoint does — swap
  * for reliable `checkpoint` on a cluster. */
object ConnectedComponents {

  /** Labels every node that appears in `edges` (undirected) with the
    * smallest node id reachable from it: (id, label). Id type is
    * preserved — `min` orders longs numerically and strings
    * lexicographically, so hash/string ids cluster just as well. */
  def components(edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 50): DataFrame = {
    val sym = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .unionByName(edges
        .select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .distinct().localCheckpoint()
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(false)
    var it = 0
    var changed = 1L
    while (changed > 0) {
      it += 1
      require(it <= maxIters, s"components did not converge in $maxIters rounds")
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("label").as("dlabel")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("dlabel")).as("nmin"))
      // carry the previous label through the checkpoint so change
      // detection is a filter on materialized data, not another join;
      // the LAZY checkpoint means the change-count below is the ONE
      // job of the round — it materializes `next` and answers
      // convergence in the same pass (an eager checkpoint ran two)
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          col("label").as("prev"))
        .localCheckpoint(false)
      changed = next.filter(col("label") =!= col("prev")).count()
      labels = next.drop("prev")
    }
    labels
  }
}
