package graft.mbench

import java.io.File
import graft.{GenData, SparkEntry}
import Stats._

/** `harness-resolve`: the store-resolve family of the query harness
  * (`SparkEntry.queries`) on deterministic TPC-H-shaped tables from
  * `GenData`. Bench's hygiene: a JIT warm-up of every query in set-up, a
  * noop sink, caches cleared between queries. One operation is one
  * query, in a fixed order (the tables do not depend on the seed, so
  * neither does the run); the timed region is three passes, and each
  * query counts with its fastest one. The warm-up writes
  * each query's output, which the runner compares with
  * `SparkEntry.oracleSql` under DuckDB. */
final class HarnessWorkload(ctx: Ctx, sf: Double) extends Workload {
  private val names = HarnessWorkload.queries
  private val cache = new File(ctx.work.getParentFile, "cache")
  private val dataDir = new File(cache, s"tpch-$sf").getPath

  override def setupReps: Int = 1

  /** The tables are deterministic: generated by the first run in a
    * checkout and reused. */
  def setupOnce(): Double = timeS {
    Seq(sf -> dataDir).foreach { case (s, d) =>
      val ready = new File(d, "READY")
      if (!ready.exists()) {
        rmrf(new File(d))
        GenData.generate(ctx.spark, s, d)
        writeText(ready, "ok\n")
      }
    }
  }._2

  /** Runs every query once at the timed scale and writes its output, with
    * the oracle SQL, for the runner's DuckDB comparison: the JIT warm-up
    * and the correctness check in one pass, outside the timed region. */
  override def warmUp(): Double = timeS {
    val out = ctx.dir("harness-out")
    names.foreach { n =>
      ctx.op(s"output-$n") { _ =>
        SparkEntry.queries(n)(ctx.spark, dataDir).coalesce(1).write.mode("overwrite")
          .parquet(new File(out, n).getPath)
      }
      ctx.clearCaches()
    }
    writeText(new File(out, "oracle_sql.json"), names.map(n =>
      s"${q(n)}: ${q(SparkEntry.oracleSql(n))}").mkString("{", ",\n", "}\n"))
    ctx.infoStr("harness_out", out.getPath)
    ctx.infoStr("harness_checked_data", dataDir)
    ctx.infoNum("lineitem_rows", ctx.spark.read.parquet(s"$dataDir/lineitem.parquet").count())
    ctx.infoNum("data_bytes", bytes(new File(dataDir)))
  }._2

  /** Three passes per 10 s of nominal time. */
  def opsFor(s: Double): Int = names.size * 3 * math.max(1, math.round(s / 10.0).toInt)

  /** Each query's fastest pass, summed: a burst of load from other
    * tenants of the host rarely hits every pass of a query. */
  override def timedSeconds(latMs: Seq[Double]): Double = fastest(latMs).sum

  private def fastest(latMs: Seq[Double]): Seq[Double] =
    latMs.grouped(names.size).toSeq.transpose.map(_.min / 1000)

  override def info(latMs: Seq[Double]): Unit =
    ctx.infoNum("harness_geomean_s", geomean(fastest(latMs)))

  def runOp(i: Int): Double = {
    val n = names((i - 1) % names.size)
    var ms = 0.0
    ctx.op(s"query-$n") { _ =>
      val (_, s) = timeS(ctx.trace.span(s"queries.$n") {
        SparkEntry.queries(n)(ctx.spark, dataDir).write.format("noop").mode("overwrite").save()
      })
      ms = s * 1000
    }
    ctx.clearCaches()
    System.err.println(f"[mbench] $n%-24s $ms%8.0f ms")
    ms
  }

  /** Every operation runs twice, untraced and traced, in alternating
    * order, so neither side is the warmer one. Each query counts with
    * its fastest untraced and its fastest traced run. */
  def traced(nOps: Int): Double = {
    val tr = new Trace(ctx.spark.sparkContext, enabled = true)
    ctx.trace = tr
    val pairs = (1 to nOps).map { i =>
      if (i % 2 == 1) { val p = tr.off(runOp(i)); (p, runOp(i)) }
      else { val t = runOp(i); (tr.off(runOp(i)), t) }
    }
    val plain = fastest(pairs.map(_._1))
    val traced = fastest(pairs.map(_._2))
    ctx.metric("harness_geomean_s", geomean(plain), "s")
    names.zip(traced).foreach { case (n, s) => ctx.metric(s"queries.${n}_s", s, "s") }
    val cs = tr.counters(names.map(n => s"queries.$n"): _*)
    ctx.metric("queries.shuffle_mb", cs.shuffleMb, "MB")
    ctx.metric("queries.spill_mb", cs.spillMb, "MB")
    ctx.metric("queries.task_skew", cs.taskSkew, "ratio")
    traced.sum / plain.sum - 1
  }
}

object HarnessWorkload {
  /** Two of the thirteen resolve-family queries: multi-horizon as-of
    * (q30, `resolveAtHorizons`) and entity retraction (q49, the heaviest,
    * the target of narrow entity keys). All thirteen do not fit the run
    * budget on 4 cores; `graft.Bench` still times every query. */
  val queries: Seq[String] = Seq("q30_time_travel", "q49_retract_entity")
}
