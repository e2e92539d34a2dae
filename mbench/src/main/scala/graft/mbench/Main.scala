package graft.mbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.edn.Edn
import graft.model.{Mbrainz, SchemaRegistry}
import graft.sources.EdnSource

/** The mbrainz benchmark: one workload per process, closed loop, one
  * client, `local[nproc]` with shuffle partitions = nproc.
  *
  * {{{
  * Main run --workload import|harness-resolve --seed N
  *          --seconds S --trace 0|1 --work DIR [--scale X] [--inject-wrong]
  * Main gen --seed N --scale X --work DIR
  * Main checkgen --seed N --scale X --work DIR
  * }}}
  *
  * `run` prints one line `MBENCH_RESULT {json}` with the metrics, the
  * operation counts and the input sizes; `--trace 1` runs the
  * workload's traced run and reports the per-layer metrics instead of
  * the end-to-end ones.
  */
object Main {

  final case class Opts(cmd: String, workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, scale: Option[Double], injectWrong: Boolean)

  /** Scale multiple of the reference sample (import) and TPC-H-like
    * scale factor (harness-resolve) when `--scale` is absent. */
  val defaultScale: Map[String, Double] = Map("import" -> 0.05, "harness-resolve" -> 0.01)

  def parseOpts(args: Array[String]): Opts = {
    val kv = args.drop(1).sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    Opts(args.headOption.getOrElse("run"), kv.getOrElse("workload", ""),
      kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "10").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("work", "mbench-work"),
      kv.get("scale").map(_.toDouble), args.contains("--inject-wrong"))
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = parseOpts(args)
    val ok = o.cmd match {
      case "gen" =>
        val t = Gen.write(o.work, o.seed, o.scale.getOrElse(0.01))
        println(s"MBENCH_GEN rows=${Gen.entityRows(t)} bytes=${t.ednBytes}")
        true
      case "checkgen" => checkGen(o)
      case "run" =>
        val r = Workloads.run(o, t0)
        println("MBENCH_RESULT " + r)
        !r.contains("\"correct\":false")
      case other => System.err.println(s"unknown command $other"); false
    }
    if (!ok) sys.exit(1)
  }

  /** The generated files parse through `Edn.parse` and through the DSv2
    * `edn` connector with the row counts the generator recorded. */
  def checkGen(o: Opts): Boolean = {
    val t = Gen.write(o.work, o.seed, o.scale.getOrElse(0.01))
    val spark = Workloads.session(new File(o.work))
    val ent = s"${o.work}/entities"
    val expected = Map(
      "artists" -> t.rowsPerType("artists"), "areleases" -> t.rowsPerType("areleases"),
      "areleases-artists" -> t.rowsPerType("areleases-artists"),
      "labels" -> t.rowsPerType("labels"), "releases" -> t.rowsPerType("releases"),
      "releases-artists" -> t.rowsPerType("releases-artists"),
      "media" -> (Gen.entityRows(t) - Seq("artists", "areleases", "areleases-artists",
        "labels", "releases", "releases-artists").map(t.rowsPerType).sum))
    val bad = expected.toSeq.sortBy(_._1).flatMap { case (name, n) =>
      val path = s"$ent/$name.edn"
      val parsed = Edn.parseAll(EdnSource.readText(path)).size.toLong
      val connector = EdnSource.readEntities(spark, path, Mbrainz.byName(name)).count()
      println(s"MBENCH_CHECKGEN $name expected=$n parse=$parsed connector=$connector")
      if (parsed == n && connector == n) None else Some(name)
    }
    val dicts = Seq(EdnSource.readEnums(s"$ent/enums.edn").size.toLong -> t.nEnumValues.toLong,
      Seq("countries", "langs", "scripts").map(d =>
        EdnSource.readSuperEnum(s"$ent/$d.edn").size.toLong).sum -> t.nDictEntries.toLong,
      SchemaRegistry.load(s"$ent/schema.edn").attrs.size.toLong -> (t.nSchemaAttrs + 2L))
    println(s"MBENCH_CHECKGEN dictionaries ${dicts.mkString(" ")}")
    spark.stop()
    bad.isEmpty && dicts.forall { case (a, b) => a == b }
  }
}

/** Checks of one operation; the operation fails if any check fails. */
final class Checks {
  val failed = mutable.ArrayBuffer[String]()
  def apply(cond: Boolean, msg: => String): Unit = if (!cond) failed += msg
}

/** Shared state of one workload run. */
final class Ctx(val spark: SparkSession, val o: Main.Opts, processStart: Long) {
  val work = new File(o.work)
  var trace = new Trace(spark.sparkContext, enabled = false)
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val info = mutable.LinkedHashMap[String, String]()

  /** Runs one operation: attempted once, failed if it throws or a check
    * fails. */
  def op(what: String)(body: Checks => Unit): Unit = {
    attempted += 1
    val c = new Checks
    try body(c)
    catch { case e: Throwable => c.failed += s"$what threw: $e" }
    if (c.failed.nonEmpty) {
      failed += 1
      if (failures.size < 20) failures ++= c.failed.take(3).map(m => s"$what: $m")
      System.err.println(s"[mbench] CHECK FAILED $what: ${c.failed.take(3).mkString("; ")}")
    }
  }

  /** A deliberately wrong expected value, for the self-test of the checks. */
  def wrong(n: Long): Long = if (o.injectWrong) n + 1 else n
  def wrong(s: String): String = if (o.injectWrong) s + "~" else s

  /** A progress line on stderr, with the seconds since process start. */
  def progress(what: String): Unit =
    System.err.println(f"[mbench] $what%-14s at ${(System.nanoTime() - processStart) / 1e9}%7.1f s")

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def infoNum(name: String, v: Double): Unit = info(name) = Stats.num(v)
  def infoStr(name: String, v: String): Unit = info(name) = Stats.q(v)

  def dir(name: String): File = { val d = new File(work, name); Stats.rmrf(d); d.mkdirs(); d }

  /** Bench hygiene between independent operations: drop cached plans and
    * leftover blocks. */
  def clearCaches(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Stats {
  /** Linear-interpolation percentile (q in [0, 1]). */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.ceil(h).toInt
    s(lo) + (s(hi) - s(lo)) * (h - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def files(d: File): Seq[File] =
    if (!d.exists()) Nil
    else if (d.isFile) Seq(d)
    else Option(d.listFiles()).toSeq.flatten.flatMap(files)
  def bytes(d: File): Long = files(d).map(_.length()).sum
  /** Parquet data files of a store (no checksums or markers). */
  def dataFiles(d: File): Int = files(d).count(_.getName.endsWith(".parquet"))

  def rmrf(d: File): Unit = {
    if (d.isDirectory) Option(d.listFiles()).toSeq.flatten.foreach(rmrf)
    d.delete()
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def writeText(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
  }

  /** Storage size of every persisted block: the maintained snapshot once
    * `Store.current` has materialized it. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
}
