package graft.mbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-layer tracing: named spans around the benchmark's calls into the
  * program's public functions, plus a listener that charges every Spark
  * task to the span that started its job.
  *
  * A span tags the jobs started inside it with `mbench.<span name>`
  * (Spark job tags); the innermost span owns the tag, so a nested call
  * charges its own jobs. Spans (name, start, end, parent) and counters
  * stay in memory until the run reports them. With tracing off, `span`
  * only runs its body; `off` turns a traced run's tracing off for a
  * while (the listener detached too), to time the same call untraced.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace._

  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private val listener = new LayerListener
  private var on = enabled
  if (enabled) sc.addSparkListener(listener)

  /** Runs `body` untraced: no spans, no job tags, no listener. */
  def off[T](body: => T): T =
    if (!on) body
    else {
      org.apache.spark.MbenchBus.drain(sc)
      sc.removeSparkListener(listener)
      on = false
      try body
      finally { on = true; sc.addSparkListener(listener) }
    }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val idx = spans.size
      spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1))
      stack.headOption.foreach(p => sc.removeJobTag(tagOf(spans(p).name)))
      sc.addJobTag(tagOf(name))
      stack = idx :: stack
      try body
      finally {
        spans(idx).endNs = System.nanoTime()
        sc.removeJobTag(tagOf(name))
        stack = stack.tail
        stack.headOption.foreach(p => sc.addJobTag(tagOf(spans(p).name)))
      }
    }

  private def durS(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** Self time of each span: its duration minus the time its direct
    * children cover. */
  def selfS(s: Span): Double = {
    val idx = spans.indexOf(s)
    durS(s) - spans.filter(_.parent == idx).map(durS).sum
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def totalS(name: String): Double = named(name).map(durS).sum
  def totalSelfS(name: String): Double = named(name).map(selfS).sum
  def durationsMs(name: String): Seq[Double] = named(name).map(durS(_) * 1000)

  /** Counters charged to spans named `names`; waits for the listener bus
    * to drain first, so every finished task is counted. */
  def counters(names: String*): Counters = {
    org.apache.spark.MbenchBus.drain(sc)
    val cs = names.flatMap(n => listener.byTag.get(tagOf(n)))
    val out = new Counters
    cs.foreach(out.add)
    out
  }
}

object Trace {
  final case class Span(name: String, startNs: Long, var endNs: Long, parent: Int)

  def tagOf(span: String): String = "mbench." + span

  /** Task counters of one span name. */
  final class Counters {
    var jobs = 0L
    var tasks = 0L
    var inputRows = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    val taskMs = mutable.ArrayBuffer[Long]()

    def add(o: Counters): Unit = {
      jobs += o.jobs; tasks += o.tasks; inputRows += o.inputRows
      shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes; taskMs ++= o.taskMs
    }
    def shuffleMb: Double = shuffleWriteBytes / 1e6
    def spillMb: Double = spillBytes / 1e6
    /** Longest task ÷ median task, over every task of the span. */
    def taskSkew: Double =
      if (taskMs.isEmpty) 1.0
      else {
        val s = taskMs.sorted
        s.last.toDouble / math.max(1L, s((s.size - 1) / 2))
      }
  }

  /** Charges tasks to the `mbench.*` tag of the job that ran them. */
  final class LayerListener extends SparkListener {
    val byTag: mutable.Map[String, Counters] =
      new java.util.concurrent.ConcurrentHashMap[String, Counters]().asScala
    private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()

    private def tags(p: java.util.Properties): Seq[String] =
      Option(p).flatMap(x => Option(x.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq.filter(_.startsWith("mbench."))).getOrElse(Nil)

    override def onJobStart(js: SparkListenerJobStart): Unit =
      tags(js.properties).headOption.foreach { t =>
        val c = byTag.getOrElseUpdate(t, new Counters)
        c.synchronized { c.jobs += 1 }
        js.stageInfos.foreach(si => stageTag.put(si.stageId, t))
      }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      Option(stageTag.get(te.stageId)).foreach { t =>
        val c = byTag.getOrElseUpdate(t, new Counters)
        val m = te.taskMetrics
        c.synchronized {
          c.tasks += 1
          c.taskMs += te.taskInfo.duration
          if (m != null) {
            c.inputRows += m.inputMetrics.recordsRead
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }
}
