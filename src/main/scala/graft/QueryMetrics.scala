package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One listener for the deterministic Spark counters of a measured
  * action: completed stages, input rows and bytes, shuffle write and
  * read bytes, and the skew diagnostic: max and median task
  * run time and the max rows one task read from shuffle. */
final class QueryMetrics private extends SparkListener {
  private var stages, inputRows, inputBytes, shuffleWrite, shuffleRead = 0L
  private val taskMs = ArrayBuffer[Long]()
  private val taskReadRows = ArrayBuffer[Long]()

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    val m = sc.stageInfo.taskMetrics
    stages += 1
    if (m != null) {
      inputRows += m.inputMetrics.recordsRead
      inputBytes += m.inputMetrics.bytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    if (t.taskMetrics != null) {
      taskMs += t.taskMetrics.executorRunTime
      taskReadRows += t.taskMetrics.shuffleReadMetrics.recordsRead
    }
  }

  private def counters: QueryMetrics.Counters = synchronized {
    val ms = taskMs.sorted
    QueryMetrics.Counters(stages, inputRows, inputBytes, shuffleWrite, shuffleRead,
      ms.size, ms.lastOption.getOrElse(0L), if (ms.isEmpty) 0L else ms(ms.size / 2),
      taskReadRows.maxOption.getOrElse(0L))
  }
}

object QueryMetrics {
  final case class Counters(stages: Long, inputRows: Long, inputBytes: Long,
      shuffleWriteBytes: Long, shuffleReadBytes: Long, tasks: Int,
      maxTaskMs: Long, medianTaskMs: Long, maxTaskShuffleReadRows: Long) {
    override def toString: String =
      f"stages=$stages%3d inputRows=$inputRows%9d inputMB=${inputBytes / 1e6}%8.1f " +
        f"shufWriteMB=${shuffleWriteBytes / 1e6}%7.1f shufReadMB=${shuffleReadBytes / 1e6}%7.1f " +
        f"tasks=$tasks%4d taskMs max/med=$maxTaskMs%6d/${medianTaskMs max 1L}%4d " +
        f"(x${maxTaskMs.toDouble / (medianTaskMs max 1L)}%5.1f) " +
        f"maxTaskShufReadRows=$maxTaskShuffleReadRows%,d"
  }

  /** Runs `body` with a fresh listener attached and returns its result,
    * its wall-clock seconds, and the counters of every job it ran, read
    * once the listener bus has drained. */
  def measure[A](spark: SparkSession)(body: => A): (A, Double, Counters) = {
    val sc = spark.sparkContext
    val l = new QueryMetrics
    sc.addSparkListener(l)
    try {
      val t0 = System.nanoTime()
      val out = body
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftBus.drain(sc)
      (out, sec, l.counters)
    } finally sc.removeSparkListener(l)
  }
}
