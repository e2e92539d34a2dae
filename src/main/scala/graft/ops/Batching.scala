package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** `tx-data->batches` (reference `src/cognitect/xform/batch.clj:31-40`,
  * called from `create-batch-file`, importer.clj:279-296): one pass over
  * an ordered stream of tx-data forms, cut every `size` forms, batch ids
  * `prefix-N` numbered from 1.
  *
  * A batch file is one ordered stream, so it is written by one task:
  * batch N is forms `(N-1)·size …`, which depends on every form before
  * it, and the file itself is one sequential write. Only the work up
  * to the rendered forms runs in parallel.
  */
object Batching {

  /** The one chunker: one batch line per `size` forms of `forms`, in
    * order. */
  def lines(forms: Iterator[String], size: Int, prefix: String, batchIdAttr: String): Iterator[String] =
    forms.grouped(size).zipWithIndex.map { case (group, i) =>
      EdnRender.batchLine(batchIdAttr, s"$prefix-${i + 1}", group)
    }

  /** The one batch-file writer (the reference's `aedn/writer`,
    * async_edn.clj:66-82, which prints one form per line and returns
    * `{:forms n}`): drains `lines` into `file` through Hadoop FS, `\n`
    * after each, and returns the number of lines. Runs wherever the
    * lines are, on the driver or in the one task that chunks them. */
  def write(lines: Iterator[String], file: String, conf: Configuration): Long = {
    val p = new Path(file)
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      p.getFileSystem(conf).create(p, true), java.nio.charset.StandardCharsets.UTF_8))
    try lines.foldLeft(0L) { (n, line) => out.write(line); out.write('\n'); n + 1 }
    finally out.close()
  }

  /** Commits one batch file: `writeStaged(stage)` [[write]]s it under
    * `<path>.stage` (a task writes one file per attempt, so retried or
    * speculative attempts never share one) and returns that file and
    * its line count. That file replaces `path`; the stage is deleted
    * either way, so a failed write leaves `path` as it was. */
  def commit(path: String, conf: Configuration)(writeStaged: String => (String, Long)): Long = {
    val dest = new Path(path)
    val stage = new Path(path + ".stage")
    val fs = dest.getFileSystem(conf)
    try {
      val (file, n) = writeStaged(stage.toString)
      fs.delete(dest, false)
      if (!fs.rename(new Path(file), dest))
        throw new java.io.IOException(s"rename $file -> $dest failed")
      n
    } finally fs.delete(stage, true)
  }
}
