package graft.ops

import org.apache.spark.sql.DataFrame

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

  /** Ordered single-file batch sink (the reference's golden EDN file,
    * async_edn.clj:66-82) WITHOUT collecting the payload to the
    * driver: `lines` — one string column in one partition, already in
    * file order — goes through the "edn" connector's raw-line mode,
    * then a filesystem rename of the one part file to `path`. The
    * driver never holds a single batch line in memory. Returns the
    * number of batches written. */
  def writeLines(lines: DataFrame, path: String): Long = {
    val stage = path + ".stage"
    lines.write.format("edn").option("raw", "true").mode("overwrite").save(stage)

    val conf = lines.sparkSession.sessionState.newHadoopConf()
    val stagePath = new org.apache.hadoop.fs.Path(stage)
    val fs = stagePath.getFileSystem(conf)
    val part = fs.listStatus(stagePath)
      .map(_.getPath).filter(_.getName.endsWith(".edn")) match {
        case Array(one) => one
        case parts => throw new IllegalStateException(
          s"expected exactly one part file in $stage, got ${parts.mkString(",")}")
      }
    val dest = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(dest)) fs.delete(dest, false)
    if (!fs.rename(part, dest))
      throw new java.io.IOException(s"rename $part -> $dest failed")
    fs.delete(stagePath, true)

    // count lines by streaming the (metadata-scale) batch file
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(dest), java.nio.charset.StandardCharsets.UTF_8))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).size.toLong
    finally in.close()
  }
}
