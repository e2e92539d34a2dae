package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.Path
import org.apache.spark.{SparkThrowable, TaskContext}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{col, collect_list, min, min_by, sort_array, struct}
import org.apache.spark.util.SerializableConfiguration
import graft.edn.Edn
import graft.edn.Edn._
import graft.model.Mbrainz
import graft.ops.{Batching, EdnRender, Transform}
import graft.sources.EdnSource

/** E1 — the batcher pipeline (reference
  * `src/datomic/mbrainz/importer/batch.clj:10-20` +
  * `create-batch-file`, importer.clj:279-296):
  * entity EDN → validate/transform → tx-data → size-N batches →
  * one EDN line per batch in `<outDir>/<type>.edn`.
  *
  * Every type's tx-data is one ordered stream of forms, cut every
  * `batchSize` forms by [[Batching.lines]]. Dictionary types
  * (schema/enums/super-enums, ≤ 8k rows) build that stream on the
  * driver, like the reference's in-memory `threaded-onto`
  * (importer.clj:252-255); enums and super-enums render the one
  * dictionary load (`Transform.Dims`) that entity types resolve
  * against. Entity types read, transform and render in
  * Spark (narrow whole-stage-codegen chain; media adds one shuffle for
  * assembly), then the rendered forms are sorted and chunked in the
  * one task that writes the file: the file is one sequential stream
  * whose batch boundaries depend on every form before them. That one
  * job reads the entity file once; a dictionary miss fails it.
  */
final class Batcher(spark: SparkSession, basedir: String, val outDir: String, batchSize: Int = 100) {

  private val entitiesDir = s"$basedir/entities"
  private val hadoopConf = spark.sessionState.newHadoopConf()
  private lazy val dims: Transform.Dims = Transform.Dims.load(spark, entitiesDir)
  locally { val p = new Path(outDir); p.getFileSystem(hadoopConf).mkdirs(p) }

  /** Writes every type of `types` whose source file exists, each as
    * its own Spark job, all at once, and returns once every job has
    * finished. Skips types whose source file is absent (e.g. the
    * stripped media.edn, `.MISSING_LARGE_BLOBS`).
    *
    * Why concurrently: each entity type's write ends in one task (its
    * file is one ordered stream, [[Batching]]), so one type after
    * another leaves all cores but one idle for most of the batcher;
    * the types share nothing but the read-only dictionaries, so their
    * jobs can run side by side. On a 4-core host (the benchmark's
    * untraced `import`, seed 2) the batcher's jobs went from 7.8 s end
    * to end to 4.1 s, media's (read, assembly shuffle, write) last.
    * Jobs are submitted in `types` order: submitting the largest source
    * file first (media) measured no faster, 1.45 s against 1.50 s at
    * scale 0.05 and 3.02 s against 2.97 s at 0.2 (medians of
    * in-process alternations).
    *
    * The pool has one thread per present type and is created by each
    * call, on the calling thread: its threads start there and so
    * inherit that thread's Spark local properties (job tags and groups,
    * the active session), which a pool shared across calls would have
    * captured from whichever call started it. It is shut down in a
    * `finally`, so no thread outlives the call.
    *
    * Failure rule: every job runs to its end, so each type that can be
    * written is committed; then the first failure in `types` order is
    * rethrown, with every later type's failure added to it as
    * suppressed. A failed type's previous batch file stays as it was
    * ([[Batching.commit]]). */
  def runAll(types: Seq[String] = Mbrainz.importOrder): Map[String, Long] = {
    val present = types.map(t => t -> source(t)).filter { case (_, (file, _)) =>
      val p = new Path(s"$entitiesDir/$file")
      p.getFileSystem(hadoopConf).exists(p)
    }
    val pool = Executors.newFixedThreadPool(present.size max 1, Batcher.threads)
    try {
      val jobs = present.map { case (t, (_, write)) =>
        t -> pool.submit(new Callable[Long] { def call(): Long = write() })
      }
      val done = jobs.map { case (t, job) =>
        t -> (try Right(job.get()) catch { case e: ExecutionException => Left(e.getCause) })
      }
      done.collect { case (_, Left(e)) => e } match {
        case first +: rest => rest.foreach(first.addSuppressed); throw first
        case _ => done.collect { case (t, Right(n)) => t -> n }.toMap
      }
    } finally pool.shutdown()
  }

  /** Returns the number of batches written for `tpe`. */
  def createBatchFile(tpe: String): Long = source(tpe)._2()

  /** The one type table: `tpe`'s source file under `entities/` (the
    * one [[runAll]] checks for) and how its batch file is written. */
  private def source(tpe: String): (String, () => Long) = tpe match {
    case "schema" => ("schema.edn", () => driverBatches(tpe,
      Edn.parse(EdnSource.readText(s"$entitiesDir/schema.edn")) match {
        case EVec(items) => items.map(Edn.print)
        case other => throw new IllegalArgumentException(s"schema.edn not a vector: $other")
      }))
    case "enums" => ("enums.edn", () => driverBatches(tpe,
      dims.enums.map { case (_, in, ident) =>
        val ns = ident.substring(0, ident.indexOf('/'))
        "{:db/ident :" + ident + ", :" + ns + "/name \"" + Edn.escape(in) + "\"}"
      }))
    case "super-enums" => ("countries.edn", () => driverBatches(tpe,
      Mbrainz.superEnums.flatMap(dims.supers(_).map { case (_, _, ent) => Edn.print(ent) })))
    case "media" => ("media.edn", () => writeType(tpe, mediaForms()))
    case name => (s"$name.edn", () => {
      val t = Mbrainz.byName(name)
      val raw = EdnSource.readEntities(spark, s"$entitiesDir/$name.edn", t)
      val transformed = Transform.requireStrict(Transform.transform(raw, t, dims), t)
      val mappings = t.mappings
      writeType(tpe, transformed.map { row =>
        (row.getLong(row.fieldIndex("row_idx")), EdnRender.renderEntity(row, mappings))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.STRING)).toDF("row_idx", "edn"))
    })
  }

  /** Media assembly (A1, importer.clj:236-247): contiguous rows sharing
    * `:id` form one medium; medium attrs come from the group's first
    * row; tracks carry a composite tempid so multi-artist tracks
    * coalesce; the reference `conj`s onto a list, so track order is
    * REVERSED input order — reproduced here via a descending sort.
    * A medium's place in the stream is its first row's `row_idx`. */
  private def mediaForms(): DataFrame = {
    val t = Mbrainz.media
    val raw = EdnSource.readEntities(spark, s"$entitiesDir/media.edn", t)
    val transformed = Transform.requireStrict(
      Transform.transform(raw, t, dims, keepCols = Seq("id")), t, keepCols = Seq("id"))
    val mediumMappings = Mbrainz.mediumMappings
    val trackMappings = Mbrainz.trackMappings
    val tracknumCol = Mbrainz.colName("track/position")
    val perRow = transformed.map { row =>
      val id = if (row.isNullAt(row.fieldIndex("id"))) "" else row.getLong(row.fieldIndex("id")).toString
      val tn = if (row.isNullAt(row.fieldIndex(tracknumCol))) "" else row.get(row.fieldIndex(tracknumCol)).toString
      val tempid = ":db/id \"track-" + id + "-" + tn + "\""
      ( if (id.isEmpty) -1L else id.toLong,
        row.getLong(row.fieldIndex("row_idx")),
        EdnRender.renderEntity(row, mediumMappings),
        EdnRender.renderEntity(row, trackMappings, extra = Seq(tempid)))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.STRING, Encoders.STRING))
      .toDF("id", "row_idx", "medium_edn", "track_edn")

    perRow
      .groupBy(col("id"))
      .agg(
        min(col("row_idx")).as("medium_idx"),
        min_by(col("medium_edn"), col("row_idx")).as("medium_edn"),
        sort_array(collect_list(struct(col("row_idx"), col("track_edn"))), asc = false).as("tracks"))
      .map { row =>
        val body = row.getString(row.fieldIndex("medium_edn"))
        val tracks = row.getSeq[Row](row.fieldIndex("tracks")).map(_.getString(1))
        val tracksEdn = ":medium/tracks [" + tracks.mkString(" ") + "]"
        val full =
          if (body == "{}") "{" + tracksEdn + "}"
          else body.dropRight(1) + ", " + tracksEdn + "}"
        (row.getLong(row.fieldIndex("medium_idx")), full)
      }(Encoders.tuple(Encoders.scalaLong, Encoders.STRING)).toDF("row_idx", "edn")
  }

  private def driverBatches(tpe: String, forms: Seq[String]): Long =
    Batching.commit(s"$outDir/$tpe.edn", hadoopConf) { stage =>
      val file = s"$stage/driver"
      file -> Batching.write(
        Batching.lines(forms.iterator, batchSize, tpe, Mbrainz.batchIdAttr), file, hadoopConf)
    }

  /** `rendered` is `(row_idx, edn)`: its forms, in `row_idx` order,
    * chunked and written in one task, which reports its file. A
    * dictionary miss raised in that job (`Transform.requireStrict`)
    * reaches the driver as Spark's `USER_RAISED_EXCEPTION`; it is
    * rethrown as the batcher's `IllegalStateException`. */
  private def writeType(tpe: String, rendered: DataFrame): Long = {
    val (size, batchIdAttr) = (batchSize, Mbrainz.batchIdAttr)
    val conf = new SerializableConfiguration(hadoopConf)
    try Batching.commit(s"$outDir/$tpe.edn", hadoopConf) { stage =>
      rendered.coalesce(1).sortWithinPartitions(col("row_idx"))
        .select(col("edn")).as(Encoders.STRING)
        .mapPartitions { forms =>
          val file = s"$stage/attempt-${TaskContext.get.taskAttemptId}"
          Iterator(file -> Batching.write(Batching.lines(forms, size, tpe, batchIdAttr), file, conf.value))
        }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
        .collect().head
    } catch {
      case e: Exception => throw Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case u: SparkThrowable if u.getCondition == "USER_RAISED_EXCEPTION" =>
          new IllegalStateException("Importer failed: " + u.getMessageParameters.get("errorMessage"), e)
        }.getOrElse(e)
    }
  }
}

object Batcher {
  /** Names the pool threads of [[Batcher.runAll]] `graft-batcher-N`. */
  val threadPrefix = "graft-batcher-"

  private val threads: ThreadFactory = new ThreadFactory {
    private val n = new AtomicInteger()
    def newThread(r: Runnable): Thread = new Thread(r, threadPrefix + n.incrementAndGet())
  }
}
