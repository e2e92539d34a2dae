package graft.pipeline

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
  * (importer.clj:252-255). Entity types read, transform and render in
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

  /** Skips types whose source file is absent (e.g. the stripped
    * media.edn, `.MISSING_LARGE_BLOBS`). */
  def runAll(types: Seq[String] = Mbrainz.importOrder): Map[String, Long] =
    types.flatMap { t =>
      val (file, write) = source(t)
      val p = new Path(s"$entitiesDir/$file")
      if (p.getFileSystem(hadoopConf).exists(p)) Some(t -> write()) else None
    }.toMap

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
      EdnSource.readEnums(s"$entitiesDir/enums.edn").map { case (_, in, ident) =>
        val ns = ident.substring(0, ident.indexOf('/'))
        "{:db/ident :" + ident + ", :" + ns + "/name \"" + Edn.escape(in) + "\"}"
      }))
    case "super-enums" => ("countries.edn", () => driverBatches(tpe,
      Seq("countries", "langs", "scripts").flatMap { d =>
        EdnSource.readSuperEnum(s"$entitiesDir/$d.edn").map { case (_, _, ent) => Edn.print(ent) }
      }))
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
