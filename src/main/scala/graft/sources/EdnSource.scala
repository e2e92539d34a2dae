package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.edn.Edn
import graft.edn.Edn._
import graft.model.Mbrainz.{EntityType, InField}

/** EDN ingestion (reference: `src/cognitect/xform/async_edn.clj:27-51`
  * streams one form at a time onto a channel).
  *
  * Spark-first shape: an entity file becomes a DataFrame with an
  * explicit schema (never inferred — SURVEY.md §1.3) plus a `row_idx`
  * column capturing file order, which is load-bearing for batch
  * numbering and contiguous grouping (SURVEY.md §2.5 "input order is
  * load-bearing").
  *
  * Scan paths:
  *  - `readEntities`: the DataSource V2 connector, one partition per
  *    file (the multi-file, 100 TB shape);
  *  - `readEntitiesDriver`: driver-side parse, the reference the
  *    connector is tested against.
  */
object EdnSource {

  def schemaFor(t: EntityType): StructType =
    StructType(StructField("row_idx", LongType, nullable = false) +:
      t.inFields.map(f =>
        StructField(f.name, if (f.isLong) LongType else StringType, nullable = true)))

  private def scalar(e: Edn): Any = e match {
    case ENil => null
    case EStr(s) => s
    case ELong(l) => java.lang.Long.valueOf(l)
    case EDouble(d) => java.lang.Double.valueOf(d)
    case EUuid(u) => u
    case k: EKw => k.qualified
    case s: ESym => s.qualified
    case EBool(b) => java.lang.Boolean.valueOf(b)
    case other => Edn.print(other)
  }

  private[sources] def formToRow(idx: Long, form: Edn, fields: Seq[InField]): Row = {
    val m = form match {
      case em: EMap => em
      case other => throw new IllegalArgumentException(s"expected map form, got: $other")
    }
    Row.fromSeq(idx +: fields.map { f =>
      m.getKw(f.name).map(scalar).map {
        case l: java.lang.Long if !f.isLong => l.toString
        case v => v
      }.orNull
    })
  }

  /** Iterate forms of one file without materializing them all: a
    * streaming Reader parse (bounded memory for any file size — the
    * reference never slurps, `async_edn.clj:39-48`) over [[openReader]].
    * The stream closes when the iterator exhausts. */
  def parseFile(path: String): Iterator[Edn] = {
    val reader = openReader(path)
    val p = new Edn.Parser(reader)
    new Iterator[Edn] {
      private var pending = advance()
      private def advance(): Option[Edn] = {
        val f = p.nextForm()
        if (f.isEmpty) reader.close()
        f
      }
      def hasNext: Boolean = pending.isDefined
      def next(): Edn = { val f = pending.get; pending = advance(); f }
    }
  }

  /** The one EDN stream opener (driver-side reads and the V2
    * connector's partitions): UTF-8 text through Hadoop FileSystem, so
    * object-store URIs work, decompressed by extension (.gz, .bz2, …).
    * `conf` defaults to the active session's, or a plain one before any
    * session exists (`ImportMain` reads its manifest first). */
  private[sources] def openReader(path: String, conf: Configuration = SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf()).getOrElse(new Configuration())): java.io.BufferedReader = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val raw = hPath.getFileSystem(conf).open(hPath)
    val codec = new CompressionCodecFactory(conf).getCodec(hPath)
    new java.io.BufferedReader(new java.io.InputStreamReader(
      if (codec == null) raw else codec.createInputStream(raw), java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Primary path: the DataSource V2 connector (graft.sources.v2) —
    * executor-side streaming parse, column pruning, one partition per
    * file. `row_idx` is dense 0-based for a single file. */
  def readEntities(spark: SparkSession, path: String, t: EntityType): DataFrame =
    spark.read.format("edn").schema(schemaFor(t)).load(path)

  /** Driver-side parse, kept as the independent reference
    * implementation the V2 connector is tested against. */
  def readEntitiesDriver(spark: SparkSession, path: String, t: EntityType): DataFrame = {
    val rows = parseFile(path).zipWithIndex
      .map { case (form, i) => formToRow(i.toLong, form, t.inFields) }.toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, math.max(1, rows.size / 20000)),
      schemaFor(t))
  }

  // ── Dictionaries (`create-importer`, importer.clj:257-269) ─────────

  /** enums.edn: `{class-symbol {input-string → ident-keyword}}`,
    * insertion-ordered. Returns (class, input, ident-qualified). */
  def readEnums(path: String): Vector[(String, String, String)] = {
    val top = Edn.parse(readText(path)).asInstanceOf[EMap]
    top.entries.flatMap {
      case (ESym(_, cls), inner: EMap) =>
        inner.entries.map {
          case (EStr(in), k: EKw) => (cls, in, k.qualified)
          case other => throw new IllegalArgumentException(s"bad enum entry: $other")
        }
      case other => throw new IllegalArgumentException(s"bad enum class: $other")
    }
  }

  /** countries/langs/scripts: `{code → entity-map}`, insertion-ordered.
    * Returns (code, ident-qualified, raw entity map) — the raw map is
    * needed verbatim for super-enums tx-data (importer.clj:198-201). */
  def readSuperEnum(path: String): Vector[(String, String, EMap)] = {
    val top = Edn.parse(readText(path)).asInstanceOf[EMap]
    top.entries.map {
      case (EStr(code), ent: EMap) =>
        val ident = ent.getKw("db/ident") match {
          case Some(k: EKw) => k.qualified
          case other => throw new IllegalArgumentException(s"missing :db/ident: $other")
        }
        (code, ident, ent)
      case other => throw new IllegalArgumentException(s"bad super-enum entry: $other")
    }
  }

  /** Whole-file read for the SMALL dictionary files only (enums /
    * super-enums, a few KB); entity-scale reads go through
    * `parseFile` / the V2 connector, which stream. */
  def readText(path: String): String = {
    val in = openReader(path)
    try {
      val sb = new StringBuilder
      val buf = new Array[Char](8192)
      var n = in.read(buf)
      while (n >= 0) { sb.appendAll(buf, 0, n); n = in.read(buf) }
      sb.toString
    } finally in.close()
  }
}
