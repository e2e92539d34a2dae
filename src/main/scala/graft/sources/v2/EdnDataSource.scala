package graft.sources.v2

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.edn.Edn
import graft.edn.Edn._

/** DataSource V2 for EDN entity files: `spark.read.format("edn")
  * .schema(s).load(path1, path2, ...)`.
  *
  * Replaces the driver-side parse (EdnSource.readEntities) with a real
  * connector: one input partition per file (EDN forms can span lines,
  * so a file is the natural split unit — a 100 TB corpus is many
  * files), streaming form-at-a-time parse on executors (the
  * reference's bounded-memory reader semantics,
  * `src/cognitect/xform/async_edn.clj:27-51`), and COLUMN PRUNING
  * pushed into the parse — unrequested keys are never converted.
  *
  * Read-only: batch files are written by `graft.ops.Batching`.
  *
  * The virtual `row_idx` column carries file order:
  * (fileOrdinal << 40) | formOrdinal — dense 0-based for a single
  * file, totally ordered across a corpus.
  */
class EdnDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "edn"
  override def supportsExternalMetadata(): Boolean = true

  /** Schema must be supplied (declared, never inferred — SURVEY §1.3);
    * inference would force a full pre-scan. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "edn source requires an explicit schema: spark.read.format(\"edn\").schema(...)")

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new EdnTable(schema, EdnDataSource.paths(properties))
}

object EdnDataSource {
  private[v2] def paths(properties: util.Map[String, String]): Seq[String] = {
    val p = Option(properties.get("paths"))
      .map { json => // Spark encodes multi-path load() as a JSON array
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readValue(json, classOf[Array[String]]).toSeq
      }
      .getOrElse(Option(properties.get("path")).toSeq)
    if (p.isEmpty) throw new IllegalArgumentException("edn source requires a path")
    p
  }
}

final class EdnTable(schema: StructType, paths: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"edn(${paths.mkString(",")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EdnScanBuilder(schema, paths, options)
}

final class EdnScanBuilder(fullSchema: StructType, paths: Seq[String],
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownLimit {
  private var required: StructType = fullSchema
  private var limit: Int = -1
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  /** `eio/top` semantics (`/root/reference/src/cognitect/xform/eio.clj:18-23`):
    * the reader stops PARSING at the limit, it doesn't parse-then-drop.
    * Partially pushed — each file partition caps at `limit`, Spark
    * applies the global limit across partitions. */
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed(): Boolean = true
  override def build(): Scan = new EdnScan(required, paths, limit,
    "permissive".equalsIgnoreCase(options.getOrDefault("mode", "failfast")))
}

final class EdnScan(required: StructType, paths: Seq[String], limit: Int,
    permissive: Boolean) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"EdnScan readSchema=[${required.fieldNames.mkString(",")}]" +
      (if (limit >= 0) s" limit=$limit" else "")
  /** Paths may be files, directories (every visible file inside,
    * name-sorted, so `part-NNNNN` names keep partition order) or globs;
    * expansion happens driver-side through Hadoop FileSystem so object
    * stores behave like local disk. A path that matches nothing fails
    * HERE with the offending path, not as a FileNotFound inside some
    * executor. */
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
    def visible(name: String) = !name.startsWith(".") && !name.startsWith("_")
    val expanded = paths.flatMap { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      val matches = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
      require(matches.nonEmpty, s"edn scan: no files match $p")
      matches.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq
            .filter(f => f.isFile && visible(f.getPath.getName))
            .map(_.getPath.toString).sorted
        else Seq(st.getPath.toString)
      }
    }
    expanded.zipWithIndex.map { case (p, i) => EdnFilePartition(p, i): InputPartition }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = {
    // Serializable snapshot of the session Hadoop conf so executors
    // resolve the same FileSystem (s3a/hdfs credentials etc.), not a
    // default-constructed one.
    val conf = new org.apache.spark.util.SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    new EdnReaderFactory(required, limit, permissive, conf)
  }
  /** `{:forms n}` count telemetry, as every reference reader/writer
    * reports (`async_edn.clj:32,48`) — surfaces in the SQL UI and task
    * metrics for count reconciliation (SURVEY §5.4). */
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new FormsMetric)
}

final class FormsMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "forms"
  override def description(): String = "EDN forms parsed"
}
final case class FormsTaskMetric(value: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = "forms"
}

final case class EdnFilePartition(path: String, fileIdx: Int) extends InputPartition

final class EdnReaderFactory(required: StructType, limit: Int, permissive: Boolean,
    conf: org.apache.spark.util.SerializableConfiguration) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[EdnFilePartition]
    new EdnPartitionReader(p.path, p.fileIdx, required, limit, permissive, conf.value)
  }
}

/** Streams one form at a time from an InputStream — bounded memory
  * however large the entity file (the reference's reader semantics,
  * `async_edn.clj:39-48`; the whole-file `readAllBytes` this replaced
  * would OOM an executor on a multi-GB file). Paths resolve through
  * Hadoop `FileSystem`, so `file:`, `hdfs:` and object stores all
  * work. In permissive mode a parse failure becomes ONE error-as-data
  * row (`_corrupt_record` column, matching `async_edn.clj:16-22`'s
  * anomaly maps) and the partition ends — EDN has no record framing to
  * resync on, which is exactly the reference's stop-on-anomaly
  * behavior. */
final class EdnPartitionReader(path: String, fileIdx: Int, required: StructType,
    limit: Int, permissive: Boolean, hadoopConf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow] {

  // compressed EDN is the normal shape for bulk text ingest; the
  // stream stays form-at-a-time either way
  private val reader = graft.sources.EdnSource.openReader(path, hadoopConf)
  private val parser = new Edn.Parser(reader)
  private val corruptIdx = required.fieldNames.indexOf("_corrupt_record")
  private var i = -1L
  private var finished = false
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (finished || (limit >= 0 && i + 1 >= limit)) return false
    val form =
      try parser.nextForm()
      catch {
        case e: Edn.ParseException if permissive && corruptIdx >= 0 =>
          finished = true
          i += 1
          row = anomalyRow(e)
          return true
      }
    form match {
      case Some(f) =>
        i += 1
        row = convert(f)
        true
      case None =>
        finished = true
        false
    }
  }

  private def anomalyRow(e: Edn.ParseException): InternalRow =
    InternalRow.fromSeq(required.fields.toIndexedSeq.map { f =>
      if (f.name == "_corrupt_record")
        UTF8String.fromString(s"${e.getMessage} (file=$path)")
      else if (f.name == "row_idx") (fileIdx.toLong << 40) | i
      else null
    })

  private def convert(form: Edn): InternalRow = {
    val m = form match {
      case em: EMap => em
      case other => throw new IllegalArgumentException(s"expected map form, got: $other")
    }
    val values = required.fields.map { f =>
      if (f.name == "row_idx") (fileIdx.toLong << 40) | i
      else if (f.name == "_corrupt_record") null
      else m.getKw(f.name).map(v => toCatalyst(v, f.dataType)).orNull
    }
    InternalRow.fromSeq(values.toIndexedSeq)
  }

  private def toCatalyst(v: Edn, dt: DataType): Any = (v, dt) match {
    case (ENil, _) => null
    case (ELong(l), LongType) => l
    case (ELong(l), StringType) => UTF8String.fromString(l.toString)
    case (EStr(s), StringType) => UTF8String.fromString(s)
    case (EUuid(u), StringType) => UTF8String.fromString(u)
    case (k: EKw, StringType) => UTF8String.fromString(k.qualified)
    case (EDouble(d), DoubleType) => d
    case (EBool(b), BooleanType) => b
    case (other, StringType) => UTF8String.fromString(Edn.print(other))
    case (other, t) =>
      throw new IllegalArgumentException(s"cannot convert $other to $t")
  }

  override def get(): InternalRow = row
  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(FormsTaskMetric(i + 1))
  override def close(): Unit = reader.close()
}
