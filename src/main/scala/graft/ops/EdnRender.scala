package graft.ops

import org.apache.spark.sql.Row
import graft.edn.Edn
import graft.model.Mbrainz._

/** Row → tx-data EDN text, driven by the attr registry. Pure function
  * usable inside executors (Dataset.map); golden parity is checked by
  * parse-based EDN equality, so key order is just the mapping order.
  *
  * Value shapes follow `transform-entity` (importer.clj:166-188):
  * scalar, keyword (resolved enum), lookup-ref map `{uniq #uuid}`,
  * reverse-ref vector `[uniq #uuid]`, hoisted unique key.
  */
object EdnRender {

  def renderValue(kind: Kind, v: Any): String = kind match {
    case KStr => "\"" + Edn.escape(v.toString) + "\""
    case KLong => v.toString
    case KUuid => "#uuid \"" + v.toString + "\""
    case KEnum(_) | KSuperEnum(_) => ":" + v.toString
    case KRefMap(u) => "{:" + u + " #uuid \"" + v.toString + "\"}"
    case KRevRef(u) => "[:" + u + " #uuid \"" + v.toString + "\"]"
    case KHoist(_) => "#uuid \"" + v.toString + "\""
  }

  def attrKey(m: AttrMapping): String = m.kind match {
    case KHoist(u) => ":" + u
    case _ => ":" + m.attr
  }

  /** Render one entity row as an EDN map using `mappings`; null columns
    * are omitted (absent key semantics, SURVEY §1.1). `extra` prepends
    * pre-rendered `key value` pairs (e.g. `:db/id` tempids). */
  def renderEntity(row: Row, mappings: Seq[AttrMapping], extra: Seq[String] = Nil): String = {
    val parts = Seq.newBuilder[String]
    parts ++= extra
    mappings.foreach { m =>
      val i = row.fieldIndex(m.col)
      if (!row.isNullAt(i))
        parts += attrKey(m) + " " + renderValue(m.kind, row.get(i))
    }
    parts.result().mkString("{", ", ", "}")
  }

  /** The batch-line format, written here only: `{:batch-ident {:db/id
    * "datomic.tx", :<attr> "<id>"}, :data [<forms>]}`. */
  def batchLine(batchIdAttr: String, batchId: String, data: Seq[String]): String =
    identPrefix(batchIdAttr) + batchId + "\"}, :data [" + data.mkString(" ") + "]}"

  /** The batch id of a canonical [[batchLine]], read off its prefix
    * without parsing the line; `None` for any other line. */
  def batchIdOf(batchIdAttr: String, line: String): Option[String] = {
    val prefix = identPrefix(batchIdAttr)
    val end = if (line.startsWith(prefix)) line.indexOf('"', prefix.length) else -1
    if (end > prefix.length) Some(line.substring(prefix.length, end)) else None
  }

  private def identPrefix(batchIdAttr: String): String =
    "{:batch-ident {:db/id \"datomic.tx\", :" + batchIdAttr + " \""
}
