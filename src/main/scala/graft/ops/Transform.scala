package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.edn.Edn.EMap
import graft.model.Mbrainz._
import graft.sources.EdnSource

/** Per-type projection/rename/ref-structuring + strict dictionary
  * resolution (reference `transform-entity`, importer.clj:166-188, and
  * `as-enum`/`as-super-enum`, importer.clj:215-224).
  *
  * Like the reference, each dictionary column is a lookup in an
  * in-memory map, one per enum class or super-enum dictionary, carried
  * into the plan as a map literal (`try_element_at`): one narrow
  * projection, no join and no job of its own. Misses surface as nulls
  * that `requireStrict` turns into a `could-not-import` task failure,
  * like the reference's throw (importer.clj:212-214).
  */
object Transform {

  /** The four dictionaries, read once and held as parsed, in file order
    * (`create-importer`, importer.clj:257-269): what
    * [[EdnSource.readEnums]] and [[EdnSource.readSuperEnum]] return.
    * The batcher renders the `enums` and `super-enums` batch files from
    * them as well. */
  final case class Dims(
      enums: Vector[(String, String, String)],                 // (enum class, input, ident)
      supers: Map[String, Vector[(String, String, EMap)]])     // dict → (code, ident, entity)

  object Dims {
    /** Reads `enums.edn` and the `superEnums` files of `entitiesDir`.
      * `spark` is unused: the dictionaries never become DataFrames. */
    def load(spark: SparkSession, entitiesDir: String): Dims =
      Dims(EdnSource.readEnums(s"$entitiesDir/enums.edn"),
        superEnums.map(d => d -> EdnSource.readSuperEnum(s"$entitiesDir/$d.edn")).toMap)
  }

  /** Rename + resolve every mapping of `t`; output columns are
    * `mapping.col` in mapping order (plus `row_idx`). Enum/dict misses
    * become nulls with the raw input kept in `<col>__raw` for the
    * strict check. `keepCols` are input columns carried through as-is
    * (after `row_idx`). */
  def transform(df: DataFrame, t: EntityType, dims: Dims, keepCols: Seq[String] = Nil): DataFrame = {
    def present(m: AttrMapping): Boolean = df.columns.contains(m.inputKey)
    val mapped = t.mappings.map { m =>
      def lookup(entries: Seq[(String, String)]) = try_element_at(typedLit(entries.toMap), col(m.inputKey))
      (m.kind match {
        // unmapped input key (e.g. artists' misspelled date keys): the
        // target attr is simply never produced
        case k if !present(m) => lit(null).cast(kindType(k))
        // scoped to the enum class, like `as-enum`
        case KEnum(cls) => lookup(dims.enums.collect { case (`cls`, in, ident) => in -> ident })
        case KSuperEnum(dict) => lookup(dims.supers(dict).map { case (code, ident, _) => code -> ident })
        case _ => col(m.inputKey)
      }).as(m.col)
    }
    val raws = t.mappings.collect { case m if isDict(m.kind) && present(m) =>
      col(m.inputKey).as(s"${m.col}__raw") }
    df.select(col("row_idx") +: keepCols.map(col) ++: mapped ++: raws: _*)
  }

  private def isDict(k: Kind): Boolean = k match {
    case KEnum(_) | KSuperEnum(_) => true
    case _ => false
  }

  private def kindType(k: Kind): String = k match {
    case KLong => "bigint"
    case _ => "string"
  }

  /** Strict-lookup gate (`as-enum`, importer.clj:212-219): each
    * dictionary column whose input was present but resolved to nothing
    * raises `could-not-import <attr> <value>` when the row is computed,
    * in whatever job computes it: no pass of its own. Like the
    * reference, it fails on the first miss. The `__raw` columns drop. */
  def requireStrict(df: DataFrame, t: EntityType, keepCols: Seq[String] = Nil): DataFrame =
    df.select(col("row_idx") +: keepCols.map(col) ++: t.mappings.map { m =>
      val raw = s"${m.col}__raw"
      if (!df.columns.contains(raw)) col(m.col)
      else when(col(raw).isNotNull && col(m.col).isNull,
        raise_error(concat(lit(s"could-not-import ${m.attr} "), col(raw).cast("string"))))
        .otherwise(col(m.col)).as(m.col)
    }: _*)
}
