package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Mbrainz._
import graft.sources.EdnSource

/** Per-type projection/rename/ref-structuring + strict dictionary
  * resolution (reference `transform-entity`, importer.clj:166-188, and
  * `as-enum`/`as-super-enum`, importer.clj:215-224).
  *
  * The reference resolves enums via in-memory maps per record; the
  * Spark shape is a broadcast hash join per enum-typed column (J1) —
  * the fact side never shuffles, and misses surface as nulls that
  * `requireStrict` turns into a `could-not-import` task failure, like
  * the reference's throw (importer.clj:212-214).
  */
object Transform {

  /** Broadcast dictionary tables, loaded once (S5, importer.clj:257-269). */
  final case class Dims(
      enums: DataFrame,                 // (enum_class, enum_in, enum_ident)
      supers: Map[String, DataFrame])   // dict → (dict, dict_code, dict_ident)

  object Dims {
    def load(spark: SparkSession, entitiesDir: String): Dims = {
      val enums = EdnSource.enumDim(spark, EdnSource.readEnums(s"$entitiesDir/enums.edn"))
      val supers = Map(
        "countries" -> s"$entitiesDir/countries.edn",
        "langs" -> s"$entitiesDir/langs.edn",
        "scripts" -> s"$entitiesDir/scripts.edn"
      ).map { case (d, p) => d -> EdnSource.superDim(spark, d, EdnSource.readSuperEnum(p)) }
      Dims(enums, supers)
    }
  }

  /** Rename + resolve every mapping of `t`; output columns are
    * `mapping.col` in mapping order (plus `row_idx`). Enum/dict misses
    * become nulls with the raw input kept in `<col>__raw` for the
    * strict check. `keepCols` are input columns carried through as-is
    * (after `row_idx`). */
  def transform(df: DataFrame, t: EntityType, dims: Dims, keepCols: Seq[String] = Nil): DataFrame = {
    var out = df
    t.mappings.foreach { m =>
      if (!df.columns.contains(m.inputKey)) {
        // unmapped input key (e.g. artists' misspelled date keys): the
        // target attr is simply never produced
        out = out.withColumn(m.col, lit(null).cast(kindType(m.kind)))
      } else m.kind match {
        case KEnum(cls) =>
          val dim = dims.enums.filter(col("enum_class") === cls)
            .select(col("enum_in").as(s"${m.col}__in"), col("enum_ident").as(m.col))
          out = out.join(broadcast(dim), out(m.inputKey) === col(s"${m.col}__in"), "left")
            .withColumn(s"${m.col}__raw", out(m.inputKey))
            .drop(s"${m.col}__in")
        case KSuperEnum(dict) =>
          val dim = dims.supers(dict)
            .select(col("dict_code").as(s"${m.col}__in"), col("dict_ident").as(m.col))
          out = out.join(broadcast(dim), out(m.inputKey) === col(s"${m.col}__in"), "left")
            .withColumn(s"${m.col}__raw", out(m.inputKey))
            .drop(s"${m.col}__in")
        case _ =>
          out = out.withColumn(m.col, out(m.inputKey))
      }
    }
    val keep = col("row_idx") +: keepCols.map(col) ++: t.mappings.map(m => col(m.col)) ++:
      t.mappings.collect { case m if isDict(m.kind) && df.columns.contains(m.inputKey) =>
        col(s"${m.col}__raw") }
    out.select(keep: _*)
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
