package graft.model

import graft.edn.Edn
import graft.edn.Edn._

/** Attribute registry parsed from schema tx-data
  * (`subsets/entities/schema.edn`, 66 attrs): value type, cardinality,
  * uniqueness, component flag — the metadata that drives upsert
  * semantics (SURVEY.md §1.3) and current-state resolution
  * (card-one last-wins, card-many union).
  *
  * Compile-time-ish replacement for the reference's runtime string test
  * `reverse?` (`src/cognitect/xform/batch.clj:22-25`) and Datomic's
  * schema-driven transacting.
  */
final case class AttrDef(
    ident: String,
    valueType: String,       // string | long | uuid | ref | instant | ...
    many: Boolean,
    uniqueIdentity: Boolean, // upsert key
    uniqueValue: Boolean,    // uniqueness constraint only
    component: Boolean,
    fulltext: Boolean,
    noHistory: Boolean = false,  // :db/noHistory — superseded values not retained
    tupleTypes: Seq[String] = Seq.empty, // :db/tupleTypes — typed hetero tuple slots
    tupleAttrs: Seq[String] = Seq.empty) // :db/tupleAttrs — composite tuple source attrs

final class SchemaRegistry(val attrs: Map[String, AttrDef]) extends Serializable {
  def apply(attr: String): AttrDef = attrs.getOrElse(attr, SchemaRegistry.default(attr))
  def isMany(attr: String): Boolean = apply(attr).many
  def isRef(attr: String): Boolean = apply(attr).valueType == "ref"
  def uniqueAttrs: Set[String] = attrs.values.filter(a => a.uniqueIdentity || a.uniqueValue).map(_.ident).toSet
}

object SchemaRegistry {

  /** Attrs used by the import machinery itself (the import-schema the
    * loader transacts first, importer.clj:271-277). */
  private val builtin = Map(
    Mbrainz.batchIdAttr -> AttrDef(Mbrainz.batchIdAttr, "string",
      many = false, uniqueIdentity = false, uniqueValue = true, component = false, fulltext = false),
    "db/ident" -> AttrDef("db/ident", "keyword",
      many = false, uniqueIdentity = true, uniqueValue = false, component = false, fulltext = false))

  def default(attr: String): AttrDef =
    AttrDef(attr, "string", many = false, uniqueIdentity = false,
      uniqueValue = false, component = false, fulltext = false)

  def fromEdn(schemaEdn: String): SchemaRegistry = {
    val forms = Edn.parse(schemaEdn) match {
      case EVec(items) => items
      case m: EMap => Vector(m)
      case other => throw new IllegalArgumentException(s"bad schema: $other")
    }
    val defs = forms.collect { case m: EMap =>
      val ident = m.getKw("db/ident") match {
        case Some(k: EKw) => k.qualified
        case _ => throw new IllegalArgumentException(s"schema attr without ident: $m")
      }
      val vt = m.getKw("db/valueType") match {
        case Some(k: EKw) => k.name
        case _ => "string"
      }
      AttrDef(
        ident = ident,
        valueType = vt,
        many = m.getKw("db/cardinality").contains(EKw("db.cardinality", "many")),
        uniqueIdentity = m.getKw("db/unique").contains(EKw("db.unique", "identity")),
        uniqueValue = m.getKw("db/unique").contains(EKw("db.unique", "value")),
        component = m.getKw("db/isComponent").contains(EBool(true)),
        fulltext = m.getKw("db/fulltext").contains(EBool(true)),
        noHistory = m.getKw("db/noHistory").contains(EBool(true)),
        tupleTypes = m.getKw("db/tupleTypes") match {
          case Some(EVec(ts)) => ts.collect { case k: EKw => k.name }
          case _ => Seq.empty
        },
        tupleAttrs = m.getKw("db/tupleAttrs") match {
          case Some(EVec(ts)) => ts.collect { case k: EKw => k.qualified }
          case _ => Seq.empty
        })
    }
    new SchemaRegistry(builtin ++ defs.map(d => d.ident -> d).toMap)
  }

  def load(path: String): SchemaRegistry =
    fromEdn(graft.sources.EdnSource.readText(path))
}
