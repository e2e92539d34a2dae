package graft.store

import graft.edn.Edn
import graft.edn.Edn._
import graft.model.{Mbrainz, SchemaRegistry}

/** tx-data entity maps → EAV datoms.
  *
  * Entity identity is a deterministic string key instead of Datomic's
  * allocated numeric eid — distributed-friendly (no id allocator, any
  * executor derives the same key):
  *   - `ident|<kw>`            entities keyed by :db/ident
  *   - `<uniq-attr>|<value>`   entities keyed by a :db.unique/identity
  *                             attr (upsert semantics fall out: same
  *                             key ⇒ same entity across loads)
  *   - `tempid|<scope>|<id>`   tx-local tempids (media tracks —
  *                             multi-artist tracks coalesce because the
  *                             composite tempid matches)
  *   - `tx|<scope>`            the transaction entity ("datomic.tx")
  *   - `anon|<scope>|<n>`      entities with no key (media mediums)
  *
  * Ref values store the target's e-key; reverse refs
  * (`:release/_media [uniq v]`, importer.clj:180-181) flip into a
  * forward datom on the parent.
  */
object Datoms {

  final case class Datom(e: String, a: String, v: String, vLong: Option[Long],
      isRef: Boolean, tx: Long)

  def refKey(attr: String, v: Edn): String = s"$attr|${scalarText(v)}"

  def scalarText(e: Edn): String = e match {
    case EStr(s) => s
    case EUuid(u) => u
    case ELong(l) => l.toString
    case EDouble(d) => d.toString
    case k: EKw => k.qualified
    case s: ESym => s.qualified
    case EBool(b) => b.toString
    case other => Edn.print(other)
  }

  private def isReverse(attr: EKw): Boolean = attr.name.startsWith("_")
  private def forwardOf(attr: EKw): String = EKw(attr.ns, attr.name.substring(1)).qualified

  /** Resolve the e-key of one entity map. */
  def entityKey(m: EMap, registry: SchemaRegistry, scope: String, anon: () => String): String = {
    m.getKw("db/id") match {
      case Some(EStr("datomic.tx")) => s"tx|$scope"
      case Some(EStr(tempid)) => s"tempid|$scope|$tempid"
      case _ =>
        m.getKw("db/ident") match {
          case Some(k: EKw) => s"ident|${k.qualified}"
          case _ =>
            m.entries.collectFirst {
              case (k: EKw, v) if registry(k.qualified).uniqueIdentity && !isReverse(k) =>
                refKey(k.qualified, v)
            }.getOrElse(anon())
        }
    }
  }

  /** Emit datoms for one entity map (recursing into component children). */
  def entityDatoms(m: EMap, registry: SchemaRegistry, scope: String, tx: Long,
      anon: () => String): Vector[Datom] = {
    val e = entityKey(m, registry, scope, anon)
    val out = Vector.newBuilder[Datom]
    m.entries.foreach {
      case (EKw("db", "id"), _) => // identity only
      case (k: EKw, value) if isReverse(k) =>
        // [:release/_media [uniq v]] — child asserts edge INTO parent
        value match {
          case EVec(Vector(uniq: EKw, v)) =>
            out += Datom(refKey(uniq.qualified, v), forwardOf(k), e, None, isRef = true, tx)
          case other =>
            throw new IllegalArgumentException(s"bad reverse-ref value: $other")
        }
      case (k: EKw, value) =>
        val attr = k.qualified
        value match {
          case lookup: EMap if lookup.entries.forall(_._1.isInstanceOf[EKw]) && lookup.getKw("db/id").isEmpty
              && registry.isRef(attr) && lookup.entries.size == 1 =>
            // lookup ref {uniq v}
            val (ukRaw, uv) = lookup.entries.head
            val uk = ukRaw.asInstanceOf[EKw]
            out += Datom(e, attr, refKey(uk.qualified, uv), None, isRef = true, tx)
          case child: EMap =>
            // nested component entity
            val childDatoms = entityDatoms(child, registry, scope, tx, anon)
            out ++= childDatoms
            out += Datom(e, attr, childDatoms.head.e, None, isRef = true, tx)
          case EVec(items) if items.forall(_.isInstanceOf[EMap]) && items.nonEmpty =>
            // component children array (:medium/tracks [...])
            items.foreach { case child: EMap =>
              val childDatoms = entityDatoms(child, registry, scope, tx, anon)
              out ++= childDatoms
              out += Datom(e, attr, childDatoms.head.e, None, isRef = true, tx)
            }
          case kw: EKw =>
            if (registry.isRef(attr))
              out += Datom(e, attr, s"ident|${kw.qualified}", None, isRef = true, tx)
            else out += Datom(e, attr, kw.qualified, None, isRef = false, tx)
          case ELong(l) => out += Datom(e, attr, l.toString, Some(l), isRef = false, tx)
          case other => out += Datom(e, attr, scalarText(other), None, isRef = false, tx)
        }
    }
    val datoms = out.result()
    // entityKey is derived from attrs; ensure the key-bearing datom
    // exists even for maps that ONLY had reverse refs (their e is the
    // child; nothing to add) — for ident/unique-keyed entities the
    // attr datom is already in `datoms` via the normal loop above.
    if (datoms.isEmpty) Vector(Datom(e, "db/id", e, None, isRef = false, tx)) else datoms
  }

  /** Datoms for a whole batch line `{:batch-ident {...}, :data [...]}`,
    * all at tx `Mbrainz.batchTx(typeIdx, n)` for batch id `<type>-n`
    * (`typeIdx` is `Mbrainz.txRangeIndex`). */
  def batchDatoms(batchLine: String, registry: SchemaRegistry, typeIdx: Int): (String, Vector[Datom]) = {
    val b = Edn.parse(batchLine).asInstanceOf[EMap]
    val ident = b.getKw("batch-ident").get.asInstanceOf[EMap]
    val batchId = ident.getKw(Mbrainz.batchIdAttr) match {
      case Some(EStr(s)) => s
      case other => throw new IllegalArgumentException(s"batch without id: $other")
    }
    val n = batchId.substring(batchId.lastIndexOf('-') + 1).toLong
    val tx = Mbrainz.batchTx(typeIdx, n)
    var anonN = 0
    val anon = () => { anonN += 1; s"anon|$batchId|$anonN" }
    val data = b.getKw("data").get.asInstanceOf[EVec].items
    val all = Vector.newBuilder[Datom]
    all ++= entityDatoms(ident, registry, batchId, tx, anon)
    data.foreach { case m: EMap => all ++= entityDatoms(m, registry, batchId, tx, anon) }
    (batchId, all.result())
  }
}
