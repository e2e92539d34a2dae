package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.edn.Edn
import graft.edn.Edn._
import graft.model.SchemaRegistry
import graft.store.Store

/** Datomic's pull API (`d/pull`) over the EAV store: a declarative
  * EDN pattern — attributes, nested forward refs `{:release/artists
  * […]}`, reverse refs `{:release/_artists […]}` — hydrated for a set
  * of root entities in one DataFrame program.
  *
  * Shape: one column per pattern entry (`/` → `_`; reverse refs keep
  * their `_` prefix). Card-many attrs and reverse refs become sorted
  * arrays (deterministic output); nested patterns become structs.
  * Missing attrs are null, as in Datomic.
  *
  * Scale: each pattern entry is one attribute-pruned scan joined back
  * to the root set on `e` — N pattern entries = N pruned scans + N
  * keyed joins, no row explosion beyond the data itself. Nested
  * patterns recurse on the (deduped) child id set only.
  */
object Pull {

  /** Datomic's implicit default limit on card-many results: any
    * cardinality-many attribute or reverse ref without an explicit
    * `:limit` truncates to the first 1000 items of the stable value
    * order; `(:attr :limit nil)` lifts the cap (parsed to [[NoLimit]]),
    * `(:attr :limit n)` overrides it. */
  val DefaultLimit = 1000
  /** Sentinel for `:limit nil` — "return everything". */
  val NoLimit: Int = Int.MaxValue

  sealed trait Spec
  /** Datomic attribute-with-options: `(:artist/name :as "Name")`,
    * `(:artist/aliases :limit 2)`, `(:artist/startYear :default 0)`,
    * `(:artist/name :xform str/upper-case)`.
    * `limit` slices the SORTED card-many collection (deterministic
    * truncation); `None` means Datomic's implicit [[DefaultLimit]]
    * applies, `Some(NoLimit)` is the parsed `:limit nil` (no cap).
    * `default` coalesces a missing card-one value, `as` renames the
    * output column, `xform` names a whitelisted transform applied to
    * stored values post-read (per element on card-many; the default
    * passes through untransformed, as in Datomic). */
  final case class PAttr(attr: String, limit: Option[Int] = None,
    default: Option[Edn] = None, as: Option[String] = None,
    xform: Option[String] = None) extends Spec
  final case class PRef(attr: String, reverse: Boolean, sub: Seq[Spec],
    limit: Option[Int] = None, as: Option[String] = None) extends Spec
  /** Recursive map spec — Datomic `{:person/friends 2}` (depth limit)
    * and `{:release/media ...}` (unbounded): follow the ref attr and
    * re-apply the ENCLOSING pattern at each level. `depth` = -1 marks
    * `...`; it resolves at plan time to the actual closure depth of
    * the ref graph from the root set (one bounded frontier walk —
    * rendering is a DataFrame, so the unrolling must be static). At
    * depth exhaustion the ref renders as its plain value (the child
    * entity id) — Datomic's "already seen / limit hit → :db/id only"
    * shape, which also makes cyclic graphs terminate. */
  final case class PRec(attr: String, reverse: Boolean, depth: Int) extends Spec
  /** `*` — every registry attribute, as scalar columns (Datomic's
    * wildcard renders refs un-recursed; combine with explicit map
    * specs to hydrate chosen refs). Expansion is schema-driven (the
    * registry), giving the STABLE column set a DataFrame needs — the
    * data-driven variant would make output schema depend on row
    * contents. */
  case object PWild extends Spec

  /** `:xform` transforms — the `:db/fn` discipline applied to pull:
    * transforms run by NAME from a fixed whitelist, never from
    * arbitrary query text. Each is a null-preserving Column transform
    * applied to STORED values only — `:default` fills pass through
    * untouched, as in Datomic. */
  private val xforms = Map[String, org.apache.spark.sql.Column => org.apache.spark.sql.Column](
    "str/upper-case" -> (c => upper(c)),
    "str/lower-case" -> (c => lower(c)),
    "str/trim" -> (c => trim(c)),
    "str/length" -> (c => length(c).cast("long")),
    "parse-long" -> (c => c.cast("long")),
    "parse-double" -> (c => c.cast("double")))

  private def xformFn(name: String): org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    xforms.getOrElse(name, throw new IllegalArgumentException(
      s"pull :xform '$name' is not registered (have: ${xforms.keys.toSeq.sorted.mkString(", ")})"))

  def parsePattern(text: String): Seq[Spec] = parsePattern(Edn.parse(text))

  def parsePattern(form: Edn): Seq[Spec] = form match {
    case EVec(items) => items.map(specOf)
    case other => throw new IllegalArgumentException(s"pull pattern must be a vector: $other")
  }

  /** `(:attr :opt v …)` option list → (limit, default, as, xform). */
  private def attrOptions(opts: Seq[Edn])
      : (Option[Int], Option[Edn], Option[String], Option[String]) = {
    require(opts.size % 2 == 0, s"pull attr options must be key/value pairs")
    opts.grouped(2).foldLeft((Option.empty[Int], Option.empty[Edn],
        Option.empty[String], Option.empty[String])) {
      case ((l, d, a, x), Seq(EKw("", "limit"), ELong(n))) => (Some(n.toInt), d, a, x)
      // Datomic `:limit nil` — lift the implicit 1000-item default
      case ((l, d, a, x), Seq(EKw("", "limit"), ENil)) => (Some(NoLimit), d, a, x)
      case ((l, d, a, x), Seq(EKw("", "default"), v)) => (l, Some(v), a, x)
      case ((l, d, a, x), Seq(EKw("", "as"), EStr(s))) => (l, d, Some(s), x)
      // :xform names a function SYMBOL — resolved against the
      // registered whitelist at plan time (the :db/fn discipline)
      case ((l, d, a, x), Seq(EKw("", "xform"), ESym(ns, n))) =>
        (l, d, a, Some(if (ns.isEmpty) n else s"$ns/$n"))
      case (_, Seq(k, v)) =>
        throw new IllegalArgumentException(s"bad pull attr option: ${Edn.print(k)} ${Edn.print(v)}")
    }
  }

  private def specOf(e: Edn): Spec = e match {
    case ESym("", "*") => PWild
    case k: EKw => PAttr(k.qualified)
    // attribute with options: (:artist/name :as "Name" :limit 2 :default x)
    case EList((k: EKw) +: opts) =>
      val (limit, default, as, xform) = attrOptions(opts)
      PAttr(k.qualified, limit, default, as, xform)
    case m: EMap =>
      require(m.entries.size == 1, s"pull map spec must have one entry: ${Edn.print(m)}")
      m.entries.head match {
        case (k: EKw, EVec(sub)) =>
          val reverse = k.name.startsWith("_")
          val attr = if (reverse) s"${k.ns}/${k.name.drop(1)}" else k.qualified
          PRef(attr, reverse, sub.map(specOf))
        // recursion: {:ref N} depth limit, {:ref ...} unbounded
        case (k: EKw, ELong(n)) =>
          require(n > 0, s"pull recursion depth must be positive: ${Edn.print(m)}")
          val reverse = k.name.startsWith("_")
          val attr = if (reverse) s"${k.ns}/${k.name.drop(1)}" else k.qualified
          PRec(attr, reverse, n.toInt)
        case (k: EKw, ESym("", "...")) =>
          val reverse = k.name.startsWith("_")
          val attr = if (reverse) s"${k.ns}/${k.name.drop(1)}" else k.qualified
          PRec(attr, reverse, -1)
        // map key with options: {(:order/line :limit 2) [...]}
        case (EList((k: EKw) +: opts), EVec(sub)) =>
          val (limit, _, as, _) = attrOptions(opts)
          val reverse = k.name.startsWith("_")
          val attr = if (reverse) s"${k.ns}/${k.name.drop(1)}" else k.qualified
          PRef(attr, reverse, sub.map(specOf), limit, as)
        case other => throw new IllegalArgumentException(s"bad pull map entry: $other")
      }
    case other => throw new IllegalArgumentException(s"bad pull spec: ${Edn.print(other)}")
  }

  private def colName(attr: String, reverse: Boolean): String = {
    val base = attr.replace('/', '_').replace('.', '_').replace('-', '_')
    if (reverse) {
      val i = attr.indexOf('/')
      (attr.substring(0, i) + "/_" + attr.substring(i + 1))
        .replace('/', '_').replace('.', '_').replace('-', '_')
    } else base
  }

  def pull(store: Store, registry: SchemaRegistry, patternEdn: String,
      roots: DataFrame): DataFrame =
    pullFrom(store.current(registry), registry, parsePattern(patternEdn), roots)

  /** Pull over an already-resolved current-state EAV (e, a, v). */
  def pullFrom(cur: DataFrame, registry: SchemaRegistry, pattern: Seq[Spec],
      roots: DataFrame): DataFrame =
    pullFrom(cur, registry, pattern, roots, Set.empty)

  /** `wildSeen`: component attrs already hydrated by a `*` on this
    * path — breaks schema-level component cycles (a self-nested
    * component renders its second occurrence as the plain id; reach
    * for an explicit `{:attr ...}` recursion spec to unroll it by
    * data depth). */
  private def pullFrom(cur: DataFrame, registry: SchemaRegistry, pattern: Seq[Spec],
      roots: DataFrame, wildSeen: Set[String]): DataFrame = {
    // `*` expands to the registry's attrs (sorted, deduped against
    // explicit entries so `[* {:x/ref [...]}]` keeps the hydrated form)
    val explicit = pattern.collect {
      case p: PAttr => p.attr
      case PRef(a, reverse, _, _, _) if !reverse => a
      case PRec(a, reverse, _) if !reverse => a
    }.toSet
    val expanded = pattern.flatMap {
      case PWild => registry.attrs.keys.toSeq.sorted
        .filterNot(explicit.contains).map { a =>
          // Datomic's wildcard recursively hydrates COMPONENT refs —
          // the owned subtree IS part of the entity; non-component
          // refs render un-recursed as plain ids
          if (registry(a).component && registry.isRef(a) && !wildSeen.contains(a))
            PRef(a, reverse = false, Seq(PWild))
          else PAttr(a)
        }
      case s => Seq(s)
    }
    // defaults render with the same text encoding stored values carry
    def defText(d: Edn): String = d match {
      case EStr(s) => s
      case ELong(n) => n.toString
      case EDouble(x) => x.toString
      case EBool(b) => b.toString
      case k: EKw => k.qualified
      case EUuid(u) => u
      case other => Edn.print(other)
    }
    // card-many collections truncate at Datomic's implicit default
    // unless an explicit :limit overrides it (:limit nil = NoLimit)
    def sliced(c: org.apache.spark.sql.Column, limit: Option[Int]) =
      limit.getOrElse(DefaultLimit) match {
        case NoLimit => c
        case n => slice(c, 1, n)
      }
    val rootsE = roots.select(col("e"))
    // `...` resolves to the ref graph's closure depth from THIS
    // level's root set (the unrolling must be static for a DataFrame
    // schema); a declared depth is taken as-is. One level = a PRef
    // whose sub-pattern is the enclosing pattern with this recursion
    // point decremented — the recursive pullFrom unrolls the rest.
    // Depth exhausted → the plain attr value (child entity id),
    // Datomic's cycle/limit rendering. The root e-set is invariant
    // through the hydration (left joins on e), so closure depth can
    // resolve up-front against the roots.
    def resolveRec(spec: Spec): Spec = spec match {
      case PRec(attr, reverse, depth0) =>
        val depth =
          if (depth0 >= 0) depth0
          else closureDepth(cur, attr, reverse, rootsE)
        if (depth <= 0) PAttr(attr)
        else {
          val sub = expanded.map {
            case PRec(`attr`, `reverse`, _) => PRec(attr, reverse, depth - 1)
            case other => other
          }
          PRef(attr, reverse, sub)
        }
      case s => s
    }
    val resolved = expanded.map(resolveRec)
    def nameOf(spec: Spec): String = spec match {
      case PAttr(attr, _, _, as, _) => as.getOrElse(colName(attr, reverse = false))
      case PRef(attr, reverse, _, _, as) => as.getOrElse(colName(attr, reverse))
      case other => throw new IllegalStateException(s"unresolved spec: $other")
    }
    // Hydrate a batch of scalar attrs onto `frame`, keyed by the
    // entity-id column `key`. Two strategies: ≤4 all-card-one attrs
    // hydrate as per-attr keyed joins (broadcast-able either way by
    // AQE); wider or card-many batches hydrate via ONE attr-pruned
    // scan + ONE conditional aggregation + ONE join (the entityTable
    // shape) — a 60-attr `[*]` pattern used to cost 60 scans and 60
    // shuffle-joins, which dominated pull's runtime and plan size.
    def scalarHydrate(frame: DataFrame, key: String, scalars: Seq[PAttr]): DataFrame = {
      // :default coalesces a missing CARD-ONE value; on a card-many
      // attr it would coalesce an array with a scalar literal and
      // die downstream with an opaque AnalysisException — gate here
      scalars.foreach(p => require(p.default.isEmpty || !registry.isMany(p.attr),
        s"pull :default applies to cardinality-one attributes only; " +
          s"${p.attr} is :cardinality/many"))
      val joined =
        if (scalars.size <= 4 && scalars.forall(p => !registry.isMany(p.attr))) {
          // few card-one attrs: per-attr keyed joins, NO aggregation —
          // each join's build side is whichever is smaller (a small
          // root set broadcasts against a huge store; a small pruned
          // attr population broadcasts against a wide root set — AQE
          // picks), where the batched agg below would commit to
          // shuffling the attr rows unconditionally
          scalars.foldLeft(frame) { (df, p) =>
            val name = p.as.getOrElse(colName(p.attr, reverse = false))
            df.join(cur.filter(col("a") === p.attr)
              .select(col("e").as(key), col("v").as(name)), Seq(key), "left")
          }
        } else {
          val aggs = scalars.map { case PAttr(attr, limit, _, as, _) =>
            val name = as.getOrElse(colName(attr, reverse = false))
            val picked = when(col("a") === attr, col("v"))
            if (registry.isMany(attr)) {
              // sort BEFORE the limit slice: Datomic returns the first
              // n of the stable value order, not n arbitrary elements.
              // An entity reaching this group only via OTHER attrs of
              // the batch collects an empty list — a missing attr is
              // null, as in the unbatched form
              val collected = sort_array(collect_list(picked))
              when(size(collected) === 0, lit(null))
                .otherwise(sliced(collected, limit)).as(name)
            } else max(picked).as(name) // one value per (e, a) post-resolution
          }
          val agged = cur.filter(col("a").isInCollection(scalars.map(_.attr)))
            .groupBy(col("e")).agg(aggs.head, aggs.tail: _*)
            .withColumnRenamed("e", key)
          frame.join(agged, Seq(key), "left")
        }
      scalars.foldLeft(joined) { (df, p) =>
        val name = p.as.getOrElse(colName(p.attr, reverse = false))
        // :xform first (stored values only — null-preserving, so a
        // missing attr stays null), then :default fills the gap with
        // the UNtransformed literal, Datomic's ordering
        val xformed = p.xform.fold(df) { xf =>
          val f = xformFn(xf)
          if (registry.isMany(p.attr))
            df.withColumn(name, transform(col(name), f))
          else df.withColumn(name, f(col(name)))
        }
        p.default.fold(xformed)(d =>
          xformed.withColumn(name, coalesce(col(name), lit(defText(d)))))
      }
    }
    val scalars = resolved.collect { case p: PAttr => p }
    val withScalars =
      if (scalars.isEmpty) rootsE else scalarHydrate(rootsE, "e", scalars)
    def refStep(acc: DataFrame, spec: PRef): DataFrame = spec match {
      case PRef(attr, reverse, sub, limit, as) =>
        // forward: root --attr--> child (v is the child id);
        // reverse: child --attr--> root, hydrate the children
        val edges =
          if (reverse) cur.filter(col("a") === attr)
            .select(col("v").as("e"), col("e").as("__child"))
          else cur.filter(col("a") === attr)
            .select(col("e"), col("v").as("__child"))
        // an ALL-SCALAR sub-pattern (depth-exhausted recursion points
        // are scalars too) hydrates DIRECTLY onto the edge targets —
        // no child-root distinct, no separate root join, no recursive
        // call: two shuffles less per ref level than the general path
        val subMapped = sub.map {
          case PRec(a2, _, 0) => PAttr(a2)
          case s => s
        }
        val (joined, childCols) =
          if (subMapped.nonEmpty && subMapped.forall(_.isInstanceOf[PAttr])) {
            val ss = subMapped.collect { case p: PAttr => p }
            (scalarHydrate(edges, "__child", ss), ss.map(nameOf))
          } else {
            val children = pullFrom(cur, registry, sub,
              edges.select(col("__child").as("e")).distinct(), wildSeen + attr)
            (edges.join(children.withColumnRenamed("e", "__child"), "__child"),
              children.columns.filterNot(_ == "e").toSeq)
          }
        val st = struct(childCols.map(c => col(s"`$c`")): _*)
        val name = as.getOrElse(colName(attr, reverse))
        // reverse refs and card-many forward refs collect; a card-one
        // forward ref is a single struct
        val agged =
          if (reverse || registry.isMany(attr))
            joined.groupBy("e").agg(
              sliced(sort_array(collect_list(st)), limit).as(name))
          else joined.groupBy("e").agg(min(st).as(name))
        acc.join(agged, Seq("e"), "left")
    }
    val hydrated = resolved.collect { case p: PRef => p }.foldLeft(withScalars)(refStep)
    // restore the pattern's declared column order (scalars batched first)
    hydrated.select(("e" +: resolved.map(nameOf)).map(c => col(s"`$c`")): _*)
  }

  /** Ceiling on automatic `...` unrolling. Two forces bound it:
    * the closure walk below carries (root, node) pairs, so on a
    * deep graph pulled from many roots the pair volume approaches
    * roots × reachable — capping rounds caps that cost; and the
    * unroll depth IS the output schema's struct-nesting depth, which
    * Spark's analyzer/codegen handle poorly past a few dozen levels.
    * Levels beyond the cap render as the plain ref id — the same
    * shape Datomic uses at its own recursion limits. A deeper unroll
    * is always available explicitly via `{:ref N}`. */
  val MaxAutoUnroll = 16

  /** Closure depth of one ref attribute's graph from a root set — the
    * plan-time resolution of `...` recursion. The unroll depth is the
    * longest hop count from any INDIVIDUAL root, so the walk carries
    * (root, node) pairs with a per-root visited set: a ref target that
    * happens to be another pull root still extends THIS root's path
    * (Datomic nests each root until a repeat on its own path — a
    * global visited set seeded with every root would resolve bulk
    * pulls to depth 0 and hydrate nothing). Per-root-visited is BFS,
    * so depth = max eccentricity over roots; a longest-SIMPLE-path
    * unroll (Datomic's per-path repeat test can nest deeper on
    * diamond graphs) is NP-hard and not attempted. Rounds scale with
    * graph depth, capped at MaxAutoUnroll; pair volume with
    * Σ per-root reachable sets within the cap — declared-depth specs
    * (`{:ref N}`) skip the walk entirely. */
  private def closureDepth(cur: DataFrame, attr: String, reverse: Boolean,
      roots: DataFrame): Int = {
    val edges =
      if (reverse) cur.filter(col("a") === attr)
        .select(col("v").as("src"), col("e").as("dst"))
      else cur.filter(col("a") === attr)
        .select(col("e").as("src"), col("v").as("dst"))
    var frontier = roots.select(col("e").as("r"), col("e"))
      .distinct().localCheckpoint(false)
    frontier.count()
    var visited = List(frontier)
    var depth = 0
    var growing = true
    while (growing && depth < MaxAutoUnroll) {
      val seen = visited.reduce(_ unionByName _)
      val next = frontier.join(edges, frontier("e") === edges("src"))
        .select(col("r"), col("dst").as("e")).distinct()
        .join(seen, Seq("r", "e"), "left_anti").localCheckpoint(false)
      if (next.count() == 0L) growing = false
      else { depth += 1; visited ::= next; frontier = next }
    }
    depth
  }
}
