package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.edn.Edn
import graft.edn.Edn._
import graft.model.SchemaRegistry
import graft.store.Store

/** A Datalog front-end over the EAV store — the query language the
  * reference actually speaks (`examples/explore_db.clj`). Queries are
  * EDN (parsed by graft.edn); planning is plain DataFrame
  * construction, exactly as SURVEY §4 anticipated: each `[e a v]`
  * pattern is an attribute-pruned EAV scan, shared variables become
  * equi-joins (Catalyst reorders/broadcasts), `:find` aggregates
  * become groupBy.
  *
  * Supported surface (covers every query in the reference examples):
  *   [:find ?var (count ?var) (count-distinct ?v) (min …) (max …) (sum …)
  *    :keys name …
  *    :in $ ?param …
  *    :where [?e :attr ?v] [?e ?a _] …]
  * Constants: keywords, strings, longs, uuids. `_` is a wildcard.
  * Expression clauses include missing?/get-else/get-some/ground,
  * arithmetic and str binding, and predicate filters.
  */
object Datalog {

  sealed trait Term
  final case class TVar(name: String) extends Term
  case object TWild extends Term
  final case class TConst(value: Edn) extends Term

  sealed trait FindElem
  final case class FVar(name: String) extends FindElem
  final case class FAgg(fn: String, varName: String) extends FindElem
  /** Datomic's n-ary collection aggregates — `(min n ?x)` / `(max n
    * ?x)` return the n smallest/largest DISTINCT values as a sorted
    * collection; `(distinct ?x)` (FAggN with n = -1) returns them
    * all. Surfaces as an array column. */
  final case class FAggN(fn: String, n: Int, varName: String) extends FindElem
  /** `(pull ?e [pattern])` in :find — hydrate each binding of `?e`
    * with the pull pattern; surfaces as a struct column `pull_<var>`
    * (Datomic returns the pulled map in the tuple position). */
  final case class FPull(varName: String, pattern: Seq[Pull.Spec]) extends FindElem

  sealed trait Clause
  /** `src` = None for the default database `$`; Some(name) for an
    * extra `:in` database (`$2`, `$docs`, …) named at the pattern head
    * (`[$2 ?e :attr ?v]`) — Datomic's multi-source joins.
    * `tx` is the optional fourth datom position (`[?e :attr ?v ?tx]`):
    * binds or constrains the asserting transaction — meaningful over
    * log/history views, which carry a `tx` column. `added` is the
    * optional FIFTH position (`[?e :attr ?v ?tx ?added]` — Datomic's
    * history five-tuple): binds or constrains the assert/retract flag
    * as "true"/"false"; requires a view carrying `op`. */
  final case class Pattern(e: Term, a: Term, v: Term,
    src: Option[String] = None, tx: Term = TWild, added: Term = TWild) extends Clause
  /** `(rule-name ?arg …)` — invocation of a rule from the `%` rule set
    * (Datomic rules, including self-recursive ones). */
  final case class RuleCall(name: String, args: Seq[Term]) extends Clause
  /** `[(pred ?x …)]` — filter on already-bound variables. Comparisons
    * evaluate numerically when any argument is a numeric literal
    * (store values are text; the cast is explicit in the plan),
    * otherwise as text. */
  final case class PredClause(fn: String, args: Seq[Term]) extends Clause
  /** `[(fn ?x …) ?out]` — bind `?out` to a computed expression
    * (+ - * / as double, str as concat). */
  final case class FnClause(fn: String, args: Seq[Term], out: String) extends Clause
  /** `[(untuple ?t) [?a ?b …]]` — Datomic's tuple destructuring:
    * split a tuple-encoded value (the `[s0 s1 …]` text form shared by
    * `(tuple …)`, `:db/tupleAttrs` and `:db/tupleTypes` datoms) into
    * per-slot bindings; `_` ignores a slot, `nil` decodes to null.
    *
    * Scope limitation of TYPED decode: slot types come from
    * `:db/tupleTypes` only when the tuple var is bound by a pattern
    * in the SAME clause list as the untuple. A tuple var bound in an
    * enclosing scope (rule body, or-leg, `:in` param) falls back to
    * text decode — numeric slots then compare lexically ("9" > "10").
    * For those shapes, compare through an explicit cast predicate or
    * untuple inside the scope that binds the pattern. */
  final case class UntupleClause(t: Term, outs: Seq[Option[String]]) extends Clause
  /** `[(tx-ids $ t1 t2) [?tx ...]]` — Datomic's log API in query:
    * the distinct transaction ids in [t1, t2). Bounds are constants
    * or bound :in params. The log IS the `$` source here (the store
    * is an EAV log), so no separate log handle is needed. */
  final case class TxIdsClause(t1: Term, t2: Term, out: String) extends Clause
  /** `[(tx-data $ ?tx) [[?e ?a ?v ?tx ?op]]]` — the datoms of
    * transaction(s): 3 to 5 output slots, `_` skips. A constant tx
    * filters the scan (tx row-group pruning); a variable tx binds and
    * joins like any shared var. */
  final case class TxDataClause(t: Term, outs: Seq[Option[String]]) extends Clause
  /** `(not clause …)` — Datomic negation: drop outer bindings for
    * which the inner conjunction has any solution (anti-join on the
    * shared variables, which must already be bound). */
  final case class NotClause(clauses: Seq[Clause]) extends Clause
  /** `(or leg …)` — disjunction: each leg is a clause or an
    * `(and clause …)` group; all legs must bind the same variables
    * and the results union (set semantics). `(or-join [?vars] leg …)`
    * relaxes that: legs may bind extra internals, only the declared
    * vars unify with the outer query. */
  final case class OrClause(legs: Seq[Seq[Clause]], joinVars: Option[Seq[String]] = None)
    extends Clause
  /** `(not-join [?vars] clause …)` — negation that unifies with the
    * outer query ONLY on the declared vars (inner clauses may bind
    * extra internals). */
  final case class NotJoinClause(joinVars: Seq[String], clauses: Seq[Clause]) extends Clause
  /** `[(get-else $ ?e :attr default) ?out]` — bind ?out to the
    * entity's attr value, or `default` when the attr is absent
    * (left join + coalesce). */
  final case class GetElseClause(eVar: String, attr: EKw, default: Edn, out: String)
    extends Clause
  /** `[(get-some $ ?e :a1 :a2 …) ?out]` — bind ?out to the value of
    * the FIRST listed attribute the entity has (Datomic get-some);
    * rows where none is present drop (no binding). Datomic's full
    * return is the `[attr value]` TUPLE — the destructuring form
    * `[(get-some $ ?e :a1 :a2) [?attr ?v]]` binds both (`outAttr`
    * carries the winning attribute's keyword text). */
  final case class GetSomeClause(eVar: String, attrs: Seq[EKw], out: String,
    outAttr: Option[String] = None) extends Clause
  /** `[(fulltext $ :attr ?needle) [[?e ?v ?tx ?score]]]` — Datomic's
    * fulltext function clause: token search over a `:db/fulltext true`
    * attribute, returning the (entity, value, tx, score) relation —
    * any suffix of the four slots may be omitted and any slot may be
    * `_`, as in Datomic's destructuring. The needle must resolve to a
    * constant (a literal or a bound :in param); the attribute must be
    * declared fulltext in the schema registry — exactly Datomic's
    * gate (only indexed attrs are searchable). Score is term
    * frequency, not Lucene BM25 (see Explore.fulltextHits). */
  final case class FulltextClause(attr: EKw, needle: Term,
    outE: Option[String], outV: Option[String],
    outTx: Option[String] = None, outScore: Option[String] = None)
    extends Clause {
    require(Seq(outE, outV, outTx, outScore).flatten.nonEmpty,
      "(fulltext …) must bind at least one output slot")
  }
  /** One rule definition: `[(name ?p1 ?p2) clause…]`. A rule may have
    * several definitions (disjunction); a definition whose body calls
    * back into its own strongly-connected component is recursive.
    * `requiredCount` > 0 marks a required-bindings head
    * `[(name [?a ?b] ?c) …]`: the first `requiredCount` params must be
    * BOUND at every call site (constant or an already-bound variable),
    * as in Datomic. */
  final case class RuleDef(params: Seq[String], body: Seq[Clause],
    requiredCount: Int = 0)
  final case class Query(find: Seq[FindElem], in: Seq[String], patterns: Seq[Clause],
    withVars: Seq[String] = Seq.empty, collIn: Seq[String] = Seq.empty,
    tupleIn: Seq[Seq[Option[String]]] = Seq.empty, // None = `_` (ignored slot)
    relIn: Seq[Seq[String]] = Seq.empty,
    srcs: Seq[String] = Seq.empty, // extra databases beyond `$` (`$2`, …)
    keys: Seq[String] = Seq.empty, // `:keys` — output column names, positional over :find
    shape: String = "relation") // Datomic find spec: relation | scalar | coll | tuple

  def parse(ednText: String): Query = {
    val items = Edn.parse(ednText) match {
      case EVec(xs) => xs
      case other => throw new IllegalArgumentException(s"query must be a vector: $other")
    }
    val sections = scala.collection.mutable.Map[String, Vector[Edn]]()
    var current: String = null
    items.foreach {
      case EKw("", kw @ ("find" | "in" | "where" | "with" | "keys")) =>
        current = kw; sections.getOrElseUpdate(kw, Vector())
      case form =>
        require(current != null, s"form before :find/:in/:where: ${Edn.print(form)}")
        sections(current) = sections(current) :+ form
    }
    // Datomic find SPECIFICATIONS — the bracket/dot sugar controlling
    // result geometry: `:find ?x .` scalar (one row, one column),
    // `:find [?x ...]` collection (one column, every row),
    // `:find [?x ?y]` single tuple (one row), bare elements = relation.
    // Results stay DataFrames, so scalar/tuple surface as LIMIT 1 —
    // like Datomic, WHICH row a scalar/tuple picks from a multi-row
    // result is unspecified.
    val findForms = sections.getOrElse("find", Vector())
    val (shape, elemForms) = findForms match {
      case Vector(elem, ESym("", ".")) => ("scalar", Vector(elem))
      case Vector(EVec(Vector(elem, ESym("", "...")))) => ("coll", Vector(elem))
      case Vector(EVec(elems)) if elems.nonEmpty => ("tuple", elems)
      case fs => ("relation", fs)
    }
    val find = elemForms.map {
      case ESym("", v) if v.startsWith("?") => FVar(v.drop(1))
      case EList(Vector(ESym("", "pull"), ESym("", v), pat)) if v.startsWith("?") =>
        FPull(v.drop(1), Pull.parsePattern(pat))
      case EList(Vector(ESym("", fn), ESym("", v))) if v.startsWith("?") =>
        if (fn == "distinct") FAggN(fn, -1, v.drop(1)) else FAgg(fn, v.drop(1))
      case EList(Vector(ESym("", fn @ ("min" | "max" | "sample" | "rand")), ELong(n),
          ESym("", v))) if v.startsWith("?") && n > 0 =>
        FAggN(fn, n.toInt, v.drop(1))
      case other => throw new IllegalArgumentException(s"bad :find element: ${Edn.print(other)}")
    }
    require(find.nonEmpty, "query needs :find")
    // `$` (the db) is implicit; the four Datomic binding forms:
    //   ?x            scalar
    //   [?x ...]      collection (IN filter)
    //   [?a ?b]       tuple (destructures one sequential arg)
    //   [[?a ?b]]     relation (joins a set of tuples)
    val inForms = sections.getOrElse("in", Vector())
    def varNames(elems: Seq[Edn]): Option[Seq[String]] = {
      val vs = elems.collect { case ESym("", v) if v.startsWith("?") => v.drop(1) }
      if (vs.size == elems.size && vs.nonEmpty) Some(vs) else None
    }
    // tuple slots: each position is a var or a `_` blank; at least one var
    def tupleSlots(elems: Seq[Edn]): Option[Seq[Option[String]]] = {
      val slots = elems.map {
        case ESym("", v) if v.startsWith("?") => Some(Some(v.drop(1)))
        case ESym("", "_") => Some(None)
        case _ => None
      }
      if (slots.nonEmpty && slots.forall(_.isDefined) && slots.exists(_.get.isDefined))
        Some(slots.map(_.get))
      else None
    }
    val isColl: Edn => Boolean = {
      case EVec(Vector(ESym("", v), ESym("", "..."))) => v.startsWith("?")
      case _ => false
    }
    val tupleIn = inForms.collect {
      case e @ EVec(elems) if !isColl(e) && tupleSlots(elems).isDefined =>
        tupleSlots(elems).get
    }
    val relIn = inForms.collect {
      case EVec(Vector(EVec(elems))) if varNames(elems).isDefined => varNames(elems).get
    }
    val in = inForms.collect {
      case ESym("", v) if v.startsWith("?") => Vector(v.drop(1))
      case e @ EVec(_) if isColl(e) =>
        val EVec(Vector(ESym("", v), _)) = e: @unchecked; Vector(v.drop(1))
      case e @ EVec(elems) if !isColl(e) && tupleSlots(elems).isDefined =>
        tupleSlots(elems).get.flatten // tuple vars resolve as scalars after destructuring
    }.flatten
    // extra databases: any `$name` after the first `$` (Datomic multi-
    // source: each joins via `[$name e a v]` patterns)
    val srcs = inForms.collect {
      case ESym("", v) if v.startsWith("$") && v != "$" => v.drop(1)
    }
    // reject :in forms that matched nothing (silent drops hide typos)
    inForms.foreach {
      case ESym("", "$") | ESym("", "%") => ()
      case ESym("", v) if v.startsWith("$") => ()
      case ESym("", v) if v.startsWith("?") => ()
      case e @ EVec(_) if isColl(e) => ()
      case EVec(Vector(EVec(elems))) if varNames(elems).isDefined => ()
      case EVec(elems) if tupleSlots(elems).isDefined => ()
      case other => throw new IllegalArgumentException(
        s"unsupported :in form: ${Edn.print(other)}")
    }
    val collIn = inForms.collect {
      case EVec(Vector(ESym("", v), ESym("", "..."))) if v.startsWith("?") => v.drop(1)
    }
    val patterns = sections.getOrElse("where", Vector()).map(clause)
    require(patterns.nonEmpty, "query needs :where")
    val withVars = sections.getOrElse("with", Vector()).map {
      case ESym("", v) if v.startsWith("?") => v.drop(1)
      case other => throw new IllegalArgumentException(s"bad :with element: ${Edn.print(other)}")
    }
    val keys = sections.getOrElse("keys", Vector()).map {
      case ESym("", k) => k
      case other => throw new IllegalArgumentException(s"bad :keys element: ${Edn.print(other)}")
    }
    require(keys.isEmpty || keys.size == find.size,
      s":keys arity ${keys.size} must match :find arity ${find.size}")
    Query(find, in, patterns, withVars, collIn, tupleIn, relIn, srcs, keys, shape)
  }

  private def clause(e: Edn): Clause = e match {
    // `[$src ?e :attr ?v]` / `[$src ?e :attr ?v ?tx]` — pattern
    // against a named extra database
    case EVec(ESym("", src) +: terms)
        if src.startsWith("$") && src != "$" && terms.size >= 3 && terms.size <= 5 =>
      Pattern(term(terms(0)), term(terms(1)), term(terms(2)), Some(src.drop(1)),
        if (terms.size >= 4) term(terms(3)) else TWild,
        if (terms.size == 5) term(terms(4)) else TWild)
    // `[$ ?e :attr ?v]` — explicit default-db marker, same as bare
    case EVec(ESym("", "$") +: terms) if terms.size >= 3 && terms.size <= 5 =>
      Pattern(term(terms(0)), term(terms(1)), term(terms(2)), None,
        if (terms.size >= 4) term(terms(3)) else TWild,
        if (terms.size == 5) term(terms(4)) else TWild)
    case EVec(terms) if terms.size == 3 && !terms(0).isInstanceOf[EList] =>
      Pattern(term(terms(0)), term(terms(1)), term(terms(2)))
    // `[?e :attr ?v ?tx]` / `[?e :attr ?v ?tx ?added]` — the full
    // datom pattern (tx position, history five-tuple)
    case EVec(terms) if (terms.size == 4 || terms.size == 5) && !terms(0).isInstanceOf[EList] =>
      Pattern(term(terms(0)), term(terms(1)), term(terms(2)), None, term(terms(3)),
        if (terms.size == 5) term(terms(4)) else TWild)
    // `[(missing? $ ?e :attr)]` — sugar for (not [?e :attr _])
    case EVec(Vector(EList(Vector(ESym("", "missing?"), ESym("", "$"), ESym("", e), k: EKw))))
        if e.startsWith("?") =>
      NotClause(Seq(Pattern(TVar(e.drop(1)), TConst(k), TWild)))
    case EVec(Vector(EList(Vector(ESym("", "get-else"), ESym("", "$"), ESym("", e),
        k: EKw, default)), ESym("", out)))
        if e.startsWith("?") && out.startsWith("?") =>
      GetElseClause(e.drop(1), k, default, out.drop(1))
    case EVec(Vector(EList(ESym("", "get-some") +: ESym("", "$") +: ESym("", e) +: kws),
        ESym("", out)))
        if e.startsWith("?") && out.startsWith("?") && kws.nonEmpty &&
          kws.forall(_.isInstanceOf[EKw]) =>
      GetSomeClause(e.drop(1), kws.map(_.asInstanceOf[EKw]), out.drop(1))
    // `[(get-some $ ?e :a1 :a2) [?attr ?v]]` — tuple destructuring:
    // binds the winning attribute alongside its value
    case EVec(Vector(EList(ESym("", "get-some") +: ESym("", "$") +: ESym("", e) +: kws),
        EVec(Vector(ESym("", outA), ESym("", outV)))))
        if e.startsWith("?") && outA.startsWith("?") && outV.startsWith("?") &&
          kws.nonEmpty && kws.forall(_.isInstanceOf[EKw]) =>
      GetSomeClause(e.drop(1), kws.map(_.asInstanceOf[EKw]), outV.drop(1),
        Some(outA.drop(1)))
    // `[(fulltext $ :attr ?needle) [[?e ?v ?tx ?score]]]` —
    // relation-binding output, 2 to 4 slots, `_` ignores a slot
    case EVec(Vector(EList(Vector(ESym("", "fulltext"), ESym("", "$"), k: EKw, needle)),
        EVec(Vector(EVec(slots)))))
        if slots.size >= 1 && slots.size <= 4 && slots.forall {
          case ESym("", s) => s.startsWith("?") || s == "_"
          case _ => false
        } =>
      def slot(i: Int): Option[String] = slots.lift(i).collect {
        case ESym("", s) if s.startsWith("?") => s.drop(1)
      }
      require(Seq(slot(0), slot(1), slot(2), slot(3)).flatten.nonEmpty,
        "(fulltext …) must bind at least one output slot")
      FulltextClause(k, term(needle), slot(0), slot(1), slot(2), slot(3))
    // `[(tx-ids $ t1 t2) [?tx ...]]` — collection-binding output
    case EVec(Vector(EList(Vector(ESym("", "tx-ids"), ESym("", "$"), t1, t2)),
        EVec(Vector(ESym("", otx), ESym("", "...")))))
        if otx.startsWith("?") =>
      TxIdsClause(term(t1), term(t2), otx.drop(1))
    // `[(tx-data $ ?tx) [[?e ?a ?v ?tx ?op]]]` — relation binding
    case EVec(Vector(EList(Vector(ESym("", "tx-data"), ESym("", "$"), t)),
        EVec(Vector(EVec(slots)))))
        if slots.size >= 3 && slots.size <= 5 && slots.forall {
          case ESym("", s) => s.startsWith("?") || s == "_"
          case _ => false
        } =>
      TxDataClause(term(t), slots.map {
        case ESym("", s) if s.startsWith("?") => Some(s.drop(1))
        case _ => None
      })
    // `[(untuple ?t) [?a ?b …]]` — tuple-destructuring output form
    case EVec(Vector(EList(Vector(ESym("", "untuple"), t)), EVec(outs)))
        if outs.nonEmpty && outs.forall {
          case ESym("", s) => s.startsWith("?") || s == "_"
          case _ => false
        } =>
      UntupleClause(term(t), outs.map {
        case ESym("", s) if s.startsWith("?") => Some(s.drop(1))
        case _ => None
      })
    case EVec(Vector(EList(ESym("", fn) +: args))) =>
      PredClause(fn, args.map(term))
    case EVec(Vector(EList(ESym("", fn) +: args), ESym("", out))) if out.startsWith("?") =>
      FnClause(fn, args.map(term), out.drop(1))
    case EList(ESym("", "not") +: inner) =>
      NotClause(inner.map(clause))
    case EList(ESym("", "or") +: legs) =>
      OrClause(legs.map {
        case EList(ESym("", "and") +: group) => group.map(clause)
        case single => Seq(clause(single))
      })
    case EList(ESym("", "or-join") +: EVec(vars) +: legs) =>
      OrClause(legs.map {
        case EList(ESym("", "and") +: group) => group.map(clause)
        case single => Seq(clause(single))
      }, Some(vars.map(joinVar)))
    case EList(ESym("", "not-join") +: EVec(vars) +: inner) =>
      NotJoinClause(vars.map(joinVar), inner.map(clause))
    case EList(ESym("", name) +: args) if !name.startsWith("?") =>
      RuleCall(name, args.map(term))
    case other => throw new IllegalArgumentException(s"bad :where clause: ${Edn.print(other)}")
  }

  /** Parse a Datomic `%` rule set:
    * `[[(reach ?a ?b) [?a :edge ?b]]
    *   [(reach ?a ?b) [?a :edge ?x] (reach ?x ?b)]]`
    * Supported: multiple definitions per rule (disjunction), rule
    * calls in bodies, self- AND mutual recursion (evaluated SCC-wise,
    * see evalRules), several recursive calls per body, and required-
    * bindings heads `[(r [?a ?b] ?c) …]` (the bracketed params must be
    * bound at every call site). Recursive calls must be TOP-LEVEL body
    * clauses — a recursive rule under (not …)/(or …) is unstratified
    * and rejected at evaluation. */
  def parseRules(ednText: String): Map[String, Seq[RuleDef]] = {
    val defs = Edn.parse(ednText) match {
      case EVec(xs) => xs
      case other => throw new IllegalArgumentException(s"rules must be a vector: $other")
    }
    def varName(e: Edn): String = e match {
      case ESym("", p) if p.startsWith("?") => p.drop(1)
      case other => throw new IllegalArgumentException(
        s"rule head params must be ?vars: ${Edn.print(other)}")
    }
    defs.map {
      case EVec(EList(ESym("", name) +: params) +: body) =>
        // `[(r [?a ?b] ?c) …]` — required-bindings head: the bracketed
        // group leads, free params follow
        val (required, free) = params match {
          case EVec(req) +: rest => (req.map(varName), rest.map(varName))
          case ps => (Vector.empty[String], ps.map(varName))
        }
        require(body.nonEmpty, s"rule $name has an empty body")
        name -> RuleDef(required ++ free, body.map(clause), required.size)
      case other => throw new IllegalArgumentException(s"bad rule def: ${Edn.print(other)}")
    }.groupBy(_._1).map { case (n, ds) =>
      val rds = ds.map(_._2)
      require(rds.map(d => (d.params.size, d.requiredCount)).distinct.size == 1,
        s"rule $n: arity or required-bindings mismatch across definitions")
      n -> rds.toSeq
    }
  }

  private def joinVar(e: Edn): String = e match {
    case ESym("", v) if v.startsWith("?") => v.drop(1)
    case other => throw new IllegalArgumentException(
      s"join-var list expects ?vars: ${Edn.print(other)}")
  }

  private def term(e: Edn): Term = e match {
    case ESym("", "_") => TWild
    case ESym("", v) if v.startsWith("?") => TVar(v.drop(1))
    case other => TConst(other)
  }

  /** Constant → the store's value text. Keyword values match ref
    * attrs' `ident|…` keys when the pattern names a ref attribute. */
  private def constText(c: Edn, attr: Option[String], registry: SchemaRegistry): String =
    c match {
      case k: EKw =>
        if (attr.exists(registry.isRef)) s"ident|${k.qualified}" else k.qualified
      case other => graft.store.Datoms.scalarText(other)
    }

  /** Query the resolved current state — `d/q` over `(d/db conn)`:
    * card-one last-wins, card-many unions, retractions applied. */
  def runCurrent(store: Store, registry: SchemaRegistry, q: Query,
      args: Map[String, Edn] = Map.empty): DataFrame =
    runOn(store.current(registry), registry, q, args)

  /** Query the database as of transaction `tx` — `d/q` over
    * `(d/as-of db tx)`. */
  def runAsOf(store: Store, registry: SchemaRegistry, tx: Long, q: Query,
      args: Map[String, Edn] = Map.empty): DataFrame =
    runOn(store.asOf(registry, tx), registry, q, args)

  /** Datomic client query-map `:offset`/`:limit` — ONE deterministic
    * result page: rows ordered lexicographically over the output
    * columns sorted by name (the deterministic analog of Datomic's
    * index order) over the DISTINCT tuple set, skipping
    * `offset` rows and returning at most `limit` (−1 = unbounded, like
    * the client's `:limit -1`). Plans as a single
    * TakeOrderedAndProject(offset, limit) job — top-(offset+limit)
    * per partition, merged on the driver; no full-result sort, no
    * full-result collect. */
  def page(result: DataFrame, offset: Int, limit: Int): DataFrame = {
    require(offset >= 0, s"negative :offset $offset")
    val key = result.columns.toSeq.sorted
    val ordered = result.distinct().orderBy(key.map(col): _*)
    val off = if (offset > 0) ordered.offset(offset) else ordered
    if (limit >= 0) off.limit(limit) else off
  }

  /** Dedupe-then-project: vars appearing twice in one clause become
    * equality filters; each var surfaces once as `var_<name>`. */
  private def project(df0: DataFrame, binds: Seq[(String, String)]): DataFrame = {
    var df = df0
    binds.groupBy(_._1).values.filter(_.size > 1).foreach { dup =>
      dup.map(_._2).sliding(2).foreach {
        case Seq(c1, c2) => df = df.filter(col(c1) === col(c2))
        case _ => ()
      }
    }
    df.select(binds.distinctBy(_._1).map { case (n, src) =>
      col(src).as(s"var_$n") }: _*)
  }

  /** One `[e a v]` pattern → an attribute-pruned scan projected to its
    * variables. */
  private def evalPattern(eav: DataFrame, registry: SchemaRegistry, p: Pattern): DataFrame = {
    val attrConst = p.a match {
      case TConst(k: EKw) => Some(k.qualified)
      case TConst(other) => throw new IllegalArgumentException(
        s"attribute position needs a keyword or variable, got: ${Edn.print(other)}")
      case _ => None
    }
    val wantsTx = p.tx != TWild
    if (wantsTx) require(eav.columns.contains("tx"),
      "pattern binds the tx position but this view carries no tx column " +
        "(query the log/history view, not a resolved state)")
    val wantsAdded = p.added != TWild
    if (wantsAdded) require(eav.columns.contains("op"),
      "pattern binds the added position but this view carries no op column " +
        "(query the log/history view, not a resolved state)")
    val cols = Seq(col("e"), col("a"), col("v")) ++
      (if (wantsTx) Seq(col("tx").cast("string").as("t")) else Nil) ++
      (if (wantsAdded) Seq(col("op").cast("string").as("ad")) else Nil)
    var scan = eav.select(cols: _*)
    attrConst.foreach(a => scan = scan.filter(col("a") === a))
    p.tx match {
      case TConst(ELong(n)) => scan = scan.filter(col("t") === n.toString)
      case TConst(c) => throw new IllegalArgumentException(
        s"tx position needs a long or variable, got: ${Edn.print(c)}")
      case _ => ()
    }
    p.added match {
      case TConst(EBool(b)) => scan = scan.filter(col("ad") === b.toString)
      case TConst(c) => throw new IllegalArgumentException(
        s"added position needs a boolean or variable, got: ${Edn.print(c)}")
      case _ => ()
    }
    p.e match {
      // a keyword in the entity slot names an ident entity, whose
      // store key carries the `ident|` prefix (Datoms.entityKey)
      case TConst(k: EKw) => scan = scan.filter(col("e") === s"ident|${k.qualified}")
      case TConst(c) => scan = scan.filter(col("e") === constText(c, None, registry))
      case _ => ()
    }
    p.v match {
      case TConst(c) => scan = scan.filter(col("v") === constText(c, attrConst, registry))
      case _ => ()
    }
    def bind(t: Term, src: String): Option[(String, String)] = t match {
      case TVar(n) => Some(n -> src)
      case _ => None
    }
    project(scan, Seq(bind(p.e, "e"), bind(p.a, "a"), bind(p.v, "v"),
      bind(p.tx, "t"), bind(p.added, "ad")).flatten)
  }

  /** A rule invocation → the rule's relation (positional columns
    * `p0…pk-1`) filtered by constant args and projected to call-site
    * variables. */
  private def evalRuleCall(rel: DataFrame, rc: RuleCall,
      registry: SchemaRegistry): DataFrame = {
    require(rc.args.size == rel.columns.size,
      s"rule ${rc.name} expects ${rel.columns.size} args, got ${rc.args.size}")
    var df = rel
    val binds = rc.args.zipWithIndex.flatMap {
      case (TVar(n), i) => Some(n -> s"p$i")
      case (TWild, _) => None
      case (TConst(c), i) =>
        df = df.filter(col(s"p$i") === constText(c, None, registry)); None
    }
    project(df, binds)
  }

  /** Term → Column for expression clauses. Store values are text, so
    * comparisons go numeric (double cast) only when a numeric literal
    * is present or the caller forces it. */
  private def termCol(t: Term, numeric: Boolean, registry: SchemaRegistry): Column = t match {
    case TVar(n) => if (numeric) col(s"var_$n").cast("double") else col(s"var_$n")
    case TConst(ELong(v)) => lit(v.toDouble)
    case TConst(EDouble(v)) => lit(v)
    case TConst(c) => lit(constText(c, None, registry))
    case TWild => throw new IllegalArgumentException("_ is not a value in an expression clause")
  }

  private def isNumericConst(t: Term): Boolean = t match {
    case TConst(_: ELong) | TConst(_: EDouble) => true
    case _ => false
  }

  private def predColumn(pc: PredClause, registry: SchemaRegistry): Column = {
    require(pc.args.size == 2, s"predicate ${pc.fn} expects 2 args")
    val numeric = pc.args.exists(isNumericConst)
    val (l, r) = (termCol(pc.args(0), numeric, registry), termCol(pc.args(1), numeric, registry))
    pc.fn match {
      case "<" => l < r
      case "<=" => l <= r
      case ">" => l > r
      case ">=" => l >= r
      case "=" => l === r
      case "!=" | "not=" => l =!= r
      case other => throw new IllegalArgumentException(s"unsupported predicate: $other")
    }
  }

  private def fnColumn(fc: FnClause, registry: SchemaRegistry): Column = fc.fn match {
    case "+" | "-" | "*" | "/" =>
      val cols = fc.args.map(termCol(_, numeric = true, registry))
      cols.reduce((a, b) => fc.fn match {
        case "+" => a + b
        case "-" => a - b
        case "*" => a * b
        case "/" => a / b
      })
    case "str" => concat(fc.args.map(termCol(_, numeric = false, registry)): _*)
    // `[(tuple ?a ?b …) ?t]` — compose a tuple value in the SAME text
    // encoding Store.tupleDatoms / :db/tupleAttrs use (nil for null),
    // so query-built tuples compare/join against stored ones
    case "tuple" =>
      require(fc.args.size >= 2, "(tuple …) takes at least two arguments")
      graft.store.Store.renderTuple(fc.args.map {
        case TConst(ELong(v)) => lit(v) // keep "7", not termCol's "7.0"
        case TConst(ENil) => lit(null).cast("string")
        case a =>
          // the query surface's nil sentinel: a binding holding the
          // literal text "nil" IS a null slot (the
          // `(get-else $ ?e :attr "nil")` idiom) — map it to SQL NULL
          // here so renderTuple's encode guard (which rejects a REAL
          // "nil" payload on the store paths) never fires on it
          val c = termCol(a, numeric = false, registry)
          when(c === "nil", lit(null).cast("string")).otherwise(c)
      })
    // `[(ground <const>) ?x]` — bind a constant (Datomic ground; most
    // useful inside or/or-join legs to tag which leg matched)
    case "ground" =>
      require(fc.args.size == 1, "(ground …) takes exactly one constant")
      require(fc.args.head.isInstanceOf[TConst], "(ground …) needs a constant argument")
      termCol(fc.args.head, numeric = false, registry)
    case other => throw new IllegalArgumentException(s"unsupported function: $other")
  }

  /** Conjunction of clauses → natural joins on shared variables;
    * predicate / function clauses apply to the frame built so far
    * (their variables must already be bound). `srcEav` resolves a
    * pattern's database: None = the default `$`, Some(name) = an
    * extra `:in` source — multi-source patterns join like any other
    * (shared vars become equi-joins across the two scans). */
  private def evalClauses(srcEav: Option[String] => DataFrame, registry: SchemaRegistry,
      clauses: Seq[Clause], resolve: Term => Term,
      ruleEnv: String => DataFrame,
      ruleReq: String => Int = _ => 0,
      observe: (Int, Clause, DataFrame) => Unit = (_, _, _) => ()): DataFrame = {
    val eav = srcEav(None)
    require(clauses.nonEmpty, "empty clause body")
    clauses.zipWithIndex.foldLeft(Option.empty[DataFrame]) { case (acc, (c, ci)) =>
      def bound = acc.getOrElse(throw new IllegalArgumentException(
        s"expression clause before any binding pattern: $c"))
      def observed(df: Option[DataFrame]): Option[DataFrame] = {
        df.foreach(observe(ci, c, _)); df
      }
      observed(c match {
        case pc: PredClause =>
          Some(bound.filter(predColumn(pc.copy(args = pc.args.map(resolve)), registry)))
        case fc: FnClause =>
          Some(bound.withColumn(s"var_${fc.out}",
            fnColumn(fc.copy(args = fc.args.map(resolve)), registry)))
        case uc: UntupleClause =>
          val tTerm = resolve(uc.t)
          val t = termCol(tTerm, numeric = false, registry)
          // typed destructuring: when the tuple var is bound by a
          // pattern on an attr declaring :db/tupleTypes, each slot
          // decodes per its declared type (Datomic's untuple yields
          // typed slots, not text) — otherwise slots decode as text
          val declared: Option[Seq[String]] = tTerm match {
            case TVar(tn) => clauses.collectFirst {
              case Pattern(_, TConst(k: EKw), TVar(vn), _, _, _)
                  if vn == tn && registry.attrs.get(k.qualified)
                    .exists(_.tupleTypes.nonEmpty) =>
                registry(k.qualified).tupleTypes
            }
            case _ => None
          }
          Some(uc.outs.zipWithIndex.foldLeft(bound) {
            case (df, (Some(n), i)) =>
              val slotType = declared.flatMap(_.lift(i)).getOrElse("string")
              df.withColumn(s"var_$n", graft.store.Store.tupleSlot(t, i, slotType))
            case (df, (None, _)) => df
          })
        case nc: NotClause =>
          val a = bound
          val inner = evalClauses(srcEav, registry, nc.clauses, resolve, ruleEnv, ruleReq)
          val shared = a.columns.intersect(inner.columns).toSeq
          require(shared.nonEmpty, "(not …) shares no variables with the outer query")
          Some(a.join(inner.select(shared.map(col): _*).distinct(), shared, "left_anti"))
        case ge: GetElseClause =>
          val a = bound
          val eCol = s"var_${ge.eVar}"
          require(a.columns.contains(eCol), s"(get-else …): ?${ge.eVar} must be bound")
          require(!registry.isMany(ge.attr.qualified),
            s"(get-else …) needs a cardinality-one attribute, ${ge.attr.qualified} is many")
          val tmp = s"__ge_${ge.out}"
          val vals = eav.filter(col("a") === ge.attr.qualified)
            .select(col("e").as(eCol), col("v").as(tmp))
          Some(a.join(vals, Seq(eCol), "left")
            .withColumn(s"var_${ge.out}",
              // the attribute is known: a keyword default for a ref
              // attr renders with the same `ident|` encoding real
              // values carry, so defaulted and asserted bindings meet
              coalesce(col(tmp),
                lit(constText(ge.default, Some(ge.attr.qualified), registry))))
            .drop(tmp))
        case gs: GetSomeClause =>
          val a = bound
          val eCol = s"var_${gs.eVar}"
          require(a.columns.contains(eCol), s"(get-some …): ?${gs.eVar} must be bound")
          gs.attrs.foreach(k => require(!registry.isMany(k.qualified),
            s"(get-some …) needs cardinality-one attributes, ${k.qualified} is many"))
          // one pruned scan over the attr set, pivoted per entity —
          // coalesce in declaration order picks the first present
          val tmps = gs.attrs.zipWithIndex.map { case (_, i) => s"__gs_${gs.out}_$i" }
          val vals = eav.filter(col("a").isInCollection(gs.attrs.map(_.qualified)))
            .groupBy(col("e").as(eCol))
            .agg(max(when(col("a") === gs.attrs.head.qualified, col("v"))).as(tmps.head),
              gs.attrs.tail.zip(tmps.tail).map { case (k, t) =>
                max(when(col("a") === k.qualified, col("v"))).as(t) }: _*)
          val withVal = a.join(vals, Seq(eCol), "left")
            .withColumn(s"var_${gs.out}", coalesce(tmps.map(col): _*))
          // tuple form: the winning attribute is the FIRST declared
          // one whose pivot slot is non-null — same order coalesce uses
          val withAttr = gs.outAttr.fold(withVal) { oa =>
            val attrPick = gs.attrs.zip(tmps).foldRight(lit(null).cast("string")) {
              case ((k, t), acc) => when(col(t).isNotNull, lit(k.qualified)).otherwise(acc)
            }
            withVal.withColumn(s"var_$oa", attrPick)
          }
          Some(withAttr.filter(col(s"var_${gs.out}").isNotNull).drop(tmps: _*))
        case oc: OrClause =>
          val legs0 = oc.legs.map(evalClauses(srcEav, registry, _, resolve, ruleEnv, ruleReq))
          // or-join projects each leg to the declared vars; plain or
          // requires identical bindings across legs
          val legs = oc.joinVars match {
            case Some(vars) =>
              val cols = vars.map(v => s"var_$v")
              legs0.map(l => l.select(cols.map(col): _*))
            case None =>
              val cols = legs0.head.columns.sorted.toSeq
              require(legs0.forall(_.columns.sorted.toSeq == cols),
                s"(or …) legs must bind the same variables: ${legs0.map(_.columns.mkString("{", ",", "}"))}")
              legs0.map(_.select(cols.map(col): _*))
          }
          val unioned = legs.reduce(_ unionByName _).distinct()
          Some(acc.fold(unioned) { a =>
            val shared = a.columns.intersect(unioned.columns).toSeq
            if (shared.nonEmpty) a.join(unioned, shared) else a.crossJoin(unioned)
          })
        case nj: NotJoinClause =>
          val a = bound
          val inner = evalClauses(srcEav, registry, nj.clauses, resolve, ruleEnv, ruleReq)
          val cols = nj.joinVars.map(v => s"var_$v")
          require(cols.forall(a.columns.contains),
            s"(not-join …) vars must be bound in the outer query: ${nj.joinVars}")
          Some(a.join(inner.select(cols.map(col): _*).distinct(), cols, "left_anti"))
        case _ =>
          val projected = c match {
            case p: Pattern =>
              evalPattern(srcEav(p.src), registry,
                Pattern(resolve(p.e), resolve(p.a), resolve(p.v), p.src,
                  resolve(p.tx), resolve(p.added)))
            case rc0: RuleCall =>
              val rc = rc0.copy(args = rc0.args.map(resolve))
              // required-bindings head: the first k args must be bound
              // HERE — a constant, or a variable the clauses so far
              // have bound (Datomic rejects an unbound required param)
              val req = ruleReq(rc.name)
              if (req > 0) {
                val boundCols = acc.map(_.columns.toSet).getOrElse(Set.empty[String])
                rc.args.take(req).foreach {
                  case TVar(n) => require(boundCols.contains(s"var_$n"),
                    s"rule ${rc.name}: required binding ?$n must be bound before the call")
                  case TWild => throw new IllegalArgumentException(
                    s"rule ${rc.name}: a required binding cannot be _")
                  case _ => () // constants are bound by definition
                }
              }
              evalRuleCall(ruleEnv(rc.name), rc, registry)
            case ti: TxIdsClause =>
              def asLong(t: Term, what: String): Long = resolve(t) match {
                case TConst(ELong(v)) => v
                case other => throw new IllegalArgumentException(
                  s"(tx-ids …) $what must be a tx constant or a bound :in parameter, got $other")
              }
              require(eav.columns.contains("tx"),
                "(tx-ids …) needs a log view with a tx column")
              eav.filter(col("tx") >= asLong(ti.t1, "start") &&
                  col("tx") < asLong(ti.t2, "end"))
                .select(col("tx").as(s"var_${ti.out}")).distinct()
            case td: TxDataClause =>
              require(eav.columns.contains("tx"),
                "(tx-data …) needs a log view with a tx column")
              val withOp = graft.store.Store.withOp(eav)
              val base = resolve(td.t) match {
                case TConst(ELong(v)) => withOp.filter(col("tx") === v)
                case TVar(_) => withOp // a shared var joins below
                case other => throw new IllegalArgumentException(
                  s"(tx-data …) tx must be a constant, :in parameter or variable, got $other")
              }
              val slotSrc = Seq("e", "a", "v", "tx", "op")
              val outCols = td.outs.zip(slotSrc).collect {
                case (Some(n), src) => col(src).as(s"var_$n")
              } ++ (resolve(td.t) match {
                case TVar(n) if !td.outs.lift(3).flatten.contains(n) =>
                  Seq(col("tx").as(s"var_$n"))
                case _ => Seq.empty
              })
              require(outCols.nonEmpty, "(tx-data …) must bind at least one slot")
              base.select(outCols: _*)
            case ft: FulltextClause =>
              val needle = resolve(ft.needle) match {
                case TConst(EStr(s)) => s
                case TConst(other) => throw new IllegalArgumentException(
                  s"(fulltext …) needle must be a string, got: ${Edn.print(other)}")
                case _ => throw new IllegalArgumentException(
                  "(fulltext …) needle must be a literal or a bound :in parameter")
              }
              // Datomic's gate: only `:db/fulltext true` attrs are
              // searchable — reaching for an unindexed attr is a query
              // error, not an empty result
              require(registry.attrs.get(ft.attr.qualified).exists(_.fulltext),
                s"(fulltext …): ${ft.attr.qualified} is not declared :db/fulltext in the schema")
              val hits = Explore.fulltextHits(eav, Seq(ft.attr.qualified), needle)
              val outCols = Seq(
                ft.outE.map(n => col("e").as(s"var_$n")),
                ft.outV.map(n => col("v").as(s"var_$n")),
                ft.outTx.map(n => col("tx").as(s"var_$n")),
                ft.outScore.map(n => col("score").as(s"var_$n"))).flatten
              hits.select(outCols: _*)
            case _ => throw new IllegalStateException("unreachable")
          }
          Some(acc.fold(projected) { a =>
            val shared = a.columns.intersect(projected.columns).toSeq
            if (shared.nonEmpty) a.join(projected, shared) else a.crossJoin(projected)
          })
      })
    }.get
  }

  /** Divergence guard of a recursive rule component's fixpoint. */
  private val maxRuleRounds = 100

  /** Evaluate every rule reachable from the query, strongly-
    * connected-component-wise in dependency order (Tarjan). A
    * non-recursive component evaluates once; a recursive component —
    * self- OR mutual recursion, several recursive calls per body —
    * runs a JOINT semi-naive fixpoint: per round each recursive body
    * re-evaluates once per in-component call occurrence, with THAT
    * occurrence reading the called rule's last DELTA and the others
    * its accumulated total (textbook semi-naive for non-linear
    * recursion); new tuples anti-join out what's known. Job hygiene:
    * every delta is a LAZY localCheckpoint forced by the same count()
    * that answers convergence (one job per rule per round), and each
    * accumulated relation is a flat union of materialized deltas —
    * at cluster scale swap localCheckpoint for reliable `checkpoint`.
    * Recursive calls must be TOP-LEVEL body clauses: a same-component
    * call under (not …)/(or …) is unstratified and rejected. */
  private def evalRules(srcEav: Option[String] => DataFrame, registry: SchemaRegistry,
      rules: Map[String, Seq[RuleDef]], rootClauses: Seq[Clause]): Map[String, DataFrame] = {
    import scala.collection.mutable
    // evaluate only rules reachable from the query's clauses — a rule
    // set is a library; unused (possibly expensive) rules cost nothing
    def referenced(clauses: Seq[Clause]): Set[String] = clauses.flatMap {
      case RuleCall(n, _) => Set(n)
      case NotClause(inner) => referenced(inner)
      case NotJoinClause(_, inner) => referenced(inner)
      case OrClause(legs, _) => legs.flatMap(referenced).toSet
      case _ => Set.empty[String]
    }.toSet
    def closure(seen: Set[String]): Set[String] = {
      val next = seen ++ seen.filter(rules.contains)
        .flatMap(n => referenced(rules(n).flatMap(_.body)))
      if (next == seen) seen else closure(next)
    }
    val needed = closure(referenced(rootClauses)).filter(rules.contains)
    val deps: Map[String, Set[String]] =
      needed.map(n => n -> (referenced(rules(n).flatMap(_.body)) & needed)).toMap

    // Tarjan SCC — components emit dependencies-first, which IS the
    // evaluation order
    def stronglyConnected(): List[List[String]] = {
      val index = mutable.Map[String, Int]()
      val low = mutable.Map[String, Int]()
      val onStack = mutable.Set[String]()
      val stack = mutable.Stack[String]()
      var counter = 0
      val out = mutable.ListBuffer[List[String]]()
      def strong(v: String): Unit = {
        index(v) = counter; low(v) = counter; counter += 1
        stack.push(v); onStack += v
        for (w <- deps(v).toSeq.sorted) {
          if (!index.contains(w)) { strong(w); low(v) = math.min(low(v), low(w)) }
          else if (onStack(w)) low(v) = math.min(low(v), index(w))
        }
        if (low(v) == index(v)) {
          val comp = mutable.ListBuffer[String]()
          var w = ""
          while ({ w = stack.pop(); onStack -= w; comp += w; w != v }) ()
          out += comp.toList
        }
      }
      needed.toSeq.sorted.foreach(v => if (!index.contains(v)) strong(v))
      out.toList
    }

    val cache = mutable.Map[String, DataFrame]()
    val ruleReq: String => Int = n => rules.get(n).map(_.head.requiredCount).getOrElse(0)
    def lookup(n: String): DataFrame = cache.getOrElse(n,
      throw new IllegalArgumentException(s"unknown rule: $n"))
    def evalBody(d: RuleDef, env: String => DataFrame): DataFrame =
      // rule variables are LEXICALLY scoped (Datomic): a body var that
      // shares a name with an :in parameter must NOT be substituted —
      // constants reach a rule only through its call-site arguments,
      // which resolve at the call site
      evalClauses(srcEav, registry, d.body, identity, env, ruleReq)
        .select(d.params.zipWithIndex.map { case (p, i) => col(s"var_$p").as(s"p$i") }: _*)

    for (scc <- stronglyConnected()) {
      val sccSet = scc.toSet
      val recursive = scc.size > 1 || deps(scc.head).contains(scc.head)
      if (!recursive) {
        val name = scc.head
        cache(name) = rules(name).map(evalBody(_, lookup))
          .reduce(_ unionByName _).distinct()
      } else {
        for (n <- scc; d <- rules(n); c <- d.body) c match {
          case RuleCall(_, _) => ()
          case other => require(!referenced(Seq(other)).exists(sccSet),
            s"rule $n: a recursive call under (not …)/(or …) is unstratified " +
              "and not supported")
        }
        def sccCallsOf(d: RuleDef): Seq[Int] = d.body.zipWithIndex.collect {
          case (RuleCall(nm, _), i) if sccSet(nm) => i
        }
        val baseDefs = scc.map(n => n -> rules(n).filter(sccCallsOf(_).isEmpty)).toMap
        val recDefs = scc.map(n => n -> rules(n).filter(sccCallsOf(_).nonEmpty)).toMap
        require(scc.exists(n => baseDefs(n).nonEmpty),
          s"rules {${scc.mkString(", ")}}: recursive component has no " +
            "non-recursive definition")
        val spark = srcEav(None).sparkSession
        // a rule seeded only through its partners (no base defs — legal
        // in mutual recursion) starts empty; all-string p-columns match
        // the pattern-sourced relations, and unionByName coerces later
        def emptyRel(name: String): DataFrame =
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(
              rules(name).head.params.indices.map(i =>
                org.apache.spark.sql.types.StructField(s"p$i",
                  org.apache.spark.sql.types.StringType))))
        val deltas = mutable.Map[String, List[DataFrame]]()
        val lastDelta = mutable.Map[String, DataFrame]()
        val counts = mutable.Map[String, Long]()
        for (n <- scc) {
          val init =
            if (baseDefs(n).isEmpty) emptyRel(n)
            else baseDefs(n).map(evalBody(_, lookup)).reduce(_ unionByName _)
              .distinct().localCheckpoint(false)
          counts(n) = init.count()
          deltas(n) = List(init)
          lastDelta(n) = init
        }
        def totalOf(n: String) = deltas(n).reduce(_ unionByName _)
        var iters = 0
        while (counts.values.sum > 0) {
          iters += 1
          require(iters <= maxRuleRounds,
            s"rules {${scc.mkString(", ")}} did not converge in $maxRuleRounds rounds")
          // snapshot the round's inputs BEFORE any update — synchronous
          // iteration: round k+1 reads round k's deltas and totals
          val delta0 = scc.map(n => n -> lastDelta(n)).toMap
          val total0 = scc.map(n => n -> totalOf(n)).toMap
          val stepped = scc.map { n =>
            n -> recDefs(n).flatMap { d =>
              sccCallsOf(d).map { occ =>
                val body2 = d.body.zipWithIndex.map {
                  case (RuleCall(nm, args), j) if j == occ && sccSet(nm) =>
                    RuleCall(s"__delta__$nm", args)
                  case (c, _) => c
                }
                val env: String => DataFrame = {
                  case dn if dn.startsWith("__delta__") =>
                    delta0(dn.stripPrefix("__delta__"))
                  case nm if sccSet(nm) => total0(nm)
                  case nm => lookup(nm)
                }
                evalBody(RuleDef(d.params, body2, d.requiredCount), env)
              }
            }
          }.toMap
          for (n <- scc) {
            if (stepped(n).isEmpty) { counts(n) = 0; lastDelta(n) = emptyRel(n) }
            else {
              val s = stepped(n).reduce(_ unionByName _).distinct()
              val nd = s.join(total0(n), s.columns.toSeq, "left_anti")
                .localCheckpoint(false)
              counts(n) = nd.count()
              lastDelta(n) = nd
              if (counts(n) > 0) deltas(n) = nd :: deltas(n)
            }
          }
        }
        for (n <- scc) cache(n) = totalOf(n)
      }
    }
    cache.toMap
  }

  /** One row of Datomic's `:query-stats`: the size of the growing
    * join frame AFTER clause `idx` evaluated. `rowsIn` of clause k is
    * `rowsOut` of clause k-1 (the first clause's input is the source
    * itself, deliberately not counted). */
  final case class ClauseStat(idx: Int, clause: String, rowsOut: Long)

  /** Datomic `query-stats` analog: run the query and ALSO report the
    * per-top-level-clause row counts of the growing join frame — the
    * "which clause exploded" diagnostic. Each count is one bounded
    * Spark job over that clause's frame, so this costs one extra pass
    * per clause: a DEBUG surface, not a production default (Spark's
    * own metrics live in the UI; this gives the Datomic-shaped
    * per-clause view). Nested clause bodies (rules, or-legs, not)
    * report only their top-level result, like Datomic's per-clause
    * grain. */
  def runOnWithStats(eav: DataFrame, registry: SchemaRegistry, q: Query,
      args0: Map[String, Edn], rules: Map[String, Seq[RuleDef]] = Map.empty,
      extraSrcs: Map[String, DataFrame] = Map.empty): (DataFrame, Seq[ClauseStat]) = {
    val stats = scala.collection.mutable.ArrayBuffer.empty[ClauseStat]
    val out = runOn(eav, registry, q, args0, rules, extraSrcs,
      observe = (i, c, df) => stats += ClauseStat(i, c.toString, df.count()))
    (out, stats.toSeq)
  }

  /** Plan the query over any EAV-shaped DataFrame (e, a, v).
    * `extraSrcs` supplies the additional databases a multi-source
    * query names in `:in` (`$2`, `$docs`, …), each an EAV-shaped
    * frame; patterns address them as `[$2 ?e :attr ?v]`. */
  def runOn(eav: DataFrame, registry: SchemaRegistry, q: Query,
      args0: Map[String, Edn], rules: Map[String, Seq[RuleDef]] = Map.empty,
      extraSrcs: Map[String, DataFrame] = Map.empty,
      observe: (Int, Clause, DataFrame) => Unit = (_, _, _) => ()): DataFrame = {
    val missingSrcs = q.srcs.filterNot(extraSrcs.contains)
    require(missingSrcs.isEmpty, s"unbound :in databases: ${missingSrcs.map("$" + _)}")
    val srcEav: Option[String] => DataFrame = {
      case None => eav
      case Some(n) => extraSrcs.getOrElse(n, throw new IllegalArgumentException(
        s"pattern names unknown database $$$n (declare it in :in and pass extraSrcs)"))
    }
    // tuple binding [?a ?b] / [?a _]: one sequential arg under the
    // first var's name destructures positionally (Datomic passes it as
    // one value); `_` slots are skipped. Destructuring wins over
    // treating the sequential as a scalar value — otherwise a Datomic-
    // shape arg would silently scalar-substitute as a vector constant.
    val args = q.tupleIn.foldLeft(args0) { (a, slots) =>
      val vars = slots.flatten
      val seqArg = a.get(vars.head) match {
        case Some(EVec(xs)) => Some(xs)
        case Some(EList(xs)) => Some(xs)
        case _ => None
      }
      seqArg match {
        // ambiguous: the head holds a Datomic-shape sequential AND other
        // tuple vars carry their own args — destructuring would silently
        // overwrite the caller's per-var values. Refuse loudly.
        case Some(_) if vars.tail.exists(a.contains) =>
          throw new IllegalArgumentException(
            s"tuple binding [${slots.map(_.map("?" + _).getOrElse("_")).mkString(" ")}]: " +
              s"?${vars.head} holds a sequential but other tuple vars also have args — " +
              "pass EITHER one tuple value under the first var OR one scalar per var")
        case Some(xs) if xs.size == slots.size =>
          a ++ slots.zip(xs).collect { case (Some(v), x) => v -> x }
        // a blank slot leaves no per-var-scalar reading; likewise when
        // not every var has its own arg — a mismatched sequential is a
        // loud arity error, not a silent vector-as-scalar substitution
        case Some(xs) if slots.exists(_.isEmpty) || !vars.forall(a.contains) =>
          throw new IllegalArgumentException(
            s"tuple binding [${slots.map(_.map("?" + _).getOrElse("_")).mkString(" ")}] " +
              s"got a sequential of arity ${xs.size}")
        case _ => a // per-var scalar args, or missing (error fires below)
      }
    }
    val missing = q.in.filterNot(args.contains)
    require(missing.isEmpty, s"unbound :in parameters: $missing")

    // scalar :in params substitute into clauses; collection bindings
    // `[?x ...]` become an IN filter on the bound variable, which
    // Catalyst pushes through the joins into the pattern scans
    // collection- and relation-bound vars must NOT scalar-substitute
    // (their arg is the value SET, keyed by the first var's name)
    val collSet = q.collIn.toSet ++ q.relIn.flatten
    def resolve(t: Term): Term = t match {
      case TVar(n) if args.contains(n) && !collSet.contains(n) => TConst(args(n))
      case other => other
    }
    val relations = evalRules(srcEav, registry, rules, q.patterns)
    val joined0 = evalClauses(srcEav, registry, q.patterns, resolve,
      name => relations.getOrElse(name,
        throw new IllegalArgumentException(s"unknown rule: $name (no rule set passed?)")),
      name => rules.get(name).map(_.head.requiredCount).getOrElse(0),
      observe)
    val joined = q.collIn.filter(args.contains).foldLeft(joined0) { (df, n) =>
      val values = args(n) match {
        case EVec(xs) => xs
        case EList(xs) => xs
        case s: ESet => s.items
        case other => throw new IllegalArgumentException(
          s"collection binding ?$n needs a sequential arg, got: ${Edn.print(other)}")
      }
      // the var may bind from a ref attribute (values carry the
      // `ident|` prefix) or a plain one — keyword args match both
      // encodings so the binding works regardless of which pattern
      // bound the variable
      val rendered = values.flatMap {
        case k: EKw => Seq(k.qualified, s"ident|${k.qualified}")
        case other => Seq(constText(other, None, registry))
      }
      df.filter(col(s"var_$n").isInCollection(rendered))
    }

    // relation binding [[?a ?b]]: the arg (under the first var's name)
    // is a set of tuples; it becomes a broadcast inner join on the
    // bound vars — constraining COMBINATIONS, not each var separately.
    // Keyword elements expand to both text encodings (plain and
    // `ident|`-prefixed) as extra rows, which is exactly OR semantics
    // under the join.
    val joinedRel = q.relIn.foldLeft(joined) { (df, vars) =>
      val key = vars.head
      require(args.contains(key),
        s"relation binding [[${vars.map("?" + _).mkString(" ")}]] expects an argument under '$key'")
      val tuples = args(key) match {
        case EVec(xs) => xs
        case EList(xs) => xs
        case s: ESet => s.items.toVector
        case other => throw new IllegalArgumentException(
          s"relation binding ?$key needs a sequential of tuples, got: ${Edn.print(other)}")
      }
      val rows: Seq[Seq[String]] = tuples.flatMap { t =>
        val elems = t match {
          case EVec(xs) => xs
          case EList(xs) => xs
          case other => throw new IllegalArgumentException(
            s"relation tuple must be sequential, got: ${Edn.print(other)}")
        }
        require(elems.size == vars.size,
          s"relation tuple arity ${elems.size} != binding arity ${vars.size}")
        val opts: Seq[Seq[String]] = elems.map {
          case k: EKw => Seq(k.qualified, s"ident|${k.qualified}")
          case other => Seq(constText(other, None, registry))
        }
        opts.foldLeft(Seq(Seq.empty[String]))((acc, o) => for { a <- acc; x <- o } yield a :+ x)
      }
      val unbound = vars.filterNot(v => df.columns.contains(s"var_$v"))
      require(unbound.isEmpty,
        s"relation binding vars not bound by any :where clause: " +
          unbound.map("?" + _).mkString(", "))
      val spark = df.sparkSession
      val schema = org.apache.spark.sql.types.StructType(
        vars.map(v => org.apache.spark.sql.types.StructField(s"var_$v", org.apache.spark.sql.types.StringType)))
      import scala.jdk.CollectionConverters._
      val reldf = spark.createDataFrame(
        rows.distinct.map(r => org.apache.spark.sql.Row(r: _*)).asJava, schema)
      df.join(broadcast(reldf), vars.map(v => s"var_$v"))
    }

    val aggs = q.find.collect { case a: FAgg => a }
    val aggNs = q.find.collect { case a: FAggN => a }
    val plainVars = q.find.collect { case FVar(n) => n }
    val pulls = q.find.collect { case p: FPull => p }
    val projected = if (pulls.nonEmpty) {
      // Datomic's (pull ?e pattern) in :find: dedupe the bindings,
      // hydrate each pulled var over the SAME eav (treated as current
      // state), attach as a pull_<var> struct column
      require(aggs.isEmpty && aggNs.isEmpty, "(pull …) cannot mix with aggregates in :find")
      val vars = (plainVars ++ pulls.map(_.varName)).distinct
      val base = joinedRel.select(vars.map(n => col(s"var_$n").as(n)): _*).distinct()
      pulls.foldLeft(base) { (df, p) =>
        val hydrated = Pull.pullFrom(eav, registry, p.pattern,
          df.select(col(p.varName).as("e")).distinct())
        val payload = struct(hydrated.columns.filterNot(_ == "e").map(col): _*)
        df.join(
          hydrated.select(col("e").as(p.varName), payload.as(s"pull_${p.varName}")),
          Seq(p.varName), "left")
      }.select((plainVars.map(col) ++ pulls.map(p => col(s"pull_${p.varName}"))): _*)
    } else if (aggs.isEmpty && aggNs.isEmpty) {
      if (q.withVars.isEmpty)
        joinedRel.select(plainVars.map(n => col(s"var_$n").as(n)): _*).distinct()
      else
        // :with ⇒ bag semantics: dedupe over find+with vars, project find
        joinedRel.select((plainVars ++ q.withVars).distinct.map(n => col(s"var_$n")): _*)
          .distinct()
          .select(plainVars.map(n => col(s"var_$n").as(n)): _*)
    } else {
      // Datomic :find is set-semantics: bindings dedupe BEFORE the
      // aggregate, so (count ?e) counts distinct bindings; :with vars
      // join the dedupe set without surfacing in the output, giving
      // the bag counts Datomic users reach for (e.g. count per ?e
      // WITH ?v keeps one row per (e, v))
      val bindingVars =
        (plainVars ++ q.withVars ++ aggs.map(_.varName) ++ aggNs.map(_.varName)).distinct
      val joinedSet = joinedRel.select(bindingVars.map(n => col(s"var_$n")): _*).distinct()
      val aggCols = aggs.map {
        // NOTE: min/max compare the TEXT encoding (correct for strings
        // and idents; numeric attrs should go through (sum …)-style
        // double aggregates or a typed entity table) — the store is
        // text-encoded and a blind double cast would break string
        // min/max.
        case FAgg("count", v) => count(col(s"var_$v")).as(s"count_$v")
        case FAgg("count-distinct", v) => countDistinct(col(s"var_$v")).as(s"count_distinct_$v")
        case FAgg("min", v) => min(col(s"var_$v")).as(s"min_$v")
        case FAgg("max", v) => max(col(s"var_$v")).as(s"max_$v")
        case FAgg("sum", v) => sum(col(s"var_$v").cast("double")).as(s"sum_$v")
        case FAgg("avg", v) => avg(col(s"var_$v").cast("double")).as(s"avg_$v")
        case FAgg("median", v) =>
          expr(s"percentile(cast(var_$v as double), 0.5)").as(s"median_$v")
        case FAgg("variance", v) => var_samp(col(s"var_$v").cast("double")).as(s"variance_$v")
        case FAgg("stddev", v) => stddev_samp(col(s"var_$v").cast("double")).as(s"stddev_$v")
        case FAgg(fn, _) => throw new IllegalArgumentException(s"unsupported aggregate: $fn")
      } ++ aggNs.map {
        // collection aggregates: n smallest/largest DISTINCT values
        // (or all of them for `distinct`), always sorted ASCENDING —
        // Datomic returns aggregate collections in ascending order
        // regardless of which tail they slice, so (max n ?x) picks the
        // n largest and then re-sorts ascending. NOTE: like scalar
        // min/max above, the n-ary forms compare the TEXT encoding
        // (numeric attrs order lexicographically: '10' < '9') — route
        // numerics through a typed view when numeric order matters.
        case FAggN("min", n, v) =>
          slice(sort_array(collect_set(col(s"var_$v"))), 1, n).as(s"min_${n}_$v")
        case FAggN("max", n, v) =>
          sort_array(slice(sort_array(collect_set(col(s"var_$v")), asc = false), 1, n))
            .as(s"max_${n}_$v")
        case FAggN("distinct", _, v) =>
          sort_array(collect_set(col(s"var_$v"))).as(s"distinct_$v")
        // (sample n ?x): n DISTINCT values, drawn without replacement.
        // Datomic's draw is nondeterministic and cannot be oracle-
        // gated; ours is SEEDED — rank distinct values by md5(value)
        // (the same text hash DuckDB computes, so the gate holds
        // cross-engine) and take the n smallest ranks. Output sorts
        // ascending like every Datomic collection aggregate here.
        case FAggN("sample", n, v) =>
          val drawn = slice(sort_array(collect_set(
            struct(md5(col(s"var_$v")).as("h"), col(s"var_$v").as("x")))), 1, n)
          sort_array(transform(drawn, e => e("x"))).as(s"sample_${n}_$v")
        // (rand n ?x): n draws WITH replacement — draw k picks the
        // value minimizing md5(value ++ k), so each draw is an
        // independent seeded choice over the group's distinct values
        // and repeats are possible, as in Datomic's rand.
        case FAggN("rand", n, v) =>
          sort_array(array((0 until n).map(k =>
            min_by(col(s"var_$v"),
              md5(concat(col(s"var_$v"), lit(s"#$k"))))): _*)).as(s"rand_${n}_$v")
        case FAggN(fn, _, _) => throw new IllegalArgumentException(s"unsupported aggregate: $fn")
      }
      if (plainVars.isEmpty) joinedSet.agg(aggCols.head, aggCols.tail: _*)
      else joinedSet.groupBy(plainVars.map(n => col(s"var_$n").as(n)): _*)
        .agg(aggCols.head, aggCols.tail: _*)
    }
    // `:keys` — Datomic's result-map keys: rename positionally over
    // the :find elements (and normalize output to :find order)
    val keyed =
      if (q.keys.isEmpty) projected
      else {
        val findCols = q.find.map {
          case FVar(n) => n
          case FAgg(fn, v) => s"${fn.replace('-', '_')}_$v"
          case FAggN("distinct", _, v) => s"distinct_$v"
          case FAggN(fn, n, v) => s"${fn}_${n}_$v"
          case FPull(v, _) => s"pull_$v"
        }
        projected.select(findCols.zip(q.keys).map { case (c, k) => col(c).as(k) }: _*)
      }
    // find-spec geometry: scalar/tuple = one (unspecified) row
    q.shape match {
      case "scalar" | "tuple" => keyed.limit(1)
      case _ => keyed
    }
  }
}
