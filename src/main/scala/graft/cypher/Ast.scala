package graft.cypher

/** AST for the supported OpenCypher subset (reference grammar:
  * `src/query/cypher.pest`, AST `src/query/ast.rs:69-458` — re-derived, not
  * ported). The clause list is ORDERED (MATCH / OPTIONAL MATCH / UNWIND /
  * WITH chain in source order, reference `cypher.pest:43-55`), queries can be
  * UNIONed (`cypher.pest:8-10`), expressions cover parameters `$p`, list
  * index/slice, EXISTS subqueries, quantified predicates (all/any/none/
  * single), reduce, and simple+searched CASE. */
object Ast {

  sealed trait Expr
  final case class Lit(v: Any) extends Expr                      // string/long/double/bool/null
  final case class Var(name: String) extends Expr                // bound variable
  final case class Prop(variable: String, key: String) extends Expr // a.name
  final case class Param(name: String) extends Expr              // $param (ast.rs:136-137 analog)
  final case class Fn(name: String, args: Seq[Expr], distinct: Boolean = false) extends Expr
  final case class ListLit(items: Seq[Expr]) extends Expr
  final case class Bin(op: String, l: Expr, r: Expr) extends Expr // = <> < <= > >= + - * / % ^ AND OR XOR
  final case class Not(e: Expr) extends Expr
  final case class IsNull(e: Expr, negated: Boolean) extends Expr
  final case class StrPred(op: String, l: Expr, r: Expr) extends Expr // STARTS/ENDS/CONTAINS/REGEX
  final case class InList(e: Expr, list: Expr) extends Expr
  /** CASE: `subject` = Some for simple CASE (equality chain), None for searched. */
  final case class CaseExpr(subject: Option[Expr], branches: Seq[(Expr, Expr)],
                            default: Option[Expr]) extends Expr
  final case class Index(list: Expr, idx: Expr) extends Expr     // x[i], 0-based
  final case class Slice(list: Expr, from: Option[Expr], to: Option[Expr]) extends Expr // x[a..b]
  /** EXISTS { (pattern) [WHERE expr] } subquery (cypher.pest:150). */
  final case class ExistsPattern(paths: Seq[PathPat], where: Option[Expr]) extends Expr
  /** all/any/none/single(v IN list WHERE pred) (ast.rs:367-390). */
  final case class LambdaPred(kind: String, variable: String, list: Expr, pred: Expr) extends Expr
  /** reduce(acc = init, v IN list | body). */
  final case class ReduceExpr(accVar: String, init: Expr, variable: String,
                              list: Expr, body: Expr) extends Expr
  /** [v IN list WHERE pred | body] list comprehension. */
  final case class ListComp(variable: String, list: Expr, pred: Option[Expr],
                            body: Option[Expr]) extends Expr
  /** [(a)-[:R]->(b) WHERE pred | proj] pattern comprehension (ast.rs:392):
    * per outer row, the list of proj values over the pattern's matches. */
  final case class PatternComp(path: PathPat, where: Option[Expr], proj: Expr) extends Expr
  /** {k: v, ...} map literal — CALL config maps, datetime components
    * (`property.rs:90` Map values; `operator.rs:6622` config-map CALLs). */
  final case class MapLit(entries: Seq[(String, Expr)]) extends Expr

  sealed trait Direction
  case object Out extends Direction
  case object In extends Direction
  case object Undirected extends Direction

  final case class NodePat(variable: Option[String], labels: Seq[String],
                           props: Seq[(String, Expr)])
  final case class RelPat(variable: Option[String], types: Seq[String],
                          dir: Direction, minHops: Int = 1, maxHops: Int = 1,
                          props: Seq[(String, Expr)] = Nil) {
    def isVarLength: Boolean = !(minHops == 1 && maxHops == 1)
  }
  /** A linear path pattern: n0 (r0 n1 (r1 n2 ...)); optionally named
    * (`p = ...`) and/or wrapped in shortestPath()/allShortestPaths()
    * (ast.rs:204-208). */
  final case class PathPat(nodes: Seq[NodePat], rels: Seq[RelPat],
                           pathVar: Option[String] = None,
                           shortest: Boolean = false,
                           allPaths: Boolean = false)

  final case class ReturnItem(expr: Expr, alias: Option[String]) {
    def name: String = alias.getOrElse(Render.name(expr))
  }
  final case class OrderItem(expr: Expr, asc: Boolean)

  // ---------- ordered clauses ----------
  sealed trait Clause
  final case class MatchClause(paths: Seq[PathPat], optional: Boolean,
                               where: Option[Expr]) extends Clause
  final case class UnwindClause(list: Expr, variable: String) extends Clause
  /** WITH barrier (reference WithBarrierOperator, operator.rs:7715-8031):
    * projection / implicit aggregation, then optional WHERE (post-agg),
    * ORDER BY / SKIP / LIMIT. */
  final case class WithClause(distinct: Boolean, items: Seq[ReturnItem],
                              where: Option[Expr], orderBy: Seq[OrderItem],
                              skip: Option[Long], limit: Option[Long]) extends Clause

  // ---------- write clauses (reference cypher.pest create/merge/set/delete) ----------
  final case class CreateClause(paths: Seq[PathPat]) extends Clause
  final case class MergeClause(path: PathPat, onCreate: Seq[(Prop, Expr)],
                               onMatch: Seq[(Prop, Expr)]) extends Clause
  /** SET v.key = expr and/or SET v:Label (cypher.pest:56). */
  final case class SetClause(assigns: Seq[(Prop, Expr)],
                             labels: Seq[(String, String)] = Nil) extends Clause
  /** REMOVE v.key and/or REMOVE v:Label (cypher.pest:57). */
  final case class RemoveClause(props: Seq[Prop],
                                labels: Seq[(String, String)] = Nil) extends Clause
  final case class DeleteClause(vars: Seq[String], detach: Boolean) extends Clause
  /** FOREACH (v IN list | write-clauses) — reference `cypher.pest:44-45`. */
  final case class ForeachClause(variable: String, list: Expr,
                                 body: Seq[Clause]) extends Clause

  /** `CALL { <subquery> }` (uncorrelated): the inner query runs once and its
    * result joins the outer frame. */
  final case class CallSubquery(inner: SingleQuery) extends Clause

  /** CALL procedure (reference `ast.rs:166-169` standalone procedure call):
    * `CALL ns.name(args) [YIELD col [AS alias], ...] [WHERE pred]`.
    * Covers the algo.* analytics and db.index.vector.queryNodes surfaces. */
  final case class CallClause(proc: String, args: Seq[Expr],
                              yields: Seq[(String, Option[String])],
                              where: Option[Expr]) extends Clause

  final case class ReturnSpec(distinct: Boolean, items: Seq[ReturnItem],
                              orderBy: Seq[OrderItem], skip: Option[Long],
                              limit: Option[Long])

  final case class SingleQuery(clauses: Seq[Clause], ret: ReturnSpec)

  /** Top-level query: one SingleQuery, optionally UNION [ALL]-chained. */
  final case class Query(first: SingleQuery, unions: Seq[(Boolean, SingleQuery)]) {
    /** Convenience for tests / single-part queries. */
    def single: SingleQuery = first
  }

  /** Default output names for un-aliased return items (Cypher renders the
    * expression text; we use a stable compact form). */
  object Render {
    def name(e: Expr): String = e match {
      case Var(n) => n
      case Prop(v, k) => s"$v.$k"
      case Fn(n, args, d) =>
        val inner = if (args.isEmpty) "*" else args.map(name).mkString(",")
        s"$n(${if (d) "DISTINCT " else ""}$inner)"
      case Lit(v) => String.valueOf(v)
      case Param(n) => s"$$$n"
      case Bin(op, l, r) => s"${name(l)}$op${name(r)}"
      case Index(l, i) => s"${name(l)}[${name(i)}]"
      case other => other.toString.take(40)
    }
  }

  val AggregateFns: Set[String] =
    Set("count", "sum", "avg", "min", "max", "collect", "stdev", "stdevp",
      "percentilecont", "percentiledisc")

  // ---------- the one expression traversal ----------

  /** `e` rebuilt with every direct sub-expression `c` replaced by `f(c)`,
    * children visited in source order. The only function that lists the
    * container cases: every analysis and rewrite below recurses through it
    * (the analog of Catalyst's `TreeNode.mapChildren`). Sub-expressions
    * include an EXISTS / pattern comprehension's WHERE and projection and
    * the property values of its pattern; the pattern's shape is kept. */
  def mapChildren(e: Expr)(f: Expr => Expr): Expr = {
    def props(ps: Seq[(String, Expr)]) = ps.map { case (k, v) => (k, f(v)) }
    def path(p: PathPat) = p.copy(nodes = p.nodes.map(n => n.copy(props = props(n.props))),
      rels = p.rels.map(r => r.copy(props = props(r.props))))
    e match {
      case Lit(_) | Var(_) | Prop(_, _) | Param(_) => e
      case Fn(n, args, d) => Fn(n, args.map(f), d)
      case ListLit(items) => ListLit(items.map(f))
      case Bin(op, l, r) => Bin(op, f(l), f(r))
      case Not(x) => Not(f(x))
      case IsNull(x, n) => IsNull(f(x), n)
      case StrPred(op, l, r) => StrPred(op, f(l), f(r))
      case InList(x, l) => InList(f(x), f(l))
      case CaseExpr(s, bs, d) =>
        CaseExpr(s.map(f), bs.map { case (w, t) => (f(w), f(t)) }, d.map(f))
      case Index(l, i) => Index(f(l), f(i))
      case Slice(l, a, b) => Slice(f(l), a.map(f), b.map(f))
      case ExistsPattern(ps, w) => ExistsPattern(ps.map(path), w.map(f))
      case LambdaPred(k, v, l, p) => LambdaPred(k, v, f(l), f(p))
      case ReduceExpr(a, i, v, l, b) => ReduceExpr(a, f(i), v, f(l), f(b))
      case ListComp(v, l, p, b) => ListComp(v, f(l), p.map(f), b.map(f))
      case PatternComp(p, w, pr) => PatternComp(path(p), w.map(f), f(pr))
      case MapLit(es) => MapLit(props(es))
    }
  }

  /** Direct sub-expressions of `e`, in source order. */
  def children(e: Expr): Seq[Expr] = {
    val out = Seq.newBuilder[Expr]
    mapChildren(e) { c => out += c; c }
    out.result()
  }

  /** Variables `e` itself binds (a lambda's variable, reduce's accumulator
    * too). Analyses take them to cover all of `e`'s children. */
  def binds(e: Expr): Set[String] = e match {
    case LambdaPred(_, v, _, _) => Set(v)
    case ReduceExpr(a, _, v, _, _) => Set(a, v)
    case ListComp(v, _, _, _) => Set(v)
    case _ => Set.empty
  }

  /** True when an aggregate call appears anywhere in `e` (Cypher's
    * implicit grouping: such an item is aggregated, the others are keys). */
  def isAggregate(e: Expr): Boolean = e match {
    case Fn(n, _, _) if AggregateFns.contains(n.toLowerCase) => true
    case _ => children(e).exists(isAggregate)
  }

  /** (variable, property) pairs `e` reads via `v.k`, subqueries included. */
  def propRefs(e: Expr): Set[(String, String)] = e match {
    case Prop(v, k) => Set((v, k))
    case _ => children(e).flatMap(propRefs).toSet
  }

  /** Free variables `e` references BARE (not through `v.k`), subqueries
    * included — these may need any column (properties(v), v = other,
    * collect(v), ...). */
  def bareVarRefs(e: Expr): Set[String] = e match {
    case Var(n) => Set(n)
    case _ => children(e).flatMap(bareVarRefs).toSet -- binds(e)
  }

  /** Free variables `e` references, bare or through `v.k`; an EXISTS or
    * pattern comprehension adds the marker `__nonpushable` instead of its
    * own references. */
  def refVars(e: Expr): Set[String] = e match {
    case Var(n) => Set(n)
    case Prop(v, _) => Set(v)
    case _: ExistsPattern | _: PatternComp => Set("__nonpushable")
    case _ => children(e).flatMap(refVars).toSet -- binds(e)
  }
}
