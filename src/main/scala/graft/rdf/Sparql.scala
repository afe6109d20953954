package graft.rdf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SPARQL basic-graph-pattern SELECT execution over the (s, p, o) triple
  * DataFrame produced by [[Rdf.exportTriples]] / the format parsers.
  *
  * BEYOND-PARITY: the reference ships only a SPARQL parser stub that
  * returns "not yet implemented" (`src/sparql/parser.rs:18-32`); here the
  * subset that covers its documented intent actually executes:
  *
  *   PREFIX pfx: <iri>            (any number)
  *   SELECT [DISTINCT] ?v ... | *
  *   WHERE { triple patterns '.'-separated; FILTER(...) clauses;
  *           OPTIONAL { patterns; FILTER(...) } groups (left join) }
  *   WHERE { { patterns } UNION { patterns } ... }   (by-name alignment)
  *   SELECT (COUNT(*)|COUNT([DISTINCT] ?v)|SUM|AVG|MIN|MAX(?v) AS ?alias)
  *     ... GROUP BY ?v ...        (SPARQL 1.1 aggregates, hash aggregate)
  *   property paths on prefixed-name predicates: p1/p2 (sequence, desugars
  *     to chained patterns), p1|p2 (alternation), p+ / p* (transitive
  *     closure via iterative frontier joins)
  *   ORDER BY ?v [ASC|DESC] ...   LIMIT n   OFFSET n
  *   MINUS { patterns; FILTER(...) }   (set difference — anti-join on
  *     shared variables with SPARQL's compatible-and-overlapping-domain
  *     rule; null bindings are compatible but contribute no overlap)
  *   BIND(expr AS ?v) with expr: ?x | constant | STR(?x) | CONCAT(...)
  *     (assignment — a projected column; STR/CONCAT build plain literals
  *     from lexical forms)
  *
  * Terms: variables `?v`, IRIs `<...>`, prefixed names `pfx:local`, plain
  * and typed literals, and the `a` keyword for rdf:type. Filters: the six
  * comparisons between a variable and a literal (numeric when the literal
  * is numeric, else lexical), `regex(?v, "pat")`, and `&&`-conjunction.
  *
  * Spark-first execution: each triple pattern is a filtered projection of
  * the triple table with variable positions renamed to the variable name;
  * shared variables across patterns become inner equi-joins (Catalyst picks
  * hash/broadcast and reorders); FILTER lowers to a `Column` predicate; the
  * result projects the LEXICAL value of each selected variable (literal
  * lexical form, or the IRI text). The whole query is ONE declarative plan —
  * no per-pattern actions — so it scales exactly as far as the join plan
  * does.
  */
object Sparql {

  private val RdfType = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

  /** Edge budget of the driver-side closure in `p+` / `p*` (strings,
    * ~10 MB); `spark.graft.algo.localSizeBytes=0` turns it off, as it does
    * every small-input route. */
  private val ClosureLocalEdges = 100000L

  private sealed trait Term
  private final case class V(name: String) extends Term
  /** Constant in full N-Triples term syntax (`<iri>` or `"lit"^^<t>`). */
  private final case class C(nt: String) extends Term

  /** Predicate position of a triple pattern: a plain term, an alternation
    * `p1|p2`, or a transitive closure `p+` / `p*` (SPARQL 1.1 property
    * paths; sequences `p1/p2` desugar to chained patterns at parse time). */
  private sealed trait Pred
  private final case class Simple(t: Term) extends Pred
  private final case class AltP(iris: Seq[String]) extends Pred
  private final case class ClosureP(iri: String, zero: Boolean) extends Pred

  private final case class Pattern(s: Term, p: Pred, o: Term)
  private final case class Cond(v: String, op: String, lit: String, numeric: Boolean)

  /** A `(FUNC(?v) AS ?alias)` select item: COUNT (with `*` or DISTINCT),
    * SUM, AVG, MIN, MAX. */
  private final case class Agg(func: String, v: Option[String],
                               distinct: Boolean, alias: String)

  /** An OPTIONAL { ... } group: its own patterns + filters, left-joined
    * onto the required part on shared variables. Also reused for MINUS
    * groups (anti-join instead of left join). */
  private final case class OptGroup(patterns: Seq[Pattern], filters: Seq[Cond])

  /** A BIND(expr AS ?v) expression: variable copy, constant term, STR(?x),
    * or CONCAT over any of these. */
  private sealed trait BindX
  private final case class BVar(v: String) extends BindX
  private final case class BConst(nt: String) extends BindX
  private final case class BStr(v: String) extends BindX
  private final case class BConcat(args: Seq[BindX]) extends BindX

  /** One WHERE-clause group step in PARSE ORDER: SPARQL algebra folds
    * OPTIONAL (LeftJoin), BIND (Extend), and MINUS (Minus) into the group
    * left-to-right, so a MINUS written before an OPTIONAL must anti-join
    * BEFORE that optional binds its variables — and a BIND written before
    * an OPTIONAL evaluates before its left-join (and can be a join var). */
  private sealed trait GroupStep
  private final case class OptStep(g: OptGroup) extends GroupStep
  private final case class BindStep(v: String, e: BindX) extends GroupStep
  private final case class MinusStep(g: OptGroup) extends GroupStep

  private final case class Query(
      distinct: Boolean, select: Seq[String], patterns: Seq[Pattern],
      filters: Seq[Cond], optionals: Seq[OptGroup],
      unionGroups: Seq[OptGroup], orderBy: Seq[(String, Boolean)],
      limit: Option[Int], offset: Option[Int],
      aggs: Seq[Agg], groupBy: Seq[String],
      mode: String = "SELECT",                // SELECT | ASK | CONSTRUCT | DESCRIBE
      template: Seq[(Term, Term, Term)] = Nil,       // CONSTRUCT template
      describes: Seq[Term] = Nil,                    // DESCRIBE targets
      valuesBlocks: Seq[(Seq[String], Seq[Seq[Option[String]]])] = Nil,
      binds: Seq[(String, BindX)] = Nil,             // BIND(expr AS ?v)
      groupSteps: Seq[GroupStep] = Nil)

  // ---- tokenizer ---------------------------------------------------------

  private def tokenize(q: String): List[String] = {
    val out = List.newBuilder[String]
    var i = 0
    val s = q
    while (i < s.length) {
      val ch = s(i)
      if (ch.isWhitespace) i += 1
      else if (ch == '<' && {
        // IRI only when a '>' closes it with no whitespace inside —
        // otherwise this '<' is the comparison operator
        val j = s.indexOf('>', i)
        j > 0 && !s.substring(i, j).exists(_.isWhitespace)
      }) {
        val j = s.indexOf('>', i)
        val sb = new StringBuilder(s.substring(i, j + 1)); i = j + 1
        // path operators glue IRIs into ONE predicate-path token when no
        // whitespace separates them: <a>/<b>, <a>+, <a>|<b>
        while (i < s.length && "/|+*^".contains(s(i))) {
          sb += s(i); i += 1
          if (i < s.length && s(i) == '<') {
            val m = s.indexOf('>', i)
            require(m > 0, "unterminated IRI in property path")
            sb ++= s.substring(i, m + 1); i = m + 1
          }
        }
        out += sb.toString
      }
      else if (ch == '<') {
        if (i + 1 < s.length && s(i + 1) == '=') { out += "<="; i += 2 } else { out += "<"; i += 1 }
      }
      else if (ch == '"') {
        var j = i + 1
        while (j < s.length && !(s(j) == '"' && s(j - 1) != '\\')) j += 1
        require(j < s.length, "unterminated literal")
        var k = j + 1
        if (k + 1 < s.length && s(k) == '^' && s(k + 1) == '^') {
          k += 2
          if (k < s.length && s(k) == '<') { val m = s.indexOf('>', k); k = m + 1 }
          else { while (k < s.length && !s(k).isWhitespace && !"{}().,".contains(s(k))) k += 1 }
        }
        out += s.substring(i, k); i = k
      }
      else if ("{}().,".contains(ch)) { out += ch.toString; i += 1 }
      else {
        var j = i
        while (j < s.length && !s(j).isWhitespace && !"{}(),".contains(s(j)) &&
          !(s(j) == '.' && (j + 1 >= s.length || s(j + 1).isWhitespace))) j += 1
        out += s.substring(i, j); i = j
      }
    }
    out.result()
  }

  // ---- parser ------------------------------------------------------------

  private def parse(q: String): Query = {
    var toks = tokenize(q)
    var prefixes = Map.empty[String, String]
    def peek: String = toks.headOption.getOrElse("")
    def next(): String = { val h = toks.head; toks = toks.tail; h }
    def expect(t: String): Unit = {
      val h = next(); require(h.equalsIgnoreCase(t), s"expected $t, got $h")
    }

    while (peek.equalsIgnoreCase("PREFIX")) {
      next()
      val p = next(); require(p.endsWith(":"), s"bad prefix decl $p")
      val iri = next(); require(iri.startsWith("<") && iri.endsWith(">"), s"bad prefix IRI $iri")
      prefixes += (p.dropRight(1) -> iri.substring(1, iri.length - 1))
    }

    def term(t: String, predPos: Boolean): Term = {
      if (t == "a" && predPos) C(RdfType)
      else if (t.startsWith("?")) V(t.drop(1))
      else if (t.startsWith("<") || t.startsWith("\"")) C(t)
      else if (t.contains(":")) {
        val Array(p, l) = t.split(":", 2)
        val ns = prefixes.getOrElse(p, sys.error(s"unknown prefix $p"))
        C("<" + ns + l + ">")
      } else sys.error(s"unsupported term $t")
    }

    val mode = next().toUpperCase
    require(Set("SELECT", "ASK", "CONSTRUCT", "DESCRIBE").contains(mode),
      s"unsupported query form $mode")
    var distinct = false
    var select = Vector.empty[String]
    var aggs = Vector.empty[Agg]
    var star = false
    var template = Vector.empty[(Term, Term, Term)]
    var describes = Vector.empty[Term]
    if (mode == "DESCRIBE") {
      // DESCRIBE <iri>... | DESCRIBE ?v... [WHERE { ... }]
      star = true
      while (toks.nonEmpty && !peek.equalsIgnoreCase("WHERE") && peek != "{")
        describes :+= term(next(), predPos = false)
      require(describes.nonEmpty, "DESCRIBE needs at least one resource or variable")
      require(describes.forall { case C(nt) => nt.startsWith("<"); case _ => true },
        "DESCRIBE constants must be IRIs")
    }
    if (mode == "SELECT") {
      distinct = peek.equalsIgnoreCase("DISTINCT")
      if (distinct) next()
    } else if (mode == "ASK" || mode == "DESCRIBE") {
      star = true
    } else { // CONSTRUCT { template triples }
      star = true
      expect("{")
      while (peek != "}") {
        val s0 = term(next(), predPos = false)
        val p0 = term(next(), predPos = true)
        val o0 = term(next(), predPos = false)
        template :+= ((s0, p0, o0))
        if (peek == ".") next()
      }
      expect("}")
    }
    while (mode == "SELECT" && (peek.startsWith("?") || peek == "*" || peek == "(")) {
      if (peek == "(") {
        // `(COUNT(*) AS ?n)` / `(SUM(?v) AS ?s)` / `(COUNT(DISTINCT ?v) AS ?n)`
        next()
        val func = next().toUpperCase
        require(Set("COUNT", "SUM", "AVG", "MIN", "MAX").contains(func), s"unsupported aggregate $func")
        expect("(")
        val isDistinct = peek.equalsIgnoreCase("DISTINCT")
        if (isDistinct) next()
        val arg = next()
        val argVar =
          if (arg == "*") { require(func == "COUNT", s"$func(*) is not SPARQL"); None }
          else { require(arg.startsWith("?"), s"aggregate arg must be ?var or *, got $arg"); Some(arg.drop(1)) }
        expect(")"); expect("AS")
        val alias = next()
        require(alias.startsWith("?"), s"aggregate alias must be a variable, got $alias")
        expect(")")
        aggs :+= Agg(func, argVar, isDistinct, alias.drop(1))
        select :+= alias.drop(1)
      } else {
        val t = next(); if (t == "*") star = true else select :+= t.drop(1)
      }
    }
    require(aggs.isEmpty || !star, "SELECT * cannot mix with aggregates")
    // WHERE is mandatory on SELECT, optional on ASK/CONSTRUCT/DESCRIBE
    // (SPARQL 1.1); `DESCRIBE <iri>` may have no body at all
    if (mode == "SELECT") expect("WHERE")
    else if (peek.equalsIgnoreCase("WHERE")) next()
    val bodyless = mode == "DESCRIBE" && peek != "{"
    if (!bodyless) expect("{")

    // SPARQL 1.1 property paths over prefixed names, `a`, and full `<IRI>`
    // elements: `p1/p2` sequences desugar to chained patterns on fresh
    // variables; `p1|p2` alternation and `p+`/`p*` closure become Pred
    // nodes executed by bind(); `^p` inverse swaps the hop's endpoints
    // (for a closure that equals the closure of the inverse). Splitting is
    // IRI-aware — `/`, `|`, `+` INSIDE `<...>` are IRI characters, not
    // path operators.
    var ppVar = 0
    def freshVar(): String = { ppVar += 1; s"__pp$ppVar" }
    def splitTop(str: String, sep: Char): IndexedSeq[String] = {
      val out = Vector.newBuilder[String]; val cur = new StringBuilder
      var inIri = false
      str.foreach {
        case '<' => inIri = true; cur += '<'
        case '>' => inIri = false; cur += '>'
        case c if c == sep && !inIri => out += cur.toString; cur.clear()
        case c => cur += c
      }
      out += cur.toString; out.result()
    }
    def iriOf(t: String): String = term(t, predPos = true) match {
      case C(nt) => nt
      case _ => sys.error(s"property path element must be an IRI, got $t")
    }
    def elemPred(t: String): Pred =
      // an IRI token ends with '>', so a top-level closure suffix is
      // unambiguous even on <IRI> elements
      if (t.endsWith("+") || t.endsWith("*"))
        ClosureP(iriOf(t.dropRight(1)), zero = t.endsWith("*"))
      else if (splitTop(t, '|').length > 1) AltP(splitTop(t, '|').map(iriOf))
      else Simple(term(t, predPos = true))
    def parsePredicatePath(s0: Term, tok: String, o0: Term): Seq[Pattern] = {
      val pathCapable = !tok.startsWith("?") && !tok.startsWith("\"")
      val parts = if (pathCapable) splitTop(tok, '/') else Vector(tok)
      def hasOps = parts.length > 1 || tok.startsWith("^") ||
        tok.endsWith("+") || tok.endsWith("*") || splitTop(tok, '|').length > 1
      if (pathCapable && hasOps) {
        val mids = parts.init.map(_ => V(freshVar()))
        val ss = s0 +: mids
        val oo = mids :+ o0
        parts.indices.map { i =>
          val p = parts(i)
          val (inv, body) = if (p.startsWith("^")) (true, p.drop(1)) else (false, p)
          if (inv) Pattern(oo(i), elemPred(body), ss(i))
          else Pattern(ss(i), elemPred(body), oo(i))
        }
      } else Seq(Pattern(s0, Simple(term(tok, predPos = true)), o0))
    }

    // one group body: patterns + FILTERs until the closing '}' (consumed);
    // at the top level it may also contain OPTIONAL { ... } sub-groups
    // VALUES blocks collect across groups: (vars, rows of NT terms; None =
    // UNDEF, which matches anything / binds null)
    var valuesBlocks = Vector.empty[(Seq[String], Seq[Seq[Option[String]]])]
    var bindBlocks = Vector.empty[(String, BindX)]
    var stepBlocks = Vector.empty[GroupStep]
    def ntOf(t: String): String = term(t, predPos = false) match {
      case C(nt) => nt
      case V(v) => sys.error(s"VALUES data must be constant terms, got ?$v")
    }
    def parseValues(): Unit = {
      val vars: Seq[String] =
        if (peek == "(") {
          next()
          val vs = Vector.newBuilder[String]
          while (peek != ")") {
            val t = next(); require(t.startsWith("?"), s"VALUES var expected, got $t")
            vs += t.drop(1)
          }
          next(); vs.result()
        } else {
          val t = next(); require(t.startsWith("?"), s"VALUES var expected, got $t")
          Seq(t.drop(1))
        }
      expect("{")
      val rows = Vector.newBuilder[Seq[Option[String]]]
      if (vars.size == 1)
        while (peek != "}") {
          val t = next()
          rows += Seq(if (t.equalsIgnoreCase("UNDEF")) None else Some(ntOf(t)))
        }
      else
        while (peek != "}") {
          expect("(")
          val row = Vector.newBuilder[Option[String]]
          while (peek != ")") {
            val t = next()
            row += (if (t.equalsIgnoreCase("UNDEF")) None else Some(ntOf(t)))
          }
          next()
          val r = row.result()
          require(r.size == vars.size,
            s"VALUES row arity ${r.size} != ${vars.size} vars")
          rows += r
        }
      expect("}")
      valuesBlocks :+= ((vars, rows.result()))
    }
    def parseGroup(allowOptional: Boolean): (Vector[Pattern], Vector[Cond], Vector[OptGroup]) = {
      var patterns = Vector.empty[Pattern]
      var filters = Vector.empty[Cond]
      var optionals = Vector.empty[OptGroup]
      while (peek != "}") {
        if (peek.equalsIgnoreCase("FILTER")) {
          next(); expect("(")
          var done = false
          while (!done) {
            val a = next()
            if (a.equalsIgnoreCase("regex")) {
              expect("("); val v = next(); expect(","); val pat = next(); expect(")")
              require(v.startsWith("?") && pat.startsWith("\""), "regex(?v, \"pat\")")
              filters :+= Cond(v.drop(1), "regex", pat.substring(1, pat.lastIndexOf('"')), numeric = false)
            } else {
              val op = next()
              val b = next()
              require(a.startsWith("?"), s"FILTER operand must be a variable, got $a")
              require(Set("=", "!=", "<", "<=", ">", ">=").contains(op), s"bad op $op")
              val (lex, isNum) =
                if (b.startsWith("\"")) {
                  val end = b.lastIndexOf('"')
                  (b.substring(1, end), b.contains("^^") &&
                    (b.contains("long") || b.contains("double") || b.contains("integer") || b.contains("decimal")))
                } else (b, b.matches("[+-]?[0-9.]+([eE][+-]?[0-9]+)?"))
              filters :+= Cond(a.drop(1), op, lex, isNum)
            }
            if (peek == "&&") { next() } else { expect(")"); done = true }
          }
        } else if (peek.equalsIgnoreCase("VALUES")) {
          next(); parseValues()
        } else if (peek.equalsIgnoreCase("OPTIONAL")) {
          require(allowOptional, "nested OPTIONAL is unsupported")
          next(); expect("{")
          val (ps, fs, os) = parseGroup(allowOptional = false)
          require(os.isEmpty && ps.nonEmpty, "OPTIONAL needs triple patterns")
          optionals :+= OptGroup(ps, fs)
          stepBlocks :+= OptStep(OptGroup(ps, fs))
        } else if (peek.equalsIgnoreCase("MINUS")) {
          require(allowOptional, "MINUS is supported at the top level of WHERE")
          next(); expect("{")
          val (ps, fs, os) = parseGroup(allowOptional = false)
          require(os.isEmpty && ps.nonEmpty, "MINUS needs triple patterns")
          stepBlocks :+= MinusStep(OptGroup(ps, fs))
          if (peek == ".") next()
        } else if (peek.equalsIgnoreCase("BIND")) {
          require(allowOptional, "BIND is supported at the top level of WHERE")
          next(); expect("(")
          def parseBindExpr(): BindX = {
            val t = next()
            if (t.equalsIgnoreCase("CONCAT")) {
              expect("(")
              val args = Vector.newBuilder[BindX]
              args += parseBindExpr()
              while (peek == ",") { next(); args += parseBindExpr() }
              expect(")")
              BConcat(args.result())
            } else if (t.equalsIgnoreCase("STR")) {
              expect("("); val v = next(); expect(")")
              require(v.startsWith("?"), s"STR takes a variable, got $v")
              BStr(v.drop(1))
            } else if (t.startsWith("?")) BVar(t.drop(1))
            else BConst(ntOf(t))
          }
          val e = parseBindExpr()
          val as = next(); require(as.equalsIgnoreCase("AS"), s"expected AS, got $as")
          val v = next(); require(v.startsWith("?"), s"BIND target must be a variable, got $v")
          expect(")")
          bindBlocks :+= ((v.drop(1), e))
          stepBlocks :+= BindStep(v.drop(1), e)
          if (peek == ".") next()
        } else {
          val s0 = term(next(), predPos = false)
          patterns ++= parsePredicatePath(s0, next(), term(next(), predPos = false))
          if (peek == ".") next()
        }
      }
      expect("}")
      (patterns, filters, optionals)
    }
    // `{ g1 } UNION { g2 } ...` at the top of WHERE: braced alternatives
    // (each a plain BGP + filters); otherwise a single unbraced group
    var unionGroups = Vector.empty[OptGroup]
    val (patterns, filters, optionals) =
      if (bodyless) (Vector.empty[Pattern], Vector.empty[Cond], Vector.empty[OptGroup])
      else if (peek == "{") {
        var done = false
        while (!done) {
          expect("{")
          val (ps, fs, os) = parseGroup(allowOptional = false)
          require(os.isEmpty && ps.nonEmpty, "UNION branches need triple patterns")
          unionGroups :+= OptGroup(ps, fs)
          if (peek.equalsIgnoreCase("UNION")) next() else done = true
        }
        expect("}")
        (Vector.empty[Pattern], Vector.empty[Cond], Vector.empty[OptGroup])
      } else parseGroup(allowOptional = true)

    var groupBy = Vector.empty[String]
    if (peek.equalsIgnoreCase("GROUP")) {
      next(); expect("BY")
      while (peek.startsWith("?")) groupBy :+= next().drop(1)
      require(groupBy.nonEmpty, "GROUP BY needs at least one variable")
    }
    require(groupBy.isEmpty || aggs.nonEmpty, "GROUP BY without aggregates")
    // every plain select var must be grouped when aggregating (SPARQL 1.1
    // projection restriction)
    if (aggs.nonEmpty) {
      val aliases = aggs.map(_.alias).toSet
      val plain = select.filterNot(aliases.contains)
      require(plain.forall(groupBy.contains),
        s"non-aggregated select vars must appear in GROUP BY: ${plain.filterNot(groupBy.contains)}")
    }
    var orderBy = Vector.empty[(String, Boolean)]
    if (peek.equalsIgnoreCase("ORDER")) {
      next(); expect("BY")
      while (peek.startsWith("?") || peek.equalsIgnoreCase("ASC") || peek.equalsIgnoreCase("DESC")) {
        if (peek.equalsIgnoreCase("ASC") || peek.equalsIgnoreCase("DESC")) {
          val desc = next().equalsIgnoreCase("DESC"); expect("(")
          orderBy :+= (next().drop(1), !desc); expect(")")
        } else orderBy :+= (next().drop(1), true)
      }
    }
    var limit: Option[Int] = None
    var offset: Option[Int] = None
    while (peek.equalsIgnoreCase("LIMIT") || peek.equalsIgnoreCase("OFFSET")) {
      val kw = next()
      if (kw.equalsIgnoreCase("LIMIT")) limit = Some(next().toInt) else offset = Some(next().toInt)
    }
    require(toks.isEmpty, s"trailing tokens: $toks")

    val vars = ((patterns ++ optionals.flatMap(_.patterns) ++
      unionGroups.flatMap(_.patterns))
      .flatMap(p => Seq(p.s, p.o) ++ (p.p match {
        case Simple(t) => Seq(t); case _ => Nil
      }))
      .collect { case V(n) => n } ++ valuesBlocks.flatMap(_._1) ++
      bindBlocks.map(_._1))
      .distinct.filterNot(_.startsWith("__pp"))
    Query(distinct, if (star) vars else select, patterns, filters, optionals,
      unionGroups, orderBy, limit, offset, aggs, groupBy, mode, template,
      describes, valuesBlocks, bindBlocks, stepBlocks)
  }

  // ---- execution ---------------------------------------------------------

  /** Lexical value of an N-Triples term column: literal lexical form
    * (unescaped) for literals, the IRI text for IRIs. */
  private def lex(c: Column): Column =
    when(c.startsWith("\""),
      Rdf.unescape(regexp_extract(c, "^\"((?:[^\"\\\\]|\\\\.)*)\"", 1)))
      .otherwise(regexp_extract(c, "^<(.*)>$", 1))

  /** Solve the WHERE body of a parsed query over the triple table: BGP
    * joins, UNION branches, OPTIONAL left-joins, FILTERs. Returns the
    * binding frame — one RAW N-Triples term column per variable (shared by
    * SELECT / ASK / CONSTRUCT, which differ only in what they project). */
  private def solve(q: Query, triples: DataFrame): DataFrame = {
    require(q.patterns.nonEmpty || q.unionGroups.nonEmpty, "empty basic graph pattern")

    // transitive closure of one predicate's edge set (p+ / p*): frontier
    // expansion over DISTINCT (s,o) pairs with anti-join dedup and
    // localCheckpoint lineage cuts — the varLengthExpand discipline. p*
    // additionally includes the zero-length (x,x) pair for every term
    // appearing as a subject or object in the graph (SPARQL 1.1 semantics
    // restricted to the graph's own terms).
    def closurePairs(iri: String, zero: Boolean): DataFrame = {
      val e = triples.filter(col("p") === iri)
        .select(col("s"), col("o")).distinct().localCheckpoint(true)
      // Thresholded driver fast-path: a small edge set pays ~2 Spark jobs
      // per frontier round in the distributed loop — 10-50x the actual
      // closure work.
      // Past ClosureLocalEdges the distributed loop below is the only path.
      val spark = triples.sparkSession
      if (graft.algo.LocalKernels.localSizeBytes(spark) > 0 && e.count() <= ClosureLocalEdges) {
        val adj = new scala.collection.mutable.HashMap[String, List[String]]()
        e.collect().foreach { r =>
          val (s0, o0) = (r.getString(0), r.getString(1))
          adj.update(s0, o0 :: adj.getOrElse(s0, Nil))
        }
        val out = Vector.newBuilder[(String, String)]
        adj.keysIterator.foreach { src =>
          val seen = new scala.collection.mutable.HashSet[String]()
          var stack = adj(src)
          while (stack.nonEmpty) {
            val h = stack.head; stack = stack.tail
            if (seen.add(h)) stack = adj.getOrElse(h, Nil) reverse_::: stack
          }
          seen.foreach(t => out += ((src, t)))
        }
        import spark.implicits._
        val reach = out.result().toDF("s", "o")
        return if (zero) {
          val nodes = triples.select(col("s"))
            .unionAll(triples.select(col("o").as("s"))).distinct()
          nodes.select(col("s"), col("s").as("o")).unionAll(reach).distinct()
        } else reach
      }
      var reach = e
      var frontier = e
      // no round cap: each round adds only pairs not yet in reach, and
      // reach is finite, so the loop ends on the first empty frontier
      var done = frontier.isEmpty
      while (!done) {
        val next = frontier
          .join(e.select(col("s").as("_m"), col("o").as("_o2")), col("o") === col("_m"))
          .select(col("s"), col("_o2").as("o")).distinct()
          .join(reach, Seq("s", "o"), "left_anti").localCheckpoint(true)
        if (next.isEmpty) done = true
        else { reach = reach.unionAll(next).localCheckpoint(true); frontier = next }
      }
      if (zero) {
        val nodes = triples.select(col("s"))
          .unionAll(triples.select(col("o").as("s"))).distinct()
        nodes.select(col("s"), col("s").as("o")).unionAll(reach).distinct()
      } else reach
    }

    def bind(pat: Pattern): DataFrame = {
      var df = pat.p match {
        case Simple(_) => triples
        case AltP(iris) => triples.filter(col("p").isin(iris: _*))
        case ClosureP(iri, zero) => closurePairs(iri, zero) // columns (s, o)
      }
      var proj = Vector.empty[Column]
      var seen = Map.empty[String, String] // var -> bound column within this pattern
      val positions: Seq[(String, Term)] = pat.p match {
        case Simple(t) => Seq(("s", pat.s), ("p", t), ("o", pat.o))
        case _ => Seq(("s", pat.s), ("o", pat.o))
      }
      positions.foreach {
        case (pos, C(nt)) if nt.startsWith("\"") =>
          // A query literal parses plain (`"alice"`) while stored literals are
          // typed (`"alice"^^<xsd:string>`) — compare on the lexical form,
          // matching FILTER's lex() semantics, restricted to literal terms.
          df = df.filter(col(pos).startsWith("\"") && lex(col(pos)) === lex(lit(nt)))
        case (pos, C(nt)) => df = df.filter(col(pos) === nt)
        case (pos, V(n)) =>
          seen.get(n) match {
            case Some(prev) => df = df.filter(col(pos) === col(prev)) // same var twice
            case None => seen += (n -> pos); proj :+= col(pos).as(n)
          }
      }
      df.select(proj: _*)
    }

    def filterPred(f: Cond): Column = {
      val v = lex(col(f.v))
      f.op match {
        case "regex" => v.rlike(f.lit)
        case op =>
          val (l, r): (Column, Column) =
            if (f.numeric) (v.cast("double"), lit(f.lit.toDouble)) else (v, lit(f.lit))
          op match {
            case "=" => l === r
            case "!=" => l =!= r
            case "<" => l < r
            case "<=" => l <= r
            case ">" => l > r
            case ">=" => l >= r
          }
      }
    }

    // inner equi-joins on shared variables, in written order — Catalyst
    // reorders/broadcasts; disjoint patterns cross-join (standard BGP)
    def joinGroup(patterns: Seq[Pattern], filters: Seq[Cond]): DataFrame = {
      var grp = bind(patterns.head)
      patterns.tail.foreach { pat =>
        val b = bind(pat)
        val shared = grp.columns.toSet.intersect(b.columns.toSet).toSeq
        grp = if (shared.nonEmpty) grp.join(b, shared) else grp.crossJoin(b)
      }
      filters.foldLeft(grp)((d, f) => d.filter(filterPred(f)))
    }

    // UNION: evaluate each braced alternative and stack them, aligning
    // variables by name (a variable absent from one branch is null there —
    // standard SPARQL union semantics)
    var bound =
      if (q.unionGroups.nonEmpty)
        q.unionGroups.map(g => joinGroup(g.patterns, g.filters))
          .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
      else joinGroup(q.patterns, q.filters)

    // OPTIONAL and BIND steps, IN PARSE ORDER (q.groupSteps):
    //  - OPTIONAL: the group evaluates on its own (patterns + its FILTERs),
    //    then LEFT-joins onto the solution so far on shared variables —
    //    unmatched rows keep their bindings null; a preceding BIND's target
    //    participates as a join variable.
    //  - BIND(expr AS ?v): a projected column over the solution so far; a
    //    BIND written after an OPTIONAL sees its (possibly null) bindings.
    //    The bound term keeps the N-Triples representation invariant:
    //    constants/variable copies carry their term through, STR / CONCAT
    //    produce plain literals from lexical forms.
    def lexOf(e: BindX): Column = e match {
      case BVar(v) => lex(col(v))
      case BConst(nt) => lex(lit(nt))
      case BStr(v) => lex(col(v))
      case BConcat(as) => concat(as.map(lexOf): _*)
    }
    def ntCol(e: BindX): Column = e match {
      case BVar(v) => col(v)
      case BConst(nt) => lit(nt)
      // STR/CONCAT build a plain literal from the UNESCAPED lexical form —
      // re-escape (inverse of Rdf.unescape) before wrapping in quotes, or a
      // source literal containing '"' or '\\' would emit a malformed
      // N-Triples term that lex() later truncates at the embedded quote
      case _ => concat(lit("\""), Rdf.escape(lexOf(e)), lit("\""))
    }
    // MINUS (SPARQL 1.1 set difference): remove solutions compatible with
    // some MINUS solution on shared variables, but only when the two
    // domains actually overlap — a null binding (from OPTIONAL) is
    // compatible with anything yet contributes no overlap, and disjoint
    // domains remove nothing. One anti-join per group; Catalyst broadcasts
    // the (distinct, shared-vars-only) right side when small.
    def applyMinus(mg: OptGroup): Unit = {
      val grp = joinGroup(mg.patterns, mg.filters)
      val shared = bound.columns.toSet.intersect(grp.columns.toSet).toSeq.sorted
      if (shared.nonEmpty) {
        val g2 = grp.select(shared.map(v => col(v).as(s"__m_$v")): _*).distinct()
        // RDF term equality with EXACTLY the plain-vs-xsd:string slack the
        // pattern binder applies (RDF 1.1: a plain literal IS an
        // xsd:string) — NOT lexical equality across arbitrary datatypes:
        // "5"^^xsd:long and "5"^^xsd:double are distinct terms and must
        // not anti-join each other away
        val XsdStr = "^^<http://www.w3.org/2001/XMLSchema#string>"
        def strTerm(c: Column): Column =
          c.startsWith("\"") && (c.endsWith("\"") || c.endsWith(XsdStr))
        def termEq(a: Column, b: Column): Column =
          a === b || (strTerm(a) && strTerm(b) && lex(a) === lex(b))
        val compat = shared.map(v =>
          col(v).isNull || col(s"__m_$v").isNull || termEq(col(v), col(s"__m_$v")))
          .reduce(_ && _)
        val overlap = shared.map(v => col(v).isNotNull && col(s"__m_$v").isNotNull)
          .reduce(_ || _)
        bound = bound.join(g2, compat && overlap, "left_anti")
      }
    }
    // OPTIONAL / BIND / MINUS fold into the group in PARSE ORDER (SPARQL
    // algebra group evaluation): a MINUS written before an OPTIONAL
    // anti-joins BEFORE that optional binds variables it shares
    q.groupSteps.foreach {
      case OptStep(og) =>
        val grp = joinGroup(og.patterns, og.filters)
        val shared = bound.columns.toSet.intersect(grp.columns.toSet).toSeq
        bound =
          if (shared.nonEmpty) bound.join(grp, shared, "left")
          else bound.crossJoin(grp)
      case BindStep(v, e) =>
        require(!bound.columns.contains(v),
          s"BIND target ?$v is already bound (SPARQL forbids rebinding)")
        bound = bound.withColumn(v, ntCol(e))
      case MinusStep(mg) => applyMinus(mg)
    }

    // VALUES blocks (SPARQL 1.1 inline data): each block is a tiny literal
    // relation joined (broadcast) onto the solution — a value restricts a
    // var the patterns bound (lexical-form compare, matching FILTER/bind
    // semantics), binds a var they did not, and UNDEF matches anything /
    // binds null. Inline data is query text, never data-sized.
    q.valuesBlocks.foreach { case (vars, rows) =>
      val spark = triples.sparkSession
      val schema = org.apache.spark.sql.types.StructType(vars.map(v =>
        org.apache.spark.sql.types.StructField(s"__val_$v",
          org.apache.spark.sql.types.StringType, nullable = true)))
      val jrows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      rows.foreach(r => jrows.add(org.apache.spark.sql.Row(r.map(_.orNull): _*)))
      val vdf = spark.createDataFrame(jrows, schema)
      val sharedVars = vars.filter(bound.columns.contains)
      val freshVars = vars.filterNot(bound.columns.contains)
      // compatibility semantics: an unbound side (UNDEF value, or a null
      // binding from OPTIONAL) is compatible with anything; the surviving
      // row takes whichever side is bound
      val cond = sharedVars.map(v =>
          col(v).isNull || col(s"__val_$v").isNull ||
            lex(col(v)) === lex(col(s"__val_$v")))
        .reduceOption(_ && _).getOrElse(lit(true))
      val keep = bound.columns.map(c =>
          if (sharedVars.contains(c)) coalesce(col(c), col(s"__val_$c")).as(c)
          else col(c)).toSeq ++
        freshVars.map(v => col(s"__val_$v").as(v))
      bound = bound.join(broadcast(vdf), cond, "inner").select(keep: _*)
    }

    bound
  }

  /** Execute a SPARQL SELECT over a triple DataFrame with columns s, p, o
    * in N-Triples term syntax. Returns one string column per selected
    * variable carrying its lexical value. */
  def execute(query: String, triples: DataFrame): DataFrame = {
    val q = parse(query)
    require(q.mode == "SELECT", s"${q.mode} query passed to execute — use ${q.mode.toLowerCase}()")
    val bound = solve(q, triples)

    // Aggregation (SPARQL 1.1 GROUP BY): keys are the lexical values of the
    // grouped variables; COUNT counts bound (non-null) values, SUM/AVG run
    // numerically on the lexical form, MIN/MAX compare lexically — one hash
    // aggregate, Catalyst plans partial/final as usual
    var out =
      if (q.aggs.nonEmpty) {
        val keys = q.groupBy.map(v => lex(col(v)).as(v))
        val aggCols = q.aggs.map { a =>
          val arg = a.v.map(v => lex(col(v)))
          val e = a.func match {
            case "COUNT" => arg match {
              case None => count(lit(1))
              case Some(x) => if (a.distinct) count_distinct(x) else count(x)
            }
            case "SUM" => sum(arg.get.cast("double"))
            case "AVG" => avg(arg.get.cast("double"))
            case "MIN" => min(arg.get)
            case "MAX" => max(arg.get)
          }
          e.as(a.alias)
        }
        val grouped =
          if (keys.nonEmpty) bound.groupBy(keys: _*).agg(aggCols.head, aggCols.tail: _*)
          else bound.agg(aggCols.head, aggCols.tail: _*)
        grouped.select(q.select.map(col): _*)
      } else bound.select(q.select.map(v => lex(col(v)).as(v)): _*)
    if (q.distinct) out = out.distinct()
    if (q.orderBy.nonEmpty)
      out = out.orderBy(q.orderBy.map { case (v, asc) => if (asc) col(v).asc else col(v).desc }: _*)
    q.offset.foreach(n => out = out.offset(n))
    q.limit.foreach(n => out = out.limit(n))
    out
  }

  /** Execute a SPARQL ASK: one row, one boolean column `ask` — true iff the
    * WHERE body has at least one solution. The plan stops at the first
    * binding (limit 1 under the count), never materializing the match set. */
  def ask(query: String, triples: DataFrame): DataFrame = {
    val q = parse(query)
    require(q.mode == "ASK", s"${q.mode} query passed to ask()")
    solve(q, triples).limit(1).agg((count(lit(1)) > 0).as("ask"))
  }

  /** Execute a SPARQL CONSTRUCT: instantiate the template once per solution
    * and return the resulting graph as a DISTINCT (s, p, o) triple frame in
    * N-Triples term syntax. Solutions leaving a template variable unbound
    * (e.g. from OPTIONAL) and instantiations that would be invalid RDF
    * (literal subject, non-IRI predicate) are skipped, per SPARQL 1.1. */
  def construct(query: String, triples: DataFrame): DataFrame = {
    val q = parse(query)
    require(q.mode == "CONSTRUCT", s"${q.mode} query passed to construct()")
    require(q.template.nonEmpty, "empty CONSTRUCT template")
    val bound = solve(q, triples)
    val boundVars = bound.columns.toSet
    q.template.foreach { case (s, p, o) =>
      Seq(s, p, o).foreach {
        case V(n) => require(boundVars.contains(n), s"template var ?$n not bound by WHERE")
        case _ =>
      }
    }
    def termCol(t: Term): Column = t match {
      case V(n) => col(n)
      case C(nt) => lit(nt)
    }
    q.template.map { case (s, p, o) =>
      bound.select(termCol(s).as("s"), termCol(p).as("p"), termCol(o).as("o"))
        .filter(col("s").isNotNull && col("p").isNotNull && col("o").isNotNull &&
          col("s").startsWith("<") && col("p").startsWith("<"))
    }.reduce(_ unionAll _).distinct()
  }

  /** Execute a SPARQL DESCRIBE — the fourth query form (the reference
    * declares it in REQ-SPARQL-003, `src/sparql/mod.rs:9`, and stubs the
    * executor, `src/sparql/executor.rs:51-53`). Returns the subject-based
    * description: every triple whose subject is one of the described
    * resources, as a DISTINCT (s, p, o) frame. Resources come from IRI
    * constants (`DESCRIBE <iri>`, no body needed) and/or the bindings of
    * described variables over the WHERE body. The resource set is one
    * distinct frame semi-joined against the triple table — never a
    * per-resource scan loop, so a million described resources cost one
    * join. */
  def describe(query: String, triples: DataFrame): DataFrame = {
    val q = parse(query)
    require(q.mode == "DESCRIBE", s"${q.mode} query passed to describe()")
    val spark = triples.sparkSession
    import spark.implicits._
    val consts = q.describes.collect { case C(nt) => nt }
    val varNames = q.describes.collect { case V(n) => n }
    require(varNames.isEmpty || q.patterns.nonEmpty || q.unionGroups.nonEmpty,
      "DESCRIBE ?var needs a WHERE body to bind it")
    val constDf = if (consts.isEmpty) None else Some(consts.toDF("r"))
    val varDf =
      if (varNames.isEmpty) None
      else {
        val bound = solve(q, triples)
        Some(varNames.map(n => bound.select(col(n).as("r"))).reduce(_ unionAll _))
      }
    val resources = (constDf.toSeq ++ varDf.toSeq).reduce(_ unionAll _).distinct()
    triples.join(resources, triples("s") === resources("r"), "left_semi")
      .select(col("s"), col("p"), col("o")).distinct()
  }
}
