package graft

import graft.model.PropertyGraph
import graft.rdf.{Rdf, Sparql}
import org.apache.spark.sql.functions._

/** SPARQL BGP SELECT over exported triples (rdf/Sparql.scala) — the
  * reference stubs its SPARQL parser; these prove ours executes. */
class SparqlSpec extends SparkSpec {
  import spark.implicits._

  private val base = "http://ex.org/"
  private lazy val g = PropertyGraph(
    Seq(
      (1L, Seq("P"), "alice", 10.0), (2L, Seq("P"), "bob", 20.0),
      (3L, Seq("P"), "carol", 30.0), (4L, Seq("Q"), "dave", 40.0))
      .toDF("id", "labels", "name", "balance"),
    Seq((10L, 1L, 2L, "KNOWS"), (11L, 2L, 3L, "KNOWS"), (12L, 1L, 4L, "LIKES"))
      .toDF("id", "src", "dst", "relationship"))
  private lazy val triples = Rdf.exportTriples(g, base).localCheckpoint(true)

  private val prefixes =
    s"""PREFIX gl: <${base}label/>
       |PREFIX gp: <${base}prop/>
       |PREFIX gr: <${base}rel/>
       |""".stripMargin

  test("single pattern with `a` keyword and full-IRI equivalence") {
    val byKeyword = Sparql.execute(
      prefixes + "SELECT ?s WHERE { ?s a gl:P } ORDER BY ?s", triples)
      .as[String].collect()
    val byIri = Sparql.execute(
      "SELECT ?s WHERE { ?s <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> " +
        s"<${base}label/P> }} ORDER BY ?s".replace("}}", "}"), triples)
      .as[String].collect()
    assert(byKeyword.toSeq == Seq(s"${base}node/1", s"${base}node/2", s"${base}node/3"))
    assert(byKeyword.toSeq == byIri.toSeq)
  }

  test("multi-pattern join on shared variables follows edges") {
    val r = Sparql.execute(
      prefixes +
        """SELECT ?an ?bn WHERE {
          |  ?a gr:KNOWS ?b .
          |  ?a gp:name ?an .
          |  ?b gp:name ?bn
          |} ORDER BY ?an""".stripMargin, triples)
      .as[(String, String)].collect()
    assert(r.toSeq == Seq(("alice", "bob"), ("bob", "carol")))
  }

  test("FILTER: numeric compare on typed literal, string compare, regex, &&") {
    val num = Sparql.execute(
      prefixes + "SELECT ?n WHERE { ?s gp:balance ?b . ?s gp:name ?n . " +
        "FILTER(?b >= \"20\"^^<http://www.w3.org/2001/XMLSchema#double> && ?b < 40) } ORDER BY ?n",
      triples).as[String].collect()
    assert(num.toSeq == Seq("bob", "carol"))
    val re = Sparql.execute(
      prefixes + "SELECT ?n WHERE { ?s gp:name ?n . FILTER(regex(?n, \"^[ab]\")) } ORDER BY ?n",
      triples).as[String].collect()
    assert(re.toSeq == Seq("alice", "bob"))
  }

  test("DISTINCT, LIMIT, OFFSET, DESC ordering") {
    // DESC top-1 over all rdf:type objects: edge reification statements are
    // typed rdf:Statement (w3.org sorts after ex.org)
    val r = Sparql.execute(
      prefixes + "SELECT DISTINCT ?t WHERE { ?s ?p ?o . ?s a ?t } ORDER BY DESC(?t) LIMIT 1",
      triples).as[String].collect()
    assert(r.toSeq == Seq("http://www.w3.org/1999/02/22-rdf-syntax-ns#Statement"))
    val page = Sparql.execute(
      prefixes + "SELECT ?n WHERE { ?s gp:name ?n } ORDER BY ?n LIMIT 2 OFFSET 1",
      triples).as[String].collect()
    assert(page.toSeq == Seq("bob", "carol"))
  }

  test("SELECT * binds every variable; same var twice in a pattern filters") {
    val star = Sparql.execute(
      prefixes + "SELECT * WHERE { ?a gr:KNOWS ?b } ORDER BY ?a", triples)
    assert(star.columns.toSeq == Seq("a", "b"))
    assert(star.count() == 2)
    // ?x KNOWS ?x — nobody knows themselves
    val selfRef = Sparql.execute(
      prefixes + "SELECT ?x WHERE { ?x gr:KNOWS ?x }", triples)
    assert(selfRef.count() == 0)
  }

  test("OPTIONAL: unmatched rows survive with null bindings; group FILTER applies pre-join") {
    // dave (:Q) has no outgoing KNOWS — the OPTIONAL binding is null
    val r = Sparql.execute(
      prefixes +
        """SELECT ?n ?fn WHERE {
          |  ?s gp:name ?n .
          |  OPTIONAL { ?s gr:KNOWS ?f . ?f gp:name ?fn }
          |} ORDER BY ?n""".stripMargin, triples)
      .collect().map(row => (row.getString(0), Option(row.getString(1)))).toSeq
    assert(r == Seq(
      ("alice", Some("bob")), ("bob", Some("carol")),
      ("carol", None), ("dave", None)))
    // a FILTER inside the OPTIONAL narrows the group BEFORE the left join:
    // alice's match (bob) is filtered out, so alice goes null, not dropped
    val r2 = Sparql.execute(
      prefixes +
        """SELECT ?n ?fn WHERE {
          |  ?s gp:name ?n .
          |  OPTIONAL { ?s gr:KNOWS ?f . ?f gp:name ?fn . FILTER(?fn != "bob") }
          |} ORDER BY ?n""".stripMargin, triples)
      .collect().map(row => (row.getString(0), Option(row.getString(1)))).toSeq
    assert(r2 == Seq(
      ("alice", None), ("bob", Some("carol")),
      ("carol", None), ("dave", None)))
  }

  test("UNION: braced alternatives stack with by-name variable alignment") {
    val r = Sparql.execute(
      prefixes +
        """SELECT ?n WHERE {
          |  { ?s a gl:Q . ?s gp:name ?n }
          |  UNION
          |  { ?s gp:name ?n . FILTER(regex(?n, "^a")) }
          |} ORDER BY ?n""".stripMargin, triples)
      .as[String].collect()
    assert(r.toSeq == Seq("alice", "dave"))
    // a variable bound in only one branch is null in the other
    val r2 = Sparql.execute(
      prefixes +
        """SELECT ?n ?b WHERE {
          |  { ?s gp:name ?n . FILTER(?n = "dave") }
          |  UNION
          |  { ?s gp:name ?n . ?s gp:balance ?b . FILTER(?n = "alice") }
          |} ORDER BY ?n""".stripMargin, triples)
      .collect().map(row => (row.getString(0), Option(row.getString(1)))).toSeq
    assert(r2 == Seq(("alice", Some("10.0")), ("dave", None)))
  }

  test("catalog shape: label + props + edge + filter as one plan") {
    val r = Sparql.execute(
      prefixes +
        """SELECT ?an ?bn WHERE {
          |  ?a a gl:P .
          |  ?a gp:name ?an .
          |  ?a gr:LIKES ?b .
          |  ?b gp:name ?bn .
          |  FILTER(?bn != "nobody")
          |} ORDER BY ?an""".stripMargin, triples)
      .as[(String, String)].collect()
    assert(r.toSeq == Seq(("alice", "dave")))
  }

  test("property paths: sequence, alternation, + and * closure") {
    // KNOWS chain: 1 -> 2 -> 3 ; LIKES: 1 -> 4
    // sequence: ?a gr:KNOWS/gp:name ?n — friends' names
    val seq1 = Sparql.execute(
      prefixes + "SELECT ?n WHERE { ?a gr:KNOWS/gp:name ?n } ORDER BY ?n", triples)
      .as[String].collect().toSeq
    assert(seq1 == Seq("bob", "carol"))
    // alternation: either relationship
    val alt = Sparql.execute(
      prefixes + "SELECT ?o WHERE { ?s gr:KNOWS|gr:LIKES ?o . FILTER(?s = \"http://ex.org/node/1\") } ORDER BY ?o",
      triples).as[String].collect().toSeq
    assert(alt == Seq("http://ex.org/node/2", "http://ex.org/node/4"))
    // one-or-more closure: 1 reaches 2 and 3
    val plus = Sparql.execute(
      prefixes + "SELECT ?o WHERE { ?s gr:KNOWS+ ?o . FILTER(?s = \"http://ex.org/node/1\") } ORDER BY ?o",
      triples).as[String].collect().toSeq
    assert(plus == Seq("http://ex.org/node/2", "http://ex.org/node/3"))
    // zero-or-more includes the zero-length self pair
    val star = Sparql.execute(
      prefixes + "SELECT ?o WHERE { ?s gr:KNOWS* ?o . FILTER(?s = \"http://ex.org/node/1\") } ORDER BY ?o",
      triples).as[String].collect().toSeq
    assert(star == Seq("http://ex.org/node/1", "http://ex.org/node/2", "http://ex.org/node/3"))
    // closure composes with further patterns: names of transitive contacts
    val names = Sparql.execute(
      prefixes +
        """SELECT ?n WHERE {
          |  ?s gp:name "alice" .
          |  ?s gr:KNOWS+ ?f .
          |  ?f gp:name ?n .
          |} ORDER BY ?n""".stripMargin, triples).as[String].collect().toSeq
    assert(names == Seq("bob", "carol"))
  }

  test("closure threshold boundary: driver fast-path == distributed loop") {
    // the dual-path pin (r12 verdict task #9): the SAME p+
    // and p* queries under the driver fast-path (edge count under the
    // threshold) and with spark.graft.algo.localSizeBytes=0 (the
    // distributed frontier loop is the only path) must be cell-identical
    val qs = Seq(
      "SELECT ?s ?o WHERE { ?s gr:KNOWS+ ?o } ORDER BY ?s ?o",
      "SELECT ?s ?o WHERE { ?s gr:KNOWS* ?o . FILTER(?s = \"http://ex.org/node/1\") } ORDER BY ?s ?o")
    // a 40-node NEXT chain: p+ needs paths of up to 39 hops on both sides
    val n = 40
    val chain = Rdf.exportTriples(PropertyGraph(
      (1 to n).map(i => (i.toLong, Seq("C"))).toDF("id", "labels"),
      (1 until n).map(i => (1000L + i, i.toLong, i + 1L, "NEXT")).toDF("id", "src", "dst", "relationship")),
      base).localCheckpoint(true)
    val cases = qs.map((_, triples, 0)) :+
      (("SELECT ?s ?o WHERE { ?s gr:NEXT+ ?o } ORDER BY ?s ?o", chain, n * (n - 1) / 2))
    cases.foreach { case (q, data, expected) =>
      val local = Sparql.execute(prefixes + q, data)
        .as[(String, String)].collect().toSeq
      spark.conf.set("spark.graft.algo.localSizeBytes", "0")
      try {
        val dist = Sparql.execute(prefixes + q, data)
          .as[(String, String)].collect().toSeq
        assert(local == dist,
          s"closure paths diverged across the threshold boundary for: $q\nlocal=$local\ndist=$dist")
        assert(local.nonEmpty, "vacuous boundary check")
        if (expected > 0) assert(local.size == expected)
      } finally spark.conf.unset("spark.graft.algo.localSizeBytes")
    }
  }

  test("property paths: full-IRI elements and ^inverse") {
    // sequence of full IRIs — the `/` INSIDE each IRI must not split
    val seq1 = Sparql.execute(
      s"SELECT ?n WHERE { ?a <${base}rel/KNOWS>/<${base}prop/name> ?n } ORDER BY ?n",
      triples).as[String].collect().toSeq
    assert(seq1 == Seq("bob", "carol"))
    // closure on a full IRI
    val plus = Sparql.execute(
      s"""SELECT ?o WHERE { ?s <${base}rel/KNOWS>+ ?o . FILTER(?s = "${base}node/1") } ORDER BY ?o""",
      triples).as[String].collect().toSeq
    assert(plus == Seq(s"${base}node/2", s"${base}node/3"))
    // inverse: ^KNOWS walks the edge backwards (who knows bob?)
    val inv = Sparql.execute(
      prefixes +
        """SELECT ?n WHERE {
          |  ?b gp:name "bob" .
          |  ?b ^gr:KNOWS ?a .
          |  ?a gp:name ?n .
          |} ORDER BY ?n""".stripMargin, triples).as[String].collect().toSeq
    assert(inv == Seq("alice"))
    // inverse composed in a sequence: bob's knower's name
    val invSeq = Sparql.execute(
      prefixes +
        """SELECT ?n WHERE { ?b gp:name "bob" . ?b ^gr:KNOWS/gp:name ?n }""".stripMargin,
      triples).as[String].collect().toSeq
    assert(invSeq == Seq("alice"))
    // inverse closure: everyone who transitively reaches carol
    val invPlus = Sparql.execute(
      prefixes +
        """SELECT ?o WHERE { ?c gp:name "carol" . ?c ^gr:KNOWS+ ?o } ORDER BY ?o""".stripMargin,
      triples).as[String].collect().toSeq
    assert(invPlus == Seq(s"${base}node/1", s"${base}node/2"))
  }

  test("aggregates: COUNT(*) per group, ordered by key") {
    // each person s with an outgoing edge, counted by predicate target label
    val r = Sparql.execute(
      prefixes +
        """SELECT ?n (COUNT(*) AS ?deg) WHERE {
          |  ?s gr:KNOWS ?o .
          |  ?s gp:name ?n .
          |} GROUP BY ?n ORDER BY ?n""".stripMargin, triples)
      .collect().map(row => (row.getString(0), row.getLong(1))).toSeq
    assert(r == Seq(("alice", 1L), ("bob", 1L)))
  }

  test("aggregates: SUM/AVG/MIN/MAX over lexical values, global when no GROUP BY") {
    val r = Sparql.execute(
      prefixes +
        """SELECT (COUNT(?b) AS ?n) (SUM(?b) AS ?s) (AVG(?b) AS ?a)
          |       (MIN(?n2) AS ?lo) (MAX(?n2) AS ?hi) WHERE {
          |  ?x a gl:P .
          |  ?x gp:balance ?b .
          |  ?x gp:name ?n2 .
          |}""".stripMargin, triples).collect().head
    assert(r.getLong(0) == 3L)
    assert(r.getDouble(1) == 60.0)
    assert(r.getDouble(2) == 20.0)
    assert(r.getString(3) == "alice" && r.getString(4) == "carol")
  }

  test("aggregates: COUNT(DISTINCT ?v) and projection restriction") {
    val r = Sparql.execute(
      prefixes + "SELECT (COUNT(DISTINCT ?t) AS ?n) WHERE { ?s a ?t }", triples)
      .collect().head
    assert(r.getLong(0) == 3L) // labels P and Q + rdf:Statement (edge reification)
    // a non-grouped plain select var is rejected (SPARQL 1.1 restriction)
    intercept[IllegalArgumentException] {
      Sparql.execute(
        prefixes + "SELECT ?n (COUNT(*) AS ?c) WHERE { ?s gp:name ?n }", triples)
    }
  }

  test("ASK: true on a satisfiable body, false on an unsatisfiable one, WHERE optional") {
    val yes = Sparql.ask(prefixes + "ASK { ?a gr:KNOWS ?b . ?b gr:KNOWS ?c }", triples)
      .collect().head.getBoolean(0)
    val no = Sparql.ask(prefixes + "ASK WHERE { ?a gr:KNOWS ?b . FILTER(?b = \"nobody\") }",
      triples).collect().head.getBoolean(0)
    assert(yes && !no)
  }

  test("CONSTRUCT: template instantiation produces a distinct triple graph") {
    // rewrite 2-hop KNOWS into a derived predicate + copy names
    val out = Sparql.construct(
      prefixes +
        """CONSTRUCT { ?a <http://ex.org/rel/KNOWS2> ?c . ?a gp:name ?an }
          |WHERE { ?a gr:KNOWS ?b . ?b gr:KNOWS ?c . ?a gp:name ?an }""".stripMargin,
      triples).collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set(
      (s"<${base}node/1>", "<http://ex.org/rel/KNOWS2>", s"<${base}node/3>"),
      (s"<${base}node/1>", s"<${base}prop/name>",
        "\"alice\"^^<http://www.w3.org/2001/XMLSchema#string>")))
    // unbound template var is rejected
    intercept[IllegalArgumentException] {
      Sparql.construct(
        prefixes + "CONSTRUCT { ?a gp:name ?zzz } WHERE { ?a gr:KNOWS ?b }", triples)
    }
  }

  test("VALUES: inline data restricts bound vars, binds fresh ones, UNDEF wildcards") {
    val r = Sparql.execute(
      prefixes + "SELECT ?n WHERE { ?s gp:name ?n . VALUES ?n { \"alice\" \"carol\" \"zeno\" } } ORDER BY ?n",
      triples).as[String].collect()
    assert(r.toSeq == Seq("alice", "carol")) // zeno matches nothing
    // tuple form: ?tag is bound FROM the data; the UNDEF row wildcards ?n
    val t2 = Sparql.execute(
      prefixes + "SELECT ?n ?tag WHERE { ?s gp:name ?n . " +
        "VALUES (?n ?tag) { (\"alice\" \"A\") (UNDEF \"X\") } } ORDER BY ?n ?tag",
      triples).as[(String, String)].collect()
    assert(t2.count(_._2 == "X") == 4) // all four names match the UNDEF row
    assert(t2.contains(("alice", "A")))
    assert(t2.length == 5)
  }

  test("DESCRIBE: variable targets over a WHERE body and bodyless IRI targets") {
    // ?s bound to nodes 1 and 2 (KNOWS sources) -> their full subject triples
    val byVar = Sparql.describe(
      prefixes + "DESCRIBE ?s WHERE { ?s gr:KNOWS ?o }", triples)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val n1 = s"<${base}node/1>"; val n2 = s"<${base}node/2>"
    assert(byVar.map(_._1).toSet == Set(n1, n2))
    // node 1: type P, name, balance, KNOWS->2, LIKES->4 = 5 triples
    assert(byVar.count(_._1 == n1) == 5)
    assert(byVar.contains((n1, s"<${base}rel/LIKES>", s"<${base}node/4>")))
    assert(byVar.contains((n1, s"<${base}prop/name>",
      "\"alice\"^^<http://www.w3.org/2001/XMLSchema#string>")))
    // bodyless constant form describes exactly that resource
    val byIri = Sparql.describe(s"DESCRIBE <${base}node/4>", triples)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(byIri.map(_._1) == Set(s"<${base}node/4>"))
    assert(byIri.size == 3) // type Q, name, balance (no out-edges)
    // a variable target without a body is rejected
    intercept[IllegalArgumentException] {
      Sparql.describe("DESCRIBE ?x", triples)
    }
  }

  test("MINUS removes compatible solutions, keeps disjoint ones") {
    // people minus those who KNOW someone: alice and bob know -> only carol
    // (and dave is label Q, not matched by the base pattern)
    val r = Sparql.execute(
      prefixes +
        """SELECT ?n WHERE { ?p a gl:P . ?p gp:name ?n .
          |  MINUS { ?p gr:KNOWS ?x } } ORDER BY ?n""".stripMargin, triples)
      .as[String].collect()
    assert(r.toSeq == Seq("carol"))
    // MINUS group sharing no variables removes nothing (disjoint domains)
    val r2 = Sparql.execute(
      prefixes +
        """SELECT ?n WHERE { ?p a gl:P . ?p gp:name ?n .
          |  MINUS { ?z gr:LIKES ?w } } ORDER BY ?n""".stripMargin, triples)
      .as[String].collect()
    assert(r2.toSeq == Seq("alice", "bob", "carol"))
    // MINUS with its own FILTER: only remove people with balance >= 20
    val r3 = Sparql.execute(
      prefixes +
        """SELECT ?n WHERE { ?p a gl:P . ?p gp:name ?n .
          |  MINUS { ?p gp:balance ?b .
          |    FILTER(?b >= "20"^^<http://www.w3.org/2001/XMLSchema#double>) } }
          |ORDER BY ?n""".stripMargin, triples)
      .as[String].collect()
    assert(r3.toSeq == Seq("alice"))
  }

  test("BIND after OPTIONAL sees the optional (possibly null) binding") {
    // dave has no balance... all P nodes have balances; use an optional
    // KNOWS edge instead: carol knows nobody -> her ?fn is null -> ?o null
    val r = Sparql.execute(
      prefixes +
        """SELECT ?n ?o WHERE { ?p a gl:P . ?p gp:name ?n .
          |  OPTIONAL { ?p gr:KNOWS ?f . ?f gp:name ?fn }
          |  BIND(CONCAT("knows:", STR(?fn)) AS ?o) } ORDER BY ?n""".stripMargin,
      triples).as[(String, String)].collect()
    assert(r.toSeq == Seq(("alice", "knows:bob"), ("bob", "knows:carol"),
      ("carol", null)))
  }

  test("MINUS matches a BIND-produced plain literal against a typed one") {
    // ?v is the plain literal "alice" from BIND; the MINUS group binds the
    // export's typed form "alice"^^xsd:string — RDF term equality must
    // still remove alice
    val r = Sparql.execute(
      prefixes +
        """SELECT ?n WHERE { ?p a gl:P . ?p gp:name ?n .
          |  BIND(CONCAT(STR(?n)) AS ?v) .
          |  MINUS { ?q gp:name ?v . ?q gr:KNOWS ?x } } ORDER BY ?n""".stripMargin,
      triples).as[String].collect()
    // alice and bob KNOW someone (their typed names match the plain ?v);
    // carol knows nobody
    assert(r.toSeq == Seq("carol"))
  }

  test("BIND: constant, variable copy, STR and CONCAT assignment") {
    val r = Sparql.execute(
      prefixes +
        """SELECT ?tag ?same ?label WHERE { ?p a gl:P . ?p gp:name ?n .
          |  BIND("x" AS ?tag) . BIND(?n AS ?same) .
          |  BIND(CONCAT("p:", STR(?n)) AS ?label) } ORDER BY ?label""".stripMargin,
      triples).as[(String, String, String)].collect()
    assert(r.toSeq == Seq(
      ("x", "alice", "p:alice"), ("x", "bob", "p:bob"), ("x", "carol", "p:carol")))
  }
}
