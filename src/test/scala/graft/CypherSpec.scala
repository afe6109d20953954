package graft

import graft.cypher.{CypherParser, QueryEngine}
import graft.model.PropertyGraph
import org.apache.spark.sql.functions.array_contains

/** Cypher parser + translator golden tests on the micro Person/KNOWS fixture
  * (FIXTURES.md §1, mirroring the reference's executor end-to-end tests in
  * src/query/executor/mod.rs). */
class CypherSpec extends SparkSpec {
  import spark.implicits._

  private lazy val g = {
    val nodes = Seq(
      (1L, Seq("Person"), "Alice", 30L, "Paris"),
      (2L, Seq("Person"), "Bob", 25L, "London"),
      (3L, Seq("Person", "Engineer"), "Carol", 35L, "Paris"),
      (4L, Seq("Company"), "Acme", 1990L, "London"))
      .toDF("id", "labels", "name", "age", "city")
    val edges = Seq(
      (10L, 1L, 2L, "KNOWS", 2010L),
      (11L, 2L, 3L, "KNOWS", 2015L),
      (12L, 1L, 3L, "KNOWS", 2020L),
      (13L, 1L, 4L, "WORKS_AT", 2018L),
      (14L, 3L, 4L, "WORKS_AT", 2019L))
      .toDF("id", "src", "dst", "relationship", "since")
    PropertyGraph(nodes, edges)
  }

  private def run(cy: String) = QueryEngine.execute(cy, g)

  test("parser handles full clause structure") {
    import graft.cypher.Ast.MatchClause
    val q = CypherParser.parse(
      "MATCH (a:Person {city: 'Paris'})-[r:KNOWS|WORKS_AT *1..3]->(b) " +
        "WHERE a.age > 20 AND NOT b.name = 'X' " +
        "RETURN DISTINCT a.name AS n, count(b) ORDER BY n DESC SKIP 1 LIMIT 5")
    val m = q.first.clauses.collect { case c: MatchClause => c }.head
    assert(m.paths.head.rels.head.types == Seq("KNOWS", "WORKS_AT"))
    assert(m.paths.head.rels.head.maxHops == 3)
    assert(q.first.ret.distinct && q.first.ret.skip.contains(1L) && q.first.ret.limit.contains(5L))
  }

  test("WITH barrier: aggregate then filter then continue") {
    val r = run("MATCH (a:Person)-[:KNOWS]->(b) WITH a, count(b) AS n WHERE n >= 2 " +
      "RETURN a.name AS name, n")
      .as[(String, Long)].collect().toSeq
    assert(r == Seq(("Alice", 2L)))
  }

  test("WITH chains two barriers") {
    val r = run("MATCH (a:Person)-[:KNOWS]->(b) WITH a, count(b) AS n " +
      "WITH sum(n) AS total RETURN total")
      .as[Long].collect().toSeq
    assert(r == Seq(3L))
  }

  test("WITH renames a node variable") {
    val r = run("MATCH (a:Person {name: 'Alice'}) WITH a AS p MATCH (p)-[:KNOWS]->(b) " +
      "RETURN b.name AS name ORDER BY name")
      .as[String].collect().toSeq
    assert(r == Seq("Bob", "Carol"))
  }

  test("UNWIND in clause order before MATCH") {
    val r = run("UNWIND [1, 2] AS x MATCH (p:Person {name: 'Bob'}) RETURN x, p.name AS n ORDER BY x")
      .as[(Long, String)].collect().toSeq
    assert(r == Seq((1L, "Bob"), (2L, "Bob")))
  }

  test("two UNWINDs compose") {
    val r = run("UNWIND [1, 2] AS x UNWIND [10, 20] AS y RETURN x, y ORDER BY x, y")
      .as[(Long, Long)].collect().toSeq
    assert(r == Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L)))
  }

  test("UNION and UNION ALL") {
    val r = run("MATCH (p:Person {name: 'Alice'}) RETURN p.name AS n " +
      "UNION MATCH (p:Person {name: 'Bob'}) RETURN p.name AS n")
      .as[String].collect().toSeq.sorted
    assert(r == Seq("Alice", "Bob"))
    val r2 = run("MATCH (p:Person {name: 'Alice'}) RETURN p.name AS n " +
      "UNION ALL MATCH (p:Person {name: 'Alice'}) RETURN p.name AS n")
      .as[String].collect().toSeq
    assert(r2 == Seq("Alice", "Alice"))
    // a write clause in a UNION part is rejected by name
    val w = intercept[IllegalArgumentException] {
      run("MATCH (p:Person {name: 'Alice'}) RETURN p.name AS n " +
        "UNION CREATE (q:Person {name: 'Zed'}) RETURN q.name AS n")
    }
    assert(w.getMessage.contains("CREATE is not supported"))
  }

  test("EXISTS subquery as semi-join") {
    val r = run("MATCH (p:Person) WHERE EXISTS { (p)-[:WORKS_AT]->(:Company) } " +
      "RETURN p.name AS name ORDER BY name")
      .as[String].collect().toSeq
    assert(r == Seq("Alice", "Carol"))
    // inside list literals, list comprehensions and quantifiers too
    val l = run("MATCH (p:Person) RETURN p.name AS name, " +
      "[x IN [1] WHERE EXISTS { (p)-[:WORKS_AT]->(:Company) }] AS l, " +
      "any(x IN [1, 2] WHERE x > 1 AND EXISTS { (p)-[:WORKS_AT]->(:Company) }) AS a, " +
      "[EXISTS { (p)-[:WORKS_AT]->(:Company) }] AS e, " +
      "[x IN [1] | size([(p)-[:KNOWS]->(b) | b.name])] AS k ORDER BY name")
      .as[(String, Seq[Long], Boolean, Seq[Boolean], Seq[Int])].collect().toSeq
    assert(l == Seq(
      ("Alice", Seq(1L), true, Seq(true), Seq(2)),
      ("Bob", Seq.empty, false, Seq(false), Seq(1)),
      ("Carol", Seq(1L), true, Seq(true), Seq(0))))
    // a subquery reading the lambda's own variable is still rejected
    val e = intercept[IllegalArgumentException] {
      run("MATCH (p:Person) RETURN [x IN [1] WHERE EXISTS { (p)-[:KNOWS]->(b) WHERE b.age > x }] AS l")
    }
    assert(e.getMessage.contains("cannot read a list-comprehension, quantifier or reduce variable"))
    // and so is one in a pattern comprehension's projection
    val e2 = intercept[IllegalArgumentException] {
      run("MATCH (p:Person) RETURN [(p)-[:KNOWS]->(b) | EXISTS { (b)-[:WORKS_AT]->(:Company) }] AS l")
    }
    assert(e2.getMessage.contains("nor sit in a pattern comprehension's projection"))
  }

  test("NOT EXISTS subquery as anti-join") {
    val r = run("MATCH (p:Person) WHERE NOT EXISTS { (p)-[:WORKS_AT]->(:Company) } " +
      "RETURN p.name AS name")
      .as[String].collect().toSeq
    assert(r == Seq("Bob"))
  }

  test("query parameters") {
    val r = QueryEngine.execute(
      "MATCH (p:Person) WHERE p.age > $minAge RETURN p.name AS name ORDER BY name",
      g, Map("minAge" -> 28))
      .as[String].collect().toSeq
    assert(r == Seq("Alice", "Carol"))
  }

  test("parameter in property map") {
    val r = QueryEngine.execute(
      "MATCH (p:Person {name: $who}) RETURN p.age AS age", g, Map("who" -> "Bob"))
      .as[Long].collect().toSeq
    assert(r == Seq(25L))
  }

  test("list index and slice are 0-based") {
    val r = run("RETURN [10, 20, 30][1] AS x, [10, 20, 30][-1] AS y, " +
      "[10, 20, 30, 40][1..3] AS s")
      .as[(Long, Long, Seq[Long])].collect().head
    assert(r._1 == 20L && r._2 == 30L && r._3 == Seq(20L, 30L))
  }

  test("quantified predicates and reduce") {
    val r = run("RETURN all(x IN [1, 2, 3] WHERE x > 0) AS a, " +
      "any(x IN [1, 2, 3] WHERE x > 2) AS b, " +
      "none(x IN [1, 2] WHERE x > 5) AS c, " +
      "single(x IN [1, 2, 3] WHERE x = 2) AS d, " +
      "reduce(acc = 0, x IN [1, 2, 3] | acc + x) AS e")
      .as[(Boolean, Boolean, Boolean, Boolean, Long)].collect().head
    assert(r == ((true, true, true, true, 6L)))
  }

  test("list comprehension") {
    val r = run("RETURN [x IN [1, 2, 3, 4] WHERE x % 2 = 0 | x * 10] AS l")
      .as[Seq[Long]].collect().head
    assert(r == Seq(20L, 40L))
  }

  test("simple CASE") {
    val r = run("MATCH (p:Person) RETURN p.name AS n, " +
      "CASE p.city WHEN 'Paris' THEN 'fr' ELSE 'other' END AS c ORDER BY n")
      .as[(String, String)].collect().toSeq
    assert(r == Seq(("Alice", "fr"), ("Bob", "other"), ("Carol", "fr")))
  }

  test("shortestPath length and nodes") {
    val r = run("MATCH p = shortestPath((a:Person {name: 'Alice'})-[:KNOWS*1..3]->(b:Person {name: 'Carol'})) " +
      "RETURN length(p) AS len, nodes(p) AS ns")
      .as[(Long, Seq[Long])].collect().head
    assert(r._1 == 1L && r._2 == Seq(1L, 3L))
  }

  test("named fixed-length path") {
    val r = run("MATCH p = (a:Person {name: 'Alice'})-[:KNOWS]->(b:Person {name: 'Bob'}) " +
      "RETURN length(p) AS len, nodes(p) AS ns")
      .as[(Long, Seq[Long])].collect().head
    assert(r._1 == 1L && r._2 == Seq(1L, 2L))
  }

  test("keys and properties") {
    val r = run("MATCH (p:Person {name: 'Alice'}) RETURN keys(p) AS k")
      .as[Seq[String]].collect().head
    assert(r.contains("name") && r.contains("age") && r.contains("city"))
  }

  test("unbounded var-length reaches fixpoint") {
    val r = run("MATCH (a:Person {name: 'Alice'})-[:KNOWS*]->(b) RETURN b.name AS n ORDER BY n")
      .as[String].collect().toSeq
    assert(r == Seq("Bob", "Carol"))
  }

  test("zero-min var-length includes the start") {
    val r = run("MATCH (a:Person {name: 'Alice'})-[:KNOWS*0..1]->(b) RETURN b.name AS n ORDER BY n")
      .as[String].collect().toSeq
    assert(r == Seq("Alice", "Bob", "Carol")) // hop 0 = Alice herself; Bob+Carol at hop 1
  }

  test("match + where + return") {
    val r = run("MATCH (p:Person) WHERE p.age >= 30 RETURN p.name AS name ORDER BY name")
      .as[String].collect().toSeq
    assert(r == Seq("Alice", "Carol"))
  }

  test("expand with relationship type and direction") {
    val r = run("MATCH (a:Person)-[:KNOWS]->(b:Person) RETURN a.name AS a, b.name AS b ORDER BY a, b")
      .as[(String, String)].collect().toSeq
    assert(r == Seq(("Alice", "Bob"), ("Alice", "Carol"), ("Bob", "Carol")))
  }

  test("incoming direction") {
    val r = run("MATCH (a:Person)<-[:KNOWS]-(b:Person) WHERE a.name = 'Carol' RETURN b.name AS b ORDER BY b")
      .as[String].collect().toSeq
    assert(r == Seq("Alice", "Bob"))
  }

  test("implicit aggregation with grouping") {
    val r = run("MATCH (a:Person)-[:KNOWS]->(b) RETURN a.name AS name, count(b) AS n ORDER BY n DESC, name")
      .as[(String, Long)].collect().toSeq
    assert(r == Seq(("Alice", 2L), ("Bob", 1L)))
    // an aggregate may nest inside any expression of its item
    val bob = run("MATCH (a:Person {name: 'Bob'})-[:KNOWS]->(b) " +
      "RETURN collect(b.name)[0] AS first, collect(b.name)[0..1] AS firsts")
      .as[(String, Seq[String])].collect().toSeq
    assert(bob == Seq(("Carol", Seq("Carol"))))
    val w = run("MATCH (a:Person)-[:KNOWS]->(b) " +
      "WITH a, collect(b.name)[0] AS first, collect(b.name)[0..1] AS firsts " +
      "RETURN a.name AS name, first, size(firsts) AS n ORDER BY name")
      .as[(String, String, Int)].collect().toSeq
    assert(w.map(t => (t._1, t._3)) == Seq(("Alice", 1), ("Bob", 1)))
    assert(Set("Bob", "Carol").contains(w.head._2) && w(1)._2 == "Carol")
    val nested = run("MATCH (a:Person) RETURN [count(a), 1] AS l, " +
      "count(a) IS NULL AS n, count(a) IN [3] AS i")
      .as[(Seq[Long], Boolean, Boolean)].collect().toSeq
    assert(nested == Seq((Seq(3L, 1L), false, true)))
    val row = run("MATCH (a:Person) RETURN round(avg(a.age), 1) AS r, " +
      "sum(a.age) / count(a) AS q, CASE WHEN count(a) > 1 THEN 'many' ELSE 'one' END AS c, " +
      "NOT count(a) > 1 AS nc, head(collect(DISTINCT a.name)) AS hd, size(collect(a.name)) AS sz")
      .collect().head
    assert(row.getDouble(0) == 30.0 && row.getDouble(1) == 30.0 && row.getString(2) == "many")
    assert(!row.getBoolean(3) && row.getString(4) == "Alice" && row.getInt(5) == 3)
  }

  test("multi-label scan") {
    val r = run("MATCH (e:Person:Engineer) RETURN e.name AS name").as[String].collect().toSeq
    assert(r == Seq("Carol"))
  }

  test("var-length path dedups to min reach") {
    val r = run("MATCH (a:Person {name: 'Alice'})-[:KNOWS*1..2]->(b) RETURN b.name AS name ORDER BY name")
      .as[String].collect().toSeq
    assert(r == Seq("Bob", "Carol")) // Carol reachable at 1 and 2, once
  }

  test("optional match keeps unmatched rows") {
    val r = run("MATCH (p:Person) OPTIONAL MATCH (p)-[:WORKS_AT]->(c:Company) " +
      "RETURN p.name AS name, count(c) AS n ORDER BY name")
      .as[(String, Long)].collect().toSeq
    assert(r == Seq(("Alice", 1L), ("Bob", 0L), ("Carol", 1L)))
  }

  test("edge property access and functions") {
    val r = run("MATCH (a)-[r:KNOWS]->(b) WHERE r.since > 2012 " +
      "RETURN toUpper(b.name) AS n, r.since AS y ORDER BY y")
      .as[(String, Long)].collect().toSeq
    assert(r == Seq(("CAROL", 2015L), ("CAROL", 2020L)))
  }

  test("undirected relationship") {
    val r = run("MATCH (a:Person {name: 'Bob'})-[:KNOWS]-(x) RETURN x.name AS n ORDER BY n")
      .as[String].collect().toSeq
    assert(r == Seq("Alice", "Carol"))
  }

  test("explain produces both planner views") {
    val s = QueryEngine.explain("MATCH (p:Person) RETURN count(p) AS n", g)
    assert(s.contains("AST:") && s.contains("Physical Plan") || s.contains("=="))
  }

  test("CALL algo.wcc with YIELD + WHERE + RETURN") {
    val r = run(
      """CALL algo.wcc('KNOWS') YIELD id, component
        |WHERE id < 4 RETURN id, component ORDER BY id""".stripMargin)
      .as[(Long, Long)].collect().toSeq
    assert(r == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("bare CALL without RETURN yields the full frame") {
    val r = run("CALL algo.bfs(1, 5, 'KNOWS') YIELD id, dist")
      .as[(Long, Int)].collect().toMap
    assert(r == Map(1L -> 0, 2L -> 1, 3L -> 1))
  }

  test("CALL db.index.vector.queryNodes over a registered index") {
    val emb = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("nid", "vec")
    val r = QueryEngine.executeWithIndexes(
      "CALL db.index.vector.queryNodes('people', 2, $q) YIELD id, score RETURN id",
      g, Map("q" -> Seq(1.0f, 0.0f)), Map("people" -> ((emb, "nid", "vec"))))
      .as[Long].collect().toSeq
    assert(r == Seq(1L, 2L))
  }

  test("valueType and dotted duration.between parse and evaluate") {
    val r = run(
      """UNWIND [1] AS x
        |RETURN valueType('s') AS t,
        |       toString(duration.between(datetime('2024-01-01 00:00:00'),
        |                                 datetime('2024-01-01 02:00:00'))) AS d""".stripMargin)
      .as[(String, String)].head()
    assert(r._1 == "STRING" && r._2.contains("02:00:00"))
  }

  test("temporal component property access: dt.year, dur.days, ym.months") {
    val r = run(
      """UNWIND [1] AS x
        |WITH datetime('2024-03-05 10:20:30') AS dt,
        |     duration({days: 2, hours: 3, minutes: 5}) AS d,
        |     duration({years: 1, months: 2}) AS ym
        |RETURN dt.year AS yr, dt.month AS mo, dt.day AS dy, dt.hour AS hh,
        |       dt.minute AS mi, dt.second AS ss,
        |       d.days AS dd, d.hours AS dh, d.minutes AS dm, d.seconds AS dsec,
        |       ym.months AS ymm, d.nosuch AS nn""".stripMargin).collect().head
    assert(r.getLong(0) == 2024L && r.getLong(1) == 3L && r.getLong(2) == 5L)
    assert(r.getLong(3) == 10L && r.getLong(4) == 20L && r.getLong(5) == 30L)
    assert(r.getLong(6) == 2L && r.getLong(7) == 3L && r.getLong(8) == 5L)
    assert(r.getLong(9) == 3L * 3600 + 5 * 60)
    assert(r.getLong(10) == 14L)
    assert(r.isNullAt(11)) // schema-free: unknown component is NULL
  }

  test("named path with anonymous interior node carries the real interior id") {
    val r = run("MATCH p = (a:Person {name: 'Alice'})-[:KNOWS]->()-[:KNOWS]->(c) " +
      "RETURN nodes(p)[1] AS mid, id(c) AS cid")
      .as[(Long, Long)].collect().toSeq
    // only Alice(1) -KNOWS-> Bob(2) -KNOWS-> Carol(3); the anonymous
    // interior must resolve to Bob's id, not repeat the head's
    assert(r == Seq((2L, 3L)))
  }

  test("var-length expansion applies relationship property predicates") {
    // only edge 11 (Bob->Carol) has since = 2015; from Alice no first hop
    // qualifies, so the pattern must match nothing (the round-2 bug
    // silently traversed ALL edges)
    val r = run("MATCH (a:Person {name: 'Alice'})-[*1..2 {since: 2015}]->(x) " +
      "RETURN id(x) AS xid").as[Long].collect().toSeq
    assert(r.isEmpty)
    val r2 = run("MATCH (b:Person {name: 'Bob'})-[*1..2 {since: 2015}]->(x) " +
      "RETURN id(x) AS xid").as[Long].collect().toSeq
    assert(r2 == Seq(3L))
  }

  test("allShortestPaths keeps every min-depth node sequence") {
    // Alice->Carol directly (depth 1): ONE shortest path even though
    // Alice->Bob->Carol also exists at depth 2
    val direct = run("MATCH p = allShortestPaths((a:Person {name: 'Alice'})-[:KNOWS*1..3]->(c {name: 'Carol'})) " +
      "RETURN length(p) AS len").as[Int].collect().toSeq
    assert(direct == Seq(1))
    // diamond 1->2->4, 1->3->4 (+ distractor 2->3): BOTH depth-2 arms are
    // shortest paths; 1->2->3->4 at depth 3 must be excluded
    val n2 = Seq((1L, Seq("P"), "A"), (2L, Seq("P"), "B"), (3L, Seq("P"), "C"),
      (4L, Seq("P"), "D")).toDF("id", "labels", "name")
    val e2 = Seq((1L, 1L, 2L, "E"), (2L, 1L, 3L, "E"), (3L, 2L, 4L, "E"),
      (4L, 3L, 4L, "E"), (5L, 2L, 3L, "E")).toDF("id", "src", "dst", "relationship")
    val r = QueryEngine.execute(
      "MATCH p = allShortestPaths((a {name: 'A'})-[*1..3]->(d {name: 'D'})) " +
        "RETURN nodes(p) AS ns ORDER BY ns", PropertyGraph(n2, e2))
      .as[Seq[Long]].collect().toSeq
    assert(r == Seq(Seq(1L, 2L, 4L), Seq(1L, 3L, 4L)))
  }

  test("correlated CALL subquery imports outer variables") {
    val r = run("MATCH (a:Person) CALL { WITH a MATCH (a)-[:KNOWS]->(b) RETURN count(b) AS n } " +
      "RETURN a.name AS name, n ORDER BY name")
      .as[(String, Long)].collect().toSeq
    // all-aggregate subquery: Carol has no KNOWS matches -> n = 0, row kept
    assert(r == Seq(("Alice", 2L), ("Bob", 1L), ("Carol", 0L)))
    // a write clause inside the subquery is rejected by name
    val w = intercept[IllegalArgumentException] {
      run("MATCH (a:Person) CALL { WITH a MATCH (a)-[:KNOWS]->(b) SET b.seen = 1 " +
        "RETURN count(b) AS n } RETURN a.name AS name, n")
    }
    assert(w.getMessage.contains("SET is not supported"))
  }

  test("correlated CALL subquery without aggregate drops non-matching rows") {
    val r = run("MATCH (a:Person) CALL { WITH a MATCH (a)-[:KNOWS]->(b) RETURN b.name AS bn } " +
      "RETURN a.name AS name, bn ORDER BY name, bn")
      .as[(String, String)].collect().toSeq
    assert(r == Seq(("Alice", "Bob"), ("Alice", "Carol"), ("Bob", "Carol")))
  }

  test("correlated CALL subquery with per-binding ORDER BY + LIMIT") {
    val r = run("MATCH (a:Person) CALL { WITH a MATCH (a)-[r:KNOWS]->(b) " +
      "RETURN b.name AS bn ORDER BY bn LIMIT 1 } RETURN a.name AS name, bn ORDER BY name")
      .as[(String, String)].collect().toSeq
    // Alice knows Bob+Carol -> keeps only 'Bob'; Bob knows Carol
    assert(r == Seq(("Alice", "Bob"), ("Bob", "Carol")))
  }

  test("CALL procedure after MATCH joins the yielded frame") {
    val r = run("MATCH (c:Company) CALL algo.bfs(1, 5, 'KNOWS') YIELD id, dist " +
      "RETURN c.name AS cn, id, dist ORDER BY id")
      .as[(String, Long, Int)].collect().toSeq
    assert(r == Seq(("Acme", 1L, 0), ("Acme", 2L, 1), ("Acme", 3L, 1)))
  }

  test("pattern comprehension collects per-row neighbor values") {
    val r = run("MATCH (a:Person) RETURN a.name AS name, " +
      "[(a)-[:KNOWS]->(b) | b.name] AS knows ORDER BY name")
      .as[(String, Seq[String])].collect().toSeq
    assert(r == Seq(
      ("Alice", Seq("Bob", "Carol")),
      ("Bob", Seq("Carol")),
      ("Carol", Seq.empty))) // no matches -> empty list, row kept
  }

  test("pattern comprehension with WHERE and in WITH") {
    val r = run("MATCH (a:Person) WITH a, size([(a)-[:KNOWS]->(b) WHERE b.age > 26 | b.name]) AS n " +
      "RETURN a.name AS name, n ORDER BY name")
      .as[(String, Int)].collect().toSeq
    assert(r == Seq(("Alice", 1), ("Bob", 1), ("Carol", 0)))
    // one nested in another's projection is rejected with the rule it breaks
    val e = intercept[IllegalArgumentException] {
      run("MATCH (a:Person) RETURN [(a)-[:KNOWS]->(b) | size([(b)-[:KNOWS]->(c) | c.name])] AS l")
    }
    assert(e.getMessage.contains("nor sit in another pattern comprehension's projection"))
  }

  test("pattern comprehension inside WHERE") {
    val r = run("MATCH (a:Person) WHERE size([(a)-[:KNOWS]->(b) | b.name]) >= 2 " +
      "RETURN a.name AS name").as[String].collect().toSeq
    assert(r == Seq("Alice"))
  }

  test("bracketed expression list still parses as a literal") {
    val r = run("RETURN [(1+2), 3] AS xs").as[Seq[Long]].head()
    assert(r == Seq(3L, 3L))
  }

  test("relationships(p) returns the traversed edge ids") {
    val r = run("MATCH p = (a:Person {name: 'Alice'})-[:KNOWS]->()-[:WORKS_AT]->(c:Company) " +
      "RETURN relationships(p) AS eids").as[Seq[Long]].collect().toSeq
    assert(r == Seq(Seq(12L, 14L))) // Alice-KNOWS->Carol, Carol-WORKS_AT->Acme
    val vr = run("MATCH p = (b:Person {name: 'Bob'})-[:KNOWS*1..2]->(x) " +
      "RETURN relationships(p) AS eids").as[Seq[Long]].collect().toSeq
    assert(vr == Seq(Seq(11L))) // Bob-KNOWS->Carol; Carol has no out-KNOWS
  }

  test("CREATE with two relationship paths allocates distinct edge ids") {
    val (g2, _) = QueryEngine.executeWrite(
      "MATCH (a:Person {name: 'Alice'}), (b:Person {name: 'Bob'}) " +
        "CREATE (a)-[:LIKES]->(b), (b)-[:LIKES]->(a)", g)
    val ids = g2.edges.select("id").as[Long].collect().toSeq
    assert(ids.distinct.size == ids.size, s"duplicate edge ids in $ids")
    assert(g2.edges.filter($"relationship" === "LIKES").count() == 2L)
  }

  test("CREATE of a literal path with inline nodes (single and chained rels)") {
    val (g2, _) = QueryEngine.executeWrite(
      "CREATE (a:Person {name: 'X'})-[:KNOWS {since: 2020}]->(b:Person {name: 'Y'})", g)
    val Seq(xid, yid) = g2.nodes.filter($"name".isin("X", "Y"))
      .orderBy($"name").select("id").as[Long].collect().toSeq
    val e = g2.edges.filter($"src" === xid && $"dst" === yid &&
      $"relationship" === "KNOWS" && $"since" === 2020L)
    assert(e.count() == 1L)
    val (g3, _) = QueryEngine.executeWrite(
      "CREATE (a:P {name: 'A'})-[:R]->(b:P {name: 'B'})-[:R]->(c:P {name: 'C'})", g)
    assert(g3.nodes.filter($"name".isin("A", "B", "C")).count() == 3L)
    assert(g3.edges.filter($"relationship" === "R").count() == 2L)
  }

  test("MATCH ... CREATE with an inline-new endpoint creates per match row") {
    val (g2, _) = QueryEngine.executeWrite(
      "MATCH (a:Person) CREATE (a)-[:FOLLOWS]->(:Bot {name: 'bot'})", g)
    // 3 Person rows in the fixture -> 3 new Bot nodes, 3 edges
    val bots = g2.nodes.filter(array_contains($"labels", "Bot"))
    assert(bots.count() == 3L)
    assert(g2.edges.filter($"relationship" === "FOLLOWS").count() == 3L)
    val ids = bots.select("id").as[Long].collect().toSeq
    assert(ids.distinct.size == ids.size, s"duplicate node ids in $ids")
  }

  test("SET ... RETURN projects post-write values per match row") {
    val (_, rows) = {
      val r = graft.cypher.WriteTranslator.execute(CypherParser.parse(
        "MATCH (p:Person {name: 'Alice'}) SET p.age = 31 RETURN p.name AS name, p.age AS age"),
        g, Map.empty)
      (r.graph, r.rows.get)
    }
    assert(rows.as[(String, Long)].collect().toSeq == Seq(("Alice", 31L)))
  }

  test("REMOVE ... RETURN reads the removed property as NULL") {
    val r = graft.cypher.WriteTranslator.execute(CypherParser.parse(
      "MATCH (p:Person {name: 'Bob'}) REMOVE p.age RETURN p.name AS name, p.age AS age"),
      g, Map.empty)
    val row = r.rows.get.collect().head
    assert(row.getString(0) == "Bob" && row.isNullAt(1))
  }

  test("string + string concatenates") {
    val r = run("MATCH (p:Person {name: 'Alice'}) RETURN p.name + '!' AS s, 'x' + 'y' AS t")
      .as[(String, String)].head()
    assert(r == (("Alice!", "xy")))
  }

  test("integer division matches the reference (Integer/Integer -> Integer)") {
    val r = run("RETURN 3/2 AS a, 7/2.0 AS b, -3/2 AS c")
      .as[(Long, Double, Long)].head()
    assert(r == ((1L, 3.5, -1L)))
    val p = run("MATCH (n:Person {name: 'Carol'}) RETURN n.age/2 AS h")
      .as[Long].head()
    assert(p == 17L) // age 35, integer division
    val c = run("MATCH (a:Person) RETURN count(a) / 2 AS h").as[Long].head()
    assert(c == 1L) // 3 persons: an integral aggregate divides as an integer too
  }

  test("numeric literal forms: scientific, leading-dot, != and ==") {
    val r = run("RETURN 1e-2 AS a, 1.5E2 AS b, 6e+1 AS c, 2 != 3 AS d, 2 == 2 AS e")
      .as[(Double, Double, Double, Boolean, Boolean)].head()
    assert(r == ((0.01, 150.0, 60.0, true, true)))
    val z = run("CREATE (n:Num {id: 50, z: .5}) RETURN n.z AS z").as[Double].head()
    assert(z == 0.5)
  }

  test("list-valued properties in CREATE maps") {
    val r = run("CREATE (n:Doc {id: 51, vec: [0.1, 0.2, 0.3]}) RETURN n.vec AS v")
      .as[Seq[Double]].head()
    assert(r == Seq(0.1, 0.2, 0.3))
  }

  test("CALL with a config map and label restriction (reference convention)") {
    val pr = run("CALL algo.pageRank({maxIterations: 2, dampingFactor: 0.85}, 'KNOWS') " +
      "YIELD id, rank RETURN count(id) AS n").as[Long].head()
    assert(pr == 3L) // KNOWS subgraph vertices
    val wcc = run("CALL algo.wcc('Person', 'KNOWS') YIELD id, component " +
      "RETURN count(DISTINCT component) AS n").as[Long].head()
    assert(wcc == 1L) // Alice/Bob/Carol one component; Acme excluded by label
    val os = run("CALL algo.or.solve({label: 'Person', cost_property: 'age', " +
      "algorithm: 'PSO', min_total: 1.0, max_iterations: 50}) " +
      "YIELD algorithm, feasible RETURN algorithm, feasible")
      .as[(String, Boolean)].head()
    assert(os == (("PSO", true)))
  }

  test("CALL algo.pageRankWeighted degenerates to pageRank without a weight property") {
    // the fixture edges carry no weight column → uniform 1.0 weights, so
    // the weighted variant must reproduce the unweighted ranks exactly
    val w = run("CALL algo.pageRankWeighted({maxIterations: 4}, 'KNOWS') " +
      "YIELD id, rank RETURN id, rank ORDER BY id")
      .as[(Long, Double)].collect().toMap
    val u = run("CALL algo.pageRank({maxIterations: 4}, 'KNOWS') " +
      "YIELD id, rank RETURN id, rank ORDER BY id")
      .as[(Long, Double)].collect().toMap
    assert(w.keySet == u.keySet && w.keySet.nonEmpty)
    w.foreach { case (id, r) =>
      assert(math.abs(r - u(id)) < 1e-12, s"node $id: $r != ${u(id)}")
    }
  }

  test("CALL algo.jaccardSimilarity / algo.ktruss agree with the Scala API") {
    import graft.algo.Algorithms
    import org.apache.spark.sql.functions.col
    val knows = g.edges.filter(col("relationship") === "KNOWS")
      .select(col("src"), col("dst"))
    val js = run("CALL algo.jaccardSimilarity([1], 5, 'KNOWS') " +
      "YIELD x, y, score RETURN x, y, score ORDER BY score DESC, x, y")
      .as[(Long, Long, Double)].collect().toSeq
    val jsApi = Algorithms.jaccardSimilarity(knows, Seq(1L), 5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(js == jsApi && js.nonEmpty, s"CALL $js vs API $jsApi")
    // topK must BIND in list form (list is not a Number, so the next
    // positional numeric is index 0 — a wrong index silently returns the
    // default-20 rows; the fixture has 2 candidates, so ask for 1)
    val js1 = run("CALL algo.jaccardSimilarity([1], 1, 'KNOWS') " +
      "YIELD x, y, score RETURN count(*) AS n").as[Long].head()
    assert(js1 == 1L, s"topK=1 must cap the result, got $js1 rows")
    val kt = run("CALL algo.ktruss(3, 2, 'KNOWS') YIELD a, b, support " +
      "RETURN a, b, support ORDER BY a, b")
      .as[(Long, Long, Long)].collect().toSeq
    val ktApi = Algorithms.kTruss(knows, 3, 2)
      .orderBy(col("a"), col("b"))
      .as[(Long, Long, Long)].collect().toSeq
    // KNOWS triangle 1-2-3: all three edges survive k=3 with support 1
    assert(kt == ktApi && kt == Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L)),
      s"CALL $kt vs API $ktApi")
  }

  test("datetime from a component map") {
    val dt = run("RETURN toString(datetime({year: 2026, month: 3, day: 4})) AS d")
      .as[String].head()
    assert(dt.startsWith("2026-03-04"))
  }

  test("EXPLAIN prefix returns the plan instead of executing") {
    val r = run("EXPLAIN MATCH (a:Person) RETURN a.name AS n")
      .as[String].head()
    assert(r.contains("AST:") && r.contains("Physical Plan"))
  }

  test("PROFILE executes the read and appends rows + wall time") {
    val r = run("PROFILE MATCH (a:Person) RETURN a.name AS n")
      .as[String].head()
    assert(r.contains("Physical Plan") && r.contains("--- Profile ---"))
    assert(r.contains("Rows: 3")) // three Person rows actually counted
    assert("Execution time: \\d+\\.\\d+ ms".r.findFirstIn(r).isDefined)
    // PROFILE on a write stays explain-only (execute() cannot return the
    // mutated graph, so running it would silently drop the write)
    val w = run("PROFILE CREATE (n:Person {id: 99, name: 'Zed'})").as[String].head()
    assert(w.contains("not executed"))
    assert(g.nodes.count() == 4L)
  }

  test("CALL db.schema.visualization() emits the distinct label-type-label triples") {
    val rows = run(
      """CALL db.schema.visualization()
        |YIELD source_label, relationship_type, target_label
        |RETURN source_label, relationship_type, target_label
        |ORDER BY source_label, relationship_type, target_label""".stripMargin)
      .as[(String, String, String)].collect().toSeq
    assert(rows.contains(("Person", "KNOWS", "Person")))
    assert(rows.contains(("Person", "WORKS_AT", "Company")))
    // Engineer is a second label on a Person node: triples fan out per label
    assert(rows.exists(r => r._1 == "Engineer" || r._3 == "Engineer"))
  }

  test("GraphStats computes label and triple counts") {
    import graft.model.GraphStats
    val st = GraphStats.compute(g)
    assert(st.labelCounts("Person") == 3 && st.labelCounts("Company") == 1)
    assert(st.tripleCounts(("Person", "KNOWS", "Person")) == 3)
    assert(st.tripleCounts(("Person", "WORKS_AT", "Company")) == 2)
    assert(st.totalNodes == 4 && st.totalEdges == 5)
    assert(st.tripleCard(None, Seq("KNOWS"), Some("Engineer")) == 2.0) // B->C, A->C
  }

  test("stats-based anchor selection keeps results correct both ways") {
    val gs = g.copy(statsKey = Some("cypher-spec-fixture"))
    // written big-end-first: the planner should anchor at Company (1 node)
    // — either way the results must be identical to the forward form
    val wide = QueryEngine.execute(
      "MATCH (x)-[:WORKS_AT]->(c:Company) RETURN x.name AS n ORDER BY n", gs)
      .as[String].collect().toSeq
    val narrow = QueryEngine.execute(
      "MATCH (c:Company)<-[:WORKS_AT]-(x) RETURN x.name AS n ORDER BY n", gs)
      .as[String].collect().toSeq
    assert(wide == Seq("Alice", "Carol") && narrow == wide)
  }

  test("CREATE ... RETURN projects the created nodes") {
    val r = run("CREATE (n:Person {id: 99, name: 'Dave', age: 40}) " +
      "RETURN n.name AS name, n.age AS age")
      .as[(String, Long)].collect().toSeq
    assert(r == Seq(("Dave", 40L)))
  }

  test("MERGE ... RETURN projects the merged node post-mutation") {
    val matched = run("MERGE (n:Person {name: 'Alice'}) ON MATCH SET n.age = 31 " +
      "RETURN n.name AS name, n.age AS age")
      .as[(String, Long)].collect().toSeq
    assert(matched == Seq(("Alice", 31L)))
    val created = run("MERGE (n:Person {name: 'Zed', id: 77}) ON CREATE SET n.age = 20 " +
      "RETURN id(n) AS nid, n.age AS age")
      .as[(Long, Long)].collect().toSeq
    assert(created == Seq((77L, 20L)))
  }

  test("SET and REMOVE node labels") {
    val (g2, s2) = QueryEngine.executeWrite(
      "MATCH (p:Person {name: 'Alice'}) SET p:Admin:Owner", g)
    assert(s2.select("labels_added").as[Long].head() == 2L)
    val labels = g2.nodes.filter($"name" === "Alice").select("labels")
      .as[Seq[String]].head()
    assert(labels.toSet == Set("Person", "Admin", "Owner"))
    val (g3, _) = QueryEngine.executeWrite("MATCH (p:Admin) REMOVE p:Owner", g2)
    val labels3 = g3.nodes.filter($"name" === "Alice").select("labels")
      .as[Seq[String]].head()
    assert(labels3.toSet == Set("Person", "Admin"))
    // other nodes untouched
    assert(g3.nodes.filter(array_contains($"labels", "Owner")).count() == 0L)
  }

  test("SET on a NEW property key appends the column (schema-free semantics)") {
    // swept from the reference corpus: SET/ON MATCH SET of a property no
    // node carries yet must ADD it, not silently drop or crash
    val (g2, s2) = QueryEngine.executeWrite(
      "MATCH (p:Person {name: 'Alice'}) SET p.visited = true", g)
    assert(s2.select("properties_set").as[Long].head() == 1L)
    assert(g2.nodes.columns.contains("visited"))
    assert(g2.nodes.filter($"name" === "Alice").select("visited").as[Boolean].head())
    // non-matched nodes read NULL for the new property
    assert(g2.nodes.filter($"visited".isNull).count() == g.nodes.count() - 1)
  }

  test("MERGE ON MATCH SET of a new property key adds it") {
    val (g2, _) = QueryEngine.executeWrite(
      "MERGE (n:Person {name: 'Alice'}) ON MATCH SET n.seen = 1", g)
    assert(g2.nodes.filter($"name" === "Alice").select("seen").as[Long].head() == 1L)
    assert(g2.nodes.filter($"seen".isNull).count() == g.nodes.count() - 1)
  }

  test("REMOVE of an absent property is a silent no-op") {
    val (g2, s2) = QueryEngine.executeWrite(
      "MATCH (n:Person {name: 'Alice'}) REMOVE n.temp", g)
    assert(g2.nodes.count() == g.nodes.count())
    assert(!g2.nodes.columns.contains("temp"))
    val _ = s2 // summary row exists; Neo4j also reports the attempt count
  }

  test("REMOVE on a relationship variable nulls the edge property") {
    val (g2, _) = QueryEngine.executeWrite(
      "MATCH (:Person {name: 'Alice'})-[r:KNOWS]->(:Person {name: 'Bob'}) " +
        "REMOVE r.since", g)
    val nulled = g2.edges.filter($"since".isNull).select("id").as[Long].collect().toSeq
    assert(nulled == Seq(10L)) // only Alice->Bob; other edges keep since
    assert(g2.nodes.count() == 4L && g2.nodes.filter($"name".isNull).count() == 0L)
  }

  test("constraints survive unrelated mutations (DELETE then duplicate CREATE)") {
    val (g2, _) = QueryEngine.executeWrite(
      "CREATE CONSTRAINT ON (n:Person) ASSERT n.name IS UNIQUE", g)
    val (g3, _) = QueryEngine.executeWrite(
      "MATCH (c:Company {name: 'Acme'}) DETACH DELETE c", g2)
    assert(g3.constraints == Set(("Person", "name")))
    intercept[IllegalStateException] {
      QueryEngine.executeWrite("CREATE (n:Person {id: 88, name: 'Bob'})", g3)
    }
  }

  test("unique constraint guards SET updates, not just inserts") {
    val (g2, _) = QueryEngine.executeWrite(
      "CREATE CONSTRAINT ON (n:Person) ASSERT n.name IS UNIQUE", g)
    // SET that duplicates an existing constrained value fails loudly
    val ex = intercept[IllegalStateException] {
      QueryEngine.executeWrite("MATCH (p:Person {name: 'Bob'}) SET p.name = 'Alice'", g2)
        ._1.nodes.count()
    }
    assert(ex.getMessage.contains("unique constraint violation"))
    // a non-duplicating SET still goes through
    val (g3, _) = QueryEngine.executeWrite(
      "MATCH (p:Person {name: 'Bob'}) SET p.name = 'Robert'", g2)
    assert(g3.nodes.filter(org.apache.spark.sql.functions.col("name") === "Robert").count() == 1L)
    // adding a label that moves a node INTO the constrained label is guarded:
    // Company 'Acme' renamed to collide, then labeled Person → violation
    val (g4, _) = QueryEngine.executeWrite(
      "MATCH (c:Company) SET c.name = 'Alice'", g3) // Company not constrained
    val ex2 = intercept[IllegalStateException] {
      QueryEngine.executeWrite("MATCH (c:Company) SET c:Person", g4)._1.nodes.count()
    }
    assert(ex2.getMessage.contains("unique constraint violation"))
  }

  test("SHOW LABELS and SHOW PROPERTY KEYS introspect the fixture") {
    val labels = run("SHOW LABELS").as[String].collect().toSeq
    assert(labels == Seq("Company", "Engineer", "Person"))
    val keys = run("SHOW PROPERTY KEYS").as[String].collect().toSeq
    assert(keys == Seq("age", "city", "name", "since"))
  }

  test("EXPLAIN on a write statement describes without executing") {
    val out = run("EXPLAIN CREATE (n:Person {id: 99, name: 'Zed'})")
      .as[String].head()
    assert(out.contains("Write statement") && out.contains("Create"))
    assert(g.nodes.count() == 4L) // nothing was written
  }

  test("label counters count only actual changes (idempotent re-run reports 0)") {
    val (g2, s2) = QueryEngine.executeWrite("MATCH (p:Person) SET p:Member", g)
    assert(s2.select("labels_added").as[Long].head() == 3L)
    // Carol is already an Engineer: re-adding counts only Alice and Bob
    val (g3, s3) = QueryEngine.executeWrite("MATCH (p:Person) SET p:Engineer", g2)
    assert(s3.select("labels_added").as[Long].head() == 2L)
    // idempotent re-run: nothing newly added
    val (_, s4) = QueryEngine.executeWrite("MATCH (p:Person) SET p:Member", g3)
    assert(s4.select("labels_added").as[Long].head() == 0L)
    // REMOVE counts only labels actually present (and reports in summary)
    val (_, s5) = QueryEngine.executeWrite("MATCH (p:Person) REMOVE p:Engineer", g3)
    assert(s5.select("labels_removed").as[Long].head() == 3L)
    val (_, s6) = QueryEngine.executeWrite("MATCH (p:Person) REMOVE p:Owner", g3)
    assert(s6.select("labels_removed").as[Long].head() == 0L)
  }

  test("map literal through WITH and UNWIND: field access plus absent-key NULL") {
    val r = run("WITH {a: 1, b: 'x'} AS m RETURN m.a AS a, m.b AS b, m.nope AS c")
      .as[(Long, String, Option[String])].collect().toSeq
    assert(r == Seq((1L, "x", None)))
    val u = run("UNWIND [{v: 10}, {v: 20}] AS m RETURN m.v AS v ORDER BY v")
      .as[Long].collect().toSeq
    assert(u == Seq(10L, 20L))
  }

  test("unique constraint: duplicate CREATE throws, MERGE dedups, SHOW lists") {
    val (g2, _) = QueryEngine.executeWrite(
      "CREATE CONSTRAINT ON (n:Person) ASSERT n.name IS UNIQUE", g)
    assert(g2.constraints == Set(("Person", "name")))
    // SHOW CONSTRAINTS lists the registration
    val shown = QueryEngine.execute("SHOW CONSTRAINTS", g2)
      .select("label", "property").as[(String, String)].collect().toSeq
    assert(shown == Seq(("Person", "name")))
    // duplicate CREATE under the constraint fails loudly
    val ex = intercept[IllegalStateException] {
      QueryEngine.executeWrite("CREATE (n:Person {id: 99, name: 'Alice'})", g2)
    }
    assert(ex.getMessage.contains("unique constraint violation"))
    // a fresh value still inserts
    val (g3, _) = QueryEngine.executeWrite("CREATE (n:Person {id: 99, name: 'Zed'})", g2)
    assert(g3.nodes.count() == 5L)
    // constrained MERGE of an existing value is a no-op
    val (g4, s4) = QueryEngine.executeWrite("MERGE (n:Person {name: 'Alice'})", g3)
    assert(g4.nodes.count() == 5L)
    assert(s4.select("nodes_created").as[Long].head() == 0L)
    // a different label is NOT constrained
    val (g5, _) = QueryEngine.executeWrite("CREATE (n:Company {id: 98, name: 'Alice'})", g2)
    assert(g5.nodes.count() == 5L)
    // without any constraint the duplicate CREATE still succeeds
    val (g6, _) = QueryEngine.executeWrite("CREATE (n:Person {id: 97, name: 'Alice'})", g)
    assert(g6.nodes.count() == 5L)
  }

  test("string-boolean coercion: prop = 'true' matches a boolean property") {
    // reference coerced_eq (operator.rs:2479-2503) — "LLMs often generate
    // prop = 'true'" against a Boolean property
    val gb = PropertyGraph(
      Seq((1L, Seq("P"), "a", true), (2L, Seq("P"), "b", false),
        (3L, Seq("P"), "true", true)).toDF("id", "labels", "name", "active"),
      Seq.empty[(Long, Long, Long, String)].toDF("id", "src", "dst", "relationship"))
    def names(cy: String) =
      QueryEngine.execute(cy, gb).as[String].collect().toSet
    assert(names("MATCH (n:P) WHERE n.active = 'true' RETURN n.name AS nm") == Set("a", "true"))
    assert(names("MATCH (n:P) WHERE n.active = 'FALSE' RETURN n.name AS nm") == Set("b"))
    assert(names("MATCH (n:P) WHERE n.active <> 'true' RETURN n.name AS nm") == Set("b"))
    // a STRING property compared to 'true' stays a plain string equality
    assert(names("MATCH (n:P) WHERE n.name = 'true' RETURN n.name AS nm") == Set("true"))
    // the flipped literal-first form coerces the same way
    assert(names("MATCH (n:P) WHERE 'true' = n.active RETURN n.name AS nm") == Set("a", "true"))
  }
}
