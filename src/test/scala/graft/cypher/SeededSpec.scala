package graft.cypher

import graft.SparkSpec
import graft.model.PropertyGraph

/** Semantics of seeded correlated-pattern translation
  * (`Translator.translatePathSeeded`): EXISTS / pattern-comprehension
  * subqueries and subsequent MATCH clauses translate FROM the bound frame,
  * so every answer here would expose a seeding bug (lost rows, wrong
  * multiplicity, missed constraint on a bound variable). The same queries
  * are easy to check by hand on the 5-node fixture. */
class SeededSpec extends SparkSpec {
  import spark.implicits._

  // a -KNOWS-> b, a -KNOWS-> c, b -KNOWS-> c (parallel x2), c -WORKS_AT-> co
  // a -WORKS_AT-> co2
  private lazy val g = {
    val nodes = Seq(
      (1L, Seq("Person"), "a", 30L),
      (2L, Seq("Person"), "b", 25L),
      (3L, Seq("Person"), "c", 35L),
      (4L, Seq("Company"), "co", 0L),
      (5L, Seq("Company"), "co2", 0L))
      .toDF("id", "labels", "name", "age")
    val edges = Seq(
      (10L, 1L, 2L, "KNOWS"),
      (11L, 1L, 3L, "KNOWS"),
      (12L, 2L, 3L, "KNOWS"),
      (13L, 2L, 3L, "KNOWS"), // parallel edge: multiplicity must double
      (14L, 3L, 4L, "WORKS_AT"),
      (15L, 1L, 5L, "WORKS_AT"))
      .toDF("id", "src", "dst", "relationship")
    PropertyGraph(nodes, edges)
  }

  private def run(cy: String) = QueryEngine.execute(cy, g)

  test("EXISTS with two bound anchors (the BI-11 shape)") {
    // pairs (x, y) with x-KNOWS->y such that x also works where some
    // z known by y works: only constraint-crafted combinations survive
    val r = run(
      "MATCH (x:Person)-[:KNOWS]->(y:Person) " +
        "WHERE EXISTS { MATCH (x)-[:KNOWS]->(z:Person)<-[:KNOWS]-(y) } " +
        "RETURN x.name AS xn, y.name AS yn ORDER BY xn, yn")
      .as[(String, String)].collect().toSeq
    // x=a,y=b: z with a->z and b->z: z=c (a->c, b->c) -> EXISTS. others: no
    assert(r == Seq(("a", "b")))
  }

  test("NOT EXISTS keeps rows whose subquery is empty") {
    val r = run(
      "MATCH (x:Person)-[:KNOWS]->(y:Person) " +
        "WHERE NOT EXISTS { MATCH (x)-[:KNOWS]->(z:Person)<-[:KNOWS]-(y) } " +
        "RETURN x.name AS xn, y.name AS yn ORDER BY xn, yn")
      .as[(String, String)].collect().toSeq
    // all KNOWS pairs minus (a,b); parallel b->c appears ONCE per binding
    assert(r == Seq(("a", "c"), ("b", "c"), ("b", "c")))
  }

  test("EXISTS sub-WHERE reading an anchor property (seed projection)") {
    val r = run(
      "MATCH (x:Person)-[:KNOWS]->(y:Person) " +
        "WHERE EXISTS { MATCH (y)-[:WORKS_AT]->(c:Company) WHERE x.age > 28 } " +
        "RETURN x.name AS xn, y.name AS yn ORDER BY xn, yn")
      .as[(String, String)].collect().toSeq
    // y must work somewhere (only c works) and x.age > 28 (only a, age 30;
    // b has age 25) -> (a, c) from a-KNOWS->c
    assert(r == Seq(("a", "c")))
  }

  test("subsequent MATCH seeds from the frame with exact multiplicity") {
    val r = run(
      "MATCH (x:Person {name: 'a'})-[:KNOWS]->(y:Person) " +
        "MATCH (y)-[:KNOWS]->(z:Person) " +
        "RETURN y.name AS yn, z.name AS zn ORDER BY yn, zn")
      .as[(String, String)].collect().toSeq
    // y in {b, c}; b-KNOWS->c TWICE (parallel edges) -> two (b, c) rows
    assert(r == Seq(("b", "c"), ("b", "c")))
  }

  test("label/property constraint on a bound variable still applies") {
    val r = run(
      "MATCH (x:Person)-[:KNOWS]->(y) " +
        "MATCH (y:Person {age: 35})-[:WORKS_AT]->(c:Company) " +
        "RETURN x.name AS xn, c.name AS cn ORDER BY xn")
      .as[(String, String)].collect().toSeq
    // y must be the 35-year-old c-person; x->c via a->c, b->c (x2 parallel)
    assert(r == Seq(("a", "co"), ("b", "co"), ("b", "co")))
  }

  test("OPTIONAL MATCH after a frame keeps left-join semantics") {
    val r = run(
      "MATCH (x:Person) OPTIONAL MATCH (x)-[:WORKS_AT]->(c:Company) " +
        "RETURN x.name AS xn, c.name AS cn ORDER BY xn")
      .collect().map(row => (row.getString(0), Option(row.getString(1)))).toSeq
    assert(r == Seq(("a", Some("co2")), ("b", None), ("c", Some("co"))))
  }

  test("pattern comprehension multiplicity with a bound anchor") {
    val r = run(
      "MATCH (x:Person {name: 'b'}) " +
        "RETURN x.name AS xn, size([(x)-[:KNOWS]->(z) | z.name]) AS n, " +
        "[k IN [1] | size([(x)-[:KNOWS]->(z) | z.name])] AS inLambda")
      .as[(String, Long, Seq[Long])].collect().toSeq
    // b has TWO parallel KNOWS edges to c -> the comprehension has 2 items,
    // also when it sits inside a list comprehension
    assert(r == Seq(("b", 2L, Seq(2L))))
  }

  test("EXISTS anchored on only one of several outer variables") {
    val r = run(
      "MATCH (x:Person)-[:KNOWS]->(y:Person) " +
        "WHERE EXISTS { MATCH (y)-[:WORKS_AT]->(c:Company) } " +
        "RETURN x.name AS xn, y.name AS yn ORDER BY xn, yn")
      .as[(String, String)].collect().toSeq
    // y works somewhere => y = c-person only; pairs into c: a->c, b->c x2
    assert(r == Seq(("a", "c"), ("b", "c"), ("b", "c")))
  }
}
