package graft

import graft.cypher.QueryEngine
import graft.model.PropertyGraph

/** FOREACH over dynamic (per-row) lists — reference `cypher.pest:44-45`,
  * executor's sequential element apply. Constant lists fold element-by-
  * element; dynamic lists lower as an UNWIND-extended read context for
  * SET/REMOVE bodies (empty/NULL lists drop out = zero-iteration no-op).
  */
class ForeachSpec extends SparkSpec {
  import spark.implicits._

  private def fresh: PropertyGraph = {
    val nodes = Seq(
      (1L, Seq("P"), "a", 0L, Seq("x", "y")),
      (2L, Seq("P"), "b", 1L, Seq.empty[String]),
      (3L, Seq("P"), "c", 2L, null),
      (4L, Seq("P"), "d", 3L, Seq("z")))
      .toDF("id", "labels", "name", "k", "tags")
    val edges = Seq((100L, 1L, 2L, "R")).toDF("id", "src", "dst", "relationship")
    PropertyGraph(nodes, edges)
  }

  test("FOREACH over a dynamic range: empty lists skip the write") {
    // range(1, k) is empty for k < 1 → node 1 (k=0) stays untouched
    val (g2, summary) = QueryEngine.executeWrite(
      "MATCH (n:P) FOREACH (x IN range(1, n.k) | SET n.touched = x)", fresh)
    val got = QueryEngine.execute(
      "MATCH (n:P) RETURN id(n) AS id, n.touched AS t ORDER BY id", g2)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    // concurrent same-key SETs resolve max(): touched = k for k >= 1
    assert(got.toSeq == Seq((1L, -1L), (2L, 1L), (3L, 2L), (4L, 3L)))
    // properties_set counts matched entities (1 per node with >=1 element)
    assert(summary.collect()(0).getAs[Long]("properties_set") == 3L)
  }

  test("FOREACH over a list property: NULL and empty lists are no-ops") {
    val (g2, _) = QueryEngine.executeWrite(
      "MATCH (n:P) FOREACH (t IN n.tags | SET n.processed = true)", fresh)
    val got = QueryEngine.execute(
      "MATCH (n:P) WHERE n.processed RETURN id(n) AS id ORDER BY id", g2)
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1L, 4L))
  }

  test("FOREACH dynamic REMOVE body clears the property per element row") {
    val g1 = QueryEngine.executeWrite(
      "MATCH (n:P) SET n.flag = 1", fresh)._1
    val (g2, _) = QueryEngine.executeWrite(
      "MATCH (n:P) FOREACH (t IN n.tags | REMOVE n.flag)", g1)
    val got = QueryEngine.execute(
      "MATCH (n:P) WHERE n.flag = 1 RETURN id(n) AS id ORDER BY id", g2)
      .collect().map(_.getLong(0))
    // only the empty/NULL-tags nodes keep the flag
    assert(got.toSeq == Seq(2L, 3L))
  }

  test("FOREACH constant list still folds sequentially (CREATE per element)") {
    val (g2, summary) = QueryEngine.executeWrite(
      "FOREACH (i IN [1, 2] | CREATE (:M {name: 'm'}))", fresh)
    assert(summary.collect()(0).getAs[Long]("nodes_created") == 2L)
    assert(g2.nodes.count() == 6L)
    // the loop variable is substituted inside lambdas too, unless a lambda
    // rebinds its name (shadowing)
    val (g3, _) = QueryEngine.executeWrite(
      "MATCH (n:P {name: 'a'}) FOREACH (x IN [1, 2] | SET n.v = [y IN [x] | y + 1], " +
        "n.w = any(y IN [x] WHERE y > 1), n.s = [x IN [10] | x])", fresh)
    val got = QueryEngine.execute(
      "MATCH (n:P {name: 'a'}) RETURN n.v AS v, n.w AS w, n.s AS s", g3)
      .as[(Seq[Long], Boolean, Seq[Long])].collect().toSeq
    assert(got == Seq((Seq(3L), true, Seq(10L))))
  }

  test("FOREACH dynamic CREATE body is rejected with a clear error") {
    val e = intercept[IllegalArgumentException] {
      QueryEngine.executeWrite(
        "MATCH (n:P) FOREACH (x IN range(1, n.k) | CREATE (:M {name: 'x'}))", fresh)
    }
    assert(e.getMessage.contains("SET/REMOVE"))
  }
}
