package graft

import graft.cypher.QueryEngine
import graft.model.PropertyGraph
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Every case runs on both lowerings of a final ORDER BY: the one-task sort
  * a small input takes by default, and the global range-partitioned sort
  * `spark.graft.algo.localSizeBytes=0` pins. Both must return the same rows
  * in the same order (sort keys here are total, so the order is unique). */
class OrderBySpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._
  private lazy val g = PropertyGraph(
    Seq((1L, Seq("P"), "A", 30L), (2L, Seq("P"), "B", 25L), (3L, Seq("P"), "C", 35L))
      .toDF("id", "labels", "name", "age"),
    Seq((10L, 1L, 2L, "E")).toDF("id", "src", "dst", "relationship"))

  // one null age; cities repeat so DISTINCT and grouping collapse rows
  private lazy val h = PropertyGraph(
    Seq((1L, Seq("P"), "A", Some(30L), "X"), (2L, Seq("P"), "B", Some(25L), "Y"),
      (3L, Seq("P"), "C", Some(35L), "X"), (4L, Seq("P"), "D", None, "Z"),
      (5L, Seq("P"), "E", Some(40L), "Y"), (6L, Seq("P"), "F", Some(20L), "X"))
      .toDF("id", "labels", "name", "age", "city"),
    Seq((10L, 1L, 2L, "E")).toDF("id", "src", "dst", "relationship"))

  private def run(q: String, graph: PropertyGraph): (Seq[Row], SparkPlan) = {
    val df = QueryEngine.execute(q, graph)
    val rows = df.collect().toSeq
    (rows, df.queryExecution.executedPlan)
  }

  /** Rows and physical plans of `q` on the default route and with
    * `localSizeBytes=0`; fails unless both return the same rows in order. */
  private def bothRoutes(q: String, graph: PropertyGraph): (Seq[Row], SparkPlan, SparkPlan) = {
    val (small, smallPlan) = run(q, graph)
    spark.conf.set("spark.graft.algo.localSizeBytes", "0")
    val (global, globalPlan) = try run(q, graph)
    finally spark.conf.unset("spark.graft.algo.localSizeBytes")
    assert(small == global, s"routes disagree on: $q")
    (small, smallPlan, globalPlan)
  }

  private def rangeExchanges(p: SparkPlan): Seq[SparkPlan] = collect(p) {
    case s: ShuffleExchangeExec if s.outputPartitioning.isInstanceOf[RangePartitioning] => s
  }

  /** A final ORDER BY without LIMIT: one task by default, a range exchange
    * when the threshold is 0. */
  private def sortedRows(q: String, graph: PropertyGraph): Seq[Row] = {
    val (rows, smallPlan, globalPlan) = bothRoutes(q, graph)
    assert(rangeExchanges(smallPlan).isEmpty, s"small route planned a range exchange:\n$smallPlan")
    assert(rangeExchanges(globalPlan).nonEmpty, s"localSizeBytes=0 lost the range exchange:\n$globalPlan")
    rows
  }

  test("ORDER BY a non-projected property") {
    val r = sortedRows("MATCH (n:P) RETURN n.name AS name ORDER BY n.age DESC", g)
      .map(_.getString(0))
    assert(r == Seq("C", "A", "B"))
  }

  test("ORDER BY a non-projected expression") {
    val r = sortedRows("MATCH (n:P) RETURN n.name AS name ORDER BY n.age % 7", g)
      .map(_.getString(0))
    assert(r == Seq("C", "A", "B")) // 35%7=0, 30%7=2, 25%7=4 ascending
  }

  test("ORDER BY DESC over a nullable key keeps every row, non-nulls descending") {
    val r = sortedRows("MATCH (n:P) RETURN n.name AS name, n.age AS age ORDER BY age DESC", h)
    assert(r.map(_.getString(0)).sorted == Seq("A", "B", "C", "D", "E", "F"))
    assert(r.filterNot(_.isNullAt(1)).map(_.getString(0)) == Seq("E", "C", "A", "B", "F"))
  }

  test("DISTINCT … ORDER BY") {
    val r = sortedRows("MATCH (n:P) RETURN DISTINCT n.city AS city ORDER BY city DESC", h)
      .map(_.getString(0))
    assert(r == Seq("Z", "Y", "X"))
  }

  test("aggregate with a multi-key ORDER BY") {
    val r = sortedRows(
      "MATCH (n:P) RETURN n.city AS city, count(*) AS c ORDER BY c DESC, city", h)
      .map(row => (row.getString(0), row.getLong(1)))
    assert(r == Seq(("X", 3L), ("Y", 2L), ("Z", 1L)))
  }

  test("ORDER BY … LIMIT stays TakeOrderedAndProject on both routes") {
    val (r, smallPlan, globalPlan) =
      bothRoutes("MATCH (n:P) RETURN n.name AS name, n.age AS age ORDER BY n.name DESC LIMIT 2", h)
    assert(r.map(_.getString(0)) == Seq("F", "E"))
    for (p <- Seq(smallPlan, globalPlan)) {
      assert(collect(p) { case t: TakeOrderedAndProjectExec => t }.nonEmpty, s"no top-k:\n$p")
      assert(rangeExchanges(p).isEmpty, s"top-k planned a range exchange:\n$p")
    }
  }
}
