package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.execution.{LocalTableScanExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** [[SortLocalRelation]]: a final global sort of driver-held rows is done
  * on the driver. Folded rows must come out in the order the unfolded plan
  * (the same query with `localSizeBytes=0`, a range-partitioned sort)
  * gives, key by key; every other shape keeps its plan. */
class SortLocalRelationSpec extends SparkSpec {
  import spark.implicits._

  private def unfolded[A](body: => A): A = {
    spark.conf.set("spark.graft.algo.localSizeBytes", "0")
    try body finally spark.conf.unset("spark.graft.algo.localSizeBytes")
  }

  private def hasSort(p: LogicalPlan): Boolean = p.exists(_.isInstanceOf[Sort])

  /** The sort-key values of a row, with -0.0 read as 0.0: the two compare
    * equal, so either may come first. */
  private def keyOf(r: Row, keys: Seq[String]): Seq[String] = keys.map { k =>
    r.get(r.fieldIndex(k)) match {
      case null => "null"
      case d: Double if d == 0.0 => "0.0"
      case v => v.toString
    }
  }

  // doubles with nulls, NaN and both zeros; strings with nulls and case
  private val doubles: Gen[Option[Double]] = Gen.frequency(
    4 -> Gen.choose(-3, 3).map(i => Some(i.toDouble)), 1 -> Gen.const(None),
    1 -> Gen.const(Some(Double.NaN)), 1 -> Gen.const(Some(-0.0)), 1 -> Gen.const(Some(0.0)))
  private val strings: Gen[Option[String]] =
    Gen.option(Gen.oneOf("", "a", "ab", "B", "b", "ä"))
  private val rows: Gen[Seq[(Option[Double], Option[String], Option[Long], Long)]] = for {
    n <- Gen.choose(2, 40)
    rs <- Gen.listOfN(n, Gen.zip(doubles, strings, Gen.option(Gen.choose(-2L, 2L))))
  } yield rs.zipWithIndex.map { case ((d, s, l), i) => (d, s, l, i.toLong) }
  private val directions: Seq[Column => Column] = Seq(
    _.asc_nulls_first, _.asc_nulls_last, _.desc_nulls_first, _.desc_nulls_last)
  private val sortKeys: Gen[Seq[(String, Int)]] = for {
    n <- Gen.choose(1, 3)
    ks <- Gen.pick(n, Seq("d", "s", "l", "id"))
    ds <- Gen.listOfN(n, Gen.choose(0, directions.length - 1))
  } yield ks.toSeq.zip(ds)

  test("a folded sort returns the unfolded plan's order (generated rows and keys)") {
    val prop = Prop.forAllNoShrink(rows, sortKeys) { (data, keys) =>
      val names = keys.map(_._1)
      def q: DataFrame = data.toDF("d", "s", "l", "id")
        .orderBy(keys.map { case (k, dir) => directions(dir)(col(k)) }: _*)
      val folded = q
      val got = folded.collect().toSeq
      assert(folded.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
        folded.queryExecution.optimizedPlan.toString)
      assert(folded.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec])
      val (want, wantPlan) = unfolded { val u = q; (u.collect().toSeq, u.queryExecution.optimizedPlan) }
      assert(hasSort(wantPlan), s"localSizeBytes=0 folded the sort:\n$wantPlan")
      assert(got.map(keyOf(_, names)) == want.map(keyOf(_, names)), s"order differs for $keys on $data")
      assert(got.map(_.toString).sorted == want.map(_.toString).sorted, "rows differ")
      true
    }
    val res = Test.check(Test.Parameters.default.withInitialSeed(Seed(7L))
      .withMinSuccessfulTests(40).withWorkers(1), prop)
    assert(res.passed, res.status)
  }

  private lazy val df = Seq((3L, "c"), (1L, "a"), (2L, "b"), (5L, "e"), (4L, "d")).toDF("k", "v")

  /** `q` optimizes to the same plan with the fold on and off. */
  private def assertNoFold(q: => DataFrame): LogicalPlan = {
    val on = q.queryExecution.optimizedPlan
    val off = unfolded(q.queryExecution.optimizedPlan)
    assert(on.sameResult(off), s"folded:\n$on\nunfolded:\n$off")
    on
  }

  test("a global sort over a local relation folds; collect runs no job") {
    val q = df.orderBy(col("k").desc)
    assert(jobsDuring(assert(q.collect().map(_.getLong(0)).toSeq == Seq(5L, 4L, 3L, 2L, 1L))) == 0)
    assert(!q.queryExecution.optimizedPlan.sameResult(unfolded(df.orderBy(col("k").desc).queryExecution.optimizedPlan)))
  }

  test("no fold: a sort under a limit stays TakeOrderedAndProject") {
    val p = assertNoFold(df.orderBy(col("k")).limit(2))
    assert(hasSort(p))
    val q = df.orderBy(col("k")).limit(2)
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(q.queryExecution.executedPlan.isInstanceOf[TakeOrderedAndProjectExec],
      q.queryExecution.executedPlan.toString)
  }

  test("no fold: a sort under a join") {
    val other = Seq((1L, 10), (4L, 40)).toDF("k", "w")
    assertNoFold(df.orderBy(col("v")).join(other, "k"))
  }

  test("no fold: a nondeterministic sort key") {
    assert(hasSort(assertNoFold(df.orderBy(rand(7)))))
  }

  test("no fold: sortWithinPartitions") {
    assert(hasSort(assertNoFold(df.sortWithinPartitions(col("k")))))
  }

  test("no fold: localSizeBytes=0") {
    unfolded {
      val q = df.orderBy(col("k"))
      assert(hasSort(q.queryExecution.optimizedPlan))
      assert(q.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    }
  }
}
