package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The native graft_dot Catalyst expression (functions/DotProduct.scala):
  * codegen and interpreted paths, null/mismatch semantics, bit-parity with
  * two reference forms built from Spark built-ins. SparkSpec sessions load
  * GraftExtensions, so the function resolves via the registry like any
  * built-in. */
class DotProductSpec extends SparkSpec {
  import spark.implicits._

  /** Reference: `zip_with` products folded left-to-right by `aggregate`. */
  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Reference: a `dim`-term chain of `element_at` products, summed left
    * to right. */
  private def unrolledDot(a: Column, b: Column, dim: Int): Column =
    (1 to dim).map(i =>
      element_at(a, i).cast("double") * element_at(b, i).cast("double"))
      .reduce(_ + _)

  private val rnd = new scala.util.Random(42)
  private lazy val vecs = Seq.tabulate(50)(i =>
    (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2 - 1)))
    .toDF("id", "v")

  test("registered by GraftExtensions; SQL + call_function both resolve") {
    assert(spark.catalog.functionExists("graft_dot"))
    val viaSql = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .as[Double].head()
    assert(viaSql == 11.0)
    val viaCall = vecs.limit(1)
      .select(call_function("graft_dot", col("v"), col("v")).as("d"))
      .as[Double].head()
    assert(viaCall > 0.0)
  }

  test("bit-identical to the HOF and unrolled forms (codegen path)") {
    val forms = vecs.select(
      call_function("graft_dot", col("v"), col("v")).as("native"),
      hofDot(col("v"), col("v")).as("hof"),
      unrolledDot(col("v"), col("v"), 64).as("unrolled"),
      graft.vector.VectorSearch.dot(col("v"), col("v")).as("api"))
      .as[(Double, Double, Double, Double)].collect()
    forms.foreach { case (n, h, u, api) =>
      assert(n == h && n == u && n == api) // exact — same left-to-right association
    }
  }

  test("interpreted eval matches codegen") {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = vecs.select(call_function("graft_dot", col("v"), col("v")))
        .as[Double].collect()
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      val gen = vecs.select(call_function("graft_dot", col("v"), col("v")))
        .as[Double].collect()
      assert(interp.toSeq == gen.toSeq)
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("nulls and length mismatches yield null; empty arrays dot to 0") {
    val d = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),
      (2L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)),
      (3L, Seq[java.lang.Double](1.0), Seq[java.lang.Double](3.0, 4.0)),
      (4L, null, Seq[java.lang.Double](3.0)),
      (5L, Seq.empty[java.lang.Double], Seq.empty[java.lang.Double]))
      .toDF("id", "a", "b")
    val got = d.select(col("id"), call_function("graft_dot", col("a"), col("b")))
      .as[(Long, Option[Double])].collect().toMap
    assert(got(1L).contains(11.0))
    assert(got(2L).isEmpty)
    assert(got(3L).isEmpty)
    assert(got(4L).isEmpty)
    assert(got(5L).contains(0.0))
  }

  test("mixed element types: float x double") {
    val d = Seq((Seq(1.5f, 2.5f), Seq(2.0, 4.0))).toDF("a", "b")
    val got = d.select(call_function("graft_dot", col("a"), col("b")))
      .as[Double].head()
    assert(got == 1.5f * 2.0 + 2.5f * 4.0)
  }
}
