package graft

import graft.functions.CypherFunctions
import graft.vector.VectorSearch
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** `VectorSearch.knnExactFor` over parquet inputs has three routes: the
  * broadcast cross-join plan (`spark.graft.algo.localSizeBytes=0`), the
  * in-task kernel a first call runs (a miss) and the same kernel on the
  * calling thread once the inputs are resident (a hit). All three must
  * return the same rows in the same order, or fail with the same error
  * class. */
class KnnRouteSpec extends SparkSpec {
  import spark.implicits._

  private type Vec = Option[Seq[Option[Float]]]

  /** Runs `f` on a fresh temporary directory and deletes it afterwards. */
  private def withTempDir[A](prefix: String)(f: java.io.File => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    try f(dir) finally rm(dir)
  }

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The rows (with -0.0 read as 0.0) or the error class of `df`'s collect. */
  private def outcome(df: => DataFrame): Either[String, Seq[Row]] =
    try Right(df.collect().toSeq.map(r => Row(r.toSeq.map {
      case d: Double if d == 0.0 => 0.0
      case x => x
    }: _*)))
    catch {
      case e: Throwable =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
          case t: SparkThrowable if t.getCondition != null => t.getCondition
        } match {
          case Some(c) => Left(c)
          case None => throw e
        }
    }

  // a few element values, so scores tie, plus NaN, -0.0, null and zero
  // vectors; lengths 2 and 3, so some pairs mismatch
  private val elem: Gen[Option[Float]] = Gen.frequency(
    8 -> Gen.oneOf(1.0f, -1.0f, 0.5f, 2.0f, 0.0f).map(Some(_)),
    1 -> Gen.oneOf(Float.NaN, -0.0f).map(Some(_)),
    1 -> Gen.const(None))
  private val vec: Gen[Vec] = Gen.frequency(
    12 -> Gen.choose(2, 3).flatMap(n => Gen.listOfN(n, elem)).map(Some(_)),
    1 -> Gen.choose(2, 3).map(n => Some(Seq.fill(n)(Some(0.0f)))),
    1 -> Gen.const(None))
  private val id: Gen[Option[Long]] = Gen.frequency(8 -> Gen.choose(0L, 9L).map(Some(_)), 1 -> Gen.const(None))

  private case class Case(corpus: Seq[(Option[Long], Vec)], queries: Seq[Vec], k: Int)

  private val cases: Gen[Case] = for {
    n <- Gen.choose(1, 14)
    corpus <- Gen.listOfN(n, Gen.zip(id, vec))
    queries <- Gen.choose(0, 2).flatMap(Gen.listOfN(_, vec))
    k <- Gen.oneOf(1, 3, n + 2)
  } yield Case(corpus, queries, k)

  private def knn(dir: java.io.File, tag: String, k: Int): DataFrame = {
    val emb = spark.read.parquet(s"$dir/corpus_$tag")
    val q = spark.read.parquet(s"$dir/query_$tag")
    VectorSearch.knnExactFor(emb, "vec_id", "embedding", q, "embedding", k)
  }

  test("miss == hit == the broadcast plan, row for row or error class (generated corpora)") {
    val prop = Prop.forAllNoShrink(cases) { c =>
      withTempDir("graft_knn") { dir =>
        // each ANSI setting reads its own copy of the files, so its first
        // call is a miss (the resident key holds the file paths)
        Seq("true", "false").foreach { ansi =>
          c.corpus.toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$dir/corpus_$ansi")
          c.queries.map(Tuple1(_)).toDF("embedding").coalesce(1).write.parquet(s"$dir/query_$ansi")
        }
        Seq("true", "false").forall { ansi =>
          withConf("spark.sql.ansi.enabled" -> ansi) {
            val plan = withConf("spark.graft.algo.localSizeBytes" -> "0")(outcome(knn(dir, ansi, c.k)))
            val miss = knn(dir, ansi, c.k)
            assert(miss.inputFiles.nonEmpty, "the first call was not a miss")
            val missOut = outcome(miss)
            val hitOut = outcome(knn(dir, ansi, c.k))
            assert(missOut == plan, s"ansi=$ansi: miss != plan on $c")
            assert(hitOut == plan, s"ansi=$ansi: hit != plan on $c")
            true
          }
        }
      }
    }
    // no shrinking: each step writes and reads parquet on three routes
    val res = Test.check(Test.Parameters.default.withInitialSeed(Seed(20261021L))
      .withMinSuccessfulTests(30).withWorkers(1), prop)
    assert(res.passed, res.status)
  }

  test("a zero-norm pair under ANSI fails with DIVIDE_BY_ZERO on every route") {
    withTempDir("graft_knn_zero") { dir =>
      Seq((Option(1L), Option(Seq(Option(0.0f), Option(0.0f)))), (Option(2L), Option(Seq(Option(1.0f), Option(0.0f)))))
        .toDF("vec_id", "embedding").write.parquet(s"$dir/corpus_z")
      Seq(Tuple1(Option(Seq(Option(1.0f), Option(1.0f))))).toDF("embedding").write.parquet(s"$dir/query_z")
      withConf("spark.sql.ansi.enabled" -> "true") {
        val plan = withConf("spark.graft.algo.localSizeBytes" -> "0")(outcome(knn(dir, "z", 5)))
        assert(plan == Left("DIVIDE_BY_ZERO"))
        assert(outcome(knn(dir, "z", 5)) == plan, "miss")
        assert(outcome(knn(dir, "z", 5)) == plan, "hit")
      }
      withConf("spark.sql.ansi.enabled" -> "false") {
        assert(outcome(knn(dir, "z", 5)) == Right(Seq(Row(2L, 0.7071067811865475), Row(1L, null))))
      }
    }
  }

  test("q_knn_exact shape: a miss runs one job, a hit's collect none, a bare LocalTableScan") {
    withTempDir("graft_knn_jobs") { dir =>
      val rnd = new scala.util.Random(3)
      Seq.tabulate(200)(i => (i.toLong, i % 5, Seq.fill(16)(rnd.nextFloat() - 0.5f)))
        .toDF("vec_id", "label", "embedding").write.parquet(s"$dir/emb")
      val emb = spark.read.parquet(s"$dir/emb") // reading the footers is a job
      def exact: DataFrame =
        VectorSearch.knnExactFor(emb, "vec_id", "embedding", emb.filter(col("vec_id") === 0), "embedding", 10)
          .select(col("vec_id"), CypherFunctions.roundC(col("score"), 4).as("score"))
      var miss: DataFrame = null
      assert(jobsDuring { miss = exact } == 0, "building the frame ran a job")
      var missRows: Seq[Row] = null
      assert(jobsDuring { missRows = miss.collect().toSeq } == 1, "a miss runs exactly one job")
      var hit: DataFrame = null
      assert(jobsDuring { hit = exact } == 0, "a hit's build ran a job")
      var hitRows: Seq[Row] = null
      assert(jobsDuring { hitRows = hit.collect().toSeq } == 0, "a hit's collect ran a job")
      assert(hit.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
        hit.queryExecution.executedPlan.toString)
      assert(hitRows == missRows)
      assert(hitRows.head.getLong(0) == 0L && hitRows.length == 10)
      val planRows = withConf("spark.graft.algo.localSizeBytes" -> "0")(exact.collect().toSeq)
      assert(hitRows == planRows)
    }
  }
}
