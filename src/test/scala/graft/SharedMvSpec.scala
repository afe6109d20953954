package graft

import graft.model.SharedMv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SharedMv fingerprinting: logicVersion participates in the key (a
  * derivation change must not serve the old materialization) and stale
  * versions of the same (name, dataset) MV are evicted on rebuild. The
  * read of each materialization is kept per session, and a rebuild
  * replaces it. */
class SharedMvSpec extends SparkSpec {
  import spark.implicits._

  private val root = new java.io.File(s"${System.getProperty("java.io.tmpdir")}/graft_mv")

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  /** Runs `body(dir, name, build)` over a two-row source table; `build`
    * counts its invocations in `builds()`. */
  private def withSource(body: (String, String, String => DataFrame,
                                () => Int) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_mv_spec").toFile
    try {
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$dir/src.parquet")
      var builds = 0
      def build(tag: String) = {
        builds += 1
        spark.read.parquet(s"$dir/src.parquet").withColumn("tag", lit(tag))
      }
      body(dir.getPath, s"spec_${System.nanoTime()}", build, () => builds)
    } finally {
      rm(dir)
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("spec_")).foreach(rm)
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("kept read: a second call in the session runs no Spark job") {
    withSource { (dir, name, build, builds) =>
      val first = rows(SharedMv(spark, dir, Seq("src"), name)(build("one")))
      var again: DataFrame = null
      assert(jobsDuring { again = SharedMv(spark, dir, Seq("src"), name)(build("x")) } == 0)
      assert(rows(again) == first && builds() == 1)
    }
  }

  test("kept read: a deleted MV directory is rebuilt and its new files read") {
    withSource { (dir, name, build, builds) =>
      val v = SharedMv(spark, dir, Seq("src"), name)(build("one"))
      assert(v.select("tag").distinct().as[String].head() == "one")
      val mv = Option(root.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(s"${name}_"))
      assert(mv.length == 1)
      rm(mv.head)
      // a kept file index would list the deleted part files and fail with
      // FileNotFoundException; the rebuild must replace the kept read
      val v2 = SharedMv(spark, dir, Seq("src"), name)(build("two"))
      assert(v2.select("tag").distinct().as[String].head() == "two")
      assert(builds() == 2)
    }
  }

  test("logicVersion invalidates; stale materializations are evicted") {
    withSource { (dir, name, build, builds) =>

      val v1 = SharedMv(spark, dir, Seq("src"), name, "v1")(build("one"))
      assert(v1.select("tag").distinct().as[String].head() == "one")
      assert(builds() == 1)
      // same version: served from the materialization, builder not invoked
      val v1b = SharedMv(spark, dir, Seq("src"), name, "v1")(build("one'"))
      assert(v1b.select("tag").distinct().as[String].head() == "one")
      assert(builds() == 1)
      // bumped version: rebuilt with the new logic...
      val v2 = SharedMv(spark, dir, Seq("src"), name, "v2")(build("two"))
      assert(v2.select("tag").distinct().as[String].head() == "two")
      assert(builds() == 2)
      // ...and the v1 materialization survives the 15-min grace window (a
      // concurrent JVM may still be serving it)...
      def versions = Option(root.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(s"${name}_"))
      assert(versions.length == 2)
      // ...but once quiet past the grace window, the next rebuild evicts it
      versions.foreach(f =>
        f.setLastModified(System.currentTimeMillis() - 16L * 60 * 1000): Unit)
      val v3 = SharedMv(spark, dir, Seq("src"), name, "v3")(build("three"))
      assert(v3.select("tag").distinct().as[String].head() == "three")
      assert(versions.length == 1)
    }
  }
}
