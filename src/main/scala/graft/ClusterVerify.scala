package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import java.nio.file.{Files, Paths}

/** Multi-executor differential gate: run a representative slice of the
  * query catalog twice — once on `local[N]` (the correctness-gate regime,
  * where driver and executors share one JVM) and once on
  * `local-cluster[2,c,m]` (Spark's standalone-cluster test master: a real
  * Master + Worker and TWO SEPARATE EXECUTOR JVMs, `sc.isLocal == false`,
  * closures serialized, broadcasts/shuffles over RPC) — and compare
  * results cell-by-cell with float tolerance.
  *
  * Why this exists: every oracle signal comes from local mode, where a
  * whole class of cluster-only failures is invisible — non-serializable
  * closures, driver-JVM state that executors silently lack (statics,
  * caches), `isLocal`-gated paths (the resident edge cache in
  * [[graft.algo.LocalKernels]]), and partitioning assumptions that only
  * hold when every task sees the same heap. This gate runs the SAME
  * query functions with separate-JVM executors and proves the results
  * identical, which is the honest local-box approximation of "would run
  * on a real cluster" (multi-machine adds only the network, not a new
  * serialization or visibility boundary).
  *
  * Determinism note: both sessions pin default parallelism and shuffle
  * partitions to the same value (16 = 2 workers × 8 cores), so seeded
  * per-partition operators (walk sampling, restart-parallel solvers)
  * see identical partition indices.
  *
  * Usage (sbt): set SPARK_HOME=/opt/spark and SPARK_SCALA_VERSION=2.13 in
  * run / envVars (the in-JVM Worker builds executor launch commands from
  * the Spark dist, and the launcher needs the scala version that
  * load-spark-env.sh would normally export), then
  * `runMain graft.ClusterVerify <sfDir> <outDir> [--fresh-mv] [q...]`.
  */
object ClusterVerify {

  /** Representative subset: every subsystem, weighted toward operators
    * whose distributed twins / gated kernels differ most from local mode. */
  val DefaultQueries: Seq[String] = Seq(
    // relational core
    "q1_agg", "q_scan_filter", "q_top_k", "q_percentile", "q_window_rank",
    "q_rollup", "q_anti_join", "q_exists_subquery", "q_collect_list",
    "q_count_distinct",
    // traversals
    "q_expand_1hop", "q_expand_2hop_bucketed", "q_expand_into",
    "q_var_length", "q_shortest_path", "q_degree", "q_bfs",
    // cypher translator (read + write)
    "q_cypher_2hop", "q_cypher_with_agg", "q_cypher_wco_cycle",
    "q_cypher_varlength", "q_cypher_optional", "q_cypher_call_subquery",
    "q_cypher_unwind", "q_cypher_split_dynamic",
    "q_cypher_write_create", "q_merge",
    "q_cypher_write_delete", "q_cypher_write_set",
    // graph algorithms (stats-gated kernels + distributed twins)
    "q_pagerank", "q_pagerank_weighted", "q_hits", "q_ppr", "q_wcc", "q_scc", "q_cdlp",
    "q_lcc", "q_triangle_count", "q_triangle_approx", "q_square_count",
    "q_kcore", "q_sssp", "q_mst", "q_maxflow",
    "q_walk_sample", "q_cypher_or_solve", "q_adamic_adar",
    "q_harmonic_centrality", "q_cypher_call_harmonic",
    "q_closeness_centrality", "q_betweenness", "q_jaccard_sim",
    "q_jaccard_approx", "q_ktruss",
    // vector search
    "q_knn_exact", "q_knn_approx", "q_knn_ivf", "q_knn_pq", "q_hybrid_rrf",
    // dedup + text pipeline
    "q_dedup_exact", "q_minhash_lsh", "q_simhash", "q_dedup_embedding_lsh",
    "q_substring_dedup", "q_embedding_centroid", "q_semdedup",
    "q_bm25", "q_tfidf", "q_lang_id", "q_lm_perplexity", "q_nb_quality",
    // data-pipeline ops
    "q_asof_join", "q_interval_join", "q_salted_join", "q_heavy_hitters",
    "q_neighbor_sample", "q_negative_sample", "q_sssp_path",
    "q_modularity", "q_graph_stats", "q_louvain_moves", "q_cypher_call_louvain",
    "q_louvain_levels", "q_cypher_call_louvain_levels",
    "q_node2vec_walks", "q_cypher_call_node2vec",
    "q_bidir_bfs", "q_cypher_call_bidirbfs", "q_paragraph_dedup",
    "q_canonical_dedup",
    "q_funnel", "q_retention", "q_stratified_sample",
    "q_weighted_sample", "q_skew_report", "q_dup_matrix", "q_pipeline_e2e",
    "q_seq_pack", "q_pack_harmonic", "q_dsir_resample",
    "q_leakage_split", "q_ppl_buckets", "q_mix_token_budget",
    "q_incremental_dedup", "q_hard_negatives",
    "q_sketch_distinct", "q_epoch_shuffle",
    "q_temperature_mix",
    // multimodal (executor-side binary decode)
    "q_multimodal_decode", "q_audio_features", "q_video_frames",
    // rdf / sparql
    "q_sparql_bgp", "q_sparql_agg", "q_rdf_roundtrip",
    // structured streaming (state store on executors)
    "q_streaming_window", "q_streaming_join", "q_streaming_decontaminate",
    "q_streaming_nb_quality",
    // ldbc / finbench suites (deep plans, seeded subqueries, write chains)
    "q_ldbc_ic5", "q_ldbc_bi4", "q_ldbc_upd", "q_finbench_cr4",
    "q_finbench_w",
    // sources
    "q_csv_load", "q_json_load", "q_snapshot_roundtrip")

  /** Per-round gate (r11 verdict task #10): a PINNED ~25-query subset run
    * every round via `--gate` and recorded next to CORRECTNESS
    * (docs/cluster/cluster_verify_r{N}.json) — cheap enough to keep honest.
    * The full [[DefaultQueries]] still backs any "cluster-ready" claim.
    * One row per subsystem plus the operators the current round touched. */
  val GateQueries: Seq[String] = Seq(
    "q1_agg", "q_top_k", "q_exists_subquery",
    "q_expand_2hop_bucketed", "q_var_length",
    "q_cypher_wco_cycle", "q_cypher_split_dynamic", "q_cypher_optional",
    "q_cypher_write_create", "q_cypher_write_delete",
    "q_pagerank", "q_ppr", "q_adamic_adar", "q_harmonic_centrality",
    "q_betweenness", "q_ktruss", "q_closeness_centrality", "q_jaccard_sim",
    "q_cdlp", "q_triangle_count",
    "q_knn_exact", "q_knn_approx", "q_semdedup",
    "q_minhash_lsh", "q_substring_dedup", "q_embedding_centroid",
    "q_dsir_resample", "q_pack_harmonic", "q_incremental_dedup",
    "q_hard_negatives", "q_nb_quality", "q_pipeline_e2e",
    "q_asof_join", "q_multimodal_decode",
    "q_sparql_bgp", "q_streaming_window", "q_streaming_decontaminate",
    "q_streaming_nb_quality",
    "q_ldbc_is3", "q_ldbc_ic13", "q_ldbc_upd", "q_finbench_w",
    // round-13-touched: the q_hits evidence debt (r12 verdict #3), the
    // new approx-jaccard, the de-vacuified IC3/IC11 (icParams on the
    // executors), and the dual-path SPARQL closure
    "q_hits", "q_jaccard_approx", "q_ldbc_ic3", "q_ldbc_ic11",
    "q_sparql_path",
    // round-13 waves 4-6: grid interval join, salted join, modularity +
    // stats (and their CALL twins), MG heavy hitters, sssp path
    // reconstruction, GraphSAGE fanout + negative sampling
    "q_interval_join", "q_salted_join", "q_modularity", "q_graph_stats",
    "q_cypher_call_stats", "q_cypher_call_modularity", "q_heavy_hitters",
    "q_sssp_path", "q_neighbor_sample", "q_negative_sample",
    "q_louvain_moves", "q_cypher_call_louvain",
    // round-14-touched: multi-level Louvain (+ CALL twin), the
    // auto-cellWidth interval join, the gated ssspPath distance solve,
    // and the deduped negative sampler (already listed above)
    "q_louvain_levels", "q_cypher_call_louvain_levels",
    // round-14 new rows: biased second-order walks, meet-in-the-middle
    // BFS, CCNet paragraph dedup (+ CALL twins)
    "q_node2vec_walks", "q_cypher_call_node2vec",
    "q_bidir_bfs", "q_cypher_call_bidirbfs", "q_paragraph_dedup",
    "q_canonical_dedup")

  /** Both sessions: the common conf with parallelism pinned to 16. */
  private val pinned: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "16",
    "spark.default.parallelism" -> "16")

  def localSession(): SparkSession = GraftSession.create("local[16]", pinned)

  /** 2 executor JVMs × 8 cores × 8 GiB. The graft classes reach executors
    * via spark.executor.extraClassPath (this class's own code source), and
    * the JDK17 --add-opens set is passed explicitly — executor JVMs are
    * launched by the Worker, not by sbt, so they inherit neither. */
  def clusterSession(): SparkSession = {
    // fail fast with the actual remedy: without these the Worker's
    // executor launch dies with the opaque "Cannot find any build
    // directories" (the launcher probes a source-build layout when the
    // scala version env load-spark-env.sh would export is absent)
    require(sys.env.contains("SPARK_HOME") && sys.env.contains("SPARK_SCALA_VERSION"),
      "ClusterVerify needs SPARK_HOME (e.g. /opt/spark) and " +
      "SPARK_SCALA_VERSION (e.g. 2.13) in the driver JVM's environment — " +
      "the in-JVM Worker builds executor launch commands from the dist")
    val classesDir = getClass.getProtectionDomain.getCodeSource.getLocation.getPath
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")
    GraftSession.create("local-cluster[2,8,8192]", pinned ++ Map(
      "spark.executor.memory" -> "8g",
      "spark.executor.extraClassPath" -> classesDir,
      "spark.executor.extraJavaOptions" -> addOpens))
  }

  /** Canonical cell rendering with float rounding (7 sig figs) so partial
    * aggregation order (which differs across partition placements) cannot
    * flip the compare on last-ulp noise. */
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d == 0.0) "0"
      else String.format(java.util.Locale.ROOT, "%.6e", Double.box(d))
    case f: Float => canon(f.toDouble)
    case d: java.math.BigDecimal => canon(d.doubleValue())
    case d: scala.math.BigDecimal => canon(d.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case s: Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: Map[_, _] =>
      m.toSeq.map { case (k, v2) => canon(k) + ":" + canon(v2) }
        .sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case ts: java.sql.Timestamp => ts.getTime.toString
    case other => other.toString
  }

  /** Sorted-column, sorted-row multiset fingerprint of a result. */
  def snapshot(df: DataFrame): (Seq[String], Seq[String]) = {
    val cols = df.columns.sorted.toSeq
    val rows = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().toSeq
      .map(r => r.toSeq.map(canon).mkString("|"))
      .sorted
    (cols, rows)
  }

  case class RunResult(rows: Int, cols: Seq[String], fp: Seq[String],
                       sec: Double, err: Option[String])

  def runAll(spark: SparkSession, sfDir: String,
             names: Seq[String]): Map[String, RunResult] = {
    val qs = SparkEntry.queries
    names.map { name =>
      val t0 = System.nanoTime()
      val res =
        try {
          val (cols, rows) = snapshot(qs(name)(spark, sfDir))
          RunResult(rows.size, cols, rows, (System.nanoTime() - t0) / 1e9, None)
        } catch {
          case e: Throwable =>
            RunResult(-1, Nil, Nil, (System.nanoTime() - t0) / 1e9,
              Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300)))
        }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      name -> res
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = if (args.length > 1) args(1) else "/tmp/cluster_verify"
    val rest = args.drop(2)
    val freshMv = rest.contains("--fresh-mv")
    val gate = rest.contains("--gate")
    val names0 = rest.filterNot(_.startsWith("--")).toSeq
    val names =
      if (names0.nonEmpty) names0
      else if (gate) GateQueries
      else DefaultQueries
    new java.io.File(outDir).mkdirs()

    // optionally drop the shared-MV cache so the CLUSTER run builds every
    // materialized projection with separate-JVM executors (not just reads
    // a local-mode-built one)
    if (freshMv) {
      val mvRoot = new java.io.File(
        s"${System.getProperty("java.io.tmpdir")}/graft_mv")
      if (mvRoot.isDirectory) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(mvRoot)
        System.err.println(s"[cluster] dropped MV cache ${mvRoot.getPath}")
      }
    }

    // ---- pass 1: separate-JVM executors -------------------------------
    val cs = clusterSession()
    val execInfos = {
      // wait for both executors to register before timing anything
      val deadline = System.currentTimeMillis() + 60000
      var infos = cs.sparkContext.statusTracker.getExecutorInfos
      while (infos.length < 3 && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        infos = cs.sparkContext.statusTracker.getExecutorInfos
      }
      infos
    }
    val clusterMeta = Map(
      "master" -> cs.sparkContext.master,
      "isLocal" -> cs.sparkContext.isLocal.toString,
      "executors" -> execInfos.map(_.host()).mkString(","),
      "nExec" -> (execInfos.length - 1).toString) // minus driver entry
    System.err.println(s"[cluster] $clusterMeta")
    require(!cs.sparkContext.isLocal, "cluster session reports isLocal")
    val clusterRes = runAll(cs, sfDir, names)
    cs.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()

    // ---- pass 2: the local-mode regime the oracle gate runs in --------
    val ls = localSession()
    val localRes = runAll(ls, sfDir, names)
    ls.stop()

    // ---- compare -------------------------------------------------------
    val lines = names.map { n =>
      val l = localRes(n); val c = clusterRes(n)
      val status =
        if (l.err.isDefined) s"LOCAL_ERR ${l.err.get}"
        else if (c.err.isDefined) s"CLUSTER_ERR ${c.err.get}"
        else if (l.cols != c.cols) s"SCHEMA ${l.cols} vs ${c.cols}"
        else if (l.rows != c.rows) s"ROWS ${l.rows} vs ${c.rows}"
        else {
          val diff = l.fp.zip(c.fp).indexWhere { case (a, b) => a != b }
          if (diff >= 0)
            s"CELL row $diff: ${l.fp(diff).take(80)} vs ${c.fp(diff).take(80)}"
          else "match"
        }
      (n, l, c, status)
    }
    val nOk = lines.count(_._4 == "match")

    def j(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    // Locale.ROOT: the f-interpolator uses the default locale, and a
    // comma-decimal JVM would emit invalid JSON ("local_sec": 1,234).
    def secs(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val json = lines.map { case (n, l, c, st) =>
      s"${j(n)}: {\"rows\": ${l.rows}, \"local_sec\": ${secs(l.sec)}, " +
        s"\"cluster_sec\": ${secs(c.sec)}, \"status\": ${j(st)}}"
    }.mkString(
      s"""{"meta": {${clusterMeta.map { case (k, v) => s"${j(k)}: ${j(v)}" }.mkString(", ")}, "match": $nOk, "total": ${names.size}, "sf": ${j(sfDir)}},\n"queries": {""",
      ",\n", "}}")
    Files.writeString(Paths.get(s"$outDir/cluster_verify.json"), json)

    lines.foreach { case (n, l, c, st) =>
      println(f"$n%-28s rows=${l.rows}%-7d local=${l.sec}%6.2fs cluster=${c.sec}%6.2fs  $st")
    }
    println(s"\n[cluster-verify] $nOk/${names.size} match  " +
      s"(master=${clusterMeta("master")}, executors=${clusterMeta("nExec")}, " +
      s"isLocal=${clusterMeta("isLocal")})")
    if (nOk != names.size) sys.exit(2)
  }
}
