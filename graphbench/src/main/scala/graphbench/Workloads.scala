package graphbench

/** The benchmark's workloads, as catalog statement names.
  *
  * Each run pays a cold JVM, the graph load and one warm-up execution per
  * statement, and the whole series of runs has a fixed time budget, so each
  * workload keeps 9-13 statements that cover its layers instead of its
  * whole catalog class, and reads only the TPC-H graph: the SNB and FinBench
  * loads would add about 10 s and 8 s (load plus first statement) to every
  * run. At sf0.01 these statements take 0.1-0.8 s warm, dominated by
  * per-job overhead rather than data size.
  */
object Workloads {
  val all: Map[String, Seq[String]] = Map(
    // Read-only Cypher over the TPC-H graph: parse, translate and Catalyst
    // planning do most of the work.
    "cypher_read" -> Seq(
      "q_cypher_match_agg", "q_cypher_with_topk", "q_cypher_where_str", "q_cypher_skip_limit",
      "q_cypher_path_rels", "q_cypher_varlength", "q_cypher_unwind", "q_cypher_case",
      "q_cypher_optional"),
    // Library algorithms and vector search, no Cypher: iterative rounds,
    // the LocalKernels gate, checkpoints and shuffles do the work.
    "graph_analytics" -> Seq(
      "q_pagerank", "q_wcc", "q_cdlp", "q_lcc", "q_sssp", "q_bfs", "q_triangle_count", "q_kcore",
      "q_louvain_moves", "q_scc", "q_betweenness", "q_knn_exact", "q_knn_filtered"),
    // Mutations that derive new graphs from the same per-label tables the
    // reads use: a read-side cache that costs upkeep on writes shows here.
    "graph_write" -> Seq(
      "q_cypher_write_create", "q_cypher_create_return", "q_cypher_write_set", "q_cypher_write_merge",
      "q_cypher_foreach", "q_create", "q_set", "q_delete", "q_merge"))
}
