package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, Window}
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.internal.SQLConf

/** Dump `explain("formatted")` for representative catalog queries →
  * PLANS.md. The point is auditability of the SCALE properties: pushed
  * filters / pruned columns at the scans, broadcast vs shuffle joins,
  * whole-stage codegen spans, leaf (LogicalRDD) cuts inside iterative
  * kernels. Usage: runMain graft.Plans <sfDir> <outFile>. Generation
  * fails on a plan-shape regression ([[shapeViolations]]; PlanShapeSpec
  * runs the same guards in the test suite). */
object Plans {
  /** Per-round bodies of the checkpoint-looped kernels: (catalog query,
    * kernel as offered to RoundCapture, audited round, what to look for).
    * The audited round is 2 except for q_ktruss, whose co-purchase slice
    * already is a 5-truss at sf0.001 (minimum edge support 13), so its
    * loop stops after round 1 there, and the SCC color round, which sees
    * no vertex on the q_scc DAG and stops after round 1. */
  val roundPicks: Seq[(String, String, Int, String)] = Seq(
    ("q_pagerank", "pagerank", 2, "the last round's vertex-sized rank-join-outdeg leaf feeds the dangling broadcast 1-row aggregate AND the contribution join; update is a left join + projection, joined to out-degree again for the next round's leaf"),
    ("q_wcc", "wcc", 2, "one edge-join + min aggregate (nbr minimum), one full-outer vertex merge - both vertex-sized exchanges, edge leaf reused"),
    ("q_cdlp", "cdlp", 2, "one label x edge join + (dst, label) count aggregate, argmax as struct-max hash aggregate - NO window over the graph"),
    ("q_sssp", "sssp", 2, "one dist x edge join + per-dst min aggregate + full-outer merge with least() - Bellman-Ford relaxation round"),
    ("q_hits", "hits", 2, "fused round: hub-sums x edge join + per-dst sum (auth sums) feeding a second edge join + per-src sum (hub sums) - one plan, no normalizer; the L1 divides ride once after the loop"),
    ("q_louvain_moves", "louvain_moves", 2, "ONE community-degree aggregate + ONE map-side-combined neighbor-community count + struct-max argmax - no windows, no driver value"),
    ("q_louvain_levels", "louvain_weighted", 2, "same shape as louvain_moves with weight sums over the CONTRACTED super-node graph (level 2)"),
    ("q_pagerank_weighted", "pagerank_weighted", 2, "same loop as pagerank with weight sums: contribution = rank / out-weight x edge weight"),
    ("q_ppr", "ppr", 2, "same loop as pagerank with the teleport and dangling shares landing on the seeds (an IN predicate, no join)"),
    ("q_bfs", "bfs", 2, "one frontier x edge join + distinct + left-anti join against the union of earlier level leaves"),
    ("q_harmonic_centrality", "harmonic", 2, "multi-source BFS: the (seed, node) frontier x edge join + distinct + left-anti join on (seed, node) against earlier levels - all seeds in one join"),
    ("q_betweenness", "betweenness", 2, "Brandes forward level: frontier x edge join, left-anti join against earlier levels, sigma summed per (seed, node) in one hash aggregate"),
    ("q_bidir_bfs", "bidir_bfs", 2, "both (pair, side) frontiers in one join against the symmetrized edge leaf + min-dist aggregate + left-anti join against the visited levels"),
    ("q_kcore", "kcore", 2, "one degree hash aggregate on the kept edges, joined back onto both endpoints to mark the edges that stay"),
    ("q_ktruss", "ktruss", 1, "per-edge support: degree-oriented adjacency intersection + one exploded hash aggregate charging each triangle to its 3 edges, joined back onto the edge leaf"),
    ("q_scc", "scc_color", 1, "coloring SCC, forward min-color round: color x edge join + per-dst min aggregate, left-joined back onto the colors (round 1: the q_scc slice is a DAG, which the trim rounds empty before a second color round)"),
    ("q_cypher_varlength", "varlength", 2, "var-length frontier: last level x edge join + distinct + left-anti join on (start, node) against the union of earlier levels"),
    ("q_cypher_shortestpath", "paths", 2, "targeted path frontier: the last level minus the starts whose reached (start, node) pairs cover every target (a per-start distinct count against a literal), x edge join, left-anti join on (start, node), per-(start, node) struct-min witness"),
    ("q_betweenness", "betweenness_back", 2, "Brandes backward level: level d x edge join x the delta leaf of level d+1 on (seed, node), sigma-ratio sum per (seed, node), left-joined back onto level d"),
    ("q_sssp_path", "sssp_path", 2, "ssspPath walk: the last vertex x the parent leaf x the distance leaf, one row per round"),
    ("q_mst", "mst", 2, "Boruvka contraction: the component map left-joined to the wcc labels of the round's picked component pairs (the pick - a crossing-edge join + struct-min hash aggregate - and the wcc are leaves of their own)"),
    ("q_maxflow", "maxflow_bfs", 2, "augmenting-path BFS level: the last level (dropped once it holds the sink, a one-row scalar ride) x the spare residual slots, struct-min parent per vertex, left-anti join against the earlier levels"))

  /** The plan-shape guards; empty when `df`'s plan passes.
    *
    * A round body (`roundBody = true`, a RoundCapture frame) may hold no
    * Window over the graph, no CartesianProduct, and no cross join unless
    * one side has at most one row — a BroadcastNestedLoopJoin is legal ONLY
    * as the crossJoin(broadcast(<no-grouping aggregate>)) scalar ride.
    *
    * Any other plan (the node2vec walk loop: one lazy plan with no per-hop
    * checkpoints, so its final plan IS the per-hop audit) may hold no
    * UNPARTITIONED Window: every window must be partitioned by the walker
    * key (one walker's candidate list per partition, bounded by max degree,
    * never a global sort). A window itself is allowed there: the r15
    * same-JVM A/B measured the aggregate-HOF pick 5x slower than the
    * partitioned window (OPTIMIZATION_r15.md). */
  def shapeViolations(df: DataFrame, roundBody: Boolean): Seq[String] = {
    val logical = df.queryExecution.optimizedPlan.collect {
      case _: Window if roundBody => "a Window"
      case w: Window if w.partitionSpec.isEmpty => "an unpartitioned (global) Window"
      case j: Join if roundBody && j.condition.isEmpty &&
          !(j.left.maxRows.exists(_ <= 1) || j.right.maxRows.exists(_ <= 1)) =>
        "a cross join with no <=1-row side"
    }
    val physical =
      if (!roundBody) Nil
      else df.queryExecution.sparkPlan.collectWithSubqueries {
        case _: CartesianProductExec => "a CartesianProduct"
      }
    (logical ++ physical).distinct
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    // the dumps audit the DISTRIBUTED shapes — at sf0.001 every gated
    // kernel would otherwise route in-task and the plan would be one
    // opaque mapPartitions (same pin as the soak harness). Plan strings
    // stay whole: the longest dump (q_pipeline_e2e) exceeds the common cap.
    val spark = GraftSession.create(conf = Map(
      "spark.graft.algo.localSizeBytes" -> "0",
      SQLConf.MAX_PLAN_STRING_LENGTH.key -> SQLConf.MAX_PLAN_STRING_LENGTH.defaultValueString))
    spark.sparkContext.setLogLevel("ERROR")

    val picks: Seq[(String, String)] = Seq(
      "q_scan_filter" -> "label scan + pushed predicate: PushedFilters reach the parquet scan; only referenced columns in ReadSchema",
      "q_expand_2hop" -> "two-hop expand: joins stay inside whole-stage codegen; the small side broadcasts",
      "q_expand_2hop_bucketed" -> "same 2-hop over the bucketed layout: every edge-table FileScan shows Bucketed: true and sits DIRECTLY under its join (no Exchange above a raw scan) - the 100 TB side is consumed in stored distribution, only derived frontiers move",
      "q1_agg" -> "hash aggregate with partial (map-side) combine before the exchange",
      "q_top_k" -> "ORDER BY + LIMIT compiles to TakeOrderedAndProject - no global sort",
      "q_knn_exact" -> "brute-force cosine top-k: one scan, NATIVE graft_dot Catalyst expression (single tree node, codegen loop via GraftExtensions), TakeOrderedAndProject",
      "q_ngram_jaccard" -> "inverted-index shingle join (no all-pairs cross join) with doc-frequency stop-shingle cap",
      "q_cypher_match_agg" -> "Cypher pipeline end-to-end: per-label table scan -> broadcast join -> partial agg -> top-k",
      "q_cypher_wco_cycle" -> "WCO cycle close: the last two hops fuse into adjacency-array builds + per-row array_intersect (explode of true cycle rows only) instead of a wedge-materializing third join",
      "q_decontaminate" -> "benchmark decontamination: the probe shingle side is a BroadcastExchange - the corpus side never shuffles for the match; the only exchange feeds the per-(doc, probe) hit aggregate",
      "q_quality_gopher" -> "Gopher rules: one parquet scan, all rule flags in a single codegen projection; the only exchange is the presentation ORDER BY",
      "q_doc_chunk" -> "sliding-window chunking: generate+explode projection per row (no join, no aggregate); ReadSchema prunes to (doc_id, text)",
      "q_walk_sample" -> "deterministic walks: adjacency-list aggregate once, then each hop joins the one-row-per-walker frontier against it",
      "q_lm_perplexity" -> "bigram-LM scoring: the LM is two hash aggregates over the exploded bigram stream and scoring is a shuffle join on the bigram key - the model never needs to fit in one place (no broadcast LM)",
      "q_bm25" -> "BM25 ranking: tf/df hash aggregates, corpus N/avgdl as a broadcast 1-row aggregate, top-k via TakeOrderedAndProject - no global sort",
      "q_epoch_shuffle" -> "deterministic epoch shuffle: pure arithmetic projection + one exchange on shard; at scale this is partitionBy(shard) + sortWithinPartitions",
      "q_var_length" -> "var-length expand over the materialized graph MV: one parquet leaf with real size stats routes the in-task kernel from the estimate alone (no per-query count job)",
      "q_ldbc_bi11" -> "seeded correlated NOT-EXISTS (SNB BI-11): the subquery starts from the DISTINCT (reply, post) anchor pairs and closes with the WCO adjacency-intersection fusion - no unanchored HAS_CREATOR x HAS_INTEREST x HAS_TAG wedge ever exists as rows; every edge scan shows PartitionFilters on relationship (the hive-partitioned edge MV)",
      "q_ldbc_is3" -> "SNB point lookup + 1-hop: the Person scan prunes by labelset partition AND pushes id=101; the KNOWS scan reads only its relationship directory (PartitionFilters), both joins broadcast",
      "q_finbench_cr7" -> "FinBench 2-hop transfer chain: both TRANSFER scans read only their relationship directory of the edge MV; the point-anchored side collapses to a broadcast, so the unanchored upstream hop is the only shuffled input",
      "q_substring_dedup" -> "exact substring dedup: k-token windows are a transform+posexplode PROJECTION per doc (no join builds them); corpus-repeated windows are ONE hash aggregate on the window key; span coverage is a distinct-count aggregate after the window-key join - shuffle volume is the window count, never all-pairs",
      "q_embedding_centroid" -> "group-wise renormalized centroids: posexplode then a (group, dim) hash aggregate whose partial_avg runs map-side, so the exchange carries groups x dim cells, not vectors; the per-group norm joins back as a BroadcastHashJoin",
      "q_ppr" -> "personalized PageRank (distributed twin): the edge relation shuffles ONCE into a checkpointed leaf (LogicalRDD) consumed by every round; per round the only exchanges are vertex-sized (rank join + contrib aggregate) and the dangling mass is a broadcast 1-row aggregate inside the plan - no driver-side value in the loop",
      "q_adamic_adar" -> "seeded Adamic-Adar: the degree cap joins onto the SEEDED s1 side BEFORE the wedge join, so over-cap hubs never materialize fan-out rows; the seed filter is an isin pushed at the symmetrized-edge leaf and the final top-k is TakeOrderedAndProject",
      "q_dsir_resample" -> "DSIR importance resampling: hashed n-gram features are a per-row transform+explode; the bucket LM collapses to <=4096 rows in ONE hash aggregate and returns as a BroadcastHashJoin onto the feature stream; the Gumbel top-k threshold is TakeOrderedAndProject + a broadcast 1-row aggregate - no global window or sort anywhere",
      "q_pack_harmonic" -> "harmonic no-split packing: one scan computes (n_tokens, fit-class); the only exchange feeds windows PARTITIONED BY (shard, class) - parallelism shards x classes, nothing global",
      "q_incremental_dedup" -> "incremental ingestion gate: batch and corpus shingle streams meet in an inverted-index join on the shingle key (shuffle ~ shingle volume, never all-pairs); best match per batch doc is ONE composite-min-key hash aggregate - no window over the corpus",
      "q_harmonic_centrality" -> "multi-source BFS: every round is one join of the (seed, node) frontier against the checkpointed edge leaf (LogicalRDD) - all seeds advance together, no per-seed job fan-out; the harmonic score is one hash aggregate",
      "q_betweenness" -> "sampled-source Brandes: forward levels are checkpointed leaves (LogicalRDD) carrying sigma; each backward round joins level d against the level-d+1 delta table on the edge key - the shortest-path DAG is replayed one level per round, never per-seed jobs; BC is one final hash aggregate",
      "q_jaccard_sim" -> "seeded Jaccard node similarity: the wedge join is bounded by the seeded s1 side (isin pushed at the symmetrized leaf); exact degrees join back onto the per-pair intersection aggregate and the top-k is TakeOrderedAndProject",
      "q_ktruss" -> "bounded-round k-truss: per-edge support from the degree-oriented adjacency intersection (the wedge set never shuffles as rows) + one exploded hash aggregate charging each triangle to its 3 edges with partial (map-side) combine; each peel round ends in a checkpointed edge leaf",
      "q_semdedup" -> "SemDeDup: every Lloyd assignment is a BroadcastNestedLoopJoin of the k x dim centroid table against the vector scan reduced by ONE struct-max hash aggregate (no per-vector window); the update is the posexplode (cluster, dim) aggregate; the in-cluster pair join shuffles on the cluster id only",
      "q_nb_quality" -> "naive-Bayes quality: one explode + hash aggregate trains the token log-odds as a DISTRIBUTED table; class totals and the prior are broadcast 1-row aggregates; scoring re-joins the exploded token stream on the token key - shuffle ~ token count, model never on the driver",
      "q_weighted_sample" -> "Efraimidis-Spirakis weighted sampling: key = ln(u)/w as a codegen'd projection; the k-th composite key is TakeOrderedAndProject + a broadcast 1-row max - selection never becomes a global sort or window",
      "q_pagerank_weighted" -> "weighted PageRank: the multiplicity-weighted co-purchase MV is a parquet leaf; per round one vertex-sized rank-join-outweight cut feeds both the dangling broadcast aggregate and the contribution join - same audited shape as the unweighted twin",
      "q_skew_report" -> "key-skew report: ONE map-side-combined count aggregate, a broadcast 1-row total, TakeOrderedAndProject for the top-k; the rank window sees only the k survivors",
      "q_pipeline_e2e" -> "composed corpus-prep chain: gate/cluster/keep-best/split/sample fuse into ONE plan - the near-dup pair MV is a parquet leaf consumed once, the ES sample threshold is TakeOrdered + broadcast 1-row max, no driver round-trips between stages",
      "q_hits" -> "HITS hubs & authorities: the deduped directed edge set is ONE checkpointed leaf (LogicalRDD); normalization is DEFERRED out of the loop (the L1 scalars cancel through the linear half-steps), so each round is ONE plan - auth sums feeding hub sums, two joins + two hash aggregates, no normalizer joins or scalar broadcasts - ending in one vertex-sized checkpoint; the single end-of-loop divide is a broadcast 1-row sum",
      "q_interval_join" -> "grid-bucketed interval overlap: both sides explode into fixed-width cells and meet in an ORDINARY hash join on the cell id - no BroadcastNestedLoopJoin anywhere in the plan (the raw range condition's fate); the overlap-start filter keeps each pair exactly once with no dedup exchange",
      "q_salted_join" -> "salted skew join: the join runs on (key, salt) - the big side's exchange spreads the hot key over 8 sub-keys (salt = per-row hash), the small side explodes x8 BEFORE its exchange; the aggregate after is an ordinary partial-combined hash aggregate",
      "q_heavy_hitters" -> "two-pass Misra-Gries: pass 1 is one mapPartitions over the token scan (bounded k-counter state, NO exchange before it); the only shuffles are the candidate distinct and the pass-2 recount whose aggregate is semi-join-pruned to <= k*partitions keys - the full token cardinality never crosses the wire",
      "q_jaccard_approx" -> "MinHash-over-neighbor-sets: ONE hash aggregate builds all 64 signature minima; the banded candidate join is a self-join on (band, bucket) hash keys - bucket-bounded, never all-pairs; the planted-truth semi-join broadcasts the small truth side",
      "q_neighbor_sample" -> "GraphSAGE fanout: per-src PARTITIONED windows (exchange on src, never a global sort); layer 2's edge scan is semi-join-pruned by the sampled layer-1 frontier before its window",
      "q_louvain_moves" -> "Louvain local moves: per round ONE community-degree hash aggregate + ONE map-side-combined neighbor-community count + a struct-max argmax; each round ends in a checkpointed vertex-sized leaf (LogicalRDD) - no windows over the graph, no driver value in the loop",
      "q_node2vec_walks" -> "node2vec biased walks: adjacency lists aggregate ONCE (checkpointed leaf); per hop the candidate list explodes as a projection (sum deg rows, never deg^2 in-task work), the common-neighbor mark is an ordinary hash join against the edge leaf on (prev, candidate), and the weighted pick is a window PARTITIONED BY the walker - one exchange on the walker key, nothing global, a partition = one walker's candidate list (<= max degree, the same bound an aggregate buffer would hold); the r15 A/B measured the collect_list+aggregate-HOF alternative 5x slower, so the window IS the optimized form here",
      "q_bidir_bfs" -> "bidirectional BFS: each round expands BOTH (pair, side) frontiers with one join against the checkpointed edge leaf + an anti-join against visited - frontier depth is HALF the search depth per side; the meet is one visited-x-visited hash join + min aggregate, all pairs ride the same per-round job",
      "q_paragraph_dedup" -> "CCNet paragraph dedup: paragraphs are a transform+posexplode PROJECTION; the first-occurrence election is ONE min(struct) aggregate (SortAggregate - struct min is not hash-aggregable - but the PARTIAL combine still runs map-side, so the exchange is bounded by DISTINCT paragraphs and hot boilerplate collapses before it moves); join-back on the paragraph key + one reassembly aggregate - no window over the exploded corpus")

    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of representative catalog queries\n\n")
    sb.append(s"Generated by `runMain graft.Plans $sfDir` (Spark " +
      s"${spark.version}, AQE on). What to look for in each plan is noted " +
      "above it; full inventory in SURVEY.md §2.\n")
    picks.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (name == "q_node2vec_walks") {
        val bad = shapeViolations(df, roundBody = false)
        require(bad.isEmpty, s"[plans] $name contains ${bad.mkString(", ")} — per-walker partitioning regressed")
      }
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      sb.append("\n```\n")
    }

    // ---- per-round bodies of the checkpoint-looped kernels ---------------
    // Every distributed loop round ends in a localCheckpoint, so the final
    // plan above collapses to `Scan ExistingRDD` and pins NOTHING about the
    // loop. RoundCapture grabs round 2's PRE-checkpoint DataFrame (its
    // inputs are themselves round-1 leaves; round 1 where the pick names
    // it) while the catalog query runs; the dumps below are the audited
    // per-round shapes.
    sb.append("\n# Round bodies — iterative kernels, pre-checkpoint\n\n")
    sb.append("Captured via graft.algo.RoundCapture while the catalog query " +
      "builds its (eagerly checkpointing) loop; audited here: no Window / " +
      "CartesianProduct / BroadcastNestedLoopJoin in any round body.\n")
    roundPicks.foreach { case (query, kernel, round, note) =>
      val caps = graft.algo.RoundCapture.capturing {
        SparkEntry.queries(query)(spark, sfDir)
      }
      val df = caps.getOrElse((kernel, round),
        sys.error(s"[plans] round-$round capture missing for kernel '$kernel' via $query"))
      val bad = shapeViolations(df, roundBody = true)
      require(bad.isEmpty,
        s"[plans] round body of '$kernel' contains ${bad.mkString(", ")} — per-round shape regression")
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"\n## round-body: $kernel round $round (via $query)\n\n$note\n\n```\n")
      sb.append(plan)
      sb.append("\n```\n")
    }

    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[plans] wrote $out")
    spark.stop()
  }
}
