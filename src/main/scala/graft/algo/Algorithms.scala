package graft.algo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

/** Graph algorithms (`CALL algo.*`, reference dispatch
  * `src/query/executor/operator.rs:6303-6959`, kernels in
  * `crates/samyama-graph-algorithms/`), re-expressed as iterative DataFrame
  * programs rather than a port of the reference's CSR kernels.
  *
  * Design for scale: every iteration is a shuffle-join on the edge table
  * keyed by src/dst — the natural distributed formulation. The loops run
  * on [[Rounds]], which cuts each round to an eager localCheckpoint leaf
  * (so N iterations do not build an N-deep plan), offers the round to
  * [[RoundCapture]] and probes the leaf for emptiness to halt.
  *
  * Inputs are edge DataFrames with `src`/`dst` (+ optional `weight`) columns.
  */
object Algorithms {

  /** Observability for the fixpoint early-exit specs ONLY: the round index
    * the most recent distributed Louvain move loop last executed (< its
    * `rounds` argument exactly when the two-no-move-round fixpoint fired).
    * Plain volatile — specs run their assertions single-threaded. */
  @volatile private[graft] var lastLouvainMoveRounds: Int = 0

  private def verts(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id")).unionAll(edges.select(col("dst").as("id"))).distinct()

  /** Frees the cached blocks behind a `localCheckpoint(true)` DataFrame.
    * The checkpointed Dataset's logical plan is a LogicalRDD over the
    * persisted RDD — `Dataset.unpersist` only touches CacheManager entries,
    * so the checkpoint's MEMORY_AND_DISK blocks must be dropped on the RDD
    * itself. Non-blocking; a no-op on non-checkpointed plans. */
  private[graft] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** PageRank (reference kernel `samyama-graph-algorithms/src/pagerank.rs:35`):
    * standard damped power iteration with dangling-mass redistribution.
    * Returns (id, rank). Small inputs route to the in-task kernel
    * ([[LocalKernels]]) — one job instead of ~2 per iteration; the
    * distributed loop below is the at-scale path. */
  def pageRank(edges: DataFrame, iterations: Int = 20, damping: Double = 0.85): DataFrame = {
    val (e, small) = LocalKernels.gate(edges)
    if (small) LocalKernels.pageRank(e, iterations, damping)
    else pageRankDistributed(e, iterations, damping)
  }

  private[graft] def pageRankDistributed(edges: DataFrame, iterations: Int = 20,
                                         damping: Double = 0.85): DataFrame =
    pageRankRounds("pagerank",
      edges.select(col("src"), col("dst"), lit(1.0).as("weight")), iterations, damping)

  /** WEIGHTED PageRank (the GDS relationshipWeightProperty variant; the
    * reference's pageRank is unweighted): a vertex distributes its rank
    * over out-edges proportionally to edge weight — contribution =
    * rank · w(e) / W(v) with W(v) the out-weight sum; [[pageRank]] is the
    * weight-1 case of the same loop. Input: (src, dst, weight > 0). */
  def pageRankWeighted(edges: DataFrame, iterations: Int = 20,
                       damping: Double = 0.85): DataFrame = {
    // small inputs route in-task like the unweighted twin — the per-round
    // join jobs are pure scheduling overhead on a sub-64MB edge set
    val (e0, small) = LocalKernels.gate(
      edges.select(col("src"), col("dst"), col("weight")))
    if (small) LocalKernels.pageRankWeighted(e0, iterations, damping)
    else pageRankWeightedDistributed(e0, iterations, damping)
  }

  private[graft] def pageRankWeightedDistributed(edges: DataFrame, iterations: Int = 20,
                                                 damping: Double = 0.85): DataFrame =
    pageRankRounds("pagerank_weighted", edges, iterations, damping)

  /** Personalized PageRank: teleport AND dangling mass return to the SEED
    * set (uniform over seeds) instead of all vertices — the
    * recommendation/similarity variant (beyond parity: the reference ships
    * only global pageRank). Same loop as [[pageRank]] with the teleport
    * share moved onto the seeds. Seeds are a k-bounded literal list (an IN
    * predicate), not a join — callers pass a handful of ids. Fixed
    * iteration count, so a DuckDB oracle unrolls the same rounds as chained
    * CTEs (like pageRank). Small inputs route to the in-task kernel
    * ([[LocalKernels.personalizedPageRank]]). */
  def personalizedPageRank(edges: DataFrame, seeds: Seq[Long],
                           iterations: Int = 8,
                           damping: Double = 0.85): DataFrame = {
    require(seeds.nonEmpty, "personalizedPageRank needs at least one seed")
    // Dedup: a repeated id must not double its teleport share (ns counts
    // the SET the isin membership tests against, or mass stops summing to 1).
    val sd = seeds.distinct
    val (e0, small) = LocalKernels.gate(edges)
    if (small) LocalKernels.personalizedPageRank(e0, sd, iterations, damping)
    else personalizedPageRankDistributed(e0, sd, iterations, damping)
  }

  private[graft] def personalizedPageRankDistributed(
      edges: DataFrame, seeds: Seq[Long],
      iterations: Int, damping: Double): DataFrame =
    pageRankRounds("ppr", edges.select(col("src"), col("dst"), lit(1.0).as("weight")),
      iterations, damping, seeds.distinct)

  /** The one distributed PageRank loop: damped power iteration over
    * (src, dst, weight) with dangling-mass redistribution. Random jumps and
    * dangling mass land uniformly on every vertex, or on `seeds` when given
    * (personalized). Weight ≤ 0 or null is not an edge: without the filter
    * a null weight nulls rank/W(v) and the sum() silently LEAKS that
    * vertex's rank mass every iteration (neither dangling nor
    * contributing). */
  private def pageRankRounds(kernel: String, edges: DataFrame, iterations: Int,
                             damping: Double, seeds: Seq[Long] = Nil): DataFrame = {
    // hash-partition the edge table by join key ONCE (iterations reuse the
    // partitioning), and cut it to a LEAF with an eager localCheckpoint
    // (LogicalRDD keeps the partitioning). persist() would keep the full
    // lineage inside an InMemoryRelation: every iteration's plan then nests
    // it several times, and AQE re-stringifies the whole tree per stage
    // update (regex per node, single-threaded on the driver) — plan-string
    // building, not execution, became the bottleneck at 8 iterations.
    val e = edges.select(col("src").as("_esrc"), col("dst").as("_edst"),
      col("weight").cast("double").as("_ew"))
      .filter(col("_ew") > 0)
      .repartition(col("_esrc"))
      .localCheckpoint(true)
    val v = e.select(col("_esrc").as("id")).unionAll(e.select(col("_edst").as("id")))
      .distinct().localCheckpoint(true)
    val outW = e.groupBy(col("_esrc")).agg(sum(col("_ew")).as("_ow"))
      .withColumnRenamed("_esrc", "_owid").localCheckpoint(true)
    val nt = if (seeds.isEmpty) v.count().toDouble else seeds.size.toDouble
    def teleport(x: Column): Column =
      if (seeds.isEmpty) x else when(col("id").isin(seeds: _*), x).otherwise(lit(0.0))
    // Round r's leaf is the vertex-sized rank⋈out-weight table of round
    // r-1's ranks: it feeds BOTH the dangling-mass aggregate and the
    // contribution join of round r's update, one eager materialization
    // instead of recomputing the join twice; the last update stays lazy.
    // (Round 5 measured the every-other-round cut here: the doubly-
    // referenced recompute on uncut rounds costs MORE than the job boundary
    // it saves — 4.45s vs 3.9s at sf0.1 — so this stays a per-round cut.)
    def withOutW(ranks: DataFrame): DataFrame =
      ranks.join(outW, col("id") === col("_owid"), "left")
        .select(col("id"), col("rank"), col("_ow"))
    // mass of dangling nodes (no out-edges), spread like the teleport —
    // computed INSIDE the plan (broadcast 1-row aggregate), not as a driver
    // action: one job per iteration instead of three
    def update(withW: DataFrame): DataFrame = {
      val danglingDf = withW.filter(col("_ow").isNull)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("_dmass"))
      val contribs = withW.filter(col("_ow").isNotNull)
        .select(col("id"), (col("rank") / col("_ow")).as("_rw"))
        .join(e, col("id") === col("_esrc"))
        .groupBy(col("_edst")).agg(sum(col("_rw") * col("_ew")).as("recv"))
        .withColumnRenamed("_edst", "vid")
      v.join(contribs, col("id") === col("vid"), "left")
        .crossJoin(broadcast(danglingDf))
        .select(col("id"),
          (teleport(lit((1 - damping) / nt)) + lit(damping) *
            (coalesce(col("recv"), lit(0.0)) + teleport(col("_dmass") / nt))).as("rank"))
    }
    val ranks0 = v.withColumn("rank", teleport(lit(1.0 / nt)))
    val last = Rounds.fold(kernel, iterations, ranks0) { (r, prev) =>
      withOutW(if (r == 1) prev else update(prev))
    }
    if (iterations < 1) last else update(last)
  }

  /** Adamic–Adar link-prediction scores for a set of SOURCE vertices:
    * for each non-adjacent pair (x, y) with x in `sources`, score =
    * Σ over common neighbors z of 1/ln(deg(z)) — the classic
    * rare-common-neighbors-matter feature. Returns top-k by
    * (rounded score desc, x, y).
    *
    * Seeded on purpose: the production shape is "recommend for these
    * users", which bounds the wedge join to Σ_{z∈N(x)} deg(z) per source
    * instead of the full Σ deg(z)² — hubs never materialize all-pairs.
    * `maxCommonDeg` additionally drops common neighbors above a degree
    * cap (each contributes ≤ 1/ln(cap); at web scale a celebrity in
    * common carries no signal and its wedge fan-out dominates cost).
    * Input: src/dst pairs; symmetrized + de-duped here. */
  def adamicAdar(edges: DataFrame, sources: Seq[Long], topK: Int = 20,
                 maxCommonDeg: Long = 10000): DataFrame = {
    require(sources.nonEmpty, "adamicAdar needs at least one source vertex")
    // canonicalize BEFORE the dedup, symmetrize after (guide §2.3, same
    // r15 change as bidirectionalBfs): the distinct exchange and the
    // checkpoint carry |E| canonical pairs, not 2|E| directed rows; the
    // flip-union introduces no duplicates, so deg counts and wedge sets
    // are identical to the directed-union-distinct form
    val und = edges.select(least(col("src").cast("long"), col("dst").cast("long")).as("a"),
        greatest(col("src").cast("long"), col("dst").cast("long")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true) // consumed by deg, both wedge sides, anti-join
    val sym = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a").as("z")).agg(count(lit(1)).as("d"))
      .filter(col("d") <= maxCommonDeg)
    // Cap BEFORE the wedge join: deg joins onto the seeded (small) side, so
    // wedges through over-cap hubs are pruned pre-fan-out and never
    // materialize — s1 also carries d along for the score, one join total.
    val s1 = sym.select(col("a").as("z"), col("b").as("x"))
      .filter(col("x").isin(sources: _*))
      .join(deg, "z")
    val s2 = sym.select(col("a").as("z"), col("b").as("y"))
    val scores = s1.join(s2, "z").filter(col("x") =!= col("y"))
      .groupBy(col("x"), col("y"))
      .agg(sum(lit(1.0) / log(col("d"))).as("score"))
    val existing = sym.select(col("a").as("x"), col("b").as("y"))
    scores.join(existing, Seq("x", "y"), "left_anti")
      .select(col("x"), col("y"),
        graft.functions.CypherFunctions.roundC(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("x"), col("y"))
      .limit(topK)
  }

  /** HITS hubs & authorities (Kleinberg 1999), sum-normalized per
    * iteration (L1 keeps the oracle SQL exact; the hub/authority RANKING
    * is identical under any positive normalization): auth(v) = Σ_{u→v}
    * hub(u), hub(u) = Σ_{u→v} auth(v), each divided by its global sum.
    *
    * Same audited iterative shape as pageRank: the deduped edge relation
    * is ONE checkpointed leaf and each round is ONE fused plan (auth sums
    * feeding hub sums) ending in one vertex-sized checkpoint — the L1
    * normalization is deferred out of the loop entirely (the scalars
    * cancel through the linear half-steps; see the in-loop comment) and
    * applied once at the end as broadcast 1-row sums. No driver-side
    * value in the loop. Small inputs
    * route to the in-task kernel ([[LocalKernels.hits]]) like the other
    * linear-pass iteratives — 12 sequential half-step jobs are pure
    * scheduling overhead on a sub-64MB graph (r13: q_hits 16.3 s → sub-s
    * at sf0.1). Returns (id, hub, auth) for every vertex. */
  def hits(edges: DataFrame, iterations: Int = 6): DataFrame = {
    require(iterations > 0, s"iterations must be positive, got $iterations")
    val (e0, small) = LocalKernels.gate(edges.select(col("src"), col("dst")))
    if (small) LocalKernels.hits(e0, iterations)
    else hitsDistributed(e0, iterations)
  }

  private[graft] def hitsDistributed(edges: DataFrame, iterations: Int): DataFrame = {
    val e = edges.select(col("src").as("_hsrc"), col("dst").as("_hdst"))
      .distinct().localCheckpoint(true)
    val v = e.select(col("_hsrc").as("id")).unionAll(e.select(col("_hdst").as("id")))
      .distinct().localCheckpoint(true)
    // Normalization DEFERRED out of the loop (the r14-asked half-step
    // fusion, done right): L1-normalizing divides every value by a
    // positive 1-row scalar, and that scalar cancels straight through the
    // next linear half-step (Σ(x/s) = (Σx)/s, then /Σ again), so the
    // RANKED and the FINAL normalized values are identical if the loop
    // iterates raw unnormalized sums and divides exactly once at the end.
    // Per round that leaves ONE plan — the auth-sums subtree consumed
    // exactly once by the hub-sums aggregate, no normalizer joins, no
    // broadcast scalars in the loop — ending in ONE vertex-sized
    // checkpoint (r13 shape ran TWO checkpoint jobs per round plus two
    // scalar broadcasts; at sf1's 6.4M-vertex projection the per-job
    // fixed cost dominated). A naive in-loop fusion that kept the
    // normalizer was measured 50% SLOWER: the scalar's subtree duplicates
    // the edge-join aggregate in-plan and alias differences break
    // exchange reuse. Magnitudes grow like (avg degree)^half-steps —
    // ~1e24 at 12 half-steps of degree 100, far inside double range —
    // and the result matches the normalized form to summation-order ULPs
    // (the same slack the catalog's 6-decimal rounding and the kernel
    // differential already absorb). Vertices absent from a sum table
    // carry exact 0.0 and contribute nothing downstream; the final
    // v-left-joins restore their zero rows.
    var authS = v.select(col("id"), lit(0.0).as("__x")) // the last round's, lazy
    val hubS = Rounds.fold("hits", iterations, v.select(col("id"), lit(1.0).as("__x"))) {
      (_, hub) =>
        authS = hub.join(e, col("id") === col("_hsrc"))
          .groupBy(col("_hdst").as("id")).agg(sum(col("__x")).as("__x"))
        authS.join(e, col("id") === col("_hdst"))
          .groupBy(col("_hsrc").as("id")).agg(sum(col("__x")).as("__x"))
    }
    // one extra job: materialize the final auth sums so the two consumers
    // below (the L1 scalar + the output join) share a leaf instead of each
    // re-running the last edge join
    val aLeaf = authS.localCheckpoint(true)
    val as = aLeaf.agg(sum(col("__x")).as("__s"))
    val hs = hubS.agg(sum(col("__x")).as("__s"))
    val hub = v.join(hubS.withColumnRenamed("__x", "__h"), Seq("id"), "left")
      .crossJoin(broadcast(hs))
      .select(col("id"), (coalesce(col("__h"), lit(0.0)) / col("__s")).as("hub"))
    val auth = v.join(aLeaf.withColumnRenamed("__x", "__a"), Seq("id"), "left")
      .crossJoin(broadcast(as))
      .select(col("id"), (coalesce(col("__a"), lit(0.0)) / col("__s")).as("auth"))
    hub.join(auth, "id")
  }

  /** Jaccard node similarity for a set of SOURCE vertices: for each pair
    * (x, y) sharing at least one neighbor, score =
    * |N(x)∩N(y)| / |N(x)∪N(y)| — the GDS-style nodeSimilarity shape
    * (adjacent pairs included; this measures structural similarity, not
    * link prediction like [[adamicAdar]]). Returns top-k by
    * (rounded score desc, x, y).
    *
    * Seeded for the same reason as adamicAdar: the wedge join is bounded
    * by Σ_{z∈N(x)} deg(z) per source instead of Σ deg(z)² over the whole
    * graph. The union size comes from exact degrees
    * (deg(x) + deg(y) − common), so no degree cap is applied — capping
    * common neighbors would silently change the score; at web scale the
    * standard approximation is instead to LSH-bucket the neighbor sets —
    * implemented as [[jaccardSimilarityApprox]], differentially gated
    * against this exact twin. Input: src/dst pairs; symmetrized + de-duped. */
  def jaccardSimilarity(edges: DataFrame, sources: Seq[Long],
                        topK: Int = 20): DataFrame = {
    require(sources.nonEmpty, "jaccardSimilarity needs at least one source")
    // canonical dedup + flip-union — see adamicAdar (identical adjacency
    // set, half the dedup/checkpoint bytes)
    val und = edges.select(least(col("src").cast("long"), col("dst").cast("long")).as("a"),
        greatest(col("src").cast("long"), col("dst").cast("long")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true) // consumed by deg and both wedge sides
    val sym = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a").as("v")).agg(count(lit(1)).as("d"))
    val s1 = sym.select(col("a").as("z"), col("b").as("x"))
      .filter(col("x").isin(sources: _*))
    val s2 = sym.select(col("a").as("z"), col("b").as("y"))
    val common = s1.join(s2, "z").filter(col("x") =!= col("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c"))
    common
      .join(deg.select(col("v").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("v").as("y"), col("d").as("dy")), "y")
      .select(col("x"), col("y"),
        graft.functions.CypherFunctions.roundC(
          col("c").cast("double") / (col("dx") + col("dy") - col("c")), 6)
          .as("score"))
      .orderBy(col("score").desc, col("x"), col("y"))
      .limit(topK)
  }

  /** APPROXIMATE all-pairs Jaccard node similarity via MinHash+LSH over
    * neighbor-id sets — the at-scale path [[jaccardSimilarity]]'s scaladoc
    * documents: a vertex's neighbor set is its "document", neighbor ids are
    * the shingles, and the banded-signature machinery from graft.dedup
    * applies UNCHANGED ([[graft.dedup.Dedup.minHashLshPairsFromSig]] — the
    * identical band→bucket→join shape, so candidate volume is bucket-bounded
    * and never all-pairs). Signatures are seeded murmur3 minima, so the
    * output is deterministic across runs and engines.
    *
    * Returns canonical candidate pairs (x < y) with
    * est_jaccard = agreeing-minhash fraction ≥ `threshold`. Recall contract
    * (RecallSpec): with r = numHashes/bands hashes per band, a true pair at
    * similarity s collides with prob 1-(1-s^r)^bands — size bands/r for the
    * similarity regime the caller cares about (the defaults catch s ≥ 0.5
    * with ≥ 99.99% per-pair probability at r=2, bands=32). */
  def jaccardSimilarityApprox(edges: DataFrame, numHashes: Int = 64,
                              bands: Int = 32,
                              threshold: Double = 0.3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // NO .distinct() on the symmetrized stream (guide §2.4 — a dedup
    // exchange on data feeding an idempotent aggregate is a pure extra
    // shuffle): every signature entry is a min(hash(i, b)), and min is
    // duplicate-insensitive, so parallel edges/both-direction repeats
    // cannot perturb any signature — the partial (map-side) min combine
    // absorbs them for free where the distinct paid a full 2|E|-row
    // exchange first.
    val sym = edges.select(col("src").cast("long").as("a"), col("dst").cast("long").as("b"))
      .unionAll(edges.select(col("dst").cast("long").as("a"), col("src").cast("long").as("b")))
      .filter(col("a") =!= col("b"))
    val mins = (0 until numHashes).map(i => min(hash(lit(i), col("b"))).as(s"h$i"))
    // one hash aggregate builds every signature; the leaf cut is consumed
    // by both sides of the band-bucket self-join
    val sig = sym.groupBy(col("a").as("doc")).agg(mins.head, mins.tail: _*)
      .select(col("doc"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
      .localCheckpoint(true)
    graft.dedup.Dedup.minHashLshPairsFromSig(sig, numHashes, bands, threshold)
      .select(col("i").as("x"), col("j").as("y"), col("est_jaccard"))
  }

  /** Deterministic per-node neighbor sampling — the GraphSAGE-style fanout
    * step of a graph-ML training pipeline: every node keeps its `k`
    * out-neighbors with the smallest multiplicative-hash rank (the corpus
    * no-RNG idiom; NON-NEGATIVE ids, see [[triangleCountApprox]]), then
    * the sampled frontier expands once more at fanout `k2` — the classic
    * 2-layer (k, k2) fanout. Ranking is a per-src window (partitioned,
    * never global) over the edge table; layer 2 semi-joins the layer-1
    * frontier before ranking, so work is ∝ sampled-frontier degree sum.
    * Returns (layer, src, dst) rows. */
  def neighborSample(edges: DataFrame, k: Int, k2: Int): DataFrame = {
    require(k > 0 && k2 > 0, s"fanouts positive, got ($k, $k2)")
    import org.apache.spark.sql.expressions.Window
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    def sample(in: DataFrame, fan: Int): DataFrame = {
      val h = pmod(pmod(col("dst"), lit(1000003L)) * lit(131L)
        + pmod(col("src"), lit(1000003L)) * lit(37L), lit(1000003L))
      in.withColumn("__r", row_number().over(
          Window.partitionBy(col("src")).orderBy(h, col("dst"))))
        .filter(col("__r") <= fan).drop("__r")
    }
    val l1 = sample(e, k).localCheckpoint(true) // consumed by output + frontier
    val l2 = sample(
      e.join(l1.select(col("dst").as("src")).distinct(), Seq("src"), "left_semi"), k2)
    l1.select(lit(1).as("layer"), col("src"), col("dst"))
      .unionAll(l2.select(lit(2).as("layer"), col("src"), col("dst")))
  }

  /** Deterministic NEGATIVE edge sampling — the link-prediction training
    * counterpart of [[neighborSample]]. DENSITY-FREE formulation: every
    * vertex hashes into one of |V| buckets; proposal i of node u targets
    * bucket multihash(u, i) mod |V| and resolves to that bucket's MIN
    * vertex id — so proposals land on REAL vertices regardless of how
    * sparse the id space is (a "hash mod maxId" scheme dies on sparse
    * 64-bit ids: the r13 40× soak measured an ~1e-5 hit rate). Self pairs
    * and TRUE edges (either direction) are dropped, then the first `k`
    * surviving proposals per node by proposal index win. No RNG —
    * reproducible across engines and runs; ids non-negative (pmod/% —
    * see [[triangleCountApprox]]). ~63% of proposals hit a non-empty
    * bucket (balls-in-bins), so size proposals ≈ 2k + slack.
    * Returns (src, neg_dst, rank). */
  def negativeSample(edges: DataFrame, k: Int, proposals: Int): DataFrame = {
    require(k > 0 && proposals >= k, s"need proposals >= k, got ($proposals, $k)")
    import org.apache.spark.sql.expressions.Window
    // NO .distinct() (guide §2.4): every consumer of `und` is
    // duplicate-insensitive — `sym` only feeds a LEFT ANTI join (set
    // membership) and `v` is re-distinct'd below — so the dedup exchange
    // was a pure extra |E|-row shuffle for any input
    val und = edges.select(col("src").cast("long").as("a"), col("dst").cast("long").as("b"))
      .filter(col("a") =!= col("b")).localCheckpoint(true)
    val sym = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
    val v = und.select(col("a").as("id")).unionAll(und.select(col("b").as("id")))
      .distinct().localCheckpoint(true) // consumed by buckets + proposals
    val nv = v.agg(count(lit(1)).as("__nv"))
    // bucket representative: min vertex id per hash bucket (one aggregate)
    val bmin = v.crossJoin(broadcast(nv))
      .select(col("id"),
        pmod(pmod(col("id"), lit(1000003L)) * lit(2654435761L), col("__nv")).as("__b"))
      .groupBy(col("__b")).agg(min(col("id")).as("cand"))
    val cand = v.select(col("id").as("src"))
      .crossJoin(broadcast(nv))
      .select(col("src"), explode(sequence(lit(0), lit(proposals - 1))).as("i"),
        col("__nv"))
      .select(col("src"), col("i"),
        pmod(pmod(col("src"), lit(1000003L)) * lit(131L)
          + col("i") * lit(2654435761L), col("__nv")).as("__b"))
      .join(bmin, Seq("__b"))
      .filter(col("cand") =!= col("src"))
      .join(sym.select(col("a").as("src"), col("b").as("cand")),
        Seq("src", "cand"), "left_anti")
      // two proposal indices of one node can hash to the SAME bucket and
      // resolve to the same candidate — without this aggregate the k
      // "negatives" may contain a vertex twice; keep each (src, cand)
      // once at its smallest proposal index so the rank stays the
      // deterministic first-k-survivors order
      .groupBy(col("src"), col("cand")).agg(min(col("i")).as("i"))
    cand.withColumn("rank", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("i"))))
      .filter(col("rank") <= k)
      .select(col("src"), col("cand").as("neg_dst"), col("rank").cast("long").as("rank"))
  }

  /** Modularity Q of a community assignment over an undirected graph
    * (Newman & Girvan 2004): Q = Σ_c [ m_c/m − (D_c/2m)² ], where m_c =
    * intra-community edge count and D_c = the community's total degree —
    * the objective Louvain/Leiden maximize and the standard quality score
    * for ANY community output (cdlp, wcc, an external label).
    *
    * One non-iterative pass: a degree aggregate, the canonical edge list
    * joined against the assignment on both endpoints (broadcast when the
    * assignment is small, shuffle otherwise — Catalyst's call), and two
    * hash aggregates; the m and 2m scalars ride as a broadcast 1-row
    * aggregate inside the plan. Input: canonical (a, b) edges with
    * a ≠ b, assignment (id, community); nodes missing from the assignment
    * contribute degree to no community (their edges still count in m). */
  def modularity(undirected: DataFrame, assignment: DataFrame): DataFrame = {
    val und = undirected.select(col("a"), col("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true) // consumed by m, deg, and the intra join
    val asg = assignment.select(col("id"), col("community"))
    val m2 = und.agg((count(lit(1)) * 2).cast("double").as("__2m"))
    val deg = und.select(col("a").as("id")).unionAll(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val dc = deg.join(asg, Seq("id"))
      .groupBy(col("community")).agg(sum(col("d")).cast("double").as("dc"))
    val mc = und
      .join(asg.select(col("id").as("a"), col("community").as("__ca")), Seq("a"))
      .join(asg.select(col("id").as("b"), col("community").as("__cb")), Seq("b"))
      .filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("community")).agg(count(lit(1)).cast("double").as("mc"))
    dc.join(mc, Seq("community"), "left").crossJoin(broadcast(m2))
      .select((coalesce(col("mc"), lit(0.0)) * 2 / col("__2m")
        - (col("dc") / col("__2m")) * (col("dc") / col("__2m"))).as("q"))
      .agg(graft.functions.CypherFunctions.roundC(sum(col("q")), 6).as("modularity"))
  }

  /** Louvain-style SYNCHRONOUS local-move rounds (one level): each round
    * every node evaluates joining each neighbor community — or staying —
    * by the standard modularity gain k_{v,C} − deg(v)·D′_C/(2m), where
    * D′_C excludes v itself when C is v's current community, and movers
    * adopt their argmax (ties to the smaller community id) simultaneously.
    * Only nodes with (id + round) even move each round — the standard
    * distributed-Louvain symmetry breaker: fully synchronous moves make
    * adjacent pairs swap communities forever (two-coloring oscillation);
    * the deterministic parity alternation lets each side settle against
    * the other's fixed state. Fixed `rounds` for determinism (the
    * Graphalytics-cdlp discipline; the DuckDB oracle unrolls the same
    * rounds, parity rule included).
    * One-level only — full Louvain coarsens between levels; use
    * [[modularity]] to score the result. Scale shape per round: one
    * community-degree aggregate, one map-side-combined neighbor-community
    * count, a struct-max argmax — no windows over the graph, no driver
    * state in the loop. Input: canonical (a, b); returns (id, community). */
  def louvainMoves(undirected: DataFrame, rounds: Int): DataFrame = {
    require(rounds > 0, s"rounds must be positive, got $rounds")
    val (e, small) = LocalKernels.gate(undirected.select(col("a"), col("b")))
    if (small) LocalKernels.louvainMoves(e, rounds)
    else louvainMovesDistributed(e, rounds)
  }

  private[graft] def louvainMovesDistributed(undirected: DataFrame, rounds: Int): DataFrame =
    louvainMovesWeighted(undirected.select(col("a"), col("b"), lit(1.0).as("w"))
      .filter(col("a") =!= col("b")).distinct(), rounds, "louvain_moves")

  /** WEIGHTED Louvain local-move rounds — the level ≥ 2 engine of
    * [[louvain]] over a CONTRACTED multigraph, and with weight 1 on the
    * deduped pairs the distributed [[louvainMoves]]: input is canonical
    * (a ≤ b, parallel edges pre-merged) weighted pairs, self-loops
    * (a = b) allowed. Same synchronous rounds, same parity symmetry
    * breaker and smaller-community tie-break as [[louvainMoves]], with
    * the standard weighted quantities: k_{v,C} = Σ w to members of C,
    * deg(v) = Σ incident w + 2·selfloop(v) (a self-loop stays intra
    * wherever v goes, so it never scores a candidate but does count in
    * the community total). All weights here are integer-valued doubles
    * (edge counts), so every sum is exact below 2^53 and the DuckDB
    * oracle's unrolled rounds match bitwise. Returns (id, community). */
  private[graft] def louvainMovesWeighted(weighted: DataFrame, rounds: Int,
                                          kernel: String = "louvain_weighted"): DataFrame = {
    require(rounds > 0, s"rounds must be positive, got $rounds")
    val und = weighted.select(col("a"), col("b"), col("w").cast("double").as("w"))
      .localCheckpoint(true) // consumed by sym, deg's self part, and m2
    val sym = und.filter(col("a") =!= col("b"))
      .unionAll(und.filter(col("a") =!= col("b"))
        .select(col("b").as("a"), col("a").as("b"), col("w")))
      .localCheckpoint(true) // consumed by deg and every round's k aggregate
    val deg = sym.select(col("a").as("id"), col("w"))
      .unionAll(und.filter(col("a") === col("b"))
        .select(col("a").as("id"), (col("w") * 2).as("w")))
      .groupBy(col("id")).agg(sum(col("w")).as("d"))
      .localCheckpoint(true)
    val m2 = und.agg((sum(col("w")) * 2).as("m2")) // contraction preserves 2m
    // FIXPOINT early-exit (same argument as kCore's): after TWO
    // consecutive no-move rounds both parities have settled against an
    // unchanged assignment, and round r+2 recomputes round r's exact
    // scores under the same parity — so every remaining round is an
    // identity and skipping them is result-identical to the oracle's
    // fixed unroll (a converged round IS a no-op there too). Each leaf
    // carries whether a vertex moved in its round (`__mv`) and in the one
    // before (`__pmv`), so the halting probe is the vertices with either.
    val asg0 = deg.select(col("id"), col("id").as("community"), lit(true).as("__mv"))
    Rounds.fold(kernel, rounds, asg0, halt = Some(_.filter(col("__mv") || col("__pmv")))) {
      (r, asg) =>
        lastLouvainMoveRounds = r
        val dc = asg.join(deg, Seq("id"))
          .groupBy(col("community").as("C")).agg(sum(col("d")).as("dc"))
        val nbrC = sym.select(col("a").as("id"), col("b").as("nb"), col("w"))
          .join(asg.select(col("id").as("nb"), col("community").as("C")), Seq("nb"))
          .groupBy(col("id"), col("C")).agg(sum(col("w")).as("k"))
        // the current community is always a candidate, even with no
        // neighbors left in it (k = 0) — max(k) merges the duplicate
        val cand = nbrC
          .unionByName(asg.select(col("id"), col("community").as("C"), lit(0.0).as("k")))
          .groupBy(col("id"), col("C")).agg(max(col("k")).as("k"))
        val scored = cand
          .join(asg, Seq("id")).join(deg, Seq("id")).join(dc, Seq("C"))
          .crossJoin(broadcast(m2))
          .select(col("id"), col("community"), col("C"), col("__mv"),
            (col("k") - col("d") * when(col("C") === col("community"),
              col("dc") - col("d")).otherwise(col("dc")) / col("m2")).as("score"))
        scored.groupBy(col("id"))
          .agg(max(struct(col("score"), (-col("C")).as("nc"))).as("__m"),
            first(col("community")).as("__cur"), first(col("__mv")).as("__pmv"))
          .select(col("id"), col("__cur"), col("__pmv"),
            when(pmod(col("id") + r, lit(2L)) === 0, -col("__m.nc"))
              .otherwise(col("__cur")).as("community"))
          .select(col("id"), col("community"),
            (col("community") =!= col("__cur")).as("__mv"), col("__pmv"))
    }.select(col("id"), col("community"))
  }

  /** Multi-LEVEL Louvain (Blondel et al. 2008, the operator people mean
    * by "Louvain"): run [[louvainMoves]]' local rounds, then COARSEN —
    * contract each community to a super-node, sum parallel edges to
    * weights (intra-community edges become self-loops), run
    * [[louvainMovesWeighted]] local rounds on the contracted graph — and
    * repeat for `levels` levels; each original node maps to its top-level
    * community. `levels = 1` is exactly [[louvainMoves]]. Deterministic
    * end to end (fixed rounds per level, parity symmetry breaking, min-id
    * tie-breaks), so the DuckDB oracle unrolls both levels.
    *
    * Scale shape: contraction is one double-endpoint assignment join +
    * one hash aggregate over the edge set — the same shape as
    * [[modularity]]'s intra join — and each level's graph is no larger
    * (typically far smaller) than the last; no windows over the graph,
    * no driver state. Beyond-parity: the reference's community surface
    * is CDLP only (`src/algo/community.rs`). Input: canonical (a, b);
    * returns (id, community). */
  def louvain(undirected: DataFrame, rounds: Int, levels: Int): DataFrame = {
    require(levels > 0, s"levels must be positive, got $levels")
    val (e, small) = LocalKernels.gate(undirected.select(col("a"), col("b")))
    if (small) LocalKernels.louvain(e, rounds, levels)
    else louvainDistributed(e, rounds, levels)
  }

  private[graft] def louvainDistributed(undirected: DataFrame, rounds: Int,
                                        levels: Int): DataFrame = {
    require(levels > 0, s"levels must be positive, got $levels")
    val und = undirected.select(col("a"), col("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint(true)
    var asg = louvainMovesWeighted(und.select(col("a"), col("b"), lit(1.0).as("w")),
      rounds, "louvain_moves")
    for (_ <- 2 to levels) {
      val g2 = und
        .join(asg.select(col("id").as("a"), col("community").as("__ca")), Seq("a"))
        .join(asg.select(col("id").as("b"), col("community").as("__cb")), Seq("b"))
        .groupBy(least(col("__ca"), col("__cb")).as("a"),
          greatest(col("__ca"), col("__cb")).as("b"))
        .agg(count(lit(1)).cast("double").as("w"))
      val up = louvainMovesWeighted(g2, rounds)
        .select(col("id").as("__lvl"), col("community").as("__c2"))
      asg = asg.join(up, asg("community") === up("__lvl"))
        .select(col("id"), col("__c2").as("community"))
        .localCheckpoint(true) // consumed by the next contraction + result
    }
    asg
  }

  /** Graph summary statistics — the ANALYZE-style diagnostic a planner (or
    * an engineer sizing a job) reads before picking join strategies:
    * node/edge counts, density, degree min/mean/max/p90, and a log2 degree
    * histogram (bucket = floor(log2(deg)), the shape that exposes a
    * power-law tail at a glance). One degree aggregate + two tiny
    * aggregates; returns (stat, value) rows, values as double. Input:
    * canonical undirected (a, b) pairs. */
  def graphStats(undirected: DataFrame): DataFrame = {
    val und = undirected.select(col("a"), col("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint(true)
    val deg = und.select(col("a").as("id")).unionAll(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true) // consumed by the summary AND the histogram
    val r6 = (c: org.apache.spark.sql.Column) =>
      graft.functions.CypherFunctions.roundC(c, 6)
    val summary = deg.agg(
        count(lit(1)).cast("double").as("nodes"),
        min(col("d")).cast("double").as("deg_min"),
        r6(avg(col("d"))).as("deg_mean"),
        max(col("d")).cast("double").as("deg_max"),
        graft.functions.CypherFunctions.percentileDisc(col("d"), lit(0.9))
          .cast("double").as("deg_p90"))
      .crossJoin(broadcast(und.agg(count(lit(1)).cast("double").as("edges"))))
      .select(col("nodes"), col("edges"),
        r6(col("edges") * 2 / (col("nodes") * (col("nodes") - 1))).as("density"),
        col("deg_min"), col("deg_mean"), col("deg_max"), col("deg_p90"))
    val longRows = summary.select(explode(array(Seq(
        "nodes", "edges", "density", "deg_min", "deg_mean", "deg_max", "deg_p90")
        .map(n => struct(lit(n).as("stat"), col(n).as("value"))): _*)).as("r"))
      .select(col("r.stat"), col("r.value"))
    // exact integer log2 via the binary-string length (floor(log(2,d)) as
    // a FLOAT can land at 2.9999... for exact powers of two and disagree
    // with the oracle's float by one whole bucket)
    val hist = deg
      .groupBy((length(conv(col("d"), 10, 2)) - 1).cast("long").as("b"))
      .agg(count(lit(1)).cast("double").as("value"))
      .select(concat(lit("deg_log2_"), col("b")).as("stat"), col("value"))
    longRows.unionAll(hist)
  }

  /** Weakly connected components (reference `community.rs:58` union-find) —
    * distributed min-label propagation to a fixpoint. Returns (id, component)
    * where component = min node id in the component. Small inputs route to
    * the in-task union-find ([[LocalKernels]]). */
  def wcc(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val (e, small) = LocalKernels.gate(edges)
    if (small) LocalKernels.wcc(e) else wccDistributed(e, maxIter)
  }

  private[graft] def wccDistributed(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val und = edges.select(col("src").as("_usrc"), col("dst").as("_udst"))
      .unionAll(edges.select(col("dst").as("_usrc"), col("src").as("_udst")))
      .distinct().localCheckpoint(true)
    // `chg` marks the vertices whose label dropped this round; a round
    // with none is the fixpoint
    Rounds.fold("wcc", maxIter, verts(edges).withColumn("component", col("id")),
        halt = Some(_.filter(col("chg")))) { (_, comp) =>
      val nbrMin = comp.join(und, col("id") === col("_usrc"))
        .groupBy(col("_udst")).agg(min(col("component")).as("nmin"))
        .withColumnRenamed("_udst", "vid")
      comp.join(nbrMin, col("id") === col("vid"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nmin"), col("component"))).as("ncomp"),
          col("component"))
        .select(col("id"), col("ncomp").as("component"),
          (col("ncomp") < col("component")).as("chg"))
    }.drop("chg")
  }

  /** Community detection by label propagation, CDLP
    * (reference `cdlp.rs:38`; Graphalytics spec): each round every vertex
    * adopts the most frequent label among its neighbors, ties broken by
    * minimum label. Fixed iteration count for determinism. Small inputs
    * route to the in-task kernel ([[LocalKernels]]). */
  def cdlp(edges: DataFrame, iterations: Int = 10): DataFrame = {
    val (e, small) = LocalKernels.gate(edges)
    if (small) LocalKernels.cdlp(e, iterations) else cdlpDistributed(e, iterations)
  }

  private[graft] def cdlpDistributed(edges: DataFrame, iterations: Int = 10): DataFrame = {
    // The edge relation is STATIC across rounds. When it is too big to
    // broadcast, hash-partition + sort it on the join key ONCE and cut to a
    // leaf: localCheckpoint preserves the physical partitioning/ordering on
    // the LogicalRDD, so every round's label⋈edges sort-merge join
    // exchanges-and-sorts ONLY the n-row label side — the 2m-row edge
    // shuffle happens once, not per round. Below the broadcast class AQE
    // turns each round's join into a broadcast join anyway, and the upfront
    // shuffle+sort would be pure overhead — keep the plain leaf there.
    // Checkpoint the plain union ONCE, then count the materialized leaf —
    // counting the raw plan first would run the (possibly expensive,
    // derived) input pipeline a second time when localCheckpoint
    // recomputes it. Byte-estimates are no substitute for the count:
    // parquet leaf stats are compressed-file bytes and misclassify wide
    // row counts; count(*) over the checkpointed leaf is metadata-cheap.
    val undPlain = edges.select(col("src").as("_usrc"), col("dst").as("_udst"))
      .unionAll(edges.select(col("dst").as("_usrc"), col("src").as("_udst")))
      .localCheckpoint(true)
    val big = undPlain.count() > 8000000L
    val und = if (big) {
      val repart = undPlain.repartition(col("_usrc")).sortWithinPartitions(col("_usrc"))
        .localCheckpoint(true)
      // The repartitioned checkpoint is the only copy the rounds read;
      // drop the plain union's blocks or BOTH 2m-row leaves stay pinned
      // for the whole run — exactly at the >8M-row scale where big=true.
      unpersistCheckpoint(undPlain)
      repart
    } else undPlain
    // every vertex appears as _udst (both directions are in `und`, and the
    // vertex set is derived from the edges), so the per-round argmax over
    // incoming neighbor labels covers ALL vertices — no join back to the
    // previous labels is needed
    Rounds.fold("cdlp", iterations, verts(edges).withColumn("label", col("id"))) { (_, lbl) =>
      val freq = lbl.join(und, col("id") === col("_usrc"))
        .groupBy(col("_udst"), col("label")).agg(count(lit(1)).as("f"))
      // argmax(f), ties -> min label, as a single hash aggregate over
      // struct ordering (max of (f, -label)) — no window sort
      freq.groupBy(col("_udst"))
        .agg(max(struct(col("f"), (-col("label")).as("nl"))).as("m"))
        .select(col("_udst").as("id"), (-col("m.nl")).as("label"))
    }
  }

  /** Orient canonical undirected edges (a,b) from the lower-(degree,id)
    * endpoint to the higher one. Bounds the wedge join to O(m^1.5)
    * regardless of hubs — the standard distributed triangle trick. */
  private def degreeOriented(undirected: DataFrame): DataFrame = {
    val e = undirected.select(col("a"), col("b"))
    val deg = e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    e.join(deg.select(col("id").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("lo"),
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("hi"))
  }

  /** Global triangle count (reference `topology.rs:14`) via degree-ordered
    * orientation — each triangle has exactly one edge (u,v) whose endpoints'
    * common higher-neighbors contain its third corner, so summing
    * |adj⁺(u) ∩ adj⁺(v)| over oriented edges counts each triangle once.
    * Input: undirected canonical edges (a<b). Small inputs route to the
    * in-task kernel ([[LocalKernels]]). */
  def triangleCount(undirected: DataFrame): DataFrame = {
    val (u, small) = LocalKernels.gate(undirected, LocalKernels.Superlinear)
    if (small) LocalKernels.triangleCount(u) else triangleCountDistributed(u)
  }

  private[graft] def triangleCountDistributed(undirected: DataFrame): DataFrame = {
    // the input subplan (often an expensive projection like a co-purchase
    // self-join) is referenced several times downstream — Spark does NOT
    // dedupe common subplans, so materialize it once here
    val und = undirected.select(col("a"), col("b")).localCheckpoint(true)
    triangleEdges(und)
      .agg(coalesce(sum(size(col("ws"))), lit(0L)).as("triangles"))
  }

  /** Per oriented edge (lo, hi): the common higher-neighbor set `ws` — each
    * w in it closes one distinct triangle (lo, hi, w). Compared to
    * materializing the O(m^1.5) wedge set and semi-joining it against the
    * edge table, this moves only O(m) rows carrying neighbor arrays (bounded
    * by the orientation: max out-degree ~ sqrt(m)); the intersection runs
    * in-memory per row, and the wedge set never exists as shuffled rows. */
  private def triangleEdges(und: DataFrame): DataFrame = {
    // eager leaf cuts (not persist): o and adj are each referenced multiple
    // times downstream and their lineage includes the (often expensive)
    // input projection — see pageRank for why plan size itself matters
    val o = degreeOriented(und).localCheckpoint(true)
    val adj = o.groupBy(col("lo").as("v")).agg(sort_array(collect_list(col("hi"))).as("nbr"))
      .localCheckpoint(true)
    o.join(adj.select(col("v").as("lo"), col("nbr").as("nl")), Seq("lo"))
      .join(adj.select(col("v").as("hi"), col("nbr").as("nh")), Seq("hi"))
      .select(col("lo"), col("hi"), array_intersect(col("nl"), col("nh")).as("ws"))
  }

  /** Global 4-cycle (square) count: #C4 = ½ Σ_{u<w} C(λ(u,w), 2) where
    * λ(u,w) = |N(u)∩N(v)| — every 4-cycle is counted once per diagonal
    * pair, and chords don't change the count. Unlike triangles, the
    * pair-keyed λ IS the output granularity, so the wedge stream must
    * reach the (u,w) aggregate — map-side combine collapses it during the
    * shuffle; at 100 TB the standard mitigations compose: cap hub degrees
    * (each wedge through a hub carries ≤1/λ signal) or apply the DOULION
    * edge sampler first (a p-sampled graph estimates C4 at 1/p⁴). Input:
    * canonical (a, b) pairs; returns one (squares) row. */
  def squareCount(undirected: DataFrame): DataFrame = {
    // defensive canonicalization (same as kTruss): duplicated or
    // bidirectional input would inflate every λ and silently quadruple
    // C(λ,2) — dedup first so any edge-list shape counts correctly
    val und = undirected
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint(true)
    val sym = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
    val lam = sym.select(col("a").as("z"), col("b").as("u"))
      .join(sym.select(col("a").as("z"), col("b").as("w")), "z")
      .filter(col("u") < col("w"))
      .groupBy(col("u"), col("w")).agg(count(lit(1)).as("lam"))
    lam.agg((sum(col("lam") * (col("lam") - 1) / 2) / 2)
      .cast("long").as("squares"))
  }

  /** DOULION approximate triangle counting (Tsourakakis et al., KDD 2009):
    * count triangles on a p-sampled edge set and scale by 1/p³ — the
    * unbiased sparsifier estimator for graphs whose exact count is too
    * expensive. Sampling is DETERMINISTIC (the corpus multiplicative-hash
    * idiom on the canonical edge pair), so the estimate is reproducible
    * across engines and runs; the sampled count reuses the degree-oriented
    * intersection (wedges never shuffle as rows). Returns one row
    * (triangles_sampled, estimate). Input: canonical (a, b) pairs with
    * NON-NEGATIVE ids — the sampler's Spark `pmod` and a SQL-oracle `%`
    * diverge on negative operands, so a cross-engine differential over
    * negative ids would mismatch (current graph ids are offsets ≥ 0). */
  def triangleCountApprox(undirected: DataFrame, pPct: Int): DataFrame = {
    require(pPct > 0 && pPct <= 100, s"pPct in (0,100], got $pPct")
    val h = pmod(pmod(col("a"), lit(1000003L)) * lit(131L)
      + pmod(col("b"), lit(1000003L)), lit(1000003L))
    val kept = undirected.select(col("a"), col("b"))
      .filter(pmod(h * lit(2654435761L), lit(100L)) < pPct)
    val scale = math.pow(100.0 / pPct, 3)
    triangleCountDistributed(kept)
      .select(col("triangles").as("triangles_sampled"),
        graft.functions.CypherFunctions.roundC(
          col("triangles") * lit(scale), 1).as("estimate"))
  }

  /** Per-vertex triangle participation + local clustering coefficient
    * (reference `lcc.rs:29-42`): lcc = 2*tri / (deg*(deg-1)). Corner
    * attribution from the intersection rows: edge endpoints each get |ws|,
    * every closing vertex w gets 1. Small inputs route to the in-task
    * kernel ([[LocalKernels]]). */
  def lcc(undirected: DataFrame): DataFrame = {
    val (u, small) = LocalKernels.gate(undirected, LocalKernels.Superlinear)
    if (small) LocalKernels.lcc(u) else lccDistributed(u)
  }

  private[graft] def lccDistributed(undirected: DataFrame): DataFrame = {
    val e = undirected.select(col("a"), col("b")).localCheckpoint(true)
    val deg = e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val te = triangleEdges(e)
      .select(col("lo"), col("hi"), col("ws"), size(col("ws")).as("nw"))
      .filter(col("nw") > 0)
    val tris = te.select(col("lo").as("id"), col("nw").cast("long").as("c"))
      .unionAll(te.select(col("hi").as("id"), col("nw").cast("long").as("c")))
      .unionAll(te.select(explode(col("ws")).as("id"), lit(1L).as("c")))
      .groupBy("id").agg(sum("c").as("tri"))
    deg.join(tris, Seq("id"), "left")
      .select(col("id"), col("deg"), coalesce(col("tri"), lit(0L)).as("triangles"),
        when(col("deg") >= 2,
          coalesce(col("tri"), lit(0L)) * 2.0 / (col("deg") * (col("deg") - 1)))
          .otherwise(0.0).as("lcc"))
  }

  /** Single-source shortest paths, unweighted BFS (reference
    * `pathfinding.rs:19`). Returns (id, dist) for reachable vertices.
    * Small inputs route to the in-task kernel ([[LocalKernels]]). */
  def bfs(edges: DataFrame, source: Long, maxIter: Int = 30): DataFrame = {
    val (e, small) = LocalKernels.gate(edges)
    if (small) LocalKernels.bfs(e, source, maxIter)
    else bfsDistributed(e, source, maxIter)
  }

  private[graft] def bfsDistributed(edges: DataFrame, source: Long, maxIter: Int = 30): DataFrame =
    multiSourceBfs("bfs", edges, Seq(source), maxIter)._2.select(col("id"), col("dist"))

  /** Truncated harmonic centrality for a bounded seed set: per seed,
    * Σ 1/d(seed, v) over every node reachable within `radius` hops
    * (directed; the seed itself excluded) — the standard local/truncated
    * approximation of harmonic centrality, exact within the radius.
    *
    * Scale shape: ONE multi-source BFS whose frontier is keyed by
    * (seed, node) — all seeds advance in the same per-round join against
    * the checkpointed edge leaf (|seeds| is bounded, so the frontier is at
    * most |seeds|× the single-source one; no per-seed job fan-out), and
    * the final score is one hash aggregate. Seeds with nothing reachable
    * still return a row (0, 0.0). Returns (seed, n_reached, harmonic). */
  def harmonicCentrality(edges: DataFrame, seeds: Seq[Long],
                         radius: Int): DataFrame = {
    val (e0, small) = LocalKernels.gate(edges.select(col("src"), col("dst")))
    if (small) LocalKernels.harmonicCentrality(e0, seeds, radius)
    else harmonicDistributed(e0, seeds, radius)
  }

  private[graft] def harmonicDistributed(edges: DataFrame, seeds: Seq[Long],
                                         radius: Int): DataFrame = {
    val (seedDf, dist) = multiSourceBfs("harmonic", edges, seeds, radius)
    val agg = dist.filter(col("dist") > 0)
      .groupBy(col("s").as("seed"))
      .agg(count(lit(1)).as("__n"),
        sum(lit(1.0) / col("dist")).as("__h"))
    seedDf.select(col("s").as("seed")).join(agg, Seq("seed"), "left")
      .select(col("seed"), coalesce(col("__n"), lit(0L)).as("n_reached"),
        graft.functions.CypherFunctions.roundC(
          coalesce(col("__h"), lit(0.0)), 4).as("harmonic"))
  }

  /** Truncated closeness centrality + eccentricity for a bounded seed set,
    * the same one-multi-source-BFS shape as [[harmonicCentrality]] with a
    * different final aggregate: closeness = n_reached / Σ d(seed, v)
    * (directed, seed excluded, exact within `radius`) and eccentricity =
    * max d within the radius. Seeds reaching nothing return
    * (0, 0.0, 0) — the closeness of an isolated node is 0 by convention.
    * Returns (seed, n_reached, closeness, eccentricity). */
  def closenessCentrality(edges: DataFrame, seeds: Seq[Long],
                          radius: Int): DataFrame = {
    val (e0, small) = LocalKernels.gate(edges.select(col("src"), col("dst")))
    if (small) LocalKernels.closenessCentrality(e0, seeds, radius)
    else closenessDistributed(e0, seeds, radius)
  }

  private[graft] def closenessDistributed(edges: DataFrame, seeds: Seq[Long],
                                          radius: Int): DataFrame = {
    val (seedDf, dist) = multiSourceBfs("closeness", edges, seeds, radius)
    val agg = dist.filter(col("dist") > 0)
      .groupBy(col("s").as("seed"))
      .agg(count(lit(1)).as("__n"), sum(col("dist")).as("__sd"),
        max(col("dist")).as("__ecc"))
    seedDf.select(col("s").as("seed")).join(agg, Seq("seed"), "left")
      .select(col("seed"), coalesce(col("__n"), lit(0L)).as("n_reached"),
        graft.functions.CypherFunctions.roundC(
          when(col("__sd").isNull, 0.0)
            .otherwise(col("__n").cast("double") / col("__sd")), 4)
          .as("closeness"),
        coalesce(col("__ecc"), lit(0)).cast("int").as("eccentricity"))
  }

  /** Sampled-source betweenness centrality (Brandes 2001, truncated):
    * exact shortest-path dependency accumulation from a bounded seed set —
    * the standard scalable estimator (Brandes–Pich sampling; the full
    * algorithm is one pass per VERTEX and intractable beyond small graphs).
    * BC(v) = Σ_{s∈seeds} δ_s(v), where δ_s is Brandes' dependency from
    * the backward pass over the shortest-path DAG, truncated at
    * `maxDepth`. Endpoints excluded per the classic definition.
    *
    * Scale shape: the forward pass is the same one-multi-source-BFS join
    * loop as [[harmonicCentrality]] with a σ (path-count) SUM folded into
    * the frontier aggregate; the backward pass replays the DAG one LEVEL
    * per round (a join of level d against the δ table of level d+1 on the
    * edge key, one vertex-sized cut per round) — 2·maxDepth bounded rounds
    * total, never a per-seed job fan-out. σ is carried as double: path
    * COUNTS explode combinatorially at scale and δ only ever consumes
    * σ-ratios. Memory note: every forward level is retained (checkpointed)
    * for the backward replay, so storage is O(Σ per-level (seed, node)
    * pairs) — bounded by the sampled-seed contract (|seeds| and maxDepth
    * small), NOT by the graph; an unbounded seed set or depth would need
    * level eviction after its backward round. Returns (id, bc) for every
    * node reached at dist ≥ 1 by any seed, bc rounded to 4. */
  def betweennessCentrality(edges: DataFrame, seeds: Seq[Long],
                            maxDepth: Int): DataFrame = {
    require(seeds.nonEmpty && maxDepth > 0, "seeds nonempty, maxDepth positive")
    val (e0, small) = LocalKernels.gate(edges.select(col("src"), col("dst")))
    if (small) LocalKernels.betweennessCentrality(e0, seeds, maxDepth)
    else betweennessDistributed(e0, seeds, maxDepth)
  }

  private[graft] def betweennessDistributed(edges: DataFrame, seeds: Seq[Long],
                                            maxDepth: Int): DataFrame = {
    val ss = edges.sparkSession
    val e = edges.select(col("src").as("_esrc"), col("dst").as("_edst"))
      .distinct().localCheckpoint(true)
    val seedDf = ss.createDataset(seeds.distinct)(
      org.apache.spark.sql.Encoders.scalaLong).toDF("s")
    // forward: levels(d) = (s, id, sigma) — σ summed over in-DAG edges
    val levels = Rounds.levels("betweenness", maxDepth, seedDf.select(col("s"),
        col("s").as("id"), lit(1.0).as("sigma")).localCheckpoint(true)) { lv =>
      lv.last.join(e, col("id") === col("_esrc"))
        .select(col("s"), col("_edst").as("id"), col("sigma"))
        .join(lv.map(_.select(col("s").as("s2"), col("id").as("vid"))).reduce(_ unionAll _),
          col("s") === col("s2") && col("id") === col("vid"), "left_anti")
        .groupBy(col("s"), col("id")).agg(sum(col("sigma")).as("sigma"))
    }
    if (levels.size == 1) // nothing reached: no interior vertices, no BC
      return seedDf.select(col("s").as("id"), lit(0.0).as("bc")).limit(0)
    // backward: δ(level d) from δ(level d+1) over the DAG edges, one
    // round per level from the deepest up to level 1; the deepest level
    // has δ = 0 and contributes only its σ to the ratios
    val deepest = levels.size - 1
    val back = Rounds.levels("betweenness_back", deepest - 1,
        levels.last.withColumn("delta", lit(0.0))) { lv =>
      val d = deepest - lv.size
      val w = lv.last.select(col("s").as("ws"), col("id").as("wid"),
        col("sigma").as("wsigma"), col("delta").as("wdelta"))
      val contrib = levels(d).join(e, col("id") === col("_esrc"))
        .join(w, col("s") === col("ws") && col("_edst") === col("wid"))
        .groupBy(col("s"), col("id"))
        .agg(sum(col("sigma") / col("wsigma") * (lit(1.0) + col("wdelta")))
          .as("__c"))
      levels(d).join(contrib, Seq("s", "id"), "left")
        .select(col("s"), col("id"), col("sigma"),
          coalesce(col("__c"), lit(0.0)).as("delta"))
    }
    // seeds sit only in levels(0), which the backward loop never emits —
    // endpoint exclusion is structural
    back.reduce(_ unionAll _).groupBy(col("id"))
      .agg(graft.functions.CypherFunctions.roundC(sum(col("delta")), 4).as("bc"))
  }

  /** The shared truncated multi-source BFS: all seeds advance in the same
    * per-round join against the checkpointed edge leaf, frontier keyed by
    * (seed, node). Returns (seedDf("s"), dist(s, id, dist)) with the seeds
    * themselves at dist 0. */
  private def multiSourceBfs(kernel: String, edges: DataFrame, seeds: Seq[Long],
                             radius: Int): (DataFrame, DataFrame) = {
    require(seeds.nonEmpty, "seeds nonempty")
    val e = edges.select(col("src").as("_esrc"), col("dst").as("_edst"))
      .localCheckpoint(true)
    val seedDf = edges.sparkSession.createDataset(seeds.distinct)(
      org.apache.spark.sql.Encoders.scalaLong).toDF("s")
    val levels = Rounds.levels(kernel, radius, seedDf.select(col("s"), col("s").as("id"))) {
      lv =>
        lv.last.join(e, col("id") === col("_esrc"))
          .select(col("s"), col("_edst").as("id")).distinct()
          .join(lv.map(_.select(col("s").as("s2"), col("id").as("vid"))).reduce(_ unionAll _),
            col("s") === col("s2") && col("id") === col("vid"), "left_anti")
    }
    (seedDf, levels.zipWithIndex
      .map { case (lv, d) => lv.select(col("s"), col("id"), lit(d).as("dist")) }
      .reduce(_ unionAll _))
  }

  /** Weighted SSSP by distributed Bellman-Ford relaxation (reference
    * Dijkstra `pathfinding.rs:91` — Dijkstra's priority queue is inherently
    * sequential; Bellman-Ford is the scalable equivalent with identical
    * results for non-negative weights). Small inputs route to the in-task
    * kernel ([[LocalKernels]]). */
  def sssp(edges: DataFrame, source: Long, maxIter: Int = 30): DataFrame = {
    val (e, small) = LocalKernels.gate(edges)
    if (small) LocalKernels.sssp(e, source, maxIter)
    else ssspDistributed(e, source, maxIter)
  }

  private[graft] def ssspDistributed(edges: DataFrame, source: Long, maxIter: Int = 30): DataFrame = {
    val e = edges.select(col("src").as("_esrc"), col("dst").as("_edst"),
      coalesce(col("weight"), lit(1.0)).as("w")).localCheckpoint(true)
    val dist0 = e.sparkSession.range(1)
      .select(lit(source).cast("long").as("id"), lit(0.0).as("dist"))
    // `chg` marks the vertices reached or shortened this round
    Rounds.fold("sssp", maxIter, dist0, halt = Some(_.filter(col("chg")))) { (_, dist) =>
      val relaxed = dist.join(e, col("id") === col("_esrc"))
        .select(col("_edst").as("id"), (col("dist") + col("w")).as("cand"))
        .groupBy("id").agg(min(col("cand")).as("cand"))
      dist.select(col("id"), col("dist"))
        .join(relaxed, Seq("id"), "full_outer")
        .select(col("id"),
          least(coalesce(col("dist"), lit(Double.MaxValue)),
                coalesce(col("cand"), lit(Double.MaxValue))).as("ndist"),
          col("dist"))
        .select(col("id"), col("ndist").as("dist"),
          (col("dist").isNull || col("ndist") < col("dist")).as("chg"))
    }.drop("chg")
  }

  /** Weighted shortest PATH (not just the distance): the actual node
    * sequence source→target on top of [[sssp]]'s converged distance table.
    *
    * Parents derive POST-HOC instead of being carried through the
    * relaxation rounds: parent(v) = min u with dist(u) + w(u,v) == dist(v)
    * — one edges⋈dist join + a min aggregate. The exact FP equality is
    * safe because dist(v) was literally produced by one of those same
    * additions (identical operands → identical double on any engine), and
    * the min-u tie-break makes the tree deterministic — no per-round
    * parent state in the relaxation. The walk is a [[Rounds.levels]] loop
    * seeded by the target row: each round joins the last vertex to its
    * parent, at most `maxHops` rounds, and it ends at the first empty level
    * (the source has no parent). Returns (pos, id, dist) rows, pos = hops from TARGET
    * (pos 0 = target … last = source), dist rounded to 4.
    *
    * COMPLETENESS CONTRACT: the result is either a CERTIFIED full path —
    * its last row is the source at dist 0 — or EMPTY. A shortest path
    * longer than `maxHops` edges, an unreachable target, or an
    * unconverged relaxation all return empty rather than a silent prefix
    * (the walk's terminal row is checked in-plan against the source).
    * Non-positive weights are dropped like [[pageRankWeighted]]: a
    * zero-weight 2-cycle makes the parent relation cyclic and the walk
    * would emit bogus alternating rows up to maxHops.
    *
    * Routes WHOLESALE through the [[LocalKernels]] gate: below the
    * threshold the solve, the parent derivation, AND the walk all run in
    * one task ([[LocalKernels.ssspPath]] — the parent table is
    * vertex-sized, the walk a backward array hop loop, so a round per hop
    * is pure overhead there); above it the
    * distributed formulation below is the only one that exists. The
    * kernel relaxes with the same synchronous min(dist(u)+w) double
    * additions, so the exact-FP parent equality holds identically on
    * either path and the differential (LocalKernelsSpec) pins identical
    * rows. */
  def ssspPath(edges: DataFrame, source: Long, target: Long,
               maxHops: Int = 16): DataFrame = {
    require(maxHops > 0 && maxHops <= 64, s"maxHops in (0,64], got $maxHops")
    val pruned = edges.select(col("src"), col("dst"),
        coalesce(col("weight"), lit(1.0)).as("weight"))
      .filter(col("weight") > 0)
    val (eg, small) = LocalKernels.gate(pruned)
    if (small) {
      return LocalKernels.ssspPath(eg, source, target, maxHops)
        .select(col("pos"), col("id"),
          graft.functions.CypherFunctions.roundC(col("dist"), 4).as("dist"))
        .orderBy(col("pos"))
    }
    val e = eg.localCheckpoint(true) // consumed by the solve AND the parent join
    val dist = ssspDistributed(e, source, maxHops * 2)
      .localCheckpoint(true) // consumed by the parent join and every walk hop
    val parent = e
      .join(dist.select(col("id").as("src"), col("dist").as("__du")), Seq("src"))
      .join(dist.select(col("id").as("dst"), col("dist").as("__dv")), Seq("dst"))
      .filter(col("__du") + col("weight") === col("__dv") && col("dst") =!= lit(source))
      .groupBy(col("dst").as("id")).agg(min(col("src")).as("__par"))
      .localCheckpoint(true) // consumed once per walk hop
    // the walk: level i is the vertex i hops from the target; the source
    // has no parent, so a walk that reaches it ends on the empty level
    val walk = Rounds.levels("sssp_path", maxHops,
        dist.filter(col("id") === target).select(col("id"), col("dist"))) { lv =>
      lv.last.join(parent, Seq("id")).select(col("__par").as("id")).join(dist, Seq("id"))
    }
    // completeness certificate: keep the rows only if the walk actually
    // reached the source (dist 0) — a 1-row broadcast flag, so a partial
    // path can never masquerade as a complete one
    val path = walk.zipWithIndex
      .map { case (lv, i) => lv.select(lit(i).as("pos"), col("id"), col("dist")) }
      .reduce(_ unionAll _).localCheckpoint(true)
    val ok = path.agg(coalesce(max(when(
      col("id") === source && col("dist") === 0.0, 1)), lit(0)).as("__ok"))
    path.crossJoin(broadcast(ok)).filter(col("__ok") === 1)
      .select(col("pos"), col("id"),
        graft.functions.CypherFunctions.roundC(col("dist"), 4).as("dist"))
      .orderBy(col("pos"))
  }

  /** k-core peel, SYNCHRONOUS fixed-round semantics: round r computes
    * degrees on the round-(r-1) edge set and removes ALL nodes below `k`
    * at once, for `rounds` rounds — deterministic and engine-independent,
    * so the DuckDB oracle unrolls the same rounds as chained CTEs. The
    * implementation short-circuits at the FIXED POINT (a round that removes
    * nothing): a converged graph peels as a no-op, so skipping the
    * remaining rounds is result-identical to running them — the oracle's
    * chained-CTE output is preserved exactly. Returns (id, deg) = nodes
    * with at least one surviving edge and their degree in the final edge
    * set.
    *
    * Scale shape: each round is two semi-joins of the edge leaf against
    * the vertices still in + one degree hash aggregate, lineage cut per
    * round on the vertex-sized degree table; nothing driver-side. Small
    * inputs route to the in-task kernel ([[LocalKernels.kCore]]). Input
    * columns: src, dst (directed pairs; symmetrized + de-duped here). */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 4): DataFrame = {
    val (e0, small) = LocalKernels.gate(edges)
    if (small) LocalKernels.kCore(e0, k, rounds)
    else kCoreDistributed(e0, k, rounds)
  }

  private[graft] def kCoreDistributed(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val e0 = edges.select(col("src").as("_ka"), col("dst").as("_kb"))
      .unionAll(edges.select(col("dst").as("_ka"), col("src").as("_kb")))
      .filter(col("_ka") =!= col("_kb"))
      .distinct()
      .repartition(col("_ka"))
      .localCheckpoint(true)
    // Round r takes degrees on the edges among the vertices round r-1 kept
    // (all of them in round 1), so the state is the vertex-sized degree
    // table and the edge set is never rewritten; `rounds` peels take
    // rounds + 1 degree rounds, the last being the report. A round with no
    // vertex under k is the FIXED POINT and already the report, so the loop
    // halts there (identical result): without the check, a dense graph
    // (min degree ≥ k) re-peels every round for zero removals — the 40×
    // soak measured 4×80 s of pure edge-set rewrite.
    Rounds.fold("kcore", peelRounds(rounds), e0, halt = Some(_.filter(col("deg") < k))) {
      (r, prev) =>
        val e = if (r == 1) prev else {
          val keep = prev.filter(col("deg") >= k).select(col("_ka"))
          e0.join(keep, Seq("_ka"), "left_semi")
            .join(keep.withColumnRenamed("_ka", "_kb"), Seq("_kb"), "left_semi")
        }
        e.groupBy(col("_ka")).agg(count(lit(1)).as("deg"))
    }.select(col("_ka").as("id"), col("deg"))
  }

  /** Rounds of a peel loop: one per peel plus the report, at least the
    * report. `Int.MaxValue` (what a Cypher conf saturates a huge value to)
    * stays the cap instead of wrapping negative. */
  private def peelRounds(peels: Int): Int =
    if (peels >= Int.MaxValue - 1) Int.MaxValue else math.max(peels, 0) + 1

  /** Bounded-round k-truss peel (the edge analog of [[kCore]]): each round
    * computes per-edge triangle SUPPORT and drops edges supported by fewer
    * than k−2 triangles; after `rounds` peels (or the fixpoint, whichever
    * first — peeling a fixpoint is the identity, so the early exit cannot
    * change the result) the surviving edge set is reported with its
    * support recomputed on that final set, mirroring kCore's
    * report-degree-on-final-set contract.
    *
    * Scale shape: support comes from the same degree-oriented
    * adjacency-array intersection as [[triangleCount]] (the wedge set is
    * never shuffled as rows); each triangle row then charges its THREE
    * edges through one exploded hash aggregate — shuffle ∝ triangle count
    * with map-side combine, the standard distributed truss-decomposition
    * shape. Input: src/dst pairs, symmetrized + canonicalized here.
    * Returns (a, b, support) for the surviving canonical edges. */
  def kTruss(edges: DataFrame, k: Int, rounds: Int = 4): DataFrame = {
    require(k >= 3 && rounds > 0, s"k >= 3 and rounds > 0, got k=$k rounds=$rounds")
    def support(e: DataFrame): DataFrame = {
      val te = triangleEdges(e).filter(size(col("ws")) > 0)
        .localCheckpoint(true) // three downstream references
      val contrib = te
        .select(col("lo").as("x"), col("hi").as("y"),
          size(col("ws")).cast("long").as("c"))
        .unionAll(te.select(col("lo").as("x"), explode(col("ws")).as("y"))
          .withColumn("c", lit(1L)))
        .unionAll(te.select(col("hi").as("x"), explode(col("ws")).as("y"))
          .withColumn("c", lit(1L)))
        .select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"), col("c"))
        .groupBy(col("a"), col("b")).agg(sum(col("c")).as("support"))
      e.join(contrib, Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          coalesce(col("support"), lit(0L)).as("support"))
    }
    val e0 = edges.select(least(col("src"), col("dst")).cast("long").as("a"),
      greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint(true)
    // round 1 measures support on the input and round r on the edges round
    // r-1 kept, so `rounds` peels take rounds + 1 support rounds and the
    // last is the report; a round with nothing under k-2 is the fixpoint
    Rounds.fold("ktruss", peelRounds(rounds), e0,
        halt = Some(_.filter(col("support") < k - 2))) { (r, prev) =>
      support(if (r == 1) prev
        else prev.filter(col("support") >= k - 2).select(col("a"), col("b")))
    }
  }

  /** Deterministic random-walk neighbor sampling (the GraphSAGE-style
    * fan-out a GNN training pipeline runs over the graph): one walk per
    * start node, `steps` hops, the neighbor at each hop picked by an
    * ARITHMETIC hash of (current node, step) over the sorted neighbor
    * list — no RNG, so walks are reproducible across engines and runs,
    * and the DuckDB oracle re-derives them exactly.
    *
    * Scale shape: the adjacency-list aggregate is one shuffle; each hop is
    * one join of the walker frontier against it (broadcast when the
    * frontier is small, shuffled otherwise — Catalyst picks). Walk state
    * is one row per walker, never per-path materialization. Input: src/dst
    * directed pairs (symmetrized + deduped here); every node that appears
    * gets a walk. Returns (start, v1..vSteps). */
  def deterministicWalks(edges: DataFrame, steps: Int): DataFrame = {
    require(steps >= 1 && steps <= 16, s"steps in [1,16], got $steps")
    val sym = edges.select(col("src").as("_ws"), col("dst").as("_wd"))
      .unionAll(edges.select(col("dst").as("_ws"), col("src").as("_wd")))
      .filter(col("_ws") =!= col("_wd"))
      .distinct()
    val adj = sym.groupBy(col("_ws"))
      .agg(sort_array(collect_list(col("_wd"))).as("_nbrs"),
        count(lit(1)).as("_deg"))
      .localCheckpoint(true)
    var fr = adj.select(col("_ws").as("start"), col("_ws").as("_v"))
    for (i <- 1 to steps) {
      // mod-early keeps the product inside BIGINT range in BOTH engines
      // (DuckDB errors on overflow where JVM longs would wrap)
      val idx = pmod((col("_v") % 100000L) * 2654435761L + lit(i * 40503L),
        col("_deg"))
      fr = fr.join(adj, fr("_v") === adj("_ws"))
        .withColumn(s"v$i", element_at(col("_nbrs"), (idx + 1).cast("int")))
        .drop("_ws", "_nbrs", "_deg", "_v")
        .withColumn("_v", col(s"v$i"))
    }
    fr.select(col("start") +: (1 to steps).map(i => col(s"v$i")): _*)
  }

  /** Deterministic node2vec-style SECOND-ORDER walks (Grover & Leskovec
    * 2016, KDD): the transition out of `cur` is biased by where the walk
    * came FROM — backtracking to `prev` gets weight `wBack` (1/p),
    * neighbors of `prev` (BFS-like moves) get `wCommon`, and everything
    * else (DFS-like moves) gets `wFar` (1/q). Weights are INTEGERS so the
    * cumulative-sum pick is exact in both engines; the "random" draw is
    * the same arithmetic hash of (current node, step) as
    * [[deterministicWalks]], taken mod the total weight, and the chosen
    * neighbor is the first (in sorted-neighbor order) whose running
    * cumulative weight exceeds the draw. No RNG anywhere, so the DuckDB
    * oracle re-derives every walk exactly.
    *
    * Scale shape: adjacency lists are ONE hash aggregate (reused every
    * hop). Each later hop EXPLODES the current node's candidate list
    * (Σ deg(cur) rows ≈ one edge-relation's worth, never deg² work),
    * marks BFS-like candidates with one distributed hash join against the
    * edge relation on (prev, candidate), and picks per walker with a
    * window PARTITIONED BY the walker — running weight sum in
    * sorted-neighbor order, first position past the draw. The r15 A/B
    * (same JVM, noop sink, 3 reps alternating) pinned this as the right
    * form: a collect_list-into-sorted-array + aggregate-HOF pick — the
    * "no window" formulation — measured 30.3-33.5 s vs the window's
    * 5.1-7.0 s on the sf0.1 co-purchase graph and 4.9-5.8 s vs 2.9-3.7 s
    * on the PLACED projection (ObjectHashAggregate buffers + per-group
    * array sort + serialized-array shuffle cost 5× the window's one
    * sort). Skew bound is IDENTICAL either way: a window partition here
    * is ONE walker's candidate list (≤ max degree), exactly the buffer
    * the aggregate form would hold per group. An earlier formulation tested
    * each candidate against prev's neighbor ARRAY in-task
    * (`array_contains`), which is O(deg(cur) × deg(prev)) per walker and
    * collapsed on co-purchase hubs; the join form is linear in candidate
    * count and lets Catalyst pick the join strategy. Walk state never
    * materializes paths. Step 1 has no `prev`, so it is the first-order
    * pick. Returns (start, v1..vSteps). */
  def node2vecWalks(edges: DataFrame, steps: Int,
                    wBack: Int = 1, wCommon: Int = 4, wFar: Int = 2): DataFrame = {
    require(steps >= 1 && steps <= 16, s"steps in [1,16], got $steps")
    require(wBack > 0 && wCommon > 0 && wFar > 0, "weights must be positive")
    import org.apache.spark.sql.expressions.Window
    // cast like bidirectionalBfs: int-typed edge inputs would otherwise
    // leak int v1..vN columns and lean on implicit promotion in the draw
    val sym = edges.select(col("src").cast("long").as("_ws"), col("dst").cast("long").as("_wd"))
      .unionAll(edges.select(col("dst").cast("long").as("_ws"), col("src").cast("long").as("_wd")))
      .filter(col("_ws") =!= col("_wd"))
      .distinct()
      .localCheckpoint(true) // reused as the adjacency test every hop
    val adj = sym.groupBy(col("_ws"))
      .agg(sort_array(collect_list(col("_wd"))).as("_nbrs"),
        count(lit(1)).as("_deg"))
      .localCheckpoint(true)
    def draw(i: Int): org.apache.spark.sql.Column =
      (col("_v") % 100000L) * 2654435761L + lit(i.toLong * 40503L)
    // Prefix packaging is STEP-COUNT-adaptive (guide §2.3): the picked
    // v1..v_{i-1} ride every per-step candidate exchange, and at depth the
    // per-COLUMN overhead (wider codegen projections / unsafe-row fields
    // through each exchange+sort) grows with i. The r16 probe (PLACED
    // projection, sf0.1, 32c, min-of-3 ×2 alternations) measured steps=8:
    // 6.27-6.40 s carrying i long columns, 3.82-4.33 s carrying nothing
    // (the unattainable floor). Two re-join assemblies measured WORSE than
    // the carry (lazy per-step pick branches + reassembly agg: 9.4 s — the
    // union arms canonicalize differently, ReusedExchange never fires and
    // branch i recomputes steps 1..i; per-step localCheckpoint pins: 7.2 s
    // — eight materialization barriers). The shipped deep form packs the
    // prefix into ONE array column (same bytes, one field): a single lazy
    // chain like the carry, measured below it at steps=8. Shallow walks
    // (catalog depth 3) keep the plain-column carry — measured fastest
    // there.
    val carryPrefix = steps <= 4
    // step 1: first-order (uniform over sorted neighbors) — no prev yet
    val fr1 = adj.select(col("_ws").as("start"), col("_ws").as("_v"),
        col("_nbrs"), col("_deg"))
      .withColumn("v1",
        element_at(col("_nbrs"), (pmod(draw(1), col("_deg")) + 1).cast("int")))
    var fr =
      if (carryPrefix)
        fr1.select(col("start"), col("_v").as("_prev"), col("v1").as("_v"), col("v1"))
      else fr1.select(col("start"), col("_v").as("_prev"), col("v1").as("_v"),
        array(col("v1")).as("_vs"))
    // first-past-the-draw per walker: one exchange on the walker key
    // (`start` — one walk per start vertex), partition-local sort by
    // candidate position, running weight sum. A window partition is one
    // walker's candidate list, bounded by max degree — the same bound the
    // aggregate-pick alternative would hold as one group buffer, which the
    // r15 A/B measured 5× slower (see scaladoc); windows here are the
    // measured-fast form, not an accident.
    val ordered = Window.partitionBy(col("start")).orderBy(col("_pos"))
    val whole = Window.partitionBy(col("start"))
    for (i <- 2 to steps) {
      val prefix =
        if (carryPrefix) (1 until i).map(j => col(s"v$j")) else Seq(col("_vs"))
      val cand = fr.join(adj, fr("_v") === adj("_ws"))
        .select((col("start") +: col("_prev") +: col("_v") +: prefix) :+
          posexplode(col("_nbrs")): _*)
        .withColumnRenamed("pos", "_pos").withColumnRenamed("col", "_n")
      fr = cand
        .join(sym.select(col("_ws").as("_pa"), col("_wd").as("_pb")),
          cand("_prev") === col("_pa") && cand("_n") === col("_pb"), "left")
        .withColumn("_wt", when(col("_n") === col("_prev"), lit(wBack.toLong))
          .when(col("_pb").isNotNull, lit(wCommon.toLong))
          .otherwise(lit(wFar.toLong)))
        .withColumn("_cum", sum(col("_wt")).over(ordered))
        .withColumn("_r", pmod(draw(i), sum(col("_wt")).over(whole)))
        // first-past-the-draw picked WITHOUT a second window: weights are
        // strictly positive, so _cum is strictly increasing in _pos order
        // and the draw _r ∈ [0, total) falls inside exactly one candidate's
        // cumulative interval [_cum - _wt, _cum) — the same row the old
        // filter(_cum > _r) + row_number = 1 pair selected, minus that
        // pair's extra Exchange+Sort of the full candidate set per step
        // (the filter broke the window ordering, forcing a re-shuffle)
        .filter(col("_cum") > col("_r") && col("_r") >= col("_cum") - col("_wt"))
        .select((col("start") +: col("_v").as("_prev") +:
          col("_n").as("_v") +:
          (if (carryPrefix) col("_n").as(s"v$i") +: prefix
           else Seq(concat(col("_vs"), array(col("_n"))).as("_vs")))): _*)
    }
    if (carryPrefix)
      fr.select(col("start") +: (1 to steps).map(i => col(s"v$i")): _*)
    else
      fr.select(col("start") +:
        (1 to steps).map(i => element_at(col("_vs"), i).as(s"v$i")): _*)
  }

  /** Bidirectional BFS shortest-path distance for a batch of (src, dst)
    * pairs: both endpoints expand level-synchronized frontiers keyed by
    * pair id, and the answer is min(dist_s + dist_t) over the nodes both
    * sides have visited. Each side runs ceil(maxDepth/2) rounds, so any
    * path of length ≤ maxDepth is found while each frontier only grows to
    * HALF the search depth — the classic win over one-sided BFS, where
    * frontier size at depth d is ~b^d but two meet-in-the-middle frontiers
    * cost ~2·b^(d/2). All pairs advance in the SAME per-round job (state
    * is (pair, side, node, dist) rows), so the round count is bounded by
    * the deepest pair, not the pair count. Returns (src, dst, dist) with
    * one row per pair that connects within maxDepth. */
  def bidirectionalBfs(edges: DataFrame, pairs: Seq[(Long, Long)],
                       maxDepth: Int): DataFrame = {
    require(pairs.nonEmpty && maxDepth >= 1, "pairs nonempty, maxDepth >= 1")
    // kernel gate like every sibling iterative: below the threshold the
    // whole batch of pairs runs as depth-capped in-task BFS passes
    // ([[LocalKernels.bidirBfs]] — meet-in-the-middle buys nothing inside
    // one task); above it the per-round frontier-join formulation below is
    // the only one that exists. Differential pinned in LocalKernelsSpec.
    val pruned = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val (e, small) = LocalKernels.gate(pruned)
    if (small) LocalKernels.bidirBfs(e, pairs, maxDepth)
    else bidirectionalBfsDistributed(e, pairs, maxDepth)
  }

  private[graft] def bidirectionalBfsDistributed(edges: DataFrame, pairs: Seq[(Long, Long)],
                                                 maxDepth: Int): DataFrame = {
    val ss = edges.sparkSession
    // canonicalize BEFORE the dedup, symmetrize after (guide §2.3 —
    // shuffle fewer bytes): the distinct's exchange and the checkpoint
    // then carry |E| canonical pairs instead of 2|E| directed rows; the
    // flip union below is two scans of the same checkpointed leaf and
    // introduces no duplicates (canonical pairs are unique and a != b).
    // Adjacency SET is identical to the old directed-union distinct, so
    // every BFS round sees the same graph.
    val und = edges.select(least(col("src").cast("long"), col("dst").cast("long")).as("_es"),
        greatest(col("src").cast("long"), col("dst").cast("long")).as("_ed"))
      .filter(col("_es") =!= col("_ed")).distinct().localCheckpoint(true)
    val sym = und.unionAll(und.select(col("_ed").as("_es"), col("_es").as("_ed")))
    import ss.implicits._
    val seed = pairs.distinct.zipWithIndex
      .flatMap { case ((s, t), p) => Seq((p, 0, s, 0), (p, 1, t, 0)) }
      .toDF("pid", "side", "id", "dist")
    val visited = Rounds.levels("bidir_bfs", (maxDepth + 1) / 2, seed.localCheckpoint(true)) {
      lv =>
        lv.last.join(sym, col("id") === col("_es"))
          .select(col("pid"), col("side"), col("_ed").as("id"),
            (col("dist") + 1).as("dist"))
          .groupBy(col("pid"), col("side"), col("id"))
          .agg(min(col("dist")).as("dist"))
          .join(lv.reduce(_ unionAll _).select(col("pid").as("vp"), col("side").as("vs"),
            col("id").as("vi")),
            col("pid") === col("vp") && col("side") === col("vs") &&
              col("id") === col("vi"), "left_anti")
    }.reduce(_ unionAll _)
    val s = visited.filter(col("side") === 0)
      .select(col("pid"), col("id"), col("dist").as("ds"))
    val t = visited.filter(col("side") === 1)
      .select(col("pid").as("tp"), col("id").as("ti"), col("dist").as("dt"))
    val met = s.join(t, col("pid") === col("tp") && col("id") === col("ti"))
      .groupBy(col("pid")).agg(min(col("ds") + col("dt")).as("dist"))
      .filter(col("dist") <= maxDepth)
    val pairDf = pairs.distinct.zipWithIndex
      .map { case ((a, b), p) => (p, a, b) }.toDF("pid", "src", "dst")
    pairDf.join(met, "pid")
      .select(col("src"), col("dst"), col("dist").cast("long").as("dist"))
  }

  /** SCC (reference `community.rs` Tarjan) — component = min node id in the
    * SCC. Small inputs route to the in-task iterative Tarjan
    * ([[LocalKernels.scc]], exact, one pass); large inputs run the
    * distributed coloring SCC ([[sccDistributed]]). */
  def scc(edges: DataFrame, maxIter: Int = 10): DataFrame = {
    val (e, small) = LocalKernels.gate(edges)
    if (small) LocalKernels.scc(e) else sccDistributed(e, maxIter)
  }

  /** Coloring SCC (Slota, Rajamanickam and Madduri, "BFS and
    * Coloring-based Parallel Algorithms for Strongly Connected
    * Components", IPDPS 2014): the trim / color / backward-reach phases
    * GraphX's stronglyConnectedComponents runs, each inner loop on
    * [[Rounds]]. One phase works on the vertices no phase has labeled yet
    * and the edges among them:
    *  1. trim: round after round, drop every vertex with no in-edge or no
    *     out-edge among the rest — a singleton SCC, labeled by its own id;
    *  2. color: forward min-id propagation to the fixpoint, so a vertex's
    *     color is the min id that reaches it;
    *  3. backward reach: from each root (a vertex whose color is its own
    *     id), walk reversed edges within the root's color. The reached set
    *     is the root's SCC, and the root is its min id, hence its label.
    * Each phase labels at least every root's SCC. `maxIter` caps the
    * phases, as GraphX's `numIter` does; a vertex still unlabeled at the
    * cap is labeled by its own id. */
  private[graft] def sccDistributed(edges: DataFrame, maxIter: Int = 10): DataFrame = {
    val e = edges.select(col("src").cast("long").as("_src"), col("dst").cast("long").as("_dst"))
      .distinct().localCheckpoint(true)
    // the rows of `es` with both endpoints in `vs`
    def among(es: DataFrame, vs: DataFrame): DataFrame = {
      val v = vs.select(col("id").as("_v"))
      es.join(v, col("_src") === col("_v"), "left_semi")
        .join(v, col("_dst") === col("_v"), "left_semi")
    }
    val verts0 = e.select(col("_src").as("id")).unionAll(e.select(col("_dst").as("id")))
      .distinct().withColumn("component", lit(null).cast("long"))
    Rounds.fold("scc", maxIter, verts0, halt = Some(_.filter(col("component").isNull))) {
      (phase, labels) =>
        val open = labels.filter(col("component").isNull).select(col("id"))
        // phase 1: every vertex is open
        val eOpen = if (phase == 1) e else among(e, open).localCheckpoint(true)
        // `_out`: trimmed this round
        val kept = Rounds.fold("scc_trim", Int.MaxValue, open.withColumn("_out", lit(false)),
            halt = Some(_.filter(col("_out")))) { (_, prev) =>
          val live = prev.filter(!col("_out")).select(col("id"))
          val le = among(eOpen, live)
          val ends = le.select(col("_src").as("id"), lit(true).as("_o"), lit(false).as("_i"))
            .unionAll(le.select(col("_dst").as("id"), lit(false).as("_o"), lit(true).as("_i")))
            .groupBy(col("id")).agg(max(col("_o")).as("_o"), max(col("_i")).as("_i"))
          live.join(ends, Seq("id"), "left")
            .select(col("id"), not(coalesce(col("_o") && col("_i"), lit(false))).as("_out"))
        }.filter(!col("_out")).select(col("id"))
        // `_chg`: color dropped this round. An edge with a trimmed end
        // drops out of both joins below: its src joins no color row, or its
        // dst no vertex row
        val color = Rounds.fold("scc_color", Int.MaxValue, kept.withColumn("color", col("id")),
            halt = Some(_.filter(col("_chg")))) { (_, c) =>
          val inMin = c.join(eOpen, col("id") === col("_src"))
            .groupBy(col("_dst")).agg(min(col("color")).as("_m"))
          c.join(inMin, col("id") === col("_dst"), "left")
            .select(col("id"), least(col("color"), coalesce(col("_m"), col("color"))).as("_nc"),
              col("color"))
            .select(col("id"), col("_nc").as("color"), (col("_nc") < col("color")).as("_chg"))
        }.select(col("id"), col("color"))
        val found = Rounds.levels("scc_reach", Int.MaxValue,
            color.filter(col("id") === col("color"))) { lv =>
          lv.last.join(eOpen, col("id") === col("_dst"))
            .select(col("_src").as("id"), col("color"))
            .join(color, Seq("id", "color"), "left_semi")
            .distinct()
            .join(lv.reduce(_ unionAll _), Seq("id", "color"), "left_anti")
        }.reduce(_ unionAll _)
        labels.join(found.withColumnRenamed("color", "_f"), Seq("id"), "left")
          .join(kept.withColumn("_k", lit(true)), Seq("id"), "left")
          .select(col("id"),
            coalesce(col("component"), col("_f"), when(col("_k").isNull, col("id")))
              .as("component"))
    }.select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Max flow by Edmonds-Karp (reference
    * `crates/samyama-graph-algorithms/src/flow.rs:16`): BFS-shortest
    * augmenting paths over a residual-capacity table, one slot per ordered
    * vertex pair — parallel arcs' capacities summed, plus a zero-capacity
    * reverse slot for every arc (flow cancellation). Small inputs route to
    * the in-task kernel ([[LocalKernels.maxFlow]]). Past the gate the
    * residual stays a DataFrame (never collected): each augmentation is one
    * [[Rounds]] round whose BFS is a nested frontier loop with parent
    * tracking; only the visited cone's (vertex, parent, cap) rows reach the
    * driver, to walk the O(depth) path, and the cone is capped at
    * [[MaxFlowCone]] vertices. Augmenting-path max-flow is inherently
    * round-sequential; use it on bounded subgraphs (the reference is
    * likewise single-machine in-memory here).
    * Input columns: src, dst, cap (null = 1). Returns one row (max_flow). */
  def maxFlow(edges: DataFrame, source: Long, sink: Long): DataFrame = {
    val (e, small) = LocalKernels.gate(edges.select(col("src"), col("dst"), col("cap")))
    if (small) LocalKernels.maxFlow(e, source, sink)
    else maxFlowDistributed(e, source, sink)
  }

  /** The most vertices one augmentation's BFS cone may bring to the driver:
    * the cone is the BFS reach, which on an unbounded input can exceed it. */
  private val MaxFlowCone = 5000000L

  private[graft] def maxFlowDistributed(edges: DataFrame, source: Long, sink: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val fwd = edges.select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"),
      coalesce(col("cap"), lit(1.0)).cast("double").as("c"))
    val residual0 = fwd.unionAll(fwd.select(col("v"), col("u"), lit(0.0)))
      .groupBy("u", "v").agg(sum("c").as("c0")).withColumn("c", col("c0"))
      .localCheckpoint(true)
    // one augmentation per round; `chg` marks the slots it moved, so a
    // round that finds no augmenting path is the fixpoint
    Rounds.fold("maxflow", Int.MaxValue, residual0, halt = Some(_.filter(col("chg")))) { (_, res) =>
      val path = augmentingPath(res, source, sink)
      val f = path.map(_._3).minOption.getOrElse(0.0)
      val deltas = path.flatMap { case (u, v, _) => Seq((u, v, -f), (v, u, f)) }
        .toDF("du", "dv", "delta")
      res.join(broadcast(deltas), col("u") === col("du") && col("v") === col("dv"), "left")
        .select(col("u"), col("v"), col("c0"), (col("c") + coalesce(col("delta"), lit(0.0))).as("c"),
          col("delta").isNotNull.as("chg"))
    }.filter(col("u") === source)
      .agg(coalesce(sum(col("c0") - col("c")), lit(0.0)).as("max_flow"))
  }

  /** A BFS-shortest source → sink path over the residual slots with
    * capacity to spare, as (u, v, spare) hops from the source; empty when
    * the sink is unreachable (or is the source). Each newly reached vertex
    * keeps its smallest-id parent, and the BFS stops at the sink's level. */
  private def augmentingPath(res: DataFrame, source: Long, sink: Long): List[(Long, Long, Double)] = {
    val eps = 1e-9
    val live = res.filter(col("c") > eps).select(col("u"), col("v"), col("c"))
    val seed = res.sparkSession.range(1).select(lit(source).as("id"),
      lit(null).cast("long").as("parent"), lit(null).cast("double").as("pc"))
    val levels = Rounds.levels("maxflow_bfs", Int.MaxValue, seed) { lv =>
      // a level holding the sink expands no further (one-row scalar ride)
      val hit = lv.last.filter(col("id") === sink).agg(count(lit(1)).as("_hit"))
      lv.last.crossJoin(broadcast(hit)).filter(col("_hit") === 0)
        .join(live, col("id") === col("u"))
        .groupBy(col("v")).agg(min(struct(col("u"), col("c"))).as("p"))
        .select(col("v").as("id"), col("p.u").as("parent"), col("p.c").as("pc"))
        .join(lv.reduce(_ unionAll _).select(col("id").as("_vid")), col("id") === col("_vid"),
          "left_anti")
    }
    val cone = levels.reduce(_ unionAll _)
    val probe = cone.agg(count(lit(1)), max(col("id") === sink)).head()
    if (source == sink || !probe.getBoolean(1)) Nil
    else {
      val reach = probe.getLong(0)
      require(reach <= MaxFlowCone,
        s"maxFlow BFS cone has $reach vertices (> $MaxFlowCone); bound the extracted network")
      val parents = cone.collect().map(r => r.getLong(0) -> r).toMap
      Iterator.iterate(sink)(v => parents(v).getLong(1)).takeWhile(_ != source)
        .map { v => val r = parents(v); (r.getLong(1), v, r.getDouble(2)) }
        .toList.reverse
    }
  }

  /** Minimum spanning forest by Borůvka (reference Prim
    * `crates/samyama-graph-algorithms/src/mst.rs:41` — Prim's heap is
    * sequential; Borůvka is the classic distributed formulation: every
    * component picks its minimum outgoing edge in ONE aggregate per round,
    * components merge, rounds are O(log V)). Ties are broken by (w, a, b)
    * lexicographic order, which makes edge weights totally ordered and the
    * resulting forest unique — so any correct MST algorithm (the oracle runs
    * Prim) must return the identical edge set.
    * Input columns: src, dst, weight. Returns MST edges (a, b, weight). */
  def mst(edges: DataFrame): DataFrame = {
    // canonicalize ONCE (both paths need it) and gate on the materialized
    // canonical edge set — the raw input is often a multi-join whose
    // join-multiplied size estimate would route a 300-edge graph to the
    // distributed loop
    val e0 = canonicalMinEdges(edges).localCheckpoint(true)
    val (_, small) = LocalKernels.gate(e0) // leaf: the estimate is the real size
    if (small)
      LocalKernels.mst(e0.select(col("a").as("src"), col("b").as("dst"), col("w").as("weight")))
    else mstCanonical(e0)
  }

  private def canonicalMinEdges(edges: DataFrame): DataFrame =
    edges.select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"),
        coalesce(col("weight"), lit(1.0)).cast("double").as("w"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(min("w").as("w"))

  private[graft] def mstDistributed(edges: DataFrame): DataFrame =
    mstCanonical(canonicalMinEdges(edges).localCheckpoint(true))

  private def mstCanonical(e0: DataFrame): DataFrame = {
    val picks = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val comp0 = e0.select(explode(array(col("a"), col("b"))).as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint(true)
    // `chg` marks the vertices whose component merged this round; a round
    // that picks no edge merges none and is the fixpoint
    Rounds.fold("mst", Int.MaxValue, comp0, halt = Some(_.filter(col("chg")))) { (_, comp) =>
      // each component's minimum outgoing edge — one hash aggregate, struct
      // ordering gives the (w, a, b) tie-break; cut, as the contraction and
      // the final union both read it
      val pick = e0
        .join(comp.select(col("id").as("a"), col("comp").as("ca")), Seq("a"))
        .join(comp.select(col("id").as("b"), col("comp").as("cb")), Seq("b"))
        .filter(col("ca") =!= col("cb"))
        .select(explode(array(col("ca"), col("cb"))).as("c"),
          struct(col("w"), col("a"), col("b"), col("ca"), col("cb")).as("e"))
        .groupBy("c").agg(min("e").as("m"))
        .select(col("m.a").as("a"), col("m.b").as("b"), col("m.w").as("w"),
          col("m.ca").as("ca"), col("m.cb").as("cb"))
        .dropDuplicates("a", "b")
        .localCheckpoint(true)
      picks += pick.select(col("a"), col("b"), col("w"))
      // contract: connected components of the picked component-pair graph,
      // run to the fixpoint (a capped wcc leaves components unmerged, and
      // the next round picks their edges again)
      val merged = wcc(pick.select(col("ca").as("src"), col("cb").as("dst")), Int.MaxValue)
      comp.join(merged.select(col("id").as("_c"), col("component")),
          col("comp") === col("_c"), "left")
        .select(col("id"), coalesce(col("component"), col("comp")).as("ncomp"), col("comp"))
        .select(col("id"), col("ncomp").as("comp"), (col("ncomp") =!= col("comp")).as("chg"))
    }
    unpersistCheckpoint(e0)
    picks.reduce(_ unionAll _)
  }

  /** PCA over a vector column (reference
    * `crates/samyama-optimization/src/algorithms/pca.rs:154`): the covariance
    * gramian is aggregated distributedly by MLlib's RowMatrix (one pass, dim²
    * partial sums), and only the dim×dim eigenproblem runs on the driver —
    * the standard tall-skinny decomposition, exactly how this scales to
    * 100 TB of rows. Returns (components: dim×k column-major, eigenvalues
    * absolute, totalVariance, projected RowMatrix column variances). */
  def pca(df: DataFrame, vecCol: String, k: Int):
      (Array[Array[Double]], Array[Double], Double, Array[Double]) = {
    import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val rows = df.select(col(vecCol)).rdd.map { r =>
      OldVectors.dense(r.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
        case n: Number => n.doubleValue()
      }.toArray)
    }.persist(StorageLevel.MEMORY_AND_DISK)
    val mat = new RowMatrix(rows)
    val (pc, explained) = mat.computePrincipalComponentsAndExplainedVariance(k)
    val summary = mat.computeColumnSummaryStatistics()
    val totalVar = summary.variance.toArray.sum
    val eig = explained.toArray.map(_ * totalVar)
    // project (uncentered — variance is shift-invariant) and measure the
    // per-component variance; for a correct PCA it equals the eigenvalue
    val projVar = mat.multiply(pc).computeColumnSummaryStatistics().variance.toArray
    val comps = Array.tabulate(pc.numCols)(j => Array.tabulate(pc.numRows)(i => pc(i, j)))
    rows.unpersist(false)
    (comps, eig, totalVar, projVar)
  }
}
