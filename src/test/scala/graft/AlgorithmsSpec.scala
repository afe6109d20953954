package graft

import graft.algo.Algorithms
import org.apache.spark.sql.functions._

/** Algorithm kernels validated on tiny graphs with hand-computed answers
  * (the reference validates against LDBC Graphalytics outputs,
  * benches/graphalytics_common/mod.rs:98-135 — same spirit, smaller). */
class AlgorithmsSpec extends SparkSpec {
  import spark.implicits._

  test("wcc: two components get min-id labels") {
    // comp A: 1-2-3 ; comp B: 10-11
    val e = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val got = Algorithms.wcc(e).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("harmonicCentrality: truncated 1/d sums, min-distance dedup, empty seeds") {
    // chain 1 -> 2 -> 3 -> 4 with shortcut 1 -> 3: from 1, dist(2)=1,
    // dist(3)=1 (shortcut beats the 2-hop path), dist(4)=2; 9 is isolated
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L)).toDF("src", "dst")
    val got = Algorithms.harmonicCentrality(e, Seq(1L, 9L), 3)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // seed 1: dist(2)=1, dist(3)=1 (shortcut wins over 2-hop), dist(4)=2
    assert(got(1L)._2 == 3L && math.abs(got(1L)._3 - (1.0 + 1.0 + 0.5)) < 1e-9)
    // isolated seed still gets a row of zeros
    assert(got(9L)._2 == 0L && got(9L)._3 == 0.0)
    // radius truncation: radius 1 sees only the two direct successors
    val r1 = Algorithms.harmonicCentrality(e, Seq(1L), 1)
      .as[(Long, Long, Double)].collect().head
    assert(r1._2 == 2L && math.abs(r1._3 - 2.0) < 1e-9)
  }

  test("closenessCentrality: n/Σd + eccentricity, isolated-seed zeros, truncation") {
    // same shape as the harmonic test: chain 1 -> 2 -> 3 -> 4 with a 1 -> 3
    // shortcut; from 1: d(2)=1, d(3)=1, d(4)=2 → closeness 3/4, ecc 2
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L)).toDF("src", "dst")
    val got = Algorithms.closenessCentrality(e, Seq(1L, 9L), 3)
      .as[(Long, Long, Double, Int)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == 3L && math.abs(got(1L)._3 - 0.75) < 1e-9 &&
      got(1L)._4 == 2)
    assert(got(9L)._2 == 0L && got(9L)._3 == 0.0 && got(9L)._4 == 0)
    // radius 1 truncation: two direct successors, Σd = 2 → closeness 1.0
    val r1 = Algorithms.closenessCentrality(e, Seq(1L), 1)
      .as[(Long, Long, Double, Int)].collect().head
    assert(r1._2 == 2L && math.abs(r1._3 - 1.0) < 1e-9 && r1._4 == 1)
  }

  test("personalizedPageRank matches a naive fixed-point oracle (1e-9)") {
    // digraph WITH a dangling node (5): the catalog's undirected graph has
    // none, so the seed-redirected dangling-mass path is only covered here
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val seeds = Seq(1L)
    val d = 0.85; val iters = 7
    // gated entry (kernel on this tiny graph) AND the distributed twin —
    // both must match the naive oracle
    val got = Algorithms.personalizedPageRank(edges, seeds, iters, d)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dist = Algorithms.personalizedPageRankDistributed(edges, seeds, iters, d)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val vs = Seq(1L, 2L, 3L, 4L, 5L)
    val outAdj = Map(1L -> Seq(2L, 4L), 2L -> Seq(3L), 3L -> Seq(1L), 4L -> Seq(5L))
    var rank = vs.map(v => v -> (if (seeds.contains(v)) 1.0 / seeds.size else 0.0)).toMap
    for (_ <- 1 to iters) {
      val dmass = vs.filterNot(outAdj.contains).map(rank).sum
      val recv = scala.collection.mutable.Map(vs.map(_ -> 0.0): _*)
      for (v <- vs; ns = outAdj.getOrElse(v, Nil); n <- ns)
        recv(n) += rank(v) / ns.size
      rank = vs.map(v => v -> (
        (if (seeds.contains(v)) (1 - d) / seeds.size + d * dmass / seeds.size
         else 0.0) + d * recv(v))).toMap
    }
    assert(got.keySet == rank.keySet)
    assert(dist.keySet == rank.keySet)
    // non-seed mass only flows FROM the seed; all mass stays in the system
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    vs.foreach { v =>
      assert(math.abs(got(v) - rank(v)) < 1e-9, s"gated v=$v")
      assert(math.abs(dist(v) - rank(v)) < 1e-9, s"distributed v=$v")
    }
  }

  test("adamicAdar: two degree-2 commons score 2/ln(2), adjacency excluded") {
    // square 1-2-3-4-1 opened at (1,3): commons of (1,3) are 2 and 4,
    // both degree 2 → score 2/ln(2); y=2,4 are adjacent to 1 → excluded
    val e = Seq((1L, 2L), (2L, 3L), (1L, 4L), (4L, 3L)).toDF("src", "dst")
    val out = Algorithms.adamicAdar(e, Seq(1L), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 3L, 2.88539)))
  }

  test("jaccardSimilarity: intersection over exact union, adjacent pairs kept") {
    // square 1-2-3-4-1 opened at (1,3) plus pendant 5-2:
    // N(1)={2,4}, N(3)={2,4} → J(1,3) = 2/(2+2-2) = 1.0;
    // N(5)={2} → J(1,5) = 1/(2+1-1) = 0.5;
    // (1,2) share no neighbor → no row (candidates need a common neighbor)
    val e = Seq((1L, 2L), (2L, 3L), (1L, 4L), (4L, 3L), (5L, 2L))
      .toDF("src", "dst")
    val out = Algorithms.jaccardSimilarity(e, Seq(1L), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq((1L, 3L, 1.0), (1L, 5L, 0.5)), s"got $out")
  }

  test("jaccardSimilarityApprox: recall >= 0.9 vs the exact twin (RecallSpec pattern)") {
    // 40 hubs with disjoint 20-leaf neighbor sets; each hub gets a twin
    // sharing 18 of its leaves plus 2 unique ones (J = 18/22 ≈ 0.818) —
    // deterministic construction, no RNG. Shared leaves also form
    // identical-{hub, twin} neighbor-set pairs (J = 1.0), so the exact
    // >= 0.5 pair set exercises both the graded and the trivial regime.
    val edges = (0 until 40).flatMap { h =>
      val hub = 100L + h; val twin = 10000L + h
      val leaves = (0 until 20).map(i => 1000000L + h * 100L + i)
      leaves.map(n => (hub, n)) ++ leaves.drop(2).map(n => (twin, n)) ++
        Seq((twin, 2000000L + h * 2), (twin, 2000001L + h * 2))
    }
    val adj = collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    edges.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    val vs = adj.keys.toSeq.sorted
    val exact = for {
      i <- vs; j <- vs if i < j
      inter = (adj(i) & adj(j)).size if inter > 0
      if inter.toDouble / (adj(i) | adj(j)).size >= 0.5
    } yield (i, j)
    val cand = Algorithms.jaccardSimilarityApprox(
        edges.toDF("src", "dst"), 64, 32, 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rec = exact.count(cand.contains).toDouble / exact.size
    info(f"approx recall over ${exact.size} exact >=0.5 pairs = $rec%.3f")
    assert(rec >= 0.9, f"recall $rec%.3f below the 0.9 floor")
    // every planted hub-twin pair specifically must be recalled
    (0 until 40).foreach { h =>
      assert(cand.contains((100L + h, 10000L + h)), s"planted pair for hub $h missed")
    }
  }

  test("neighborSample: fanout caps respected, layer 2 only expands the sampled frontier") {
    val e = (1L to 10L).map(i => (0L, i)).toDF("src", "dst")
      .unionAll(Seq((1L, 100L), (1L, 101L), (1L, 102L), (99L, 7L)).toDF("src", "dst"))
    val out = Algorithms.neighborSample(e, 3, 2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val l1 = out.filter(_._1 == 1); val l2 = out.filter(_._1 == 2)
    // every src keeps at most 3 in layer 1; node 0 has 10 neighbors -> exactly 3
    assert(l1.groupBy(_._2).forall(_._2.length <= 3))
    assert(l1.count(_._2 == 0L) == 3)
    // layer 2 srcs are a subset of layer-1 dsts (99 never sampled into l1)
    val frontier = l1.map(_._3).toSet
    assert(l2.map(_._2).toSet.subsetOf(frontier))
    assert(l2.groupBy(_._2).forall(_._2.length <= 2))
  }

  test("negativeSample: k per node, never a true edge or self, deterministic") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
      .toDF("src", "dst")
    val out = Algorithms.negativeSample(e, 2, 12).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val edges = Set((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
    out.foreach { case (s, d, _) =>
      assert(s != d, s"self pair $s")
      assert(!edges.contains((s, d)) && !edges.contains((d, s)), s"true edge ($s,$d)")
    }
    assert(out.groupBy(_._1).forall(_._2.length <= 2))
    // no node's negatives contain the same vertex twice (two proposal
    // indices hashing to one bucket dedup to min(i) before ranking)
    assert(out.map(t => (t._1, t._2)).distinct.length == out.length,
      s"duplicate (src, neg_dst) pair in $out")
    // deterministic: a second run is identical
    val out2 = Algorithms.negativeSample(e, 2, 12).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.sorted.toSeq == out2.sorted.toSeq)
  }

  test("ssspPath: reconstructed path matches hand-computed Dijkstra, ties to min parent") {
    // 0-(1)->1, 0-(4)->2, 1-(1)->2: shortest to 2 is 0->1->2 (dist 2);
    // 0-(2)->3 and 1-(1)->3 both give dist(3)=2 -> parent tie breaks to
    // min id 0, so the path to 3 is the DIRECT edge
    val e = Seq((0L, 1L, 1.0), (0L, 2L, 4.0), (1L, 2L, 1.0),
      (0L, 3L, 2.0), (1L, 3L, 1.0)).toDF("src", "dst", "weight")
    val p2 = Algorithms.ssspPath(e, 0L, 2L, 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(p2 == Seq((0, 2L, 2.0), (1, 1L, 1.0), (2, 0L, 0.0)), s"got $p2")
    val p3 = Algorithms.ssspPath(e, 0L, 3L, 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(p3 == Seq((0, 3L, 2.0), (1, 0L, 0.0)), s"got $p3")
    // unreachable target -> empty
    assert(Algorithms.ssspPath(e.filter(col("dst") =!= 3L), 3L, 0L, 4).count() == 0)
  }

  test("ssspPath: completeness contract — truncated walks and 0-weight cycles return empty") {
    // on both routes: the in-task kernel, and the distributed walk that
    // localSizeBytes=0 pins
    for (route <- Seq("in-task", "distributed")) {
      if (route == "distributed") spark.conf.set("spark.graft.algo.localSizeBytes", "0")
      try {
        // a 5-edge chain with maxHops 3: the walk cannot reach the source,
        // so the certificate filter must return EMPTY, never a partial path
        val chain = (0L to 4L).map(v => (v, v + 1, 1.0)).toDF("src", "dst", "weight")
        assert(Algorithms.ssspPath(chain, 0L, 5L, 3).count() == 0, route)
        // ...and with enough hops the same query returns the full path
        val full = Algorithms.ssspPath(chain, 0L, 5L, 6).collect()
          .map(r => (r.getInt(0), r.getLong(1))).toSeq
        assert(full == (0 to 5).map(p => (p, 5L - p)), s"$route: got $full")
        // a zero-weight 2-cycle is dropped (like pageRankWeighted): without
        // the filter the parent relation is cyclic and the walk emits bogus
        // alternating rows
        val zc = Seq((0L, 1L, 1.0), (1L, 2L, 0.0), (2L, 1L, 0.0)).toDF("src", "dst", "weight")
        assert(Algorithms.ssspPath(zc, 0L, 2L, 4).count() == 0, route) // 2 unreachable w/o 0-edges
        val z1 = Algorithms.ssspPath(zc, 0L, 1L, 4).collect()
          .map(r => (r.getInt(0), r.getLong(1))).toSeq
        assert(z1 == Seq((0, 1L), (1, 0L)), s"$route: got $z1")
      } finally spark.conf.unset("spark.graft.algo.localSizeBytes")
    }
  }

  test("louvain multi-level: coarsening strictly improves modularity over one level") {
    // graphs where TWO synchronous parity rounds leave level 1 partially
    // consolidated; the contracted level finishes the merge — the planted
    // cases where levels > 1 pays
    def clique(ids: Seq[Long]) = for { x <- ids; y <- ids if x < y } yield (x, y)
    val twoTri = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("a", "b")
    val barbell = (clique(1L to 4L) ++ clique(7L to 10L) ++
      Seq((4L, 5L), (5L, 6L), (6L, 7L))).toDF("a", "b")
    for ((g, name) <- Seq((twoTri, "two-triangle"), (barbell, "barbell"))) {
      val q1 = Algorithms.modularity(g, Algorithms.louvainMoves(g, 2))
        .head().getDouble(0)
      val q2 = Algorithms.modularity(g, Algorithms.louvain(g, 2, 2))
        .head().getDouble(0)
      assert(q2 > q1, s"$name: two-level Q=$q2 not above one-level Q=$q1")
    }
    // levels = 1 is exactly louvainMoves, and the result is deterministic
    val a1 = Algorithms.louvain(twoTri, 2, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m1 = Algorithms.louvainMoves(twoTri, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a1 == m1)
    val r1 = Algorithms.louvain(barbell, 2, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r2 = Algorithms.louvain(barbell, 2, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == r2)
  }

  test("modularity: naive twin on two triangles + bridge, cdlp assignment and hash assignment") {
    // two triangles {1,2,3} {4,5,6} joined by bridge 3-4: the natural
    // 2-community split has high Q; compute the naive Newman sum for any
    // assignment and compare both a good and a bad (hash) assignment
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    def naive(assign: Map[Long, Long]): Double = {
      val m = edges.size.toDouble
      val deg = edges.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).view.mapValues(_.size.toDouble).toMap
      val byC = assign.values.toSeq.distinct
      byC.map { c =>
        val mc = edges.count { case (a, b) => assign(a) == c && assign(b) == c } / m
        val dc = deg.collect { case (v, d) if assign(v) == c => d }.sum / (2 * m)
        mc - dc * dc
      }.sum
    }
    val e = edges.toDF("a", "b")
    Seq(
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L), // natural
      (1L to 6L).map(v => v -> (v % 2)).toMap                          // hash-bad
    ).foreach { assign =>
      val got = Algorithms.modularity(e,
          assign.toSeq.toDF("id", "community"))
        .head().getDouble(0)
      val want = naive(assign)
      assert(math.abs(got - want) < 1e-6, s"got $got want $want for $assign")
    }
    // and the natural split strictly beats the hash split
    val qGood = naive(Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L))
    val qBad = naive((1L to 6L).map(v => v -> (v % 2)).toMap)
    assert(qGood > qBad)
  }

  test("louvainMoves: improves modularity over singletons on planted clusters, deterministic") {
    // two triangles + bridge — the natural 2-community split
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
      .toDF("a", "b")
    // synchronous moves from singletons pair up first (a matching-like
    // round), so triangle consolidation needs a few rounds — 4 suffices
    val asg = Algorithms.louvainMoves(e, 4)
    val q = Algorithms.modularity(e, asg).head().getDouble(0)
    val nodes = (1L to 6L).map(v => (v, v)).toDF("id", "community")
    val q0 = Algorithms.modularity(e, nodes).head().getDouble(0)
    assert(q > q0, s"moves did not improve modularity: $q vs singleton $q0")
    // each triangle collapses into one community
    val m = asg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L) && m(2L) == m(3L), s"left triangle split: $m")
    assert(m(4L) == m(5L) && m(5L) == m(6L), s"right triangle split: $m")
    // deterministic across runs
    val m2 = Algorithms.louvainMoves(e, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == m2)
  }

  test("louvainMoves: distributed fixpoint early-exit fires on a converged graph, result identical") {
    // two triangles + bridge converge well before 12 rounds; after two
    // consecutive no-move rounds (both parities settled) every remaining
    // round is an identity, so the capped and generous runs must agree
    // AND the generous run must have stopped early
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
      .toDF("a", "b")
    spark.conf.set("spark.graft.algo.localSizeBytes", "0") // pin distributed
    try {
      val at4 = Algorithms.louvainMoves(e, 4).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val at12 = Algorithms.louvainMoves(e, 12).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(at4 == at12, "early-exit changed the converged assignment")
      assert(Algorithms.lastLouvainMoveRounds < 12,
        s"fixpoint exit never fired: ran ${Algorithms.lastLouvainMoveRounds} rounds")
    } finally spark.conf.unset("spark.graft.algo.localSizeBytes")
  }

  test("graphStats: counts, density, degree stats and exact log2 histogram") {
    // star 1-{2..9}: node 1 deg 8, leaves deg 1 → density 8/(9*8/2)... =
    // 2*8/(9*8) = 0.2222; log2 buckets: deg 8 → 3, deg 1 → 0
    val e = (2L to 9L).map(v => (1L, v)).toDF("a", "b")
    val m = Algorithms.graphStats(e).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("nodes") == 9.0 && m("edges") == 8.0)
    assert(math.abs(m("density") - 2.0 * 8 / (9 * 8)) < 1e-6)
    assert(m("deg_min") == 1.0 && m("deg_max") == 8.0)
    assert(m("deg_log2_3") == 1.0 && m("deg_log2_0") == 8.0)
  }

  test("hits matches a naive sum-normalized fixed-point (1e-9)") {
    // 1 and 2 point at 3 and 4; 3 points at 4 — 4 is the top authority,
    // 1 the top hub (links to both authorities); 4 has hub 0
    val e = Seq((1L, 3L), (1L, 4L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val iters = 5
    val got = Algorithms.hits(e, iters).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val vs = Seq(1L, 2L, 3L, 4L)
    val out = Map(1L -> Seq(3L, 4L), 2L -> Seq(3L), 3L -> Seq(4L))
    val in = Map(3L -> Seq(1L, 2L), 4L -> Seq(1L, 3L))
    var hub = vs.map(_ -> 1.0).toMap
    var auth = vs.map(_ -> 0.0).toMap
    for (_ <- 1 to iters) {
      val ar = vs.map(v => v -> in.getOrElse(v, Nil).map(hub).sum).toMap
      val as = ar.values.sum
      auth = ar.map { case (v, x) => v -> x / as }
      val hr = vs.map(v => v -> out.getOrElse(v, Nil).map(auth).sum).toMap
      val hs = hr.values.sum
      hub = hr.map { case (v, x) => v -> x / hs }
    }
    vs.foreach { v =>
      assert(math.abs(got(v)._1 - hub(v)) < 1e-9, s"hub $v: ${got(v)._1} != ${hub(v)}")
      assert(math.abs(got(v)._2 - auth(v)) < 1e-9, s"auth $v: ${got(v)._2} != ${auth(v)}")
    }
    assert(got(4L)._2 == vs.map(got(_)._2).max && got(1L)._1 == vs.map(got(_)._1).max)
    assert(got(4L)._1 == 0.0)
  }

  test("pageRankWeighted matches a naive weighted fixed-point (1e-9)") {
    // weighted digraph WITH a dangling node (4): 1 splits 3:1 between 2
    // and 3; 3 feeds the dangler
    val edges = Seq((1L, 2L, 3.0), (1L, 3L, 1.0), (2L, 1L, 2.0),
      (3L, 4L, 5.0)).toDF("src", "dst", "weight")
    val d = 0.85; val iters = 7
    val got = Algorithms.pageRankWeighted(edges, iters, d)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val vs = Seq(1L, 2L, 3L, 4L)
    val out = Map(1L -> Seq((2L, 3.0), (3L, 1.0)), 2L -> Seq((1L, 2.0)),
      3L -> Seq((4L, 5.0)))
    var rank = vs.map(_ -> 0.25).toMap
    for (_ <- 1 to iters) {
      val dmass = vs.filterNot(out.contains).map(rank).sum
      val recv = scala.collection.mutable.Map(vs.map(_ -> 0.0): _*)
      for (v <- vs; es = out.getOrElse(v, Nil); tw = es.map(_._2).sum;
           (t, w) <- es) recv(t) += rank(v) * w / tw
      rank = vs.map(v => v ->
        ((1 - d) / 4 + d * (recv(v) + dmass / 4))).toMap
    }
    vs.foreach(v => assert(math.abs(got(v) - rank(v)) < 1e-9,
      s"node $v: ${got(v)} != ${rank(v)}"))
    // 3:1 split must show: node 2 outranks node 3
    assert(got(2L) > got(3L))
  }

  test("kTruss: peel threshold, cascade, bounded-rounds report-on-final-set") {
    // 4-clique {1,2,3,4} (every edge support 2) + triangle {4,5,6}
    // (support 1 each) + pendant 6-7 (support 0)
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L), (6L, 7L)).toDF("src", "dst")
    val k4 = Algorithms.kTruss(e, 4, 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(k4 == Set((1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L), (2L, 3L, 2L),
      (2L, 4L, 2L), (3L, 4L, 2L)), s"got $k4")
    // Int.MaxValue (a saturated Cypher conf) is a cap, not a wrapped one
    assert(Algorithms.kTruss(e, 4, Int.MaxValue)
      .as[(Long, Long, Long)].collect().toSet == k4)
    val k3 = Algorithms.kTruss(e, 3, 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(k3.size == 9 && k3.contains((4L, 5L, 1L)) && !k3.exists(_._1 == 6L),
      s"got $k3")
    // cascade: triangle strip 1-2-3, 2-3-4, 3-4-5 — k=4 keeps {2-3, 3-4}
    // after round 1, but their support on the SURVIVING set is 0, so
    // rounds=1 reports them at 0 and rounds=2 peels them away entirely
    val strip = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 5L), (4L, 5L)).toDF("src", "dst")
    val r1 = Algorithms.kTruss(strip, 4, 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(r1 == Set((2L, 3L, 0L), (3L, 4L, 0L)), s"got $r1")
    assert(Algorithms.kTruss(strip, 4, 2).count() == 0L)
    assert(Algorithms.kTruss(strip, 4, Int.MaxValue).count() == 0L)
  }

  test("betweennessCentrality: Brandes dependencies, non-DAG edge excluded, seed sum") {
    // diamond 1→{2,3}→4→5 plus shortcut 2→5: from 1, σ(4)=2, σ(5)=1 (only
    // via 2 — the 4→5 edge connects two dist-2 nodes and is NOT on any
    // shortest path, so the backward pass must ignore it);
    // δ(2) = σ2/σ4·1 + σ2/σ5·1 = 1.5, δ(3) = 1/2 = 0.5
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (2L, 5L))
      .toDF("src", "dst")
    val one = Algorithms.betweennessCentrality(e, Seq(1L), 5)
      .as[(Long, Double)].collect().toMap
    assert(one == Map(2L -> 1.5, 3L -> 0.5, 4L -> 0.0, 5L -> 0.0), s"got $one")
    // second seed 3 adds δ_3(4) = 1 (path 3→4→5); contributions sum per node
    val two = Algorithms.betweennessCentrality(e, Seq(1L, 3L), 5)
      .as[(Long, Double)].collect().toMap
    assert(two == Map(2L -> 1.5, 3L -> 0.5, 4L -> 1.0, 5L -> 0.0), s"got $two")
    // isolated seed: nothing reached, empty result
    assert(Algorithms.betweennessCentrality(e, Seq(99L), 3).count() == 0L)
  }

  test("bfs distances on a chain with a shortcut") {
    // 1->2->3->4 and 1->3
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L)).toDF("src", "dst")
    val got = Algorithms.bfs(e, 1L, 10).as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2))
  }

  test("sssp takes the cheaper weighted path") {
    // 1->2 (w1), 2->3 (w1), 1->3 (w5) : dist(3) = 2
    val e = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 5.0)).toDF("src", "dst", "weight")
    val got = Algorithms.sssp(e, 1L, 10).as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0))
  }

  test("triangleCount counts each triangle once") {
    // triangle 1-2-3 plus pendant 3-4
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    assert(Algorithms.triangleCount(und).as[Long].head() == 1L)
  }

  test("triangleCountApprox: p=100 equals exact, sampling is deterministic") {
    // triangles {1,2,3} and {2,3,4}
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (2L, 4L)).toDF("a", "b")
    val full = Algorithms.triangleCountApprox(und, 100).collect().head
    assert(full.getLong(0) == 2L && full.getDouble(1) == 2.0)
    val s1 = Algorithms.triangleCountApprox(und, 50).collect().head
    val s2 = Algorithms.triangleCountApprox(und, 50).collect().head
    assert(s1 == s2, "hash sampling must be reproducible")
  }

  test("squareCount: one 4-cycle, chord-invariant, pendant-free") {
    // square 1-2-3-4-1 → 1; adding chord (1,3) creates triangles but no
    // new 4-cycle; pendant 4-5 adds none
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    assert(Algorithms.squareCount(sq).as[Long].head() == 1L)
    val chord = sq.unionAll(Seq((1L, 3L)).toDF("a", "b"))
    assert(Algorithms.squareCount(chord).as[Long].head() == 1L)
    val pend = chord.unionAll(Seq((4L, 5L)).toDF("a", "b"))
    assert(Algorithms.squareCount(pend).as[Long].head() == 1L)
    // K4 has 3 distinct 4-cycles
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    assert(Algorithms.squareCount(k4).as[Long].head() == 3L)
  }

  test("lcc: triangle vertices 1.0, pendant 0.0") {
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val got = Algorithms.lcc(und).select("id", "lcc").as[(Long, Double)].collect().toMap
    assert(got(1L) == 1.0 && got(2L) == 1.0 && got(4L) == 0.0)
    assert(math.abs(got(3L) - 1.0 / 3.0) < 1e-9) // deg 3, 1 triangle: 2/(3*2)=1/3
  }

  test("pageRank ranks the sink of a star highest and sums to ~1") {
    // 1->4, 2->4, 3->4
    val e = Seq((1L, 4L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val got = Algorithms.pageRank(e, 15).as[(Long, Double)].collect().toMap
    assert(got(4L) > got(1L))
    assert(math.abs(got.values.sum - 1.0) < 1e-6)
  }

  test("cdlp converges to per-component labels on two cliques") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("src", "dst")
    val got = Algorithms.cdlp(e, 5).as[(Long, Long)].collect().toMap
    assert(Set(got(1L), got(2L), got(3L)).size == 1)
    assert(Set(got(10L), got(11L), got(12L)).size == 1)
    assert(got(1L) != got(10L))
  }

  test("scc: cycle forms one component, tail is its own") {
    // cycle 1->2->3->1, tail 3->4
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val got = Algorithms.scc(e, 10).as[(Long, Long)].collect().toMap
    assert(got(1L) == got(2L) && got(2L) == got(3L))
    assert(got(4L) != got(1L))
  }

  test("maxFlow: classic 4-node network with a cross edge") {
    // s=0, t=3; 0->1 (3), 0->2 (2), 1->2 (1), 1->3 (2), 2->3 (3): max flow 5
    val e = Seq((0L, 1L, 3.0), (0L, 2L, 2.0), (1L, 2L, 1.0), (1L, 3L, 2.0), (2L, 3L, 3.0))
      .toDF("src", "dst", "cap")
    assert(Algorithms.maxFlow(e, 0L, 3L).as[Double].head() == 5.0)
  }

  test("maxFlow: distributed path (threshold 0) needs flow cancellation") {
    // same network, localSizeBytes=0 forces the distributed BFS loop;
    // BFS finds 0->1->2->3 first, forcing cancellation via the reverse edge
    val e = Seq((0L, 1L, 3.0), (0L, 2L, 2.0), (1L, 2L, 3.0), (1L, 3L, 2.0), (2L, 3L, 3.0))
      .toDF("src", "dst", "cap")
    spark.conf.set("spark.graft.algo.localSizeBytes", "0")
    try assert(Algorithms.maxFlow(e, 0L, 3L).as[Double].head() == 5.0)
    finally spark.conf.unset("spark.graft.algo.localSizeBytes")
  }

  test("mst: picks the cheap spanning edges, tie-broken lexicographically") {
    // square 1-2-3-4 with diagonal; MST = the three weight-1 edges
    val e = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0), (4L, 1L, 5.0), (1L, 3L, 5.0))
      .toDF("src", "dst", "weight")
    val got = Algorithms.mst(e).as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0)))
  }

  test("mst: disconnected graph yields a spanning forest") {
    val e = Seq((1L, 2L, 1.0), (10L, 11L, 2.0)).toDF("src", "dst", "weight")
    val got = Algorithms.mst(e).as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 1.0), (10L, 11L, 2.0)))
  }

  test("or.solve: all twenty-seven kernel families find a near-greedy allocation") {
    // costs (1, 10, 100), need total >= 1, x in [0,1]: optimum fills the
    // cheapest variable -> fitness ~1; uniform (1/3 each) costs 37
    val costs = Array(1.0, 10.0, 100.0)
    for (alg <- Seq("Jaya", "SA", "TLBO", "PSO", "DE", "GWO", "HS", "ABC",
        "GA", "Firefly", "Cuckoo", "Bat", "Rao", "Rao2", "Rao3", "QOJaya",
        "SampJaya", "FPA", "GSA", "BMR", "BWR", "QORao", "ITLBO", "GOTLBO",
        "BMWR", "SAPHR", "EHRJaya")) {
      val r = graft.algo.Optimize.orSolve(spark, costs, alg,
        minTotal = 1.0, maxIter = 200, starts = 4)
      assert(r.solution.sum >= 1.0 - 1e-6, s"$alg infeasible")
      assert(r.fitness < 37.0, s"$alg fitness ${r.fitness} not better than uniform")
      assert(r.fitness >= 1.0 - 1e-6, s"$alg fitness ${r.fitness} below the optimum")
    }
  }

  test("Pareto families: NSGA-II, MOTLBO, MO-Rao-DE, MO-BMR/BWR/BMWR span the trade-off") {
    import graft.model.PropertyGraph
    val nodes = (1L to 6L).map(i => (i, Seq("Item"), i * 10.0)).toDF("id", "labels", "cost")
    val edges = Seq.empty[(Long, Long, Long, String)].toDF("id", "src", "dst", "relationship")
    for (alg <- Seq("NSGA2", "MOTLBO", "MORaoDE", "MO-BMR", "MO-BWR", "MO-BMWR")) {
      val df = graft.algo.Optimize.orSolveParetoNodes(
        PropertyGraph(nodes, edges), "Item", "cost", alg, minTotal = 2.0,
        popSize = 30, maxIter = 40, starts = 2)
      val row = df.head()
      assert(row.getAs[String]("algorithm") == alg)
      assert(row.getAs[Long]("front_size") >= 2L, s"$alg front collapsed to a point")
      assert(row.getAs[Boolean]("has_front"), alg)
      assert(row.getAs[Boolean]("beats_uniform"), alg)
      assert(row.getAs[Double]("hypervolume") > 0.0, alg)
    }
  }

  test("pca: first component of a line cloud explains ~all variance") {
    // points on the line y = 2x (plus tiny z noise): PC1 captures ~everything
    val rows = (0 until 50).map { i =>
      val x = i / 10.0
      Tuple1(Seq(x.toFloat, (2 * x).toFloat, (if (i % 2 == 0) 1e-4 else -1e-4).toFloat))
    }
    val df = rows.toDF("embedding")
    val (comps, eig, totalVar, projVar) = Algorithms.pca(df, "embedding", 2)
    assert(eig(0) / totalVar > 0.999)
    assert(math.abs(eig(0) - projVar(0)) < 1e-6 * totalVar)
    // PC1 direction ~ (1, 2)/sqrt(5)
    val ratio = math.abs(comps(0)(1) / comps(0)(0))
    assert(math.abs(ratio - 2.0) < 1e-3)
  }

  test("deterministicWalks: every hop lands on a real neighbor, reproducibly") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("src", "dst")
    val w1 = Algorithms.deterministicWalks(e, 3).collect()
      .map(r => (0 until 4).map(r.getLong)).toSet
    val w2 = Algorithms.deterministicWalks(e, 3).collect()
      .map(r => (0 until 4).map(r.getLong)).toSet
    assert(w1 == w2 && w1.size == 4) // one walk per node, bit-identical reruns
    val nbrs = Map(1L -> Set(2L, 3L, 4L), 2L -> Set(1L, 3L),
      3L -> Set(1L, 2L), 4L -> Set(1L))
    w1.foreach { s =>
      (0 until 3).foreach(i =>
        assert(nbrs(s(i)).contains(s(i + 1)), s"walk $s hop $i"))
    }
  }

  test("node2vecWalks matches a naive second-order oracle; bias is honored") {
    // triangle 1-2-3 plus pendant 4 off 1 — mixed degrees, all three
    // weight classes reachable (backtrack / common-neighbor / far)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("src", "dst")
    val adjm = Map(1L -> Vector(2L, 3L, 4L), 2L -> Vector(1L, 3L),
      3L -> Vector(1L, 2L), 4L -> Vector(1L))
    def mod(x: Long, m: Long): Long = ((x % m) + m) % m
    def drawOf(v: Long, step: Int, m: Long): Long =
      mod((v % 100000L) * 2654435761L + step.toLong * 40503L, m)
    def pick1(v: Long, step: Int): Long =
      adjm(v)(drawOf(v, step, adjm(v).size.toLong).toInt)
    def pick2(prev: Long, v: Long, step: Int,
              wb: Long, wc: Long, wf: Long): Long = {
      val nb = adjm(v)
      val wts = nb.map(n => if (n == prev) wb
        else if (adjm(prev).contains(n)) wc else wf)
      val r = drawOf(v, step, wts.sum)
      var cum = 0L
      nb.zip(wts).collectFirst { case (n, w) if { cum += w; cum > r } => n }.get
    }
    def oracle(start: Long, steps: Int, wb: Long, wc: Long, wf: Long): Seq[Long] = {
      var prev = start; var v = pick1(start, 1)
      var out = Vector(v)
      for (i <- 2 to steps) {
        val nxt = pick2(prev, v, i, wb, wc, wf)
        prev = v; v = nxt; out :+= nxt
      }
      start +: out
    }
    val got = Algorithms.node2vecWalks(e, 3).collect()
      .map(r => (0 until 4).map(r.getLong)).toSet
    val want = Seq(1L, 2L, 3L, 4L).map(s => oracle(s, 3, 1, 4, 2)).toSet
    assert(got == want, s"got $got want $want")
    // bias sensitivity on a star: from leaf 2, step 2 stands at hub 1 with
    // prev = 2; a huge backtrack weight returns to 2, uniform weights pick
    // a different leaf — the second-order state provably changes the walk
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("src", "dst")
    def starWalk(wb: Int, wc: Int, wf: Int): Map[Long, Long] =
      Algorithms.node2vecWalks(star, 2, wb, wc, wf).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(starWalk(1000, 1, 1)(2L) == 2L) // heavy return weight backtracks
    assert(starWalk(1, 1, 1)(2L) != 2L)    // uniform draw moves on
  }

  test("node2vecWalks: hub-heavy graph (one node deg >> rest) matches the naive oracle") {
    // celebrity hub 1 wired to every leaf 2..61, plus a leaf ring so the
    // common-neighbor weight class fires from the hub too — pins the
    // first-past-the-draw pick on exactly the celebrity-hub skew shape,
    // independent of formulation (window vs aggregate: the r15 A/B kept
    // the per-walker window as the measured-fast form)
    val hubEdges = (2L to 61L).map(l => (1L, l)) ++
      (2L until 61L).map(l => (l, l + 1))
    val e = hubEdges.toDF("src", "dst")
    val adjm = hubEdges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, ns) => v -> ns.map(_._2).distinct.sorted.toVector }
    def mod(x: Long, m: Long): Long = ((x % m) + m) % m
    def drawOf(v: Long, step: Int, m: Long): Long =
      mod((v % 100000L) * 2654435761L + step.toLong * 40503L, m)
    def pick2(prev: Long, v: Long, step: Int): Long = {
      val nb = adjm(v)
      val wts = nb.map(n => if (n == prev) 1L
        else if (adjm(prev).contains(n)) 4L else 2L)
      val r = drawOf(v, step, wts.sum)
      var cum = 0L
      nb.zip(wts).collectFirst { case (n, w) if { cum += w; cum > r } => n }.get
    }
    def oracle(start: Long, steps: Int): Seq[Long] = {
      var prev = start
      var v = adjm(start)(drawOf(start, 1, adjm(start).size.toLong).toInt)
      var out = Vector(v)
      for (i <- 2 to steps) {
        val nxt = pick2(prev, v, i)
        prev = v; v = nxt; out :+= nxt
      }
      start +: out
    }
    val got = Algorithms.node2vecWalks(e, 4).collect()
      .map(r => (0 until 5).map(r.getLong)).toSet
    val want = adjm.keySet.map(s => oracle(s, 4)).toSet
    assert(got == want)
    // steps > 4 routes the packed single-array prefix carry (the walk so
    // far rides in ONE array column) — pin it against the same naive
    // oracle AND against the plain-column carry on the shared prefix: the
    // draws depend only on (step, current node), so walk(6).v1..v4 == walk(4)
    val got6 = Algorithms.node2vecWalks(e, 6).collect()
      .map(r => (0 until 7).map(r.getLong)).toSet
    val want6 = adjm.keySet.map(s => oracle(s, 6)).toSet
    assert(got6 == want6)
    assert(got6.map(_.take(5)) == got)
  }

  test("bidirectionalBfs: exact distances on a chain, depth cap, disconnection") {
    // chain 1..7 plus a disjoint edge 100-101
    val e = ((1L to 6L).map(i => (i, i + 1)) :+ (100L, 101L)).toDF("src", "dst")
    val got = Algorithms.bidirectionalBfs(e,
      Seq((1L, 7L), (1L, 5L), (2L, 6L), (1L, 100L), (3L, 4L)), 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 7L) -> 6L, (1L, 5L) -> 4L, (2L, 6L) -> 4L,
      (3L, 4L) -> 1L)) // cross-component pair yields NO row
    // a pair whose true distance exceeds maxDepth is filtered, not truncated
    val capped = Algorithms.bidirectionalBfs(e, Seq((1L, 7L)), 5).collect()
    assert(capped.isEmpty)
    // differential vs one-sided BFS on a denser graph: distances agree
    val dense = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 6L),
      (6L, 5L), (2L, 7L), (7L, 8L), (8L, 5L), (3L, 8L)).toDF("src", "dst")
    val bi = Algorithms.bidirectionalBfs(dense,
      Seq((1L, 5L), (1L, 8L), (7L, 4L)), 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(bi.keySet == Set((1L, 5L), (1L, 8L), (7L, 4L)))
    // one-sided BFS needs the symmetrized relation (bfs is directed)
    val denseSym = dense.unionAll(
      dense.select(col("dst").as("src"), col("src").as("dst")))
    for (((s, t), d) <- bi) {
      val one = Algorithms.bfs(denseSym, s, 6)
        .collect().map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
      assert(one(t) == d, s"pair ($s,$t)")
    }
  }
}
