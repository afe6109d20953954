package graft

import graft.algo.{Algorithms, LocalKernels}
import graft.functions.CypherFunctions
import graft.operators.Traversals
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Differential tests: the in-task kernels must reproduce the distributed
  * implementations' observable output — exactly for integer-valued results
  * (wcc/cdlp/bfs/mst/varlength/triangles), to float tolerance for
  * pagerank/sssp (summation order differs; the catalog rounds to 4-6
  * decimals, far above the ULP drift). Random graphs with parallel edges,
  * self-referencing structure, dangling nodes, and disconnected pieces. */
class LocalKernelsSpec extends SparkSpec {
  import spark.implicits._

  // deterministic random multigraph: n vertices, m directed edges
  private def randGraph(seed: Long, n: Int, m: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    // sparse ids (multiples of 7 plus offset) to catch id/index confusion
    val ids = Array.tabulate(n)(i => 1000L + 7L * i)
    Seq.fill(m)((ids(rnd.nextInt(n)), ids(rnd.nextInt(n))))
      .toDF("src", "dst")
  }

  private def weighted(seed: Long, n: Int, m: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val ids = Array.tabulate(n)(i => 500L + 3L * i)
    Seq.fill(m)((ids(rnd.nextInt(n)), ids(rnd.nextInt(n)),
      math.rint(rnd.nextDouble() * 100) / 10.0))
      .toDF("src", "dst", "weight")
  }

  private def sortedRows(df: DataFrame): Array[String] =
    df.collect().map(_.toString).sorted

  /** Runs `f` on a fresh temporary directory and deletes it afterwards. */
  private def withTempDir[A](prefix: String)(f: java.io.File => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    try f(dir) finally rm(dir)
  }

  test("gate: small inputs route local, localSizeBytes=0 pins distributed") {
    val e = randGraph(1, 20, 60)
    assert(LocalKernels.isSmall(e))
    spark.conf.set("spark.graft.algo.localSizeBytes", "0")
    try assert(!LocalKernels.isSmall(e))
    finally spark.conf.unset("spark.graft.algo.localSizeBytes")
  }

  test("superlinear gate: byte-small but edge-dense inputs stay distributed") {
    val e = randGraph(20, 20, 100).toDF("a", "b")
    // tiny both ways → local
    assert(LocalKernels.gate(e, LocalKernels.Superlinear)._2)
    // cap the edge count below the input: the gray-zone count rejects it
    val capped = LocalKernels.Superlinear.copy(sizeBytes = Some(1L), maxEdges = 50L)
    assert(!LocalKernels.gate(e, capped)._2)
  }

  test("dense tier: many-edge few-vertex graphs route local, many-vertex stay distributed") {
    // force the gray zone (estimate > 1 byte) with caps scaled down:
    // plain cap 2 edges, dense cap 100 edges / 5 vertices
    val caps = LocalKernels.Linear.copy(sizeBytes = Some(1L), maxEdges = 2L,
      maxEdgesDense = 100L, maxNodesDense = 5L)
    // 12 edges over 4 vertices: past the plain cap, inside the dense tier
    val dense = (for (a <- 0 until 4; b <- 0 until 4 if a != b)
      yield (a.toLong, b.toLong)).toDF("src", "dst")
    assert(LocalKernels.gate(dense, caps)._2, "dense small-vertex graph should route local")
    // 9 edges over 10 vertices: same edge ballpark, too many vertices
    val sparse = (0 until 9).map(i => (i.toLong, i + 1L)).toDF("src", "dst")
    assert(!LocalKernels.gate(sparse, caps)._2, "large-vertex graph should stay distributed")
    // past the dense edge cap: distributed without the vertex pass
    assert(!LocalKernels.gate(dense, caps.copy(maxEdgesDense = 10L))._2)
  }

  test("bidirBfs local == distributed (pairs, depth cap, degenerate pair, absent endpoints)") {
    for (seed <- Seq(31L, 32L, 33L)) {
      val e = randGraph(seed, 30, 80)
      val ids = e.select(col("src")).unionAll(e.select(col("dst")))
        .distinct().orderBy(col("src")).collect().map(_.getLong(0))
      val pairs = Seq((ids.head, ids.last), (ids.head, ids.head),
        (ids(1), ids(ids.length / 2)), (ids.head, 999999L), // absent endpoint
        (ids(2), 888888L)) // a source whose targets are all absent
      for (depth <- Seq(2, 5)) {
        val loc = sortedRows(LocalKernels.bidirBfs(e, pairs, depth))
        spark.conf.set("spark.graft.algo.localSizeBytes", "0")
        val dist = try leakFree(sortedRows(Algorithms.bidirectionalBfs(e, pairs, depth)))
        finally spark.conf.unset("spark.graft.algo.localSizeBytes")
        assert(loc.toSeq == dist.toSeq, s"seed $seed depth $depth")
      }
    }
  }

  test("louvainMoves local == distributed (exact labels)") {
    for (seed <- Seq(11L, 12L, 13L)) {
      val e = randGraph(seed, 30, 120).toDF("a", "b")
      val loc = sortedRows(LocalKernels.louvainMoves(e, 3))
      spark.conf.set("spark.graft.algo.localSizeBytes", "0")
      val dist = try leakFree(sortedRows(Algorithms.louvainMoves(e, 3)))
      finally spark.conf.unset("spark.graft.algo.localSizeBytes")
      assert(loc.toSeq == dist.toSeq, s"seed $seed")
    }
    // BOTH pair orientations present (the distributed distinct keeps both)
    val bi = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val lb = sortedRows(LocalKernels.louvainMoves(bi, 2))
    spark.conf.set("spark.graft.algo.localSizeBytes", "0")
    val db2 = try sortedRows(Algorithms.louvainMoves(bi, 2))
    finally spark.conf.unset("spark.graft.algo.localSizeBytes")
    assert(lb.toSeq == db2.toSeq)
  }

  test("louvain multi-level local == distributed (exact labels)") {
    for (seed <- Seq(21L, 22L)) {
      val e = randGraph(seed, 40, 160).toDF("a", "b")
      val loc = sortedRows(LocalKernels.louvain(e, 2, 2))
      spark.conf.set("spark.graft.algo.localSizeBytes", "0")
      val dist = try leakFree(sortedRows(Algorithms.louvain(e, 2, 2)))
      finally spark.conf.unset("spark.graft.algo.localSizeBytes")
      assert(loc.toSeq == dist.toSeq, s"seed $seed")
    }
    // three levels on the planted barbell (contraction chain exercised)
    val bar = (Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L),
      (3L, 4L)) ++ Seq((7L, 8L), (8L, 9L), (9L, 7L))).toDF("a", "b")
    val loc3 = sortedRows(LocalKernels.louvain(bar, 2, 3))
    spark.conf.set("spark.graft.algo.localSizeBytes", "0")
    val dist3 = try sortedRows(Algorithms.louvain(bar, 2, 3))
    finally spark.conf.unset("spark.graft.algo.localSizeBytes")
    assert(loc3.toSeq == dist3.toSeq)
  }

  test("louvain multi-level: the input pairs are deduped once") {
    val e = randGraph(21L, 40, 160).toDF("a", "b")
    val (moves, oneLevel) = (
      jobsDuring(Algorithms.louvainMovesDistributed(e, 2).collect()),
      jobsDuring(Algorithms.louvainDistributed(e, 2, 1).collect()))
    // the same dedup leaf and rounds, plus one job that cuts the weighted
    // projection; a second filter + distinct would add its shuffle's jobs
    assert(oneLevel == moves + 1, s"louvain levels=1: $oneLevel jobs, louvainMoves: $moves")
  }

  test("pageRank local == distributed (1e-9)") {
    val e = randGraph(2, 40, 150)
    val loc = LocalKernels.pageRank(e, 8, 0.85).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dist = leakFree(Algorithms.pageRankDistributed(e, 8, 0.85).collect())
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(loc.keySet == dist.keySet)
    loc.foreach { case (id, r) => assert(math.abs(r - dist(id)) < 1e-9, s"id $id") }
    // ranks sum to ~1
    assert(math.abs(loc.values.sum - 1.0) < 1e-9)
  }

  test("pageRankWeighted local == distributed (1e-9), zero-weight edges are not edges") {
    import org.apache.spark.sql.functions._
    for (seed <- 15 to 16) {
      val e = randGraph(seed, 40, 150)
        .withColumn("weight",
          (pmod(col("src") * 7 + col("dst") * 3, lit(5)) + lit(0)).cast("double"))
      // weight 0 rows exist by construction -> exercises the drop rule
      val loc = LocalKernels.pageRankWeighted(e, 8, 0.85).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val dist = leakFree(Algorithms.pageRankWeightedDistributed(e, 8, 0.85).collect())
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(loc.keySet == dist.keySet, s"seed $seed")
      loc.foreach { case (id, r) =>
        assert(math.abs(r - dist(id)) < 1e-9, s"id $id seed $seed") }
    }
  }

  test("harmonic/closeness local == distributed, exact (absent seed, truncation)") {
    for (seed <- 31 to 32) {
      val e = randGraph(seed, 50, 90)
      val seeds = Seq(1L, 2L, 999999L) // 999999 absent from the graph
      assert(sortedRows(LocalKernels.harmonicCentrality(e, seeds, 3)) ===
        leakFree(sortedRows(Algorithms.harmonicDistributed(e, seeds, 3))))
      assert(sortedRows(LocalKernels.closenessCentrality(e, seeds, 3)) ===
        leakFree(sortedRows(Algorithms.closenessDistributed(e, seeds, 3))))
    }
  }

  test("betweenness local == distributed (rounded-4 equality over random graphs)") {
    for (seed <- 41 to 42) {
      val e = randGraph(seed, 40, 120)
      val loc = LocalKernels.betweennessCentrality(e, Seq(1L, 2L, 3L), 4).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val dist = leakFree(Algorithms.betweennessDistributed(e, Seq(1L, 2L, 3L), 4).collect())
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(loc.keySet == dist.keySet, s"seed $seed")
      loc.foreach { case (id, b) =>
        assert(math.abs(b - dist(id)) < 1e-9, s"id $id seed $seed: $b vs ${dist(id)}") }
    }
  }

  test("hits local == distributed (1e-9)") {
    for (seed <- 11 to 12) {
      val e = randGraph(seed, 40, 150)
      val loc = LocalKernels.hits(e, 6).collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      val dist = leakFree(Algorithms.hitsDistributed(e, 6).collect())
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      assert(loc.keySet == dist.keySet)
      loc.foreach { case (id, (h, a)) =>
        assert(math.abs(h - dist(id)._1) < 1e-9, s"hub id $id seed $seed")
        assert(math.abs(a - dist(id)._2) < 1e-9, s"auth id $id seed $seed")
      }
      // both L1-normalized
      assert(math.abs(loc.values.map(_._1).sum - 1.0) < 1e-9)
      assert(math.abs(loc.values.map(_._2).sum - 1.0) < 1e-9)
    }
  }

  test("wcc local == distributed, exact") {
    for (seed <- 3 to 5) {
      val e = randGraph(seed, 60, 70) // sparse → several components
      assert(sortedRows(LocalKernels.wcc(e)) ===
        leakFree(sortedRows(Algorithms.wccDistributed(e))))
    }
  }

  test("scc local (Tarjan) == distributed (coloring), exact") {
    // dense-ish digraphs so real multi-node SCCs form; the coloring SCC
    // needs enough phases to finish — Tarjan is exact in one pass
    for (seed <- 21 to 23) {
      val e = randGraph(seed, 40, 160)
      assert(sortedRows(LocalKernels.scc(e)) ===
        sortedRows(Algorithms.sccDistributed(e, maxIter = 40)))
    }
    // pure DAG (chain): all singletons
    val chain = (1 to 20).map(i => (i.toLong, i + 1L)).toDF("src", "dst")
    val got = LocalKernels.scc(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.forall { case (id, c) => id == c })
    // one big cycle: single SCC labeled by min id
    val cyc = ((1 to 9).map(i => (i.toLong, i + 1L)) :+ ((10L, 1L))).toDF("src", "dst")
    val gotC = LocalKernels.scc(cyc).collect().map(_.getLong(1)).distinct
    assert(gotC.toSeq == Seq(1L))
  }

  test("scc distributed: chain, cycle, self-loops, one-way bridge, dst-only vertex, phase cap") {
    def labels(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def edges(es: (Long, Long)*): DataFrame = es.toDF("src", "dst")
    // each shape: the distributed labels, which must equal Tarjan's
    def distributed(name: String, e: DataFrame): Map[Long, Long] = {
      val got = labels(Algorithms.sccDistributed(e, maxIter = 10))
      assert(got == labels(LocalKernels.scc(e)), name)
      got
    }
    // a 20-node chain: the trim rounds peel it to singletons
    val chain = distributed("chain", (1 to 20).map(i => (i.toLong, i + 1L)).toDF("src", "dst"))
    assert(chain.size == 21 && chain.forall { case (id, c) => id == c })
    // a 10-cycle: one component, labeled 1
    val cyc = distributed("cycle",
      ((1 to 9).map(i => (i.toLong, i + 1L)) :+ ((10L, 1L))).toDF("src", "dst"))
    assert(cyc.size == 10 && cyc.values.toSet == Set(1L))
    // self-loops and parallel edges: a self-loop alone is a singleton
    val loops = distributed("self-loops + parallel edges",
      edges((1, 1), (1, 2), (1, 2), (2, 1), (2, 1), (3, 3), (3, 4), (4, 4)))
    assert(loops == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
    // two cycles joined by a one-way edge: one color, two phases
    val bridge = distributed("one-way bridge",
      edges((1, 2), (2, 3), (3, 1), (3, 10), (10, 11), (11, 12), (12, 10)))
    assert(bridge == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
    // 7 appears only as a dst
    val sink = distributed("dst-only vertex", edges((1, 2), (2, 1), (2, 7)))
    assert(sink == Map(1L -> 1L, 2L -> 1L, 7L -> 7L))
    // the cap: three 2-cycles in a forward chain need three phases (each
    // labels only the SCC of the one color root); at maxIter = 2 the third
    // stays unlabeled and each of its vertices keeps its own id
    val ladder = edges((1, 2), (2, 1), (2, 3), (3, 4), (4, 3), (4, 5), (5, 6), (6, 5))
    assert(labels(Algorithms.sccDistributed(ladder, maxIter = 2)) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 6L))
    assert(labels(Algorithms.sccDistributed(ladder, maxIter = 3)) ==
      labels(LocalKernels.scc(ladder)))
  }

  test("cdlp local == distributed, exact (incl. parallel-edge frequency)") {
    for (seed <- 6 to 8) {
      val e = randGraph(seed, 30, 120) // dense-ish → duplicate edges matter
      assert(sortedRows(LocalKernels.cdlp(e, 5)) ===
        sortedRows(Algorithms.cdlpDistributed(e, 5)))
    }
  }

  test("kCore local == distributed, exact (fixed synchronous rounds)") {
    for (seed <- 20 to 22) {
      val e = randGraph(seed, 40, 160) // dense-ish: real peel cascades
      for (k <- Seq(2, 5, 8))
        assert(sortedRows(LocalKernels.kCore(e, k, 4)) ===
          leakFree(sortedRows(Algorithms.kCoreDistributed(e, k, 4))),
          s"seed=$seed k=$k")
    }
    // a Cypher conf saturates a huge round count to Int.MaxValue: it runs
    // to the fixed point, and a negative count peels nothing
    val e20 = randGraph(20, 40, 160)
    for (rounds <- Seq(Int.MaxValue, -1))
      assert(sortedRows(LocalKernels.kCore(e20, 5, rounds)) ===
        sortedRows(Algorithms.kCoreDistributed(e20, 5, rounds)), s"rounds=$rounds")
    // self-loops and duplicate/reversed edges must not count toward degree
    val dup = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst")
    assert(sortedRows(LocalKernels.kCore(dup, 2, 3)) ===
      sortedRows(Algorithms.kCoreDistributed(dup, 2, 3)))
  }

  test("bfs local == distributed, exact (depth cap + unreachable)") {
    val e = randGraph(9, 50, 90)
    val src = e.select("src").as[Long].head()
    for (cap <- Seq(2, 4, 30)) {
      assert(sortedRows(LocalKernels.bfs(e, src, cap)) ===
        leakFree(sortedRows(Algorithms.bfsDistributed(e, src, cap))))
    }
    // isolated source: exactly the (source, 0) row
    assert(sortedRows(LocalKernels.bfs(e, 99999L, 4)) === Array("[99999,0]"))
  }

  test("sssp local == distributed (bounded rounds, 1e-9)") {
    val e = weighted(10, 40, 120)
    val src = e.select("src").as[Long].head()
    for (cap <- Seq(2, 6, 30)) {
      val loc = LocalKernels.sssp(e, src, cap).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val dist = leakFree(Algorithms.ssspDistributed(e, src, cap).collect())
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(loc.keySet == dist.keySet, s"cap $cap")
      loc.foreach { case (id, d) => assert(math.abs(d - dist(id)) < 1e-9) }
    }
  }

  test("ssspPath: gated (in-task) == pinned distributed, identical rows") {
    // the parent tree's exact-FP equality must hold on EITHER distance
    // path: kernel and distributed relax with the same double additions
    for (seed <- Seq(21L, 22L)) {
      val e = weighted(seed, 12, 50)
      val src = e.select("src").as[Long].head()
      val tgt = e.select("dst").as[Long].orderBy(col("dst").desc).head()
      assert(LocalKernels.isSmall(e)) // gated run takes the kernel
      val viaKernel = sortedRows(Algorithms.ssspPath(e, src, tgt, 8))
      spark.conf.set("spark.graft.algo.localSizeBytes", "0")
      val viaDist =
        try sortedRows(Algorithms.ssspPath(e, src, tgt, 8))
        finally spark.conf.unset("spark.graft.algo.localSizeBytes")
      assert(viaKernel === viaDist, s"seed $seed")
    }
  }

  test("mst local == distributed, exact (unique forest under (w,a,b) order)") {
    for (seed <- 11 to 13) {
      val e = weighted(seed, 30, 80)
      assert(sortedRows(LocalKernels.mst(e)) ===
        sortedRows(Algorithms.mstDistributed(e)))
    }
  }

  test("mst distributed: an 80-vertex path contracts fully, each edge once") {
    // every vertex picks its lighter edge, so round 1 picks all 79 and the
    // contraction must merge an 80-long chain of components in one wcc
    val e = (1L until 80L).map(i => (i, i + 1, i.toDouble)).toDF("src", "dst", "weight")
    val loc = sortedRows(LocalKernels.mst(e))
    spark.conf.set("spark.graft.algo.localSizeBytes", "0")
    val dist = try sortedRows(Algorithms.mst(e))
    finally spark.conf.unset("spark.graft.algo.localSizeBytes")
    assert(loc.length == 79)
    assert(dist.toSeq == loc.toSeq)
  }

  test("maxFlow local == distributed, exact (integer capacities)") {
    // multigraphs with parallel and antiparallel arcs, self-loops and null
    // capacities (= 1), plus a component the source cannot reach
    def network(seed: Long): DataFrame = {
      val rnd = new scala.util.Random(seed)
      val ids = Array.tabulate(10)(i => 200L + 5L * i)
      (Seq.fill(36)((ids(rnd.nextInt(10)), ids(rnd.nextInt(10)),
          if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(7).toDouble))) ++
        Seq((900L, 901L, Some(4.0)), (901L, 900L, Some(2.0))))
        .toDF("src", "dst", "cap")
    }
    val flows = for {
      seed <- Seq(41L, 42L, 43L)
      (s, t) <- Seq((200L, 245L), (205L, 240L), (200L, 901L), (210L, 210L))
    } yield {
      val e = network(seed)
      val loc = sortedRows(LocalKernels.maxFlow(e, s, t))
      spark.conf.set("spark.graft.algo.localSizeBytes", "0")
      val dist = try leakFree(sortedRows(Algorithms.maxFlow(e, s, t)))
      finally spark.conf.unset("spark.graft.algo.localSizeBytes")
      assert(loc.toSeq == dist.toSeq, s"seed $seed, $s -> $t")
      (s, t) -> loc.head
    }
    assert(flows.exists { case (_, f) => f != "[0.0]" }) // some network carries flow
    assert(flows.forall { case ((s, t), f) => (t != 901L && s != t) || f == "[0.0]" })
  }

  test("triangleCount + lcc local == distributed, exact (multigraph rows kept)") {
    // canonical a<b undirected edges WITH duplicates
    val random = Seq(14L, 15L, 16L).map { seed =>
      val rnd = new scala.util.Random(seed)
      val ids = Array.tabulate(25)(i => 10L * i)
      s"seed $seed" -> Seq.fill(120)((ids(rnd.nextInt(25)), ids(rnd.nextInt(25))))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    }
    // 40-vertex clique minus a perfect matching (every degree ties) plus a
    // hub joined to all 40, with every pair whose index sum is 0 mod 9
    // repeated: the (deg, id) tie-break decides most orientations, and the
    // duplicate rows shift degrees and must count per row
    val ids = Array.tabulate(40)(i => 1000L + 7L * i)
    val hub = 1000L + 7L * 20 + 3 // mid-range id: the hub is a and b
    val clique = for {
      i <- 0 until 40; j <- i + 1 until 40 if !(i % 2 == 0 && j == i + 1)
      row = (ids(i), ids(j)); r <- Seq.fill(if ((i + j) % 9 == 0) 2 else 1)(row)
    } yield r
    val dense = "near-clique + hub" ->
      (clique ++ ids.map(v => (math.min(v, hub), math.max(v, hub))))
    val bad = (random :+ dense).flatMap { case (name, rows) =>
      val und = rows.toDF("a", "b")
      Seq("triangleCount" ->
        (LocalKernels.triangleCount(und), Algorithms.triangleCountDistributed(und)),
        "lcc" -> (LocalKernels.lcc(und), Algorithms.lccDistributed(und)))
        .collect { case (k, (loc, dist)) if sortedRows(loc).toSeq != sortedRows(dist).toSeq =>
          s"$name: $k" }
    }
    assert(bad.isEmpty, bad.mkString("local != distributed on ", ", ", ""))
  }

  test("varLengthExpand local == distributed, exact (min/max hops, revisit)") {
    val e = randGraph(15, 40, 100)
    val starts = e.select(col("src")).limit(6)
    for ((mn, mx) <- Seq((0, 2), (1, 3), (2, 4))) {
      assert(sortedRows(LocalKernels.varLengthExpand(e, starts, "src", mn, mx)) ===
        sortedRows(Traversals.varLengthExpandDistributed(e, starts, "src", mn, mx)),
        s"range $mn..$mx")
    }
  }

  test("varLengthExpandPaths local == distributed, exact (witness path + parallel edges)") {
    val rnd = new scala.util.Random(17)
    val ids = Array.tabulate(30)(i => 100L + 5L * i)
    // edges WITH ids and a few parallel duplicates (distinct eids)
    val rows = Seq.tabulate(90)(k =>
      (1000L + k, ids(rnd.nextInt(30)), ids(rnd.nextInt(30)))) ++
      Seq((2001L, ids(0), ids(1)), (2002L, ids(0), ids(1))) // parallel pair
    val e = rows.toDF("id", "src", "dst")
    val starts = e.select(col("src")).limit(5)
    for ((mn, mx) <- Seq((0, 2), (1, 3))) {
      for (allPaths <- Seq(false, true))
        assert(sortedRows(LocalKernels.pathExpand(e, starts, "src", mn, mx, allPaths)) ===
          sortedRows(Traversals.pathExpandDistributed(e, starts, "src", mn, mx, allPaths)),
          s"allPaths=$allPaths $mn..$mx")
    }
    // no id column: epath stays empty on both paths
    val eNoId = e.select("src", "dst")
    assert(sortedRows(LocalKernels.pathExpand(eNoId, starts, "src", 1, 2, allPaths = false)) ===
      sortedRows(Traversals.pathExpandDistributed(eNoId, starts, "src", 1, 2, allPaths = false)))
  }

  test("public entry points route through the gate and stay correct") {
    val e = randGraph(16, 30, 60)
    // public call (small → local) equals the pinned-distributed run
    val viaGate = sortedRows(Algorithms.wcc(e))
    spark.conf.set("spark.graft.algo.localSizeBytes", "0")
    try assert(viaGate === sortedRows(Algorithms.wcc(e)))
    finally spark.conf.unset("spark.graft.algo.localSizeBytes")
  }

  test("shortestPathsToTargets local == distributed, exact (minHops 0, absent ids)") {
    val rnd = new scala.util.Random(19)
    val ids = Array.tabulate(30)(i => 100L + 5L * i)
    val e = Seq.tabulate(80)(k => (1000L + k, ids(rnd.nextInt(30)), ids(rnd.nextInt(30))))
      .toDF("id", "src", "dst")
    // ids(0) is a start and a target; 7 has no edges; 9 is no vertex but
    // both a start and a target
    val starts = Seq(ids(0), ids(3), 7L, 9L).toDF("s")
    val targets = Seq(ids(0), ids(12), ids(25), ids(29), 9L).toDF("t")
    for (allPaths <- Seq(false, true); (mn, mx) <- Seq((0, 3), (1, 4), (0, 8))) {
      val loc = sortedRows(LocalKernels.pathExpand(
        e, starts, "s", mn, mx, allPaths, Some((targets, "t"))))
      assert(loc.exists(r => !r.startsWith(s"[${ids(0)},${ids(0)},") && !r.startsWith("[9,")),
        s"allPaths=$allPaths $mn..$mx reaches no target past hop 0")
      assert(loc === sortedRows(Traversals.pathExpandDistributed(
        e, starts, "s", mn, mx, allPaths, Some((targets, "t")))), s"allPaths=$allPaths $mn..$mx")
    }
  }

  test("view: every shaping of a base view equals a direct build from the raw edges") {
    // the documented semantics, written naively over the raw long edges:
    // shape the rows, then number the sorted distinct ids
    def direct(s: Array[Long], d: Array[Long], w: Array[Double], loops: Boolean,
               canonical: Boolean, dedup: Boolean, extra: Seq[Long]) = {
      var rows: Seq[(Long, Long, Double, Long)] = s.indices.filter(k => loops || s(k) != d(k)).map { k =>
        val (a, b) = if (canonical && d(k) < s(k)) (d(k), s(k)) else (s(k), d(k))
        (a, b, if (w == null) 0.0 else w(k), k.toLong)
      }
      val ids = (rows.flatMap(r => Seq(r._1, r._2)) ++ extra).distinct.sorted
      if (dedup) rows = rows.groupBy(r => (r._1, r._2)).toSeq
        .map { case ((a, b), g) => (a, b, g.map(_._3).min, -1L) }
        .filter(w == null || _._3 < Double.MaxValue).sortBy(r => (r._1, r._2))
      val ix = ids.zipWithIndex.toMap
      (ids, rows.map(r => ix(r._1)), rows.map(r => ix(r._2)), rows.map(_._3), rows.map(_._4))
    }
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed)
      val vs = Array.tabulate(12)(i => 40L + 9L * i)
      // parallel edges and self-loops from a small vertex set; 5 and 900
      // appear only in self-loops; tied weights and Double.MaxValue ones
      val raw = Seq.fill(30 + rnd.nextInt(30))((vs(rnd.nextInt(12)), vs(rnd.nextInt(12)))) ++
        Seq((5L, 5L), (900L, 900L), (900L, 900L))
      val edges = rnd.shuffle(raw).toArray
      val (s, d) = (edges.map(_._1), edges.map(_._2))
      val wts = Array.fill(s.length)(Seq(1.0, 2.0, 2.0, Double.MaxValue)(rnd.nextInt(4)))
      for (w <- Seq(wts, null); loops <- Seq(true, false); canonical <- Seq(false, true);
           dedup <- Seq(false, true);
           extra <- Seq(Nil, Seq(vs(3)), Seq(5L), Seq(7L, 7L), Seq(vs(0), 3L, 5000L, 900L))) {
        val base = LocalKernels.build(s, d, w, s.indices.map(_.toLong).toArray)
        val shaping = s"seed $seed weighted=${w != null} loops=$loops canonical=$canonical " +
          s"dedup=$dedup extra=$extra"
        val g = LocalKernels.view(base, loops, canonical, dedup, extra)
        val (ids, si, di, wt, eid) = direct(s, d, w, loops, canonical, dedup, extra)
        assert(g.ids.toSeq === ids, shaping)
        assert(g.src.toSeq === si, shaping)
        assert(g.dst.toSeq === di, shaping)
        if (w == null) assert(g.weight === null, shaping) else assert(g.weight.toSeq === wt, shaping)
        if (dedup) assert(g.eid === null, shaping) else assert(g.eid.toSeq === eid, shaping)
        assert(LocalKernels.view(base, loops, canonical, dedup) eq
          LocalKernels.view(base, loops, canonical, dedup), s"$shaping: not memoized")
      }
    }
  }

  test("resident cache: file-backed kernels hit the cache and match cold runs") {
    // parquet-backed edges (LocalRelation inputs never cache) — run each
    // kernel twice: run 1 populates the resident cache, run 2 serves from
    // it. A hit reads no file: its plan is the kernel's rows (a local
    // relation) or, for the path kernels, a task over the (local)
    // start/target rows. Both runs must match each other and the
    // distributed twin.
    withTempDir("graft_rescache") { dir =>
      randGraph(77, 40, 200)
        .withColumn("id", monotonically_increasing_id())
        .withColumn("weight", (pmod(col("src") + col("dst"), lit(7)) + lit(1)).cast("double"))
        .write.mode("overwrite").parquet(s"$dir/e.parquet")
      val e = spark.read.parquet(s"$dir/e.parquet")
      val vs = e.select(col("src")).distinct().orderBy(col("src")).as[Long].collect()
      val starts = vs.take(5).toSeq.toDF("s0")
      val targets = vs.takeRight(4).toSeq.toDF("t0")
      // distributed references, pinned so the gate cannot route them back
      // to the (cached) local kernels
      def distributed(f: => DataFrame): Array[String] = {
        spark.conf.set("spark.graft.algo.localSizeBytes", "0")
        try sortedRows(f)
        finally spark.conf.unset("spark.graft.algo.localSizeBytes")
      }
      def runs(name: String)(f: => DataFrame): (Array[String], Array[String]) = {
        val first = sortedRows(f)
        val again = f
        assert(again.inputFiles.isEmpty, s"$name: the second call read the edge files")
        (first, sortedRows(again))
      }
      assert(LocalKernels.bfs(e, 1000L, 30).inputFiles.nonEmpty, "a cold call reads the files")
      val (b1, b2) = runs("bfs")(LocalKernels.bfs(e, 1000L, 30))
      assert(b1 === b2)
      assert(b1 === distributed(graft.algo.Algorithms.bfs(e, 1000L, 30)))
      // every later kernel over the projection reads the view bfs interned
      val base = LocalKernels.residentView(LocalKernels.pairs(e))
      assert(base.isDefined, "the first call left no resident view")
      val (w1, w2) = runs("wcc")(LocalKernels.wcc(e))
      assert(LocalKernels.residentView(LocalKernels.pairs(e)).exists(_ eq base.get),
        "the projection was interned again")
      assert(w1 === w2)
      assert(w1 === distributed(graft.algo.Algorithms.wcc(e)))
      val (r1, r2) = runs("pageRank")(LocalKernels.pageRank(e, 8, 0.85))
      assert(r1 === r2)
      val (s1, s2) = runs("sssp")(LocalKernels.sssp(e, 1000L, 30))
      assert(s1 === s2)
      val (v1, v2) = runs("varLengthExpand")(LocalKernels.varLengthExpand(e, starts, "s0", 1, 3))
      assert(v1 === v2)
      assert(v1 === sortedRows(
        Traversals.varLengthExpandDistributed(e, starts, "s0", 1, 3)))
      val (p1, p2) = runs("pathExpand")(
        LocalKernels.pathExpand(e, starts, "s0", 1, 2, allPaths = false))
      assert(p1 === p2)
      assert(p1 === sortedRows(
        Traversals.pathExpandDistributed(e, starts, "s0", 1, 2, allPaths = false)))
      val (t1, t2) = runs("pathExpand to targets")(LocalKernels.pathExpand(
        e, starts, "s0", 0, 6, allPaths = true, Some((targets, "t0"))))
      assert(t1 === t2)
      assert(t1 === sortedRows(Traversals.pathExpandDistributed(
        e, starts, "s0", 0, 6, allPaths = true, Some((targets, "t0")))))
      // rewriting the files invalidates the key (len/mtime in the key): a
      // different graph at the same path must NOT serve stale results
      randGraph(88, 40, 200).write.mode("overwrite").parquet(s"$dir/e.parquet")
      val e2 = spark.read.parquet(s"$dir/e.parquet")
      assert(sortedRows(LocalKernels.wcc(e2)) ===
        distributed(graft.algo.Algorithms.wcc(e2)))
    }
  }

  test("resident cache: concurrent kernels over one resident view match sequential runs") {
    withTempDir("graft_rescache_mt") { dir =>
      randGraph(91, 60, 400).write.parquet(s"$dir/e.parquet")
      val e = spark.read.parquet(s"$dir/e.parquet")
      val seeds = Seq(1000L, 1070L, 1140L)
      // each kernel shapes the shared view or memoizes CSR rows on it
      val kernels: Seq[() => DataFrame] = Seq(
        () => LocalKernels.betweennessCentrality(e, seeds, 4),
        () => LocalKernels.hits(e, 5),
        () => LocalKernels.kCore(e, 3, 4),
        () => LocalKernels.cdlp(e, 4),
        () => LocalKernels.scc(e))
      sortedRows(LocalKernels.pageRank(e, 4, 0.85)) // interns the bare view
      val base = LocalKernels.residentView(LocalKernels.pairs(e))
      assert(base.isDefined)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val got = try {
        // two threads run every kernel at once, in opposite orders
        val fs = Seq(kernels, kernels.reverse).map { ks =>
          pool.submit(new java.util.concurrent.Callable[Seq[Seq[String]]] {
            def call(): Seq[Seq[String]] = ks.map(k => sortedRows(k()).toSeq)
          })
        }
        fs.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdown()
      val sequential = kernels.map(k => sortedRows(k()).toSeq)
      assert(got(0) === sequential)
      assert(got(1) === sequential.reverse)
      assert(LocalKernels.residentView(LocalKernels.pairs(e)).exists(_ eq base.get))
    }
  }

  // ---- resident hits: the same rows as the miss, and no job ------------

  /** Every kernel that reads no side stream, over the (src, dst, weight,
    * cap, a, b) edge frame and a source vertex id. */
  private val noSideKernels: Seq[(String, (DataFrame, Long) => DataFrame)] = Seq(
    "pageRank" -> ((e, _) => LocalKernels.pageRank(e, 8, 0.85)),
    "wcc" -> ((e, _) => LocalKernels.wcc(e)),
    "cdlp" -> ((e, _) => LocalKernels.cdlp(e, 4)),
    "lcc" -> ((e, _) => LocalKernels.lcc(e)),
    "triangleCount" -> ((e, _) => LocalKernels.triangleCount(e)),
    "bfs" -> ((e, s) => LocalKernels.bfs(e, s, 5)),
    "sssp" -> ((e, s) => LocalKernels.sssp(e, s, 6)),
    "kCore" -> ((e, _) => LocalKernels.kCore(e, 2, 4)),
    "louvainMoves" -> ((e, _) => LocalKernels.louvainMoves(e, 3)),
    "scc" -> ((e, _) => LocalKernels.scc(e)),
    "betweennessCentrality" -> ((e, s) => LocalKernels.betweennessCentrality(e, Seq(s, s + 7), 3)),
    "hits" -> ((e, _) => LocalKernels.hits(e, 5)),
    "mst" -> ((e, _) => LocalKernels.mst(e)),
    "maxFlow" -> ((e, s) => LocalKernels.maxFlow(e, s, s + 7)))

  /** Small multigraphs over sparse ids 1000 + 7i, each with a self-loop, a
    * parallel edge and a vertex that is only ever a destination; integer
    * weights 1-9 (also the max-flow capacities). */
  private val multigraphs: Gen[Seq[(Long, Long, Double)]] = for {
    n <- Gen.choose(2, 12)
    m <- Gen.choose(1, 30)
    es <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1), Gen.choose(1, 9)))
  } yield {
    def id(i: Int): Long = 1000L + 7L * i
    val base = es.map { case (a, b, w) => (id(a), id(b), w.toDouble) }
    base ++ Seq((id(0), id(0), 2.0), base.head, (id(1), id(n) + 3, 4.0))
  }

  test("resident hit == miss for every kernel without a side stream (generated multigraphs)") {
    // each kernel reads its own copy of the parquet files, so its first
    // call is a miss (the key holds the file paths) and its second a hit
    val prop = Prop.forAllNoShrink(multigraphs) { edges =>
      withTempDir("graft_hitmiss") { dir =>
        edges.toDF("src", "dst", "weight")
          .withColumn("cap", col("weight"))
          .withColumn("a", col("src")).withColumn("b", col("dst"))
          .coalesce(1).write.parquet(s"$dir/base")
        val files = dir.toPath.resolve("base")
        noSideKernels.foreach { case (name, kernel) =>
          val copy = dir.toPath.resolve(name)
          java.nio.file.Files.createDirectory(copy)
          files.toFile.listFiles.foreach(f =>
            java.nio.file.Files.copy(f.toPath, copy.resolve(f.getName)))
          val e = spark.read.parquet(copy.toString)
          val miss = kernel(e, 1000L)
          assert(miss.inputFiles.nonEmpty, s"$name: the first call was not a miss")
          val missRows = miss.collect().toSeq
          val hit = kernel(e, 1000L)
          assert(hit.inputFiles.isEmpty, s"$name: the second call read the edge files")
          assert(hit.collect().toSeq == missRows, s"$name: hit != miss on $edges")
        }
        true
      }
    }
    // no shrinking: each shrink step would rerun every kernel
    val res = Test.check(Test.Parameters.default.withInitialSeed(Seed(20261020L))
      .withMinSuccessfulTests(4).withWorkers(1), prop)
    assert(res.passed, res.status)
  }

  test("resident hit: no job without a side stream, a bare LocalTableScan; over 10,000 rows or with a side stream, one job") {
    withTempDir("graft_hitjobs") { dir =>
      randGraph(31, 30, 120).write.parquet(s"$dir/e.parquet")
      val e = spark.read.parquet(s"$dir/e.parquet")
      def wcc = Algorithms.wcc(e).orderBy(col("id"))
      var miss: Array[Row] = null
      assert(jobsDuring { miss = wcc.collect() } >= 1, "a miss scans the edges in a job")
      val hit = wcc
      assert(jobsDuring(hit.collect()) == 0, "a hit's collect ran a job")
      assert(hit.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
        hit.queryExecution.executedPlan.toString)
      assert(hit.collect().toSeq == miss.toSeq)
      // the Algorithms call itself runs no job either; the catalog's
      // rounding select folds into the relation with the sort
      def pr = Algorithms.pageRank(e, 8, 0.85)
        .select(col("id"), CypherFunctions.roundC(col("rank"), 4).as("rank"))
        .orderBy(col("id"))
      var ranks: Array[Row] = null
      assert(jobsDuring { ranks = pr.collect() } == 0, "a pageRank hit ran a job")
      assert(pr.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec])
      assert(ranks.map(_.getLong(0)).toSeq == ranks.map(_.getLong(0)).sorted.toSeq)
      // past 10,000 rows a hit's rows ride one task instead of the plan
      spark.range(0, 10500).select((col("id") * 3).as("src"), (col("id") * 3 + 3).as("dst"))
        .write.parquet(s"$dir/path.parquet")
      val path = spark.read.parquet(s"$dir/path.parquet")
      val chain = sortedRows(LocalKernels.wcc(path))
      assert(chain.length == 10501)
      val big = LocalKernels.wcc(path)
      assert(big.inputFiles.isEmpty, "the second call over the path missed")
      var bigRows: Array[String] = null
      assert(jobsDuring { bigRows = sortedRows(big) } == 1, "a hit over 10,000 rows runs one task")
      assert(bigRows === chain)
      // a path kernel's hit still runs its side stream in a task
      val starts = Seq(1000L, 1007L).toDF("s0")
      val vle = LocalKernels.varLengthExpand(e, starts, "s0", 1, 3)
      assert(vle.inputFiles.isEmpty, "varLengthExpand missed the resident view")
      assert(jobsDuring(vle.collect()) >= 1, "a side-stream hit ran no job")
    }
  }

  test("CALL algo.wcc … RETURN … ORDER BY at a resident hit: no job, the global sort's rows") {
    withTempDir("graft_callsort") { dir =>
      randGraph(41, 25, 60).withColumn("id", monotonically_increasing_id())
        .withColumn("relationship", lit("E")).write.parquet(s"$dir/e")
      Seq.tabulate(25)(i => (1000L + 7L * i, Seq("N"))).toDF("id", "labels").write.parquet(s"$dir/n")
      val g = graft.model.PropertyGraph(spark.read.parquet(s"$dir/n"), spark.read.parquet(s"$dir/e"))
      val q = "CALL algo.wcc({edgeType: 'E'}) YIELD id, component RETURN id, component ORDER BY id"
      val miss = graft.cypher.QueryEngine.execute(q, g).collect().toSeq
      var hit: DataFrame = null
      var rows: Seq[Row] = null
      assert(jobsDuring { hit = graft.cypher.QueryEngine.execute(q, g); rows = hit.collect().toSeq } == 0,
        "a hit's CALL … ORDER BY ran a job")
      assert(hit.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
        hit.queryExecution.executedPlan.toString)
      spark.conf.set("spark.graft.algo.localSizeBytes", "0")
      val global = try graft.cypher.QueryEngine.execute(q, g).collect().toSeq
      finally spark.conf.unset("spark.graft.algo.localSizeBytes")
      assert(rows == global)
      assert(miss == global)
    }
  }
}
