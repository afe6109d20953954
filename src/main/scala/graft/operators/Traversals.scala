package graft.operators

import graft.algo.{LocalKernels, Rounds}
import graft.model.PropertyGraph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edge direction for expansion — reference `src/query/ast.rs` Direction. */
sealed trait Direction
object Direction {
  case object Out extends Direction
  case object In extends Direction
  case object Both extends Direction
}

/** Graph traversal operators — the "joins" of a graph engine.
  *
  * Reference semantics: `ExpandOperator` (`src/query/executor/operator.rs:2744-3002`),
  * `ExpandIntoOperator` (`operator.rs:8032-8134`), `VarLengthExpandOperator`
  * (`operator.rs:3003-3224`), `ShortestPathOperator` (`operator.rs:7527-7714`).
  *
  * Spark-first re-expression: one hop = one equi-join against the edges
  * DataFrame (hash/sort-merge picked by Catalyst; broadcast when the bound
  * side is small); bounded var-length = an unrolled loop of joins with
  * per-(start,node) dedup; unbounded reachability / BFS = an iterative
  * frontier loop on the round driver [[graft.algo.Rounds]], which cuts
  * each level to a localCheckpoint leaf. No Volcano iterators:
  * the whole traversal is a single declarative plan per hop, so predicate
  * pushdown and AQE apply.
  */
object Traversals {

  /** One-hop expansion from a bound node set.
    *
    * @param bound  DataFrame with a node-id column `idCol` (plus any carried columns)
    * @return bound columns + `_edgeId`, `_rel`, `_nbr` (neighbor node id)
    */
  def expand(g: PropertyGraph, bound: DataFrame, idCol: String,
             rels: Seq[String] = Nil, dir: Direction = Direction.Out): DataFrame = {
    val e0 = g.edgesOfType(rels: _*)
    // carry edge property columns (everything beyond id/src/dst/relationship)
    val props = e0.columns.filterNot(Set("id", "src", "dst", "relationship")).toSeq
    def oriented(srcC: String, dstC: String) =
      e0.select(Seq(col("id").as("_edgeId"), col("relationship").as("_rel"),
                col(srcC).as("_from"), col(dstC).as("_nbr")) ++ props.map(col): _*)
    val e = dir match {
      case Direction.Out  => oriented("src", "dst")
      case Direction.In   => oriented("dst", "src")
      case Direction.Both => oriented("src", "dst").unionAll(oriented("dst", "src"))
    }
    bound.join(e, bound(idCol) === e("_from")).drop("_from")
  }

  /** Expand and bind the neighbor's node row (label-filtered), like
    * `MATCH (a)-[r:REL]->(b:Label)` with `a` bound. */
  def expandToNodes(g: PropertyGraph, bound: DataFrame, idCol: String,
                    rels: Seq[String], dir: Direction, targetLabel: Option[String]): DataFrame = {
    val nbrs = expand(g, bound, idCol, rels, dir)
    val tgt = targetLabel.map(g.nodesWithLabel).getOrElse(g.nodes)
    nbrs.join(tgt.withColumnRenamed("id", "_nbr"), Seq("_nbr"))
  }

  /** Edge-existence semi-join between two bound endpoints
    * (`ExpandIntoOperator` — chosen by the reference when both ends are bound,
    * `src/query/logical_optimizer.rs:115-130`). Keeps rows of `bound` that
    * have an edge (srcCol)-[rel]->(dstCol). */
  def expandInto(g: PropertyGraph, bound: DataFrame, srcCol: String, dstCol: String,
                 rels: Seq[String] = Nil): DataFrame = {
    val e = g.edgesOfType(rels: _*).select(col("src").as("_s"), col("dst").as("_d"))
    bound.join(e, bound(srcCol) === e("_s") && bound(dstCol) === e("_d"), "left_semi")
  }

  /** Bounded variable-length expansion `*min..max` (reference BFS with
    * visited-set dedup per start node, `operator.rs:3003-3224`).
    *
    * Returns distinct (start, node, hops) reachability triples — node/edge
    * identity semantics (dedup by id, `record.rs:95-131`), reaching a node at
    * several depths keeps the MINIMUM depth per (start,node), matching
    * BFS-visited semantics.
    *
    * Scale notes: each hop is one shuffle join on `dst`, one round of
    * [[graft.algo.Rounds.levels]]: the new level is cut to a leaf, so a
    * 10-hop expansion doesn't replan 10 chained shuffles, and the visited
    * set is a lazy union of the earlier leaves; dedup keeps frontiers from
    * exploding on cyclic graphs.
    */
  def varLengthExpand(edges: DataFrame, starts: DataFrame, startCol: String,
                      minHops: Int, maxHops: Int): DataFrame =
    // small graph + small start set → in-task multi-source BFS, one job
    // instead of ~1 per hop (graft.algo.LocalKernels has the gate details)
    route(edges.select(col("src"), col("dst")), starts, startCol, None, minHops, maxHops)(
      LocalKernels.varLengthExpand(_, starts, startCol, minHops, maxHops),
      varLengthExpandDistributed(_, starts, startCol, minHops, maxHops))

  private[graft] def varLengthExpandDistributed(
      edges: DataFrame, starts: DataFrame, startCol: String,
      minHops: Int, maxHops: Int): DataFrame = {
    val e = edges.select(col("src").cast("long").as("_src"), col("dst").cast("long").as("_dst"))
      .localCheckpoint(true)
    val start0 = starts.select(col(startCol).cast("long").as("start"))
      .distinct().withColumn("node", col("start"))
      .localCheckpoint(true)
    val levels = Rounds.levels("varlength", maxHops, start0) { lv =>
      lv.last.join(e, col("node") === col("_src"))
        .select(col("start"), col("_dst").as("node")).distinct()
        .join(lv.reduce(_ unionAll _), Seq("start", "node"), "left_anti")
    }
    withHops(levels, minHops, start0)
  }

  /** varLengthExpand variant that also materializes ONE witness path per
    * (start, node) — the lexicographically-smallest (node-id sequence,
    * edge-id sequence) among the shortest (BFS min-depth) paths, so results
    * are deterministic. Returns (start, node, hops, path: array<long> =
    * [start .. node], epath: array<long> = the traversed edge ids — the
    * reference's paths carry BOTH, `record.rs:85-89`). When the input has
    * no `id` column, epath is an empty array per row.
    * Powers named paths / `shortestPath()` (`operator.rs:7527-7714`,
    * `ast.rs:204-208`): `length(p)` = hops, `nodes(p)` = path,
    * `relationships(p)` = epath. */
  def varLengthExpandPaths(edges: DataFrame, starts: DataFrame, startCol: String,
                           minHops: Int, maxHops: Int): DataFrame =
    paths(edges, starts, startCol, None, minHops, maxHops, allPaths = false)

  /** Target-aware shortest paths — `shortestPath((a)-[*]-(b))` /
    * `allShortestPaths` where the pattern CONSTRAINS both endpoints: BFS
    * per start, emitting only rows that land on a target and stopping at
    * the depth where the last target is reached. An unbounded `*` therefore
    * explores only to the target's BFS depth instead of enumerating every
    * shortest node-sequence in the component (combinatorial in diamond-rich
    * graphs — the failure mode the untargeted expansion hits at scale).
    * `allPaths` keeps ALL distinct shortest node sequences per
    * (start, node) — `allShortestPaths()` semantics (reference
    * `operator.rs:7534` `all_paths: bool`) — instead of one witness. */
  def shortestPathsToTargets(edges: DataFrame, starts: DataFrame, startCol: String,
                             targets: DataFrame, targetCol: String,
                             minHops: Int, maxHops: Int, allPaths: Boolean): DataFrame =
    paths(edges, starts, startCol, Some((targets, targetCol)), minHops, maxHops, allPaths)

  private def paths(edges: DataFrame, starts: DataFrame, startCol: String,
                    targets: Option[(DataFrame, String)], minHops: Int, maxHops: Int,
                    allPaths: Boolean): DataFrame = {
    val cols = Seq(col("src"), col("dst")) ++
      (if (edges.columns.contains("id")) Seq(col("id")) else Nil)
    route(edges.select(cols: _*), starts, startCol, targets, minHops, maxHops)(
      LocalKernels.pathExpand(_, starts, startCol, minHops, maxHops, allPaths, targets),
      pathExpandDistributed(_, starts, startCol, minHops, maxHops, allPaths, targets))
  }

  /** The one routing decision of the traversals: the gated edge projection
    * runs in-task when it, the start set and the target set are all small
    * (checked in that order), else distributed. Either way the gated,
    * possibly pre-materialized, projection is what runs. */
  private def route(proj: DataFrame, starts: DataFrame, startCol: String,
                    targets: Option[(DataFrame, String)], minHops: Int, maxHops: Int)(
      local: DataFrame => DataFrame, distributed: DataFrame => DataFrame): DataFrame = {
    require(minHops >= 0 && maxHops >= minHops, "need 0 <= min <= max")
    val (g, small) = LocalKernels.gate(proj)
    def fits(df: DataFrame, c: String): Boolean = LocalKernels.isSmall(df.select(col(c)))
    if (small && fits(starts, startCol) && targets.forall { case (t, c) => fits(t, c) }) local(g)
    else distributed(g)
  }

  /** The distributed path frontier behind [[varLengthExpandPaths]] and
    * [[shortestPathsToTargets]] — the exact row set of
    * [[LocalKernels.pathExpand]]. Level h holds each (start, node) first
    * reached at hop h with its witness paths: the min (node-seq, edge-seq)
    * per (start, node), or with `allPaths` every distinct node sequence
    * (parallel edges collapse; min edge-id sequence per node sequence).
    *
    * With targets, round r expands only the starts that still have an
    * unreached target — those whose (start, node) pairs in the lazy union
    * of the earlier levels cover fewer than all targets — so the search
    * stops at the depth of each start's last target and the loop ends at
    * the first empty level. Only rows landing on a target are returned. */
  private[graft] def pathExpandDistributed(
      edges: DataFrame, starts: DataFrame, startCol: String,
      minHops: Int, maxHops: Int, allPaths: Boolean,
      targets: Option[(DataFrame, String)] = None): DataFrame = {
    val hasId = edges.columns.contains("id")
    val eid = if (hasId) col("id").cast("long") else lit(null).cast("long")
    val e = edges.select(col("src").cast("long").as("_src"),
        col("dst").cast("long").as("_dst"), eid.as("_eid"))
      .localCheckpoint(true)
    val tgt = targets.map { case (t, c) =>
      t.select(col(c).cast("long").as("_tgt")).distinct().localCheckpoint(true)
    }
    val nTargets = tgt.map(_.count())
    val start0 = starts.select(col(startCol).cast("long").as("start")).distinct()
      .select(col("start"), col("start").as("node"), array(col("start")).as("path"),
        array().cast("array<long>").as("epath"))
      .localCheckpoint(true)
    // no target: every start is done before it moves
    val rounds = if (nTargets.contains(0L)) 0 else maxHops
    val levels = Rounds.levels("paths", rounds, start0) { lv =>
      val visited = lv.map(_.select("start", "node")).reduce(_ unionAll _)
      val frontier = tgt.fold(lv.last) { t =>
        val done = visited.join(t, col("node") === col("_tgt"), "left_semi")
          .groupBy(col("start")).agg(countDistinct(col("node")).as("_n"))
          .filter(col("_n") === nTargets.get).select(col("start"))
        lv.last.join(done, Seq("start"), "left_anti")
      }
      val grown = frontier.join(e, col("node") === col("_src"))
        .select(col("start"), col("_dst").as("node"),
          concat(col("path"), array(col("_dst"))).as("path"),
          (if (hasId) concat(col("epath"), array(col("_eid"))) else col("epath")).as("epath"))
        .join(visited, Seq("start", "node"), "left_anti")
      if (allPaths)
        grown.groupBy(col("start"), col("node"), col("path")).agg(min(col("epath")).as("epath"))
      else
        grown.groupBy(col("start"), col("node"))
          .agg(min(struct(col("path"), col("epath"))).as("_w"))
          .select(col("start"), col("node"), col("_w.path").as("path"),
            col("_w.epath").as("epath"))
    }
    val reached = withHops(levels, minHops, start0)
    tgt.fold(reached)(t => reached.join(t, col("node") === col("_tgt"), "left_semi"))
  }

  /** Levels `minHops` and deeper, each tagged with its hop count; an empty
    * frame of the same columns when there are none. */
  private def withHops(levels: IndexedSeq[DataFrame], minHops: Int,
                       start0: DataFrame): DataFrame =
    levels.zipWithIndex.drop(minHops)
      .map { case (lv, h) => lv.withColumn("hops", lit(h)) }
      .reduceOption(_ unionAll _)
      .getOrElse(start0.withColumn("hops", lit(0)).filter(lit(false)))
}
