package graft.cypher

import Ast._
import graft.model.{GraphMutations, PropertyGraph}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cypher write statements (reference `cypher.pest` create/merge/set/delete
  * clauses; operators `operator.rs:5157-7424`) executed as the batch
  * transforms in [[GraphMutations]] — each statement yields a NEW
  * PropertyGraph plus a Neo4j-style summary row.
  *
  * Shape: `[MATCH ... [WHERE ...]]* <one write clause>`. Variable bindings
  * for the write clause are computed by the READ translator on a synthesized
  * `RETURN id(v), ...` query, so SET/DELETE expressions get the full read
  * expression surface for free. `CREATE ... RETURN` / node-`MERGE ...
  * RETURN` project the written entities (cypher.pest return_clause?);
  * `SET/REMOVE ... RETURN` pin the matched ids pre-write and project over
  * the mutated graph; DELETE/FOREACH return summaries only.
  */
object WriteTranslator {

  final case class WriteResult(graph: PropertyGraph, summary: DataFrame,
                               rows: Option[DataFrame] = None)

  def isWrite(q: Query): Boolean = q.first.clauses.exists(isWriteClause)

  private def isWriteClause(c: Clause): Boolean = c match {
    case _: CreateClause | _: MergeClause | _: SetClause | _: RemoveClause |
         _: DeleteClause | _: ForeachClause => true
    case call: CallClause => isOrSolveWrite(call)
    case _ => false
  }

  /** `CALL algo.or.solve({..., writeProperty: 'p'})` is a WRITE in the
    * reference (`operator.rs:6617-6767` dispatches a mutating algorithm op):
    * the solution vector lands on the nodes as property `p`. */
  private def isOrSolveWrite(c: CallClause): Boolean =
    c.proc.equalsIgnoreCase("algo.or.solve") && c.args.exists {
      case MapLit(entries) =>
        entries.exists { case (k, _) => k == "writeProperty" || k == "write_property" }
      case _ => false
    }

  /** Substitute `Var(name)` with a literal throughout an expression tree —
    * how FOREACH binds its loop variable per element. A lambda that binds
    * the same name shadows it: nothing under that lambda is substituted. */
  private def subst(e: Expr, name: String, value: Any): Expr = e match {
    case Var(`name`) => Lit(value)
    case _ if binds(e).contains(name) => e
    case _ => mapChildren(e)(subst(_, name, value))
  }

  private def substClause(c: Clause, name: String, value: Any): Clause = c match {
    case SetClause(as, lbls) => SetClause(as.map { case (p, e) => (p, subst(e, name, value)) }, lbls)
    case CreateClause(paths) => CreateClause(paths.map(p => p.copy(
      nodes = p.nodes.map(n => n.copy(props = n.props.map { case (k, e) => (k, subst(e, name, value)) })),
      rels = p.rels.map(r => r.copy(props = r.props.map { case (k, e) => (k, subst(e, name, value)) })))))
    case other => other // REMOVE/DELETE reference only variables
  }

  def execute(q: Query, g: PropertyGraph, params: Map[String, Any]): WriteResult = {
    require(q.unions.isEmpty, "UNION of write statements is unsupported")
    val sq = q.first
    // RETURN after CREATE / node-MERGE (cypher.pest merge_stmt/create_stmt
    // return_clause?) is supported via projectExternal below; other write
    // clauses return summaries only (as the reference's write path does)
    val ret = sq.ret
    val (readClauses, rest) = sq.clauses.span(c => !isWriteClause(c))
    require(rest.size == 1, "exactly one write clause per statement")
    val matches = readClauses.collect { case m: MatchClause => m }
    // which variables are nodes vs relationships, from the pattern itself
    val nodeVars = matches.flatMap(_.paths).flatMap(_.nodes).flatMap(_.variable).toSet
    val edgeVars = matches.flatMap(_.paths).flatMap(_.rels).flatMap(_.variable).toSet

    def readFrame(items: Seq[ReturnItem]): DataFrame =
      new Translator(g, params).translate(Query(
        SingleQuery(readClauses, ReturnSpec(distinct = false, items, Seq.empty, None, None)),
        Seq.empty))

    val spark = g.nodes.sparkSession
    import spark.implicits._
    def summary(created: Long = 0, relCreated: Long = 0, propsSet: Long = 0,
                deleted: Long = 0, relDeleted: Long = 0,
                labelsAdded: Long = 0, labelsRemoved: Long = 0): DataFrame =
      Seq((created, relCreated, propsSet, deleted, relDeleted, labelsAdded, labelsRemoved))
        .toDF("nodes_created", "relationships_created", "properties_set",
          "nodes_deleted", "relationships_deleted", "labels_added", "labels_removed")

    def constVal(e: Expr): Any = e match {
      case Lit(v) => v
      case Param(n) => params.getOrElse(n,
        throw new IllegalArgumentException(s"missing parameter $$$n"))
      case ListLit(xs) => xs.map(constVal)
      case Bin(op, l, r) => (constVal(l), constVal(r)) match {
        case (a: Number, b: Number) =>
          val (x, y) = (a.doubleValue(), b.doubleValue())
          val d = op match {
            case "+" => x + y; case "-" => x - y; case "*" => x * y
            case "/" => x / y; case "%" => x % y
            case o => throw new IllegalArgumentException(s"non-constant op $o")
          }
          // stay integral when both inputs were (ids, counters)
          if (a.isInstanceOf[java.lang.Long] && b.isInstanceOf[java.lang.Long] &&
            op != "/") d.toLong else d
        case (a: String, b: String) if op == "+" => a + b
        case other => throw new IllegalArgumentException(s"non-constant operands $other")
      }
      case other => throw new IllegalArgumentException(
        s"CREATE/MERGE property values must be constant, got $other")
    }
    def constCol(e: Expr): Column = e match {
      case ListLit(xs) => array(xs.map(constCol): _*)
      case other => lit(constVal(other))
    }

    def isConst(e: Expr): Boolean =
      try { constVal(e); true } catch { case _: IllegalArgumentException => false }
    /** Point-write regime (the OLTP statement shape — LDBC/FinBench updates,
      * interactive writes): every MATCH node pattern pins `id` to a constant
      * and every relationship is single-hop, so the matched frame is bounded
      * by the edge multiplicity between FIXED endpoints — a handful of rows
      * regardless of graph size. Such frames collect to the driver in ONE
      * job: the row count comes free (no second count/aggregate job), ids
      * are allocated driver-side, and the downstream anti-/update-joins
      * consume a broadcastable LocalRelation — an O(1)-plan-text pin with no
      * block-manager state, strictly stronger than localCheckpoint. Bulk
      * writes (any unpinned pattern) keep the distributed checkpoint shape
      * and never collect. */
    val pointAnchored = readClauses.nonEmpty &&
      readClauses.forall(_.isInstanceOf[MatchClause]) &&
      matches.flatMap(_.paths).forall { p =>
        !p.shortest && !p.allPaths && p.rels.forall(!_.isVarLength) &&
        p.nodes.forall(_.props.exists { case (k, e) => k == "id" && isConst(e) })
      }
    /** Literal DataFrame from collected rows (LocalRelation leaf). */
    def localRows(arr: Array[org.apache.spark.sql.Row],
                  schema: org.apache.spark.sql.types.StructType): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(arr: _*), schema)
    /** Pin a matched frame and return it with its exact row count: one
      * collect into a LocalRelation in the point-write regime,
      * localCheckpoint + count job otherwise. */
    def pinCounted(df: DataFrame): (DataFrame, Long) =
      if (pointAnchored) {
        val arr = df.collect()
        (localRows(arr, df.schema), arr.length.toLong)
      } else {
        val pinned = df.localCheckpoint(true)
        (pinned, pinned.count())
      }
    /** [[pinCounted]] over a frame that still needs DISTINCT: the fast path
      * dedups driver-side, keeping the collect job SINGLE-STAGE (no distinct
      * shuffle); the distributed path dedups in-plan before the checkpoint. */
    def pinDistinctCounted(df: DataFrame): (DataFrame, Long) =
      if (pointAnchored) {
        val arr = df.collect().distinct
        (localRows(arr, df.schema), arr.length.toLong)
      } else {
        val pinned = df.distinct().localCheckpoint(true)
        (pinned, pinned.count())
      }

    val nodeTypes = g.nodes.schema.fields.map(f => f.name -> f.dataType).toMap
    val edgeTypes = g.edges.schema.fields.map(f => f.name -> f.dataType).toMap

    def prefixed(df: DataFrame, v: String): DataFrame =
      df.select(df.columns.map(c => col(c).as(s"${v}__$c")): _*)
    /** RETURN after a write: project the spec over the written entities'
      * frame (v__col convention) against the MUTATED graph. */
    def projectRows(gr: PropertyGraph, frame: DataFrame, vars: Set[String]): Option[DataFrame] =
      if (ret.items.isEmpty) None
      else Some(new Translator(gr, params).projectExternal(frame, vars, ret))
    def noReturn(what: String): Unit =
      require(ret.items.isEmpty, s"RETURN after $what is unsupported (summaries only)")
    /** RETURN after SET/REMOVE: pin the matched ids against the ORIGINAL
      * graph (the WHERE must see pre-write values — `SET n.x = 1 ... WHERE
      * n.x = 0 RETURN n.x` returns 1), then project the RETURN over the
      * MUTATED entities joined back on those ids, one output row per match
      * row. */
    def mutatedReturn(cur: PropertyGraph): Option[DataFrame] =
      if (ret.items.isEmpty) None
      else {
        val vars = (ret.items.map(_.expr) ++ ret.orderBy.map(_.expr))
          .flatMap(refVars).toSet intersect (nodeVars ++ edgeVars)
        require(vars.nonEmpty, "RETURN after SET/REMOVE needs matched variables")
        val pin = readFrame(vars.toSeq.map(v =>
          ReturnItem(Fn("id", Seq(Var(v))), Some(s"__pin_$v"))))
        var frame = pin
        vars.foreach { v =>
          val target = if (edgeVars.contains(v)) cur.edges else cur.nodes
          frame = frame.join(prefixed(target, v),
            col(s"__pin_$v") === col(s"${v}__id")).drop(s"__pin_$v")
        }
        projectRows(cur, frame, vars)
      }

    /** One literal node row aligned to the node schema. */
    def nodeRow(n: NodePat, id: Long): DataFrame = {
      val propCols = n.props
        .filterNot { case (k, _) => k == "id" || k == "labels" }
        .map { case (k, e) =>
          val c = constCol(e)
          nodeTypes.get(k).map(c.cast).getOrElse(c).as(k)
        }
      val cols = Seq(lit(id).as("id"),
        typedlit(n.labels).as("labels")) ++ propCols
      spark.range(1).select(cols: _*)
    }

    // id high-water marks: the carried mark (set by a previous write on
    // this graph lineage) answers in O(1); only a first write on a fresh
    // graph pays the aggregate scan
    def maxNodeId(): Long = g.nodeIdHw.getOrElse(
      g.nodes.agg(coalesce(max(col("id")), lit(0L))).first().getLong(0))
    def maxEdgeId(): Long = g.edgeIdHw.getOrElse(
      g.edges.agg(coalesce(max(col("id")), lit(0L))).first().getLong(0))

    rest.head match {
      // ---------- CREATE ----------
      case CreateClause(paths) =>
        var cur = g
        var nCreated = 0L
        var rCreated = 0L
        var createdNodeVars = Seq.empty[(String, Long)]
        // id high-water marks are aggregate JOBS over the full node/edge
        // tables — compute each AT MOST ONCE per CREATE, and only when a
        // path actually needs an allocated id (explicit-id node creates and
        // edge-free statements, e.g. every FOREACH CREATE iteration, skip
        // both scans entirely). The single edge high-water mark still spans
        // ALL paths of this CREATE: a per-path maxEdgeId() against the
        // ORIGINAL graph would hand every path the same id range (duplicate
        // edge ids corrupting id-keyed SET/DELETE later).
        var nextId = -1L
        var explicitNodeId = -1L // max explicit {id: ...} seen this CREATE
        def allocNodeId(): Long = {
          if (nextId < 0L) nextId = maxNodeId() + 1
          val i = nextId; nextId += 1; i
        }
        var nextEdgeBase = -1L
        def edgeBase(): Long = {
          if (nextEdgeBase < 0L) nextEdgeBase = maxEdgeId()
          nextEdgeBase
        }
        def allocEdgeId(): Long = { nextEdgeBase = edgeBase() + 1; nextEdgeBase }
        /** Create one literal node (or return the id it was already given
          * earlier in this CREATE via its variable). */
        def literalNode(n: NodePat): Long =
          n.variable.flatMap(v => createdNodeVars.find(_._1 == v).map(_._2))
            .getOrElse {
              val explicit = n.props.collectFirst { case ("id", e) => constVal(e) }
                .collect { case num: Number => num.longValue() }
              explicit.foreach(i => explicitNodeId = math.max(explicitNodeId, i))
              val id = explicit.getOrElse(allocNodeId())
              cur = GraphMutations.createNodes(cur, nodeRow(n, id))
              n.variable.foreach(v => createdNodeVars :+= ((v, id)))
              nCreated += 1
              id
            }
        def edgePropCols(r: RelPat): Seq[Column] = r.props.map { case (k, e) =>
          val c = constCol(e)
          edgeTypes.get(k).map(c.cast).getOrElse(c).as(k)
        }
        paths.foreach { p =>
          if (p.rels.isEmpty) {
            literalNode(p.nodes.head): Unit
          } else if (p.nodes.forall(n =>
              !n.variable.exists(nodeVars.contains))) {
            // literal path create — every node inline-new (or created
            // earlier in this CREATE): chain node creates + one literal
            // edge row per hop (`CREATE (a:P {..})-[:R]->(b:P {..})-...`)
            val ids = p.nodes.map(literalNode)
            p.rels.zipWithIndex.foreach { case (r, i) =>
              val (sid, did) = r.dir match {
                case Ast.In => (ids(i + 1), ids(i))
                case _ => (ids(i), ids(i + 1))
              }
              val row = spark.range(1).select(Seq(lit(allocEdgeId()).as("id"),
                lit(sid).as("src"), lit(did).as("dst"),
                lit(r.types.headOption.getOrElse("RELATED")).as("relationship")) ++
                edgePropCols(r): _*)
              cur = GraphMutations.createEdges(cur, row)
              rCreated += 1
            }
          } else if (p.nodes.exists(n => !n.variable.exists(nodeVars.contains))) {
            // MATCH-correlated create with an inline-NEW endpoint:
            // `MATCH (a ...) CREATE (a)-[:R]->(:New {..})` — one new node
            // (and one edge) PER MATCH ROW, ids allocated partition-parallel
            require(p.rels.size == 1 && p.nodes.size == 2,
              "CREATE with MATCH-bound endpoints supports a single relationship per path")
            val r = p.rels.head
            val Seq(n0, n1) = p.nodes
            def boundItem(n: NodePat, as: String): Option[ReturnItem] =
              n.variable.filter(nodeVars.contains)
                .map(v => ReturnItem(Fn("id", Seq(Var(v))), Some(as)))
            val items = boundItem(n0, "_src").toSeq ++ boundItem(n1, "_dst").toSeq
            require(items.nonEmpty,
              "CREATE relationship needs at least one MATCH-bound endpoint")
            var frame = readFrame(items).distinct().localCheckpoint()
            val newNodes = Seq(("_src", n0), ("_dst", n1))
              .filter { case (_, n) => !n.variable.exists(nodeVars.contains) }
            newNodes.foreach { case (alias, n) =>
              if (nextId < 0L) nextId = maxNodeId() + 1
              frame = frame.withColumn(alias,
                lit(nextId) + monotonically_increasing_id()).localCheckpoint()
              val propCols = n.props
                .filterNot { case (k, _) => k == "id" || k == "labels" }
                .map { case (k, e) =>
                  val c = constCol(e)
                  nodeTypes.get(k).map(c.cast).getOrElse(c).as(k)
                }
              val nrows = frame.select(Seq(col(alias).as("id"),
                typedlit(n.labels).as("labels")) ++ propCols: _*)
              cur = GraphMutations.createNodes(cur, nrows)
              val made = frame.count()
              nCreated += made
              nextId = if (made > 0)
                frame.agg(max(col(alias))).first().getLong(0) + 1 else nextId
            }
            val propCols = edgePropCols(r)
            val (sa, da) = if (r.dir == Ast.In) ("_dst", "_src") else ("_src", "_dst")
            val rows = frame.withColumn("id",
              lit(edgeBase()) + lit(1L) + monotonically_increasing_id())
              .select(Seq(col("id"), col(sa).cast("long").as("src"),
                col(da).cast("long").as("dst"),
                lit(r.types.headOption.getOrElse("RELATED")).as("relationship")) ++ propCols: _*)
              .localCheckpoint()
            // one aggregate job serves both the counter and the id watermark
            val agg0 = rows.agg(count(lit(1)), max(col("id"))).first()
            val nRows = agg0.getLong(0)
            rCreated += nRows
            if (nRows > 0) nextEdgeBase = agg0.getLong(1)
            cur = GraphMutations.createEdges(cur, rows)
          } else {
            // edge create between two MATCH-bound node variables
            require(p.rels.size == 1 && p.nodes.size == 2,
              "CREATE supports a single relationship per path")
            val r = p.rels.head
            val (a, b) = (p.nodes(0).variable, p.nodes(1).variable) match {
              case (Some(x), Some(y)) => (x, y)
              case _ => throw new IllegalArgumentException(
                "CREATE relationship endpoints must be bound variables")
            }
            require(nodeVars.contains(a) && nodeVars.contains(b),
              "CREATE relationship endpoints must come from a preceding MATCH")
            val pairsRaw = readFrame(Seq(
              ReturnItem(Fn("id", Seq(Var(a))), Some("_src")),
              ReturnItem(Fn("id", Seq(Var(b))), Some("_dst"))))
            val propCols = edgePropCols(r)
            val relName = lit(r.types.headOption.getOrElse("RELATED")).as("relationship")
            if (pointAnchored) {
              // point-write fast path: the pair set is bounded (see
              // pointAnchored) — ONE collect replaces the checkpoint and
              // the count/max aggregate; the dedup happens driver-side so
              // the job is SINGLE-STAGE (no distinct shuffle); ids are
              // allocated driver-side (contiguous) and the append is a
              // LocalRelation leaf
              val arr = pairsRaw.collect().distinct
              val base = edgeBase()
              val rows = localRows(
                arr.zipWithIndex.map { case (row, i) =>
                  org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (base + 1L + i)) },
                pairsRaw.schema.add("_pid", org.apache.spark.sql.types.LongType,
                  nullable = false))
                .select(Seq(col("_pid").as("id"), col("_src").cast("long").as("src"),
                  col("_dst").cast("long").as("dst"), relName) ++ propCols: _*)
              rCreated += arr.length
              if (arr.nonEmpty) nextEdgeBase = base + arr.length
              cur = GraphMutations.createEdges(cur, rows)
            } else {
              // partition-parallel id assignment (same shape as the MERGE
              // path): max-id offset + monotonically_increasing_id — bulk
              // MATCH…CREATE is the natural ingest idiom and must not
              // serialize through a single-partition Window sort. The
              // localCheckpoint PINS the nondeterministic ids before they
              // enter the graph lineage; ids are sparse by design
              val rows = pairsRaw.distinct().withColumn("id",
                lit(edgeBase()) + lit(1L) + monotonically_increasing_id())
                .select(Seq(col("id"), col("_src").cast("long").as("src"),
                  col("_dst").cast("long").as("dst"), relName) ++ propCols: _*)
                .localCheckpoint()
              // one aggregate job serves both the counter and the id watermark
              val agg0 = rows.agg(count(lit(1)), max(col("id"))).first()
              val nRows = agg0.getLong(0)
              rCreated += nRows
              if (nRows > 0) nextEdgeBase = agg0.getLong(1)
              cur = GraphMutations.createEdges(cur, rows)
            }
          }
        }
        val createdRows =
          if (ret.items.isEmpty) None
          else {
            require(createdNodeVars.nonEmpty,
              "RETURN after CREATE needs created node variables")
            val frame = createdNodeVars.map { case (v, id) =>
              prefixed(cur.nodes.filter(col("id") === id), v)
            }.reduce(_ crossJoin _)
            projectRows(cur, frame, createdNodeVars.map(_._1).toSet)
          }
        // carry the id high-water marks forward: allocation already knows
        // the new maxima; explicit {id:} creates raise a KNOWN baseline but
        // cannot establish one on their own
        val nodeHwBase = if (nextId >= 0) Some(nextId - 1) else g.nodeIdHw
        val nodeHw = nodeHwBase.map(h => math.max(h, explicitNodeId))
        val edgeHw = if (nextEdgeBase >= 0) Some(nextEdgeBase) else g.edgeIdHw
        WriteResult(cur.copy(nodeIdHw = nodeHw, edgeIdHw = edgeHw),
          summary(created = nCreated, relCreated = rCreated), createdRows)

      // ---------- CALL algo.or.solve write-back ----------
      case c: CallClause =>
        noReturn("CALL algo.or.solve write-back")
        val conf = c.args.collectFirst { case MapLit(entries) =>
          entries.map { case (k, v) => k -> constVal(v) }.toMap
        }.getOrElse(Map.empty[String, Any])
        def cNum(keys: Seq[String], dflt: Double): Double =
          keys.iterator.flatMap(conf.get).collectFirst { case n: Number => n.doubleValue() }
            .getOrElse(dflt)
        def cStr(keys: Seq[String]): Option[String] =
          keys.iterator.flatMap(conf.get).collectFirst { case s: String => s }
        val label = cStr(Seq("label")).getOrElse(throw new IllegalArgumentException(
          "or.solve write-back needs a 'label' config key"))
        val writeProp = cStr(Seq("writeProperty", "write_property")).getOrElse(
          throw new IllegalArgumentException("or.solve writeProperty must be a string"))
        val (g2, nWritten) = graft.algo.Optimize.orSolveNodesWrite(
          g, label,
          cStr(Seq("cost_property", "costProperty", "property")).getOrElse("cost"),
          writeProp,
          cStr(Seq("algorithm")).getOrElse("Jaya"),
          minTotal = cNum(Seq("min_total", "minTotal"), 0.0),
          budget = cNum(Seq("budget"), Double.NaN),
          popSize = cNum(Seq("population_size", "populationSize"), 30).toInt,
          maxIter = cNum(Seq("max_iterations", "maxIterations"), 100).toInt)
        WriteResult(g2.copy(nodeIdHw = g.nodeIdHw, edgeIdHw = g.edgeIdHw),
          summary(propsSet = nWritten))

      // ---------- MERGE ----------
      case MergeClause(path, onCreate, onMatch) if path.rels.nonEmpty =>
        noReturn("relationship MERGE")
        // relationship MERGE between MATCH-bound endpoints: insert-if-absent
        // by (src, dst, type) anti-join — idempotent by construction
        require(path.rels.size == 1 && path.nodes.size == 2,
          "MERGE supports a single relationship per pattern")
        val r = path.rels.head
        val relType = r.types.headOption.getOrElse("RELATED")
        val (a, b) = (path.nodes(0).variable, path.nodes(1).variable) match {
          case (Some(x), Some(y)) => (x, y)
          case _ => throw new IllegalArgumentException(
            "MERGE relationship endpoints must be bound variables")
        }
        require(nodeVars.contains(a) && nodeVars.contains(b),
          "MERGE relationship endpoints must come from a preceding MATCH")
        // pinned: consumed by the anti-join, the idempotency count, and the
        // ON MATCH join — without the checkpoint each re-runs the MATCH
        val pairs = readFrame(Seq(
          ReturnItem(Fn("id", Seq(Var(a))), Some("_src")),
          ReturnItem(Fn("id", Seq(Var(b))), Some("_dst")))).distinct()
          .localCheckpoint(true)
        val typed = g.edges.filter(col("relationship") === relType)
        val missing = pairs.join(typed.select(col("src").as("_src"), col("dst").as("_dst")),
          Seq("_src", "_dst"), "left_anti")
        val base = maxEdgeId()
        val createProps = (r.props ++ onCreate.map { case (Prop(_, k), e) => k -> e })
          .map { case (k, e) =>
            val c = constCol(e)
            edgeTypes.get(k).map(c.cast).getOrElse(c).as(k)
          }
        // partition-parallel id assignment: max-id offset + monotonically
        // increasing ids (unique per statement, sparse by design) — a
        // Window.orderBy here would serialize every new edge through one
        // partition, the wrong shape for bulk ingest. localCheckpoint PINS
        // the nondeterministic id expression: without it every downstream
        // action (summary count, later MATCHes, AQE replans, task retries)
        // could re-evaluate it and hand the same edge different ids
        val rows = missing.withColumn("id",
          lit(base) + lit(1L) + monotonically_increasing_id())
          .select(Seq(col("id"), col("_src").cast("long").as("src"),
            col("_dst").cast("long").as("dst"),
            lit(relType).as("relationship")) ++ createProps: _*)
          .localCheckpoint()
        val aggM = rows.agg(count(lit(1)), max(col("id"))).first()
        val nNew = aggM.getLong(0)
        var cur = GraphMutations.createEdges(g, rows)
        var nSet = 0L
        if (onMatch.nonEmpty && nNew < pairs.count()) {
          // ON MATCH SET via join-overwrite on the pre-existing matched edges
          val matched = pairs.join(typed.select(col("src").as("_src"), col("dst").as("_dst"),
            col("id").as("_eid")), Seq("_src", "_dst")).select(col("_eid"))
          val assigns = onMatch.map { case (Prop(_, k), e) =>
            // a NEW property key has no existing column type to cast to —
            // the value expression's own type becomes the column type
            val c = constCol(e)
            k -> edgeTypes.get(k).map(c.cast).getOrElse(c)
          }.toMap
          val joined = cur.edges.join(matched.withColumn("_hit", lit(true)),
            col("id") === col("_eid"), "left")
          val updated = joined.select(cur.edges.columns.map { c =>
            assigns.get(c).map(v => when(col("_hit"), v).otherwise(col(c)).as(c))
              .getOrElse(col(c))
          }: _*)
          // per-entity property writes, Neo4j-style: assignments × matched edges
          nSet = assigns.size.toLong * matched.count()
          cur = graft.model.PropertyGraph(cur.nodes, updated, constraints = cur.constraints)
        }
        val relHw = if (nNew > 0) aggM.getLong(1) else base
        WriteResult(cur.copy(nodeIdHw = g.nodeIdHw, edgeIdHw = Some(relHw)),
          summary(relCreated = nNew, propsSet = nSet))

      case MergeClause(path, onCreate, onMatch) =>
        val n = path.nodes.head
        val pred = (n.labels.map(l => array_contains(col("labels"), l)) ++
          n.props.map { case (k, e) =>
            val c = constCol(e)
            col(k) <=> nodeTypes.get(k).map(c.cast).getOrElse(c)
          }).reduceOption(_ && _).getOrElse(lit(true))
        // scan the per-label table when the pattern names a label (the
        // columnar label index — full-union scan only for label-less MERGE);
        // pin the matched ids: the exists-check, the count, the update join
        // and RETURN all consume them
        val scanBase = n.labels.headOption.map(g.nodesWithLabel).getOrElse(g.nodes)
        val existing = scanBase.filter(pred).select(col("id")).localCheckpoint(true)
        val nExisting = existing.count()
        val exists = nExisting > 0
        def mergeRows(gr: PropertyGraph, idsOrId: Either[DataFrame, Long]): Option[DataFrame] =
          if (ret.items.isEmpty) None
          else {
            val v = n.variable.getOrElse(throw new IllegalArgumentException(
              "RETURN after MERGE needs a bound pattern variable"))
            val matchedNodes = idsOrId match {
              case Left(ids) => gr.nodes.join(ids.select(col("id")), Seq("id"), "left_semi")
              case Right(id) => gr.nodes.filter(col("id") === id)
            }
            projectRows(gr, prefixed(matchedNodes, v), Set(v))
          }
        if (exists) {
          val assigns = onMatch.map { case (Prop(_, k), e) =>
            // new property keys take the value's own type (no column to cast to)
            val c = constCol(e)
            k -> nodeTypes.get(k).map(c.cast).getOrElse(c)
          }.toMap
          // join-based overwrite: a non-selective MERGE predicate must not
          // collect every matched id into the driver + plan (OOM at scale).
          // No ON MATCH → the graph is untouched: keep g AS-IS (preserving
          // the per-label index) instead of deriving an identical copy
          val res0 = if (assigns.isEmpty) g
                     else GraphMutations.setNodePropsByIds(g, existing, assigns)
          val res = res0.copy(nodeIdHw = g.nodeIdHw, edgeIdHw = g.edgeIdHw)
          WriteResult(res, summary(propsSet = assigns.size.toLong * nExisting),
            mergeRows(res, Left(existing)))
        } else {
          val id = n.props.collectFirst { case ("id", e) => constVal(e) }
            .collect { case num: Number => num.longValue() }
            .getOrElse(maxNodeId() + 1)
          var row = nodeRow(n, id)
          onCreate.foreach { case (Prop(_, k), e) =>
            val c = constCol(e)
            row = row.withColumn(k, nodeTypes.get(k).map(c.cast).getOrElse(c))
          }
          val explicit = n.props.exists(_._1 == "id")
          val nodeHw = if (explicit) g.nodeIdHw.map(h => math.max(h, id)) else Some(id)
          val res = GraphMutations.createNodes(g, row)
            .copy(nodeIdHw = nodeHw, edgeIdHw = g.edgeIdHw)
          WriteResult(res, summary(created = 1, propsSet = onCreate.size.toLong),
            mergeRows(res, Right(id)))
        }

      // ---------- SET / REMOVE ----------
      case SetClause(assigns, labelSets) =>
        var cur = g
        var nSet = 0L
        var nLbl = 0L
        labelSets.groupBy(_._1).foreach { case (v, ls) =>
          require(!edgeVars.contains(v), "SET :Label applies to node variables")
          // pin the matched (id, labels) set: the change-count jobs AND every
          // later action over the mutated graph re-execute this frame's
          // lineage otherwise (the MATCH re-runs once per consuming action).
          // Carrying labels here lets the counters read the TINY pinned
          // frame instead of re-scanning the full node table per label.
          val matchedRead = readFrame(Seq(
              ReturnItem(Fn("id", Seq(Var(v))), Some("_id")),
              ReturnItem(Fn("labels", Seq(Var(v))), Some("_lbls"))))
          // point-anchored: collect once (row-distinct == id-distinct here,
          // _lbls is functionally dependent on _id) — per-label counters
          // read the driver-side array instead of one count job per label
          val localArr =
            if (pointAnchored) Some(matchedRead.collect().distinct) else None
          val matched = localArr.map(a => localRows(a, matchedRead.schema))
            .getOrElse(matchedRead.dropDuplicates("_id").localCheckpoint(true))
          val ids = matched.select(col("_id"))
          ls.map(_._2).distinct.foreach { l =>
            // Neo4j-style counter: only labels actually ADDED count — a
            // re-run of SET n:L on already-labeled nodes reports 0
            nLbl += localArr
              .map(_.count(r => !r.getSeq[String](1).contains(l)).toLong)
              .getOrElse(matched.filter(!array_contains(col("_lbls"), l)).count())
            cur = GraphMutations.setNodeLabelByIds(cur, ids, l, add = true)
          }
        }
        assigns.groupBy(_._1.variable).foreach { case (v, as) =>
          val isNode = nodeVars.contains(v) || !edgeVars.contains(v)
          // id + each value expression, evaluated in the MATCH context
          val items = ReturnItem(Fn("id", Seq(Var(v))), Some("_id")) +:
            as.zipWithIndex.map { case ((_, e), i) => ReturnItem(e, Some(s"_v$i")) }
          // pinned (pinCounted): consumed by the count AND the update join
          val (vals, nVals) = pinCounted(readFrame(items)
            .groupBy(col("_id"))
            .agg(as.indices.map(i => max(col(s"_v$i")).as(s"_v$i")).head,
              as.indices.map(i => max(col(s"_v$i")).as(s"_v$i")).tail: _*))
          nSet += nVals * as.size
          val types = if (isNode) nodeTypes else edgeTypes
          val target = if (isNode) cur.nodes else cur.edges
          val joined = target.join(
            vals.withColumn("_hit", lit(true)), col("id") === col("_id"), "left")
          // SET on a NEW property key appends the column (NULL off the
          // matched set — Cypher's schema-free semantics, reference
          // operator.rs SetPropertyOperator adds unseen keys); existing
          // columns keep their type via cast
          val newKeys = as.map(_._1.key).distinct.filterNot(target.columns.contains)
          val updated = joined.select((target.columns.map { c =>
            val idx = as.indexWhere(_._1.key == c)
            if (idx >= 0)
              when(col("_hit"), col(s"_v$idx").cast(types(c))).otherwise(col(c)).as(c)
            else col(c)
          } ++ newKeys.map { k =>
            val idx = as.lastIndexWhere(_._1.key == k) // last assignment wins
            when(col("_hit"), col(s"_v$idx")).as(k)
          }): _*)
          // SET on a constrained node property is guarded like an insert
          // (no-op when no registered constraint is touched)
          if (isNode)
            GraphMutations.checkUniqueAfterSet(cur, updated, as.map(_._1.key).toSet)
          cur = if (isNode) PropertyGraph(updated, cur.edges, constraints = cur.constraints)
                else PropertyGraph(cur.nodes, updated, constraints = cur.constraints)
        }
        WriteResult(cur.copy(nodeIdHw = g.nodeIdHw, edgeIdHw = g.edgeIdHw),
          summary(propsSet = nSet, labelsAdded = nLbl), mutatedReturn(cur))

      case RemoveClause(props, labelRemoves) =>
        var cur = g
        var nSet = 0L
        var nLbl = 0L
        labelRemoves.groupBy(_._1).foreach { case (v, ls) =>
          require(!edgeVars.contains(v), "REMOVE :Label applies to node variables")
          // pinned (id, labels) for the same reason as the SET :Label path —
          // counters read the tiny frame, not the full node table
          val matchedRead = readFrame(Seq(
              ReturnItem(Fn("id", Seq(Var(v))), Some("_id")),
              ReturnItem(Fn("labels", Seq(Var(v))), Some("_lbls"))))
          // row-distinct == id-distinct (_lbls functionally dependent on _id)
          val localArr =
            if (pointAnchored) Some(matchedRead.collect().distinct) else None
          val matched = localArr.map(a => localRows(a, matchedRead.schema))
            .getOrElse(matchedRead.dropDuplicates("_id").localCheckpoint(true))
          val ids = matched.select(col("_id"))
          ls.map(_._2).distinct.foreach { l =>
            // counter counts labels actually REMOVED (present before)
            nLbl += localArr
              .map(_.count(r => r.getSeq[String](1).contains(l)).toLong)
              .getOrElse(matched.filter(array_contains(col("_lbls"), l)).count())
            cur = GraphMutations.setNodeLabelByIds(cur, ids, l, add = false)
          }
        }
        props.groupBy(_.variable).foreach { case (v, ps) =>
          // join-based, and branched on node vs relationship variable like
          // DELETE (REMOVE r.prop must null EDGE columns, not node columns
          // whose ids happen to collide)
          // pinned: consumed by the count AND the update join
          val (ids, nIds) = pinDistinctCounted(
            readFrame(Seq(ReturnItem(Fn("id", Seq(Var(v))), Some("_id")))))
          nSet += nIds * ps.size
          cur =
            if (edgeVars.contains(v))
              GraphMutations.removeEdgePropsByIds(cur, ids, ps.map(_.key))
            else GraphMutations.removeNodePropsByIds(cur, ids, ps.map(_.key))
        }
        WriteResult(cur.copy(nodeIdHw = g.nodeIdHw, edgeIdHw = g.edgeIdHw),
          summary(propsSet = nSet, labelsRemoved = nLbl), mutatedReturn(cur))

      // ---------- DELETE ----------
      case DeleteClause(vars, detach) =>
        noReturn("DELETE")
        var cur = g
        var nDel = 0L
        var rDel = 0L
        vars.foreach { v =>
          // pin the matched id set (same reason as the SET paths): the
          // anti-joins embed it up to three times (nodes + edge src + edge
          // dst for DETACH), so an unpinned frame makes CHAINED deletes
          // re-embed the whole prior graph lineage multiplicatively —
          // statement k's plan grows ~3^k. Pinned, each delete layers O(1)
          // plan text over the stable base.
          // point-anchored id sets collect once (count free, single-stage,
          // LocalRelation pin); bulk deletes keep distinct+checkpoint+count
          val (ids, n) = pinDistinctCounted(
            readFrame(Seq(ReturnItem(Fn("id", Seq(Var(v))), Some("_id")))))
          if (edgeVars.contains(v)) {
            rDel += n
            cur = GraphMutations.deleteEdges(cur, ids)
          } else {
            nDel += n
            cur = GraphMutations.deleteNodes(cur, ids, detach)
          }
        }
        // ids are never reused: a delete keeps the (now conservative) marks
        WriteResult(cur.copy(nodeIdHw = g.nodeIdHw, edgeIdHw = g.edgeIdHw),
          summary(deleted = nDel, relDeleted = rDel))

      // ---------- FOREACH ----------
      case ForeachClause(v, listExpr, body) =>
        noReturn("FOREACH")
        // Constant / $param lists fold element-by-element, binding the loop
        // variable by literal substitution — each element's writes see the
        // previous element's graph, like the reference's sequential apply.
        // Dynamic per-row lists (n.tags, range(id(n), ...)) take the UNWIND
        // lowering below instead.
        val constList: Option[Seq[Any]] =
          try constVal(listExpr) match {
            case s: Seq[_] => Some(s)
            case other =>
              throw new IllegalStateException(s"FOREACH needs a list, got $other")
          } catch { case _: IllegalArgumentException => None }
        var cur = g
        val totals = Array.fill(7)(0L)
        def runOne(clauses: Seq[Clause]): Unit = {
          val q2 = Query(SingleQuery(clauses,
            ReturnSpec(distinct = false, Seq.empty, Seq.empty, None, None)), Seq.empty)
          val r = execute(q2, cur, params)
          cur = r.graph
          val row = r.summary.collect()(0)
          (0 until 7).foreach(i => totals(i) += row.getLong(i))
        }
        constList match {
          case Some(elems) =>
            elems.foreach { elem =>
              body.foreach(cl => runOne(readClauses :+ substClause(cl, v, elem)))
            }
          case None =>
            // FOREACH (x IN <per-row list> | SET/REMOVE ...) ≡
            // <reads> UNWIND list AS x SET/REMOVE ... — both lower as
            // order-insensitive batch joins, so the UNWIND frame (rows with
            // empty/NULL lists drop out — Cypher's zero-iteration no-op) is
            // semantically the element fold; concurrent SETs of the same key
            // resolve by the same max() convention as multi-row SET. CREATE
            // bodies need true per-iteration apply (the literal-node path
            // creates once, not per frame row) and stay constant-list-only.
            body.foreach {
              case cl @ (_: SetClause | _: RemoveClause) =>
                runOne((readClauses :+ UnwindClause(listExpr, v)) :+ cl)
              case other => throw new IllegalArgumentException(
                "FOREACH over a non-constant list supports SET/REMOVE bodies, got " +
                  other.getClass.getSimpleName)
            }
        }
        WriteResult(cur, summary(totals(0), totals(1), totals(2), totals(3), totals(4), totals(5), totals(6)))

      case other => throw new IllegalStateException(s"not a write clause: $other")
    }
  }
}
