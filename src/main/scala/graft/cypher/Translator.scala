package graft.cypher

import Ast._
import graft.algo.LocalKernels
import graft.functions.CypherFunctions
import graft.model.PropertyGraph
import graft.operators.Traversals
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Compiles a parsed Cypher query into a DataFrame pipeline over the
  * canonical PropertyGraph.
  *
  * This replaces the reference's Volcano planner+executor
  * (`src/query/planner.rs`, `executor/operator.rs`) with a declarative
  * translation: every MATCH step becomes a join against the edges DataFrame,
  * WHERE becomes a Catalyst filter (predicate pushdown applies), WITH is a
  * projection/aggregation barrier (`WithBarrierOperator`,
  * `operator.rs:7715-8031`), UNWIND is an explode in clause order, EXISTS
  * subqueries lower to flag joins, UNION composes translated parts, and
  * Catalyst+AQE pick physical join strategies (broadcast for small sides).
  *
  * Variable binding convention: each pattern variable `v` contributes columns
  * `v__id`, `v__labels`, `v__<prop>` (nodes) or `v__id`, `v__relationship`,
  * `v__src`, `v__dst`, `v__<prop>` (edges); a named path `p` contributes
  * `p__length` and `p__nodes`. Node/edge identity and equality are BY ID,
  * matching the reference (`record.rs:95-131`).
  */
final class Translator(g: PropertyGraph, params: Map[String, Any] = Map.empty,
                       vectorIndexes: Map[String, (DataFrame, String, String)] = Map.empty) {

  private var anonCount = 0
  private def fresh(): String = { anonCount += 1; s"_a$anonCount" }

  private lazy val nodePropKeys: Set[String] = g.nodes.columns.toSet
  private lazy val edgePropKeys: Set[String] = g.edges.columns.toSet

  /** Conservative static integral-type check (for Cypher's Integer/Integer
    * integer division). Unknown shapes -> false (double division). */
  private def isIntegral(e: Expr): Boolean = e match {
    case Lit(_: Long) | Lit(_: Int) => true
    case Param(n) => params.get(n).exists {
      case _: Long | _: Int | _: Short | _: Byte => true; case _ => false
    }
    case Prop(v, k) =>
      val schema = if (edgeEntityVars.contains(v)) g.edges.schema else g.nodes.schema
      schema.fields.find(_.name == k).exists(f => f.dataType match {
        case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
        case _ => false
      })
    case Fn(n, _, _) if Set("id", "size", "length", "count", "tointeger",
      "sign", "timestamp").contains(n.toLowerCase) => true
    case Bin(op, l, r) if Seq("+", "-", "*", "%", "/").contains(op) =>
      isIntegral(l) && isIntegral(r)
    case CaseExpr(_, bs, d) => (bs.map(_._2) ++ d.toSeq).forall(isIntegral)
    case _ => false
  }

  /** Static string-type check: `String + String` is concatenation in the
    * reference (operator.rs Add on String pairs), not numeric addition. */
  private def isString(e: Expr): Boolean = e match {
    case Lit(_: String) => true
    case Param(n) => params.get(n).exists(_.isInstanceOf[String])
    case Prop(v, k) =>
      val schema = if (edgeEntityVars.contains(v)) g.edges.schema else g.nodes.schema
      schema.fields.find(_.name == k)
        .exists(_.dataType == org.apache.spark.sql.types.StringType)
    case Fn(n, _, _) if Set("tostring", "toupper", "touppercase", "tolower",
      "tolowercase", "trim", "ltrim", "rtrim", "substring", "replace",
      "reverse", "left", "right", "type").contains(n.toLowerCase) => true
    case Bin("+", l, r) => isString(l) || isString(r)
    case CaseExpr(_, bs, d) => (bs.map(_._2) ++ d.toSeq).exists(isString)
    case _ => false
  }

  /** Cardinality stats for anchor selection — present when the loader set a
    * statsKey (computed once per dataset per JVM, see GraphStats). */
  private lazy val stats: Option[graft.model.GraphStats] =
    g.statsKey.map(k => graft.model.GraphStats.forGraph(g, k))

  // scope state while translating one SingleQuery
  private var entityVars: Set[String] = Set.empty  // node/edge vars (v__* columns)
  private var edgeEntityVars: Set[String] = Set.empty // subset of entityVars bound to RELATIONSHIPS
  private var pathVars: Set[String] = Set.empty    // named paths (p__length/p__nodes)
  private var scalarVars: Set[String] = Set.empty  // UNWIND / WITH scalar columns
  // scalar vars bound to MAP values (map literal through WITH/UNWIND) with
  // their statically-known key set: Prop on one resolves via getField, and
  // an absent key reads as NULL (schema-free semantics)
  private var structVars: Map[String, Set[String]] = Map.empty
  // scalar vars statically known to hold a temporal value, for component
  // property access dt.year / dur.days (reference record.rs:328-357):
  // "ts" timestamp, "date" date, "dti" day-time interval, "ymi"
  // year-month interval
  private var tempKinds: Map[String, String] = Map.empty
  private var lambdaEnv: Map[String, Column] = Map.empty

  /** Statically-known map keys of an expression, when it is map-valued. */
  private def mapKeysOf(e: Expr): Option[Set[String]] = e match {
    case MapLit(entries) => Some(entries.map(_._1).toSet)
    case Var(n) => structVars.get(n)
    case _ => None
  }

  /** Map keys of the ELEMENTS of a list expression (for UNWIND). */
  private def elemMapKeysOf(e: Expr): Option[Set[String]] = e match {
    case ListLit(items) =>
      val ks = items.flatMap(mapKeysOf)
      if (ks.nonEmpty && ks.size == items.size) Some(ks.flatten.toSet) else None
    case _ => None
  }

  def translate(q: Query): DataFrame = {
    val base = translateSingle(q.first)
    q.unions.foldLeft(base) { case (acc, (all, sq)) =>
      val r = translateSingle(sq)
      if (all) acc.unionByName(r) else acc.unionByName(r).distinct()
    }
  }

  private def spark = g.nodes.sparkSession

  private def translateSingle(sq: SingleQuery): DataFrame = {
    entityVars = Set.empty; edgeEntityVars = Set.empty; pathVars = Set.empty; scalarVars = Set.empty
    structVars = Map.empty; tempKinds = Map.empty
    var df: DataFrame = null

    for (clause <- sq.clauses) clause match {
      case m: MatchClause =>
        // a subsequent non-OPTIONAL MATCH whose pattern head is already
        // bound translates SEEDED from the accumulated frame: the pattern
        // expands row by row (ExpandInto / cycle-close on other bound
        // variables) instead of materializing the unanchored pattern and
        // hash-joining it back — the unanchored form explodes on patterns
        // like (boundVar)-[:A]->(x)-[:B]->(y) whose standalone cardinality
        // is the full A⋈B fan-out. Frame multiplicity is exactly MATCH's
        // join semantics, so seeding from the (non-distinct) frame is the
        // same relation. OPTIONAL MATCH keeps the left-join lowering.
        val seed = if (df != null && !m.optional) Some((df, entityVars -- edgeEntityVars)) else None
        val (cdf, cvars, cpaths) = translateClause(m, seed)
        if (df == null) {
          df = cdf
          entityVars = entityVars union cvars; pathVars = pathVars union cpaths
          if (!m.optional) m.where.foreach(w => df = applyWhere(df, w))
        } else if (seedConsumed) {
          df = cdf
          entityVars = entityVars union cvars; pathVars = pathVars union cpaths
          m.where.foreach(w => df = applyWhere(df, w))
        } else {
          val shared = (entityVars intersect cvars).toSeq
          val joinType = if (m.optional) "left_outer" else "inner"
          if (shared.isEmpty) {
            df = df.crossJoin(cdf)
          } else {
            var right = cdf
            val conds = shared.map { v =>
              right = right.withColumnRenamed(s"${v}__id", s"__r_${v}__id")
              col(s"${v}__id") === col(s"__r_${v}__id")
            }
            val dupCols = right.columns.filter(c =>
              shared.exists(v => c.startsWith(s"${v}__")))
            right = right.drop(dupCols: _*)
            df = df.join(right, conds.reduce(_ && _), joinType)
              .drop(shared.map(v => s"__r_${v}__id"): _*)
          }
          entityVars = entityVars union cvars; pathVars = pathVars union cpaths
          if (!m.optional) m.where.foreach(w => df = applyWhere(df, w))
        }

      case UnwindClause(listExpr, v) =>
        val src = if (df == null) spark.range(1).toDF() else df
        df = src.withColumn(v, explode(toCol(listExpr)))
        scalarVars += v
        tempKinds -= v // an UNWIND binding shadows any prior temporal alias
        elemMapKeysOf(listExpr).foreach(ks => structVars += v -> ks)

      case WithClause(distinct, items, where, orderBy, skip, limit) =>
        if (df == null) df = spark.range(1).toDF()
        val (dfL, itemsL) = lowerItems(df, items)
        df = projectWith(dfL, itemsL)
        if (distinct) df = df.distinct()
        where.foreach(w => df = applyWhere(df, w))
        if (orderBy.nonEmpty) df = df.orderBy(orderCols(orderBy, items): _*)
        skip.foreach(n => df = df.offset(n.toInt))
        limit.foreach(n => df = df.limit(n.toInt))

      case CallSubquery(inner) =>
        // correlated form: a leading `WITH <vars>` of bare outer variables
        // imports them into the subquery scope (cypher.pest:43 allows
        // importing WITH). Decorrelated execution — the standard scalable
        // shape: translate the subquery with the imported variables as FREE
        // pattern variables (computing it for ALL candidate bindings in one
        // distributed pass), append their ids to the subquery's RETURN
        // (which also keys any aggregate per binding), then equi-join to
        // the outer frame instead of looping per row.
        val (imports, restClauses) = inner.clauses.headOption match {
          case Some(WithClause(false, items, None, Seq(), None, None))
              if items.nonEmpty &&
                items.forall(i => i.alias.isEmpty && i.expr.isInstanceOf[Var]) =>
            (items.map(_.expr.asInstanceOf[Var].name), inner.clauses.tail)
          case _ => (Seq.empty[String], inner.clauses)
        }
        if (imports.isEmpty) {
          // uncorrelated: the inner query runs on its own scope; its result
          // cross-joins the outer frame (translateSingle mutates scope
          // state, so save/restore around the recursion)
          val (se, sp, ss, sev) = (entityVars, pathVars, scalarVars, edgeEntityVars)
          val tk = tempKinds
          val sub = translateSingle(inner)
          entityVars = se; pathVars = sp; edgeEntityVars = sev
          scalarVars = ss ++ sub.columns
          tempKinds = tk -- sub.columns // subquery outputs shadow temporal aliases
          df = if (df == null) sub else df.crossJoin(sub)
        } else {
          require(df != null, "correlated CALL { WITH ... } needs a preceding MATCH")
          require(imports.forall(entityVars.contains),
            s"CALL {} imports must be node/relationship variables bound in the outer scope, got $imports")
          val retPlus = inner.ret.copy(items = inner.ret.items ++
            imports.map(v => ReturnItem(Fn("id", Seq(Var(v))), Some(s"__call_${v}__id"))),
            orderBy = Seq.empty, skip = None, limit = None)
          val (se, sp, ss, sev) = (entityVars, pathVars, scalarVars, edgeEntityVars)
          val tk = tempKinds
          val sub0 = translateSingle(SingleQuery(restClauses, retPlus))
          // per-binding SKIP/LIMIT (top-k per key): a window rank partitioned
          // by the imported ids — one shuffle, no global sort, the classic
          // distributed top-k-per-key shape
          val sub =
            if (inner.ret.limit.isEmpty && inner.ret.skip.isEmpty) sub0
            else {
              require(inner.ret.orderBy.nonEmpty,
                "SKIP/LIMIT inside a correlated CALL {} needs ORDER BY (per-binding top-k)")
              val names = inner.ret.items.map(_.name).toSet
              val ordCols = inner.ret.orderBy.map { o =>
                val c = o.expr match {
                  case Var(n) if names.contains(n) => col(n)
                  case e if names.contains(Render.name(e)) => col(Render.name(e))
                  case _ => throw new IllegalArgumentException(
                    "ORDER BY inside a correlated CALL {} must reference returned items")
                }
                if (o.asc) c.asc else c.desc
              }
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(imports.map(v => col(s"__call_${v}__id")): _*)
                .orderBy(ordCols: _*)
              val lo = inner.ret.skip.getOrElse(0L)
              val hi = inner.ret.limit.map(l => lo + l).getOrElse(Long.MaxValue)
              sub0.withColumn("__rn", row_number().over(w))
                .filter(col("__rn") > lo && col("__rn") <= hi).drop("__rn")
            }
          entityVars = se; pathVars = sp; edgeEntityVars = sev
          scalarVars = ss ++ inner.ret.items.map(_.name)
          tempKinds = tk -- inner.ret.items.map(_.name)
          val cond = imports.map(v => col(s"${v}__id") === col(s"__call_${v}__id")).reduce(_ && _)
          // an all-aggregate subquery yields a row even for bindings with
          // no matches (count()=0, sum()=0, collect()=[], min/max/avg=null)
          // — the decorrelated groups miss those, so join left and patch
          val retItems = inner.ret.items
          val allAgg = retItems.nonEmpty && retItems.forall(i => isAggregate(i.expr))
          df = df.join(sub, cond, if (allAgg) "left_outer" else "inner")
            .drop(imports.map(v => s"__call_${v}__id"): _*)
          if (allAgg) retItems.foreach { i =>
            i.expr match {
              case Fn(n, _, _) if n.equalsIgnoreCase("count") =>
                df = df.withColumn(i.name, coalesce(col(i.name), lit(0L)))
              case Fn(n, _, _) if n.equalsIgnoreCase("sum") =>
                df = df.withColumn(i.name,
                  coalesce(col(i.name), lit(0).cast(sub.schema(i.name).dataType)))
              case Fn(n, _, _) if n.equalsIgnoreCase("collect") =>
                df = df.withColumn(i.name,
                  coalesce(col(i.name), array().cast(sub.schema(i.name).dataType)))
              case _ => () // min/max/avg over no rows are null — already so
            }
          }
        }

      case c: CallClause =>
        // procedures may also appear mid-query (cypher.pest:43 call_clause
        // inside match_stmt): the yielded frame joins the outer one (no
        // shared variables — procedures take constant args — so crossJoin)
        var proc = callProcedure(c)
        if (c.yields.nonEmpty) {
          proc = proc.select(c.yields.map { case (y, al) => col(y).as(al.getOrElse(y)) }: _*)
        }
        if (df == null) { df = proc; scalarVars = df.columns.toSet }
        else { df = df.crossJoin(proc); scalarVars = scalarVars ++ proc.columns }
        c.where.foreach(w => df = applyWhere(df, w))

      // WriteTranslator takes writes in the first query part only
      case w @ (_: CreateClause | _: MergeClause | _: SetClause | _: RemoveClause |
                _: DeleteClause | _: ForeachClause) =>
        throw new IllegalArgumentException(
          s"${w.getClass.getSimpleName.stripSuffix("Clause").toUpperCase} is not supported " +
            "inside CALL { ... } or in a UNION part")
    }

    if (df == null) df = spark.range(1).toDF() // RETURN-only query

    // bare CALL without RETURN: emit the yielded frame as-is
    if (sq.ret.items.isEmpty) return df

    applyReturn(df, sq.ret)
  }

  /** Apply a RETURN spec to the current frame (implicit grouping when any
    * item aggregates), using the active variable scope.
    *
    * A final ORDER BY without SKIP/LIMIT sorts in ONE task
    * (`coalesce(1).sortWithinPartitions`) when the query reads at most
    * `spark.graft.algo.localSizeBytes` — the in-task threshold the algorithm
    * kernels gate on, like the reference's in-memory `SortOperator` — unless
    * the frame is driver-held rows (a resident kernel hit's, see
    * [[sortsOnDriver]]): those sort on the driver with no job. A global
    * `orderBy` plans a range exchange whose partitioner first runs a sampling
    * job that re-executes the whole child, then a shuffle: two extra jobs and
    * a re-scan for a result one task can sort. Larger or unbounded inputs
    * keep the global sort; `ORDER BY … LIMIT` is already a
    * TakeOrderedAndProject and keeps its plan.
    *
    * `coalesce(1)` also pulls the work after the last shuffle into that one
    * task; `repartition(1)` would keep it parallel but adds a shuffle stage,
    * and measured slower or equal below the threshold. Measured on 4 cores,
    * one task wins or ties on catalog queries reading up to ~370 MB and the
    * global sort wins at ~670 MB, so the shared 64 MB sits well below the
    * crossover. The read size cannot see the result's row count: a
    * 600k-row result reading 33 MB still takes this route and collects ~12%
    * slower than with the global sort (150k rows: ~25% faster). */
  private def applyReturn(df0: DataFrame, ret: ReturnSpec): DataFrame = {
    val (df, items) = lowerItems(df0, ret.items)
    var out = project(df, items, i => Seq(toCol(i.expr).as(i.name)))

    if (ret.distinct) out = out.distinct()
    if (ret.orderBy.nonEmpty) {
      val keys = orderCols(ret.orderBy, items)
      out =
        if (ret.skip.isEmpty && ret.limit.isEmpty && readsAtMost(out, LocalKernels.localSizeBytes(spark)))
          sortsOnDriver(out, keys).getOrElse(out.coalesce(1).sortWithinPartitions(keys: _*))
        else out.orderBy(keys: _*)
    }
    ret.skip.foreach(n => out = out.offset(n.toInt))
    ret.limit.foreach(n => out = out.limit(n.toInt))
    out
  }

  /** `df.orderBy(keys)` when `df` is only projections and filters over one
    * local relation and `graft.SortLocalRelation` folds that sort into the
    * relation, so a collect runs no job; None otherwise (a key outside the
    * projection, for one, leaves a Project above the Sort, which the rule
    * does not fold). */
  private def sortsOnDriver(df: DataFrame, keys: Seq[Column]): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
    def overLocal(p: LogicalPlan): Boolean = p match {
      case _: LocalRelation => true
      case Project(_, c) => overLocal(c)
      case Filter(_, c) => overLocal(c)
      case _ => false
    }
    if (!overLocal(df.queryExecution.analyzed)) None
    else Some(df.orderBy(keys: _*)).filter(_.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
  }

  /** True when the bytes `df` can read — the summed size estimates of its
    * analyzed plan's leaves — are at most `limit` (never when `limit <= 0`).
    * Not the optimizer's output estimate: that multiplies join inputs, so no
    * pattern would pass. A leaf without statistics (a plain RDD reports the
    * default size) never passes. */
  private def readsAtMost(df: DataFrame, limit: Long): Boolean =
    limit > 0 && df.queryExecution.analyzed.collectLeaves().map(_.stats.sizeInBytes).sum <= limit

  /** Project a RETURN over an externally-built variable frame (columns
    * follow the `v__col` convention) — powers `CREATE/MERGE ... RETURN`
    * in the write path. */
  def projectExternal(df: DataFrame, vars: Set[String], ret: ReturnSpec): DataFrame = {
    entityVars = vars; pathVars = Set.empty; scalarVars = Set.empty
    applyReturn(df, ret)
  }

  /** Resolve ORDER BY expressions against the projection's output names. */
  private def orderCols(order: Seq[OrderItem], items: Seq[ReturnItem]): Seq[Column] = {
    val names = items.map(_.name).toSet
    order.map { o =>
      val c = o.expr match {
        case Var(n) if names.contains(n) => col(n)
        case Prop(v, k) if names.contains(s"$v.$k") => col(s"`$v.$k`")
        case e if names.contains(Render.name(e)) => col(s"`${Render.name(e)}`")
        case e => toCol(e)
      }
      if (o.asc) c.asc else c.desc
    }
  }

  /** Project `items` over `df` (`cols` lowers one item): when an item
    * aggregates, Cypher's implicit grouping keys the aggregate items by all
    * the others. */
  private def project(df: DataFrame, items: Seq[ReturnItem],
                      cols: ReturnItem => Seq[Column]): DataFrame = {
    val (aggs, keys) = items.partition(i => isAggregate(i.expr))
    if (aggs.isEmpty) df.select(items.flatMap(cols): _*)
    else {
      val keyCols = keys.flatMap(cols)
      val aggCols = aggs.flatMap(cols)
      if (keyCols.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
      else df.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*)
    }
  }

  /** WITH barrier: projection or implicit aggregation, carrying whole
    * node/edge/path variables through (all their prefixed columns). Rebinds
    * the scope to exactly the exported items. */
  private def projectWith(df: DataFrame, items: Seq[ReturnItem]): DataFrame = {
    var newEntity = Set.empty[String]
    var newEdge = Set.empty[String]
    var newPath = Set.empty[String]
    var newScalar = Set.empty[String]
    var newStructs = Map.empty[String, Set[String]]

    def carryCols(v: String, out: String): Seq[Column] =
      df.columns.filter(_.startsWith(s"${v}__")).toSeq
        .map(c => col(c).as(s"${out}__${c.stripPrefix(s"${v}__")}"))

    var newTemp = Map.empty[String, String]
    def itemCols(i: ReturnItem): Seq[Column] = i.expr match {
      case Var(n) if entityVars.contains(n) =>
        val out = i.alias.getOrElse(n); newEntity += out
        if (edgeEntityVars.contains(n)) newEdge += out
        carryCols(n, out)
      case Var(n) if pathVars.contains(n) =>
        val out = i.alias.getOrElse(n); newPath += out; carryCols(n, out)
      case e =>
        newScalar += i.name
        mapKeysOf(e).foreach(ks => newStructs += i.name -> ks)
        temporalKindOf(e).foreach(k => newTemp += i.name -> k)
        Seq(toCol(e).as(i.name))
    }

    val res = project(df, items, itemCols)
    entityVars = newEntity; edgeEntityVars = newEdge; pathVars = newPath
    scalarVars = newScalar
    structVars = newStructs
    tempKinds = newTemp
    res
  }

  /** Static temporal kind of an expression, for component property access
    * (reference record.rs:328-357 resolves dt.year / dur.days at runtime;
    * a columnar plan needs the kind at translate time). */
  private def temporalKindOf(e: Expr): Option[String] = e match {
    case Fn(name, args, _) => name.toLowerCase match {
      case "datetime" | "localdatetime" => Some("ts")
      case "date" => Some("date")
      case "duration.between" => Some("dti")
      case "duration" => args.headOption match {
        case Some(ml: MapLit) =>
          val ks = ml.entries.map(_._1).toSet
          if (ks.contains("years") || ks.contains("months")) Some("ymi") else Some("dti")
        case _ => Some("dti") // ISO-string form lowers to a day-time interval
      }
      case _ => None
    }
    case Var(n) => tempKinds.get(n)
    case _ => None
  }

  /** Temporal component access (reference record.rs:328-357). Durations in
    * Spark are NORMALIZED intervals (a 30-hour day-time interval reads as
    * days=1, hours=6) unlike the reference's kept-separate components —
    * equivalent whenever components are in range at construction. */
  private def temporalComponent(c: Column, kind: String, k: String): Column = {
    def raw(field: String): Column = call_function("date_part", lit(field), c)
    def ex(field: String): Column = raw(field).cast("long")
    (kind, k) match {
      case ("ts" | "date", "year") => ex("YEAR")
      case ("ts" | "date", "month") => ex("MONTH")
      case ("ts" | "date", "day") => ex("DAY")
      case ("ts", "hour") => ex("HOUR")
      case ("ts", "minute") => ex("MINUTE")
      case ("ts", "second") => ex("SECOND") // cast truncates the fraction
      case ("ts", "millisecond") => (unix_micros(c.cast("timestamp")) % 1000000L / 1000L).cast("long")
      case ("ts", "epochMillis") => (unix_micros(c.cast("timestamp")) / 1000L).cast("long")
      case ("dti", "days") => ex("DAY")
      case ("dti", "hours") => ex("HOUR")
      case ("dti", "minutes" | "minutesOfHour") => ex("MINUTE")
      case ("dti", "secondsOfMinute") => ex("SECOND")
      case ("dti", "seconds") => // total seconds excluding days (reference layout)
        ex("HOUR") * 3600L + ex("MINUTE") * 60L + ex("SECOND")
      case ("dti", "nanoseconds") => // sub-second nanos
        ((raw("SECOND") % 1.0) * 1e9).cast("long")
      case ("ymi", "months") => ex("YEAR") * 12L + ex("MONTH")
      case _ => lit(null) // schema-free: unknown component reads as NULL
    }
  }

  // ---------- CALL procedures ----------

  /** Driver-side constant evaluation of procedure arguments (literals,
    * $params, list literals — reference `executor/mod.rs:171-180` binds
    * parameters the same way before dispatch). */
  private def evalConst(e: Expr): Any = e match {
    case Lit(v) => v
    case Param(n) => params.getOrElse(n,
      throw new IllegalArgumentException(s"missing parameter $$$n"))
    case ListLit(items) => items.map(evalConst)
    case MapLit(entries) => entries.map { case (k, v) => k -> evalConst(v) }.toMap
    case other => throw new IllegalArgumentException(s"CALL argument must be constant, got $other")
  }

  /** `CALL algo.*` / `CALL db.index.vector.queryNodes` dispatch (reference
    * operator dispatch `operator.rs:6303-6959`). Every algo procedure accepts
    * an optional trailing string argument restricting the run to a
    * comma-separated list of relationship types (the reference's
    * `build_view(edge_type?)` projection). */
  private def callProcedure(c: CallClause): DataFrame = {
    import graft.algo.Algorithms
    val argvAll = c.args.map(evalConst)
    // the reference's primary convention passes ONE config map
    // (operator.rs:6622); positional args remain supported alongside it
    val conf: Map[String, Any] = argvAll.collectFirst {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
    }.getOrElse(Map.empty)
    val argv = argvAll.filterNot(_.isInstanceOf[Map[_, _]])
    def confNum(keys: Seq[String], dflt: => Double): Double =
      keys.iterator.flatMap(conf.get).collectFirst { case n: Number => n.doubleValue() }
        .getOrElse(dflt)
    def confStr(keys: Seq[String]): Option[String] =
      keys.iterator.flatMap(conf.get).collectFirst { case s: String => s }
    // positional NUMERIC args index among themselves, so a leading label
    // string (reference convention) doesn't shift them
    val numArgs = argv.collect { case n: Number => n }
    def numArg(i: Int, dflt: Double): Double =
      numArgs.lift(i).map(_.doubleValue()).getOrElse(dflt)
    def longArg(i: Int): Long = numArg(i, Double.NaN) match {
      case d if d.isNaN => throw new IllegalArgumentException(s"missing argument $i of ${c.proc}")
      case d => d.toLong
    }
    // shared seeds-argument convention for the seeded algorithms: seeds as
    // a non-empty list literal ([1,2,3]) or a single numeric. Returns the
    // seeds and the index of the NEXT positional numeric argument — a list
    // is not a Number, so in list form the next numeric arg is index 0,
    // in single-seed form it is index 1 (keeping one copy of this dance
    // prevents the off-by-one the per-case copies once had)
    def seededArgs(): (Seq[Long], Int) =
      argvAll.collectFirst {
        case l: Seq[_] => l.collect { case n: Number => n.longValue() }
      } match {
        case Some(l) if l.nonEmpty => (l, 0)
        case _ => (Seq(longArg(0)), 1)
      }
    // string args: (label, edgeTypes) when two, edge-type restriction when
    // one (back-compatible); config-map `label`/`edgeType` override either
    val strArgs = argv.collect { case s: String => s }
    def nodeLabelOpt: Option[String] =
      confStr(Seq("label", "nodeLabel")).orElse(
        if (strArgs.size >= 2) strArgs.headOption else None)
    def typedEdges: DataFrame = {
      val et = confStr(Seq("edgeType", "relationshipType")).orElse(
        if (strArgs.size >= 2) strArgs.lift(1) else strArgs.lastOption)
      val e = et match {
        case Some(s) => g.edgesOfType(s.split(",").map(_.trim).filter(_.nonEmpty).toSeq: _*)
        case _ => g.edges
      }
      nodeLabelOpt match {
        case Some(l) =>
          val ids = g.nodesWithLabel(l).select(col("id"))
          e.join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
            .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        case None => e
      }
    }
    def und: DataFrame = {
      val e = typedEdges.select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
      e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
    }
    c.proc.toLowerCase match {
      case "algo.pagerank" =>
        Algorithms.pageRank(typedEdges,
          confNum(Seq("maxIterations", "iterations"), numArg(0, 20)).toInt,
          confNum(Seq("dampingFactor", "damping"), numArg(1, 0.85)))
      case "algo.pagerankweighted" =>
        Algorithms.pageRankWeighted(typedEdges.select(col("src"), col("dst"),
          (if (typedEdges.columns.contains("weight")) col("weight")
           else lit(1.0)).as("weight")),
          confNum(Seq("maxIterations", "iterations"), numArg(0, 20)).toInt,
          confNum(Seq("dampingFactor", "damping"), numArg(1, 0.85)))
      case "algo.wcc" =>
        Algorithms.wcc(typedEdges, confNum(Seq("maxIterations"), 50).toInt)
      case "algo.cdlp" =>
        Algorithms.cdlp(typedEdges, confNum(Seq("maxIterations", "iterations"), numArg(0, 10)).toInt)
      case "algo.scc" =>
        Algorithms.scc(typedEdges, confNum(Seq("maxIterations"), numArg(0, 10)).toInt)
      case "algo.bfs" | "algo.shortestpath" =>
        Algorithms.bfs(typedEdges, longArg(0), numArg(1, 30).toInt)
      case "algo.sssp" | "algo.weightedpath" =>
        Algorithms.sssp(typedEdges, longArg(0), numArg(1, 30).toInt)
      case "algo.harmoniccentrality" =>
        val (seeds, nextIdx) = seededArgs()
        Algorithms.harmonicCentrality(typedEdges, seeds,
          confNum(Seq("radius", "maxDepth"), numArg(nextIdx, 3)).toInt)
      case "algo.closenesscentrality" =>
        val (seeds, nextIdx) = seededArgs()
        Algorithms.closenessCentrality(typedEdges, seeds,
          confNum(Seq("radius", "maxDepth"), numArg(nextIdx, 3)).toInt)
      case "algo.betweenness" | "algo.betweennesscentrality" =>
        val (seeds, nextIdx) = seededArgs()
        Algorithms.betweennessCentrality(typedEdges, seeds,
          confNum(Seq("radius", "maxDepth"), numArg(nextIdx, 3)).toInt)
      case "algo.trianglecount" => Algorithms.triangleCount(und)
      case "algo.graphstats" => Algorithms.graphStats(und)
      case "algo.louvain" | "algo.louvainmoves" =>
        val rounds = confNum(Seq("rounds", "maxIterations"), numArg(0, 2)).toInt
        val levels = confNum(Seq("levels"), numArg(1, 1)).toInt
        if (levels <= 1) Algorithms.louvainMoves(und, rounds)
        else Algorithms.louvain(und, rounds, levels)
      case "algo.node2vec" =>
        Algorithms.node2vecWalks(
          und.select(col("a").as("src"), col("b").as("dst")),
          confNum(Seq("steps"), numArg(0, 3)).toInt)
      case "algo.bidirbfs" | "algo.bidirectionalbfs" =>
        Algorithms.bidirectionalBfs(typedEdges,
          Seq((longArg(0), longArg(1))),
          confNum(Seq("maxDepth"), numArg(2, 6)).toInt)
      case "algo.modularity" =>
        // community column from a prior algo run is out of CALL scope here;
        // the assignment is the deterministic k-way id hash (k = arg 0)
        val k = confNum(Seq("k", "communities"), numArg(0, 8)).toInt
        val nodes = und.select(col("a").as("id"))
          .unionAll(und.select(col("b").as("id"))).distinct()
        Algorithms.modularity(und,
          nodes.select(col("id"), pmod(col("id"), lit(k.toLong)).as("community")))
      case "algo.jaccardsimilarity" | "algo.nodesimilarity" =>
        val (seeds, nextIdx) = seededArgs()
        Algorithms.jaccardSimilarity(
          und.select(col("a").as("src"), col("b").as("dst")), seeds,
          confNum(Seq("topK", "k"), numArg(nextIdx, 20)).toInt)
      case "algo.ktruss" =>
        Algorithms.kTruss(
          und.select(col("a").as("src"), col("b").as("dst")),
          confNum(Seq("k"), numArg(0, 4)).toInt,
          confNum(Seq("rounds", "maxIterations"), numArg(1, 4)).toInt)
      case "algo.lcc" => Algorithms.lcc(und)
      case "algo.kcore" =>
        Algorithms.kCore(typedEdges.select(col("src").cast("long"),
          col("dst").cast("long")),
          confNum(Seq("k"), numArg(0, 2)).toInt,
          confNum(Seq("rounds", "maxIterations"), numArg(1, 4)).toInt)
      case "algo.mst" =>
        Algorithms.mst(typedEdges.select(col("src"), col("dst"),
          (if (typedEdges.columns.contains("weight")) col("weight") else lit(1.0)).as("weight")))
      case "algo.maxflow" =>
        Algorithms.maxFlow(typedEdges.select(col("src"), col("dst"),
          (if (typedEdges.columns.contains("cap")) col("cap")
           else if (typedEdges.columns.contains("weight")) col("weight")
           else lit(1.0)).as("cap")), longArg(0), longArg(1))
      case "algo.or.solve" =>
        // reference convention: ONE config map (operator.rs:6622); the
        // positional form (label, costProperty, algorithm, minTotal, budget)
        // is also accepted
        val label = confStr(Seq("label")).getOrElse(argv(0).asInstanceOf[String])
        val costProp = confStr(Seq("cost_property", "costProperty", "property"))
          .getOrElse(argv(1).asInstanceOf[String])
        val algoName = confStr(Seq("algorithm"))
          .orElse(argv.lift(2).collect { case s: String => s }).getOrElse("Jaya")
        val paretoNames = Set("nsga2", "nsgaii", "motlbo", "moraode", "morao",
          "mobmr", "mobwr", "mobmwr")
        if (paretoNames.contains(algoName.toLowerCase.replace("-", "")))
          graft.algo.Optimize.orSolveParetoNodes(g, label, costProp, algoName,
            minTotal = confNum(Seq("min_total", "minTotal"), numArg(0, 0.0)),
            popSize = confNum(Seq("population_size", "populationSize"), 40).toInt,
            maxIter = confNum(Seq("max_iterations", "maxIterations"), 60).toInt)
        else graft.algo.Optimize.orSolveNodes(g, label, costProp, algoName,
          minTotal = confNum(Seq("min_total", "minTotal"), numArg(0, 0.0)),
          budget = confNum(Seq("budget"), numArg(1, Double.NaN)),
          popSize = confNum(Seq("population_size", "populationSize"), 30).toInt,
          maxIter = confNum(Seq("max_iterations", "maxIterations"), 100).toInt)
      // CALL twins of the SHOW statements (reference db.labels /
      // db.relationshipTypes / db.propertyKeys procedures)
      case "db.labels" =>
        g.nodes.select(explode(col("labels")).as("label")).distinct()
          .orderBy(col("label"))
      case "db.relationshiptypes" =>
        g.edges.select(col("relationship").as("relationshipType")).distinct()
          .orderBy(col("relationshipType"))
      case "db.propertykeys" => {
        val reserved = Set("id", "labels", "src", "dst", "relationship")
        val spark = g.nodes.sparkSession
        import spark.implicits._
        (g.nodes.columns ++ g.edges.columns).filterNot(reserved).distinct.sorted
          .toSeq.toDF("propertyKey")
      }
      case "db.schema.visualization" =>
        // reference SchemaVisualizationOperator (operator.rs:5784-5833):
        // distinct (source_label, relationship_type, target_label) triples.
        // The reference bounds work by sampling 1000 edges per type; here
        // the triples come straight from the (label, type, label) stats
        // catalog when available — the ANALYZE-style pass already ran once
        // per dataset for the cost-based planner (GraphStats memo), so
        // introspection is a catalog lookup, not a graph scan. Graphs
        // without a stats key (e.g. freshly mutated ones) fall back to the
        // exact two-join aggregate.
        stats match {
          case Some(st) =>
            val spark = g.nodes.sparkSession
            import spark.implicits._
            st.tripleCounts.keys.toSeq.sorted.toDF(
              "source_label", "relationship_type", "target_label")
          case None =>
            val srcL = g.nodes.select(col("id").as("src"),
              explode(col("labels")).as("source_label"))
            val dstL = g.nodes.select(col("id").as("dst"),
              explode(col("labels")).as("target_label"))
            g.edges.select(col("src"), col("dst"),
                col("relationship").as("relationship_type"))
              .join(srcL, "src").join(dstL, "dst")
              .select(col("source_label"), col("relationship_type"), col("target_label"))
              .distinct()
        }
      case "db.index.vector.querynodes" =>
        val idxName = argv.head.asInstanceOf[String]
        val (emb, idCol, vecCol) = vectorIndexes.getOrElse(idxName,
          throw new IllegalArgumentException(s"unknown vector index '$idxName'"))
        val k = longArg(0).toInt // first NUMERIC arg (name/vector aside)
        val q = argv(2).asInstanceOf[Seq[Any]].map {
          case n: Number => n.floatValue()
          case other => throw new IllegalArgumentException(s"non-numeric vector element $other")
        }
        graft.vector.VectorSearch.knnExact(emb, idCol, vecCol, q, k)
          .select(col(idCol).as("id"), col("score"))
      case other => throw new IllegalArgumentException(s"unknown procedure $other")
    }
  }

  // ---------- EXISTS lowering ----------

  /** Filter with EXISTS { pattern } subqueries lowered to flag joins:
    * the subquery pattern is translated independently, reduced to DISTINCT
    * anchor ids (the variables shared with the outer scope) + a true flag,
    * left-joined to the outer frame; the EXISTS node becomes `flag IS NOT
    * NULL`. Composes under NOT/AND/OR (reference semi/anti-join selection,
    * `tests/exists_subquery_test.rs`). */
  private def applyWhere(df: DataFrame, w: Expr): DataFrame = {
    val (df2, rewritten) = lowerExists(df, w)
    df2.filter(toCol(rewritten))
  }

  private var existsCount = 0

  /** Seed frame for a correlated subquery: the DISTINCT outer rows
    * projected to the columns of every outer NODE variable the pattern
    * mentions. Distinct because the subquery only has to decide per anchor
    * combination (EXISTS flag / one collected list), never per outer row.
    *
    * The projection is need-based: a seeded variable contributes only its
    * id column plus the properties the subquery's expressions (WHERE /
    * comprehension projection / pattern property values) actually read —
    * dragging a document-sized `content` column through the anchor DISTINCT
    * costs more than the whole subquery. A bare entity reference (e.g.
    * `properties(v)`) conservatively keeps every column of that variable. */
  private def subquerySeed(outer: DataFrame, paths: Seq[PathPat],
                           subExprs: Seq[Expr])
      : Option[(DataFrame, Set[String])] = {
    val patVars = paths.flatMap(p => p.nodes.flatMap(_.variable)).toSet
    // outer variables referenced ONLY by the subquery's expressions (e.g.
    // `WHERE x.age > n.age` with x absent from the pattern) are correlation
    // anchors too: they ride the seed frame so the WHERE can resolve them
    val exprVars = subExprs.flatMap(e =>
      propRefs(e).map(_._1) ++ bareVarRefs(e)).toSet
    val seedVars = (entityVars intersect (patVars ++ exprVars)) -- edgeEntityVars
    if (seedVars.isEmpty || !seedVars.forall(v => outer.columns.contains(s"${v}__id")))
      return None
    val exprs = subExprs ++
      paths.flatMap(p => p.nodes.flatMap(_.props.map(_._2)) ++
        p.rels.flatMap(_.props.map(_._2)))
    val props = exprs.flatMap(propRefs).toSet
    val bare = exprs.flatMap(bareVarRefs).toSet
    val cols = outer.columns.filter { c =>
      seedVars.exists { v =>
        c.startsWith(s"${v}__") && (bare.contains(v) ||
          c == s"${v}__id" || props.contains((v, c.stripPrefix(s"${v}__"))))
      }
    }
    Some((outer.select(cols.map(col).toSeq: _*).distinct(), seedVars))
  }

  /** Lower every EXISTS / pattern comprehension in `e` to a joined column
    * of `df0`, wherever it sits. One inside a lambda is lowered when it
    * does not mention a lambda-bound name (`bound`); one that does is left
    * in place, and toCol rejects it. */
  private def lowerExists(df0: DataFrame, e: Expr): (DataFrame, Expr) = {
    var df = df0
    def mentions(x: Expr, paths: Seq[PathPat], names: Set[String]): Boolean =
      (paths.flatMap(p => p.nodes.flatMap(_.variable) ++ p.rels.flatMap(_.variable) ++
        p.pathVar) ++ bareVarRefs(x) ++ propRefs(x).map(_._1)).exists(names)
    def walk(bound: Set[String])(x: Expr): Expr = x match {
      case ExistsPattern(paths, _) if mentions(x, paths, bound) => x
      case PatternComp(path, _, _) if mentions(x, Seq(path), bound) => x
      case ExistsPattern(paths, where) =>
        existsCount += 1
        val flag = s"__exists_$existsCount"
        val outerEntities = entityVars
        val seed = subquerySeed(df, paths, where.toSeq)
        // translate the pattern in an isolated scope
        val savedE = entityVars; val savedP = pathVars; val savedEV = edgeEntityVars
        val (sub0, svars, _) =
          translateClause(MatchClause(paths, optional = false, where = None), seed)
        entityVars = svars; pathVars = Set.empty
        val sub = where.map(wx => applyWhere(sub0, wx)).getOrElse(sub0)
        entityVars = savedE; pathVars = savedP; edgeEntityVars = savedEV
        val anchors = (outerEntities intersect svars).toSeq
        if (anchors.isEmpty) {
          val flagDf = sub.limit(1).agg((count(lit(1)) > 0).as(flag))
          df = df.crossJoin(broadcast(flagDf))
          scalarVars += flag
          Var(flag) // boolean column
        } else {
          val flagDf = sub
            .select(anchors.map(v => col(s"${v}__id").as(s"__ex_${v}__id")): _*)
            .distinct()
            .withColumn(flag, lit(true))
          val cond = anchors.map(v => col(s"${v}__id") === col(s"__ex_${v}__id")).reduce(_ && _)
          df = df.join(flagDf, cond, "left_outer")
            .drop(anchors.map(v => s"__ex_${v}__id"): _*)
          scalarVars += flag
          IsNull(Var(flag), negated = true)
        }
      case PatternComp(path, where, proj) =>
        // pattern comprehension (reference ast.rs:392): translate the
        // pattern in an isolated scope, evaluate the projection there,
        // group to ONE array per anchor-id combination (sorted — the
        // reference's match order is an implementation detail; sorting
        // makes results deterministic), left-join to the outer frame,
        // absent anchors get []
        existsCount += 1
        val listName = s"__pc_$existsCount"
        val outerEntities = entityVars
        val seed = subquerySeed(df, Seq(path), where.toSeq :+ proj)
        val savedE = entityVars; val savedP = pathVars; val savedEV = edgeEntityVars
        val (sub0, svars, spaths) =
          translateClause(MatchClause(Seq(path), optional = false, where = where), seed)
        entityVars = svars; pathVars = spaths
        val sub = where.map(wx => applyWhere(sub0, wx)).getOrElse(sub0)
        val valCol = toCol(proj)
        entityVars = savedE; pathVars = savedP; edgeEntityVars = savedEV
        val anchors = (outerEntities intersect svars).toSeq
        if (anchors.isEmpty) {
          val listDf = sub.agg(sort_array(collect_list(valCol)).as(listName))
          df = df.crossJoin(broadcast(listDf))
          scalarVars += listName
          Var(listName)
        } else {
          val grouped = sub
            .groupBy(anchors.map(v => col(s"${v}__id").as(s"__pc_${v}__id")): _*)
            .agg(sort_array(collect_list(valCol)).as(listName))
          val elemType = grouped.schema(listName).dataType
          val cond = anchors.map(v => col(s"${v}__id") === col(s"__pc_${v}__id")).reduce(_ && _)
          df = df.join(grouped, cond, "left_outer")
            .drop(anchors.map(v => s"__pc_${v}__id"): _*)
            .withColumn(listName, coalesce(col(listName), array().cast(elemType)))
          scalarVars += listName
          Var(listName)
        }
      case other => mapChildren(other)(walk(bound ++ binds(other)))
    }
    val rewritten = walk(Set.empty)(e)
    (df, rewritten)
  }

  /** Lower EXISTS / pattern-comprehension subqueries inside projection
    * items: each subquery becomes a joined column and the item's expression
    * is rewritten to reference it. Names are pinned to the original item
    * names so ORDER BY-by-name and column output are unchanged. */
  private def lowerItems(df0: DataFrame, items: Seq[ReturnItem]): (DataFrame, Seq[ReturnItem]) = {
    var df = df0
    val out = items.map { i =>
      val (d2, e2) = lowerExists(df, i.expr)
      df = d2
      ReturnItem(e2, Some(i.name))
    }
    (df, out)
  }

  // ---------- clause / path translation ----------

  /** AND-conjuncts of an expression. */
  private def conjuncts(e: Expr): Seq[Expr] = e match {
    case Bin("AND", l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** Single-variable WHERE conjuncts, keyed by that variable — these are
    * pushed into the matching node scan BEFORE any expansion (the traversal
    * analog of predicate pushdown: filter 20 start nodes, then expand, rather
    * than expanding every node and filtering millions of pairs). The full
    * WHERE is still applied afterwards (idempotent for conjuncts). */
  private var pushFilters: Map[String, Seq[Expr]] = Map.empty

  private def translateClause(clause: MatchClause,
                              seed: Option[(DataFrame, Set[String])] = None)
      : (DataFrame, Set[String], Set[String]) = {
    val savedPush = pushFilters
    pushFilters = clause.where.map(w =>
      conjuncts(w).filter(c => refVars(c).size == 1 &&
          !refVars(c).contains("__nonpushable") &&
          !refVars(c).exists(scalarVars.contains))
        .groupBy(c => refVars(c).head)).getOrElse(Map.empty)
    try translateClauseInner(clause, seed) finally pushFilters = savedPush
  }

  private def translateClauseInner(clause: MatchClause,
                                   seed: Option[(DataFrame, Set[String])] = None)
      : (DataFrame, Set[String], Set[String]) = {
    seedConsumed = false
    var df: DataFrame = null
    var vars: Set[String] = Set.empty
    var paths: Set[String] = Set.empty
    for (path <- clause.paths) {
      // only the FIRST path may consume the seed frame (conservative:
      // later paths keep the standalone-translate-then-join lowering)
      val (pdf, pvars, ppaths) = translatePath(path, if (df == null) seed else None)
      if (df == null) { df = pdf; vars = pvars; paths = ppaths }
      else {
        val shared = (vars intersect pvars).toSeq
        if (shared.isEmpty) df = df.crossJoin(pdf)
        else {
          var right = pdf
          val conds = shared.map { v =>
            right = right.withColumnRenamed(s"${v}__id", s"__p_${v}__id")
            col(s"${v}__id") === col(s"__p_${v}__id")
          }
          val dup = right.columns.filter(c => shared.exists(v => c.startsWith(s"${v}__")))
          df = df.join(right.drop(dup: _*), conds.reduce(_ && _))
            .drop(shared.map(v => s"__p_${v}__id"): _*)
        }
        vars = vars union pvars
        paths = paths union ppaths
      }
    }
    if (clause.optional) clause.where.foreach(w => df = df.filter(toCol(w)))
    (df, vars, paths)
  }

  /** Reverse a linear path (flipping every hop's direction). */
  private[cypher] def reversePath(p: PathPat): PathPat =
    p.copy(nodes = p.nodes.reverse,
      rels = p.rels.reverse.map(r => r.copy(dir = r.dir match {
        case Out => In; case In => Out; case Undirected => Undirected
      })))

  /** Estimated rows flowing through a left-to-right expansion of `p`
    * (reference cost model `cost_model.rs:11-100`): the anchor scan plus
    * each hop's expected intermediate size from the (label, type, label)
    * triple counts, scaled by the surviving fraction of source bindings and
    * a fixed 0.1 selectivity per property-equality predicate. */
  private[cypher] def pathCost(p: PathPat, st: graft.model.GraphStats): Double = {
    def card(n: NodePat): Double =
      math.max(1.0, st.nodeCard(n.labels.headOption) * math.pow(0.1, n.props.size))
    var rows = card(p.nodes.head)
    var cost = rows
    for (((rel, src), dst) <- p.rels.zip(p.nodes).zip(p.nodes.tail)) {
      val hopEdges = rel.dir match {
        case Out => st.tripleCard(src.labels.headOption, rel.types, dst.labels.headOption)
        case In => st.tripleCard(dst.labels.headOption, rel.types, src.labels.headOption)
        case Undirected =>
          st.tripleCard(src.labels.headOption, rel.types, dst.labels.headOption) +
            st.tripleCard(dst.labels.headOption, rel.types, src.labels.headOption)
      }
      val surviving = math.min(1.0, rows / math.max(1.0, st.nodeCard(src.labels.headOption)))
      rows = math.max(1.0, hopEdges * surviving * math.pow(0.1, dst.props.size))
      cost += rows
    }
    cost
  }

  /** Set by translatePath: whether the most recent translateClause call
    * consumed its seed frame (so the caller must NOT join the result back —
    * it already contains the outer columns). Single-threaded translator. */
  private var seedConsumed = false

  /** Lower one linear path, hop by hop.
    *
    * @param seed outer frame to expand FROM instead of a fresh scan: when
    *   the path's head variable (after orientation) is bound in the seed,
    *   the translation starts from the seed rows, which carry `v__*` columns
    *   for every seeded variable, so hops landing on other seeded variables
    *   lower as ExpandInto / WCO cycle-close instead of re-scanning and
    *   exploding. Used by EXISTS / pattern-comprehension lowering and by a
    *   subsequent MATCH, where translating the pattern unseeded
    *   materializes the full unanchored pattern (the reference plans the
    *   correlated subquery from its bound columns for the same reason,
    *   `executor/mod.rs` semi-join selection). When the head is not
    *   bindable, the path lowers standalone and the caller's
    *   join-on-shared-vars restores correctness. */
  private def translatePath(path0: PathPat,
                            seed: Option[(DataFrame, Set[String])] = None)
      : (DataFrame, Set[String], Set[String]) = {
    val seeded = seed.flatMap { case (sdf, svars) =>
      val headSeeded = path0.nodes.head.variable.exists(svars.contains)
      val lastSeeded = path0.nodes.last.variable.exists(svars.contains)
      val canReverse = path0.rels.forall(!_.isVarLength) && path0.pathVar.isEmpty
      val path = if (!headSeeded && lastSeeded && canReverse) reversePath(path0) else path0
      if (path.nodes.head.variable.exists(svars.contains)) Some((path, sdf, svars)) else None
    }
    // anchor selection (reference plan_enumerator.rs:18-64 — SURVEY §4.1
    // "the single most important planning decision"): with a stats catalog,
    // cost both orientations from the (label, type, label) triple counts
    // and expand from the cheaper end; without stats, fall back to the
    // "prefer the selective end" syntactic heuristic. Var-length and named
    // paths keep their written orientation (hop semantics are directional).
    def anchored: PathPat = {
      def selective(n: NodePat) = n.labels.nonEmpty || n.props.nonEmpty
      val eligible = path0.nodes.nonEmpty && path0.rels.nonEmpty &&
        path0.rels.forall(!_.isVarLength) && path0.pathVar.isEmpty
      if (!eligible) path0
      else stats match {
        case Some(st) =>
          val rev = reversePath(path0)
          // strict inequality: ties keep the written order (determinism)
          if (pathCost(rev, st) < pathCost(path0, st)) rev else path0
        case None =>
          if (!selective(path0.nodes.head) && selective(path0.nodes.last))
            reversePath(path0)
          else path0
      }
    }
    val path = seeded.fold(anchored)(_._1)
    val headVar = path.nodes.head.variable.getOrElse(fresh())
    var (df, vars) = seeded match {
      case Some((_, sdf, svars)) =>
        seedConsumed = true
        // label/property constraints on seeded nodes: existence check by id
        val checked = path.nodes.foldLeft(sdf) { (d, n) =>
          n.variable.filter(v => svars.contains(v) && (n.labels.nonEmpty || n.props.nonEmpty))
            .fold(d) { v =>
              val chk = scanNode(n, v).select(col(s"${v}__id").as("__seed_chk"))
              d.join(chk, col(s"${v}__id") === col("__seed_chk"), "left_semi")
            }
        }
        (checked, svars)
      case None => (scanNode(path.nodes.head, headVar), Set(headVar))
    }
    var cur = headVar
    // the variables ACTUALLY bound per node position, in path order —
    // anonymous nodes get their fresh() name recorded here so a named
    // path's node list refers to the real interior columns
    var nodeVarsInOrder = Seq(headVar)
    var edgeVarsInOrder = Seq.empty[String]
    val hops = path.rels.zip(path.nodes.tail)
    // cost gate for the WCO fusion below: the fused plan trades the binary
    // plan's wedge intermediate (rows x fan-out of the wedge hop) for two
    // O(m) adjacency aggregates plus two output-proportional back-joins —
    // a constant overhead that only pays off when the wedge hop actually
    // fans out. With triple stats, a standalone path fuses iff the hop's
    // average out-degree clears the breakeven (~4); a seeded frame is
    // already bound pairs, so it fuses by default. Without stats, fuse —
    // the downside of a needless fusion is a bounded constant factor, the
    // downside of a missed fusion grows with the square of the hub degree.
    def fuseBeneficial(i: Int): Boolean = stats.forall { st =>
      val src = path.nodes(i); val mid = path.nodes(i + 1)
      val rel = path.rels(i)
      def hopEdges = rel.dir match {
        case Out => st.tripleCard(src.labels.headOption, rel.types, mid.labels.headOption)
        case In => st.tripleCard(mid.labels.headOption, rel.types, src.labels.headOption)
        case Undirected =>
          st.tripleCard(src.labels.headOption, rel.types, mid.labels.headOption) +
            st.tripleCard(mid.labels.headOption, rel.types, src.labels.headOption)
      }
      // skew guard: the fused plan holds one adjacency array per key in
      // executor memory, so an extreme hub (beyond ~4M neighbors, ~32 MB
      // of packed longs) must stay on the streaming binary-join path —
      // the same reason the reference's leapfrog streams sorted adjacency
      // instead of materializing it
      val degCap = 4e6
      val relB = path.rels(i + 1)
      (seeded.isDefined ||
        hopEdges / math.max(1.0, st.nodeCard(src.labels.headOption)) >= 4.0) &&
        st.maxDegree(rel.types) <= degCap && st.maxDegree(relB.types) <= degCap
    }
    var i = 0
    while (i < hops.length) {
      val (rel, node) = hops(i)
      val tgtVar = node.variable.getOrElse(fresh())
      val relVar = rel.variable.getOrElse(fresh())
      // WCO cycle close (reference LeapfrogTrieJoin, `executor/leapfrog.rs`):
      // when the hop after this one lands on an ALREADY-BOUND variable, the
      // two hops form the closing wedge of a cycle. Lowering them as two
      // binary joins materializes every 2-path through the middle node
      // (O(sum of deg^2) rows) before the closing filter; instead intersect
      // the middle candidates per row from two adjacency arrays — only true
      // cycle rows ever exist as rows. See expandCycleClose for multiplicity.
      val fuseNext: Option[(RelPat, String)] =
        if (i + 1 < hops.length && !rel.isVarLength && rel.variable.isEmpty &&
            path.pathVar.isEmpty && !vars.contains(tgtVar)) {
          val (relB, nodeB) = hops(i + 1)
          nodeB.variable match {
            case Some(z) if vars.contains(z) && !relB.isVarLength &&
              relB.variable.isEmpty && z != tgtVar && fuseBeneficial(i) =>
              Some((relB, z))
            case _ => None
          }
        } else None
      fuseNext match {
        case Some((relB, closeVar)) =>
          df = expandCycleClose(df, cur, rel, node, tgtVar, relB, closeVar)
          vars += tgtVar
          nodeVarsInOrder ++= Seq(tgtVar, closeVar)
          edgeVarsInOrder ++= Seq(relVar, fresh())
          cur = closeVar
          i += 2
        case None =>
          df =
            if (rel.isVarLength)
              expandVarLength(df, cur, rel, node, tgtVar, vars, path.pathVar,
                path.allPaths, path.shortest)
            else expandOne(df, cur, rel, node, tgtVar, vars, relVar,
              keepEdgeId = path.pathVar.isDefined)
          rel.variable.foreach { v => vars += v; edgeEntityVars += v }
          vars += tgtVar
          nodeVarsInOrder :+= tgtVar
          edgeVarsInOrder :+= relVar
          cur = tgtVar
          i += 1
      }
    }
    var pset = Set.empty[String]
    path.pathVar.foreach { p =>
      pset += p
      if (path.rels.forall(!_.isVarLength)) {
        // fixed-length named path: length, node-id and edge-id lists are
        // static shape (reference paths carry both, record.rs:85-89)
        df = df.withColumn(s"${p}__length", lit(path.rels.length))
          .withColumn(s"${p}__nodes", array(nodeVarsInOrder.map(v => col(s"${v}__id")): _*))
          .withColumn(s"${p}__edges", array(edgeVarsInOrder.map(v => col(s"${v}__id")): _*))
      }
      // var-length named paths get p__length/p__nodes/p__edges inside
      // expandVarLength
    }
    (df, vars, pset)
  }

  private def prefixAll(df: DataFrame, v: String): DataFrame =
    df.select(df.columns.map(c => col(c).as(s"${v}__$c")): _*)

  private def scanNode(n: NodePat, v: String): DataFrame = {
    // first label resolves through the per-label store (prunes the node
    // union); extra labels filter the already-pruned frame
    var df = n.labels match {
      case Seq() => g.nodes
      case l +: rest =>
        rest.foldLeft(g.nodesWithLabel(l))((d, l2) => d.filter(array_contains(col("labels"), l2)))
    }
    for ((k, value) <- n.props) {
      // schema-free: a pattern key absent from the node schema matches
      // nothing (missing property = NULL, NULL = x -> NULL)
      val lhs = if (nodePropKeys.contains(k)) col(k) else lit(null)
      df = df.filter(lhs === toCol(value))
    }
    var out = prefixAll(df, v)
    // pushed single-variable filters run BEFORE translateClause publishes
    // the variable to the scope — bind it temporarily so Prop(v, k)
    // resolves schema-aware (absent keys -> NULL, not an analysis error)
    val savedEnt = entityVars
    entityVars += v
    try for (c <- pushFilters.getOrElse(v, Nil)) out = out.filter(toCol(c))
    finally entityVars = savedEnt
    out
  }

  /** Oriented candidate edges for one hop: (__from, __to, <relVar>__*). */
  private def orientedEdges(rel: RelPat, relVar: String): DataFrame = {
    var e = g.edgesOfType(rel.types: _*)
    for ((k, value) <- rel.props) {
      val lhs = if (edgePropKeys.contains(k)) col(k) else lit(null)
      e = e.filter(lhs === toCol(value))
    }
    val pre = prefixAll(e, relVar)
    def orient(from: String, to: String) =
      pre.withColumn("__from", col(s"${relVar}__$from"))
        .withColumn("__to", col(s"${relVar}__$to"))
    rel.dir match {
      case Out => orient("src", "dst")
      case In => orient("dst", "src")
      case Undirected => orient("src", "dst").unionAll(orient("dst", "src"))
    }
  }

  private def expandOne(df: DataFrame, srcVar: String, rel: RelPat,
                        node: NodePat, tgtVar: String, bound: Set[String],
                        relVar: String, keepEdgeId: Boolean = false): DataFrame = {
    val e = orientedEdges(rel, relVar)
    var joined = df.join(e, col(s"${srcVar}__id") === col("__from"))
    if (bound.contains(tgtVar)) {
      // ExpandInto: target already bound -> existence filter on its id
      joined = joined.filter(col("__to") === col(s"${tgtVar}__id"))
    } else {
      val tgt = scanNode(node, tgtVar)
      joined = joined.join(tgt, col("__to") === col(s"${tgtVar}__id"))
    }
    val out = joined.drop("__from", "__to")
    if (rel.variable.isDefined) out
    else out.drop(out.columns.filter(c => c.startsWith(s"${relVar}__") &&
      // a named path needs the anonymous hop's edge id for p__edges
      !(keepEdgeId && c == s"${relVar}__id")): _*)
  }

  /** Fused lowering for the two closing hops of a cyclic pattern,
    * (cur)-[relA]->(mid)-[relB]->(close, already bound) — the Spark-first
    * analog of the reference's worst-case-optimal LeapfrogTrieJoin
    * (`src/query/executor/leapfrog.rs`). Two binary joins would materialize
    * every 2-path through `mid` (O(Σ inDeg·outDeg) wedge rows) before the
    * closing filter; instead the relA out-adjacency of `cur` and the relB
    * in-adjacency of `close` are built as sorted arrays (two O(m) map-side
    * aggregates) and intersected per bound row, so middle candidates exist
    * only as array cells and the row-intermediate is bounded by
    * output + O(m). Cypher row multiplicity under parallel edges (one row
    * per edge BINDING — homomorphism semantics, same as the unfused
    * expandOne chain) is restored by two output-proportional joins back to
    * the filtered edge sets. */
  private def expandCycleClose(df: DataFrame, curVar: String, relA: RelPat,
                               midNode: NodePat, midVar: String,
                               relB: RelPat, closeVar: String): DataFrame = {
    val eA = orientedEdges(relA, fresh())
      .select(col("__from").as("__a_from"), col("__to").as("__a_to"))
    val eB = orientedEdges(relB, fresh())
      .select(col("__from").as("__b_from"), col("__to").as("__b_to"))
    val outA = eA.groupBy(col("__a_from").as("__ka"))
      .agg(sort_array(collect_set(col("__a_to"))).as("__na"))
    val inB = eB.groupBy(col("__b_to").as("__kb"))
      .agg(sort_array(collect_set(col("__b_from"))).as("__nb"))
    var out = df
      .join(outA, col(s"${curVar}__id") === col("__ka"))
      .join(inB, col(s"${closeVar}__id") === col("__kb"))
      .withColumn("__mid", explode(array_intersect(col("__na"), col("__nb"))))
      .drop("__ka", "__na", "__kb", "__nb")
    // middle node's label/property constraints + payload columns (same
    // scanNode join the unfused hop would have done)
    out = out.join(scanNode(midNode, midVar), col("__mid") === col(s"${midVar}__id"))
    // exact multiplicity: one row per (A-edge, B-edge) binding pair. When
    // the stats catalog PROVES the type is simple (max parallel-edge
    // multiplicity 1) the back-join can only multiply by one — skip it.
    // Directed hops only: an undirected hop binds a reciprocal physical
    // pair (a->b plus b->a) twice even in a simple graph, so it keeps the
    // back-join regardless.
    def simple(rel: RelPat): Boolean =
      rel.dir != Undirected && stats.exists(_.maxMultiplicity(rel.types) <= 1.0)
    if (!simple(relA))
      out = out.join(eA, col(s"${curVar}__id") === col("__a_from") &&
        col("__mid") === col("__a_to"))
    if (!simple(relB))
      out = out.join(eB, col("__mid") === col("__b_from") &&
        col(s"${closeVar}__id") === col("__b_to"))
    out.drop("__mid", "__a_from", "__a_to", "__b_from", "__b_to")
  }

  private def expandVarLength(df: DataFrame, srcVar: String, rel: RelPat,
                              node: NodePat, tgtVar: String, bound: Set[String],
                              pathVar: Option[String], allPaths: Boolean = false,
                              shortest: Boolean = false): DataFrame = {
    val maxHops = rel.maxHops // unbounded `*` iterates to the reachability fixpoint
    var e = g.edgesOfType(rel.types: _*)
    // relationship property predicates apply to EVERY traversed edge
    // (`[*1..2 {weight: 5}]` — same filter expandOne/orientedEdges applies)
    for ((k, value) <- rel.props) {
      val lhs = if (edgePropKeys.contains(k)) col(k) else lit(null)
      e = e.filter(lhs === toCol(value))
    }
    e = rel.dir match {
      case Out => e.select(col("src"), col("dst"), col("id"))
      case In => e.select(col("dst").as("src"), col("src").as("dst"), col("id"))
      case Undirected => e.select(col("src"), col("dst"), col("id"))
        .unionAll(e.select(col("dst").as("src"), col("src").as("dst"), col("id")))
    }
    val starts = df.select(col(s"${srcVar}__id").as("__s")).distinct()
    val needPath = pathVar.isDefined
    val raw =
      if (shortest || allPaths) {
        // shortestPath()/allShortestPaths(): the pattern CONSTRAINS the far
        // endpoint (bound variable or label/property scan), so the BFS can
        // emit only target landings and stop at the last target's depth —
        // with an unbounded `*` the untargeted expansion would enumerate
        // every shortest node-sequence in the component first.
        // allShortestPaths: one row per distinct min-depth node sequence
        // (row multiplicity holds even when the path itself is unnamed).
        val targets =
          if (bound.contains(tgtVar))
            df.select(col(s"${tgtVar}__id").as("__t")).distinct()
          else scanNode(node, tgtVar).select(col(s"${tgtVar}__id").as("__t")).distinct()
        Traversals.shortestPathsToTargets(e, starts, "__s", targets, "__t",
          rel.minHops, maxHops, allPaths)
      }
      else if (needPath)
        Traversals.varLengthExpandPaths(e, starts, "__s", rel.minHops, maxHops)
      else Traversals.varLengthExpand(e, starts, "__s", rel.minHops, maxHops)
    val pairs0 = raw.select(Seq(col("start").as("__vfrom"), col("node").as("__vto")) ++
      (if (needPath) Seq(col("hops").as(s"${pathVar.get}__length"),
        col("path").as(s"${pathVar.get}__nodes"),
        col("epath").as(s"${pathVar.get}__edges")) else Nil): _*)
    var joined = df.join(pairs0, col(s"${srcVar}__id") === col("__vfrom"))
    if (bound.contains(tgtVar)) {
      joined = joined.filter(col("__vto") === col(s"${tgtVar}__id"))
    } else {
      val tgt = scanNode(node, tgtVar)
      joined = joined.join(tgt, col("__vto") === col(s"${tgtVar}__id"))
    }
    joined.drop("__vfrom", "__vto")
  }

  // ---------- expression translation ----------

  def toCol(e: Expr): Column = e match {
    case Lit(null) => lit(null)
    case Lit(v) => lit(v)
    case Param(n) =>
      params.getOrElse(n,
        throw new IllegalArgumentException(s"missing query parameter $$$n")) match {
        case s: Seq[_] => array(s.map(x => lit(x)): _*)
        case a: Array[_] => array(a.toSeq.map(x => lit(x)): _*)
        case v => lit(v)
      }
    case Var(n) =>
      lambdaEnv.get(n).getOrElse {
        if (scalarVars.contains(n)) col(n) else col(s"${n}__id")
      }
    case Prop(v, k) =>
      // schema-free Cypher (property.rs:8-14): a property key absent from
      // the variable's entity schema reads as NULL, never an analysis error
      val known =
        if (edgeEntityVars.contains(v)) edgePropKeys
        else if (entityVars.contains(v)) nodePropKeys
        else null // scalar / lambda var
      if (known != null) { if (known.contains(k)) col(s"${v}__$k") else lit(null) }
      else if (tempKinds.contains(v))
        // temporal component access dt.year / dur.days (record.rs:328-357)
        temporalComponent(col(v), tempKinds(v), k)
      else structVars.get(v) match {
        // map-typed scalar (map literal through WITH/UNWIND): field access,
        // NULL when the key is absent — same schema-free semantics
        case Some(keys) => if (keys.contains(k)) col(v).getField(k) else lit(null)
        case None => col(s"${v}__$k")
      }
    case ListLit(items) => array(items.map(toCol): _*)
    case MapLit(entries) => // {k: v} literal → named struct (heterogeneous ok)
      struct(entries.map { case (k, v) => toCol(v).as(k) }: _*)
    case Index(l, i) =>
      val (c, ic) = (toCol(l), toCol(i))
      // Cypher indexing is 0-based; element_at is 1-based with negative wrap
      element_at(c, when(ic >= 0, ic + 1).otherwise(ic).cast("int"))
    case Slice(l, f, t) =>
      val c = toCol(l)
      val sz = size(c)
      val f0 = f.map(toCol).getOrElse(lit(0))
      val t0 = t.map(toCol).getOrElse(sz)
      val fi = when(f0 < 0, greatest(sz + f0, lit(0))).otherwise(f0) // 0-based
      val ti = when(t0 < 0, greatest(sz + t0, lit(0))).otherwise(least(t0, sz))
      slice(c, (fi + 1).cast("int"), greatest(ti - fi, lit(0)).cast("int"))
    case Bin(op, l, r) =>
      val (a, b) = (toCol(l), toCol(r))
      // Reference coerced_eq (operator.rs:2479-2503): `prop = 'true'` must
      // match a BOOLEAN property ("LLMs often generate prop = 'true'").
      // Catalyst's BinaryComparison implicit casts already implement this:
      // a string literal against a boolean column is cast string→boolean
      // (trim + case-insensitive, null-preserving 3VL), and string=string
      // stays plain equality — so `a === b` IS coerced_eq. Do not re-add a
      // per-row typeof() dispatch here: TypeOf's doGenCode in Spark 4.1.2
      // splices the type name into the generated Java UNQUOTED, and
      // ConvertToLocalRelation compiles filter predicates before constant
      // folding can remove it — Janino then rejects the code and every
      // such predicate silently drops to interpreter mode.
      def eqC: Column = a === b
      op match {
        case "=" => eqC
        case "<>" => val c = eqC; when(c.isNull, lit(null).cast("boolean")).otherwise(!c)
        case "<" => a < b
        case "<=" => a <= b
        case ">" => a > b
        case ">=" => a >= b
        case "+" =>
          // String + String concatenates (reference Add on String pairs)
          if (isString(l) && isString(r)) concat(a, b) else a + b
        case "-" => a - b
        case "*" => a * b
        case "/" =>
          // Cypher / the reference (operator.rs:2616 arithmetic_div):
          // Integer / Integer is INTEGER division; Spark's `/` is always
          // double. Use IntegralDivide when both sides are statically
          // integral, the double division otherwise.
          if (isIntegral(l) && isIntegral(r)) call_function("div", a, b) else a / b
        case "%" => a % b
        case "^" => pow(a, b)
        case "AND" => a && b
        case "OR" => a || b
        case "XOR" => a =!= b
      }
    case Not(x) => !toCol(x)
    case IsNull(x, neg) => if (neg) toCol(x).isNotNull else toCol(x).isNull
    case StrPred(op, l, r) =>
      val (a, b) = (toCol(l), toCol(r))
      op match {
        case "STARTS" => a.startsWith(b)
        case "ENDS" => a.endsWith(b)
        case "CONTAINS" => a.contains(b)
        case "REGEX" => r match {
          case Lit(s: String) => a.rlike(s)
          case _ => a.rlike(b.toString)
        }
      }
    case InList(x, list) => list match {
      case ListLit(items) if items.forall(_.isInstanceOf[Lit]) =>
        toCol(x).isin(items.map { case Lit(v) => v; case o => o }: _*)
      case other => array_contains(toCol(other), toCol(x))
    }
    case CaseExpr(subject, branches, default) =>
      def cond(b: Expr): Column = subject match {
        case Some(s) => toCol(s) === toCol(b) // simple CASE
        case None => toCol(b)                 // searched CASE
      }
      val start = when(cond(branches.head._1), toCol(branches.head._2))
      val chained = branches.tail.foldLeft(start)((acc, b) =>
        acc.when(cond(b._1), toCol(b._2)))
      default.map(d => chained.otherwise(toCol(d))).getOrElse(chained)
    case LambdaPred(kind, v, list, pred) =>
      val lc = toCol(list)
      def p(x: Column): Column = withLambda(v, x)(toCol(pred))
      kind match {
        case "all" => forall(lc, p)
        case "any" => exists(lc, p)
        case "none" => !exists(lc, p)
        case "single" => size(filter(lc, x => p(x))) === 1
      }
    case ReduceExpr(acc, init, v, list, body) =>
      aggregate(toCol(list), toCol(init),
        (a, x) => withLambda(acc, a)(withLambda(v, x)(toCol(body))))
    case ListComp(v, list, pred, body) =>
      var c = toCol(list)
      pred.foreach(px => c = filter(c, x => withLambda(v, x)(toCol(px))))
      body.foreach(bx => c = transform(c, x => withLambda(v, x)(toCol(bx))))
      c
    case ExistsPattern(_, _) =>
      throw new IllegalArgumentException(
        "EXISTS { pattern } cannot read a list-comprehension, quantifier or reduce " +
          "variable, nor sit in a pattern comprehension's projection")
    case PatternComp(_, _, _) =>
      throw new IllegalArgumentException(
        "a pattern comprehension cannot read a list-comprehension, quantifier or " +
          "reduce variable, nor sit in another pattern comprehension's projection")
    case Fn(name, args, distinct) if AggregateFns.contains(name.toLowerCase) =>
      name.toLowerCase match {
        case "count" =>
          if (args.isEmpty) count(lit(1))
          else if (distinct) countDistinct(toCol(args.head))
          else count(toCol(args.head))
        case "sum" => sum(toCol(args.head))
        case "avg" => avg(toCol(args.head))
        case "min" => min(toCol(args.head))
        case "max" => max(toCol(args.head))
        case "collect" =>
          if (distinct) sort_array(collect_set(toCol(args.head)))
          else collect_list(toCol(args.head))
        case "stdev" => stddev_samp(toCol(args.head))
        case "stdevp" => stddev_pop(toCol(args.head))
        case "percentilecont" => percentile(toCol(args.head), toCol(args(1)))
        case "percentiledisc" => CypherFunctions.percentileDisc(toCol(args.head), toCol(args(1)))
      }
    case Fn(name, args, _) => scalarFn(name.toLowerCase, args)
  }

  private def withLambda(name: String, c: Column)(body: => Column): Column = {
    val saved = lambdaEnv
    lambdaEnv = lambdaEnv + (name -> c)
    try body finally lambdaEnv = saved
  }

  /** Property columns of the canonical node layout (everything beyond
    * id/labels) — used by keys()/properties(). */
  private lazy val nodePropCols: Seq[String] =
    g.nodes.columns.filterNot(Set("id", "labels")).toSeq

  /** Scalar function registry — Cypher surface from the reference's
    * eval_function (`operator.rs:838-1824`) mapped onto CypherFunctions /
    * built-ins. */
  private def scalarFn(name: String, args: Seq[Expr]): Column = {
    def a0 = toCol(args(0)); def a1 = toCol(args(1))
    name match {
      case "id" => args.head match {
        case Var(n) if !scalarVars.contains(n) => col(s"${n}__id")
        case e => toCol(e)
      }
      // CY-24 elementId(): string form "node:<id>" / "edge:<id>"
      // (reference `operator.rs:1489-1494`)
      case "elementid" => args.head match {
        case Var(n) if !scalarVars.contains(n) =>
          concat(lit(if (edgeEntityVars.contains(n)) "edge:" else "node:"),
            col(s"${n}__id").cast("string"))
        case e => concat(lit("node:"), toCol(e).cast("string"))
      }
      case "labels" => args.head match { case Var(n) => col(s"${n}__labels"); case e => toCol(e) }
      case "type" => args.head match { case Var(n) => col(s"${n}__relationship"); case e => toCol(e) }
      case "startnode" => args.head match { case Var(n) => col(s"${n}__src"); case e => toCol(e) }
      case "endnode" => args.head match { case Var(n) => col(s"${n}__dst"); case e => toCol(e) }
      case "keys" => args.head match {
        case Var(n) =>
          concat(nodePropCols.map(p =>
            when(col(s"${n}__$p").isNotNull, array(lit(p)))
              .otherwise(array().cast("array<string>"))): _*)
        case e => map_keys(toCol(e))
      }
      case "properties" => args.head match {
        case Var(n) =>
          map_filter(
            map(nodePropCols.flatMap(p =>
              Seq(lit(p), col(s"${n}__$p").cast("string"))): _*),
            (_, v) => v.isNotNull)
        case e => toCol(e)
      }
      case "nodes" => args.head match {
        case Var(p) if pathVars.contains(p) => col(s"${p}__nodes")
        case e => toCol(e)
      }
      case "relationships" | "rels" => args.head match {
        case Var(p) if pathVars.contains(p) => col(s"${p}__edges")
        case e => toCol(e)
      }
      case "length" | "char_length" | "character_length" => args.head match {
        case Var(p) if pathVars.contains(p) => col(s"${p}__length")
        case e => length(toCol(e)) // strings
      }
      case "toupper" | "touppercase" => upper(a0)
      case "tolower" | "tolowercase" => lower(a0)
      case "trim" => trim(a0)
      case "ltrim" => ltrim(a0)
      case "rtrim" => rtrim(a0)
      case "reverse" => reverse(a0)
      case "replace" => CypherFunctions.replaceAll(a0, a1, toCol(args(2)))
      case "substring" =>
        if (args.length >= 3) CypherFunctions.substring0(a0, a1, toCol(args(2)))
        else CypherFunctions.substring0(a0, a1)
      case "left" => CypherFunctions.left(a0, a1)
      case "right" => CypherFunctions.right(a0, a1)
      // Cypher split's separator is a LITERAL string, not a regex. For a
      // literal we quote at translate time; for a column-valued/computed
      // separator we quote IN-PLAN with the same \Q…\E scheme
      // Pattern.quote uses (embedded "\E" → "\E\\E\Q") and call the SQL
      // split, whose regex argument is a full expression — no silent
      // fallback separator (r11 verdict #1).
      case "split" => args(1) match {
        case Lit(s: String) => split(a0, java.util.regex.Pattern.quote(s))
        case e =>
          val sep = toCol(e)
          val quoted = concat(lit("\\Q"),
            call_function("replace", sep, lit("\\E"), lit("\\E\\\\E\\Q")),
            lit("\\E"))
          call_function("split", a0, quoted)
      }
      case "tostring" => a0.cast("string")
      case "tointeger" | "toint" => a0.cast("long")
      case "tofloat" => a0.cast("double")
      case "toboolean" => a0.cast("boolean")
      case "tointegerornull" => CypherFunctions.toIntegerOrNull(a0)
      case "tofloatornull" => CypherFunctions.toFloatOrNull(a0)
      case "tobooleanornull" => CypherFunctions.toBooleanOrNull(a0)
      // scalar -> string; non-scalar (list/map/struct) -> null
      // (`operator.rs:1570` returns null for ANY non-scalar). Detected by
      // the expression's resolved DataType via typeof() — a constant per
      // column, so the branch constant-folds — not by literal syntax.
      case "tostringornull" =>
        val tpe = call_function("typeof", a0)
        when(tpe.startsWith("array") || tpe.startsWith("map") || tpe.startsWith("struct"),
          lit(null).cast("string")).otherwise(a0.cast("string"))
      // numeric (or numeric-castable) -> isnan; non-null non-numeric is a
      // type error in the reference (extract_float) -> null, never false.
      // Regex-guarded cast (ANSI-safe) accepting NaN/Infinity spellings so
      // an actual double NaN survives the string round-trip.
      case "isnan" =>
        val s = trim(a0.cast("string"))
        val d = when(s.rlike("^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$")
          || s.isin("NaN", "Infinity", "-Infinity"), s.cast("double"))
        when(a0.isNull, lit(null)).otherwise(when(d.isNull, lit(null)).otherwise(isnan(d)))
      case "size" => size(a0)            // lists (Cypher size)
      case "abs" => abs(a0)
      case "ceil" => ceil(a0)
      case "floor" => floor(a0)
      case "round" => if (args.length > 1) args(1) match {
        case Lit(n: Long) => CypherFunctions.roundC(a0, n.toInt)
        case _ => CypherFunctions.roundC(a0, 0)
      } else CypherFunctions.roundC(a0, 0)
      case "sqrt" => sqrt(a0)
      case "sign" => signum(a0)
      case "log" => log(a0)
      case "log10" => log10(a0)
      case "exp" => exp(a0)
      case "e" => lit(math.E)
      case "pi" => lit(math.Pi)
      case "sin" => sin(a0); case "cos" => cos(a0); case "tan" => tan(a0)
      case "sinh" => sinh(a0); case "cosh" => cosh(a0); case "tanh" => tanh(a0)
      case "asin" => asin(a0); case "acos" => acos(a0); case "atan" => atan(a0)
      case "atan2" => atan2(a0, a1)
      case "cot" => CypherFunctions.cot(a0)
      case "haversin" => CypherFunctions.haversin(a0)
      case "degrees" => degrees(a0); case "radians" => radians(a0)
      case "rand" => rand()
      case "randomuuid" => expr("uuid()")
      case "coalesce" => coalesce(args.map(toCol): _*)
      case "head" => CypherFunctions.head(a0)
      case "last" => CypherFunctions.last0(a0)
      case "tail" => CypherFunctions.tail(a0)
      case "range" =>
        if (args.length > 2) CypherFunctions.rangeList(a0, a1, toCol(args(2)))
        else CypherFunctions.rangeList(a0, a1)
      case "exists" => toCol(args.head).isNotNull
      case "isempty" => CypherFunctions.isEmpty(a0)
      case "timestamp" => (unix_micros(current_timestamp()) / 1000).cast("long")
      case "datetime" | "date" if args.headOption.exists(_.isInstanceOf[MapLit]) =>
        // component map form (reference operator.rs:1196 date/datetime
        // construction): datetime({year: 2026, month: 3, day: 4, ...})
        val m = args.head.asInstanceOf[MapLit].entries.toMap
        def comp(k: String, d: Int): Column = m.get(k).map(toCol).getOrElse(lit(d))
        val ts = make_timestamp(comp("year", 1970), comp("month", 1), comp("day", 1),
          comp("hour", 0), comp("minute", 0), comp("second", 0).cast("decimal(8,6)"))
        if (name == "date") ts.cast("date") else ts
      case "date" => if (args.isEmpty) current_date() else to_date(a0)
      case "datetime" => if (args.isEmpty) current_timestamp() else to_timestamp(a0)
      case "duration" => args.head match {
        // duration('P1DT2H') ISO-8601 subset → an interval via SQL cast
        case Lit(s: String) => expr(s"INTERVAL '${iso8601ToSparkInterval(s)}'")
        // duration({years/months/days/hours/minutes/seconds}) component map
        // (reference operator.rs:1372-1390 normalizes to months/days/seconds).
        // Year-month components force CalendarIntervalType (make_interval);
        // a pure day-time map stays DayTimeIntervalType (make_dt_interval),
        // matching the ISO-string form's type so either composes with
        // timestamp arithmetic identically.
        case ml: MapLit =>
          val m = ml.entries.toMap
          def comp(k: String): Column = m.get(k).map(toCol).getOrElse(lit(0))
          if (m.contains("years") || m.contains("months"))
            make_interval(comp("years"), comp("months"), lit(0), comp("days"),
              comp("hours"), comp("minutes"), comp("seconds").cast("decimal(18,6)"))
          else
            make_dt_interval(comp("days"), comp("hours"), comp("minutes"),
              comp("seconds").cast("decimal(18,6)"))
        case e => toCol(e)
      }
      // time()/localtime(): Cypher time-of-day values; Spark has no TIME
      // type, so the canonical columnar form is the HH:mm:ss.SSS string
      // (reference `operator.rs:1265-1393` time family)
      case "time" | "localtime" =>
        if (args.isEmpty) date_format(current_timestamp(), "HH:mm:ss.SSS")
        else date_format(to_timestamp(a0), "HH:mm:ss.SSS")
      case "localdatetime" =>
        if (args.isEmpty) current_timestamp().cast("timestamp_ntz")
        else to_timestamp(a0).cast("timestamp_ntz")
      // duration.between(a, b) → day-time interval (parsed as the dotted
      // name `duration.between` by the CALL-style qualified-fn path)
      case "duration.between" => a1.cast("timestamp") - a0.cast("timestamp")
      // valueType(x) → Cypher type-name string (reference operator.rs:1513)
      case "valuetype" => CypherFunctions.valueType(a0)
      case other => call_function(other, args.map(toCol): _*)
    }
  }

  /** Minimal ISO-8601 duration → Spark interval literal text
    * (reference temporal surface, `operator.rs:1265-1393`). */
  private def iso8601ToSparkInterval(s: String): String = {
    val m = java.util.regex.Pattern
      .compile("P(?:(\\d+)D)?(?:T(?:(\\d+)H)?(?:(\\d+)M)?(?:(\\d+)S)?)?")
      .matcher(s)
    if (!m.matches()) throw new IllegalArgumentException(s"bad duration: $s")
    def g(i: Int) = Option(m.group(i)).getOrElse("0")
    s"${g(1)} ${g(2)}:${g(3)}:${g(4)}".trim + " DAY TO SECOND"
  }
}

/** Public entry: `QueryEngine.execute(cypher, graph[, params])` — parse +
  * translate + hand Catalyst the declarative plan (reference lifecycle §3.1
  * stages 1-3; stages 4+ are Spark). */
object QueryEngine {

  /** DDL / introspection statements (reference `cypher.pest:11-20`:
    * show_indexes, show_constraints, create_index, create_vector_index,
    * drop_index, create_constraint). Index DDL is ADVISORY here: the columnar
    * store's "indexes" are Parquet column statistics + predicate pushdown +
    * the per-label node tables, which exist without declaration — so CREATE /
    * DROP INDEX parse, validate, and return a status row without side
    * effects, and SHOW INDEXES lists the registered vector indexes. */
  private val DdlRe =
    ("(?is)^\\s*(SHOW\\s+(?:INDEXES?|CONSTRAINTS|LABELS|RELATIONSHIP\\s+TYPES|PROPERTY\\s+KEYS)|" +
      "CREATE\\s+(?:VECTOR\\s+)?INDEX|DROP\\s+INDEX|CREATE\\s+CONSTRAINT)\\b.*").r

  /** `CREATE CONSTRAINT ON (n:Label) ASSERT n.prop IS UNIQUE`
    * (reference `cypher.pest:21` create_constraint_stmt). */
  private val UniqueConstraintRe =
    "(?is)^\\s*CREATE\\s+CONSTRAINT\\s+ON\\s*\\(\\s*\\w+\\s*:\\s*(\\w+)\\s*\\)\\s*ASSERT\\s+\\w+\\.(\\w+)\\s+IS\\s+UNIQUE\\s*$".r

  private def ddl(g: PropertyGraph, stmt: String,
                  indexes: Map[String, (DataFrame, String, String)]): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val norm = stmt.trim.toUpperCase.replaceAll("\\s+", " ")
    if (norm.startsWith("SHOW INDEX")) {
      val rows = indexes.keys.toSeq.sorted.map(n => (n, "VECTOR", "ONLINE")) :+
        (("<label-scan>", "LOOKUP", "ONLINE")) // per-label tables, always on
      rows.toDF("name", "type", "state")
    } else if (norm.startsWith("SHOW CONSTRAINTS")) {
      g.constraints.toSeq.sorted
        .map { case (l, p) => (s"unique_${l}_$p", "UNIQUENESS", l, p) }
        .toDF("name", "type", "label", "property")
    } else if (norm.startsWith("SHOW LABELS")) {
      // reference ShowLabelsOperator (operator.rs:5654)
      g.nodes.select(explode(col("labels")).as("label")).distinct().orderBy(col("label"))
    } else if (norm.startsWith("SHOW RELATIONSHIP TYPES")) {
      // reference ShowRelationshipTypesOperator (operator.rs:5694)
      g.edges.select(col("relationship").as("relationshipType")).distinct()
        .orderBy(col("relationshipType"))
    } else if (norm.startsWith("SHOW PROPERTY KEYS")) {
      // reference ShowPropertyKeysOperator (operator.rs:5734): union of node
      // and edge property keys — SCHEMA introspection, no data scan
      val reserved = Set("id", "labels", "src", "dst", "relationship")
      (g.nodes.columns ++ g.edges.columns).filterNot(reserved).distinct.sorted
        .toSeq.toDF("propertyKey")
    } else {
      Seq((norm.split(" ").take(3).mkString(" ").toLowerCase, "ok"))
        .toDF("statement", "status")
    }
  }

  /** EXPLAIN / PROFILE prefix (reference `cypher.pest:9` explain_clause):
    * EXPLAIN returns the plan as one row without executing; PROFILE on a
    * read statement executes it and appends rows + wall time (ADR-014). */
  private val ExplainRe = "(?is)^\\s*(EXPLAIN|PROFILE)\\b(.*)".r

  def execute(cypher: String, g: PropertyGraph,
              params: Map[String, Any] = Map.empty): DataFrame =
    cypher match {
      case ExplainRe(kind, rest) =>
        val spark = g.nodes.sparkSession
        import spark.implicits._
        val ast = CypherParser.parse(rest)
        if (kind.equalsIgnoreCase("PROFILE") && !WriteTranslator.isWrite(ast)) {
          // reference ADR-014 (executor/mod.rs:198-215): PROFILE EXECUTES
          // the query and appends row count + wall time to the plan text.
          // Write statements stay explain-only — execute() cannot hand the
          // mutated graph back, so running them here would drop the write
          val df = new Translator(g, params).translate(ast)
          val t0 = System.nanoTime()
          val n = df.count()
          val ms = (System.nanoTime() - t0) / 1e6
          Seq(explain(rest, g, params) +
            f"%n%n--- Profile ---%nRows: $n, Execution time: $ms%.3f ms").toDF("plan")
        } else Seq(explain(rest, g, params)).toDF("plan")
      case DdlRe(_*) => ddl(g, cypher, Map.empty)
      case _ =>
        val ast = CypherParser.parse(cypher)
        if (WriteTranslator.isWrite(ast)) {
          val r = WriteTranslator.execute(ast, g, params)
          r.rows.getOrElse(r.summary)
        }
        else new Translator(g, params).translate(ast)
    }

  /** Execute a write statement (CREATE / MERGE / SET / REMOVE / DELETE, or
    * CREATE CONSTRAINT — which registers a unique constraint enforced by
    * every later node insert), returning the mutated graph alongside the
    * summary row. */
  def executeWrite(cypher: String, g: PropertyGraph,
                   params: Map[String, Any] = Map.empty): (PropertyGraph, DataFrame) =
    cypher match {
      case UniqueConstraintRe(label, prop) =>
        val g2 = g.copy(constraints = g.constraints + ((label, prop)))
        (g2, ddl(g2, cypher, Map.empty))
      case _ =>
        val r = WriteTranslator.execute(CypherParser.parse(cypher), g, params)
        (r.graph, r.summary)
    }

  /** Execute with vector indexes registered for
    * `CALL db.index.vector.queryNodes(name, k, $vec)`
    * (index name -> (table, id column, vector column)). */
  def executeWithIndexes(cypher: String, g: PropertyGraph,
                         params: Map[String, Any],
                         indexes: Map[String, (DataFrame, String, String)]): DataFrame =
    cypher match {
      case DdlRe(_*) => ddl(g, cypher, indexes)
      case _ => new Translator(g, params, indexes).translate(CypherParser.parse(cypher))
    }

  /** Our planner's view + Catalyst's — reference EXPLAIN analog. Write
    * statements (EXPLAIN CREATE/MERGE/SET/...) explain WITHOUT executing:
    * the AST plus the write-path description (the reference's EXPLAIN also
    * skips execution, `cypher.pest:9`). */
  def explain(cypher: String, g: PropertyGraph,
              params: Map[String, Any] = Map.empty): String = {
    val ast = CypherParser.parse(cypher)
    if (WriteTranslator.isWrite(ast)) {
      val writeKinds = ast.first.clauses.collect {
        case _: CreateClause => "Create"
        case _: MergeClause => "Merge"
        case _: SetClause => "SetProperty"
        case _: RemoveClause => "RemoveProperty"
        case _: DeleteClause => "Delete"
        case _: ForeachClause => "Foreach"
        case c: CallClause => c.proc
      }
      s"AST: $ast\n\nWrite statement (${writeKinds.mkString(", ")}) — " +
        "executes as batch DataFrame transforms through the write path; not executed by EXPLAIN"
    } else {
      val df = new Translator(g, params).translate(ast)
      s"AST: $ast\n\n${df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))}"
    }
  }
}
