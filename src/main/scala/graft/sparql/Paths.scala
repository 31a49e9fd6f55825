package graft.sparql

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.DriverTier

import graft.model.{Term, TermOps}
import Ast._

/** Property-path evaluation (reference parses the full `PPE` surface
  * but todo!'s execution — `src/calc_data_types.rs:15-26`,
  * `src/calc_engine.rs:153-157`; SURVEY §7.5 prescribes this design).
  *
  * A path expression compiles to an edge DataFrame with two term
  * columns `__ps` / `__po`:
  *   - NamedNode   → predicate-filtered scan (direct view)
  *   - Reverse     → swap endpoints
  *   - Sequence    → join chain on a fresh midpoint
  *   - Alternative → union
  *   - ZeroOrOne   → union with the identity over graph nodes
  *   - ZeroOrMore/OneOrMore → bound-endpoint BFS or all-pairs closure.
  *     The bound-endpoint BFS picks its plan from the MEASURED edge
  *     count: a small edge relation (spark.graft.path.smallRows) runs
  *     as a one-pass driver BFS — a depth-D chain otherwise pays D
  *     distributed rounds of fixed multi-job cost (QuadScale
  *     path_star: 13 s → 0.5 s) — while a large one takes the
  *     iterative frontier join with dedup and `localCheckpoint` per
  *     round (at cluster scale each round is one shuffle on the
  *     frontier key and the visited set stays partitioned by
  *     destination)
  *   - NegatedPropertySet → `NOT predicate IN (…)` filter
  */
/** A path closure exceeded its configured row/iteration budget — the
  * fail-fast alternative to OOMing a cluster on a runaway `?x p* ?y`
  * (CONFORMANCE: the reference never executes paths at all).
  */
final class PathBudgetExceeded(msg: String) extends RuntimeException(msg)

object Paths {

  private val S = "__ps"
  private val O = "__po"

  /** How path endpoints are represented. [[PlainMode]] uses the term
    * struct itself. [[GraphMode]] (the `GRAPH ?g { … path … }` case)
    * wraps (graph, term) into a composite node whose `key` embeds the
    * graph key — every join, dedup, and fixpoint in this file is keyed
    * on `getField("key")`, so with composite keys a frontier can never
    * hop between named graphs and the per-graph path semantics fall
    * out of ONE distributed computation. (Iterating graphs on the
    * driver would not survive a store with millions of provenance
    * graphs — one per dump entity.)
    */
  private[sparql] sealed trait NodeMode {
    /** project a quad frame to an (S, O) edge pair frame */
    def edge(quads: DataFrame): DataFrame
    /** all node-ids of a quad frame, as a single `S` column */
    def nodes(quads: DataFrame): DataFrame
    /** node → its term struct */
    def term(n: Column): Column
    /** node → its graph term (GraphMode only) */
    def graphTerm(n: Column): Column
    /** BFS seed rows `(O, __ko)` for a bound start term */
    def seed(st: DataFrame, start: graft.model.TermValue): DataFrame
    /** the `S` column of a BFS result row, given its reached node */
    def startNode(o: Column, start: graft.model.TermValue): Column
    /** frontier guard: reached node is not the start itself */
    def isNotStart(o: Column, ko: Column, start: graft.model.TermValue): Column
  }

  private[sparql] object PlainMode extends NodeMode {
    def edge(quads: DataFrame): DataFrame =
      quads.select(col("s").as(S), col("o").as(O))
    def nodes(quads: DataFrame): DataFrame =
      quads.select(col("s").as(S)).unionByName(quads.select(col("o").as(S)))
    def term(n: Column): Column = n
    def graphTerm(n: Column): Column =
      throw new IllegalStateException("plain path mode carries no graph")
    def seed(st: DataFrame, start: graft.model.TermValue): DataFrame =
      st.sparkSession.range(1)
        .select(start.toColumn.as(O), lit(start.key).as("__ko"))
    def startNode(o: Column, start: graft.model.TermValue): Column = start.toColumn
    def isNotStart(o: Column, ko: Column, start: graft.model.TermValue): Column =
      ko =!= start.key
  }

  private[sparql] object GraphMode extends NodeMode {
    private def node(g: Column, t: Column): Column = struct(
      // NUL cannot occur inside a term or graph key, so the
      // composite is collision-free; null term key → null composite,
      // matching PlainMode's null-key join/dedup behavior
      concat(g.getField("key"), lit("\u0000"), t.getField("key")).as("key"),
      g.as("g"), t.as("t"))
    def edge(quads: DataFrame): DataFrame =
      quads.select(node(col("graph"), col("s")).as(S),
        node(col("graph"), col("o")).as(O))
    def nodes(quads: DataFrame): DataFrame =
      quads.select(node(col("graph"), col("s")).as(S))
        .unionByName(quads.select(node(col("graph"), col("o")).as(S)))
    def term(n: Column): Column = n.getField("t")
    def graphTerm(n: Column): Column = n.getField("g")
    def seed(st: DataFrame, start: graft.model.TermValue): DataFrame =
      // the start node exists in EVERY named graph (a zero-length path
      // matches regardless of membership, SPARQL 1.1 §9.3 ALP)
      st.select(col("graph")).dropDuplicates("graph")
        .select(node(col("graph"), start.toColumn).as(O))
        .select(col(O), col(O).getField("key").as("__ko"))
    def startNode(o: Column, start: graft.model.TermValue): Column =
      node(graphTerm(o), start.toColumn)
    def isNotStart(o: Column, ko: Column, start: graft.model.TermValue): Column =
      term(o).getField("key") =!= start.key
  }

  /** Row budget for unbounded-path materialization (`?x p* ?y`
    * closures and the zero-length identity set). Default finite (10M
    * rows, [[TranslateFlags.PathMaxRows]]) so a runaway closure fails
    * fast with [[PathBudgetExceeded]] instead of eating the cluster;
    * raise `spark.graft.path.maxRows` (or set Long.MaxValue) when a
    * genuinely huge closure is intended. Iteration exhaustion
    * (diameter > maxIters) also throws — a silently truncated closure
    * would be a wrong answer.
    */
  private def maxRowsBudget(df: DataFrame): Long =
    TranslateFlags.get(df.sparkSession, TranslateFlags.PathMaxRows).toLong

  /** Row count below which a fixpoint round runs as 1-partition frames
    * + broadcast joins instead of 32-way shuffles
    * (`spark.graft.path.smallRows`). Applied per round from MEASURED
    * counts — the adaptive seam that makes a deep small closure cost
    * single-task rounds while a large one keeps the scale plan.
    */
  private def smallRowsBudget(df: DataFrame): Long =
    TranslateFlags.get(df.sparkSession, TranslateFlags.PathSmallRows).toLong

  /** Evaluate a path over `statements`. `graphVar` switches on
    * [[GraphMode]]: `statements` must then carry the `graph` column
    * (pre-restricted to the visible named graphs), the path is
    * evaluated independently within each named graph, and the result
    * includes a column binding `graphVar` to the graph term.
    */
  def exec(tr: Translator, statements: DataFrame, p: PathOp,
           graphVar: Option[String] = None): DataFrame = {
    val mode: NodeMode = if (graphVar.isDefined) GraphMode else PlainMode
    // A closure with a bound endpoint is a directed BFS from that node
    // — NOT the all-pairs transitive closure filtered afterwards. At
    // scale the difference is the whole game: `wd:X wdt:P279* ?y`
    // touches one node's reachable set, while the all-pairs closure
    // materializes every chain in the graph. The reverse direction
    // reuses the same BFS over flipped edges. (In GraphMode the same
    // BFS runs per graph in one job: seeds are (graph, start) pairs
    // and composite keys keep each frontier inside its graph.)
    val fast: Option[DataFrame] = (p.path, p.s, p.o) match {
      case (PZeroOrMore(inner), Const(v), _) =>
        Some(reachableFrom(tr, statements, inner, v, includeStart = true, mode = mode))
      case (POneOrMore(inner), Const(v), _) =>
        Some(reachableFrom(tr, statements, inner, v, includeStart = false, mode = mode))
      case (PZeroOrMore(inner), _, Const(v)) =>
        Some(reachableFrom(tr, statements, PReverse(inner), v, includeStart = true, mode = mode)
          .select(col(O).as(S), col(S).as(O)))
      case (POneOrMore(inner), _, Const(v)) =>
        Some(reachableFrom(tr, statements, PReverse(inner), v, includeStart = false, mode = mode)
          .select(col(O).as(S), col(S).as(O)))
      case _ => None
    }
    val edges = fast.getOrElse(compile(tr, statements, p.path, mode))
    // bind endpoints like an ordinary triple pattern
    var df = edges
    var binds = List.empty[(String, Column)]
    p.s match {
      case Var(n) => binds ::= (n, mode.term(df(S)))
      case Const(v) => df = df.filter(TermOps.keyOrNull(mode.term(df(S))) === v.key)
    }
    p.o match {
      case Var(n) => binds ::= (n, mode.term(df(O)))
      case Const(v) => df = df.filter(TermOps.keyOrNull(mode.term(df(O))) === v.key)
    }
    (p.s, p.o) match {
      case (Var(a), Var(b)) if a == b => df = df.filter(df(S).getField("key") === df(O).getField("key"))
      case _ =>
    }
    val graphBind = graphVar.map { gn =>
      // `GRAPH ?g { ?g p ?x }`-style reuse of the graph variable on an
      // endpoint: the endpoint term must equal the graph term
      val endpointVars = Seq(p.s, p.o).collect { case Var(n) => n }
      if (endpointVars.contains(gn)) {
        val end = if (p.s == Var(gn)) df(S) else df(O)
        df = df.filter(TermOps.keyOrNull(mode.term(end)) ===
          TermOps.keyOrNull(mode.graphTerm(end)))
      }
      gn -> mode.graphTerm(df(S))
    }
    val byVar = (binds.reverse ++ graphBind).distinctBy(_._1)
    df.select(byVar.map { case (n, c) => c.as(n) }: _*)
  }

  private[sparql] def compile(tr: Translator, st: DataFrame, p: Ppe,
                              mode: NodeMode = PlainMode): DataFrame = p match {
    case PLink(iri) =>
      mode.edge(tr.predScan(iri))
    case PNegated(preds) =>
      mode.edge(st.filter(!col("p.key").isin(preds.map(_.key): _*)))
    case PReverse(inner) =>
      compile(tr, st, inner, mode).select(col(O).as(S), col(S).as(O))
    case PSeq(front, back) =>
      val f = compile(tr, st, front, mode).withColumnRenamed(O, "__pm")
      val b = compile(tr, st, back, mode).withColumnRenamed(S, "__pm2")
      f.join(b, f("__pm").getField("key") === b("__pm2").getField("key"))
        .select(f(S).as(S), b(O).as(O))
    case PAlt(front, back) =>
      compile(tr, st, front, mode).unionByName(compile(tr, st, back, mode)).distinct()
    case PZeroOrOne(inner) =>
      compile(tr, st, inner, mode).unionByName(identityPairs(st, mode)).distinct()
    case PZeroOrMore(inner) =>
      closure(compile(tr, st, inner, mode)).unionByName(identityPairs(st, mode)).distinct()
    case POneOrMore(inner) =>
      closure(compile(tr, st, inner, mode))
  }

  /** Zero-length path: every graph node relates to itself (subjects and
    * objects of the store). At 100 TB this is only materialized when a
    * genuine `p*`/`p?` with both endpoints free is asked — with a bound
    * endpoint the translator's endpoint filter prunes it to one node.
    */
  private def identityPairs(st: DataFrame, mode: NodeMode): DataFrame = {
    val ids0 = mode.nodes(st).distinct()
    val budget = maxRowsBudget(st)
    if (budget < Long.MaxValue) {
      // Two-tier budget check, cheapest test first. The identity set
      // has at most 2·|st| members (one subject + one object per
      // quad), and st.count() is near-free (parquet metadata on a
      // pruned scan) — a store that provably fits skips the check
      // entirely, paying NO extra pass (the r14 localCheckpoint here
      // materialized the whole set up front and cost more at small
      // scale than the double distinct pass it saved; measured on
      // sp41). Only a store that COULD exceed the budget pays a
      // bounded probe: limit(budget+1) needs just one row past the
      // budget to prove the overrun, never the full distinct count.
      val quads = st.count()
      if (quads > budget / 2) {
        // limit() takes an Int; a budget beyond Int.MaxValue falls
        // back to the exact distinct count (budgets that large are an
        // explicit operator override, not the 10M default)
        val n = if (budget + 1L <= Int.MaxValue)
          ids0.limit((budget + 1L).toInt).count()
        else ids0.count()
        if (n > budget) throw new PathBudgetExceeded(
          s"zero-length path identity set exceeds spark.graft.path.maxRows=$budget nodes")
      }
    }
    ids0.select(col(S), col(S).as(O))
  }

  /** Directed BFS from a bound start node over the compiled inner-path
    * edges: per round one shuffle join of the frontier against the
    * (checkpointed) edge set. Tracks the expanded set (for termination)
    * separately from the reached set (the answer), so a cycle back to
    * the start still counts as "reachable in ≥ 1 step" for OneOrMore.
    * Returns `(S = start, O = reached)` pairs.
    */
  private def reachableFrom(tr: Translator, st: DataFrame, inner: Ppe,
                            start: graft.model.TermValue, includeStart: Boolean,
                            maxIters: Int = 64,
                            mode: NodeMode = PlainMode): DataFrame = {
    val edges0 = compile(tr, st, inner, mode).select(
        col(S), col(O),
        col(S).getField("key").as("__ks"), col(O).getField("key").as("__ko"))
      .dropDuplicates("__ks", "__ko")
    val seed0 = mode.seed(st, start)
    val budget = maxRowsBudget(st)
    // MEASURED-size plan choice: the edge relation is pre-filtered (the
    // path predicate pushed into the scan), so one DriverTier probe both
    // measures and fetches it. At most smallRows edges run as a driver
    // BFS in one pass — a depth-D chain otherwise costs D distributed
    // rounds at a fixed multi-job price each (QuadScale path_star: 31
    // rounds ≈ 13 s of pure per-round overhead for a 32-node answer;
    // the reference answers this with an in-memory traversal for the
    // same reason). The SEED is probed too: in GraphMode it is one row
    // per distinct named graph (a dump-provenance store has millions),
    // so the driver plan applies only when BOTH sets fit, and a
    // million-graph store still takes the distributed plan below,
    // checkpointed exactly as before.
    val small = smallRowsBudget(st)
    val driverPlan = for {
      edgeRows <- DriverTier.collectIfAtMost(
        edges0.select(col("__ks"), col("__ko"), col(O)), small)
      seedRows <- DriverTier.collectIfAtMost(seed0.select(col(O), col("__ko")), small)
    } yield reachableFromDriver(edges0, edgeRows, seedRows, start, includeStart, mode, budget)
    if (driverPlan.isDefined) return driverPlan.get
    val edges = edges0.localCheckpoint(true)
    val seed = seed0.localCheckpoint(true)
    var rows = 0L
    var reached = seed.limit(0).localCheckpoint(true) // nodes hit in >= 1 step
    var frontier = seed
    var iter = 0
    var done = false
    while (!done && iter < maxIters) {
      iter += 1
      val step = frontier.alias("f")
        .join(edges.alias("e"), col("f.__ko") === col("e.__ks"))
        .select(col("e." + O).as(O), col("e.__ko").as("__ko"))
        .dropDuplicates("__ko")
      // the expanded set differs from the reached set only by the seed
      // (previous frontiers ⊆ reached), so the next frontier is just
      // the fresh nodes minus the seed — one anti join per round, not
      // two
      val newReached = step.join(reached.select("__ko"), Seq("__ko"), "left_anti")
        .localCheckpoint(true)
      // ONE action per round beyond the checkpoint: the increment is
      // already materialized, so its total AND its frontier subset
      // come from a single agg — a separate count() + isEmpty() pair
      // was two more jobs per round
      val cnt = newReached.agg(
        count(lit(1)),
        count(when(mode.isNotStart(col(O), col("__ko"), start), 1))).head()
      val n = cnt.getLong(0)
      rows += n
      if (rows > budget) throw new PathBudgetExceeded(
        s"path BFS from ${start.key} reached $rows nodes > spark.graft.path.maxRows=$budget")
      if (n > 0)
        reached = reached.unionByName(newReached).localCheckpoint(true)
      if (cnt.getLong(1) == 0L) done = true
      else frontier = newReached.filter(mode.isNotStart(col(O), col("__ko"), start))
    }
    if (!done) throw new PathBudgetExceeded(
      s"path BFS from ${start.key} did not converge in $maxIters rounds")
    val result =
      if (includeStart)
        reached.unionByName(seed).dropDuplicates("__ko")
      else reached
    result.select(mode.startNode(col(O), start).as(S), col(O))
  }

  /** The one driver BFS behind both driver plans: the keys reachable
    * in >= 1 step from `seeds` over `adj`, in discovery order. A
    * reached key is expanded further only when `expand` holds (the
    * reached-vs-expanded distinction: a cycle back to a bound start
    * counts as reached but is never re-expanded). `onLevel` sees the
    * reached count after every level. Zero Spark jobs; terminates
    * within |nodes| levels, so no round cap applies.
    */
  private def driverBfs(adj: Map[String, Seq[String]], seeds: Seq[String],
                        expand: String => Boolean = _ => true)
                       (onLevel: Int => Unit = _ => ()): collection.Set[String] = {
    val reached = scala.collection.mutable.LinkedHashSet.empty[String]
    var frontier = seeds
    while (frontier.nonEmpty) {
      val fresh = frontier.flatMap(k => adj.getOrElse(k, Nil).filter(reached.add))
      onLevel(reached.size)
      frontier = fresh.filter(expand)
    }
    reached
  }

  /** Adjacency of collected edge rows whose first two columns are the
    * `__ks`/`__ko` keys (rows with a null key join nothing).
    */
  private def adjacency(rows: Array[Row]): Map[String, Seq[String]] =
    rows.toSeq.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .groupMap(_.getString(0))(_.getString(1))

  /** Driver plan of [[reachableFrom]] over the probed `(__ks, __ko, O)`
    * edge rows and `(O, __ko)` seed rows. Semantics identical to the
    * distributed fixpoint — same reached-vs-frontier distinction, same
    * row budget — except the 64-round cap does not apply.
    */
  private def reachableFromDriver(edges: DataFrame, edgeRows: Array[Row],
                                  seedRows: Array[Row],
                                  start: graft.model.TermValue,
                                  includeStart: Boolean, mode: NodeMode,
                                  budget: Long): DataFrame = {
    // NUL cannot occur inside a term/graph key (GraphMode contract), so
    // the composite-key suffix test is exact
    def notStart(ko: String): Boolean = mode match {
      case PlainMode => ko != start.key
      case GraphMode => !ko.endsWith("\u0000" + start.key)
    }
    val reachedTerm = edgeRows.reverseIterator.map(r => r.getString(1) -> r.get(2)).toMap
    val seeds = seedRows.toSeq.filter(!_.isNullAt(1)).map(r => r.getString(1) -> r.get(0))
    val reached = driverBfs(adjacency(edgeRows), seeds.map(_._1).distinct, notStart) { n =>
      if (n > budget) throw new PathBudgetExceeded(
        s"path BFS from ${start.key} reached $n nodes > spark.graft.path.maxRows=$budget")
    }
    val out = reached.toSeq.map(ko => Row(reachedTerm(ko), ko)) ++
      (if (includeStart) seeds.filterNot(s => reached(s._1)).distinctBy(_._1)
        .map { case (ko, o) => Row(o, ko) } else Nil)
    val schema = StructType(Seq(
      StructField(O, edges.schema(O).dataType), StructField("__ko", StringType)))
    edges.sparkSession.createDataFrame(out.asJava, schema)
      .select(mode.startNode(col(O), start).as(S), col(O))
  }

  /** Cap on driver-held closure pairs, far under the 10M default row
    * budget: past it the distributed plan takes over (None) rather
    * than growing driver memory; past the QUERY budget the same
    * [[PathBudgetExceeded]] the distributed plan throws is thrown.
    */
  private val DriverClosurePairs = 2000000L

  /** Edge ceiling of [[closure]]'s driver plan, below `smallRows`:
    * small enough that the worst-case all-sources BFS
    * (|nodes| × |edges|) is milliseconds and the collected rows KBs.
    */
  private val DriverClosureEdges = 4096L

  /** Full transitive closure of probed `(__ks, __ko, S, O)` edge rows
    * on the driver: BFS from every source node. Output rows are
    * identical to the distributed fixpoint's — every (s, o) with a
    * ≥1-step path, deduplicated on keys.
    */
  private def driverClosure(total: DataFrame, rows: Array[Row],
                            budget: Long): Option[DataFrame] = {
    val term = scala.collection.mutable.HashMap.empty[String, Any]
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        term.getOrElseUpdate(r.getString(0), r.get(2))
        term.getOrElseUpdate(r.getString(1), r.get(3))
      }
    }
    val adj = adjacency(rows)
    val out = new java.util.ArrayList[Row]()
    var pairs = 0L
    for (src <- adj.keysIterator) {
      val reached = driverBfs(adj, Seq(src))()
      pairs += reached.size
      if (pairs > budget) throw new PathBudgetExceeded(
        s"path closure reached $pairs pairs > spark.graft.path.maxRows=$budget")
      if (pairs > DriverClosurePairs) return None
      reached.foreach(ko => out.add(Row(term(src), term(ko))))
    }
    Some(total.sparkSession.createDataFrame(out,
      StructType(Seq(total.schema(S), total.schema(O)))))
  }

  /** Transitive closure: iterative join-dedup fixpoint with
    * localCheckpoint per round to cut lineage (SURVEY §7.5) — the
    * both-endpoints-free case; bound endpoints take [[reachableFrom]].
    */
  private def closure(edges0: DataFrame, maxIters: Int = 64): DataFrame = {
    val budget = maxRowsBudget(edges0)
    val dedup = edges0.select(
      col(S), col(O),
      col(S).getField("key").as("__ks"), col(O).getField("key").as("__ko"))
      .dropDuplicates("__ks", "__ko")
    // Measured-size plan choice, one tier below the broadcast rounds:
    // a FEW-THOUSAND-edge set (the compiled path predicate is usually
    // that selective; at most min(smallRows, 4096) edges) computes its
    // whole closure on the driver — zero jobs per level instead of a
    // join+anti-join+checkpoint round trip each. The pair budget still
    // applies; a closure that outgrows the driver's own cap (rare:
    // dense tiny graph) falls through and the distributed fixpoint
    // below runs unchanged.
    val driverPlan = DriverTier.collectIfAtMost(
        dedup.select(col("__ks"), col("__ko"), col(S), col(O)),
        math.min(smallRowsBudget(edges0), DriverClosureEdges))
      .flatMap(driverClosure(dedup, _, budget))
    if (driverPlan.isDefined) return driverPlan.get
    var total = dedup.localCheckpoint(true)
    var rows = total.count()
    if (rows > budget) throw new PathBudgetExceeded(
      s"path closure edge set has $rows rows > spark.graft.path.maxRows=$budget")
    val smallThr = smallRowsBudget(edges0)
    var frontier = total
    var iter = 0
    var done = false
    while (!done && iter < maxIters) {
      iter += 1
      // measured-size adaptivity (see reachableFrom): a provably small
      // round runs as 1-partition frames + broadcast joins — zero
      // exchanges — because per-round fixed cost × rounds dominates a
      // small-but-deep closure; past the threshold the shuffle plan
      // that scales is kept unchanged
      val isSmall = rows < smallThr
      val fr = if (isSmall) broadcast(frontier.coalesce(1)) else frontier
      val step0 = fr.alias("f")
        .join(total.alias("t"), col("f.__ko") === col("t.__ks"))
        .select(col("f." + S).as(S), col("t." + O).as(O),
          col("f.__ks").as("__ks"), col("t.__ko").as("__ko"))
      val step = (if (isSmall) step0.coalesce(1) else step0)
        .dropDuplicates("__ks", "__ko")
      val seen = total.select("__ks", "__ko")
      val fresh = step.join(
          if (isSmall) broadcast(seen.coalesce(1)) else seen,
          Seq("__ks", "__ko"), "left_anti")
        .localCheckpoint(true)
      val n = fresh.count()
      rows += n
      if (rows > budget) throw new PathBudgetExceeded(
        s"path closure reached $rows pairs > spark.graft.path.maxRows=$budget")
      if (n == 0) done = true
      else {
        total = total.unionByName(fresh)
        // big mode keeps total one flat checkpointed frame (constant
        // task count per round); small mode's 1-partition pieces make
        // the lazy union the cheaper shape
        if (!isSmall) total = total.localCheckpoint(true)
        frontier = fresh
      }
    }
    if (!done) throw new PathBudgetExceeded(
      s"path closure did not converge in $maxIters rounds")
    total.select(col(S), col(O))
  }
}
