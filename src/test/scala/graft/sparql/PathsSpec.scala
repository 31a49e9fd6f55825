package graft.sparql

import org.apache.spark.sql.DataFrame

import graft.SparkTestBase
import graft.model.TermValue
import graft.sparql.Ast._

/** Closure semantics on a controlled cyclic graph: the bound-endpoint
  * BFS must agree with the all-pairs closure on cycles, dead ends, and
  * the zero-length case (the fixture store is acyclic, so these edges
  * need their own graph).
  */
class PathsSpec extends SparkTestBase {

  // Q1 -P2-> Q3 -P2-> Q5 -P2-> Q1 (a 3-cycle), plus isolated Q7 via an
  // unrelated edge so it exists as a graph node
  private lazy val statements: DataFrame = {
    val rows = Seq((1L, 3L), (3L, 5L), (5L, 1L)).map { case (a, b) =>
      (TermValue.entityQ(a), TermValue.propDirect(2), TermValue.entityQ(b))
    } :+ ((TermValue.entityQ(7), TermValue.propDirect(9), TermValue.entityQ(7)))
    rows.zipWithIndex.map { case ((s, p, o), i) =>
      spark.range(1).select(s.toColumn.as("s"), p.toColumn.as("p"),
        o.toColumn.as("o"), TermValue.namedEdge(i.toString).toColumn.as("id"))
    }.reduce(_.unionByName(_))
  }

  private lazy val tr = new Translator(spark, statements, statements.limit(0))

  private def run(p: PathOp): Set[Seq[String]] =
    tr.exec(p).collect().map(_.toSeq.map(v =>
      v.asInstanceOf[org.apache.spark.sql.Row].getAs[String]("key"))).map(_.toSeq).toSet

  private val p2 = PLink(TermValue.propDirect(2))

  test("OneOrMore from a cycle member reaches the whole cycle including itself") {
    val got = run(PathOp(Const(TermValue.entityQ(1)), POneOrMore(p2), Var("x")))
    assert(got === Set(Seq("Q:3"), Seq("Q:5"), Seq("Q:1")))
  }

  test("ZeroOrMore from a dead-end node is just the node; OneOrMore is empty") {
    val zero = run(PathOp(Const(TermValue.entityQ(7)), PZeroOrMore(p2), Var("x")))
    assert(zero === Set(Seq("Q:7")))
    val one = run(PathOp(Const(TermValue.entityQ(7)), POneOrMore(p2), Var("x")))
    assert(one === Set.empty[Seq[String]])
  }

  test("bound-object closure runs the BFS over reversed edges") {
    val got = run(PathOp(Var("x"), POneOrMore(p2), Const(TermValue.entityQ(3))))
    assert(got === Set(Seq("Q:1"), Seq("Q:5"), Seq("Q:3")))
  }

  test("both endpoints bound: reachability check through the cycle") {
    val yes = run(PathOp(Const(TermValue.entityQ(1)), POneOrMore(p2), Const(TermValue.entityQ(5))))
    assert(yes.size === 1) // one empty binding row = true
    val no = run(PathOp(Const(TermValue.entityQ(1)), POneOrMore(p2), Const(TermValue.entityQ(7))))
    assert(no.isEmpty)
  }

  test("free-free closure still takes the all-pairs path and matches BFS per node") {
    val all = run(PathOp(Var("a"), POneOrMore(p2), Var("b")))
    // 3-cycle: every member reaches every member (incl. itself) → 9 pairs
    assert(all.size === 9)
    assert(all.contains(Seq("Q:1", "Q:1")) && all.contains(Seq("Q:5", "Q:3")))
  }

  test("driver BFS (small plan) and distributed fixpoint return identical closures") {
    // default smallRows routes these tiny edge sets to the driver BFS;
    // smallRows=0 forces every round through the distributed plan —
    // the two MUST agree on cycles, dead ends, and the reversed case
    val shapes = Seq(
      PathOp(Const(TermValue.entityQ(1)), POneOrMore(p2), Var("x")),
      PathOp(Const(TermValue.entityQ(1)), PZeroOrMore(p2), Var("x")),
      PathOp(Const(TermValue.entityQ(7)), PZeroOrMore(p2), Var("x")),
      PathOp(Var("x"), PZeroOrMore(p2), Const(TermValue.entityQ(5))))
    val viaDriver = shapes.map(run)
    spark.conf.set("spark.graft.path.smallRows", "0")
    try {
      val viaCluster = shapes.map(run)
      viaDriver.zip(viaCluster).zip(shapes).foreach { case ((d, c), s) =>
        assert(d === c, s"plans diverge for $s")
      }
    } finally spark.conf.unset("spark.graft.path.smallRows")
  }

  test("driver closure (free-free small plan) equals the distributed fixpoint") {
    // the default driver cap routes these tiny edge sets to the
    // all-sources driver BFS; smallRows=0 forces the fixpoint — the two
    // MUST agree on cycles (self-pairs), chains, and zero-or-more
    val shapes = Seq(
      PathOp(Var("a"), POneOrMore(p2), Var("b")),
      PathOp(Var("a"), PZeroOrMore(p2), Var("b")),
      PathOp(Var("a"), POneOrMore(PAlt(p2, PReverse(p2))), Var("b")))
    val viaDriver = shapes.map(run)
    spark.conf.set("spark.graft.path.smallRows", "0")
    try {
      val viaCluster = shapes.map(run)
      viaDriver.zip(viaCluster).zip(shapes).foreach { case ((d, c), s) =>
        assert(d === c, s"closure plans diverge for $s")
      }
    } finally spark.conf.unset("spark.graft.path.smallRows")
  }

  test("spark.graft.path.maxRows fails a runaway closure fast with a clear error") {
    spark.conf.set("spark.graft.path.maxRows", "4")
    try {
      // the 3-cycle closure needs 9 pairs > budget 4
      val e = intercept[PathBudgetExceeded] {
        run(PathOp(Var("a"), POneOrMore(p2), Var("b")))
      }
      assert(e.getMessage.contains("spark.graft.path.maxRows=4"))
      // the bound-endpoint BFS budgets too (3 reached > 2)
      spark.conf.set("spark.graft.path.maxRows", "2")
      intercept[PathBudgetExceeded] {
        run(PathOp(Const(TermValue.entityQ(1)), POneOrMore(p2), Var("x")))
      }
      // zero-length identity set: 4 graph nodes > 2
      intercept[PathBudgetExceeded] {
        run(PathOp(Var("a"), PZeroOrOne(p2), Var("b")))
      }
    } finally spark.conf.unset("spark.graft.path.maxRows")
  }

  test("the DEFAULT budget is finite (cluster-safe out of the box)") {
    // a 100 TB `?x p* ?y` must fail fast WITHOUT any flag set: the
    // default budget is the documented finite value, not unlimited —
    // the budget-fires behavior on exceeding it is pinned by the
    // explicit-flag tests above on the same code path (maxRowsBudget
    // reads flag-or-default through TranslateFlags.get)
    spark.conf.unset("spark.graft.path.maxRows")
    val d = TranslateFlags.get(spark, TranslateFlags.PathMaxRows).toLong
    assert(d === TranslateFlags.PathMaxRowsDefault)
    assert(d < Long.MaxValue && d > 0)
  }

  test("a budget above the result size changes nothing") {
    spark.conf.set("spark.graft.path.maxRows", "1000")
    try {
      val all = run(PathOp(Var("a"), POneOrMore(p2), Var("b")))
      assert(all.size === 9)
    } finally spark.conf.unset("spark.graft.path.maxRows")
  }

  // ---- per-named-graph evaluation (GRAPH ?g { … path … }) -------------

  // graph Q100 holds the full 3-cycle; graph Q200 holds only Q1→Q3
  private lazy val quadStatements: DataFrame = {
    val ga = TermValue.entityQ(100)
    val gb = TermValue.entityQ(200)
    val rows = Seq((1L, 3L, ga), (3L, 5L, ga), (5L, 1L, ga), (1L, 3L, gb))
    rows.zipWithIndex.map { case ((a, b, g), i) =>
      spark.range(1).select(
        TermValue.entityQ(a).toColumn.as("s"),
        TermValue.propDirect(2).toColumn.as("p"),
        TermValue.entityQ(b).toColumn.as("o"),
        TermValue.namedEdge(i.toString).toColumn.as("id"),
        g.toColumn.as("graph"))
    }.reduce(_.unionByName(_))
  }

  private lazy val trQuad = new Translator(spark, quadStatements, quadStatements.limit(0))

  private def runGraph(p: PathOp): Set[(String, String)] =
    trQuad.exec(GraphPath(p, Var("g"))).collect().map { r =>
      (r.getAs[org.apache.spark.sql.Row]("g").getAs[String]("key"),
        r.getAs[org.apache.spark.sql.Row]("y").getAs[String]("key"))
    }.toSet

  test("GRAPH ?g: bound-start closure BFS stays inside each named graph") {
    val got = runGraph(PathOp(Const(TermValue.entityQ(1)), POneOrMore(p2), Var("y")))
    // inside Q100 the cycle brings Q1 back to itself; inside Q200 only
    // the single edge fires — the Q100 edges must not leak in
    assert(got === Set(
      ("Q:100", "Q:1"), ("Q:100", "Q:3"), ("Q:100", "Q:5"),
      ("Q:200", "Q:3")))
  }

  test("GRAPH ?g: zero-or-more includes the start in every named graph") {
    val got = runGraph(PathOp(Const(TermValue.entityQ(7)), PZeroOrMore(p2), Var("y")))
    // Q7 appears in no graph, but the zero-length path matches it in
    // each named graph (SPARQL ALP seeds with the start node)
    assert(got === Set(("Q:100", "Q:7"), ("Q:200", "Q:7")))
  }

  test("GRAPH ?g: free-free closure yields per-graph pair sets") {
    val got = trQuad.exec(GraphPath(
      PathOp(Var("a"), POneOrMore(p2), Var("b")), Var("g"))).collect().map { r =>
      (r.getAs[org.apache.spark.sql.Row]("g").getAs[String]("key"),
        r.getAs[org.apache.spark.sql.Row]("a").getAs[String]("key"),
        r.getAs[org.apache.spark.sql.Row]("b").getAs[String]("key"))
    }.toSet
    // 9 in-cycle pairs inside Q100, the lone edge inside Q200
    assert(got.size === 10)
    assert(got.contains(("Q:100", "Q:5", "Q:3")))
    assert(got.contains(("Q:200", "Q:1", "Q:3")))
    assert(!got.contains(("Q:200", "Q:3", "Q:5")))
  }

  test("GRAPH ?g: sequence joins stay within one graph") {
    val got = runGraph(PathOp(Const(TermValue.entityQ(1)), PSeq(p2, p2), Var("y")))
    // Q1→Q3→Q5 exists only inside Q100; Q200's lone edge has no second hop
    assert(got === Set(("Q:100", "Q:5")))
  }
}
