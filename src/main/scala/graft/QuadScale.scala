package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}

import graft.ingest.WikidataIngest
import graft.sparql.Sparql

/** Scale evidence for the core SPARQL engine — the [[GraphBench]]
  * counterpart for the quad store. Every sp* CORRECTNESS entry runs on
  * the 3,385-quad reference fixture, which proves semantics but says
  * nothing about cost growth; the reference's own design center is a
  * dump larger than RAM (`/root/reference/src/cli.rs:52-55`, the mmap
  * mode exists for exactly that). This harness generates a
  * DETERMINISTIC Wikidata-shaped store at parameterized quad counts,
  * builds it through the REAL store pipeline (create-db flat write +
  * create-index partitioned permutations), runs the headline query
  * shapes, and prints one JSON line of per-operation seconds so
  * consecutive sizes give measured scaling ratios.
  *
  * Two data shapes, selected per tier:
  *
  * UNIFORM (planted, so results are assertable at any size; nE
  * entities, nE % 32 == 0):
  *   - entities Q0..Q(nE-1); Q0..Q31 double as "classes"
  *   - every entity: one English label `"entity <e>"`, one P1
  *     (instance-of analog) claim to class Q(e mod 32), and one P10
  *     integer qualifier (e mod 50) on that claim — so
  *     count(P1) == nE, each class has EXACTLY nE/32 instances, and
  *     qualifier joins return exactly nE rows
  *   - classes chain by P2 (subclass analog): Qc → Q(c+1) for
  *     c < 31 — so `wd:Q0 wdt:P2* ?x` returns exactly 32 nodes and
  *     the BGP join P1⋈P2 returns exactly nE·31/32 rows
  *   - 6·nE bulk claims with zipf-skewed predicates P20..P63 (u³
  *     concentration — the predicate-frequency shape a real knowledge
  *     graph has, and the hazard for predicate-bucket pruning),
  *     subjects uniform over NON-class entities (so per-class GRAPH
  *     counts stay planted: GRAPH Qc holds exactly 4 quads for c<31),
  *     objects alternating entity / integer
  *
  * SKEW (nE % 800 == 0) models real Wikidata's hot keys — `wdt:P31 →
  * wd:Q5` alone holds ~10M instances, and celebrity entities hold
  * millions of statements — so the uniform tier's per-key flatness is
  * exactly what a production store does NOT have. Deltas vs uniform,
  * every count still exactly planted by modular arithmetic:
  *   - HUB CLASS: entities with e % 4 == 0 redirect their P1 claim to
  *     class Q5, so Q5 holds 9·nE/32 instances (~28% of one
  *     predicate — the P31→Q5 shape), 8 classes (multiples of 4) hold
  *     zero, the other 23 hold nE/32 each
  *   - HUB SUBJECT: bulk-claim rows with row-index % 100 == 0 take
  *     subject Q32 (exactly 6·nE/100 = 1% of all bulk claims on ONE
  *     entity); the uniform remainder draws from [33, nE) so the hub
  *     count stays exact
  *   - SKEWED JOIN KEY: nE extra claims under dedicated predicate
  *     P70; object is Q33 for row % 5 == 0 (20% of the predicate on
  *     one key), else uniform over [34, nE) — feeding a big-big
  *     shuffle join (`?a wdt:P70 ?x . ?x wdt:P1 ?c`) whose join key
  *     has one white-hot value, the AQE skew-join shape
  *
  * Determinism: every id/choice derives from xxhash64 of the row
  * index — no RNG state, no partitioning dependence. The harness
  * FAILS (nonzero exit) on any wrong answer; timings you cannot trust
  * are worse than no timings.
  *
  * Usage: `runMain graft.QuadScale [quadTargets] [baseDir] [modes]`
  * (defaults `1000000,8000000`, a temp dir, and `uniform`; modes is a
  * comma list of `uniform`/`skew`/`pressure`). Re-running against the
  * same `baseDir` reuses any store whose success marker exists and
  * records a WARM sitting (query ladder only, planted counts adjusted
  * for the fresh sitting's append tier); `pressure` runs the
  * memory-heavy sort/agg/join shapes on a skew-shaped store — pair a
  * default-heap sitting with a `SPARK_DRIVER_MEM`-capped one to
  * demonstrate spill-not-OOM.
  */
object QuadScale {

  val Classes = 32

  private def nulStr = lit(null).cast(StringType)
  private def nulNum = lit(null).cast(DoubleType)

  private def qEnt(e: Column): Column = model.Term.struct_(
    lit(model.Term.Kind.Q), e.cast(DoubleType), nulStr, nulStr,
    concat(lit("Q:"), e.cast(StringType)))
  private def pDir(n: Int): Column = model.Term.struct_(
    lit(model.Term.Kind.P), lit(n.toDouble), nulStr, nulStr, lit(s"P:$n"))
  private def pDirCol(n: Column): Column = model.Term.struct_(
    lit(model.Term.Kind.P), n.cast(DoubleType), nulStr, nulStr,
    concat(lit("P:"), n.cast(StringType)))
  private def labelPred: Column = model.Term.struct_(
    lit(model.Term.Kind.Label), nulNum, lit("en"), nulStr, lit("lab:en"))
  private def strT(s: Column): Column = model.Term.struct_(
    lit(model.Term.Kind.Str), nulNum, s, nulStr, concat(lit("s:"), s))
  private def intT(v: Column): Column = model.Term.struct_(
    lit(model.Term.Kind.Int), v.cast(DoubleType), nulStr, nulStr,
    concat(lit("i:"), v.cast(StringType)))
  private def namedEdge(id: Column): Column = model.Term.struct_(
    lit(model.Term.Kind.NamedEdge), nulNum, id, nulStr, concat(lit("NE:"), id))
  private def anonEdge(id: Column): Column = model.Term.struct_(
    lit(model.Term.Kind.Edge), nulNum, id, nulStr, concat(lit("E:"), id))

  /** The synthetic statements table (schema identical to the dump
    * parser's output: term structs `s, p, o, id, graph` + long `ord`).
    */
  def syntheticStatements(spark: SparkSession, nE: Long,
      skew: Boolean = false): DataFrame = {
    require(nE % Classes == 0 && nE >= 320,
      s"nE=$nE must be a positive multiple of $Classes (planted per-class counts)")
    if (skew) require(nE % 800 == 0,
      s"nE=$nE must be a multiple of 800 in skew mode (planted 1%/20% hub counts)")
    val e = col("id")
    def qid(suffix: String) = concat(lit("Q"), e.cast(StringType), lit(suffix))
    val labels = spark.range(nE).select(
      qEnt(e).as("s"), labelPred.as("p"),
      strT(concat(lit("entity "), e.cast(StringType))).as("o"),
      anonEdge(qid("-a1")).as("id"), qEnt(e).as("graph"))
    // skew: 1 in 4 entities is an "instance of human" analog — their
    // P1 claim redirects to hub class Q5 (9·nE/32 total; classes that
    // are multiples of 4 lose all members, the rest keep nE/32)
    val p1class =
      if (skew) when(pmod(e, lit(4L)) === 0L, lit(5L))
        .otherwise(pmod(e, lit(Classes.toLong)))
      else pmod(e, lit(Classes.toLong))
    val p1 = spark.range(nE).select(
      qEnt(e).as("s"), pDir(1).as("p"), qEnt(p1class).as("o"),
      namedEdge(qid("-P1")).as("id"), qEnt(e).as("graph"))
    // qualifier: subject IS the P1 claim edge (edges-on-edges), graph
    // stays the parent document's — the dump parser's convention
    val quals = spark.range(nE).select(
      namedEdge(qid("-P1")).as("s"), pDir(10).as("p"),
      intT(pmod(e, lit(50L))).as("o"),
      anonEdge(qid("-a2")).as("id"), qEnt(e).as("graph"))
    val chain = spark.range(Classes - 1L).select(
      qEnt(e).as("s"), pDir(2).as("p"), qEnt(e + 1L).as("o"),
      namedEdge(qid("-P2")).as("id"), qEnt(e).as("graph"))
    def u(salt: String) =
      pmod(xxhash64(e, lit(salt)), lit(1000000L)).cast(DoubleType) / 1e6
    // skew: exactly 1% of bulk claims sit on hub subject Q32; the
    // uniform remainder starts at Q33 so the hub count stays planted
    val subjUniform =
      if (skew) lit(Classes + 1L) + pmod(xxhash64(e, lit("bs")), lit(nE - Classes - 1))
      else lit(Classes.toLong) + pmod(xxhash64(e, lit("bs")), lit(nE - Classes))
    val subj =
      if (skew) when(pmod(e, lit(100L)) === 0L, lit(Classes.toLong)).otherwise(subjUniform)
      else subjUniform
    val predNum = (lit(20) + floor(u("bp") * u("bp") * u("bp") * lit(44.0))).cast("int")
    val bulk = spark.range(6L * nE).select(
      qEnt(subj).as("s"), pDirCol(predNum).as("p"),
      when(pmod(e, lit(2L)) === 0L, qEnt(pmod(xxhash64(e, lit("bo")), lit(nE))))
        .otherwise(intT(pmod(xxhash64(e, lit("bi")), lit(1000L)))).as("o"),
      namedEdge(concat(lit("B"), e.cast(StringType))).as("id"),
      qEnt(subj).as("graph"))
    val base = labels.unionByName(p1).unionByName(quals).unionByName(chain)
      .unionByName(bulk)
    val all = if (!skew) base else {
      // dedicated skewed-object predicate: 20% of P70's objects are
      // Q33 (one white-hot join key), the rest uniform over [34, nE);
      // subjects uniform over [33, nE) — never the Q32 hub, so the
      // hub-subject count stays exactly 6·nE/100 + 2
      val skewSubj = lit(Classes + 1L) + pmod(xxhash64(e, lit("ss")), lit(nE - Classes - 1))
      val skewObj = when(pmod(e, lit(5L)) === 0L, lit(Classes + 1L))
        .otherwise(lit(Classes + 2L) + pmod(xxhash64(e, lit("so")), lit(nE - Classes - 2)))
      val p70 = spark.range(nE).select(
        qEnt(skewSubj).as("s"), pDir(70).as("p"), qEnt(skewObj).as("o"),
        namedEdge(concat(lit("S"), e.cast(StringType))).as("id"),
        qEnt(skewSubj).as("graph"))
      base.unionByName(p70)
    }
    all.withColumn("ord", monotonically_increasing_id())
  }

  /** Total quads [[syntheticStatements]] emits for `nE` entities. */
  def totalQuads(nE: Long, skew: Boolean = false): Long =
    (if (skew) 10L else 9L) * nE + (Classes - 1)

  /** Delta for the append tier: `nD` NEW entities `Q(nE)..Q(nE+nD-1)`,
    * each with one English label and one P1 claim (2 quads per entity)
    * — the "new documents arrived" shape the incremental store
    * maintenance exists for.
    */
  def syntheticDelta(spark: SparkSession, nE: Long, nD: Long): DataFrame = {
    val e = col("id") + lit(nE)
    def qid(suffix: String) = concat(lit("Q"), e.cast(StringType), lit(suffix))
    val labels = spark.range(nD).select(
      qEnt(e).as("s"), labelPred.as("p"),
      strT(concat(lit("entity "), e.cast(StringType))).as("o"),
      anonEdge(qid("-a1")).as("id"), qEnt(e).as("graph"))
    val p1 = spark.range(nD).select(
      qEnt(e).as("s"), pDir(1).as("p"),
      qEnt(pmod(e, lit(Classes.toLong))).as("o"),
      namedEdge(qid("-P1")).as("id"), qEnt(e).as("graph"))
    labels.unionByName(p1).withColumn("ord", monotonically_increasing_id())
  }

  /** The headline query shapes with EXACT planted row counts for the
    * given data shape; skew mode swaps the hot-key variants in and
    * appends the hub-specific shapes.
    *
    * `appended` adjusts every planted count for a WARM sitting on a
    * store whose fresh sitting already ran the append tier: that tier
    * adds `appended` new entities Q(nE)..Q(nE+appended-1), each with
    * one label and one P1 claim to class `e mod 32` (never redirected,
    * even in skew mode), so each class gains exactly `appended/32`
    * members and no qualifier/P2/P70/bulk count moves.
    */
  def plantedQueries(nE: Long, skew: Boolean, fail: String => Unit,
      appended: Long = 0L): Seq[(String, String, Long, DataFrame => Unit)] = {
    require(appended % Classes == 0, s"appended=$appended must be a multiple of $Classes")
    val total = totalQuads(nE, skew) + 2 * appended
    val perClass = nE / Classes
    val dc = appended / Classes // delta members gained by EVERY class
    // skew: instances(Q5) = {e % 4 == 0} ∪ {e % 32 == 5} (disjoint:
    // e % 32 == 5 → e % 4 == 1), so 9·nE/32
    val q5Count = (if (skew) 9 * perClass else perClass) + dc
    // classes with an outgoing P2 edge are 0..30; under skew the 8
    // multiples of 4 in that range hold zero members, Q5 holds 9/32,
    // the other 22 hold nE/32: (9 + 22)·nE/32 — numerically the same
    // 31·nE/32 as uniform, but the join key distribution is white-hot
    val bgpRows = (perClass + dc) * (Classes - 1)
    // classes (= entities 0..30 with P2-out) now inside class Q5:
    // {0,4,...,28} redirected plus Q5 itself = 9 (delta entities have
    // no P2-out, so the OPTIONAL-bound count never moves)
    val q5Bound = if (skew) 9L else 1L
    // the delta fills the 8 classes skew left empty
    val distinctClasses =
      if (skew && appended == 0) Classes.toLong - 8 else Classes.toLong

    val shared: Seq[(String, String, Long, DataFrame => Unit)] = Seq(
      ("full_scan", "SELECT ?s ?p ?o WHERE { ?s ?p ?o }", total, _ => ()),
      ("pred_scan", "SELECT ?x ?c WHERE { ?x wdt:P1 ?c }", nE + appended, _ => ()),
      ("po_bound", "SELECT ?x WHERE { ?x wdt:P1 wd:Q5 }", q5Count, _ => ()),
      ("bgp_join", "SELECT ?x ?d WHERE { ?x wdt:P1 ?c . ?c wdt:P2 ?d }",
        bgpRows, _ => ()),
      ("qualifier_join",
        "SELECT ?x ?v WHERE { ?x p:P1 ?stmt . ?stmt wdt:P10 ?v }", nE, _ => ()),
      ("label_service",
        """SELECT ?x ?xLabel WHERE { ?x wdt:P1 wd:Q3 .
          |SERVICE wikibase:label { bd:serviceParam wikibase:language "en". } }""".stripMargin,
        perClass + dc,
        df => {
          val bound = df.filter(col("xLabel").getField("str").isNotNull).count()
          if (bound != perClass + dc)
            fail(s"label_service bound $bound labels, planted ${perClass + dc}")
        }),
      ("path_star", "SELECT ?c WHERE { wd:Q0 wdt:P2* ?c }", Classes.toLong, _ => ()),
      ("graph_const", "SELECT ?s ?p ?o WHERE { GRAPH wd:Q7 { ?s ?p ?o } }", 4L, _ => ()),
      ("agg_group",
        "SELECT ?c (COUNT(?x) AS ?n) WHERE { ?x wdt:P1 ?c } GROUP BY ?c",
        distinctClasses,
        df => {
          val counts = df.select(col("n").getField("num")).collect()
            .map(_.getDouble(0).toLong).groupBy(identity).view.mapValues(_.length).toMap
          val planted =
            if (skew && dc == 0) Map(9 * perClass -> 1, perClass -> 23)
            else if (skew) Map(9 * perClass + dc -> 1, dc -> 8, perClass + dc -> 23)
            else Map(perClass + dc -> Classes)
          if (counts != planted)
            fail(s"agg_group count multiset $counts, planted $planted")
        }),
      ("order_limit",
        """SELECT ?x ?v WHERE { ?x p:P1 ?st . ?st wdt:P10 ?v }
          |ORDER BY DESC(?v) LIMIT 5""".stripMargin,
        5L,
        df => {
          val vs = df.select(col("v").getField("num")).collect().map(_.getDouble(0))
          if (!vs.forall(_ == 49.0)) // max of (e mod 50), multiplicity nE/50 >= 5
            fail(s"order_limit values ${vs.mkString(",")}, planted all 49")
        }),
      // among Q5's instances only entities 0..30 have an outgoing P2
      ("optional",
        "SELECT ?x ?y WHERE { ?x wdt:P1 wd:Q5 . OPTIONAL { ?x wdt:P2 ?y } }",
        q5Count,
        df => {
          val bound = df.filter(col("y").getField("key").isNotNull).count()
          if (bound != q5Bound) fail(s"optional bound $bound rows, planted $q5Bound")
        }),
      ("minus",
        "SELECT ?x WHERE { ?x wdt:P1 wd:Q5 . MINUS { ?x wdt:P2 ?y } }",
        q5Count - q5Bound, _ => ()),
      ("distinct",
        "SELECT DISTINCT ?c WHERE { ?x wdt:P1 ?c }", distinctClasses, _ => ()),
      // statistics-driven BGP ordering A/B: three equal-boundness
      // patterns, two HOT (P1, nE rows each) and one RARE (P2, 31
      // rows) WRITTEN last. The pure boundness order folds the two hot
      // patterns first — an nE ⋈ nE shuffle join whose output the
      // rare pattern then discards down to 31 rows; measured stats
      // lead with the 31-row scan, which broadcasts into both hot
      // scans and no big-big shuffle ever happens. Planted both
      // modes: ?x must be a class with P2-out (0..30), each joins
      // once. The _greedy twin runs the SAME query with stats
      // ordering off — the measured pair is the win
      ("stats_chain",
        "SELECT ?x ?c2 WHERE { ?x wdt:P1 ?c . ?c wdt:P1 ?c2 . ?x wdt:P2 ?d }",
        Classes - 1L, _ => ()),
      ("stats_chain_greedy",
        "SELECT ?x ?c2 WHERE { ?x wdt:P1 ?c . ?c wdt:P1 ?c2 . ?x wdt:P2 ?d }",
        Classes - 1L, _ => ()))

    val skewOnly: Seq[(String, String, Long, DataFrame => Unit)] = Seq(
      // contrast shape: a COLD key of the same predicate — pruning
      // must keep this flat regardless of Q5's heat
      ("po_bound_cold", "SELECT ?x WHERE { ?x wdt:P1 wd:Q3 }",
        nE / Classes + dc, _ => ()),
      // one entity holding 1% of all bulk statements (+ its own label
      // and P1): the celebrity-entity subject lookup
      ("hub_subject", "SELECT ?p ?o WHERE { wd:Q32 ?p ?o }",
        6 * nE / 100 + 2, _ => ()),
      // object-bound scan on the white-hot key (20% of P70)
      ("skew_obj_scan", "SELECT ?x WHERE { ?x wdt:P70 wd:Q33 }",
        nE / 5, _ => ()),
      // big-big join (nE ⋈ nE) whose key carries a 20% hot value —
      // the AQE skew-join shape; every P70 object has exactly one P1,
      // so output is exactly nE
      ("skew_shuffle_join",
        "SELECT ?a ?c WHERE { ?a wdt:P70 ?x . ?x wdt:P1 ?c }",
        nE, _ => ()),
      // label service over the hub class: 9·nE/32 lookups, all bound
      ("hub_label_service",
        """SELECT ?x ?xLabel WHERE { ?x wdt:P1 wd:Q5 .
          |SERVICE wikibase:label { bd:serviceParam wikibase:language "en". } }""".stripMargin,
        9 * perClass + dc,
        df => {
          val bound = df.filter(col("xLabel").getField("str").isNotNull).count()
          if (bound != 9 * perClass + dc)
            fail(s"hub_label_service bound $bound labels, planted ${9 * perClass + dc}")
        }))

    if (skew) shared ++ skewOnly else shared
  }

  def main(args: Array[String]): Unit = {
    val targets = args.lift(0).getOrElse("1000000,8000000")
      .split(",").map(_.trim.toLong).toSeq
    val baseDir = args.lift(1).getOrElse(
      Workspace.scratch("graft-quadscale"))
    val modes = args.lift(2).getOrElse("uniform").split(",").map(_.trim).toSeq
    modes.foreach(m => require(m == "uniform" || m == "skew" || m == "pressure",
      s"unknown mode $m"))
    val spark = GraftSession.get()
    var failed = false

    def fail(msg: String): Unit = { System.err.println(s"[quadscale] FAIL: $msg"); failed = true }

    val perSize = for (mode <- modes; target <- targets) yield {
      val skew = mode != "uniform" // pressure reuses the skew generator
      val quadsPerE = if (skew) 10.0 else 9.0
      val align = if (skew) 800L else Classes.toLong
      val nE = math.max(800L, math.round(target / quadsPerE / align) * align)
      val total = totalQuads(nE, skew)
      val flat = s"$baseDir/flat_${mode}_$nE"
      val idx = s"$baseDir/idx_${mode}_$nE"
      // Store reuse: the index marker says create-index completed (a
      // crashed build leaves directories but no marker → rebuilt, not
      // half-read), and the HARNESS-owned append marker says this
      // harness's append+compaction tier ALSO completed — warm
      // sittings assert append-adjusted planted counts, so an index
      // marker alone (a run interrupted between create_index and the
      // appends) must trigger a rebuild, not a permanently-failing
      // warm sitting. Pressure mode runs no append tier and keys on
      // the index marker alone. A WARM sitting re-measures the query
      // ladder without the build/maintenance tiers: the reproduced
      // companion for any fresh-sitting number that paid cold IO.
      val idxDone = new java.io.File(s"$idx/_SUCCESS_GRAFT_INDEX").exists()
      val appendsDone = new java.io.File(s"$idx/_QUADSCALE_APPENDED").exists()
      val warm = idxDone && (mode == "pressure" || appendsDone)
      if (idxDone && !warm) {
        System.err.println(s"[quadscale $mode] $idx built but append tier " +
          "incomplete: rebuilding from scratch")
        Workspace.deleteTree(new java.io.File(idx))
      }

      def time[A](name: String)(f: => A): (Double, A) = {
        val t0 = System.nanoTime()
        val out = f
        val secs = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[quadscale $mode $total] $name: $secs%.2f s")
        (secs, out)
      }

      val buildOps = if (warm) {
        System.err.println(s"[quadscale $mode $total] warm sitting: reusing $idx")
        Seq.empty[(String, Double, Long)]
      } else {
        val (tDb, _) = time("create_db") {
          WikidataIngest.writeStore(spark, syntheticStatements(spark, nE, skew), flat)
        }
        val (tIdx, _) = time("create_index") {
          WikidataIngest.createIndex(spark, flat, idx)
        }
        Seq(("create_db", tDb, total), ("create_index", tIdx, total))
      }

      def runPlanted(name: String, text: String, expected: Long,
                     deepCheck: DataFrame => Unit): (String, Double, Long) = {
        // `_greedy` twins run with stats ordering OFF — the A/B
        // baseline for the statistics-driven BGP order
        val greedy = name.endsWith("_greedy")
        if (greedy) spark.conf.set(
          graft.sparql.TranslateFlags.BgpStatsOrder, "false")
        try {
          // two reps, min: the first pays parquet-footer/codegen warmup,
          // the second is the steady-state cost a server pays per query
          val reps = (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            val df = Sparql.query(spark, text, idx)
            val rows = df.count()
            val secs = (System.nanoTime() - t0) / 1e9
            (secs, rows, df)
          }
          val (secs, rows, df) = reps.minBy(_._1)
          if (rows != expected) fail(s"$mode/$name returned $rows rows, planted $expected")
          deepCheck(df)
          System.err.println(f"[quadscale $mode $total] $name: $secs%.3f s, $rows rows")
          (name, secs, rows)
        } finally if (greedy) spark.conf.unset(graft.sparql.TranslateFlags.BgpStatsOrder)
      }

      // delta size for the append tier; ALSO the warm sitting's
      // planted-count offset (a warm sitting assumes exactly one prior
      // fresh sitting ran the append tier on this store).
      // nE is a multiple of Classes, so is nD — every class gains
      // exactly nD/Classes delta members and the planted counts stay
      // modular arithmetic, not floor gymnastics
      val nD = math.max(4 * Classes.toLong, nE / 100 / (4 * Classes) * (4 * Classes))

      /** Memory-pressure shapes: working sets that exceed execution
        * memory under a constrained heap — a full sort of every quad,
        * a 2·nE-group aggregation, and the hot-key big-big shuffle
        * join. Timed through a noop sink so the root sort actually
        * executes (under a bare count the optimizer correctly
        * eliminates it); planted counts still checked. Record one
        * sitting at the default heap and one with SPARK_DRIVER_MEM
        * capped: the constrained column must show SPILL-not-OOM (same
        * answers, bounded slowdown) — the one resource axis the
        * size/skew/concurrency tiers don't cover. No append tier, so
        * warm sittings keep fresh-store planted counts.
        */
      def runPressure(): Seq[(String, Double, Long)] = Seq(
        ("pressure_sort_full",
          "SELECT ?s ?o WHERE { ?s ?p ?o } ORDER BY ?o ?s", total),
        ("pressure_agg_subjects",
          // distinct subjects: nE entities + the nE qualifier-bearing
          // P1 claim edges (bulk/chain/P70 subjects are entity subsets)
          "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?s", 2 * nE),
        ("pressure_shuffle_join",
          "SELECT ?a ?c WHERE { ?a wdt:P70 ?x . ?x wdt:P1 ?c }", nE)
      ).map { case (name, text, expected) =>
        val df = Sparql.query(spark, text, idx)
        val rows = df.count()
        if (rows != expected) fail(s"$mode/$name returned $rows rows, planted $expected")
        val secs = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.min
        System.err.println(f"[quadscale $mode $total] $name: $secs%.3f s, $rows rows")
        (name, secs, rows)
      }

      val (opResults, maintenance) =
        if (mode == "pressure") (runPressure(), Seq.empty[(String, Double, Long)])
        else if (warm)
          (plantedQueries(nE, skew, fail, appended = nD).map {
            case (name, text, expected, deepCheck) =>
              runPlanted(name, text, expected, deepCheck)
          }, Seq.empty[(String, Double, Long)])
        else {
          val qs = plantedQueries(nE, skew, fail).map {
            case (name, text, expected, deepCheck) =>
              runPlanted(name, text, expected, deepCheck)
          }
          // ---- append tier: incremental maintenance cost +
          // correctness — a 1% delta must cost a fraction of
          // create_index, and the new quads must be visible through
          // every PRUNED access path. Four append BATCHES (the
          // steady-state arrival shape), so the following compaction
          // demonstrates targeted rewrite of the partitions the
          // appends fragmented — not a full-store defrag
          val (tApp, appended) = time("append_index") {
            (0 until 4).map { i =>
              graft.ingest.IndexMaintenance.appendToIndex(spark, idx,
                syntheticDelta(spark, nE + i * (nD / 4), nD / 4))
            }.sum
          }
          if (appended != 2 * nD)
            fail(s"$mode append wrote $appended quads, planted ${2 * nD}")
          // class 0 (= nE % Classes): zero base members under skew (0
          // is a redirected multiple of 4), nE/Classes otherwise; +
          // delta share
          val class0 = (if (skew) 0L else nE / Classes) + nD / Classes
          val postAppend = Seq(
            ("post_append_pred_scan", "SELECT ?x ?c WHERE { ?x wdt:P1 ?c }", nE + nD),
            ("post_append_graph",
              s"SELECT ?s ?p ?o WHERE { GRAPH wd:Q$nE { ?s ?p ?o } }", 2L),
            ("post_append_subject", s"SELECT ?p ?o WHERE { wd:Q$nE ?p ?o }", 2L),
            ("post_append_object", "SELECT ?x WHERE { ?x wdt:P1 wd:Q0 }", class0)
          ).map { case (n, q, exp) => runPlanted(n, q, exp, _ => ()) }
          val (tCmp, nCmp) = time("compact_index") {
            // threshold under the 4-batch SMALL-file debt (compaction
            // counts only sub-target files, so the build writer's
            // size-aware hot-bucket files never re-compact): only
            // append-fragmented partitions move
            graft.ingest.IndexMaintenance.compactIndex(spark, idx, maxFilesPerPartition = 3)
          }
          val postCompact = Seq(
            ("post_compact_pred_scan", "SELECT ?x ?c WHERE { ?x wdt:P1 ?c }", nE + nD))
            .map { case (n, q, exp) => runPlanted(n, q, exp, _ => ()) }
          // harness-owned marker: warm sittings key on THIS (plus the
          // index marker), because their planted counts assume the
          // append tier ran exactly once
          val am = new java.io.PrintWriter(s"$idx/_QUADSCALE_APPENDED")
          try am.write("ok") finally am.close()
          (qs, Seq(("append_index", tApp, appended),
            ("compact_index", tCmp, nCmp.toLong)) ++ postAppend ++ postCompact)
        }

      val ops = (buildOps ++ opResults ++ maintenance)
        .map { case (n, s, r) =>
          s""""$n":{"sec":${String.format(java.util.Locale.ROOT, "%.3f", Double.box(s))},"rows":$r}"""
        }.mkString(",")
      val sitting = if (warm) "warm" else "fresh"
      val heapMb = Runtime.getRuntime.maxMemory / (1024L * 1024L)
      s"""{"quads":$total,"entities":$nE,"mode":"$mode","sitting":"$sitting","heapMb":$heapMb,"ops":{$ops}}"""
    }
    println(s"""{"metric":"quadscale","sizes":[${perSize.mkString(",")}]}""")
    if (failed) sys.exit(1)
  }
}
