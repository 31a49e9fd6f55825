package graft.sparql

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Workspace}
import graft.ingest.{IndexMaintenance, Tombstones, WikidataIngest}
import graft.model.{Term, TermValue}
import Ast._

/** SPARQL Update over both store layouts. The core gates:
  *
  *   - set semantics (insert-existing and delete-absent are no-ops,
  *     delete-then-reinsert cancels the tombstone instead of growing
  *     the store);
  *   - delete visibility through EVERY access path (main / subject /
  *     object / graph permutation, labels table);
  *   - vacuum is a pure physical fold: identical query results before
  *     and after, tombstones cleared, per-copy row counts consistent,
  *     fully-emptied partitions actually removed from disk.
  */
class UpdateSpec extends SparkTestBase {

  /** Synthetic quads: entity Q(i) --P(1 + i%4)--> Q(1000+i) in graph
    * Q(i), i in [0, n). P nums 1..4 land in distinct buckets under a
    * 4-bucket layout.
    */
  private def mkQuads(n: Int): DataFrame = {
    val nulStr = lit(null).cast("string")
    val nulNum = lit(null).cast("double")
    def qEnt(e: org.apache.spark.sql.Column) = Term.struct_(lit(Term.Kind.Q),
      e.cast("double"), nulStr, nulStr,
      concat(lit("Q:"), e.cast("long").cast("string")))
    def pTerm(num: org.apache.spark.sql.Column) = Term.struct_(lit(Term.Kind.P),
      num.cast("double"), nulStr, nulStr,
      concat(lit("P:"), num.cast("long").cast("string")))
    spark.range(n).select(
      qEnt(col("id")).as("s"),
      pTerm(col("id") % 4 + 1).as("p"),
      qEnt(col("id") + 1000).as("o"),
      Term.struct_(lit(Term.Kind.Edge), nulNum,
        concat(lit("e"), col("id").cast("string")), nulStr,
        concat(lit("bn:e"), col("id").cast("string"))).as("id"),
      qEnt(col("id")).as("graph"),
      col("id").as("ord"))
  }

  private def buildIdx(n: Int, buckets: Int = 4): String = {
    val flat = Workspace.scratch("graft-up-flat")
    val idx = Workspace.scratch("graft-up-idx")
    WikidataIngest.writeStore(spark, mkQuads(n), flat)
    WikidataIngest.createIndex(spark, flat, idx, buckets)
    idx
  }

  private def rows(q: String, dir: String): Set[Seq[String]] =
    Sparql.rendered(spark, q, dir).collect()
      .map(r => (0 until r.length).map(i => String.valueOf(r.get(i)))).toSet

  // ------------------------------------------------------------- parser

  test("parser: the four forms and ;-sequences") {
    val ops = Parser.parseUpdate(
      """PREFIX ex: <http://example.org/>
        |INSERT DATA { wd:Q1 wdt:P1 wd:Q2 . GRAPH wd:Q9 { wd:Q1 wdt:P2 wd:Q3 } } ;
        |DELETE DATA { wd:Q1 wdt:P1 wd:Q2 } ;
        |DELETE WHERE { ?s wdt:P1 ?o } ;
        |DELETE { ?s wdt:P2 ?o } INSERT { ?s wdt:P3 ?o } WHERE { ?s wdt:P2 ?o }
        |""".stripMargin)
    assert(ops.length == 4)
    val ins = ops.head.asInstanceOf[InsertData]
    assert(ins.quads.length == 2)
    assert(ins.quads(0).g.isEmpty && ins.quads(1).g.nonEmpty)
    assert(ops(1).isInstanceOf[DeleteData])
    val dw = ops(2).asInstanceOf[Modify]
    assert(dw.deleteTpl.length == 1 && dw.insertTpl.isEmpty)
    val mod = ops(3).asInstanceOf[Modify]
    assert(mod.deleteTpl.length == 1 && mod.insertTpl.length == 1)
  }

  test("parser: rejections") {
    intercept[Parser.ParseException](
      Parser.parseUpdate("INSERT DATA { ?s wdt:P1 wd:Q2 }")) // var in DATA
    intercept[Parser.ParseException](
      Parser.parseUpdate("DELETE WHERE { _:b wdt:P1 ?o }")) // bnode
    intercept[Parser.ParseException](
      Parser.parseUpdate("DELETE WHERE { ?s wdt:P1/wdt:P2 ?o }")) // path
    intercept[Parser.ParseException](
      Parser.parseUpdate("DELETE DATA { wd:Q1 wdt:P1 wd:Q2 } garbage"))
    intercept[Parser.ParseException](Parser.parseUpdate("  "))
  }

  // ---------------------------------------------- partitioned store ops

  test("delete hides the quad on every access path; insert set semantics") {
    val idx = buildIdx(40)
    // Q0 -P1-> Q1000 in graph Q0
    assert(rows("SELECT ?o WHERE { wd:Q0 wdt:P1 ?o }", idx).nonEmpty)
    val r = Update.execute(spark,
      "DELETE DATA { wd:Q0 wdt:P1 wd:Q1000 }", idx)
    assert(r.deleted == 1 && r.inserted == 0)
    assert(rows("SELECT ?o WHERE { wd:Q0 wdt:P1 ?o }", idx).isEmpty) // sub copy
    assert(rows("SELECT ?s WHERE { ?s wdt:P1 wd:Q1000 }", idx).isEmpty) // obj copy
    assert(rows("SELECT ?s ?o WHERE { GRAPH wd:Q0 { ?s ?p ?o } }", idx).isEmpty) // gr copy
    assert(!rows("SELECT ?s ?o WHERE { ?s wdt:P1 ?o }", idx) // main copy
      .exists(_.head.contains("Q0")))
    // deleting it again is a no-op; inserting an already-visible quad too
    assert(Update.execute(spark, "DELETE DATA { wd:Q0 wdt:P1 wd:Q1000 }", idx)
      .deleted == 0)
    assert(Update.execute(spark, "INSERT DATA { wd:Q1 wdt:P2 wd:Q1001 }", idx)
      == Update.Result(0, 0, 0))
  }

  test("delete-then-reinsert cancels the tombstone instead of re-appending") {
    val idx = buildIdx(20)
    val rawCount = spark.read.parquet(s"$idx/statements.parquet").count()
    assert(Update.execute(spark, "DELETE DATA { wd:Q2 wdt:P3 wd:Q1002 }", idx)
      .deleted == 1)
    assert(Tombstones.exists(idx))
    val r = Update.execute(spark, "INSERT DATA { wd:Q2 wdt:P3 wd:Q1002 }", idx)
    assert(r == Update.Result(0, 0, 1)) // undelete, no append
    assert(!Tombstones.exists(idx))
    assert(spark.read.parquet(s"$idx/statements.parquet").count() == rawCount)
    assert(rows("SELECT ?o WHERE { wd:Q2 wdt:P3 ?o }", idx).nonEmpty)
  }

  test("insert lands in every permutation and the labels table") {
    val idx = buildIdx(12)
    val gen0 = IndexMaintenance.readMeta(spark, idx).generation
    val r = Update.execute(spark,
      """INSERT DATA {
        |  GRAPH wd:Q77 { wd:Q77 wdt:P1 wd:Q1 }
        |  wd:Q77 rdfs:label "seventy-seven"@en
        |}""".stripMargin, idx)
    assert(r.inserted == 2)
    assert(rows("SELECT ?o WHERE { wd:Q77 wdt:P1 ?o }", idx).nonEmpty)
    assert(rows("SELECT ?s WHERE { ?s wdt:P1 wd:Q1 }", idx)
      .exists(_.head.contains("Q77")))
    assert(rows("SELECT ?s ?o WHERE { GRAPH wd:Q77 { ?s wdt:P1 ?o } }", idx).nonEmpty)
    // label normalized to the ingest shape → label service resolves it
    val lab = rows(
      """SELECT ?xLabel WHERE { VALUES ?x { wd:Q77 }
        |SERVICE wikibase:label { bd:serviceParam wikibase:language "en" } }""".stripMargin,
      idx)
    assert(lab.exists(_.head.contains("seventy-seven")))
    assert(IndexMaintenance.readMeta(spark, idx).generation > gen0)
  }

  test("DELETE WHERE and DELETE/INSERT WHERE rewrite") {
    val idx = buildIdx(40) // P2 rows: i % 4 == 1 → 10 rows
    val r = Update.execute(spark, "DELETE WHERE { ?s wdt:P2 ?o }", idx)
    assert(r.deleted == 10)
    assert(rows("SELECT ?s WHERE { ?s wdt:P2 ?o }", idx).isEmpty)
    // rename P3 → P9 (delete + insert against the same bindings)
    val n3 = rows("SELECT ?s ?o WHERE { ?s wdt:P3 ?o }", idx)
    assert(n3.size == 10)
    val m = Update.execute(spark,
      "DELETE { ?s wdt:P3 ?o } INSERT { ?s wdt:P9 ?o } WHERE { ?s wdt:P3 ?o }", idx)
    assert(m.deleted == 10 && m.inserted == 10)
    assert(rows("SELECT ?s ?o WHERE { ?s wdt:P3 ?o }", idx).isEmpty)
    assert(rows("SELECT ?s ?o WHERE { ?s wdt:P9 ?o }", idx) == n3)
  }

  test("graph-scoped delete vs union-default-graph delete") {
    val idx = buildIdx(8)
    // the same triple in two named graphs
    Update.execute(spark,
      """INSERT DATA { GRAPH wd:Q201 { wd:Q200 wdt:P1 wd:Q300 }
        |GRAPH wd:Q202 { wd:Q200 wdt:P1 wd:Q300 } }""".stripMargin, idx)
    assert(rows("SELECT ?g WHERE { GRAPH ?g { wd:Q200 wdt:P1 wd:Q300 } }", idx).size == 2)
    // GRAPH-scoped delete removes exactly one copy
    assert(Update.execute(spark,
      "DELETE DATA { GRAPH wd:Q201 { wd:Q200 wdt:P1 wd:Q300 } }", idx).deleted == 1)
    assert(rows("SELECT ?g WHERE { GRAPH ?g { wd:Q200 wdt:P1 wd:Q300 } }", idx).size == 1)
    assert(rows("SELECT ?o WHERE { wd:Q200 wdt:P1 ?o }", idx).size == 1)
    // un-GRAPHed delete hides the triple everywhere (union model)
    assert(Update.execute(spark,
      "DELETE DATA { wd:Q200 wdt:P1 wd:Q300 }", idx).deleted == 1)
    assert(rows("SELECT ?o WHERE { wd:Q200 wdt:P1 ?o }", idx).isEmpty)
    assert(rows("SELECT ?g WHERE { GRAPH ?g { wd:Q200 wdt:P1 wd:Q300 } }", idx).isEmpty)
  }

  // ------------------------------------------------------------- vacuum

  test("vacuum folds tombstones in: identical results, clean copies, dead partitions removed") {
    val idx = buildIdx(40, buckets = 4)
    // delete ALL P2 rows (bucket 2 of the main copy becomes empty) and
    // one entity's whole graph
    Update.execute(spark,
      "DELETE WHERE { ?s wdt:P2 ?o } ; DELETE WHERE { GRAPH wd:Q4 { ?s ?p ?o } }", idx)
    val queries = Seq(
      "SELECT ?s ?o WHERE { ?s wdt:P2 ?o }",
      "SELECT ?s ?p ?o WHERE { ?s ?p ?o }",
      "SELECT ?p ?o WHERE { wd:Q4 ?p ?o }",
      "SELECT ?s WHERE { ?s wdt:P1 wd:Q1004 }",
      "SELECT ?s ?o WHERE { GRAPH wd:Q4 { ?s ?p ?o } }")
    val before = queries.map(rows(_, idx))
    assert(before.head.isEmpty)
    assert(new java.io.File(s"$idx/statements.parquet/p_bucket=2").exists())
    val touched = IndexMaintenance.vacuumIndex(spark, idx)
    assert(touched > 0)
    assert(!Tombstones.exists(idx))
    assert(queries.map(rows(_, idx)) == before)
    // the emptied predicate bucket is gone from disk
    assert(!new java.io.File(s"$idx/statements.parquet/p_bucket=2").exists())
    // all four copies hold the same row count again
    assert(IndexMaintenance.repairCheck(spark, idx)
      .filter(_._1.startsWith("statements")).values.toSet.size == 1)
    // idempotent: nothing left to fold
    assert(IndexMaintenance.vacuumIndex(spark, idx) == 0)
  }

  test("updates refuse a store with a pending maintenance marker") {
    val idx = buildIdx(8)
    new java.io.File(idx, IndexMaintenance.PendingMarker).createNewFile()
    intercept[IllegalArgumentException](
      Update.execute(spark, "DELETE DATA { wd:Q0 wdt:P1 wd:Q1000 }", idx))
    intercept[IllegalArgumentException](IndexMaintenance.vacuumIndex(spark, idx))
  }

  // ---------------------------------------------------------- flat store

  test("flat store: insert, delete, label maintenance, vacuum") {
    val flat = Workspace.scratch("graft-up-flatonly")
    WikidataIngest.writeStore(spark, mkQuads(16), flat)
    val r = Update.execute(spark,
      """INSERT DATA { wd:Q500 wdt:P1 wd:Q0 . wd:Q500 rdfs:label "five hundred"@en } ;
        |DELETE DATA { wd:Q3 wdt:P4 wd:Q1003 }""".stripMargin, flat)
    assert(r.inserted == 2 && r.deleted == 1)
    assert(rows("SELECT ?o WHERE { wd:Q500 wdt:P1 ?o }", flat).nonEmpty)
    assert(rows("SELECT ?o WHERE { wd:Q3 wdt:P4 ?o }", flat).isEmpty)
    val lab = rows(
      """SELECT ?xLabel WHERE { VALUES ?x { wd:Q500 }
        |SERVICE wikibase:label { bd:serviceParam wikibase:language "en" } }""".stripMargin,
      flat)
    assert(lab.exists(_.head.contains("five hundred")))
    // delete the label; the label service must stop seeing it
    assert(Update.execute(spark,
      """DELETE DATA { wd:Q500 rdfs:label "five hundred"@en }""", flat).deleted == 1)
    val lab2 = rows(
      """SELECT ?xLabel WHERE { VALUES ?x { wd:Q500 }
        |SERVICE wikibase:label { bd:serviceParam wikibase:language "en" } }""".stripMargin,
      flat)
    assert(!lab2.exists(_.head.contains("five hundred")))
    // vacuum the flat store: same results, tombstones gone
    val q = "SELECT ?s ?p ?o WHERE { ?s ?p ?o }"
    val before = rows(q, flat)
    assert(IndexMaintenance.vacuumIndex(spark, flat) > 0)
    assert(!Tombstones.exists(flat))
    assert(rows(q, flat) == before)
  }

  test("template quad with an unbound GRAPH variable instantiates nothing (§3.1.3)") {
    val idx = buildIdx(8)
    // ?g is in scope but never binds — the GRAPH-scoped template must
    // skip, NOT collapse to a null graph (which would mean a
    // delete-everywhere tombstone in the union dataset model)
    val r = Update.execute(spark,
      """DELETE { GRAPH ?g { ?s wdt:P1 ?o } }
        |WHERE { ?s wdt:P1 ?o OPTIONAL { ?s wdt:P99 ?g } }""".stripMargin, idx)
    assert(r.deleted == 0)
    assert(rows("SELECT ?s ?o WHERE { ?s wdt:P1 ?o }", idx).nonEmpty)
  }

  test("const-only templates over a WHERE gate") {
    val idx = buildIdx(8)
    // WHERE matches → the const quad is inserted once
    val r1 = Update.execute(spark,
      "INSERT { wd:Q600 wdt:P1 wd:Q601 } WHERE { ?s wdt:P1 ?o }", idx)
    assert(r1.inserted == 1)
    // WHERE empty → nothing happens
    val r2 = Update.execute(spark,
      "INSERT { wd:Q602 wdt:P1 wd:Q603 } WHERE { ?s wdt:P77 ?o }", idx)
    assert(r2 == Update.Result(0, 0, 0))
    assert(rows("SELECT ?o WHERE { wd:Q602 wdt:P1 ?o }", idx).isEmpty)
  }

  test("driver-tier DATA updates equal the distributed path (bit-equal stores)") {
    // the same sequence through both tiers must leave byte-equivalent
    // state: result counts, every access path, tombstones, raw ords.
    // Covers: multi-quad insert (label normalization + GRAPH clause),
    // graph-scoped AND union-default deletes, and a mixed re-insert
    // (one undelete + one fresh append in ONE op, which exercises the
    // fresh/hidden/toAppend split and the sorted ordinal stamp).
    val updates = Seq(
      """INSERT DATA { wd:Q900 wdt:P9 "zz" .
        |  wd:Q901 rdfs:label "planted"@en .
        |  GRAPH wd:Q3 { wd:Q902 wdt:P9 wd:Q900 } }""".stripMargin,
      """DELETE DATA { wd:Q1 wdt:P2 wd:Q1001 .
        |  GRAPH wd:Q2 { wd:Q2 wdt:P3 wd:Q1002 } }""".stripMargin,
      "INSERT DATA { wd:Q1 wdt:P2 wd:Q1001 . wd:Q950 wdt:P9 wd:Q951 }")
    def runAll(idx: String): Seq[Update.Result] =
      updates.map(u => Update.execute(spark, u, idx))
    val a = buildIdx(30)
    val b = buildIdx(30)
    val ra = runAll(a) // driver tier (templates under the default bound)
    val rb = try {
      spark.conf.set("spark.graft.update.driverMaxTemplates", "0")
      runAll(b) // distributed tier, forced
    } finally spark.conf.unset("spark.graft.update.driverMaxTemplates")
    assert(ra === rb)
    for (q <- Seq(
      "SELECT ?s ?p ?o WHERE { ?s ?p ?o }",
      "SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s ?p ?o } }",
      """SELECT ?l WHERE { VALUES ?x { wd:Q901 } SERVICE wikibase:label {
        | bd:serviceParam wikibase:language "en". }
        | BIND(?xLabel AS ?l) }""".stripMargin))
      assert(rows(q, a) === rows(q, b), s"mismatch for: $q")
    def tomb(idx: String): Seq[String] =
      Tombstones.read(spark, idx)
        .map(_.collect().map(_.toString).sorted.toSeq).getOrElse(Nil)
    assert(tomb(a) === tomb(b))
    def raw(idx: String): Seq[String] =
      spark.read.parquet(s"$idx/statements.parquet")
        .select(col("s.key"), col("p.key"), col("o.key"),
          col("graph.key"), col("ord"))
        .collect().map(_.toString).sorted.toSeq
    assert(raw(a) === raw(b))
  }
}
