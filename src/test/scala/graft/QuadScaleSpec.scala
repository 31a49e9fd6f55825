package graft

import org.apache.spark.sql.functions._

import graft.ingest.WikidataIngest
import graft.sparql.Sparql

/** Pins the QuadScale harness's PLANTED invariants at the smallest
  * legal size, for both data shapes. The harness itself asserts these
  * at 1M-32M quads (nonzero exit on any miss); this spec keeps the
  * generator honest at test speed so a refactor can't silently shift a
  * planted count and make the scale ladder assert the wrong thing.
  */
class QuadScaleSpec extends SparkTestBase {

  private val nE = 800L // smallest multiple of 800 (skew alignment)

  test("uniform generator plants the documented counts") {
    val df = QuadScale.syntheticStatements(spark, nE).cache()
    try {
      assert(df.count() === QuadScale.totalQuads(nE))
      val p1 = df.filter(col("p.key") === "P:1")
      assert(p1.count() === nE)
      // every class holds exactly nE/32 instances
      val perClass = p1.groupBy(col("o.num")).count()
        .select(col("count")).distinct().collect().map(_.getLong(0)).toSeq
      assert(perClass === Seq(nE / 32))
    } finally df.unpersist()
  }

  test("skew generator plants the hub counts exactly") {
    val df = QuadScale.syntheticStatements(spark, nE, skew = true).cache()
    try {
      assert(df.count() === QuadScale.totalQuads(nE, skew = true))
      val p1 = df.filter(col("p.key") === "P:1")
      assert(p1.count() === nE)
      // hub class Q5 holds 9/32 of P1; 8 classes empty; 23 at nE/32
      val byClass = p1.groupBy(col("o.num")).count().collect()
        .map(r => r.getDouble(0).toLong -> r.getLong(1)).toMap
      assert(byClass(5L) === 9 * nE / 32)
      assert(byClass.size === 24)
      assert(byClass.removed(5L).values.toSet === Set(nE / 32))
      // hub subject Q32 holds exactly 1% of the 6·nE bulk claims
      val hubSubj = df.filter(col("s.key") === "Q:32").count()
      assert(hubSubj === 6 * nE / 100 + 2) // + its own label and P1
      // P70: nE rows, 20% of objects on Q33, none on the Q32 hub
      val p70 = df.filter(col("p.key") === "P:70")
      assert(p70.count() === nE)
      assert(p70.filter(col("o.key") === "Q:33").count() === nE / 5)
      assert(p70.filter(col("s.num") < 33).count() === 0)
    } finally df.unpersist()
  }

  test("skew store answers the planted skew queries through the real pipeline") {
    val base = Workspace.scratch("graft-qs-spec")
    WikidataIngest.writeStore(spark,
      QuadScale.syntheticStatements(spark, nE, skew = true), s"$base/flat")
    WikidataIngest.createIndex(spark, s"$base/flat", s"$base/idx")
    var failures = List.empty[String]
    QuadScale.plantedQueries(nE, skew = true, m => failures ::= m).foreach {
      case (name, text, expected, deepCheck) =>
        val df = Sparql.query(spark, text, s"$base/idx")
        assert(df.count() === expected, s"query $name row count")
        deepCheck(df)
    }
    assert(failures.isEmpty, failures.mkString("; "))
    // the harness's append tier, pinned at test size: a delta of new
    // entities lands in every pruned access path with planted counts
    val nD = QuadScale.Classes.toLong
    val appended = graft.ingest.IndexMaintenance.appendToIndex(
      spark, s"$base/idx", QuadScale.syntheticDelta(spark, nE, nD))
    assert(appended === 2 * nD)
    assert(Sparql.query(spark, "SELECT ?x ?c WHERE { ?x wdt:P1 ?c }",
      s"$base/idx").count() === nE + nD)
    assert(Sparql.query(spark,
      s"SELECT ?s ?p ?o WHERE { GRAPH wd:Q$nE { ?s ?p ?o } }",
      s"$base/idx").count() === 2L)
    // the WARM-sitting planted formulas: every headline shape's count,
    // adjusted for the append above, must hold on the maintained store
    // — this is what `runMain graft.QuadScale` asserts when it reuses
    // a store a fresh sitting already appended to
    failures = Nil
    QuadScale.plantedQueries(nE, skew = true, m => failures ::= m,
      appended = nD).foreach {
      case (name, text, expected, deepCheck) =>
        val df = Sparql.query(spark, text, s"$base/idx")
        assert(df.count() === expected, s"warm query $name row count")
        deepCheck(df)
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }
}
