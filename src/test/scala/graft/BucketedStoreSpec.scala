package graft

import graft.ingest.WikidataIngest
import graft.sparql.Sparql

/** The predicate-bucket partitioned layout (SURVEY §1.6, the analog of
  * the reference's `relation_pre` permutation): identical query results
  * to the flat layout, and bound-predicate scans prune partitions.
  */
class BucketedStoreSpec extends SparkTestBase {

  private lazy val flatDir = {
    val d = WikidataIngest.defaultDir
    WikidataIngest.statements(spark, d)
    d
  }

  private lazy val partDir = {
    val d = Workspace.scratch("graft-part")
    WikidataIngest.buildPartitioned(spark, WikidataIngest.fixturePath, d)
    d
  }

  test("partitioned store returns identical results for every scan shape") {
    val queries = Seq(
      "SELECT ?sub ?pred ?obj WHERE { ?sub ?pred ?obj . }",
      "SELECT ?s ?o WHERE { ?s wdt:P31 ?o . }",
      "SELECT ?p ?b WHERE { wdt:Q31 ?p ?b . }",
      "SELECT ?p2 ?b WHERE { ?b ?p2 wdt:Q31 . }", // reverse scan → obj copy
      "SELECT ?s ?stmt WHERE { ?s p:P31 ?stmt . }",
      "SELECT ?q ?v WHERE { wd:Q31 p:P1082 ?stmt . ?stmt ?q ?v . }",
      "SELECT ?x WHERE { wd:Q31 wdt:P47* ?x }") // path fixpoint over the layout
    for (q <- queries) {
      val flat = Sparql.rendered(spark, q, flatDir).collect().map(_.toString).sorted
      val part = Sparql.rendered(spark, q, partDir).collect().map(_.toString).sorted
      assert(flat.sameElements(part), s"result mismatch for: $q")
    }
  }

  test("bound-subject scan routes to the subject copy and prunes its bucket") {
    val df = Sparql.query(spark, "SELECT ?p ?b WHERE { wdt:Q31 ?p ?b . }", partDir)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val expected = WikidataIngest.predBucket(31L)
    assert(plan.contains("statements_sub"), s"not routed to subject copy:\n$plan")
    assert(plan.matches(s"(?s).*s_bucket#\\d+ = $expected.*"),
      s"missing s_bucket partition filter:\n$plan")
    assert(df.count() === 1354L) // test_requests.txt:16-21
  }

  test("bound-object reverse scan routes to the object copy and prunes its bucket") {
    val df = Sparql.query(spark, "SELECT ?p2 ?b WHERE { ?b ?p2 wdt:Q31 . }", partDir)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val expected = WikidataIngest.predBucket(31L)
    assert(plan.contains("statements_obj"), s"reverse scan not routed to obj copy:\n$plan")
    assert(plan.matches(s"(?s).*o_bucket#\\d+ = $expected.*"),
      s"missing o_bucket partition filter:\n$plan")
    assert(df.count() === 1L) // same result as the flat store (sp03)
  }

  test("constant-GRAPH scan routes to the graph copy and prunes its bucket") {
    val sparql = "SELECT ?s ?p ?o WHERE { GRAPH wd:Q31 { ?s ?p ?o } }"
    val df = Sparql.query(spark, sparql, partDir)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val expected = WikidataIngest.predBucket(31L)
    assert(plan.contains("statements_gr"), s"not routed to graph copy:\n$plan")
    assert(plan.matches(s"(?s).*g_bucket#\\d+ = $expected.*"),
      s"missing g_bucket partition filter:\n$plan")
    // identical rows to the flat store's key-filter path
    val flat = Sparql.query(spark, sparql, flatDir)
    assert(df.count() === flat.count())
    assert(df.count() > 0)
    // a GRAPH + bound-predicate pattern keeps the routing
    val dfP = Sparql.query(spark,
      "SELECT ?s ?o WHERE { GRAPH wd:Q31 { ?s wdt:P31 ?o } }", partDir)
    val planP = dfP.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(planP.contains("statements_gr"), s"pred arm not routed:\n$planP")
    val flatP = Sparql.query(spark,
      "SELECT ?s ?o WHERE { GRAPH wd:Q31 { ?s wdt:P31 ?o } }", flatDir)
    assert(dfP.collect().map(_.toString).sorted.toSeq ===
      flatP.collect().map(_.toString).sorted.toSeq)
  }

  test("label service on the partitioned store prunes (kind, lang) partitions") {
    val q =
      """SELECT ?s ?sLabel WHERE { ?s wdt:P31 wd:Q3624078 .
        |SERVICE wikibase:label { bd:serviceParam wikibase:language "en,de". } }""".stripMargin
    val df = Sparql.query(spark, q, partDir)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.matches("(?s).*kind#\\d+ = label.*"),
      s"missing kind partition filter:\n$plan")
    assert(plan.matches("(?s).*lang#\\d+ IN \\(en,de\\).*") ||
      plan.matches("(?s).*lang#\\d+ = en.*"),
      s"missing lang partition filter:\n$plan")
    // same result as the flat store (sp31)
    val flat = Sparql.rendered(spark, q, flatDir).collect().map(_.toString).sorted
    val part = Sparql.rendered(spark, q, partDir).collect().map(_.toString).sorted
    assert(flat.sameElements(part))
  }

  test("path steps keep predicate-bucket pruning on the partitioned store") {
    // an alternative path has no closure checkpoint, so both step
    // scans stay visible in the plan; the fixpoint paths build their
    // per-round edges from the same predScan
    val df = Sparql.query(spark,
      "SELECT ?x WHERE { wd:Q31 (wdt:P47|wdt:P36) ?x }", partDir)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    for (p <- Seq(47L, 36L)) {
      val expected = WikidataIngest.predBucket(p)
      assert(plan.matches(s"(?s).*p_bucket#\\d+ = $expected.*"),
        s"path step P$p lost partition pruning:\n$plan")
    }
    assert(df.count() > 0)
    // the fixpoint path still returns the fixture anchor on this layout
    assert(Sparql.query(spark,
      "SELECT ?x WHERE { wd:Q31 wdt:P47+ ?x }", partDir).count() === 6L)
  }

  test("a store built with a non-default bucket count still answers correctly") {
    // the writer persists its bucket count in meta.json and the reader
    // buckets with it — a drifted count would silently return empty
    // bound-subject/object scans (round-4 ADVICE)
    val d = Workspace.scratch("graft-part16")
    WikidataIngest.buildPartitioned(spark, WikidataIngest.fixturePath, d, buckets = 16)
    assert(WikidataIngest.storeBuckets(d) === Some(16))
    val queries = Seq(
      "SELECT ?p ?b WHERE { wdt:Q31 ?p ?b . }", // subject copy
      "SELECT ?p2 ?b WHERE { ?b ?p2 wdt:Q31 . }", // object copy
      "SELECT ?s ?o WHERE { ?s wdt:P31 ?o . }") // predicate buckets
    for (q <- queries) {
      val flat = Sparql.rendered(spark, q, flatDir).collect().map(_.toString).sorted
      val b16 = Sparql.rendered(spark, q, d).collect().map(_.toString).sorted
      assert(flat.sameElements(b16), s"bucket-count drift broke: $q")
    }
  }

  test("the full gated sp pack is layout-independent (Verify's --partitioned-store)") {
    // every driver-gated SPARQL entry, flat vs partitioned — the
    // CI-side guarantee behind running Verify against the scale layout
    val spQueries = graft.queries.SparqlQueries.queries.toSeq.sortBy(_._1)
    def runAll(): Map[String, Seq[String]] = spQueries.map { case (name, fn) =>
      name -> fn(spark, "/root/testdata/sf0.001").collect().map(_.toString).sorted.toSeq
    }.toMap
    val flat = runAll()
    spark.conf.set("spark.graft.store.dir", partDir)
    try {
      val part = runAll()
      for ((name, rows) <- flat)
        assert(part(name) === rows, s"layout divergence in $name")
    } finally spark.conf.unset("spark.graft.store.dir")
  }

  test("bound-predicate scan prunes predicate-bucket partitions") {
    val df = Sparql.query(spark, "SELECT ?s ?o WHERE { ?s wdt:P31 ?o . }", partDir)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val expected = WikidataIngest.predBucket(31L)
    assert(plan.contains(s"p_bucket = $expected") || plan.contains("PartitionFilters"),
      s"no partition pruning in:\n$plan")
    assert(plan.contains("PartitionFilters: [isnotnull(p_bucket"), plan)
  }
}
