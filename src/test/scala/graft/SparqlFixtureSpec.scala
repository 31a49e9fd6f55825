package graft

import graft.ingest.WikidataIngest
import graft.sparql.Sparql
import org.apache.spark.sql.functions.col

/** End-to-end parity on the reference's fixture and query corpus:
  * `first_5_lines.txt` (here the store-derived equivalent
  * [[WikidataIngest.fixturePath]], see FIXTURES.md §1) + the reference's
  * `test_requests.txt` (expected row counts in its comments) +
  * `query_example.txt`.
  */
class SparqlFixtureSpec extends SparkTestBase {

  private lazy val dir = {
    val d = "/root/repo/data/wikidata"
    WikidataIngest.statements(spark, d) // builds if absent
    d
  }

  private def rows(q: String): Long = Sparql.query(spark, q, dir).count()

  test("ingest produces 3385 quads (test_requests.txt:9-14)") {
    assert(WikidataIngest.statements(spark, dir).count() === 3385L)
  }

  test("derived fixtures reproduce the committed stores they were derived from") {
    // the fixtures are re-synthesized from data/wikidata and
    // data/wikidata-lex (tools/derive_fixtures.py), not the reference's
    // bytes: ingesting the dump must give the store back row for row,
    // ord included, and unwrapping the API wrapper must give the lexeme
    // dump line back byte for byte
    val cols = Seq("s", "p", "o", "id", "graph", "ord").map(col)
    val got = WikidataIngest.ingest(spark, WikidataIngest.fixturePath).select(cols: _*)
    val want = spark.read.parquet(s"${WikidataIngest.defaultDir}/statements.parquet")
      .select(cols: _*)
    assert(got.exceptAll(want).count() === 0L)
    assert(want.exceptAll(got).count() === 0L)
    val dump = java.nio.file.Files.readString(
      java.nio.file.Path.of(WikidataIngest.lexemeDir, "dump.jsonl"))
    assert(WikidataIngest.unwrapEntities(WikidataIngest.lexemeFixturePath)
      .map(_ + "\n").mkString === dump)
  }

  test("spec-correct OPTIONAL filter mode diverges from reference parity mode") {
    // Textbook case (SPARQL spec §6.2-style): the filter references a
    // variable bound only inside the OPTIONAL.
    val q =
      """SELECT ?a ?b WHERE {
        |  VALUES ?a { 1 2 }
        |  OPTIONAL { VALUES (?a ?b) { (1 10) (2 20) } FILTER(?b > 15) }
        |}""".stripMargin
    // parity (default): the reference evaluates the filter over the LEFT
    // side, where ?b is unbound → EBV error → every row dropped
    assert(Sparql.query(spark, q, dir).count() === 0L)
    // spec mode: the filter sees each joined solution; a=1's only match
    // fails it and survives unbound, a=2's match passes
    spark.conf.set("spark.graft.optional.specFilter", "true")
    try {
      val rs = Sparql.rendered(spark, q, dir).collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).toSet
      assert(rs === Set(("1", None), ("2", Some("20"))))
    } finally spark.conf.set("spark.graft.optional.specFilter", "false")
  }

  test("spec-correct LATERAL applies a sub-select LIMIT per left solution") {
    // Q31 has 11 P1343 values and Q23 has 14: a correlated LIMIT 2
    // keeps 2 PER subject; the reference's plain-join reading (default)
    // slices once globally, so the two modes genuinely diverge.
    val q =
      """SELECT ?s ?src WHERE { ?s wdt:P31 ?o .
        |  LATERAL { SELECT ?s ?src WHERE { ?s wdt:P1343 ?src } ORDER BY ?src LIMIT 2 } }""".stripMargin
    val parity = Sparql.query(spark, q, dir).collect()
      .map(r => r.getStruct(0).getAs[String]("key")).toSeq
    spark.conf.set("spark.graft.lateral.spec", "true")
    try {
      val spec = Sparql.query(spark, q, dir).collect()
        .map(r => r.getStruct(0).getAs[String]("key")).toSeq
      // spec mode: every P31 subject with P1343 rows contributes 2 rows
      val bySubject = spec.groupBy(identity).view.mapValues(_.size).toMap
      assert(bySubject.values.forall(_ % 2 == 0), s"per-subject slice broken: $bySubject")
      assert(bySubject.keySet.size > 1, "expected several subjects")
      // parity mode slices globally → strictly fewer subjects survive
      assert(parity.toSet.size < bySubject.keySet.size)
    } finally spark.conf.unset("spark.graft.lateral.spec")
  }

  test("spec-correct LATERAL honors DISTINCT + ORDER BY inside the sliced sub-select") {
    // the sub-select projects (s, t) out of (s, t, src) rows: every t
    // repeats once per src, so WITHOUT the dedup the ranked top-2 per
    // left row lands on two COPIES of the smallest t; DISTINCT must
    // collapse duplicates BEFORE the per-left LIMIT so the slice keeps
    // the two smallest DISTINCT t values (the pre-fix shape fell
    // through to `case other` and lost both DISTINCT and ORDER BY)
    val q =
      """SELECT ?s ?t WHERE { ?s wdt:P31 ?o .
        |  LATERAL { SELECT DISTINCT ?s ?t WHERE { ?s wdt:P31 ?t . ?s wdt:P1343 ?src }
        |            ORDER BY ?t LIMIT 2 } }""".stripMargin
    spark.conf.set("spark.graft.lateral.spec", "true")
    try {
      def tSets(query: String): Map[String, Set[String]] =
        Sparql.query(spark, query, dir).collect().map(r =>
          (r.getStruct(0).getAs[String]("key"), r.getStruct(1).getAs[String]("key")))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val bySubject = tSets(q)
      // distinct (s,t) pairs available per subject, unsliced
      val avail = tSets(
        "SELECT ?s ?t WHERE { ?s wdt:P31 ?t . ?s wdt:P1343 ?src }")
      assert(bySubject.nonEmpty)
      // the duplicate-copy bug keeps two COPIES of one t: every subject
      // with ≥2 distinct t available must emit exactly 2 distinct t
      assert(avail.values.exists(_.size >= 2), "fixture too thin")
      bySubject.foreach { case (s, ts) =>
        assert(ts.size === math.min(2, avail(s).size),
          s"subject $s sliced to ${ts.size} distinct t of ${avail(s).size} available")
        assert(ts.subsetOf(avail(s)))
      }
      // ranking consistency: the LIMIT 1 slice is a prefix of LIMIT 2
      val limit1 = tSets(q.replace("LIMIT 2", "LIMIT 1"))
      limit1.foreach { case (s, ts) =>
        assert(ts.size === 1 && ts.subsetOf(bySubject(s)),
          s"subject $s: LIMIT 1 slice $ts not a prefix of ${bySubject(s)}")
      }
    } finally spark.conf.unset("spark.graft.lateral.spec")
  }

  test("GRAPH pushes through UNION arms and binds the graph variable per arm") {
    val q =
      """SELECT DISTINCT ?g WHERE { GRAPH ?g {
        |  { wd:Q31 wdt:P31 ?o } UNION { wd:Q23 wdt:P31 ?o } } }""".stripMargin
    val gs = Sparql.rendered(spark, q, dir).collect().map(_.getString(0)).toSet
    assert(gs === Set("http://www.wikidata.org/entity/Q31",
      "http://www.wikidata.org/entity/Q23"))
  }

  test("GRAPH ?g {} enumerates the named graphs; constant-graph ASK checks existence") {
    val gs = Sparql.rendered(spark, "SELECT ?g WHERE { GRAPH ?g {} }", dir)
      .collect().map(_.getString(0)).toSet
    assert(gs.size === 4) // one provenance graph per fixture entity document
    assert(gs.contains("http://www.wikidata.org/entity/Q31"))
    def ask(q: String): Boolean =
      Sparql.query(spark, q, dir).head().getBoolean(0)
    assert(ask("ASK { GRAPH wd:Q31 {} }"))
    assert(!ask("ASK { GRAPH wd:Q999999999 {} }"))
  }

  test("property path under GRAPH ?g evaluates per named graph and binds ?g") {
    val rows = Sparql.query(spark,
      "SELECT ?g ?y WHERE { GRAPH ?g { wd:Q31 wdt:P463* ?y } }", dir)
      .collect().map { r =>
      (r.getAs[org.apache.spark.sql.Row]("g").getAs[String]("key"),
        r.getAs[org.apache.spark.sql.Row]("y").getAs[String]("key"))
    }
    val graphs = Sparql.query(spark, "SELECT ?g WHERE { GRAPH ?g {} }", dir).count()
    // every named graph contributes the zero-length row (?y = Q31)…
    assert(rows.count(_._2 == "Q:31") === graphs)
    // …and only Q31's own document extends the closure past it
    val extended = rows.filter(_._2 != "Q:31")
    assert(extended.nonEmpty && extended.forall(_._1 == "Q:31"))
    val constCount = Sparql.query(spark,
      "SELECT ?y WHERE { GRAPH wd:Q31 { wd:Q31 wdt:P463* ?y } }", dir).count()
    assert(rows.count(_._1 == "Q:31") === constCount)
  }

  test("property path under constant GRAPH traverses only in-graph edges") {
    // P463 (member of) closure from Q31, constrained to Q31's document:
    // the reachable set is Q31 plus its direct P463 objects (no other
    // entity's edges can extend the chain inside this graph)
    val direct = Sparql.query(spark,
      "SELECT ?y WHERE { GRAPH wd:Q31 { wd:Q31 wdt:P463 ?y } }", dir).count()
    assert(direct > 0)
    val closure = Sparql.query(spark,
      "SELECT ?y WHERE { GRAPH wd:Q31 { wd:Q31 wdt:P463* ?y } }", dir).count()
    assert(closure === direct + 1) // + the zero-length self row
    // absent graph: the same closure is just the start node
    val empty = Sparql.query(spark,
      "SELECT ?y WHERE { GRAPH wd:Q999999999 { wd:Q31 wdt:P463* ?y } }", dir).count()
    assert(empty === 1)
  }

  test("dataset clauses: FROM unions the default graph, FROM NAMED scopes GRAPH") {
    def n(q: String): Long = Sparql.query(spark, q, dir).count()
    // FROM wd:Q8: default graph = Q8's document only (453 quads)
    assert(n("SELECT ?s ?p ?o FROM wd:Q8 WHERE { ?s ?p ?o }") === 453L)
    // two FROM graphs union
    assert(n("SELECT ?s ?p ?o FROM wd:Q8 FROM wd:Q24 WHERE { ?s ?p ?o }") === 453L + 196L)
    // FROM NAMED only ⇒ default graph EMPTY, GRAPH sees just the named one
    assert(n("SELECT ?s ?p ?o FROM NAMED wd:Q8 WHERE { ?s ?p ?o }") === 0L)
    assert(n("SELECT ?g FROM NAMED wd:Q8 WHERE { GRAPH ?g {} }") === 1L)
    // FROM only ⇒ no named graphs: GRAPH matches nothing
    assert(n("SELECT ?g FROM wd:Q8 WHERE { GRAPH ?g { ?s ?p ?o } }") === 0L)
    // a constant GRAPH outside the FROM NAMED set is invisible
    assert(n("SELECT ?p FROM NAMED wd:Q8 WHERE { GRAPH wd:Q31 { wd:Q31 ?p ?o } }") === 0L)
    // ASK carries dataset clauses too
    assert(Sparql.query(spark,
      "ASK FROM wd:Q8 WHERE { ?s ?p ?o }", dir).head().getBoolean(0))
  }

  test("GRAPH constrains qualifier edges by provenance, not subject") {
    // qualifier rows' SUBJECT is the claim edge, but their provenance
    // graph is the parent document — a subject filter cannot express this
    val inGraph = Sparql.query(spark,
      "SELECT ?s ?p ?o WHERE { GRAPH wd:Q31 { ?s ?p ?o } }", dir).count()
    val bySubject = Sparql.query(spark,
      "SELECT ?p ?o WHERE { wd:Q31 ?p ?o }", dir).count()
    assert(inGraph > bySubject, s"graph $inGraph should exceed subject $bySubject")
  }

  test("GROUP_CONCAT max-elements guard bounds a pathological group") {
    def gc(q: String): String = Sparql.rendered(spark, q, dir).collect().head.getString(0)
    val q = "SELECT (GROUP_CONCAT(?n; SEPARATOR=\",\") AS ?gc) WHERE { VALUES ?n { 5 4 3 2 1 } }"
    assert(gc(q) === "1,2,3,4,5")
    spark.conf.set("spark.graft.groupConcat.maxElements", "3")
    try assert(gc(q) === "1,2,3")
    finally spark.conf.set("spark.graft.groupConcat.maxElements", "0")
    // the bounded aggregate keeps duplicates under the bound and
    // applies DISTINCT before bounding (buffer stays O(max) either way)
    val qDup = "SELECT (GROUP_CONCAT(?n; SEPARATOR=\",\") AS ?gc) WHERE { VALUES ?n { 3 1 2 1 2 1 } }"
    val qDist = "SELECT (GROUP_CONCAT(DISTINCT ?n; SEPARATOR=\",\") AS ?gc) WHERE { VALUES ?n { 3 1 2 1 2 1 } }"
    spark.conf.set("spark.graft.groupConcat.maxElements", "4")
    try {
      assert(gc(qDup) === "1,1,1,2")
      assert(gc(qDist) === "1,2,3")
    } finally spark.conf.set("spark.graft.groupConcat.maxElements", "0")
  }

  test("smoke: Belgium instance-of (query_example.txt:1-3)") {
    val n = rows("SELECT ?item WHERE { wdt:Q31 wdt:P31 ?item . }")
    assert(n === 7L) // observed on the fixture (reference publishes no count)
  }

  test("full scan ?s ?p ?o = 3385 (test_requests.txt:7-12)") {
    assert(rows("SELECT ?sub ?pred ?obj WHERE { ?sub ?pred ?obj . }") === 3385L)
  }

  test("wdt:Q31 ?p ?b = 1354 (test_requests.txt:16-21)") {
    assert(rows("SELECT ?p ?b WHERE { wdt:Q31 ?p ?b . }") === 1354L)
  }

  test("?b ?p2 wdt:Q31 = 1 (test_requests.txt:23-28)") {
    assert(rows("SELECT ?p2 ?b WHERE { ?b ?p2 wdt:Q31 . }") === 1L)
  }

  test("two-pattern join = 1 (test_requests.txt:30-37)") {
    assert(rows(
      """SELECT ?p ?b ?p2 WHERE { wdt:Q31 ?p ?b . ?b ?p2 wdt:Q31 . }""") === 1L)
  }

  test("COUNT / COUNT DISTINCT group-by (test_requests.txt:39-44)") {
    val df = Sparql.query(spark,
      """SELECT ?s (COUNT(DISTINCT ?p) as ?dis_number_pred) (COUNT(?p) as ?number_pred)
        |WHERE { ?s ?p ?x } GROUP BY ?s""".stripMargin, dir)
    val out = df.collect()
    // one group per distinct subject (5 entities + qualifier-bearing claim edges)
    val distinctSubjects = Sparql.query(spark,
      "SELECT DISTINCT ?s WHERE { ?s ?p ?x }", dir).count()
    assert(out.length.toLong === distinctSubjects)
    // every group: count >= distinct count >= 1
    out.foreach { r =>
      val dis = r.getStruct(1).getDouble(1)
      val cnt = r.getStruct(2).getDouble(1)
      assert(cnt >= dis && dis >= 1d)
    }
  }

  test("GROUP_CONCAT / SAMPLE group-by runs (test_requests.txt:47-51)") {
    val df = Sparql.query(spark,
      """SELECT ?s (COUNT(?o) as ?count_objects) (GROUP_CONCAT(?o;SEPARATOR = ",") as ?group_concat) (SAMPLE(?o) as ?sample)
        |WHERE { ?s wdt:P31 ?o } GROUP BY ?s""".stripMargin, dir)
    val out = df.collect()
    assert(out.nonEmpty)
  }

  test("CONSTRUCT instantiates its template over the solutions (ref todo!)") {
    val n = rows("CONSTRUCT { ?s wdt:P999 ?o } WHERE { ?s wdt:P36 ?o }")
    val distinctPairs = Sparql.query(spark,
      "SELECT DISTINCT ?s ?o WHERE { ?s wdt:P36 ?o }", dir).count()
    assert(n === distinctPairs)
  }

  test("DESCRIBE returns the subject's rows (ref todo!)") {
    assert(rows("DESCRIBE wd:Q8") ===
      rows("SELECT ?p ?o WHERE { wd:Q8 ?p ?o }"))
  }

  test("lexeme fixture is skipped whole, like the reference's strict serde") {
    // form_sense_example.txt wraps the lexeme in {"entities":{...}} and
    // has no labels/descriptions/aliases/claims at top level; the
    // reference's serde schema (parser.rs:62-96, required fields) fails
    // the line and produces no quads — replicated behavior.
    val df = WikidataIngest.ingest(spark, WikidataIngest.lexemeFixturePath)
    assert(df.count() === 0L)
  }

  test("opt-in lexeme ingest parses lemmas, forms and senses into quads") {
    // the extension the reference's schema visibly intends
    // (parser.rs:88-140 declares the structs that never deserialize):
    // same fixture, `--lexemes`, unwrapped to a dump line
    val lexDir = WikidataIngest.lexemeStore(spark)
    val df = spark.read.parquet(s"$lexDir/statements.parquet")
    // L4589: lemma + lexicalCategory + language + 1 claim + 2 forms +
    // 2 senses = 8 subject rows; F1 rep/feature/claim(+1 qualifier),
    // F2 rep/feature, S1 gloss+5 claims, S2 gloss+1 claim → 22 total
    assert(df.count() === 22L)
    assert(df.filter(col("s.key") === "L:4589").count() === 8L)
    val forms = Sparql.rendered(spark,
      "SELECT ?f WHERE { wd:L4589 ontolex:lexicalForm ?f . }", lexDir)
      .collect().map(_.getString(0)).sorted
    assert(forms.map(_.endsWith("-F1")).contains(true) && forms.length === 2)
    // join THROUGH the form node; feature is a Q-entity
    val feats = Sparql.rendered(spark,
      """SELECT ?feat WHERE { wd:L4589 ontolex:lexicalForm ?f .
        |  ?f wikibase:grammaticalFeature ?feat . }""".stripMargin, lexDir)
      .collect().map(_.getString(0)).toSet
    assert(feats === Set("http://www.wikidata.org/entity/Q110786",
      "http://www.wikidata.org/entity/Q146786"))
    // lemma rides the label service like any entity label
    val lab = Sparql.rendered(spark,
      """SELECT DISTINCT ?l ?lLabel WHERE { ?l ontolex:sense ?sense .
        |SERVICE wikibase:label { bd:serviceParam wikibase:language "en". } }""".stripMargin,
      lexDir).collect()
    assert(lab.length === 1 && lab(0).getString(1) === "flower")
    // default ingest (no flag) still skips lexeme dump lines — parity
    val strict = WikidataIngest.ingest(spark, s"$lexDir/dump.jsonl")
    assert(strict.count() === 0L)
  }

  test("spec-mode BNODE/STRDT/TIMEZONE: non-zero offsets; parity default stays Null") {
    // a store whose time values carry non-zero minute offsets (the repo
    // fixture is all tz=0), exercising the H/M duration rendering
    val tmp = java.nio.file.Files.createTempDirectory("graft-tz").toString
    def line(id: String, tz: Int) =
      s"""{"id":"$id","type":"item","labels":{},"descriptions":{},"aliases":{},
         |"claims":{"P569":[{"mainsnak":{"snaktype":"value","property":"P569",
         |"datatype":"time","datavalue":{"type":"time","value":{
         |"time":"+1990-01-02T03:04:05Z","precision":11,"before":0,"after":0,
         |"timezone":$tz,"calendarmodel":"http://www.wikidata.org/entity/Q1985727"}}},
         |"type":"statement","id":"$id$$x","rank":"normal"}]}}""".stripMargin.replace("\n", "")
    val dump = new java.io.PrintWriter(s"$tmp/dump.jsonl")
    try Seq(line("Q1", -300), line("Q2", 90), line("Q3", 0), line("Q4", -45))
      .foreach(dump.println)
    finally dump.close()
    WikidataIngest.build(spark, s"$tmp/dump.jsonl", tmp)
    val q = "SELECT ?s ?tzd WHERE { ?s wdt:P569 ?d . BIND(TIMEZONE(?d) AS ?tzd) }"
    // parity default: the reference's todo! Null → unbound
    assert(Sparql.rendered(spark, q, tmp).collect().forall(_.isNullAt(1)))
    spark.conf.set("spark.graft.functions.spec", "true")
    try {
      val got = Sparql.rendered(spark, q, tmp).collect()
        .map(r => r.getString(0).split("/").last -> r.getString(1)).toMap
      assert(got === Map("Q1" -> "-PT5H", "Q2" -> "PT1H30M",
        "Q3" -> "PT0S", "Q4" -> "-PT45M"))
      // STRDT parity default likewise Null; spec mode types the literal
      val sd = Sparql.rendered(spark,
        """SELECT ?i WHERE { VALUES ?x { "7" } BIND(STRDT(?x, xsd:integer) AS ?i) }""",
        tmp).collect()
      assert(sd(0).getString(0) === "7")
      // minted bnodes are recognized by spec-mode ISBLANK and — term
      // categories being disjoint — are NOT IRIs; entities the reverse
      val ib = Sparql.rendered(spark,
        """SELECT ?mb ?eb ?mi ?ei WHERE { ?s wdt:P569 ?d .
          |BIND(ISBLANK(BNODE()) AS ?mb) BIND(ISBLANK(?s) AS ?eb)
          |BIND(ISIRI(BNODE()) AS ?mi) BIND(ISIRI(?s) AS ?ei) } LIMIT 1""".stripMargin,
        tmp).collect()
      assert(ib(0).getString(0) === "true" && ib(0).getString(1) === "false")
      assert(ib(0).getString(2) === "false" && ib(0).getString(3) === "true")
    } finally spark.conf.unset("spark.graft.functions.spec")
  }

  test("spec-mode BNODE: lexical form and identity key carry the SAME minted value") {
    // regression: built from a shared uuid() Column, str and key got two
    // DIFFERENT uuids (nondeterministic expressions are re-seeded per
    // tree occurrence) — the native BNodeTerm node fills both from one
    spark.conf.set("spark.graft.functions.spec", "true")
    try {
      val rows = Sparql.query(spark,
        """SELECT ?b ?c WHERE { ?s wdt:P31 ?o .
          |BIND(BNODE() AS ?b) BIND(BNODE("tag") AS ?c) }""".stripMargin, dir)
        .collect()
      assert(rows.nonEmpty)
      val (labels, labelsC) = (rows.map(_.getStruct(0)), rows.map(_.getStruct(1)))
      labels.foreach { b => assert(b.getString(4) === "bn:" + b.getString(2)) }
      labelsC.foreach { c =>
        assert(c.getString(4) === "bn:" + c.getString(2))
        assert(c.getString(2).startsWith("tag_"))
      }
      // freshness: per solution AND per call site
      assert(labels.map(_.getString(4)).distinct.length === rows.length)
      assert((labels.map(_.getString(4)) ++ labelsC.map(_.getString(4)))
        .distinct.length === 2 * rows.length)
    } finally spark.conf.unset("spark.graft.functions.spec")
  }

  test("spec-mode STRDT: Null outside the documented subset; minted dateTime key-equals stored second-precision times") {
    spark.conf.set("spark.graft.functions.spec", "true")
    try {
      // the boundary (CONFORMANCE #22): datatypes the term model does
      // not represent — xsd:date, xsd:duration, arbitrary IRIs — stay
      // Null, as does an unparseable lexical form of a subset type
      val r = Sparql.rendered(spark,
        """SELECT ?a ?b ?c ?d WHERE { VALUES ?x { "2001-01-02" }
          |BIND(STRDT(?x, xsd:date) AS ?a)
          |BIND(STRDT("P1Y2M", xsd:duration) AS ?b)
          |BIND(STRDT("abc", <http://example.org/customType>) AS ?c)
          |BIND(STRDT("not-a-number", xsd:integer) AS ?d) }""".stripMargin,
        dir).collect()
      assert(r.length === 1 && (0 to 3).forall(r(0).isNullAt(_)))
      // a minted xsd:dateTime carries SECOND precision (14) in its key —
      // the dump parser's convention for a second-resolution time — so
      // sameTerm/joins against store data of the same instant succeed
      val tmp = java.nio.file.Files.createTempDirectory("graft-strdt").toString
      val line =
        s"""{"id":"Q9","type":"item","labels":{},"descriptions":{},"aliases":{},
           |"claims":{"P569":[{"mainsnak":{"snaktype":"value","property":"P569",
           |"datatype":"time","datavalue":{"type":"time","value":{
           |"time":"+1990-01-02T03:04:05Z","precision":14,"before":0,"after":0,
           |"timezone":0,"calendarmodel":"http://www.wikidata.org/entity/Q1985727"}}},
           |"type":"statement","id":"Q9$$x","rank":"normal"}]}}""".stripMargin.replace("\n", "")
      val pw = new java.io.PrintWriter(s"$tmp/dump.jsonl")
      try pw.println(line) finally pw.close()
      WikidataIngest.build(spark, s"$tmp/dump.jsonl", tmp)
      val hit = Sparql.rendered(spark,
        """SELECT ?s WHERE { ?s wdt:P569 ?d .
          |FILTER(sameTerm(?d, STRDT("1990-01-02T03:04:05Z", xsd:dateTime))) }""".stripMargin,
        tmp).collect()
      assert(hit.length === 1 && hit(0).getString(0).endsWith("Q9"))
    } finally spark.conf.unset("spark.graft.functions.spec")
  }

  test("a query dateTime literal key-equals the STRDT-minted term of the same lexical form") {
    // Iris.parseDateTime (the "..."^^xsd:dateTime literal path) and
    // spec-mode STRDT must mint the SAME identity key — precision 14,
    // offset-aware tz — or sameTerm/joins/DISTINCT between the two
    // silently fail for identical lexical forms
    spark.conf.set("spark.graft.functions.spec", "true")
    try {
      def survives(q: String): Boolean =
        Sparql.rendered(spark, q, dir).collect().length == 1
      assert(survives(
        """SELECT ?x WHERE { VALUES ?x { 1 }
          |FILTER(sameTerm("1990-01-02T03:04:05Z"^^xsd:dateTime,
          |                STRDT("1990-01-02T03:04:05Z", xsd:dateTime))) }""".stripMargin))
      // a non-Z offset: both paths must carry the SAME tz minutes
      assert(survives(
        """SELECT ?x WHERE { VALUES ?x { 1 }
          |FILTER(sameTerm("1990-01-02T03:04:05+02:00"^^xsd:dateTime,
          |                STRDT("1990-01-02T03:04:05+02:00", xsd:dateTime))) }""".stripMargin))
      // differing offsets stay distinct terms
      assert(!survives(
        """SELECT ?x WHERE { VALUES ?x { 1 }
          |FILTER(sameTerm("1990-01-02T03:04:05+02:00"^^xsd:dateTime,
          |                STRDT("1990-01-02T03:04:05Z", xsd:dateTime))) }""".stripMargin))
    } finally spark.conf.unset("spark.graft.functions.spec")
  }

  test("sub-SELECT projects only its selected variables into the outer scope") {
    val df = Sparql.query(spark,
      "SELECT * WHERE { { SELECT ?s WHERE { ?s wdt:P1082 ?pop } } }", dir)
    assert(df.columns.toSeq === Seq("s")) // ?pop is scoped to the subquery
    assert(df.count() === 114L)
  }

  test("aggregate sub-SELECT is equivalent to the flat aggregate query") {
    val flat = Sparql.rendered(spark,
      "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s wdt:P31 ?o } GROUP BY ?s", dir)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val nested = Sparql.rendered(spark,
      "SELECT ?s ?n WHERE { { SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s wdt:P31 ?o } GROUP BY ?s } }", dir)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(nested === flat)
    assert(flat.size === 5)
  }

  test("sub-SELECT ORDER BY/LIMIT stays inside the subquery scope") {
    // top-3 population readings (all Q31) joined with Q31's 7 P31 rows
    val df = Sparql.query(spark,
      """SELECT ?s ?o WHERE {
        |  { SELECT ?s WHERE { ?s wdt:P1082 ?pop } ORDER BY DESC(?pop) LIMIT 3 }
        |  ?s wdt:P31 ?o . }""".stripMargin, dir)
    assert(df.count() === 21L)
  }

  test("sub-SELECT inside OPTIONAL and UNION arms parses and runs") {
    val opt = Sparql.query(spark,
      """SELECT ?s ?n WHERE { ?s wdt:P36 ?c .
        |  OPTIONAL { SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s wdt:P31 ?o } GROUP BY ?s } }""".stripMargin, dir)
    assert(opt.count() === 1L)
    val uni = Sparql.query(spark,
      """SELECT ?s WHERE {
        |  { SELECT ?s WHERE { ?s wdt:P36 ?c } } UNION { SELECT ?s WHERE { ?s wdt:P37 ?c } } }""".stripMargin, dir)
    assert(uni.count() === 4L)
  }

  test("blank nodes scan like variables but stay out of SELECT *") {
    // [] as an anonymous subject ≈ sp03's ?b
    assert(rows("SELECT ?p2 WHERE { [] ?p2 wdt:Q31 . }") === 1L)
    // a repeated label joins within the BGP (statement node via _:st),
    // same shape as sp07's qualifiers query
    assert(rows("SELECT ?q ?v WHERE { wd:Q31 p:P1082 _:st . _:st ?q ?v . }") === 115L)
    // bnodes are not variables: SELECT * must not project them
    val df = Sparql.query(spark,
      "SELECT * WHERE { wd:Q31 p:P1082 _:st . _:st ?q ?v . }", dir)
    assert(df.columns.toSeq === Seq("q", "v"))
  }

  test("signed numeric literals parse in term and VALUES positions") {
    val vals = Sparql.rendered(spark,
      "SELECT ?n WHERE { VALUES ?n { -3 +2 -1.5 } }", dir)
      .collect().map(_.getString(0)).toSet
    assert(vals === Set("-3", "2", "-1.5"))
    // object position: no match expected, but it must parse and run
    assert(rows("SELECT ?s WHERE { ?s wdt:P1082 -1 . }") === 0L)
  }

  test("GROUP BY accepts unnamed expressions and bare builtin calls") {
    // (expr) without AS — groups by string length, two buckets for
    // VALUES "aa" "bb" "c" → counts {2, 1}
    val a = Sparql.rendered(spark,
      """SELECT (COUNT(?x) AS ?n) WHERE { VALUES ?x { "aa" "bb" "c" } }
        |GROUP BY (STRLEN(?x))""".stripMargin, dir)
      .collect().map(_.getString(0)).toSet
    assert(a === Set("2", "1"))
    // bare BuiltInCall form
    val b = Sparql.rendered(spark,
      """SELECT (COUNT(?x) AS ?n) WHERE { VALUES ?x { "aa" "bb" "c" } }
        |GROUP BY STRLEN(?x)""".stripMargin, dir)
      .collect().map(_.getString(0)).toSet
    assert(b === Set("2", "1"))
    // the hidden key must not leak into SELECT *
    val star = Sparql.query(spark,
      """SELECT * WHERE { VALUES ?x { "aa" "bb" "c" } } GROUP BY (STRLEN(?x))""", dir)
    assert(star.columns.isEmpty || !star.columns.exists(_.startsWith("#")))
  }

  test("?__x is a legal user variable and projects like any other") {
    // internal pseudo-variables use the '#' prefix (which the lexer
    // rejects in var names), so a user's ?__x must survive SELECT *
    val df = Sparql.query(spark, "SELECT * WHERE { VALUES ?__x { 1 2 } }", dir)
    assert(df.columns.toSeq === Seq("__x"))
    assert(df.count() === 2L)
  }

  test("CONSTRUCT template blank nodes mint a fresh bnode per solution") {
    val df = Sparql.query(spark,
      "CONSTRUCT { ?s wdt:P999 _:b . _:b wdt:P998 ?s } WHERE { VALUES ?s { wd:Q31 wd:Q8 wd:Q23 } }",
      dir).collect()
    assert(df.length === 6) // 3 solutions × 2 template triples, none dropped
    val minted = df.map(_.getAs[org.apache.spark.sql.Row]("o"))
      .filter(r => r.getAs[String]("kind") == "edge")
      .map(_.getAs[String]("key"))
    assert(minted.length === 3 && minted.distinct.length === 3) // fresh per solution
    // the same label in one solution is the same node: each minted
    // object reappears as the subject of the second template triple
    val subs = df.map(_.getAs[org.apache.spark.sql.Row]("s"))
      .filter(r => r.getAs[String]("kind") == "edge").map(_.getAs[String]("key"))
    assert(subs.sorted.sameElements(minted.sorted))
  }

  test("CONSTRUCT WHERE shorthand uses the pattern as its template") {
    val full = Sparql.rendered(spark,
      "CONSTRUCT { ?s wdt:P36 ?o } WHERE { ?s wdt:P36 ?o }", dir).collect()
    val short = Sparql.rendered(spark,
      "CONSTRUCT WHERE { ?s wdt:P36 ?o }", dir).collect()
    assert(short.map(_.toString).sorted === full.map(_.toString).sorted)
    assert(short.nonEmpty)
  }

  test("label service works inside a sub-SELECT (rewrite recurses)") {
    val q =
      """SELECT ?s ?sLabel WHERE { { SELECT ?s ?sLabel WHERE {
        |  ?s wdt:P31 wd:Q3624078 .
        |  SERVICE wikibase:label { bd:serviceParam wikibase:language "en,de". } } } }""".stripMargin
    val rows = Sparql.rendered(spark, q, dir).collect()
    assert(rows.length === 1)
    assert(Option(rows.head.getString(1)).exists(_.nonEmpty))
  }

  test("property path inside OPTIONAL composes with the left join") {
    val q =
      """SELECT ?s ?x WHERE { ?s wdt:P31 wd:Q3624078 .
        |OPTIONAL { ?s wdt:P47+ ?x } }""".stripMargin
    // Q31 has 6 P47+ reachable nodes (sp46) → 6 joined rows
    assert(rows(q) === 6L)
  }

  test("malformed queries raise ParseException, never engine errors") {
    import graft.sparql.Parser
    val bad = Seq(
      "SELECT ?x WHERE { ?x unknownpfx:P1 ?y }", // undeclared prefix
      "SELECT ?x WHERE { \"unterminated", // unterminated literal
      "SELECT (COUNT( AS ?n) WHERE { ?s ?p ?o }", // mangled aggregate
      "SELECT ?x WHERE { ?x wdt:P31 }", // missing object
      "ASK { ?s ?p ?o", // unclosed group
      "SELECT ?x WHERE { VALUES (?a { 1 } }") // mangled VALUES
    bad.foreach { q =>
      intercept[Parser.ParseException](Parser.parse(q))
    }
  }

  test("MAX / MIN group-by (test_requests.txt:54-58)") {
    val df = Sparql.query(spark,
      """SELECT ?s (MAX(?o) as ?max) (MIN(?o) as ?min)
        |WHERE { ?s wdt:P31 ?o } GROUP BY ?s""".stripMargin, dir)
    val out = df.collect()
    assert(out.nonEmpty)
    // max >= min within each group (entity id order)
    out.foreach { r =>
      val mx = r.getStruct(1).getDouble(1)
      val mn = r.getStruct(2).getDouble(1)
      assert(mx >= mn)
    }
  }
}
