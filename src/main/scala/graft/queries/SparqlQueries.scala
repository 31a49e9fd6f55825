package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sparql.Sparql

/** CORRECTNESS entries for the SPARQL engine (SURVEY §2): each key runs
  * a real SPARQL query through parse → algebra → DataFrame and renders
  * variables to lexical strings; the paired DuckDB oracle SQL computes
  * the same result from the exported statement/label parquet.
  *
  * The store is the reference's own fixture
  * (`first_5_lines.txt` → 3385 quads, 4 entities Q31/Q8/Q23/Q24); it is
  * scale-factor independent, so the `dir` argument from the driver is
  * ignored (the relational pack covers the sf tables).
  */
object SparqlQueries {

  private val ST = s"read_parquet('${graft.ingest.WikidataIngest.defaultDir}/statements.parquet/*.parquet')"
  private val LB = s"read_parquet('${graft.ingest.WikidataIngest.defaultDir}/labels.parquet/*.parquet')"

  /** The sp pack runs against the flat fixture store by default; set
    * `spark.graft.store.dir` to point it at another layout (Verify's
    * `SPARK_GRAFT_STORE_DIR` uses this to run the full pack against the
    * partitioned scale layout).
    */
  private def q(text: String): (SparkSession, String) => DataFrame =
    (spark, _) => Sparql.rendered(spark, text,
      spark.conf.get("spark.graft.store.dir", graft.ingest.WikidataIngest.defaultDir))

  /** (sparql, oracle-sql) per entry; split below for SparkEntry. */
  val entries: Seq[(String, String, String)] = Seq(

    // ---- scans & statement addressing (SURVEY §2.1, §7.3) ------------
    ("sp01_full_scan",
      "SELECT ?sub ?pred ?obj WHERE { ?sub ?pred ?obj . }",
      s"SELECT s_lex AS sub, p_lex AS pred, o_lex AS obj FROM $ST"),

    ("sp02_subject_scan",
      "SELECT ?p ?b WHERE { wdt:Q31 ?p ?b . }",
      s"SELECT p_lex AS p, o_lex AS b FROM $ST WHERE s['key']='Q:31'"),

    ("sp03_reverse_scan",
      "SELECT ?p2 ?b WHERE { ?b ?p2 wdt:Q31 . }",
      s"SELECT p_lex AS p2, s_lex AS b FROM $ST WHERE o['key']='Q:31'"),

    ("sp04_bgp_join",
      "SELECT ?p ?b ?p2 WHERE { wdt:Q31 ?p ?b . ?b ?p2 wdt:Q31 . }",
      s"""SELECT a.p_lex AS p, a.o_lex AS b, c.p_lex AS p2
         |FROM $ST a JOIN $ST c ON a.o['key']=c.s['key']
         |WHERE a.s['key']='Q:31' AND c.o['key']='Q:31'""".stripMargin),

    ("sp05_stmt_pred",
      "SELECT ?s ?stmt WHERE { ?s p:P31 ?stmt . }",
      s"SELECT s_lex AS s, id_lex AS stmt FROM $ST WHERE p['key']='P:31'"),

    ("sp06_wds_lookup",
      "SELECT ?p WHERE { wd:Q31 ?p wds:q31-B3580D37-D30E-4BC6-A591-2CE49253CAB4 . }",
      s"""SELECT p_lex AS p FROM $ST
         |WHERE id['key']='NE:q31-B3580D37-D30E-4BC6-A591-2CE49253CAB4'
         |  AND s['key']='Q:31'""".stripMargin),

    ("sp07_qualifiers",
      "SELECT ?q ?v WHERE { wd:Q31 p:P1082 ?stmt . ?stmt ?q ?v . }",
      s"""SELECT b.p_lex AS q, b.o_lex AS v
         |FROM $ST a JOIN $ST b ON b.s['key']=a.id['key']
         |WHERE a.s['key']='Q:31' AND a.p['key']='P:1082'""".stripMargin),

    // blank-node pattern: _:st scans like a variable and joins on its
    // repeated label, but is not projectable (calc_engine.rs:2996-3001)
    ("sp56_blank_nodes",
      "SELECT ?q ?v WHERE { wd:Q31 p:P1082 _:st . _:st ?q ?v . }",
      s"""SELECT b.p_lex AS q, b.o_lex AS v
         |FROM $ST a JOIN $ST b ON b.s['key']=a.id['key']
         |WHERE a.s['key']='Q:31' AND a.p['key']='P:1082'""".stripMargin),

    // ---- projection / distinct / filter (SURVEY §2.2, §2.5) ---------
    ("sp08_distinct_preds",
      "SELECT DISTINCT ?p WHERE { ?s ?p ?o . }",
      s"SELECT DISTINCT p_lex AS p FROM $ST"),

    ("sp09_filter_year",
      "SELECT ?s ?d WHERE { ?s wdt:P571 ?d . FILTER(YEAR(?d) >= 1800) }",
      s"""SELECT s_lex AS s, o_lex AS d FROM $ST
         |WHERE p['key']='P:571' AND floor(o['num']/1e10) >= 1800""".stripMargin),

    ("sp10_filter_contains",
      "SELECT ?s ?o WHERE { ?s ?p ?o . FILTER(CONTAINS(STR(?o), \"Belg\")) }",
      s"SELECT s_lex AS s, o_lex AS o FROM $ST WHERE o_lex LIKE '%Belg%'"),

    // ---- optional / union / values / minus / exists (SURVEY §2.3) ---
    ("sp11_optional",
      "SELECT ?s ?o ?cap WHERE { ?s wdt:P31 ?o . OPTIONAL { ?s wdt:P36 ?cap } }",
      s"""SELECT a.s_lex AS s, a.o_lex AS o, b.o_lex AS cap
         |FROM (SELECT * FROM $ST WHERE p['key']='P:31') a
         |LEFT JOIN (SELECT * FROM $ST WHERE p['key']='P:36') b
         |  ON a.s['key']=b.s['key']""".stripMargin),

    ("sp12_union",
      "SELECT ?x ?o WHERE { { ?x wdt:P36 ?o } UNION { ?x wdt:P37 ?o } }",
      s"""SELECT s_lex AS x, o_lex AS o FROM $ST WHERE p['key']='P:36'
         |UNION ALL
         |SELECT s_lex AS x, o_lex AS o FROM $ST WHERE p['key']='P:37'""".stripMargin),

    ("sp13_values",
      "SELECT ?s ?o WHERE { VALUES ?s { wd:Q31 wd:Q8 } ?s wdt:P31 ?o . }",
      s"""SELECT s_lex AS s, o_lex AS o FROM $ST
         |WHERE p['key']='P:31' AND s['key'] IN ('Q:31','Q:8')""".stripMargin),

    ("sp14_minus",
      "SELECT ?s ?o WHERE { ?s wdt:P31 ?o MINUS { ?s wdt:P36 ?c } }",
      s"""SELECT s_lex AS s, o_lex AS o FROM $ST
         |WHERE p['key']='P:31' AND s['key'] NOT IN
         |  (SELECT DISTINCT s['key'] FROM $ST WHERE p['key']='P:36')""".stripMargin),

    ("sp15_not_exists",
      "SELECT ?s ?o WHERE { ?s wdt:P31 ?o . FILTER NOT EXISTS { ?s wdt:P36 ?c } }",
      s"""SELECT s_lex AS s, o_lex AS o FROM $ST
         |WHERE p['key']='P:31' AND s['key'] NOT IN
         |  (SELECT DISTINCT s['key'] FROM $ST WHERE p['key']='P:36')""".stripMargin),

    ("sp16_exists",
      "SELECT ?s ?o WHERE { ?s wdt:P31 ?o . FILTER EXISTS { ?s wdt:P36 ?c } }",
      s"""SELECT s_lex AS s, o_lex AS o FROM $ST
         |WHERE p['key']='P:31' AND s['key'] IN
         |  (SELECT DISTINCT s['key'] FROM $ST WHERE p['key']='P:36')""".stripMargin),

    // ---- extend / functions (SURVEY §2.2, §2.7) ----------------------
    ("sp17_bind_concat",
      "SELECT ?s ?tag WHERE { ?s wdt:P31 ?o . BIND(CONCAT(STR(?s), \"#x\") AS ?tag) }",
      s"SELECT s_lex AS s, s_lex || '#x' AS tag FROM $ST WHERE p['key']='P:31'"),

    ("sp18_string_funcs",
      """SELECT ?d ?len ?up ?h WHERE { wd:Q31 wdt:P1549 ?d .
        |BIND(STRLEN(STR(?d)) AS ?len) BIND(UCASE(STR(?d)) AS ?up)
        |BIND(SHA256(STR(?d)) AS ?h) }""".stripMargin,
      s"""SELECT o_lex AS d, octet_length(encode(o_lex)) AS len,
         |  translate(o_lex, 'abcdefghijklmnopqrstuvwxyz', 'ABCDEFGHIJKLMNOPQRSTUVWXYZ') AS up,
         |  sha256(o_lex) AS h
         |FROM $ST WHERE s['key']='Q:31' AND p['key']='P:1549'""".stripMargin),

    ("sp19_arith_values",
      "SELECT ?a ?n WHERE { VALUES ?a { 3 5 } BIND(?a * 2.5 AS ?n) }",
      """SELECT CAST(a AS VARCHAR) AS a, CAST(CAST(a*2.5 AS FLOAT) AS VARCHAR) AS n
        |FROM (VALUES (3),(5)) t(a)""".stripMargin),

    // ---- order / slice (SURVEY §2.5) ---------------------------------
    ("sp20_order_limit",
      "SELECT ?s ?o WHERE { ?s wdt:P1082 ?o } ORDER BY DESC(?o) LIMIT 5",
      s"""SELECT s_lex AS s, o_lex AS o FROM $ST WHERE p['key']='P:1082'
         |ORDER BY o['num'] DESC NULLS LAST LIMIT 5""".stripMargin),

    ("sp21_order_offset",
      "SELECT ?o WHERE { wd:Q31 wdt:P47 ?o } ORDER BY ?o OFFSET 2 LIMIT 2",
      s"""SELECT o_lex AS o FROM $ST WHERE s['key']='Q:31' AND p['key']='P:47'
         |ORDER BY o['num'] ASC OFFSET 2 LIMIT 2""".stripMargin),

    // ---- aggregates (SURVEY §2.4) ------------------------------------
    ("sp22_count_global",
      "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }",
      s"SELECT count(*) AS n FROM $ST"),

    ("sp23_count_by_pred",
      "SELECT ?p (COUNT(?o) AS ?n) (COUNT(DISTINCT ?o) AS ?nd) WHERE { ?s ?p ?o } GROUP BY ?p",
      s"""SELECT p_lex AS p,
         |  CAST(count(CASE WHEN o['kind']<>'null' THEN 1 END) AS VARCHAR) AS n,
         |  CAST(count(DISTINCT CASE WHEN o['kind']<>'null' THEN o['key'] END) AS VARCHAR) AS nd
         |FROM $ST GROUP BY p_lex""".stripMargin),

    ("sp24_group_concat",
      "SELECT ?s (GROUP_CONCAT(?o;SEPARATOR = \",\") AS ?gc) WHERE { ?s wdt:P31 ?o } GROUP BY ?s",
      s"""SELECT s_lex AS s,
         |  string_agg(CAST(CAST(o['num'] AS BIGINT) AS VARCHAR), ','
         |             ORDER BY CAST(CAST(o['num'] AS BIGINT) AS VARCHAR)) AS gc
         |FROM $ST WHERE p['key']='P:31' GROUP BY s_lex""".stripMargin),

    ("sp25_min_max",
      "SELECT ?s (MAX(?o) AS ?max) (MIN(?o) AS ?min) WHERE { ?s wdt:P31 ?o } GROUP BY ?s",
      s"""SELECT s_lex AS s,
         |  'http://www.wikidata.org/entity/Q' || CAST(CAST(max(o['num']) AS BIGINT) AS VARCHAR) AS max,
         |  'http://www.wikidata.org/entity/Q' || CAST(CAST(min(o['num']) AS BIGINT) AS VARCHAR) AS min
         |FROM $ST WHERE p['key']='P:31' GROUP BY s_lex""".stripMargin),

    ("sp26_sample",
      "SELECT ?s (SAMPLE(?o) AS ?sample) (COUNT(?o) AS ?n) WHERE { ?s wdt:P31 ?o } GROUP BY ?s",
      s"""SELECT s_lex AS s, min(o_lex) AS sample, count(*) AS n
         |FROM $ST WHERE p['key']='P:31' GROUP BY s_lex""".stripMargin),

    ("sp27_avg_sum",
      "SELECT (AVG(?n) AS ?avg) (SUM(?n) AS ?sum) WHERE { VALUES ?n { 1 2 3 4 } }",
      """SELECT regexp_replace(CAST(CAST(avg(n) AS FLOAT) AS VARCHAR), '\.0$', '') AS avg,
        |  regexp_replace(CAST(CAST(sum(n) AS FLOAT) AS VARCHAR), '\.0$', '') AS sum
        |FROM (VALUES (1),(2),(3),(4)) t(n)""".stripMargin),

    // ---- property paths (SURVEY §2.6, §7.5) --------------------------
    ("sp28_path_alt",
      "SELECT ?o WHERE { wd:Q31 (wdt:P36|wdt:P37) ?o }",
      s"""SELECT o_lex AS o FROM $ST
         |WHERE s['key']='Q:31' AND p['key'] IN ('P:36','P:37')""".stripMargin),

    ("sp29_path_seq_reverse",
      "SELECT ?x WHERE { wd:Q31 (wdt:P47/^wdt:P47) ?x }",
      s"""SELECT c.s_lex AS x
         |FROM $ST a JOIN $ST c ON a.o['key']=c.o['key'] AND c.p['key']='P:47'
         |WHERE a.s['key']='Q:31' AND a.p['key']='P:47'""".stripMargin),

    ("sp30_path_star",
      "SELECT ?x WHERE { wd:Q31 wdt:P47* ?x }",
      s"""SELECT 'http://www.wikidata.org/entity/Q31' AS x
         |UNION
         |SELECT DISTINCT o_lex AS x FROM $ST
         |WHERE s['key']='Q:31' AND p['key']='P:47'""".stripMargin),

    // ---- label service (SURVEY §4.1) ---------------------------------
    ("sp31_label_service",
      """SELECT ?s ?sLabel WHERE { ?s wdt:P31 wd:Q3624078 .
        |SERVICE wikibase:label { bd:serviceParam wikibase:language "en,de". } }""".stripMargin,
      s"""SELECT a.s_lex AS s, coalesce(en.text, de.text) AS "sLabel"
         |FROM (SELECT * FROM $ST WHERE p['key']='P:31' AND o['key']='Q:3624078') a
         |LEFT JOIN (SELECT entity_key, text FROM $LB WHERE kind='label' AND lang='en') en
         |  ON a.s['key']=en.entity_key
         |LEFT JOIN (SELECT entity_key, text FROM $LB WHERE kind='label' AND lang='de') de
         |  ON a.s['key']=de.entity_key""".stripMargin),

    // ---- ASK (SURVEY §2.9) -------------------------------------------
    ("sp32_ask",
      "ASK { wd:Q31 wdt:P31 wd:Q3624078 }",
      s"""SELECT count(*) > 0 AS boolean FROM $ST
         |WHERE s['key']='Q:31' AND p['key']='P:31' AND o['key']='Q:3624078'""".stripMargin),

    // ---- scalar-function long tail (SURVEY §2.7) ---------------------
    ("sp33_regex_flags",
      "SELECT ?s ?o WHERE { ?s wdt:P1549 ?o . FILTER(REGEX(STR(?o), \"^belg\", \"i\")) }",
      s"""SELECT s_lex AS s, o_lex AS o FROM $ST
         |WHERE p['key']='P:1549' AND regexp_matches(o_lex, '(?i)^belg')""".stripMargin),

    ("sp34_str_before_after",
      """SELECT ?d ?b ?a ?r WHERE { wd:Q31 wdt:P1549 ?d .
        |BIND(STRBEFORE(STR(?d), "e") AS ?b) BIND(STRAFTER(STR(?d), "e") AS ?a)
        |BIND(REPLACE(STR(?d), "e", "_") AS ?r) }""".stripMargin,
      s"""SELECT o_lex AS d,
         |  CASE WHEN strpos(o_lex,'e')>0 THEN substr(o_lex,1,strpos(o_lex,'e')-1) ELSE '' END AS b,
         |  CASE WHEN strpos(o_lex,'e')>0 THEN substr(o_lex,strpos(o_lex,'e')+1) ELSE '' END AS a,
         |  regexp_replace(o_lex, 'e', '_', 'g') AS r
         |FROM $ST WHERE s['key']='Q:31' AND p['key']='P:1549'""".stripMargin),

    ("sp35_if_bound",
      """SELECT ?s ?cap ?flag WHERE { ?s wdt:P31 ?o . OPTIONAL { ?s wdt:P36 ?cap }
        |BIND(IF(BOUND(?cap), "has-capital", "none") AS ?flag) }""".stripMargin,
      s"""SELECT a.s_lex AS s, b.o_lex AS cap,
         |  CASE WHEN b.o_lex IS NOT NULL THEN 'has-capital' ELSE 'none' END AS flag
         |FROM (SELECT * FROM $ST WHERE p['key']='P:31') a
         |LEFT JOIN (SELECT * FROM $ST WHERE p['key']='P:36') b
         |  ON a.s['key']=b.s['key']""".stripMargin),

    ("sp36_in_filter",
      "SELECT ?s ?o WHERE { ?s wdt:P31 ?o . FILTER(?s IN (wd:Q31, wd:Q8)) }",
      s"""SELECT s_lex AS s, o_lex AS o FROM $ST
         |WHERE p['key']='P:31' AND s['key'] IN ('Q:31','Q:8')""".stripMargin),

    ("sp37_term_fns",
      """SELECT ?o ?iri ?lit ?num ?dt ?lg WHERE { wd:Q31 wdt:P1082 ?o .
        |BIND(ISIRI(?o) AS ?iri) BIND(ISLITERAL(?o) AS ?lit) BIND(ISNUMERIC(?o) AS ?num)
        |BIND(DATATYPE(?o) AS ?dt) BIND(LANG(?o) AS ?lg) }""".stripMargin,
      s"""SELECT o_lex AS o, 'false' AS iri, 'true' AS lit, 'false' AS num,
         |  'http://www.w3.org/2001/XMLSchema#decimal' AS dt, '' AS lg
         |FROM $ST WHERE s['key']='Q:31' AND p['key']='P:1082'""".stripMargin),

    ("sp38_numeric_fns",
      """SELECT ?x ?ab ?rd ?ce ?fl WHERE { VALUES ?x { 2.5 3.7 }
        |BIND(ABS(0 - ?x) AS ?ab) BIND(ROUND(?x) AS ?rd)
        |BIND(CEIL(?x) AS ?ce) BIND(FLOOR(?x) AS ?fl) }""".stripMargin,
      """WITH t(x) AS (VALUES (2.5),(3.7)),
        |r AS (SELECT x, abs(-x) AS ab, round(x) AS rd, ceil(x) AS ce, floor(x) AS fl FROM t)
        |SELECT
        |  regexp_replace(CAST(CAST(x  AS FLOAT) AS VARCHAR), '\.0$', '') AS x,
        |  regexp_replace(CAST(CAST(ab AS FLOAT) AS VARCHAR), '\.0$', '') AS ab,
        |  regexp_replace(CAST(CAST(rd AS FLOAT) AS VARCHAR), '\.0$', '') AS rd,
        |  regexp_replace(CAST(CAST(ce AS FLOAT) AS VARCHAR), '\.0$', '') AS ce,
        |  regexp_replace(CAST(CAST(fl AS FLOAT) AS VARCHAR), '\.0$', '') AS fl
        |FROM r""".stripMargin),

    ("sp39_strlang_langmatches",
      """SELECT ?m ?lg ?lm ?e WHERE { VALUES ?z { 1 }
        |BIND(STRLANG("hallo", "de") AS ?m) BIND(LANG(?m) AS ?lg)
        |BIND(LANGMATCHES(LANG(?m), "de") AS ?lm)
        |BIND(ENCODE_FOR_URI("Ab c/d") AS ?e) }""".stripMargin,
      "SELECT 'hallo' AS m, 'de' AS lg, 'true' AS lm, 'Ab%20c%2Fd' AS e"),

    // ---- property paths: negation / zero-or-one (SURVEY §2.6) --------
    ("sp40_path_negated",
      "SELECT ?o WHERE { wd:Q31 !(wdt:P31|wdt:P47) ?o }",
      s"""SELECT o_lex AS o FROM $ST
         |WHERE s['key']='Q:31' AND p['key'] NOT IN ('P:31','P:47')""".stripMargin),

    ("sp41_path_zero_or_one",
      "SELECT ?x WHERE { wd:Q31 wdt:P47? ?x }",
      s"""SELECT 'http://www.wikidata.org/entity/Q31' AS x
         |UNION
         |SELECT DISTINCT o_lex AS x FROM $ST
         |WHERE s['key']='Q:31' AND p['key']='P:47'""".stripMargin),

    // over Q31's own predicates, which genuinely repeat per object —
    // the previous two-hop form matched nothing in the 5-entity fixture
    // and gated REDUCED against an empty set
    ("sp42_reduced",
      "SELECT REDUCED ?p WHERE { wd:Q31 ?p ?x . }",
      s"""SELECT DISTINCT p_lex AS p
         |FROM $ST WHERE s['key']='Q:31'""".stripMargin),

    // ---- CONSTRUCT / DESCRIBE (SURVEY §2.9; reference todo!) ---------
    ("sp43_construct",
      "CONSTRUCT { ?s wdt:P999 ?o } WHERE { ?s wdt:P36 ?o }",
      s"""SELECT DISTINCT s_lex AS s,
         |  'http://www.wikidata.org/prop/P999' AS p, o_lex AS o
         |FROM $ST WHERE p['key']='P:36'""".stripMargin),

    ("sp44_describe",
      "DESCRIBE wd:Q8",
      s"SELECT s_lex AS s, p_lex AS p, o_lex AS o FROM $ST WHERE s['key']='Q:8'"),

    // no shared variable → cartesian product of the two solution sets
    // (the reference's merge join todo!'s this case; SURVEY §2.3)
    ("sp45_cross_join",
      "SELECT ?cap ?t WHERE { { wd:Q31 wdt:P36 ?cap } { wd:Q8 wdt:P31 ?t } }",
      s"""SELECT a.o_lex AS cap, b.o_lex AS t
         |FROM (SELECT o_lex FROM $ST WHERE s['key']='Q:31' AND p['key']='P:36') a
         |CROSS JOIN (SELECT o_lex FROM $ST WHERE s['key']='Q:8' AND p['key']='P:31') b""".stripMargin),

    // OneOrMore transitive closure (fixpoint without the zero-length
    // identity; SURVEY §7.5)
    ("sp46_path_plus",
      "SELECT ?x WHERE { wd:Q31 wdt:P47+ ?x }",
      s"""WITH RECURSIVE r(k, lex) AS (
         |  SELECT o['key'], o_lex FROM $ST WHERE s['key']='Q:31' AND p['key']='P:47'
         |  UNION
         |  SELECT st.o['key'], st.o_lex FROM $ST st JOIN r ON st.s['key']=r.k
         |  WHERE st.p['key']='P:47')
         |SELECT DISTINCT lex AS x FROM r""".stripMargin),

    // date-field extraction over the packed time key (SURVEY §2.7;
    // num packs y*1e10 + mo*1e8 + d*1e6 + h*1e4 + mi*1e2 + s)
    ("sp47_date_fns",
      """SELECT ?d ?y ?m ?dd WHERE { wd:Q31 wdt:P571 ?d .
        |BIND(YEAR(?d) AS ?y) BIND(MONTH(?d) AS ?m) BIND(DAY(?d) AS ?dd) }""".stripMargin,
      s"""SELECT o_lex AS d,
         |  CAST(CAST(floor(o['num']/1e10) AS BIGINT) AS VARCHAR) AS y,
         |  CAST(CAST(floor(o['num']/1e8) AS BIGINT) % 100 AS VARCHAR) AS m,
         |  CAST(CAST(floor(o['num']/1e6) AS BIGINT) % 100 AS VARCHAR) AS dd
         |FROM $ST WHERE s['key']='Q:31' AND p['key']='P:571'""".stripMargin),

    // HAVING over a grouped aggregate (filters after grouping)
    ("sp49_having",
      """SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s wdt:P31 ?o }
        |GROUP BY ?s HAVING(COUNT(?o) > 1)""".stripMargin,
      s"""SELECT s_lex AS s, count(*) AS n FROM $ST
         |WHERE p['key']='P:31' GROUP BY s_lex HAVING count(*) > 1""".stripMargin),

    // DISTINCT aggregate flags (AE distinct, calc_data_types.rs:77-112)
    ("sp50_distinct_aggs",
      """SELECT (SUM(DISTINCT ?n) AS ?sd) (AVG(DISTINCT ?n) AS ?ad)
        |  (COUNT(DISTINCT ?n) AS ?cd)
        |WHERE { VALUES ?n { 1 2 2 3 3 3 } }""".stripMargin,
      """SELECT regexp_replace(CAST(CAST(sum(DISTINCT n) AS FLOAT) AS VARCHAR), '\.0$', '') AS sd,
        |  regexp_replace(CAST(CAST(avg(DISTINCT n) AS FLOAT) AS VARCHAR), '\.0$', '') AS ad,
        |  CAST(count(DISTINCT n) AS VARCHAR) AS cd
        |FROM (VALUES (1),(2),(2),(3),(3),(3)) t(n)""".stripMargin),

    ("sp48_substr_lcase",
      """SELECT ?d ?sub ?low ?md5 WHERE { wd:Q31 wdt:P1549 ?d .
        |BIND(SUBSTR(STR(?d), 1, 3) AS ?sub) BIND(LCASE(STR(?d)) AS ?low)
        |BIND(MD5(STR(?d)) AS ?md5) }""".stripMargin,
      s"""SELECT o_lex AS d, substr(o_lex, 1, 3) AS sub,
         |  translate(o_lex, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') AS low,
         |  md5(o_lex) AS md5
         |FROM $ST WHERE s['key']='Q:31' AND p['key']='P:1549'""".stripMargin),

    // implicit ?xAltLabel synthesis (interpreter.rs:919-1057) + the
    // all-matching-languages trailing-comma alias quirk
    // (calc_engine.rs:2863-2917): every alias of every requested
    // language, (priority, insertion) order, each with a trailing comma
    ("sp51_label_alias",
      """SELECT ?s ?sAltLabel WHERE { VALUES ?s { wd:Q8 wd:Q23 wd:Q24 wd:Q31 }
        |SERVICE wikibase:label { bd:serviceParam wikibase:language "en,de". } }""".stripMargin,
      s"""SELECT v.s AS s, x.al AS "sAltLabel"
         |FROM (VALUES ('http://www.wikidata.org/entity/Q8','Q:8'),
         |             ('http://www.wikidata.org/entity/Q23','Q:23'),
         |             ('http://www.wikidata.org/entity/Q24','Q:24'),
         |             ('http://www.wikidata.org/entity/Q31','Q:31')) v(s, k)
         |LEFT JOIN (
         |  SELECT entity_key,
         |         string_agg(text || ',', '' ORDER BY CASE lang WHEN 'en' THEN 0 ELSE 1 END, ord) AS al
         |  FROM $LB WHERE kind='alias' AND lang IN ('en','de') GROUP BY entity_key
         |) x ON v.k = x.entity_key""".stripMargin),

    // explicit schema:description triple inside the service; "grc,en"
    // exercises the language-priority first-match (calc_engine.rs:2763-2836)
    ("sp52_label_description",
      """SELECT ?s ?d WHERE { VALUES ?s { wd:Q8 wd:Q23 wd:Q24 wd:Q31 }
        |SERVICE wikibase:label { bd:serviceParam wikibase:language "grc,en".
        |  ?s schema:description ?d . } }""".stripMargin,
      s"""SELECT v.s AS s, x.text AS d
         |FROM (VALUES ('http://www.wikidata.org/entity/Q8','Q:8'),
         |             ('http://www.wikidata.org/entity/Q23','Q:23'),
         |             ('http://www.wikidata.org/entity/Q24','Q:24'),
         |             ('http://www.wikidata.org/entity/Q31','Q:31')) v(s, k)
         |LEFT JOIN (
         |  SELECT entity_key, text FROM (
         |    SELECT entity_key, text,
         |           row_number() OVER (PARTITION BY entity_key
         |             ORDER BY CASE lang WHEN 'grc' THEN 0 ELSE 1 END, ord) AS rn
         |    FROM $LB WHERE kind='desc' AND lang IN ('grc','en')) t
         |  WHERE rn = 1
         |) x ON v.k = x.entity_key""".stripMargin),

    // sub-SELECT (spargebra nested Project; the reference interpreter
    // maps it like any operator, interpreter.rs:210-213): aggregate
    // subquery joined with an outer OPTIONAL on the projected variable
    ("sp54_subquery_agg",
      """SELECT ?s ?n ?cap WHERE {
        |  { SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s wdt:P31 ?o } GROUP BY ?s }
        |  OPTIONAL { ?s wdt:P36 ?cap } }""".stripMargin,
      s"""SELECT g.s AS s, g.n AS n, b.o_lex AS cap
         |FROM (SELECT s_lex AS s, any_value(s['key']) AS k, CAST(count(*) AS VARCHAR) AS n
         |      FROM $ST WHERE p['key']='P:31' GROUP BY s_lex) g
         |LEFT JOIN (SELECT * FROM $ST WHERE p['key']='P:36') b ON g.k=b.s['key']""".stripMargin),

    // sub-SELECT with its own ORDER BY + LIMIT, re-joined outside (the
    // inner modifiers must not leak into the outer query's scope)
    ("sp55_subquery_topk",
      """SELECT ?s ?o WHERE {
        |  { SELECT ?s WHERE { ?s wdt:P1082 ?pop } ORDER BY DESC(?pop) LIMIT 3 }
        |  ?s wdt:P31 ?o . }""".stripMargin,
      s"""WITH topk AS (SELECT s_lex AS s, s['key'] AS k FROM $ST
         |              WHERE p['key']='P:1082' ORDER BY o['num'] DESC LIMIT 3)
         |SELECT t.s AS s, b.o_lex AS o
         |FROM topk t JOIN $ST b ON b.s['key']=t.k AND b.p['key']='P:31'""".stripMargin),

    // LATERAL executes as a plain join, like the reference
    // (calc_engine.rs:194-201 — no correlation semantics)
    ("sp58_lateral",
      "SELECT ?s ?cap ?o WHERE { ?s wdt:P36 ?cap . LATERAL { ?s wdt:P31 ?o } }",
      s"""SELECT a.s_lex AS s, a.o_lex AS cap, b.o_lex AS o
         |FROM (SELECT * FROM $ST WHERE p['key']='P:36') a
         |JOIN (SELECT * FROM $ST WHERE p['key']='P:31') b
         |  ON a.s['key']=b.s['key']""".stripMargin),

    // ASK over an absent pattern → false (the JSON writer's reserved
    // boolean field, to_json_result.rs:16)
    ("sp59_ask_false",
      "ASK { wd:Q999999999 wdt:P31 ?o }",
      s"""SELECT count(*) > 0 AS boolean FROM $ST
         |WHERE s['key']='Q:999999999' AND p['key']='P:31'""".stripMargin),

    // aggregate expression as a sort key (parsed into a hidden
    // aggregate slot, ordered after grouping)
    ("sp57_order_by_agg",
      "SELECT ?s WHERE { ?s wdt:P31 ?o } GROUP BY ?s ORDER BY DESC(COUNT(?o)) LIMIT 2",
      s"""SELECT s_lex AS s FROM $ST WHERE p['key']='P:31'
         |GROUP BY s_lex ORDER BY count(*) DESC LIMIT 2""".stripMargin),

    // GROUP_CONCAT DISTINCT + custom separator (collect_set path;
    // reference AE distinct flags, calc_data_types.rs:77-112)
    ("sp53_group_concat_distinct",
      """SELECT (GROUP_CONCAT(DISTINCT ?n; SEPARATOR="|") AS ?gc)
        |WHERE { VALUES ?n { 3 1 2 3 1 } }""".stripMargin,
      """SELECT string_agg(DISTINCT CAST(n AS VARCHAR), '|' ORDER BY CAST(n AS VARCHAR)) AS gc
        |FROM (VALUES (3),(1),(2),(3),(1)) t(n)""".stripMargin),

    // ---- GRAPH (SURVEY §2.5; ref IR calc_data_types.rs:149-151, exec
    // todo! calc_engine.rs:255-259). Named graphs = document
    // provenance; the default graph is their union (WDQS model), so
    // these only constrain/bind, never change plain-pattern results.
    ("sp60_graph_var",
      "SELECT ?g (COUNT(*) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } } GROUP BY ?g",
      s"""SELECT graph_lex AS g, CAST(count(*) AS VARCHAR) AS n
         |FROM $ST GROUP BY graph_lex""".stripMargin),

    // constant graph: EVERY quad of Q31's document — including
    // qualifier rows whose subject is the claim edge, which a plain
    // subject filter (sp02) misses
    ("sp61_graph_const",
      "SELECT ?s ?p ?o WHERE { GRAPH wd:Q31 { ?s ?p ?o } }",
      s"SELECT s_lex AS s, p_lex AS p, o_lex AS o FROM $ST WHERE graph['key']='Q:31'"),

    // FROM: the default graph becomes the union of the listed
    // provenance graphs — a plain BGP sees only their quads
    ("sp64_from",
      "SELECT ?s ?p ?o FROM wd:Q23 FROM wd:Q24 WHERE { ?s ?p ?o }",
      s"""SELECT s_lex AS s, p_lex AS p, o_lex AS o FROM $ST
         |WHERE graph['key'] IN ('Q:23', 'Q:24')""".stripMargin),

    // FROM NAMED: GRAPH ranges over exactly the listed graphs
    ("sp65_from_named",
      """SELECT ?g (COUNT(*) AS ?n) FROM NAMED wd:Q8 WHERE {
        |  GRAPH ?g { ?s ?p ?o } } GROUP BY ?g""".stripMargin,
      s"""SELECT graph_lex AS g, CAST(count(*) AS VARCHAR) AS n
         |FROM $ST WHERE graph['key'] = 'Q:8' GROUP BY graph_lex""".stripMargin),

    // property path inside GRAPH ?g: the closure runs independently
    // within each named graph and binds ?g — beyond the reference
    // (whole-GRAPH exec todo!, calc_engine.rs:255-259). The oracle
    // re-derives the per-graph closure with a recursive CTE plus the
    // zero-length row (?y = wd:Q31) for every named graph.
    ("sp66_graph_path",
      "SELECT ?g ?y WHERE { GRAPH ?g { wd:Q31 wdt:P463* ?y } }",
      s"""WITH RECURSIVE e AS (
         |  SELECT graph_lex AS g, s['key'] AS sk, o['key'] AS ok, o_lex
         |  FROM $ST WHERE p['key']='P:463'),
         |r(g, ok, y) AS (
         |  SELECT g, ok, o_lex FROM e WHERE sk = 'Q:31'
         |  UNION
         |  SELECT e.g, e.ok, e.o_lex FROM r JOIN e ON e.g = r.g AND e.sk = r.ok)
         |SELECT g, y FROM r
         |UNION
         |SELECT DISTINCT graph_lex AS g,
         |  (SELECT min(s_lex) FROM $ST WHERE s['key']='Q:31') AS y
         |FROM $ST""".stripMargin),

    // graph variable joins across patterns inside the group and
    // projects like any other variable
    ("sp62_graph_join",
      """SELECT DISTINCT ?g WHERE {
        |  GRAPH ?g { ?s wdt:P31 ?o . ?s wdt:P1082 ?pop } }""".stripMargin,
      s"""SELECT DISTINCT a.graph_lex AS g
         |FROM $ST a JOIN $ST b
         |   ON a.graph['key']=b.graph['key'] AND a.s['key']=b.s['key']
         |WHERE a.p['key']='P:31' AND b.p['key']='P:1082'""".stripMargin),

    // DESCRIBE with a VARIABLE target (SPARQL 1.1 §16.4; beyond the
    // reference — its DESCRIBE is entirely todo!, interpreter.rs:107-131):
    // the pattern's ?cap bindings plus the constant wd:Q8 form one
    // described-subject set; a subject named both ways appears once
    ("sp75_describe_var",
      "DESCRIBE ?cap wd:Q8 WHERE { wd:Q31 wdt:P36 ?cap }",
      s"""SELECT s_lex AS s, p_lex AS p, o_lex AS o FROM $ST
         |WHERE s['key'] IN (SELECT o['key'] FROM $ST
         |                   WHERE s['key']='Q:31' AND p['key']='P:36')
         |   OR s['key']='Q:8'""".stripMargin),

    // label service under an AGGREGATE: the implicit ?sLabel lives in
    // the aggregate's operand, not the post-aggregate projection — the
    // rewrite must read the Group's referenced variables (the r13
    // concurrency bench caught COUNT(?xLabel) silently counting 0;
    // COUNT(?sLabel) counts BOUND labels only, so the en-label count
    // differs from COUNT(?s) and pins the binding actually happening)
    ("sp76_label_service_agg",
      """SELECT (COUNT(?sLabel) AS ?n) WHERE { ?s wdt:P31 ?o .
        |SERVICE wikibase:label { bd:serviceParam wikibase:language "en". } }""".stripMargin,
      s"""SELECT count(en.text) AS n
         |FROM (SELECT * FROM $ST WHERE p['key']='P:31') a
         |LEFT JOIN (SELECT entity_key, text FROM $LB WHERE kind='label' AND lang='en') en
         |  ON a.s['key']=en.entity_key""".stripMargin)
  )

  // ---- opt-in lexeme ingest (beyond the reference: its serde schema
  // declares lemmas/forms/senses but required `labels` fields make
  // every lexeme dump line fail deserialization, parser.rs:73,88-140;
  // CONFORMANCE #16). These run against a store built with
  // `--lexemes` from the reference's own L4589 example, unwrapped to a
  // dump line (WikidataIngest.lexemeStore).
  private val LX = s"read_parquet('${graft.ingest.WikidataIngest.lexemeDir}/statements.parquet/*.parquet')"
  private val LXL = s"read_parquet('${graft.ingest.WikidataIngest.lexemeDir}/labels.parquet/*.parquet')"

  private def ql(text: String): (SparkSession, String) => DataFrame =
    (spark, _) =>
      Sparql.rendered(spark, text, graft.ingest.WikidataIngest.lexemeStore(spark))

  private val lexemeEntries: Seq[(String, String, String)] = Seq(

    // full subject scan of the lexeme: lemmas (Label edges),
    // lexicalCategory/language, claims, form/sense membership edges
    ("sp67_lexeme_scan",
      "SELECT ?p ?o WHERE { wd:L4589 ?p ?o . }",
      s"SELECT p_lex AS p, o_lex AS o FROM $LX WHERE s['key']='L:4589'"),

    // BGP join THROUGH a form node (identifier term): each form's
    // grammatical features
    ("sp68_lexeme_form_features",
      """SELECT ?f ?feat WHERE { wd:L4589 ontolex:lexicalForm ?f .
        |  ?f wikibase:grammaticalFeature ?feat . }""".stripMargin,
      s"""SELECT a.o_lex AS f, b.o_lex AS feat
         |FROM $LX a JOIN $LX b ON a.o['key']=b.s['key']
         |WHERE a.s['key']='L:4589'
         |  AND a.p['key']='s:${graft.ingest.WikidataParser.LexicalFormIri}'
         |  AND b.p['key']='s:${graft.ingest.WikidataParser.GrammaticalFeatureIri}'""".stripMargin),

    // the label service resolves lexeme lemmas (modeled as Label
    // edges) exactly like entity labels — implicit ?lLabel form
    ("sp69_lexeme_lemma_label",
      """SELECT DISTINCT ?l ?lLabel WHERE { ?l ontolex:sense ?sense .
        |SERVICE wikibase:label { bd:serviceParam wikibase:language "en". } }""".stripMargin,
      s"""SELECT DISTINCT a.s_lex AS l, en.text AS "lLabel"
         |FROM (SELECT * FROM $LX
         |      WHERE p['key']='s:${graft.ingest.WikidataParser.SenseIri}') a
         |LEFT JOIN (SELECT entity_key, text FROM $LXL
         |           WHERE kind='label' AND lang='en') en
         |  ON a.s['key']=en.entity_key""".stripMargin),

    // property paths compose with the lexeme model's string-IRI
    // predicates: a sequence path THROUGH the form nodes, plus an
    // alternative over the two membership predicates
    ("sp73_lexeme_path",
      """SELECT ?feat WHERE {
        |  wd:L4589 ontolex:lexicalForm/wikibase:grammaticalFeature ?feat . }""".stripMargin,
      s"""SELECT b.o_lex AS feat
         |FROM $LX a JOIN $LX b ON a.o['key']=b.s['key']
         |WHERE a.s['key']='L:4589'
         |  AND a.p['key']='s:${graft.ingest.WikidataParser.LexicalFormIri}'
         |  AND b.p['key']='s:${graft.ingest.WikidataParser.GrammaticalFeatureIri}'""".stripMargin),

    ("sp74_lexeme_alt_path",
      """SELECT ?n WHERE {
        |  wd:L4589 ontolex:lexicalForm|ontolex:sense ?n . }""".stripMargin,
      s"""SELECT o_lex AS n FROM $LX
         |WHERE s['key']='L:4589'
         |  AND p['key'] IN ('s:${graft.ingest.WikidataParser.LexicalFormIri}',
         |                   's:${graft.ingest.WikidataParser.SenseIri}')""".stripMargin))

  /** Like [[q]] but with the spec-mode scalar functions flag on
    * (BNODE/STRDT/TIMEZONE; parity default returns the reference's
    * `todo!` Null). Conf is read at translate time only, so toggling it
    * around the call is safe even though the DataFrame runs later.
    */
  private def qSpecFns(text: String): (SparkSession, String) => DataFrame =
    (spark, _) => {
      spark.conf.set("spark.graft.functions.spec", "true")
      try Sparql.rendered(spark, text,
        spark.conf.get("spark.graft.store.dir", graft.ingest.WikidataIngest.defaultDir))
      finally spark.conf.unset("spark.graft.functions.spec")
    }

  // spec-mode BNODE: per-solution-and-call freshness is the observable —
  // COUNT(DISTINCT) of minted nodes equals the row count, which a SQL
  // oracle can re-derive without seeing the (uuid) node ids themselves
  private val sp70Sparql =
    "SELECT (COUNT(DISTINCT ?b) AS ?n) WHERE { ?s wdt:P31 ?o . BIND(BNODE() AS ?b) }"
  private val sp70Oracle =
    s"SELECT CAST(count(*) AS VARCHAR) AS n FROM $ST WHERE p['key']='P:31'"

  // spec-mode STRDT over the representable datatype subset: integer /
  // double / boolean / dateTime each parse or fall to Null (unbound)
  // per lexical; a constructed Time term chains into TIMEZONE and YEAR
  private val sp71Sparql =
    """SELECT ?x ?i ?f ?b ?d ?tzd ?y WHERE {
      |  VALUES ?x { "42" "3.5" "true" "zzz" "2011-01-10T14:45:13-05:00" }
      |  BIND(STRDT(?x, xsd:integer) AS ?i)
      |  BIND(STRDT(?x, xsd:double) AS ?f)
      |  BIND(STRDT(?x, xsd:boolean) AS ?b)
      |  BIND(STRDT(?x, xsd:dateTime) AS ?d)
      |  BIND(TIMEZONE(?d) AS ?tzd)
      |  BIND(YEAR(?d) AS ?y) }""".stripMargin
  private val sp71Oracle =
    """SELECT * FROM (VALUES
      |  ('42', '42', '42', NULL, NULL, NULL, NULL),
      |  ('3.5', NULL, '3.5', NULL, NULL, NULL, NULL),
      |  ('true', NULL, NULL, 'true', NULL, NULL, NULL),
      |  ('zzz', NULL, NULL, NULL, NULL, NULL, NULL),
      |  ('2011-01-10T14:45:13-05:00', NULL, NULL, NULL,
      |   '2011-01-10T14:45:13Z', '-PT5H', '2011')) AS t(x, i, f, b, d, tzd, y)""".stripMargin

  // spec-mode TIMEZONE: the stored minute offset as a dayTimeDuration
  // lexical form, re-derived by the oracle from the time-term key
  private val sp72Sparql =
    "SELECT ?s ?tzd WHERE { ?s wdt:P569 ?d . BIND(TIMEZONE(?d) AS ?tzd) }"
  private val sp72Oracle =
    s"""WITH t AS (SELECT s_lex, CAST(split_part(o['key'],'|',5) AS INT) AS tz
       |           FROM $ST WHERE p['key']='P:569')
       |SELECT s_lex AS s,
       |  CASE WHEN tz=0 THEN 'PT0S'
       |       ELSE (CASE WHEN tz<0 THEN '-' ELSE '' END) || 'PT' ||
       |            (CASE WHEN abs(tz)//60 > 0
       |                  THEN CAST(abs(tz)//60 AS VARCHAR) || 'H' ELSE '' END) ||
       |            (CASE WHEN abs(tz)%60 > 0
       |                  THEN CAST(abs(tz)%60 AS VARCHAR) || 'M' ELSE '' END)
       |  END AS tzd
       |FROM t""".stripMargin

  /** Like [[q]] but with the spec-correlation LATERAL flag on. The conf
    * is read at translate time only (plan construction), so toggling it
    * around the call is safe even though the DataFrame runs later.
    */
  private def qSpecLateral(text: String): (SparkSession, String) => DataFrame =
    (spark, _) => {
      spark.conf.set("spark.graft.lateral.spec", "true")
      try Sparql.rendered(spark, text,
        spark.conf.get("spark.graft.store.dir", graft.ingest.WikidataIngest.defaultDir))
      finally spark.conf.unset("spark.graft.lateral.spec")
    }

  /** Correlated LATERAL: the per-left-solution LIMIT — top-3 "described
    * by source" (P1343) values per entity, ordered by entity id. In the
    * reference's plain-join reading (sp58 semantics) the LIMIT would
    * apply once globally; here the oracle re-derives the per-subject
    * slice with a SQL window, so the entry only matches under real
    * correlation.
    */
  private val sp63Sparql =
    """SELECT ?s ?src WHERE { ?s wdt:P31 ?o .
      |  LATERAL { SELECT ?s ?src WHERE { ?s wdt:P1343 ?src } ORDER BY ?src LIMIT 3 } }""".stripMargin
  private val sp63Oracle =
    s"""WITH l AS (SELECT s['key'] AS sk, s_lex FROM $ST WHERE p['key']='P:31'),
       |r AS (SELECT s['key'] AS sk, o_lex,
       |        row_number() OVER (PARTITION BY s['key']
       |          ORDER BY coalesce(o['num'], 0), coalesce(o['str'], ''),
       |                   coalesce(o['key'], '')) AS rn
       |      FROM $ST WHERE p['key']='P:1343')
       |SELECT l.s_lex AS s, r.o_lex AS src FROM l JOIN r ON l.sk = r.sk
       |WHERE r.rn <= 3""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map { case (name, sparql, _) => name -> q(sparql) }.toMap ++
      lexemeEntries.map { case (name, sparql, _) => name -> ql(sparql) } +
      ("sp63_lateral_limit" -> qSpecLateral(sp63Sparql)) +
      ("sp70_spec_bnode" -> qSpecFns(sp70Sparql)) +
      ("sp71_spec_strdt" -> qSpecFns(sp71Sparql)) +
      ("sp72_spec_timezone" -> qSpecFns(sp72Sparql))

  val oracles: Map[String, String] =
    entries.map { case (name, _, sql) => name -> sql }.toMap ++
      lexemeEntries.map { case (name, _, sql) => name -> sql } +
      ("sp63_lateral_limit" -> sp63Oracle) +
      ("sp70_spec_bnode" -> sp70Oracle) +
      ("sp71_spec_strdt" -> sp71Oracle) +
      ("sp72_spec_timezone" -> sp72Oracle)
}
