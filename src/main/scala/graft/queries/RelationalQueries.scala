package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window

/** Relational operator coverage (SURVEY.md §2.2-2.5, §2.7): scans,
  * filter/project, inner/left/semi/anti/cross joins, aggregation,
  * distinct, sort/limit, union/except, window functions, scalar
  * function library. Each query has a DuckDB oracle in [[oracles]].
  *
  * Numeric determinism policy: every SUM is computed over DECIMAL
  * (exact, order-independent) and cast to DOUBLE at the end; averages
  * are exact-decimal-sum / count in IEEE double; this makes Spark and
  * DuckDB results bit-identical regardless of partial-aggregation
  * order, which a 1000-executor shuffle would otherwise scramble.
  */
object RelationalQueries {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  /** exact decimal sum rendered as double — order-independent. */
  private def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** One bucketed layout per (session, dataset) for the q39 co-located
    * join: lineitem and orders written once into matching hash buckets
    * on the order key (the same pay-at-write-time pattern as the p44
    * IVF index and the SPARQL store's predicate buckets). Keyed by
    * session because a recreated session has a fresh catalog: the
    * layout files may survive but the table registrations do not.
    */
  private def bucketedOrderTables(s: SparkSession, d: String): (String, String) =
    graft.Workspace.memo(("q39-bucketed", s, d)) {
      val tag = java.lang.Integer.toHexString(d.hashCode)
      val base = graft.Workspace.scratch("graft-bucketed")
      val (lt, ot) = (s"graft_bkt_lineitem_$tag", s"graft_bkt_orders_$tag")
      graft.operators.Bucketing.writeBucketed(
        Tables.lineitem(s, d), lt, "l_orderkey", s"$base/lineitem")
      graft.operators.Bucketing.writeBucketed(
        Tables.orders(s, d), ot, "o_orderkey", s"$base/orders")
      (lt, ot)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- aggregation over one table (TPC-H Q1 shape): partial aggs
    // combine map-side; group key cardinality is tiny so the shuffle
    // carries only |groups| x partitions rows at any SF.
    "q01_agg" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          sum(dec($"l_extendedprice") * (lit(1).cast(DecimalType(18, 2)) - dec($"l_discount")))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    // -- filter + projection: both reach the parquet scan
    // (PushedFilters + 4-column ReadSchema).
    "q02_filter_project" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
                $"l_shipdate" <  lit("1998-01-01").cast("timestamp") &&
                $"l_discount" > 0.05 && $"l_quantity" < 25)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
    }),

    // -- 3-way join + agg. nation is a true fixed-size dim (25 rows) →
    // explicit broadcast; customer SCALES with SF, so its join strategy
    // is left to size-based planning/AQE (a forced broadcast would OOM
    // executors at large SF).
    "q03_join_agg" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(count(lit(1)).as("n_orders"),
             dsum($"o_totalprice").as("total_price"))
    }),

    // -- left outer join preserving customers with no orders. orders is
    // pre-aggregated by custkey BEFORE the join, shrinking the shuffled
    // side by the per-customer fan-out (the 100x-scale plan; joining raw
    // orders first would shuffle every order row).
    "q04_left_join" -> ((s, d) => {
      import s.implicits._
      val perCust = Tables.orders(s, d)
        .groupBy($"o_custkey")
        .agg(count($"o_orderkey").as("no"), sum(dec($"o_totalprice")).as("ts"))
      Tables.customer(s, d)
        .join(perCust, $"o_custkey" === $"c_custkey", "left")
        .select($"c_custkey",
          coalesce($"no", lit(0L)).as("n_orders"),
          coalesce($"ts", lit(0)).cast("double").as("total_spent"))
    }),

    // -- semi join (EXISTS). left_semi never duplicates or widens rows.
    "q05_semi_join" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter($"o_totalprice" > 250000).select($"o_custkey"),
              $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name", $"c_acctbal")
    }),

    // -- anti join (NOT EXISTS). Against high-value orders, not all
    // orders: every customer has SOME order at these SFs, and a gate
    // that hash-matches on 0 rows exercises the join only weakly.
    "q06_anti_join" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter($"o_totalprice" > 250000).select($"o_custkey"),
              $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name")
    }),

    // -- distinct: hash-aggregate on two low-cardinality columns.
    "q07_distinct" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d).select($"l_returnflag", $"l_linestatus").distinct()
    }),

    // -- ORDER BY + LIMIT: Spark plans TakeOrderedAndProject (per-
    // partition top-k then driver merge; no global sort at scale).
    "q08_topk" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .limit(10)
    }),

    // -- UNION ALL + aggregate.
    "q09_union" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d).select($"c_nationkey".as("nk"))
        .unionByName(Tables.supplier(s, d).select($"s_nationkey".as("nk")))
        .groupBy($"nk").agg(count(lit(1)).as("n"))
    }),

    // -- EXCEPT (set difference, distinct semantics in both engines).
    // Right side is the high-spend customers, so the difference is
    // genuinely non-empty (nation-vs-customer keys overlapped fully).
    "q10_except" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d).select($"c_custkey")
        .except(Tables.orders(s, d).filter($"o_totalprice" > 250000).select($"o_custkey"))
    }),

    // -- COUNT(DISTINCT) — expands to a two-phase aggregate in Spark,
    // no driver-side dedup.
    "q11_count_distinct" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .groupBy($"o_orderstatus")
        .agg(countDistinct($"o_custkey").as("n_cust"), count(lit(1)).as("n"))
    }),

    // -- GROUP_CONCAT equivalent (SURVEY §2.4): deterministic via
    // sorted collect; DuckDB oracle uses string_agg(... ORDER BY).
    "q12_group_concat" -> ((s, d) => {
      import s.implicits._
      Tables.nation(s, d)
        .groupBy($"n_regionkey")
        .agg(concat_ws(",", array_sort(collect_list($"n_name"))).as("names"))
    }),

    // -- window functions: row_number + running sum, partition-local
    // (single shuffle on l_orderkey).
    "q13_window" -> ((s, d) => {
      import s.implicits._
      // (l_orderkey, l_linenumber) is not unique in the synthetic data;
      // l_quantity in the sort key makes the output multiset
      // order-independent (rows tying on the full key are identical in
      // every output column).
      val w = Window.partitionBy($"l_orderkey").orderBy($"l_linenumber", $"l_quantity")
      Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_linenumber",
          row_number().over(w).cast("long").as("rn"),
          sum(dec($"l_quantity")).over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double").as("running_qty"))
    }),

    // -- VALUES literal relation joined to a table (SURVEY §2.5 Values).
    "q14_values_join" -> ((s, d) => {
      import s.implicits._
      val v = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma")).toDF("k", "tag")
      Tables.region(s, d).join(v, $"r_regionkey" === $"k")
        .select($"r_regionkey", $"r_name", $"tag")
    }),

    // -- cross join (reference's no-shared-column join case, its todo!).
    "q15_cross_join" -> ((s, d) => {
      import s.implicits._
      val r1 = Tables.region(s, d).select($"r_name".as("a"))
      val r2 = Tables.region(s, d).select($"r_name".as("b"))
      r1.crossJoin(r2)
    }),

    // -- time-bucketed aggregation over the events table (batch analog
    // of the streaming tumbling window).
    "q16_events_hourly" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss").as("hour"),
                 $"event_type")
        .agg(count(lit(1)).as("n"), dsum($"value").as("total_value"))
    }),

    // -- conditional expressions: CASE / IF / COALESCE / NULLIF
    // (reference Expression::If/Coalesce, calc_engine.rs:1149-1177).
    "q17_conditional" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d).select(
        $"o_orderkey",
        when($"o_totalprice" > 200000, "big")
          .when($"o_totalprice" > 100000, "mid")
          .otherwise("small").as("bucket"),
        coalesce(nullif($"o_orderstatus", lit("O")), lit("open")).as("status"))
    }),

    // -- scalar string functions (SURVEY §2.7 string table).
    "q18_string_funcs" -> ((s, d) => {
      import s.implicits._
      Tables.part(s, d).select(
        $"p_partkey",
        upper($"p_name").as("uname"),
        lower($"p_brand").as("lbrand"),
        substring($"p_type", 1, 6).as("type6"),
        length($"p_name").cast("long").as("name_len"),
        concat($"p_brand", lit("#"), $"p_type").as("brand_type"),
        regexp_replace($"p_name", " ", "_").as("snake"),
        $"p_type".like("%BRASS%").as("is_brass"),
        $"p_name".startsWith("lin").as("starts_lin"),
        $"p_name".endsWith("d").as("ends_d"))
    }),

    // -- scalar numeric functions (abs/round/ceil/floor/sqrt; all
    // IEEE-deterministic choices — see file scaladoc).
    "q19_math_funcs" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d).select(
        $"l_orderkey", $"l_linenumber",
        abs($"l_discount" - 0.05).as("d_abs"),
        round($"l_extendedprice", 0).as("price_r0"),
        ceil($"l_quantity").as("qty_ceil"),
        floor($"l_extendedprice").as("price_floor"),
        sqrt($"l_quantity").as("qty_sqrt"))
    }),

    // -- hash functions (SURVEY §2.7 hash row: Md5/Sha256).
    "q20_hash_funcs" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(
        $"doc_id",
        md5($"text").as("h_md5"),
        sha2($"text", 256).as("h_sha256"))
    }),

    // -- selective multi-join (TPC-H Q3 shape): filters push to all
    // three scans; customer broadcast; orders|><|lineitem shuffles on
    // the order key only.
    "q21_multi_join" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d).filter($"c_mktsegment" === "BUILDING")
        .join(Tables.orders(s, d), $"c_custkey" === $"o_custkey")
        .join(Tables.lineitem(s, d), $"o_orderkey" === $"l_orderkey")
        .filter($"o_orderdate" < lit("1998-03-15").cast("timestamp") &&
                $"l_shipdate" > lit("1995-03-15").cast("timestamp"))
        .groupBy($"o_orderkey",
                 date_format($"o_orderdate", "yyyy-MM-dd").as("odate"),
                 $"o_orderpriority")
        .agg(sum(dec($"l_extendedprice") * (lit(1).cast(DecimalType(18, 2)) - dec($"l_discount")))
               .cast("double").as("revenue"))
    }),

    // -- MIN/MAX over heterogeneous types (string, timestamp, double).
    "q22_minmax" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .groupBy($"o_orderpriority")
        .agg(
          date_format(min($"o_orderdate"), "yyyy-MM-dd").as("first_order"),
          date_format(max($"o_orderdate"), "yyyy-MM-dd").as("last_order"),
          min($"o_totalprice").as("min_price"),
          max($"o_totalprice").as("max_price"),
          min($"o_orderstatus").as("min_status"))
    }),

    // -- INTERSECT (distinct set intersection — the set-op family's
    // third member next to q09 UNION and q10 EXCEPT). Spark plans a
    // left-semi join over distinct keys.
    "q35_intersect" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d).select($"c_nationkey".as("nk"))
        .intersect(Tables.supplier(s, d).filter($"s_acctbal" > 5000)
          .select($"s_nationkey".as("nk")))
    }),

    // -- correlated scalar subquery (via the spark.sql entry path, the
    // one surface with subquery syntax): customers above their nation's
    // average balance. Catalyst decorrelates this into one aggregate +
    // equi-join — never a per-row re-execution — which the PlanSpec
    // shape test pins.
    "q36_corr_subquery" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("graft_customer")
      s.sql("""SELECT c_custkey, c_nationkey, c_acctbal FROM graft_customer c
              |WHERE c_acctbal > (SELECT avg(i.c_acctbal) FROM graft_customer i
              |                   WHERE i.c_nationkey = c.c_nationkey)""".stripMargin)
    }),

    // -- salted skew join: the explicit-salting rewrite for hot shuffle
    // keys must reproduce the plain equi-join bit-for-bit (the oracle
    // IS the plain join) — salting moves rows, never changes them. The
    // salt count is measured from the key distribution (autoSalts), not
    // hard-coded: on this evenly-keyed table it detects no hot key and
    // degrades to the plain join, which is exactly the right plan.
    "q37_salted_join" -> ((s, d) => {
      import s.implicits._
      val big = Tables.orders(s, d)
        .select($"o_custkey".as("custkey"), $"o_totalprice")
      val small = Tables.customer(s, d)
        .select($"c_custkey".as("custkey"), $"c_mktsegment")
      graft.operators.Skew.saltedEquiJoinAuto(big, small, "custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("total_price"))
    }),

    // -- bucketed co-located join: both fact tables laid out once into
    // the same hash buckets on the join key, so the merge join reads
    // bucket i against bucket i with NO exchange at query time (the
    // plan guard is in PlanSpec; the oracle is the plain join — layout
    // must never change results)
    "q39_bucketed_join" -> ((s, d) => {
      import s.implicits._
      val (lt, ot) = bucketedOrderTables(s, d)
      s.table(lt).join(s.table(ot), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum(dec($"l_extendedprice") * (lit(1).cast(DecimalType(18, 2)) - dec($"l_discount")))
            .cast("double").as("revenue"))
    }),

    // -- Z-order layout: the Morton interleave of two bucketed
    // dimensions, bit-exact vs the oracle's re-derivation — the
    // write-side ordering that keeps parquet min/max stats tight on
    // BOTH query axes
    "q38_zorder" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .select($"o_orderkey", pmod($"o_custkey", lit(32L)).as("da"),
          pmod($"o_orderkey", lit(32L)).as("db"))
        .withColumn("zval",
          graft.operators.Layout.zValue($"da", $"db", bitsPerDim = 5))
        .orderBy($"zval", $"o_orderkey").limit(100)
    })
  )

  val oracles: Map[String, String] = Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount > 0.05 AND l_quantity < 25""".stripMargin,

    "q03_join_agg" ->
      """SELECT n_name, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |            JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q04_left_join" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        | CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey""".stripMargin,

    "q05_semi_join" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 250000)""".stripMargin,

    "q06_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 250000)""".stripMargin,

    "q07_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "q08_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q09_union" ->
      """SELECT nk, COUNT(*) AS n FROM (
        |  SELECT c_nationkey AS nk FROM customer
        |  UNION ALL
        |  SELECT s_nationkey AS nk FROM supplier
        |) GROUP BY nk""".stripMargin,

    "q10_except" ->
      "SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 250000",

    "q11_count_distinct" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "q12_group_concat" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names
        |FROM nation GROUP BY n_regionkey""".stripMargin,

    "q13_window" ->
      """SELECT l_orderkey, l_linenumber,
        | ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity) AS rn,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_qty
        |FROM lineitem""".stripMargin,

    "q14_values_join" ->
      """SELECT r_regionkey, r_name, tag
        |FROM region JOIN (VALUES (0, 'alpha'), (1, 'beta'), (2, 'gamma')) AS v(k, tag)
        |ON r_regionkey = v.k""".stripMargin,

    "q15_cross_join" ->
      """SELECT r1.r_name AS a, r2.r_name AS b FROM region r1 CROSS JOIN region r2""",

    "q16_events_hourly" ->
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour,
        | event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q17_conditional" ->
      """SELECT o_orderkey,
        | CASE WHEN o_totalprice > 200000 THEN 'big'
        |      WHEN o_totalprice > 100000 THEN 'mid'
        |      ELSE 'small' END AS bucket,
        | COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status
        |FROM orders""".stripMargin,

    "q18_string_funcs" ->
      """SELECT p_partkey,
        | upper(p_name) AS uname,
        | lower(p_brand) AS lbrand,
        | substring(p_type, 1, 6) AS type6,
        | length(p_name) AS name_len,
        | concat(p_brand, '#', p_type) AS brand_type,
        | replace(p_name, ' ', '_') AS snake,
        | p_type LIKE '%BRASS%' AS is_brass,
        | starts_with(p_name, 'lin') AS starts_lin,
        | ends_with(p_name, 'd') AS ends_d
        |FROM part""".stripMargin,

    "q19_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        | abs(l_discount - 0.05) AS d_abs,
        | round(l_extendedprice, 0) AS price_r0,
        | CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
        | CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        | sqrt(l_quantity) AS qty_sqrt
        |FROM lineitem""".stripMargin,

    "q20_hash_funcs" ->
      """SELECT doc_id, md5(text) AS h_md5, sha256(text) AS h_sha256 FROM documents""",

    "q21_multi_join" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate, o_orderpriority,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |              JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority""".stripMargin,

    "q22_minmax" ->
      """SELECT o_orderpriority,
        | strftime(min(o_orderdate), '%Y-%m-%d') AS first_order,
        | strftime(max(o_orderdate), '%Y-%m-%d') AS last_order,
        | min(o_totalprice) AS min_price,
        | max(o_totalprice) AS max_price,
        | min(o_orderstatus) AS min_status
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q35_intersect" ->
      """SELECT c_nationkey AS nk FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000""".stripMargin,

    "q36_corr_subquery" ->
      """SELECT c_custkey, c_nationkey, c_acctbal FROM customer c
        |WHERE c_acctbal > (SELECT avg(i.c_acctbal) FROM customer i
        |                   WHERE i.c_nationkey = c.c_nationkey)""".stripMargin,

    "q37_salted_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q39_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |          (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    "q38_zorder" ->
      """WITH t AS (SELECT o_orderkey, o_custkey % 32 AS da, o_orderkey % 32 AS db
        |           FROM orders)
        |SELECT o_orderkey, da, db,
        |  CAST(list_sum(list_transform(range(5), i ->
        |    (((da >> i) & 1) << (2*i)) | (((db >> i) & 1) << (2*i+1)))) AS BIGINT) AS zval
        |FROM t ORDER BY zval, o_orderkey LIMIT 100""".stripMargin
  )
}
