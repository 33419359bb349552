package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational query surface per SURVEY.md §2 Part B.
  *
  * Each query is a standard Spark primitive (scan, filter, join, agg,
  * window, set op, scalar functions) exercised over the materialized
  * capture tables; the CDC-specific ones (as-of latest-row snapshot,
  * latest-wins apply, debounce compaction) re-express the reference's
  * apply semantics (pgcapture pkg/sink/postgres.go:507-593 upserts,
  * pkg/pgcapture/debounce.go:87-139) as declarative plans Catalyst can
  * optimize.
  *
  * Scale notes (100 TB design point): every aggregation is a partial
  * (map-side combine) + final hash agg; joins to the small dimension
  * tables are explicitly broadcast; large fact-fact joins shuffle on
  * the join key only after filters are pushed to the parquet scan.
  * Floating-point outputs are rounded so results are stable across
  * partition-order / engine differences.
  */
object Relational {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  val queries: Seq[QueryDef] = Seq(

    // ---- Aggregation: TPC-H Q1 style pricing summary (partial+final agg) ----
    QueryDef.sql("q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          // Sum in decimal, as q02 rounds: each product is exact at 4
          // (6 with the tax) decimals, so the casts recover it on both
          // engines and a half-cent tie in the sum rounds the same way.
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")), 2).cast("double").as("sum_disc_price"),
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
            .cast("decimal(18,6)")), 2).cast("double").as("sum_charge"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ---- Projection + selective filter (predicate/column pushdown to scan) ----
    QueryDef.sql("q02_filter_project",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(round(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        // Round in decimal, not double: the product is an exact 4-dp value,
        // so the decimal(18,4) cast recovers it exactly on both engines and
        // HALF_UP ties at .xx5 agree (double rounding diverges on 5/1251 rows).
        .select(col("l_orderkey"), col("l_linenumber"),
          round((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)"), 2).cast("double").as("revenue"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // ---- 3-way join + agg + top-k (shuffle join on fact keys) ----
    QueryDef.sql("q03_top_revenue_orders",
      """SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, d, "orders")
      val l = t(s, d, "lineitem")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        // summed in decimal like q01 (a double sum can land either side
        // of a half-cent tie: 810977.70 here against DuckDB's .71)
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")), 2).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },

    // ---- Star join through broadcast dimensions (nation/region tiny) ----
    QueryDef.sql("q04_region_revenue",
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin) { (s, d) =>
      val l = t(s, d, "lineitem")
      val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      val n = t(s, d, "nation")
      val r = t(s, d, "region").filter(col("r_name") === "ASIA")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("n_name"))
    },

    // ---- Left-semi join (EXISTS; reference's change∩snapshot reconciliation) ----
    QueryDef.sql("q05_semi_join",
      """SELECT o_orderpriority, count(*) AS cnt
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val o = t(s, d, "orders")
      val l = t(s, d, "lineitem").filter(col("l_quantity") >= 48)
      o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("o_orderpriority"))
    },

    // ---- Left-anti join (NOT EXISTS) ----
    QueryDef.sql("q06_anti_join",
      """SELECT c_mktsegment, count(*) AS cnt
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("c_mktsegment"))
    },

    // ---- Left outer join + agg (nulls preserved for missing matches) ----
    QueryDef.sql("q07_left_join_spend",
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  round(sum(coalesce(o_totalprice, 0)), 2) AS total_spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(sum(coalesce(col("o_totalprice"), lit(0))), 2).as("total_spend"))
        .orderBy(col("c_custkey"))
    },

    // ---- As-of latest-row snapshot: the CDC latest-wins upsert view
    //      (row_number over pk ordered by checkpoint desc = 1; SURVEY §2B
    //      "As-of", reference apply semantics pkg/sink/postgres.go:507) ----
    QueryDef.sql("q08_asof_latest",
      """SELECT user_id, event_id AS last_event_id, event_type AS last_type,
        |  value AS last_value
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("value").as("last_value"))
        .orderBy(col("user_id"))
    },

    // ---- Ranking window: top suppliers per nation ----
    QueryDef.sql("q09_rank_suppliers",
      """SELECT s_nationkey, s_suppkey, s_acctbal,
        |  CAST(dense_rank() OVER (PARTITION BY s_nationkey
        |       ORDER BY s_acctbal DESC, s_suppkey) AS INTEGER) AS rnk
        |FROM supplier
        |QUALIFY rnk <= 3
        |ORDER BY s_nationkey, rnk, s_suppkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("s_acctbal").desc, col("s_suppkey"))
      t(s, d, "supplier")
        .withColumn("rnk", dense_rank().over(w))
        .filter(col("rnk") <= 3)
        .select(col("s_nationkey"), col("s_suppkey"), col("s_acctbal"), col("rnk"))
        .orderBy(col("s_nationkey"), col("rnk"), col("s_suppkey"))
    },

    // ---- Analytic window: lag/lead (old-vs-new diffs per SURVEY §2B) ----
    QueryDef.sql("q10_lag_delta",
      """SELECT user_id, event_id, value - lag(value) OVER
        |    (PARTITION BY user_id ORDER BY event_id) AS delta,
        |  lead(event_id) OVER
        |    (PARTITION BY user_id ORDER BY event_id) AS next_event
        |FROM events
        |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      t(s, d, "events")
        .select(col("user_id"), col("event_id"),
          (col("value") - lag(col("value"), 1).over(w)).as("delta"),
          lead(col("event_id"), 1).over(w).as("next_event"))
        .orderBy(col("user_id"), col("event_id"))
    },

    // ---- Frame window: running total ----
    QueryDef.sql("q11_running_total",
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(w), 2).as("running_spend"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // ---- Rollup ----
    QueryDef.sql("q12_rollup",
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS cnt
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // ---- Cube ----
    QueryDef.sql("q13_cube",
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_extendedprice), 2) AS sum_price, count(*) AS cnt
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_extendedprice")), 2).as("sum_price"), count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // ---- Distinct aggregation ----
    QueryDef.sql("q14_count_distinct",
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_custs,
        |  count(*) AS n_orders
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_custs"), count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },

    // ---- Total order + top-k (checkpoint (lsn,seq) ordering analog) ----
    QueryDef.sql("q15_topk",
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 20""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20)
    },

    // ---- Union (stream ∪ dump merge shape, SURVEY §2B set ops / A25) ----
    QueryDef.sql("q16_union_all",
      """SELECT id, kind, bal FROM (
        |  SELECT c_custkey AS id, 'customer' AS kind, c_acctbal AS bal FROM customer
        |  UNION ALL
        |  SELECT s_suppkey AS id, 'supplier' AS kind, s_acctbal AS bal FROM supplier)
        |ORDER BY kind, id""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer").select(col("c_custkey").as("id"),
        lit("customer").as("kind"), col("c_acctbal").as("bal"))
      val sup = t(s, d, "supplier").select(col("s_suppkey").as("id"),
        lit("supplier").as("kind"), col("s_acctbal").as("bal"))
      c.unionByName(sup).orderBy(col("kind"), col("id"))
    },

    // ---- Except (table diff / sync verification) ----
    QueryDef.sql("q17_except",
      """SELECT custkey FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  EXCEPT
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '5-LOW')
        |ORDER BY custkey""".stripMargin) { (s, d) =>
      val o = t(s, d, "orders")
      o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("custkey"))
        .except(o.filter(col("o_orderpriority") === "5-LOW").select(col("o_custkey").as("custkey")))
        .orderBy(col("custkey"))
    },

    // ---- Intersect ----
    QueryDef.sql("q18_intersect",
      """SELECT custkey FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'
        |  INTERSECT
        |  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000)
        |ORDER BY custkey""".stripMargin) { (s, d) =>
      t(s, d, "orders").filter(col("o_orderstatus") === "P")
        .select(col("o_custkey").as("custkey"))
        .intersect(t(s, d, "customer").filter(col("c_acctbal") > 5000)
          .select(col("c_custkey").as("custkey")))
        .orderBy(col("custkey"))
    },

    // ---- Scalar string functions ----
    QueryDef.sql("q19_string_funcs",
      """SELECT p_partkey,
        |  upper(substring(p_name, 1, 10)) AS name_pfx,
        |  CAST(length(p_name) AS INTEGER) AS name_len,
        |  replace(p_type, ' ', '_') AS type_slug,
        |  p_brand || '#' || CAST(p_size AS VARCHAR) AS brand_size
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      t(s, d, "part").select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 10)).as("name_pfx"),
        length(col("p_name")).as("name_len"),
        regexp_replace(col("p_type"), " ", "_").as("type_slug"),
        concat(col("p_brand"), lit("#"), col("p_size").cast("string")).as("brand_size"))
        .orderBy(col("p_partkey"))
    },

    // ---- Scalar date functions incl. the PG Y2K-epoch µs conversion
    //      (reference pkg/sink/postgres.go:718-731) ----
    QueryDef.sql("q20_date_funcs",
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(month(o_orderdate) AS INTEGER) AS mo,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  epoch_us(o_orderdate) - 946684800000000 AS pg_epoch_us
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      t(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        (unix_micros(col("o_orderdate").cast("timestamp")) - lit(946684800000000L)).as("pg_epoch_us"))
        .orderBy(col("o_orderkey"))
    },

    // ---- Scalar math functions ----
    QueryDef.sql("q21_math_funcs",
      """SELECT l_orderkey, l_linenumber,
        |  round(abs(l_discount - 0.05), 4) AS disc_dev,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
        |  round(sqrt(l_quantity), 6) AS qty_sqrt,
        |  round(ln(l_extendedprice), 6) AS price_ln
        |FROM lineitem
        |WHERE l_orderkey <= 1000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      t(s, d, "lineitem").filter(col("l_orderkey") <= 1000).select(
        col("l_orderkey"), col("l_linenumber"),
        round(abs(col("l_discount") - 0.05), 4).as("disc_dev"),
        floor(col("l_extendedprice")).as("price_floor"),
        ceil(col("l_quantity")).as("qty_ceil"),
        round(sqrt(col("l_quantity")), 6).as("qty_sqrt"),
        round(log(col("l_extendedprice")), 6).as("price_ln"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // ---- Array functions (tokenize / contains / index; `tags`-style) ----
    QueryDef.sql("q22_array_funcs",
      """SELECT doc_id,
        |  CAST(len(toks) AS INTEGER) AS n_tokens,
        |  list_contains(toks, 'data') AS has_data,
        |  toks[1] AS first_tok,
        |  toks[-1] AS last_tok
        |FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      t(s, d, "documents")
        .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
        .select(col("doc_id"),
          size(col("toks")).as("n_tokens"),
          array_contains(col("toks"), "data").as("has_data"),
          element_at(col("toks"), 1).as("first_tok"),
          element_at(col("toks"), -1).as("last_tok"))
        .orderBy(col("doc_id"))
    },

    // ---- JSON extraction (ddl_logs.activity / props-style payloads) ----
    QueryDef.sql("q23_json_extract",
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      t(s, d, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val"))
        .orderBy(col("event_id"))
    },

    // ---- Regex routing filter (gateway table regex, A23) ----
    QueryDef.sql("q24_regex_route",
      """SELECT event_type, count(*) AS cnt
        |FROM events
        |WHERE regexp_matches(event_type, '^(click|view)$')
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .filter(col("event_type").rlike("^(click|view)$"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("event_type"))
    },

    // ---- CDC apply semantics in batch: latest-wins per key, deletes drop
    //      the row (reference A16-A19 upsert/delete + A27 dump-as-UPDATE) ----
    QueryDef.sql("q25_cdc_apply",
      """SELECT user_id, event_id AS applied_lsn, value AS current_value
        |FROM (SELECT user_id, event_id, value,
        |        CASE event_type WHEN 'signup' THEN 'INSERT'
        |                        WHEN 'error' THEN 'DELETE'
        |                        ELSE 'UPDATE' END AS op
        |      FROM events)
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
        |  AND op <> 'DELETE'
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      val changes = t(s, d, "events").select(
        col("user_id"), col("event_id"), col("value"),
        when(col("event_type") === "signup", "INSERT")
          .when(col("event_type") === "error", "DELETE")
          .otherwise("UPDATE").as("op"))
      graft.cdc.CdcApply.latestSnapshot(changes,
          keyCols = Seq("user_id"), orderCols = Seq("event_id"))
        .filter(col("op") =!= "DELETE")
        .select(col("user_id"), col("event_id").as("applied_lsn"),
          col("value").as("current_value"))
        .orderBy(col("user_id"))
    },

    // ---- Grouping sets via SQL entry point ----
    QueryDef.sql("q26_grouping_sets",
      """SELECT o_orderstatus, o_orderpriority,
        |  round(sum(o_totalprice), 2) AS sum_price, count(*) AS cnt
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.registerAll(s, d)
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |  round(sum(o_totalprice), 2) AS sum_price, count(*) AS cnt
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
    },

    // ---- Tumbling time window rollup (streaming window agg, batch form) ----
    // sum/avg aggregate in DECIMAL (exact, order-independent: double
    // summation order differs between engines) and ROUND in decimal
    // too — an exact .xx5 tie rounds HALF_UP in decimal on both
    // engines, while double rounding is binary and diverged on 3 of
    // 3385 groups at sf0.1. The avg does ONE double division of
    // identical operands (deterministic), then decimal-rounds.
    QueryDef.sql("q27_hourly_rollup",
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
        |  count(*) AS cnt,
        |  CAST(round(sum(CAST(value AS DECIMAL(25,10))), 2) AS DOUBLE) AS sum_value,
        |  CAST(round(CAST(CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE)
        |    / count(*) AS DECIMAL(25,10)), 4) AS DOUBLE) AS avg_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(25,10)")).as("sd"))
        .select(col("hour_start"), col("event_type"), col("cnt"),
          round(col("sd"), 2).cast("double").as("sum_value"),
          round((col("sd").cast("double") / col("cnt")).cast("decimal(25,10)"), 4)
            .cast("double").as("avg_value"))
        .orderBy(col("hour_start"), col("event_type"))
    },

    // ---- Sessionization: 30-min-gap sessions per user (session_window
    //      batch analog; tx grouping per SURVEY §2B streaming) ----
    QueryDef.sql("q28_sessionize",
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |      OR lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |sess AS (
        |  SELECT user_id, event_id, ts_us,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts_us) AS start_us, max(ts_us) - min(ts_us) AS dur_us
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin) { (s, d) =>
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("ts_us"), 1).over(wOrd))
        .withColumn("new_sess",
          when(col("prev_us").isNull || col("ts_us") - col("prev_us") > 1800000000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_sess")).over(wRun))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), min(col("ts_us")).as("start_us"),
          (max(col("ts_us")) - min(col("ts_us"))).as("dur_us"))
        .orderBy(col("user_id"), col("session_id"))
    },

    // ---- Streaming sessionization: the native session_window
    //      micro-batch fold answering to the BATCH q28 oracle — the
    //      stream-equals-batch proof for gap sessions (the q93/q94
    //      discipline). The feed is a fresh 8-file copy of events read
    //      2 files per trigger (genuinely cross-batch session merges:
    //      range-partitioned by event_id, a user's session spans
    //      files); the watermark delay is derived from the feed's real
    //      span so NO file arrival order can drop rows late, and a
    //      driver-written sentinel file after the drain pushes the
    //      watermark past every session end so append mode flushes all
    //      closed sessions (the standard flush trick — late high-ts
    //      event). Session numbering (the oracle's running count) is a
    //      per-user row_number over closed sessions in the batch tail.
    //      ----
    QueryDef.sql("q124_stream_sessionize",
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |      OR lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |sess AS (
        |  SELECT user_id, event_id, ts_us,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts_us) AS start_us, max(ts_us) - min(ts_us) AS dur_us
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin) { (s, d) =>
      val gapUs = 1800000000L
      val ev = t(s, d, "events")
        .select(col("event_id"), col("ts"), col("user_id"))
      // O(1) driver pull: the feed's event-time span sizes the
      // watermark delay (no arrival order may late-drop) and the
      // sentinel ts (must flush every session end)
      val Array(spanRow) = ev
        .agg(min(unix_micros(col("ts"))).as("lo"),
          max(unix_micros(col("ts"))).as("hi")).collect()
      val (loUs, hiUs) = (spanRow.getLong(0), spanRow.getLong(1))
      val delayUs = (hiUs - loUs) + 3600000000L
      val sentinelUs = hiUs + gapUs + delayUs + 3600000000L
      val inDir = graft.bench.BenchFeeds.scratchDir("q124_in")
      ev.repartitionByRange(8, col("event_id"))
        .write.mode("overwrite").parquet(inDir)
      // FILE sink (r14 ask #3): closed sessions are corpus-
      // proportional rows — they land distributed, not on the driver
      val outDir = graft.bench.BenchFeeds.scratchDir("q124_out")
      val ckDir = graft.bench.BenchFeeds.scratchDir("q124_ck")
      graft.streaming.StreamRun.withStatePartitions(s, 8) {
        val stream = s.readStream
          .schema(s.read.parquet(inDir).schema)
          .option("maxFilesPerTrigger", 2)
          .parquet(inDir)
        val q = graft.streaming.StreamSessionize
          .sessions(stream, "user_id", "ts", gapUs,
            s"$delayUs microseconds")
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckDir)
          .outputMode("append").start()
        try {
          q.processAllAvailable()
          // flush: one sentinel row, written AFTER the drain so it is
          // discovered strictly last — its event time advances the
          // watermark past every real session end
          s.range(1).select(lit(-1L).as("event_id"),
            timestamp_micros(lit(sentinelUs)).as("ts"),
            lit(-1L).as("user_id"))
            .write.mode("append").parquet(inDir)
          q.processAllAvailable()
        } finally q.stop()
      }
      val wSess = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
      s.read.parquet(outDir).filter(col("user_id") =!= -1L)
        .withColumn("session_id", row_number().over(wSess).cast("long"))
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("start_us"), col("dur_us"))
        .orderBy(col("user_id"), col("session_id"))
    },

    // ---- Debounce compaction, batch analog of A34: within each
    //      (key, interval) window keep only the newest change ----
    QueryDef.sql("q29_debounce",
      """SELECT user_id, event_id, event_type
        |FROM events
        |QUALIFY row_number() OVER (
        |  PARTITION BY user_id, date_trunc('minute', ts)
        |  ORDER BY event_id DESC) = 1
        |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id"), date_trunc("minute", col("ts")))
        .orderBy(col("event_id").desc)
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .orderBy(col("user_id"), col("event_id"))
    },

    // ---- Salted two-phase aggregation: the skew-survival pattern for
    //      low-cardinality keys. Phase 1 aggregates on (key, salt16)
    //      — a hot key ('en' here; at 100 TB think "one domain is 40%
    //      of the corpus") spreads over 16 reducers instead of melting
    //      one; phase 2 re-aggregates the ≤ 16·|keys| partials. Sums
    //      are integer (exact under any regrouping), the average is
    //      derived once at the end — the oracle's plain GROUP BY must
    //      match bit-for-bit, proving salting changes the plan, not
    //      the answer. ----
    QueryDef.sql("q73_salted_skew_agg",
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val partial = t(s, d, "documents")
        .groupBy(col("lang"), pmod(xxhash64(col("doc_id")), lit(16)).as("salt"))
        .agg(count(lit(1)).as("c"), sum(col("n_chars")).cast("long").as("s"))
      partial.groupBy(col("lang"))
        .agg(sum(col("c")).as("n_docs"), sum(col("s")).as("total_chars"))
        .select(col("lang"), col("n_docs"), col("total_chars"),
          round(col("total_chars").cast("double") / col("n_docs"), 4).as("avg_chars"))
        .orderBy(col("lang"))
    },

    // ---- Fixed-width histogram: value binning as a pure projection
    //      (bin = floor(v/width)) feeding one partial+final aggregate —
    //      the profile/telemetry shape. Per-bin sums run in decimal so
    //      the result is independent of aggregation order (double sums
    //      would hash-diverge under any repartitioning). ----
    QueryDef.sql("q78_histogram",
      """SELECT bin, CAST(bin * 50 AS DOUBLE) AS lo,
        |  CAST((bin + 1) * 50 AS DOUBLE) AS hi,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(25,10))), 4) AS DOUBLE) AS sum_value
        |FROM (SELECT CAST(floor(value / 50) AS BIGINT) AS bin, value FROM events)
        |GROUP BY bin ORDER BY bin""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .select(floor(col("value") / 50).cast("long").as("bin"), col("value"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(25,10)")), 4)
            .cast("double").as("sum_value"))
        .select(col("bin"), (col("bin") * 50).cast("double").as("lo"),
          ((col("bin") + 1) * 50).cast("double").as("hi"),
          col("n"), col("sum_value"))
        .orderBy(col("bin"))
    },

    // ---- Statistical aggregates: stddev / covariance / correlation,
    //      partial+final co-moment merges (Welford-style) — fully
    //      distributed, constant state per group. Rounding is scale-
    //      aware: both engines merge partials in different orders, so
    //      the shared decimals must sit far above the merge noise —
    //      corr (≈1e-3, noise ≈1e-12) and stddev (≈14) round at 4 dp,
    //      covariance (≈3e3) at 2 dp. ----
    QueryDef.sql("q80_stats_agg",
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qp,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qp
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("cov_qp"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"))
        .orderBy(col("l_returnflag"))
    },

    // ---- Skew-safe SALTED JOIN (the join-side twin of q73's salted
    //      agg): the heavy-hitter keys — data-derived top-10 by fact
    //      count, the explicit heavy list production skew joins carry
    //      — get their fact rows salted across 16 sub-keys and their
    //      dim rows REPLICATED onto all 16, so one hot key spreads
    //      over 16 reducers instead of stalling one. Cold keys keep
    //      salt 0 (no replication cost). The heavy list rides a
    //      broadcast above an aggregation (≤10 rows at any scale);
    //      sums are decimal so the plain-join oracle must match
    //      bit-for-bit — salting changes the plan, never the answer.
    //      AQE's skew-join split is the runtime analog; this is the
    //      declarative form that also covers aggregation-after-join. ----
    QueryDef.sql("q162_salted_join",
      """SELECT c_mktsegment, event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(25,10))), 4) AS DOUBLE)
        |    AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY c_mktsegment, event_type""".stripMargin) { (s, d) =>
      val S = 16
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      val heavy = ev.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("user_id")).limit(10)
        .select(col("user_id"), lit(true).as("hv"))
      val fact = ev.join(broadcast(heavy), Seq("user_id"), "left")
        .withColumn("salt",
          when(col("hv").isNotNull, pmod(xxhash64(col("event_id")), lit(S)))
            .otherwise(lit(0L)))
      val dim = t(s, d, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
        .join(broadcast(heavy), Seq("user_id"), "left")
        .withColumn("salt", explode(
          when(col("hv").isNotNull,
            sequence(lit(0L), lit(S - 1L))).otherwise(array(lit(0L)))))
      fact.join(dim, Seq("user_id", "salt"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(25,10)")), 4)
            .cast("double").as("sum_value"))
        .orderBy(col("c_mktsegment"), col("event_type"))
    },

    // ---- Session-gap sensitivity sweep: the audit BEFORE anyone
    //      picks q28's 30-minute constant — session counts and
    //      events-per-session at 5/15/30/60-minute gap thresholds,
    //      read off ONE user-keyed lag pass (a session count is just
    //      #users + #gaps-above-threshold, so the sweep costs four
    //      conditional sums, not four sessionizations). A metric that
    //      swings hard across the sweep is threshold-driven, not
    //      behavior-driven. All integer (exact µs gaps, exact micro
    //      ratio). Scale: one user-keyed window over the corpus +
    //      O(thresholds) everything else. ----
    QueryDef.sql("q288_session_sweep",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id
        |  FROM events),
        |g AS (SELECT user_id, us - lag(us) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id) AS gap FROM e),
        |thr(t_min) AS (VALUES (CAST(5 AS BIGINT)), (15), (30), (60)),
        |st AS (SELECT thr.t_min,
        |    CAST((SELECT count(DISTINCT user_id) FROM e) AS BIGINT)
        |      + CAST(sum(CASE WHEN g.gap > thr.t_min * 60000000
        |        THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |    CAST((SELECT count(*) FROM e) AS BIGINT) AS n_events
        |  FROM thr, g WHERE g.gap IS NOT NULL GROUP BY thr.t_min)
        |SELECT t_min, n_sessions,
        |  CAST(n_events * 1000000 // n_sessions AS BIGINT)
        |    AS events_per_session_micro
        |FROM st ORDER BY t_min""".stripMargin) { (s, d) =>
      val e = t(s, d, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"))
      val g = e.withColumn("gap", col("us") - lag(col("us"), 1)
          .over(Window.partitionBy(col("user_id"))
            .orderBy(col("us"), col("event_id"))))
        .filter(col("gap").isNotNull)
        .select(col("gap"))
      val base = e.agg(countDistinct(col("user_id")).as("nu"),
        count(lit(1)).as("n_events"))
      val thr = s.range(0, 4).select(
        when(col("id") === 0, 5L).when(col("id") === 1, 15L)
          .when(col("id") === 2, 30L).otherwise(60L).as("t_min"))
      g.crossJoin(broadcast(thr))
        .groupBy(col("t_min"))
        .agg(sum(when(col("gap") > col("t_min") * 60000000L, 1L)
          .otherwise(0L)).as("extra"))
        .crossJoin(broadcast(base))
        .select(col("t_min"),
          (col("nu") + col("extra")).cast("long").as("n_sessions"),
          expr("""CAST(n_events * 1000000 div (nu + extra)
            |  AS BIGINT)""".stripMargin).as("events_per_session_micro"))
        .orderBy(col("t_min"))
    })
}
