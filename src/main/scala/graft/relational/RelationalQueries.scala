package graft.relational

import graft.{Q, T}
import graft.Q.{q, qm}
import graft.T._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational operator catalog over the driver's TPC-H-ish tables.
  *
  * Each entry exercises one operator row of SURVEY.md §2 (scan/filter/join/
  * aggregate/sort/set-op/expression), expressed Spark-first: declarative
  * DataFrame plans that Catalyst can push down, prune, and codegen. The
  * DuckDB oracle SQL is the semantic contract.
  */
object RelationalQueries {

  /** Morton-clustered lineitem copy (q130), built once per data dir
    * ([[graft.Scratch.once]]). */
  private def zorderFor(s: SparkSession, dir: String): String =
    graft.Scratch.once("zorder", dir) { p =>
      graft.sources.ZOrder.writeZOrdered(lineitem(s, dir),
        "l_partkey", "l_suppkey", p, numFiles = 32)
    }

  val all: Seq[Q] = Seq(
    // ---- §2.4 aggregation: GROUP BY with SUM/AVG/COUNT (TPC-H Q1 shape).
    // Partial (map-side) aggregation + 2-col group key: shuffles only the
    // pre-aggregated rows; at 100 TB the combine happens before the exchange.
    q("q01_agg_pricing",
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlDsum("l_quantity")} AS sum_qty,
         |  ${sqlDsum("l_extendedprice")} AS sum_base_price,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         |  ${sqlDavg("l_quantity")} AS avg_qty,
         |  ${sqlDavg("l_discount")} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
      (s, dir) =>
        lineitem(s, dir)
          .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast(TimestampType))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            sum(d2(col("l_extendedprice")) * (lit(1).cast(dec2) - d2(col("l_discount"))))
              .cast(DoubleType).as("sum_disc_price"),
            (sum(d2(col("l_quantity"))).cast(DoubleType) / count(col("l_quantity"))).as("avg_qty"),
            (sum(d2(col("l_discount"))).cast(DoubleType) / count(col("l_discount"))).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ---- §2.2 scan + filter + projection. Both the predicate and the
    // 3-column ReadSchema reach the parquet scan (verified via explain).
    q("q02_filter_project",
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-03-01 00:00:00'
        |  AND l_quantity < 4
        |ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST""".stripMargin) {
      (s, dir) =>
        lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast(TimestampType)
            && col("l_shipdate") < lit("1997-03-01 00:00:00").cast(TimestampType)
            && col("l_quantity") < 4)
          .select("l_orderkey", "l_linenumber", "l_quantity")
          .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- §2.3 joins + §2.6 top-k (TPC-H Q3 shape). No broadcast hints:
    // customer grows with SF, so AQE + autoBroadcastJoinThreshold decide at
    // runtime — broadcast when genuinely small, shuffle hash join at 100 TB.
    q("q03_join_topk",
      s"""SELECT o.o_orderkey,
         |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         |  o.o_orderdate
         |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
         |GROUP BY o.o_orderkey, o.o_orderdate
         |ORDER BY revenue DESC NULLS LAST, o_orderkey NULLS FIRST
         |LIMIT 10""".stripMargin) {
      (s, dir) =>
        val c = customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        val o = orders(s, dir)
          .filter(col("o_orderdate") < lit("1997-06-01 00:00:00").cast(TimestampType))
        val l = lineitem(s, dir)
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate"))
          .agg(sum(d2(col("l_extendedprice")) * (lit(1).cast(dec2) - d2(col("l_discount"))))
            .cast(DoubleType).as("revenue"))
          .select(col("o_orderkey"), col("revenue"), col("o_orderdate"))
          .orderBy(col("revenue").desc_nulls_last, col("o_orderkey"))
          .limit(10)
    },

    // ---- §2.3 EXISTS → left-semi join (no row duplication, smaller shuffle
    // than inner+distinct).
    q("q04_exists_semijoin",
      """SELECT o_orderkey, o_orderpriority
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 48)
        |ORDER BY o_orderkey NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val o = orders(s, dir)
        val l = lineitem(s, dir).filter(col("l_quantity") > 48)
        o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
          .select("o_orderkey", "o_orderpriority")
          .orderBy("o_orderkey")
    },

    // ---- §2.3 NOT EXISTS / MINUS → left-anti join.
    q("q05_not_exists_antijoin",
      """SELECT c_custkey, c_name
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val c = customer(s, dir)
        val o = orders(s, dir)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
    },

    // ---- §2.3 OPTIONAL → left outer join (null-preserving count).
    q("q06_left_join",
      """SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
        |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_custkey
        |ORDER BY c_custkey NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val c = customer(s, dir)
        val o = orders(s, dir)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("n_orders"))
          .orderBy("c_custkey")
    },

    // ---- §2.6 UNION ALL (bag semantics — the SPARQL-correct one; the
    // reference dedups, a documented divergence).
    q("q07_union_all",
      """SELECT o_orderkey AS okey, 'high' AS bucket FROM orders WHERE o_totalprice > 300000
        |UNION ALL
        |SELECT o_orderkey AS okey, 'urgent' AS bucket FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY okey NULLS FIRST, bucket NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val o = orders(s, dir)
        val hi = o.filter(col("o_totalprice") > 300000)
          .select(col("o_orderkey").as("okey"), lit("high").as("bucket"))
        val ur = o.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey").as("okey"), lit("urgent").as("bucket"))
        hi.unionByName(ur).orderBy("okey", "bucket")
    },

    // ---- §2.6 UNION + DISTINCT (the reference's dedup-union quirk).
    q("q08_union_distinct",
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000
        |UNION
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
        |ORDER BY custkey NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orders(s, dir).filter(col("o_totalprice") > 200000)
          .select(col("o_custkey").as("custkey"))
          .unionByName(customer(s, dir).filter(col("c_acctbal") > 9000)
            .select(col("c_custkey").as("custkey")))
          .distinct()
          .orderBy("custkey")
    },

    // ---- §2.6 DISTINCT.
    q("q09_distinct",
      """SELECT DISTINCT c_mktsegment, c_nationkey
        |FROM customer
        |ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST""".stripMargin) {
      (s, dir) =>
        customer(s, dir).select("c_mktsegment", "c_nationkey").distinct()
          .orderBy("c_mktsegment", "c_nationkey")
    },

    // ---- §2.6 ORDER BY multi-key asc/desc + LIMIT (top-k: Spark plans
    // TakeOrderedAndProject — no full sort at scale).
    q("q10_orderby_limit",
      """SELECT o_orderkey, o_totalprice, o_orderdate
        |FROM orders
        |ORDER BY o_totalprice DESC NULLS LAST, o_orderdate ASC NULLS FIRST, o_orderkey NULLS FIRST
        |LIMIT 25""".stripMargin) {
      (s, dir) =>
        orders(s, dir).select("o_orderkey", "o_totalprice", "o_orderdate")
          .orderBy(col("o_totalprice").desc_nulls_last, col("o_orderdate").asc_nulls_first,
            col("o_orderkey"))
          .limit(25)
    },

    // ---- §2.4 HAVING (filter over aggregate).
    q("q11_having",
      s"""SELECT l_suppkey, ${sqlDsum("l_quantity")} AS total_qty
         |FROM lineitem
         |GROUP BY l_suppkey
         |HAVING ${sqlDsum("l_quantity")} > 300
         |ORDER BY l_suppkey NULLS FIRST""".stripMargin) {
      (s, dir) =>
        lineitem(s, dir).groupBy(col("l_suppkey"))
          .agg(dsum(col("l_quantity")).as("total_qty"))
          .filter(col("total_qty") > 300)
          .orderBy("l_suppkey")
    },

    // ---- §2.4 COUNT DISTINCT (+ plain count side by side).
    q("q12_count_distinct",
      """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orders(s, dir).groupBy(col("o_orderpriority"))
          .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n_orders"))
          .orderBy("o_orderpriority")
    },

    // ---- §2.4 GROUP_CONCAT (sorted for determinism; reference
    // lazy_aggregate.rs:113-157).
    q("q13_group_concat",
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names
        |FROM nation
        |GROUP BY n_regionkey
        |ORDER BY n_regionkey NULLS FIRST""".stripMargin) {
      (s, dir) =>
        nation(s, dir).groupBy(col("n_regionkey"))
          .agg(concat_ws(",", sort_array(collect_list(col("n_name")))).as("names"))
          .orderBy("n_regionkey")
    },

    // ---- §2.4 SAMPLE → deterministic first-by-order (row_number window).
    q("q14_first_per_group",
      """SELECT c_nationkey, c_custkey, c_name FROM (
        |  SELECT c_nationkey, c_custkey, c_name,
        |         ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rn
        |  FROM customer) WHERE rn = 1
        |ORDER BY c_nationkey NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_custkey"))
        customer(s, dir)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("c_nationkey", "c_custkey", "c_name")
          .orderBy("c_nationkey")
    },

    // ---- §2.4 custom nestAggregation → collect_list (reference
    // lazy_aggregate.rs:171-191). Emitted as a canonical sorted CSV string:
    // the driver's pandas comparator cannot hash ARRAY columns, so both
    // sides serialize the nested list identically.
    q("q15_nest_agg",
      """SELECT n_regionkey,
        |  array_to_string(list(n_nationkey ORDER BY n_nationkey), ',') AS nations
        |FROM nation
        |GROUP BY n_regionkey
        |ORDER BY n_regionkey NULLS FIRST""".stripMargin) {
      (s, dir) =>
        nation(s, dir).groupBy(col("n_regionkey"))
          .agg(concat_ws(",", sort_array(collect_list(col("n_nationkey")))).as("nations"))
          .orderBy("n_regionkey")
    },

    // ---- §2.5 window: ranking within partition.
    q("q16_window_rank",
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 2
        |ORDER BY o_custkey NULLS FIRST, o_orderkey NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        orders(s, dir)
          .withColumn("rk", rank().over(w))
          .filter(col("rk") <= 2)
          .select("o_custkey", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey", "o_orderkey")
    },

    // ---- §2.5 window: running (cumulative) sum, exact decimal.
    q("q17_window_running_sum",
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |       OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders
        |ORDER BY o_custkey NULLS FIRST, o_orderkey NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        orders(s, dir)
          .select(col("o_custkey"), col("o_orderkey"),
            sum(d2(col("o_totalprice"))).over(w).cast(DoubleType).as("running_total"))
          .orderBy("o_custkey", "o_orderkey")
    },

    // ---- §2.5 time-bucketed grouping over the events stream table — the
    // reference's FLOOR(minutes/10) idiom (query_execution_benchmark_case.rs:114-124)
    // expressed as an epoch floor-div; bucket emitted as epoch seconds (no tz
    // ambiguity in the oracle compare).
    q("q18_time_bucket",
      s"""SELECT event_type,
         |  CAST(FLOOR(epoch(ts)/600)*600 AS BIGINT) AS bucket,
         |  COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
         |FROM events
         |GROUP BY event_type, bucket
         |ORDER BY event_type NULLS FIRST, bucket NULLS FIRST""".stripMargin) {
      (s, dir) =>
        events(s, dir)
          .withColumn("bucket", (floor(unix_timestamp(col("ts")) / 600) * 600).cast(LongType))
          .groupBy(col("event_type"), col("bucket"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .orderBy("event_type", "bucket")
    },

    // ---- §2.7 datetime part extraction (YEAR/MONTH/DAY/HOURS..., reference
    // lazy_expressions.rs:447-506).
    q("q19_datetime_parts",
      """SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m,
        |       COUNT(*) AS n
        |FROM orders
        |GROUP BY y, m
        |ORDER BY y NULLS FIRST, m NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orders(s, dir)
          .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
          .agg(count(lit(1)).as("n"))
          .orderBy("y", "m")
    },

    // ---- §2.7 IF / CASE WHEN (reference lazy_expressions.rs:365-394).
    q("q20_case_when",
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 250000 THEN 'big'
        |       WHEN o_totalprice > 100000 THEN 'mid'
        |       ELSE 'small' END AS size_class
        |FROM orders
        |ORDER BY o_orderkey NULLS FIRST""".stripMargin) {
      (s, dir) =>
        orders(s, dir).select(col("o_orderkey"),
          when(col("o_totalprice") > 250000, "big")
            .when(col("o_totalprice") > 100000, "mid")
            .otherwise("small").as("size_class"))
          .orderBy("o_orderkey")
    },

    // ---- §2.7 COALESCE over outer-join nulls (lazy_expressions.rs:395-428).
    q("q21_coalesce",
      """SELECT c.c_custkey, COALESCE(CAST(o.o_orderkey AS VARCHAR), 'none') AS first_order
        |FROM customer c
        |LEFT JOIN (SELECT o_custkey, MIN(o_orderkey) AS o_orderkey FROM orders GROUP BY o_custkey) o
        |  ON c.c_custkey = o.o_custkey
        |ORDER BY c_custkey NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val firstOrd = orders(s, dir).groupBy(col("o_custkey"))
          .agg(min(col("o_orderkey")).as("o_orderkey"))
        val c = customer(s, dir)
        c.join(firstOrd, c("c_custkey") === firstOrd("o_custkey"), "left_outer")
          .select(col("c_custkey"),
            coalesce(col("o_orderkey").cast(StringType), lit("none")).as("first_order"))
          .orderBy("c_custkey")
    },

    // ---- §2.7 IN list (lazy_expressions.rs:173-212).
    q("q22_in_filter",
      """SELECT s_suppkey, s_name, s_nationkey
        |FROM supplier
        |WHERE s_nationkey IN (1, 3, 5, 7)
        |ORDER BY s_suppkey NULLS FIRST""".stripMargin) {
      (s, dir) =>
        supplier(s, dir)
          .filter(col("s_nationkey").isin(1, 3, 5, 7))
          .select("s_suppkey", "s_name", "s_nationkey")
          .orderBy("s_suppkey")
    },

    // ---- §2.7 string functions: CONCAT/UPPER/SUBSTR/LENGTH/REPLACE.
    q("q23_string_funcs",
      """SELECT p_partkey,
        |  upper(p_brand) AS brand_uc,
        |  substr(p_name, 1, 8) AS name8,
        |  length(p_name) AS name_len,
        |  concat(p_brand, ':', p_type) AS brand_type,
        |  replace(p_type, ' ', '_') AS type_u
        |FROM part
        |ORDER BY p_partkey NULLS FIRST""".stripMargin) {
      (s, dir) =>
        part(s, dir).select(col("p_partkey"),
          upper(col("p_brand")).as("brand_uc"),
          substring(col("p_name"), 1, 8).as("name8"),
          length(col("p_name")).as("name_len"),
          concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
          regexp_replace(col("p_type"), " ", "_").as("type_u"))
          .orderBy("p_partkey")
    },

    // ---- §2.7 arithmetic + ABS/CEIL/FLOOR/ROUND (lazy_expressions.rs:213-320,
    // 507-546). Integer-valued math only → no float-rounding hazard.
    q("q24_arithmetic",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_quantity AS BIGINT) * 100 + l_linenumber AS qcode,
        |  abs(l_linenumber - 4) AS adist,
        |  CAST(ceil(l_quantity / 7.0) AS BIGINT) AS q7,
        |  CAST(floor(l_quantity / 7.0) AS BIGINT) AS q7f
        |FROM lineitem
        |WHERE l_orderkey <= 200
        |ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST""".stripMargin) {
      (s, dir) =>
        lineitem(s, dir).filter(col("l_orderkey") <= 200)
          .select(col("l_orderkey"), col("l_linenumber"),
            (col("l_quantity").cast(LongType) * 100 + col("l_linenumber")).as("qcode"),
            abs(col("l_linenumber") - 4).as("adist"),
            ceil(col("l_quantity") / 7.0).cast(LongType).as("q7"),
            floor(col("l_quantity") / 7.0).cast(LongType).as("q7f"))
          .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- §2.6 EXCEPT (set difference on keys).
    q("q25_except",
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '5-LOW'
        |ORDER BY custkey NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val o = orders(s, dir)
        o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("custkey"))
          .except(o.filter(col("o_orderpriority") === "5-LOW").select(col("o_custkey").as("custkey")))
          .orderBy("custkey")
    },

    // ---- §2.6 INTERSECT.
    q("q26_intersect",
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000
        |ORDER BY custkey NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val o = orders(s, dir)
        o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("custkey"))
          .intersect(o.filter(col("o_totalprice") > 200000).select(col("o_custkey").as("custkey")))
          .orderBy("custkey")
    },

    // ---- §2.2 VALUES inline table joined against data (combiner.rs:346-352).
    q("q27_values_join",
      """SELECT o.o_orderkey, v.prio_rank
        |FROM orders o
        |JOIN (VALUES ('1-URGENT', 1), ('2-HIGH', 2), ('3-MEDIUM', 3)) AS v(prio, prio_rank)
        |  ON o.o_orderpriority = v.prio
        |WHERE o.o_orderkey <= 500
        |ORDER BY o_orderkey NULLS FIRST""".stripMargin) {
      (s, dir) =>
        import s.implicits._
        val v = Seq(("1-URGENT", 1), ("2-HIGH", 2), ("3-MEDIUM", 3)).toDF("prio", "prio_rank")
        val o = orders(s, dir).filter(col("o_orderkey") <= 500)
        o.join(broadcast(v), o("o_orderpriority") === v("prio"))
          .select(col("o_orderkey"), col("prio_rank"))
          .orderBy("o_orderkey")
    },

    // ---- §2.3 theta-join (non-equi condition; reference does join+filter,
    // query_execution.rs:170-217). Kept small via the nation equi-conjunct.
    q("q28_theta_join",
      """SELECT a.s_suppkey AS sk1, b.s_suppkey AS sk2
        |FROM supplier a JOIN supplier b
        |  ON a.s_nationkey = b.s_nationkey AND a.s_acctbal > b.s_acctbal + 4000
        |ORDER BY sk1 NULLS FIRST, sk2 NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val a = supplier(s, dir).select(col("s_suppkey").as("sk1"),
          col("s_nationkey").as("nk1"), col("s_acctbal").as("ab1"))
        val b = supplier(s, dir).select(col("s_suppkey").as("sk2"),
          col("s_nationkey").as("nk2"), col("s_acctbal").as("ab2"))
        a.join(b, col("nk1") === col("nk2") && col("ab1") > col("ab2") + 4000)
          .select("sk1", "sk2")
          .orderBy("sk1", "sk2")
    },

    // ---- scalar subquery / aggregate-vs-row comparison (TPC-H Q17 shape).
    // The per-brand avg is tiny → broadcast back against part.
    q("q29_scalar_subquery",
      s"""SELECT p.p_partkey, p.p_retailprice
         |FROM part p
         |JOIN (SELECT p_brand, ${sqlDavg("p_retailprice")} AS avg_price
         |      FROM part GROUP BY p_brand) b
         |  ON p.p_brand = b.p_brand
         |WHERE p.p_retailprice > b.avg_price * 1.4
         |ORDER BY p_partkey NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val p = part(s, dir)
        val b = p.groupBy(col("p_brand").as("b_brand"))
          .agg((sum(d2(col("p_retailprice"))).cast(DoubleType) / count(col("p_retailprice")))
            .as("avg_price"))
        p.join(broadcast(b), p("p_brand") === b("b_brand"))
          .filter(col("p_retailprice") > col("avg_price") * 1.4)
          .select("p_partkey", "p_retailprice")
          .orderBy("p_partkey")
    },

    // ---- multi-way star join through the full dimension chain
    // (region→nation→supplier). Only the bounded dims (nation=25, region=5)
    // keep broadcast hints; supplier scales with SF, so AQE decides.
    q("q30_star_join",
      s"""SELECT r.r_name AS region, n.n_name AS nation,
         |  COUNT(*) AS n_items,
         |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         |FROM lineitem l
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |JOIN nation n ON s.s_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |GROUP BY r.r_name, n.n_name
         |ORDER BY region NULLS FIRST, nation NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val l = lineitem(s, dir)
        val sup = supplier(s, dir)
        val n = nation(s, dir)
        val r = region(s, dir)
        l.join(sup, l("l_suppkey") === sup("s_suppkey"))
          .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
          .agg(count(lit(1)).as("n_items"),
            sum(d2(col("l_extendedprice")) * (lit(1).cast(dec2) - d2(col("l_discount"))))
              .cast(DoubleType).as("revenue"))
          .orderBy("region", "nation")
    },

    // ---- gap-based sessionization of the events stream: a session break
    // when a user is idle > 30 min; session id = running count of breaks
    // per user. All arithmetic in integer epoch-micros so both engines make
    // identical break decisions. The engine runs the TIME-RANGE-SALTED
    // spelling (Sessionize scaladoc): windows partition by (user, 6h salt
    // range) and sessions stitch across boundaries via per-bucket
    // summaries, so a 50%-hot user no longer serializes half the corpus
    // through one window task (STATUS.md, "Skew stress probe"); output
    // numbering is bit-identical to the oracle's plain per-user window.
    q("q64_sessionize",
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us FROM events
        |), b AS (
        |  SELECT event_id, user_id, us,
        |    CASE WHEN us - LAG(us) OVER w > 1800000000 OR LAG(us) OVER w IS NULL
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |), s AS (
        |  SELECT user_id, us,
        |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
        |  FROM b
        |)
        |SELECT user_id, sess,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  MIN(us) AS start_us, MAX(us) AS end_us
        |FROM s GROUP BY user_id, sess
        |ORDER BY user_id NULLS FIRST, sess NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val e = events(s, dir).select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"))
        Sessionize.assign(e, "user_id", "us", "event_id",
            gapUs = 1800000000L, saltRangeUs = 6L * 3600 * 1000000)
          .groupBy(col("user_id"), col("sess"))
          .agg(count(lit(1)).as("n_events"),
            min(col("us")).as("start_us"), max(col("us")).as("end_us"))
          .orderBy("user_id", "sess")
    },

    // ---- exact discrete quantiles per series (p50/p95/p99 of value):
    // rank-based so the answer is determined by the multiset alone (the
    // value at rank ceil(q·n) is the same under any tie order). One
    // window shuffle on the series key — no global sort; at lake scale
    // this is the exact-profiling companion to sketched quantiles.
    q("q65_value_quantiles",
      """WITH r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events
        |)
        |SELECT event_type,
        |  MAX(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN value END) AS p50,
        |  MAX(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN value END) AS p95,
        |  MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99
        |FROM r GROUP BY event_type
        |ORDER BY event_type NULLS FIRST""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy("value")
      val cw = Window.partitionBy("event_type")
      val r = events(s, dir).select(col("event_type"), col("value"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(cw))
      def pAt(q: Double, nameC: String) =
        max(when(col("rn") === ceil(lit(q) * col("n")).cast(LongType), col("value")))
          .as(nameC)
      r.groupBy("event_type")
        .agg(pAt(0.50, "p50"), pAt(0.95, "p95"), pAt(0.99, "p99"))
        .orderBy("event_type")
    },

    // ---- ROLLUP hierarchy totals (§2.4 beyond-parity): grouping-sets
    // expansion with partial aggregation — Catalyst runs the Expand +
    // one shuffle, so subtotal levels cost one pass over the fact table,
    // not one scan per level. Integer sums keep it engine-exact.
    q("q68_rollup",
      """SELECT l_returnflag AS rf, l_linestatus AS ls,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf NULLS FIRST, ls NULLS FIRST""".stripMargin) { (s, dir) =>
      lineitem(s, dir)
        .select(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
          col("l_quantity").cast(LongType).as("qv"))
        .rollup("rf", "ls")
        .agg(sum(col("qv")).as("qty"), count(lit(1)).as("n"))
        .orderBy(col("rf").asc_nulls_first, col("ls").asc_nulls_first)
    },

    // ---- CUBE all-subsets totals (§2.4 beyond-parity, the ROLLUP
    // sibling): every grouping subset from one Expand + one shuffle, with
    // grouping_id disambiguating rolled-up NULLs from data NULLs — the
    // leftmost column is the most significant bit in both engines.
    q("q102_cube",
      """SELECT l_returnflag AS rf, l_linestatus AS ls,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |  COUNT(*) AS n,
        |  CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf NULLS FIRST, ls NULLS FIRST, gid""".stripMargin) {
      (s, dir) =>
        lineitem(s, dir)
          .select(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
            col("l_quantity").cast(LongType).as("qv"))
          .cube("rf", "ls")
          .agg(sum(col("qv")).as("qty"), count(lit(1)).as("n"),
            grouping_id().cast(LongType).as("gid"))
          .orderBy(col("rf").asc_nulls_first, col("ls").asc_nulls_first,
            col("gid").asc)
    },

    // ---- arbitrary GROUPING SETS (§2.4 beyond-parity, completing the
    // ROLLUP/CUBE family): per-flag and per-status subtotals WITHOUT the
    // grand total — the subset list neither rollup nor cube can spell.
    // Same one-Expand one-shuffle lowering; the Dataset API only exposes
    // rollup/cube, so this entry goes through Spark SQL (same Catalyst).
    q("q104_grouping_sets",
      """SELECT l_returnflag AS rf, l_linestatus AS ls,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY rf NULLS FIRST, ls NULLS FIRST""".stripMargin) { (s, dir) =>
      lineitem(s, dir).createOrReplaceTempView("li_gsets")
      s.sql("""SELECT l_returnflag AS rf, l_linestatus AS ls,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |  COUNT(*) AS n
        |FROM li_gsets
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY rf NULLS FIRST, ls NULLS FIRST""".stripMargin)
    },

    // ---- PIVOT (§2.4 beyond-parity): long-to-wide with an explicit
    // value list, lowered to conditional aggregation — ONE partial-
    // combined aggregation and ONE shuffle. (The built-in Dataset.pivot
    // plans two aggregation phases even with explicit values — right for
    // wide value lists, a wasted exchange for a fixed small one; PlanSpec
    // pins the single-shuffle shape.) Empty cells stay NULL, not 0.
    q("q103_pivot",
      """SELECT l_linestatus AS ls,
        |  CAST(SUM(CASE WHEN l_returnflag = 'A'
        |    THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS qty_a,
        |  CAST(SUM(CASE WHEN l_returnflag = 'N'
        |    THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS qty_n,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R'
        |    THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS qty_r
        |FROM lineitem GROUP BY l_linestatus
        |ORDER BY ls NULLS FIRST""".stripMargin) { (s, dir) =>
      def cell(v: String) =
        sum(when(col("rf") === v, col("qv"))).as(s"qty_${v.toLowerCase}")
      lineitem(s, dir)
        .select(col("l_linestatus").as("ls"), col("l_returnflag").as("rf"),
          col("l_quantity").cast(LongType).as("qv"))
        .groupBy("ls")
        .agg(cell("A"), cell("N"), cell("R"))
        .orderBy(col("ls").asc_nulls_first)
    },

    // ---- LAG/LEAD/FIRST_VALUE navigation windows (§2.5): one window
    // shuffle on the series key with a unique (ts, event_id) order, values
    // pass through untouched so doubles stay bit-identical.
    q("q69_window_navigation",
      """WITH e AS (
        |  SELECT event_id, event_type, value, epoch_ns(ts) // 1000 AS us
        |  FROM events
        |)
        |SELECT event_id, event_type,
        |  LAG(value) OVER w AS prev_v,
        |  LEAD(value) OVER w AS next_v,
        |  FIRST_VALUE(value) OVER w AS first_v
        |FROM e WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id)
        |ORDER BY event_id NULLS FIRST""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy("us", "event_id")
      events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"),
          unix_micros(col("ts")).as("us"))
        .withColumn("prev_v", lag(col("value"), 1).over(w))
        .withColumn("next_v", lead(col("value"), 1).over(w))
        .withColumn("first_v", first(col("value")).over(w))
        .select("event_id", "event_type", "prev_v", "next_v", "first_v")
        .orderBy("event_id")
    },

    // ---- semi-structured JSON extraction (§2.7 beyond-parity): the
    // events.props payload parsed in place — get_json_object is a
    // codegen'd JsonPath eval, no UDF; at scale with a stable schema,
    // `from_json` once into a struct column beats per-field re-parsing.
    q("q74_json_extract",
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type NULLS FIRST""".stripMargin) { (s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")
    },

    // ---- as-of join (beyond-parity; the reference synchronizes timestamps
    // by exact equality only): every purchase matched to the same user's
    // most recent click at or before it. One shuffle on the key via the
    // union+window spelling — never a per-key range cross product. Oracle:
    // DuckDB's native ASOF LEFT JOIN.
    q("q79_asof_join",
      """SELECT l.event_id AS eid, l.user_id AS uid, l.value AS pval,
        |  epoch_us(r.ts) AS cus, r.value AS cval
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY eid NULLS FIRST""".stripMargin) { (s, dir) =>
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "value")
      AsOfJoin.backward(purchases, clicks, Seq("user_id"), "ts")
        .select(col("event_id").as("eid"), col("user_id").as("uid"),
          col("value").as("pval"), unix_micros(col("r_ts")).as("cus"),
          col("r_value").as("cval"))
        .orderBy("eid")
    },

    // ---- range join (beyond-parity): every view event matched to the
    // same user's error windows [error.ts, error.ts + 30min). Bucketized
    // equi-join on (user, 30-min bucket) + exact range filter — candidate
    // volume bounded by bucket occupancy, never |points| × |intervals|.
    q("q80_range_join",
      """SELECT v.event_id AS vid, e.event_id AS erid
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON v.user_id = e.user_id
        | AND v.ts >= e.ts AND v.ts < e.ts + INTERVAL 30 MINUTE
        |ORDER BY vid NULLS FIRST, erid NULLS FIRST""".stripMargin) { (s, dir) =>
      val ev = events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("vid"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("w_end"),
          col("event_id").as("erid"))
      RangeJoin.pointsInIntervals(views, errors, Seq("user_id"),
          "ts", "w_start", "w_end", bucketSeconds = 1800L)
        .select("vid", "erid")
        .orderBy("vid", "erid")
    },

    // ---- interval×interval overlap join (the third temporal-join shape
    // after as-of and point-in-interval): view windows [ts, ts+10m) ×
    // same-user error windows [ts, ts+30m). Bucketized equi-join with the
    // first-common-bucket emit-once rule — no dedup shuffle, candidates
    // bounded by bucket occupancy (RangeJoin.intervalOverlapPairs).
    q("q127_interval_overlap",
      """SELECT v.event_id AS vid, e.event_id AS erid
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON v.user_id = e.user_id
        | AND v.ts < e.ts + INTERVAL 30 MINUTE
        | AND e.ts < v.ts + INTERVAL 10 MINUTE
        |ORDER BY vid NULLS FIRST, erid NULLS FIRST""".stripMargin) { (s, dir) =>
      val ev = events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("v_start"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("v_end"),
          col("event_id").as("vid"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("e_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("e_end"),
          col("event_id").as("erid"))
      RangeJoin.intervalOverlapPairs(views, errors, Seq("user_id"),
          "v_start", "v_end", "e_start", "e_end", bucketSeconds = 1800L)
        .select("vid", "erid")
        .orderBy("vid", "erid")
    },

    // ---- Z-order layout round trip (sources/ZOrder scaladoc): lineitem
    // rewritten Morton-clustered on (partkey, suppkey) once per
    // (JVM, dir), then a box predicate on BOTH keys runs over the
    // re-laid copy — the result must equal the base table's (layout is
    // semantics-free), and the z-layout's file min/max stats prune the
    // box to a fraction of the files (measured in ZOrderSpec: 14/64 and
    // 9/64 vs 64/64 on the off-axis key of a single-column sort).
    q("q130_zorder_box",
      s"""SELECT CAST(count(*) AS BIGINT) AS n,
         |  ${sqlDsum("l_quantity")} AS sum_qty
         |FROM lineitem
         |WHERE l_partkey BETWEEN 100 AND 400
         |  AND l_suppkey BETWEEN 10 AND 40""".stripMargin) { (s, dir) =>
      val path = zorderFor(s, dir)
      s.read.parquet(path)
        .filter(col("l_partkey").between(100, 400) &&
          col("l_suppkey").between(10, 40))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    },

    // ---- resample + linear interpolation (beyond-parity): each event
    // type's irregular value series projected onto an hourly grid, values
    // interpolated between the surrounding observations. One shuffle —
    // both neighbor windows share the exchange (see Resample). The oracle
    // spells the same semantics with generate_series + two ASOF joins;
    // the interpolation expression trees match term for term so the
    // doubles are bit-identical.
    q("q81_resample_interpolate",
      """WITH obs AS (
        |  SELECT event_type AS k, epoch_us(ts) AS us, MIN(value) AS v
        |  FROM events GROUP BY 1, 2),
        |span AS (
        |  SELECT k, (MIN(us) + 3599999999) // 3600000000 AS b0,
        |         MAX(us) // 3600000000 AS b1
        |  FROM obs GROUP BY k),
        |grid AS (
        |  SELECT k, unnest(generate_series(b0, b1)) * 3600000000 AS gus
        |  FROM span WHERE b0 <= b1),
        |p AS (SELECT g.k, g.gus, o.us AS pus, o.v AS pv
        |      FROM grid g ASOF JOIN obs o ON g.k = o.k AND g.gus >= o.us),
        |n AS (SELECT g.k, g.gus, o.us AS nus, o.v AS nv
        |      FROM grid g ASOF JOIN obs o ON g.k = o.k AND g.gus <= o.us)
        |SELECT p.k AS k, p.gus AS gus,
        |  CASE WHEN n.nus = p.pus THEN p.pv
        |       ELSE p.pv + (n.nv - p.pv) *
        |         (CAST(p.gus - p.pus AS DOUBLE) / CAST(n.nus - p.pus AS DOUBLE))
        |  END AS v
        |FROM p JOIN n ON p.k = n.k AND p.gus = n.gus
        |ORDER BY p.k NULLS FIRST, p.gus NULLS FIRST""".stripMargin) { (s, dir) =>
      Resample.interpolate(
          events(s, dir).select(col("event_type").as("k"), col("ts"), col("value")),
          Seq("k"), "ts", "value", stepMicros = 3600000000L)
        .orderBy("k", "gus")
    },

    // ---- forward as-of join (beyond-parity): every purchase matched to
    // the same user's EARLIEST click at or after it — the "next action"
    // direction backward as-of can't express. Same one-shuffle
    // union+window spelling, traversal reversed. Timestamps compare at
    // micros on both sides (Spark stores micros; the oracle pre-truncates
    // with epoch_us) so nanosecond sub-ticks can't skew tie-breaking.
    q("q85_asof_forward",
      """SELECT l.event_id AS eid, l.user_id AS uid, l.value AS pval,
        |  r.us AS cus, r.value AS cval
        |FROM (SELECT *, epoch_us(ts) AS us FROM events
        |      WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT *, epoch_us(ts) AS us FROM events
        |                WHERE event_type = 'click') r
        |  ON l.user_id = r.user_id AND l.us <= r.us
        |ORDER BY eid NULLS FIRST""".stripMargin) { (s, dir) =>
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "value")
      AsOfJoin.forward(purchases, clicks, Seq("user_id"), "ts")
        .select(col("event_id").as("eid"), col("user_id").as("uid"),
          col("value").as("pval"), unix_micros(col("r_ts")).as("cus"),
          col("r_value").as("cval"))
        .orderBy("eid")
    },

    // ---- LOCF resample (beyond-parity, q81's step-function sibling):
    // last observation carried forward onto the hourly grid — the mode for
    // state-like series (setpoints, statuses) where interpolating would
    // invent values. Cheapest resample mode: the descending window drops
    // out, one ascending window over one shuffle.
    q("q87_resample_locf",
      """WITH obs AS (
        |  SELECT event_type AS k, epoch_us(ts) AS us, MIN(value) AS v
        |  FROM events GROUP BY 1, 2),
        |span AS (
        |  SELECT k, (MIN(us) + 3599999999) // 3600000000 AS b0,
        |         MAX(us) // 3600000000 AS b1
        |  FROM obs GROUP BY k),
        |grid AS (
        |  SELECT k, unnest(generate_series(b0, b1)) * 3600000000 AS gus
        |  FROM span WHERE b0 <= b1)
        |SELECT g.k AS k, g.gus AS gus, o.v AS v
        |FROM grid g ASOF JOIN obs o ON g.k = o.k AND g.gus >= o.us
        |ORDER BY g.k NULLS FIRST, g.gus NULLS FIRST""".stripMargin) { (s, dir) =>
      Resample.interpolate(
          events(s, dir).select(col("event_type").as("k"), col("ts"), col("value")),
          Seq("k"), "ts", "value", stepMicros = 3600000000L, mode = "locf")
        .orderBy("k", "gus")
    },

    // ---- conversion funnel (classic event analytics): per user, first
    // signup and the first purchase AT OR AFTER it, kept when conversion
    // happens within 7 days. Exact integer microseconds end to end. Two
    // partial-agg min shuffles + two key equi-joins; the signup table is
    // user-sized and broadcasts when small — never an event×event join.
    q("q109_funnel",
      """WITH su AS (
        |  SELECT user_id, MIN(epoch_ns(ts) // 1000) AS s_us
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |pu AS (
        |  SELECT e.user_id, MIN(epoch_ns(e.ts) // 1000) AS p_us
        |  FROM events e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) // 1000 >= su.s_us
        |  GROUP BY e.user_id)
        |SELECT su.user_id, su.s_us, pu.p_us, pu.p_us - su.s_us AS delta_us
        |FROM su JOIN pu ON su.user_id = pu.user_id
        |WHERE pu.p_us - su.s_us <= 604800000000
        |ORDER BY su.user_id NULLS FIRST""".stripMargin) { (s, dir) =>
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      val su = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("us")).as("s_us"))
      val pu = e.filter(col("event_type") === "purchase")
        .join(su, "user_id").filter(col("us") >= col("s_us"))
        .groupBy("user_id").agg(min(col("us")).as("p_us"))
      su.join(pu, "user_id")
        .withColumn("delta_us", col("p_us") - col("s_us"))
        .filter(col("delta_us") <= 604800000000L)
        .select(col("user_id"), col("s_us"), col("p_us"), col("delta_us"))
        .orderBy("user_id")
    },

    // ---- retention cohort matrix (the other classic): cohort = each
    // user's first active day, cell (cohort_day, offset_day) counts the
    // DISTINCT users of that cohort active that many days later. Exact
    // integer day indexes; one user-sized first-day agg joined back to
    // the distinct (user, day) activity set, then one count-distinct —
    // all partial-agg shuffles on user/day keys.
    q("q110_retention_cohorts",
      """WITH f AS (
        |  SELECT user_id, MIN(epoch_ns(ts) // 1000) // 86400000000 AS cohort
        |  FROM events GROUP BY user_id),
        |a AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 1000 // 86400000000 AS d
        |  FROM events)
        |SELECT f.cohort AS cohort_day, a.d - f.cohort AS offset_day,
        |  CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM a JOIN f ON a.user_id = f.user_id
        |GROUP BY 1, 2
        |ORDER BY cohort_day NULLS FIRST, offset_day NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val e = events(s, dir).select(col("user_id"),
          expr("unix_micros(ts) DIV 86400000000").as("d"))
        val f = e.groupBy("user_id").agg(min(col("d")).as("cohort"))
        e.distinct().join(f, "user_id")
          .groupBy(col("cohort").as("cohort_day"),
            (col("d") - col("cohort")).as("offset_day"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort_day", "offset_day")
    },

    // ---- fixed-point PageRank on the part↔supplier graph (suppliers as
    // negated keys; both edge directions, so no rank-leaking sinks).
    // All-integer arithmetic — damping as the rational 17/20, ranks as
    // 10¹²-scaled longs — so partial-agg order cannot move a bit and the
    // oracle (5 unrolled iteration CTEs of the same integer ops) matches
    // exactly; a float PageRank could never hash-match across engines.
    // Each iteration is one edge-sized equi-join + partial-agg sum
    // (GraphAlgos.pageRankFixedPoint scaladoc).
    q("q116_pagerank", pageRankOracle(5)) { (s, dir) =>
      // one distinct over the raw pairs; the two directions then derive
      // map-only. Supplier node ids are -(key+1), NOT -key: keys start at
      // 0, and -0 = 0 would conflate part 0 with supplier 0 into one node
      // with a double-counted self-loop (caught by the sf0.001 gate,
      // where a (0, 0) lineitem pair exists). With the shift the two id
      // spaces are disjoint by sign, so the union needs no dedup.
      val pairs = lineitem(s, dir)
        .select(col("l_partkey").cast("long").as("p"),
          col("l_suppkey").cast("long").as("k")).distinct()
      val fwd = pairs.select(col("p").as("s"), (-col("k") - 1).as("d"))
      val bwd = pairs.select((-col("k") - 1).as("s"), col("p").as("d"))
      GraphAlgos.pageRankFixedPoint(fwd.union(bwd), iterations = 5)
        .orderBy("v")
    },

    // ---- §2.5 distribution-rank window family: ntile / percent_rank /
    // cume_dist over each customer's orders — the remaining SQL:2003
    // ranking functions q16/q69 didn't cover. Partitioned by a key whose
    // cardinality GROWS with the data (custkey), so no partition ever
    // lands a corpus on one reducer; within a partition the total order is
    // the operator's defining semantics. The measures are exact integer
    // ratios ((rank-1)/(n-1), rows/n) — identical doubles on any engine;
    // rounded to 6 anyway to keep the convention.
    q("q118_window_distribution",
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  ntile(4) OVER w AS bucket,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_custkey NULLS FIRST, o_orderkey NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            ntile(4).over(w).as("bucket"),
            round(percent_rank().over(w), 6).as("pr"),
            round(cume_dist().over(w), 6).as("cd"))
          .orderBy("o_custkey", "o_orderkey")
    },

    // ---- blocked fuzzy match (entity resolution): customer-name pairs
    // within edit distance 2, candidates proposed by a name-prefix
    // equi-block and verified by graft_lev — the native banded-DP
    // Levenshtein expression (O(k·len) per pair + early row-min exit,
    // codegen'd) — the same propose-with-an-equi-join / verify-exactly
    // discipline as the LSH band join; never a cross product. The block
    // key is the 16-char prefix: its CARDINALITY grows with the data, so
    // block occupancy stays bounded as the table grows (the first cut
    // blocked on the 25-value nation key, and 10× data ran wall time to
    // ~10× — fixed-cardinality blocks absorb all growth as quadratic
    // per-block work). Pairs differing inside the prefix are not
    // reported — the standard, documented blocking-recall trade; the
    // oracle mirrors the same blocking, so the contract is exact.
    q("q119_fuzzy_match",
      """SELECT a.c_custkey AS ida, b.c_custkey AS idb,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b
        |  ON substr(a.c_name, 1, 16) = substr(b.c_name, 1, 16)
        |    AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |ORDER BY ida NULLS FIRST, idb NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val withBlock = customer(s, dir)
          .withColumn("__blk", substring(col("c_name"), 1, 16))
        FuzzyJoin.blockedLevenshtein(withBlock, "c_custkey", "c_name",
            blockCols = Seq("__blk"), maxDist = 2)
          .select(col("ida"), col("idb"), col("dist").cast(LongType).as("dist"))
          .orderBy("ida", "idb")
    },

    // ---- column profiler (data-quality triage: the first thing run
    // against an unknown 100 TB table). Two aggregations — plain metrics
    // map-side-partial, the multi-count-distinct block in Catalyst's
    // single-Expand rewrite — crossJoined as 1-row frames; the fused
    // one-scan spelling measured 4-5x slower (Profiler scaladoc: Expand
    // multiplies rows through every plain agg). Never per-column jobs.
    // Exactness discipline: doubles are cents (TPC-H money/percent), so
    // min/max/sum travel as ×100 scaled BIGINTs — a double SUM would
    // hash-diverge on partial-agg order. String columns profile lexical
    // min/max; their numeric slots are NULL (and vice versa).
    q("q124_profile",
      """WITH p AS (SELECT count(*) AS n_rows,
        |  count(*) - count(l_quantity) AS nn_q,
        |  count(DISTINCT l_quantity) AS nd_q,
        |  CAST(round(min(l_quantity) * 100) AS BIGINT) AS mn_q,
        |  CAST(round(max(l_quantity) * 100) AS BIGINT) AS mx_q,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sm_q,
        |  count(*) - count(l_extendedprice) AS nn_p,
        |  count(DISTINCT l_extendedprice) AS nd_p,
        |  CAST(round(min(l_extendedprice) * 100) AS BIGINT) AS mn_p,
        |  CAST(round(max(l_extendedprice) * 100) AS BIGINT) AS mx_p,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sm_p,
        |  count(*) - count(l_discount) AS nn_d,
        |  count(DISTINCT l_discount) AS nd_d,
        |  CAST(round(min(l_discount) * 100) AS BIGINT) AS mn_d,
        |  CAST(round(max(l_discount) * 100) AS BIGINT) AS mx_d,
        |  CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sm_d,
        |  count(*) - count(l_returnflag) AS nn_f,
        |  count(DISTINCT l_returnflag) AS nd_f,
        |  min(l_returnflag) AS mns_f, max(l_returnflag) AS mxs_f
        |FROM lineitem)
        |SELECT * FROM (
        |  SELECT 'l_quantity' AS col, n_rows, nn_q AS n_nulls, nd_q AS n_distinct,
        |    mn_q AS min_c, mx_q AS max_c, sm_q AS sum_c,
        |    CAST(NULL AS VARCHAR) AS min_s, CAST(NULL AS VARCHAR) AS max_s FROM p
        |  UNION ALL SELECT 'l_extendedprice', n_rows, nn_p, nd_p, mn_p, mx_p, sm_p, NULL, NULL FROM p
        |  UNION ALL SELECT 'l_discount', n_rows, nn_d, nd_d, mn_d, mx_d, sm_d, NULL, NULL FROM p
        |  UNION ALL SELECT 'l_returnflag', n_rows, nn_f, nd_f, NULL, NULL, NULL, mns_f, mxs_f FROM p
        |) ORDER BY col NULLS FIRST""".stripMargin) { (s, dir) =>
      Profiler.profile(lineitem(s, dir),
        numeric = Seq("l_quantity", "l_extendedprice", "l_discount"),
        strings = Seq("l_returnflag"))
        .orderBy("col")
    },

    // ---- crash-safe parquet compaction round trip
    // (sources/ParquetCompaction, the append-grown-sink maintenance job):
    // orders lands in three micro-batch-style appends (small files), the
    // directory compacts in place through the rewrite-then-swap
    // READY-marker protocol, and the aggregate runs over the COMPACTED
    // copy. The oracle computes the same aggregate straight from orders,
    // so any row the swap loses or duplicates hash-mismatches — this
    // entry gates the contents contract end-to-end; file-count shrink and
    // kill-between-stages recovery are spec-pinned
    // (StreamingCompactionSpec).
    // Integer-exact aggregate (count + key sums), bitwise stable.
    qm("q135_compaction_roundtrip",
      """SELECT o_orderpriority AS pri, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_ok,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_ok
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY pri NULLS FIRST""".stripMargin) { (s, dir) =>
      // the append-grown sink, rebuilt fresh for this invocation
      val p = graft.Scratch.fresh("cmpgate", dir) + "/store"
      val src = orders(s, dir)
      (0 until 3).foreach { r =>
        src.filter(pmod(col("o_orderkey"), lit(3)) === r)
          .repartition(4).write.mode("append").parquet(p)
      }
      graft.sources.ParquetCompaction.compact(s, p, targetFiles = 2)
      s.read.parquet(p)
        .groupBy(col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("n"), sum("o_custkey").as("sum_cust"),
          min("o_orderkey").as("min_ok"), max("o_orderkey").as("max_ok"))
        .orderBy("pri")
    },
  )

  /** Oracle for q116: `iters` unrolled fixed-point iterations, every step
    * the same integer ops the Spark side runs (see pageRankFixedPoint). */
  private def pageRankOracle(iters: Int): String = {
    val S = "1000000000000"
    val iterCtes = (1 to iters).map { k =>
      s"""c$k AS (SELECT e.d AS v, SUM(r.r * 17 // 20 // dg.dg) AS m
         |  FROM e JOIN r${k - 1} r ON r.v = e.s JOIN deg dg ON dg.v = e.s
         |  GROUP BY e.d),
         |r$k AS (SELECT nd.v,
         |    ($S * 3 // 20) // (SELECT n FROM cnt) + COALESCE(c$k.m, 0) AS r
         |  FROM nodes nd LEFT JOIN c$k ON c$k.v = nd.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT l_partkey AS s, -l_suppkey - 1 AS d FROM lineitem
       |  UNION
       |  SELECT DISTINCT -l_suppkey - 1 AS s, l_partkey AS d FROM lineitem),
       |nodes AS (SELECT DISTINCT s AS v FROM e),
       |deg AS (SELECT s AS v, count(*) AS dg FROM e GROUP BY s),
       |cnt AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT v, $S // (SELECT n FROM cnt) AS r FROM nodes),
       |$iterCtes
       |SELECT v, CAST(r AS BIGINT) AS rank_fixed FROM r$iters
       |ORDER BY v NULLS FIRST""".stripMargin
  }
}
