"""Relational queries: reference-parity surface (SURVEY.md §2) + Phase-2 gap
operators (aggregation, joins, set ops, windows — absent from the reference).

Parity queries exercise, one per inventory row: Scan, Projection (incl.
Wildcard), Selection with each of the eight binary operators
(reference Operator enum, logicalplan.rs:132-149), Not / IsNull / IsNotNull,
Cast (logicalplan.rs:49-55), Sort, Limit, EmptyRelation, CreateTable.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from mura_spark.operators.topk import topk, topk_per_group
from mura_spark.plan import PlanBuilder
from mura_spark.suite.common import (davg, dsum, registry, sql_davg,
                                     sql_dsum, sql_tokens, table)

SPARK_QUERIES, ORACLE_SQL, q = registry()


# ---------------------------------------------------------------------------
# parity: scan / projection / wildcard  (SURVEY §2.1 #1-2, §2.2 #12)
# ---------------------------------------------------------------------------

@q("scan_region", "SELECT * FROM region")
def scan_region(spark, sf):
    # bare Scan with no projection — mura's only wired SQL SELECT shape
    # (queryplanner.rs:54-60 always emits full scan)
    return table(spark, sf, "region")


@q("column_positional", "SELECT r_regionkey, r_name FROM region")
def column_positional(spark, sf):
    # Expression::Column(usize) — positional column reference
    # (logicalplan.rs:30-31), resolved at the API edge by
    # expressions.col_index against the scan schema
    from mura_spark.expressions import col_index
    r = table(spark, sf, "region")
    return r.select(col_index(r, 0), col_index(r, 1))


@q("projection_lineitem",
   "SELECT l_orderkey, l_extendedprice FROM lineitem")
def projection_lineitem(spark, sf):
    # Projection node (logicalplan.rs:209-216); pushes into ReadSchema
    return (PlanBuilder.from_df(table(spark, sf, "lineitem"))
            .project(["l_orderkey", "l_extendedprice"]).build())


@q("wildcard_lineitem", "SELECT * FROM lineitem")
def wildcard_lineitem(spark, sf):
    # Wildcard expansion (logicalplan.rs:406-418)
    return PlanBuilder.from_df(table(spark, sf, "lineitem")).project(["*"]).build()


# ---------------------------------------------------------------------------
# parity: selection, one query per Operator variant (logicalplan.rs:132-149)
# ---------------------------------------------------------------------------

@q("filter_eq",
   "SELECT c_custkey, c_name, c_mktsegment FROM customer "
   "WHERE c_mktsegment = 'BUILDING'")
def filter_eq(spark, sf):
    return (table(spark, sf, "customer")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey", "c_name", "c_mktsegment"))


@q("filter_noteq",
   "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus <> 'F'")
def filter_noteq(spark, sf):
    return (table(spark, sf, "orders")
            .filter(F.col("o_orderstatus") != "F")
            .select("o_orderkey", "o_orderstatus"))


@q("filter_lt",
   "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
   "WHERE l_quantity < 10")
def filter_lt(spark, sf):
    return (table(spark, sf, "lineitem")
            .filter(F.col("l_quantity") < 10)
            .select("l_orderkey", "l_linenumber", "l_quantity"))


@q("filter_lteq",
   "SELECT l_orderkey, l_linenumber, l_discount FROM lineitem "
   "WHERE l_discount <= 0.02")
def filter_lteq(spark, sf):
    return (table(spark, sf, "lineitem")
            .filter(F.col("l_discount") <= 0.02)
            .select("l_orderkey", "l_linenumber", "l_discount"))


@q("filter_gt",
   "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000")
def filter_gt(spark, sf):
    return (table(spark, sf, "orders")
            .filter(F.col("o_totalprice") > 400000)
            .select("o_orderkey", "o_totalprice"))


@q("filter_gteq",
   "SELECT l_orderkey, l_linenumber, l_tax FROM lineitem WHERE l_tax >= 0.07")
def filter_gteq(spark, sf):
    return (table(spark, sf, "lineitem")
            .filter(F.col("l_tax") >= 0.07)
            .select("l_orderkey", "l_linenumber", "l_tax"))


@q("filter_and_or",
   "SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority "
   "FROM orders WHERE (o_orderstatus = 'F' AND o_totalprice > 300000) "
   "OR o_orderpriority = '1-URGENT'")
def filter_and_or(spark, sf):
    return (table(spark, sf, "orders")
            .filter(((F.col("o_orderstatus") == "F")
                     & (F.col("o_totalprice") > 300000))
                    | (F.col("o_orderpriority") == "1-URGENT"))
            .select("o_orderkey", "o_orderstatus", "o_totalprice",
                    "o_orderpriority"))


@q("filter_not",
   "SELECT c_custkey, c_acctbal FROM customer WHERE NOT (c_acctbal < 0)")
def filter_not(spark, sf):
    return (table(spark, sf, "customer")
            .filter(~(F.col("c_acctbal") < 0))
            .select("c_custkey", "c_acctbal"))


@q("filter_isnull",
   "SELECT doc_id, NULLIF(lang, 'en') AS lang_or_null FROM documents "
   "WHERE NULLIF(lang, 'en') IS NULL")
def filter_isnull(spark, sf):
    # test data has no stored NULLs (FIXTURES.md) — synthesize via NULLIF so
    # IS NULL filters a real null-bearing column
    d = table(spark, sf, "documents").withColumn(
        "lang_or_null", F.nullif(F.col("lang"), F.lit("en")))
    return (d.filter(F.col("lang_or_null").isNull())
             .select("doc_id", "lang_or_null"))


@q("filter_isnotnull",
   "SELECT doc_id, NULLIF(lang, 'en') AS lang_or_null FROM documents "
   "WHERE NULLIF(lang, 'en') IS NOT NULL")
def filter_isnotnull(spark, sf):
    d = table(spark, sf, "documents").withColumn(
        "lang_or_null", F.nullif(F.col("lang"), F.lit("en")))
    return (d.filter(F.col("lang_or_null").isNotNull())
             .select("doc_id", "lang_or_null"))


# ---------------------------------------------------------------------------
# parity: cast / sort / limit / empty / create-table
# ---------------------------------------------------------------------------

@q("cast_types",
   "SELECT l_orderkey, CAST(l_quantity AS INTEGER) AS qty_int, "
   "CAST(l_orderkey AS VARCHAR) AS okey_str, "
   "CAST(l_linenumber AS BIGINT) AS line_big, "
   "CAST(l_quantity AS SMALLINT) AS qty_small "
   "FROM lineitem WHERE l_linenumber = 1")
def cast_types(spark, sf):
    # Cast across the reference DDL type table (queryplanner.rs:176-191);
    # l_quantity is integral in the data so double→int is rounding-free in
    # both engines.
    li = table(spark, sf, "lineitem").filter(F.col("l_linenumber") == 1)
    return li.select(
        "l_orderkey",
        F.col("l_quantity").cast("int").alias("qty_int"),
        F.col("l_orderkey").cast("string").alias("okey_str"),
        F.col("l_linenumber").cast("bigint").alias("line_big"),
        F.col("l_quantity").cast("smallint").alias("qty_small"))


@q("sort_limit_topk",
   "SELECT o_orderkey, o_totalprice FROM orders "
   "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 50")
def sort_limit_topk(spark, sf):
    # Sort + Limit (logicalplan.rs:225-232, 251-259) → TakeOrderedAndProject;
    # unique-key tiebreak keeps the top-50 set deterministic
    return topk(table(spark, sf, "orders").select("o_orderkey", "o_totalprice"),
                [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 50)


@q("empty_relation",
   "SELECT CAST(NULL AS INTEGER) AS id, CAST(NULL AS VARCHAR) AS name "
   "WHERE 1 = 0")
def empty_relation(spark, sf):
    # EmptyRelation leaf (logicalplan.rs:246-250)
    schema = T.StructType([T.StructField("id", T.IntegerType()),
                           T.StructField("name", T.StringType())])
    return PlanBuilder.empty(spark, schema).build()


@q("create_table_roundtrip", "SELECT s_suppkey, s_name, s_acctbal FROM supplier")
def create_table_roundtrip(spark, sf):
    # CREATE EXTERNAL TABLE ... STORED AS PARQUET LOCATION (queryplanner.rs:
    # 73-95) then SELECT back through the session catalog — the flow the
    # reference's empty DummySchemaCatalog could never complete (main.rs:41)
    from mura_spark.session import MuraSession
    ms = MuraSession(spark)
    ms.create_external_table("suite_supplier", f"{sf}/supplier.parquet")
    df = ms.sql("SELECT s_suppkey, s_name, s_acctbal FROM suite_supplier")
    ms.catalog.drop("suite_supplier")
    return df


# ---------------------------------------------------------------------------
# additions beyond the eight reference operators: arithmetic, IN/BETWEEN/LIKE,
# CASE, scalar string/date functions (all rejected or absent in the reference
# — queryplanner.rs:131, SURVEY §2.2)
# ---------------------------------------------------------------------------

@q("arithmetic_expr",
   "SELECT l_orderkey, l_linenumber, "
   "l_extendedprice * (1 - l_discount) AS disc_price, "
   "l_quantity + l_tax AS q_plus_t, "
   "l_extendedprice / l_quantity AS unit_price, "
   "CAST(l_orderkey % 7 AS BIGINT) AS okey_mod "
   "FROM lineitem WHERE l_quantity >= 30")
def arithmetic_expr(spark, sf):
    # per-row IEEE double arithmetic — deterministic, no aggregation
    li = table(spark, sf, "lineitem").filter(F.col("l_quantity") >= 30)
    return li.select(
        "l_orderkey", "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("disc_price"),
        (F.col("l_quantity") + F.col("l_tax")).alias("q_plus_t"),
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
        (F.col("l_orderkey") % 7).cast("bigint").alias("okey_mod"))


@q("in_between_like",
   "SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders "
   "WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') "
   "AND o_totalprice BETWEEN 100000 AND 200000 "
   "AND CAST(o_orderkey AS VARCHAR) LIKE '%7'")
def in_between_like(spark, sf):
    return (table(spark, sf, "orders")
            .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
                    & F.col("o_totalprice").between(100000, 200000)
                    & F.col("o_orderkey").cast("string").like("%7"))
            .select("o_orderkey", "o_orderpriority", "o_totalprice"))


@q("case_when_buckets",
   "SELECT CASE WHEN o_totalprice < 100000 THEN 'low' "
   "WHEN o_totalprice < 300000 THEN 'mid' ELSE 'high' END AS bucket, "
   "COUNT(*) AS n FROM orders GROUP BY 1")
def case_when_buckets(spark, sf):
    bucket = (F.when(F.col("o_totalprice") < 100000, "low")
               .when(F.col("o_totalprice") < 300000, "mid")
               .otherwise("high")).alias("bucket")
    return (table(spark, sf, "orders").select(bucket)
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("n")))


@q("scalar_functions",
   "SELECT o_orderkey, upper(o_orderpriority) AS prio_upper, "
   "length(o_orderpriority) AS prio_len, substr(o_orderpriority, 1, 1) AS prio_code, "
   # || null-propagates like Spark's concat; DuckDB's concat() SKIPS
   # NULL arguments and would fabricate 'F-' for a NULL priority
   "o_orderstatus || '-' || o_orderpriority AS status_prio, "
   "year(o_orderdate) AS order_year, month(o_orderdate) AS order_month, "
   "abs(o_totalprice - 200000) AS dist_from_200k, "
   "floor(o_totalprice) AS price_floor, ceil(o_totalprice) AS price_ceil "
   "FROM orders WHERE o_orderkey < 1000")
def scalar_functions(spark, sf):
    o = table(spark, sf, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("prio_upper"),
        F.length("o_orderpriority").alias("prio_len"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.concat(F.col("o_orderstatus"), F.lit("-"),
                 F.col("o_orderpriority")).alias("status_prio"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.abs(F.col("o_totalprice") - 200000).alias("dist_from_200k"),
        # floor/ceil return BIGINT in Spark but DOUBLE in DuckDB on a double
        # input; surface double on both sides so the type-sensitive value
        # hash matches (driver r01 failure).
        F.floor("o_totalprice").cast("double").alias("price_floor"),
        F.ceil("o_totalprice").cast("double").alias("price_ceil"))


# ---------------------------------------------------------------------------
# Phase 2: aggregation (the operation the reference rejects, logicalplan.rs:88)
# ---------------------------------------------------------------------------

@q("q1_pricing_summary",
   "SELECT l_returnflag, l_linestatus, "
   f"{sql_dsum('l_quantity')} AS sum_qty, "
   f"{sql_dsum('l_extendedprice')} AS sum_base_price, "
   "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price, "
   "CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(18,2))) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge, "
   f"{sql_davg('l_quantity')} AS avg_qty, "
   f"{sql_davg('l_extendedprice')} AS avg_price, "
   f"{sql_davg('l_discount')} AS avg_disc, "
   "COUNT(*) AS count_order "
   "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
   "GROUP BY l_returnflag, l_linestatus")
def q1_pricing_summary(spark, sf):
    """TPC-H Q1 shape — the flagship aggregation. All money sums run in
    exact decimal (order-independent) and surface as double."""
    li = table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
    price_d = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_d = F.col("l_discount").cast("decimal(18,2)")
    tax_d = F.col("l_tax").cast("decimal(18,2)")
    disc_price = (price_d * (1 - disc_d)).cast("decimal(18,4)")
    charge = (disc_price * (1 + tax_d)).cast("decimal(18,6)")
    return (li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        davg("l_quantity").alias("avg_qty"),
        davg("l_extendedprice").alias("avg_price"),
        davg("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order")))


@q("agg_stats",
   "SELECT l_returnflag, COUNT(*) AS n, "
   "MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty, "
   "COUNT(DISTINCT l_partkey) AS n_parts, "
   f"{sql_dsum('l_extendedprice')} AS sum_price "
   "FROM lineitem GROUP BY l_returnflag")
def agg_stats(spark, sf):
    return (table(spark, sf, "lineitem").groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.countDistinct("l_partkey").alias("n_parts"),
        dsum("l_extendedprice").alias("sum_price")))


@q("agg_having",
   "SELECT l_partkey, COUNT(*) AS n_lines FROM lineitem "
   "GROUP BY l_partkey HAVING COUNT(*) >= 40")
def agg_having(spark, sf):
    return (table(spark, sf, "lineitem").groupBy("l_partkey")
            .agg(F.count(F.lit(1)).alias("n_lines"))
            .filter(F.col("n_lines") >= 40))


@q("distinct_flags",
   "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")
def distinct_flags(spark, sf):
    return (PlanBuilder.from_df(
        table(spark, sf, "lineitem").select("l_returnflag", "l_linestatus"))
        .distinct().build())


# ---------------------------------------------------------------------------
# Phase 2: joins (no join of any kind exists in the reference — SURVEY §2.3)
# ---------------------------------------------------------------------------

@q("q3_shipping_priority",
   "SELECT l_orderkey, "
   "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue, "
   "o_orderdate, o_orderpriority "
   "FROM customer JOIN orders ON c_custkey = o_custkey "
   "JOIN lineitem ON l_orderkey = o_orderkey "
   "WHERE c_mktsegment = 'BUILDING' "
   "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' "
   "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
   "ORDER BY revenue DESC, l_orderkey ASC LIMIT 10")
def q3_shipping_priority(spark, sf):
    """TPC-H Q3 shape: selective dim side broadcast, fact side streamed."""
    cust = F.broadcast(table(spark, sf, "customer")
                       .filter(F.col("c_mktsegment") == "BUILDING")
                       .select("c_custkey"))
    orders = (table(spark, sf, "orders")
              .filter(F.col("o_orderdate")
                      < F.lit("1997-01-01 00:00:00").cast("timestamp")))
    li = table(spark, sf, "lineitem")
    disc_price = (F.col("l_extendedprice").cast("decimal(18,2)")
                  * (1 - F.col("l_discount").cast("decimal(18,2)"))
                  ).cast("decimal(18,4)")
    joined = (cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
                  .join(li, F.col("l_orderkey") == F.col("o_orderkey")))
    agg = (joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
                 .agg(F.sum(disc_price).cast("double").alias("revenue")))
    return topk(agg.select("l_orderkey", "revenue", "o_orderdate",
                           "o_orderpriority"),
                [F.col("revenue").desc(), F.col("l_orderkey").asc()], 10)


@q("q5_region_volume",
   "SELECT n_name, "
   "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue "
   "FROM customer JOIN orders ON c_custkey = o_custkey "
   "JOIN lineitem ON l_orderkey = o_orderkey "
   "JOIN supplier ON l_suppkey = s_suppkey "
   "JOIN nation ON s_nationkey = n_nationkey "
   "JOIN region ON n_regionkey = r_regionkey "
   "WHERE r_name = 'ASIA' GROUP BY n_name")
def q5_region_volume(spark, sf):
    """TPC-H Q5 shape: star join — every dimension broadcast, single shuffle
    for the final aggregation."""
    cust = table(spark, sf, "customer").select("c_custkey")
    orders = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    supp = F.broadcast(table(spark, sf, "supplier")
                       .select("s_suppkey", "s_nationkey"))
    nation = F.broadcast(table(spark, sf, "nation"))
    region = F.broadcast(table(spark, sf, "region")
                         .filter(F.col("r_name") == "ASIA"))
    disc_price = (F.col("l_extendedprice").cast("decimal(18,2)")
                  * (1 - F.col("l_discount").cast("decimal(18,2)"))
                  ).cast("decimal(18,4)")
    joined = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
                .join(cust, F.col("o_custkey") == F.col("c_custkey"))
                .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
                .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
                .join(region, F.col("n_regionkey") == F.col("r_regionkey")))
    return joined.groupBy("n_name").agg(
        F.sum(disc_price).cast("double").alias("revenue"))


@q("join_left_outer",
   "SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders "
   "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
   "GROUP BY c_custkey, c_name")
def join_left_outer(spark, sf):
    cust = table(spark, sf, "customer")
    orders = table(spark, sf, "orders")
    return (cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
                .groupBy("c_custkey", "c_name")
                .agg(F.count("o_orderkey").alias("n_orders")))


@q("join_semi",
   "SELECT c_custkey, c_name FROM customer WHERE EXISTS "
   "(SELECT 1 FROM orders WHERE o_custkey = c_custkey "
   "AND o_totalprice > 400000)")
def join_semi(spark, sf):
    cust = table(spark, sf, "customer")
    big = table(spark, sf, "orders").filter(F.col("o_totalprice") > 400000)
    return (cust.join(big, F.col("c_custkey") == F.col("o_custkey"),
                      "left_semi")
                .select("c_custkey", "c_name"))


@q("join_anti",
   "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS "
   "(SELECT 1 FROM orders WHERE o_custkey = c_custkey)")
def join_anti(spark, sf):
    cust = table(spark, sf, "customer")
    orders = table(spark, sf, "orders")
    return (cust.join(orders, F.col("c_custkey") == F.col("o_custkey"),
                      "left_anti")
                .select("c_custkey", "c_name"))


@q("join_cross_small",
   "SELECT r_name, n_name FROM region CROSS JOIN nation")
def join_cross_small(spark, sf):
    return (table(spark, sf, "region").select("r_name")
            .crossJoin(table(spark, sf, "nation").select("n_name")))


# ---------------------------------------------------------------------------
# Phase 2: set operations (absent from reference — queryplanner.rs:69 rejects)
# ---------------------------------------------------------------------------

@q("setop_union",
   "SELECT c_custkey FROM customer WHERE c_acctbal > 9000 "
   "UNION SELECT o_custkey AS c_custkey FROM orders "
   "WHERE o_totalprice > 450000")
def setop_union(spark, sf):
    rich = (table(spark, sf, "customer").filter(F.col("c_acctbal") > 9000)
            .select("c_custkey"))
    big = (table(spark, sf, "orders").filter(F.col("o_totalprice") > 450000)
           .select(F.col("o_custkey").alias("c_custkey")))
    return rich.union(big).distinct()


@q("setop_intersect",
   "SELECT c_custkey FROM customer WHERE c_acctbal > 5000 "
   "INTERSECT SELECT o_custkey AS c_custkey FROM orders "
   "WHERE o_orderpriority = '1-URGENT'")
def setop_intersect(spark, sf):
    a = (table(spark, sf, "customer").filter(F.col("c_acctbal") > 5000)
         .select("c_custkey"))
    b = (table(spark, sf, "orders")
         .filter(F.col("o_orderpriority") == "1-URGENT")
         .select(F.col("o_custkey").alias("c_custkey")))
    return a.intersect(b)


@q("setop_except",
   "SELECT c_custkey FROM customer "
   "EXCEPT SELECT o_custkey AS c_custkey FROM orders "
   "WHERE o_orderstatus = 'O'")
def setop_except(spark, sf):
    a = table(spark, sf, "customer").select("c_custkey")
    b = (table(spark, sf, "orders").filter(F.col("o_orderstatus") == "O")
         .select(F.col("o_custkey").alias("c_custkey")))
    # subtract == EXCEPT DISTINCT: removes a row entirely if present on the
    # right (exceptAll().distinct() would instead keep one copy of a
    # duplicated left row that also appears on the right)
    return a.subtract(b)


# ---------------------------------------------------------------------------
# Phase 2: window functions (absent from reference — SURVEY §2.3)
# ---------------------------------------------------------------------------

@q("window_topk_per_group",
   "SELECT * FROM (SELECT o_custkey, o_orderkey, o_totalprice, "
   "ROW_NUMBER() OVER (PARTITION BY o_custkey "
   "ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank "
   "FROM orders) WHERE rank <= 3")
def window_topk_per_group(spark, sf):
    return topk_per_group(
        table(spark, sf, "orders").select("o_custkey", "o_orderkey",
                                          "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 3)


@q("window_running_sum",
   "SELECT o_custkey, o_orderkey, "
   "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER "
   "(PARTITION BY o_custkey ORDER BY o_orderdate ASC NULLS FIRST, "
   "o_orderkey ASC "
   "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) "
   "AS running_total FROM orders")
def window_running_sum(spark, sf):
    from pyspark.sql.window import Window
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (table(spark, sf, "orders")
            .select("o_custkey", "o_orderkey",
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                     .over(w).cast("double").alias("running_total")))


@q("window_lead_lag",
   "SELECT o_custkey, o_orderkey, "
   "lag(o_totalprice) OVER w AS prev_price, "
   "lead(o_totalprice) OVER w AS next_price, "
   "first_value(o_totalprice) OVER w AS first_price, "
   "CAST(ntile(4) OVER w AS INT) AS quartile "
   "FROM orders WINDOW w AS (PARTITION BY o_custkey "
   "ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC)")
def window_lead_lag(spark, sf):
    """Navigation window functions (lag/lead/first_value/ntile) over each
    customer's order history — deterministic frame via the unique
    (date, orderkey) tiebreak."""
    from pyspark.sql.window import Window
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc()))
    return (table(spark, sf, "orders")
            .select("o_custkey", "o_orderkey",
                    F.lag("o_totalprice").over(w).alias("prev_price"),
                    F.lead("o_totalprice").over(w).alias("next_price"),
                    F.first("o_totalprice").over(w).alias("first_price"),
                    F.ntile(4).over(w).alias("quartile")))


@q("string_functions",
   "SELECT c_custkey, upper(c_name) AS uname, "
   "substr(c_name, 1, 8) AS prefix8, "
   "replace(c_name, 'Customer', 'Cust') AS renamed, "
   "lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key, "
   "concat(c_mktsegment, '/', c_name) AS seg_name, "
   "CAST(len(string_split(c_name, '0')) AS INT) AS zero_splits "
   "FROM customer WHERE c_custkey < 500")
def string_functions(spark, sf):
    """Core string-function surface (upper/substr/replace/lpad/concat/
    split) — each rendered identically in DuckDB; split counts are
    engine-portable because the delimiter is a literal, not a regex."""
    c = table(spark, sf, "customer").filter(F.col("c_custkey") < 500)
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.substring("c_name", 1, 8).alias("prefix8"),
        F.regexp_replace("c_name", "Customer", "Cust").alias("renamed"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0")
         .alias("padded_key"),
        F.concat_ws("/", "c_mktsegment", "c_name").alias("seg_name"),
        F.size(F.split("c_name", "0", -1)).alias("zero_splits"))


@q("agg_grouping_sets",
   "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
   f"{sql_dsum('l_quantity')} AS sum_qty, "
   "CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) "
   "AS gid FROM lineitem "
   "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), "
   "())")
def agg_grouping_sets(spark, sf):
    """Explicit GROUPING SETS with a grouping-id disambiguator (NULL group
    keys from the subtotal rows vs genuine NULLs)."""
    return spark.sql(
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
        "CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) "
        "AS gid FROM {li} "
        "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), "
        "(l_returnflag), ())", li=table(spark, sf, "lineitem"))


@q("join_full_outer",
   "SELECT coalesce(a.c_custkey, b.o_custkey) AS custkey, a.c_acctbal, "
   "b.n_big_orders FROM "
   "(SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000) a "
   "FULL JOIN (SELECT o_custkey, COUNT(*) AS n_big_orders FROM orders "
   "WHERE o_totalprice > 400000 GROUP BY 1) b "
   "ON a.c_custkey = b.o_custkey")
def join_full_outer(spark, sf):
    """FULL OUTER join (the join-type gap left after left/semi/anti/
    cross): rich customers vs big-order customers, nulls surfacing on
    both sides. One key-partitioned shuffle join — both inputs hash on
    the customer key, the scalable diff layout."""
    cust = (table(spark, sf, "customer")
            .filter(F.col("c_acctbal") > 9000)
            .select("c_custkey", "c_acctbal"))
    big = (table(spark, sf, "orders")
           .filter(F.col("o_totalprice") > 400000)
           .groupBy("o_custkey")
           .agg(F.count(F.lit(1)).alias("n_big_orders")))
    return (cust.join(big, F.col("c_custkey") == F.col("o_custkey"), "full")
                .select(F.coalesce("c_custkey", "o_custkey").alias("custkey"),
                        "c_acctbal", "n_big_orders"))


@q("agg_unpivot",
   "WITH w AS (SELECT l_returnflag, "
   f"{sql_dsum('l_quantity')} AS sum_qty, "
   f"{sql_dsum('l_discount')} AS sum_disc, "
   f"{sql_dsum('l_tax')} AS sum_tax FROM lineitem GROUP BY 1) "
   "SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS total FROM w "
   "UNION ALL SELECT l_returnflag, 'sum_disc', sum_disc FROM w "
   "UNION ALL SELECT l_returnflag, 'sum_tax', sum_tax FROM w")
def agg_unpivot(spark, sf):
    """Wide→long reshaping via the DataFrame unpivot/melt API (the
    inverse of agg_pivot): per-returnflag measure sums melted to
    (flag, measure, total) rows. The unpivot runs AFTER aggregation, so
    the explode-like expansion touches aggregate-sized data only."""
    li = table(spark, sf, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_discount").alias("sum_disc"),
        dsum("l_tax").alias("sum_tax"))
    return wide.unpivot("l_returnflag",
                        ["sum_qty", "sum_disc", "sum_tax"],
                        "measure", "total")


@q("hof_array_ops",
   "SELECT doc_id, len(lens) AS n_tokens, "
   "len(list_filter(lens, x -> x > 4)) AS n_long, "
   "CAST(list_sum(lens) AS BIGINT) AS total_len, "
   "CAST(list_sum(list_transform(list_zip(lens, "
   "range(1, len(lens) + 1)), z -> z[1] * z[2])) AS BIGINT) "
   "AS pos_weighted, "
   "len(list_filter(lens, x -> x > 8)) > 0 AS has_very_long FROM "
   "(SELECT doc_id, "
   f"list_transform({sql_tokens('text')}, t -> length(t)) AS lens "
   "FROM documents)")
def hof_array_ops(spark, sf):
    """Higher-order array functions end-to-end (transform / filter /
    aggregate / zip_with / exists) — token-length analytics computed
    entirely inside JVM lambda expressions: zero explode, zero shuffle,
    pure scan-side map. The Spark-native way to do per-row array math
    that would otherwise tempt a Python UDF."""
    from mura_spark.functions import text as TX
    d = table(spark, sf, "documents")
    lens = F.transform(TX.tokens(F.col("text")), lambda t: F.length(t))
    zero = F.lit(0).cast("bigint")
    posw = F.aggregate(
        F.zip_with(lens, F.sequence(F.lit(1), F.size(lens)),
                   lambda l, i: l.cast("bigint") * i),
        zero, lambda acc, x: acc + x)
    return d.select(
        "doc_id",
        F.size(lens).alias("n_tokens"),
        F.size(F.filter(lens, lambda x: x > 4)).alias("n_long"),
        F.aggregate(lens, zero,
                    lambda acc, x: acc + x).alias("total_len"),
        posw.alias("pos_weighted"),
        F.exists(lens, lambda x: x > 8).alias("has_very_long"))


@q("setop_intersect_all",
   "SELECT l_suppkey FROM lineitem WHERE l_quantity > 45 "
   "INTERSECT ALL SELECT l_suppkey FROM lineitem WHERE l_discount > 0.08")
def setop_intersect_all(spark, sf):
    """INTERSECT ALL — bag semantics (min multiplicity per value), the
    variant plain intersect() hides. The suppkey inputs are deliberately
    duplicate-heavy so the hash gate pins multiplicities, not just
    membership."""
    li = table(spark, sf, "lineitem")
    a = li.filter(F.col("l_quantity") > 45).select("l_suppkey")
    b = li.filter(F.col("l_discount") > 0.08).select("l_suppkey")
    return a.intersectAll(b)


@q("setop_except_all",
   "SELECT l_suppkey FROM lineitem WHERE l_quantity > 45 "
   "EXCEPT ALL SELECT l_suppkey FROM lineitem "
   "WHERE l_quantity > 45 AND l_returnflag = 'R'")
def setop_except_all(spark, sf):
    """EXCEPT ALL — per-value multiplicity subtraction (count_left −
    count_right copies survive), completing the set-operation family.
    The right side is a strict subset of the left, so the result is
    exactly the non-returned high-quantity multiset — per-key
    multiplicities, not membership, are what the hash pins."""
    li = table(spark, sf, "lineitem").select("l_suppkey", "l_quantity",
                                             "l_returnflag")
    a = li.filter(F.col("l_quantity") > 45).select("l_suppkey")
    b = (li.filter((F.col("l_quantity") > 45)
                   & (F.col("l_returnflag") == "R"))
           .select("l_suppkey"))
    return a.exceptAll(b)


@q("agg_string_concat",
   "SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations "
   "FROM region JOIN nation ON r_regionkey = n_regionkey GROUP BY 1")
def agg_string_concat(spark, sf):
    """Ordered string aggregation (collect_list → sort_array →
    array_join): collect_list alone is partition-order-nondeterministic,
    the explicit sort is what makes the result hash-stable — the same
    discipline DuckDB's ORDER BY inside string_agg expresses."""
    r = table(spark, sf, "region")
    n = table(spark, sf, "nation")
    return (r.join(n, F.col("r_regionkey") == F.col("n_regionkey"))
             .groupBy("r_name")
             .agg(F.array_join(F.sort_array(F.collect_list("n_name")), ",")
                   .alias("nations")))


@q("sort_nulls_last_topk",
   "SELECT c.c_custkey, b.n_big FROM customer c LEFT JOIN "
   "(SELECT o_custkey, COUNT(*) AS n_big FROM orders "
   "WHERE o_totalprice > 450000 GROUP BY 1) b "
   "ON c.c_custkey = b.o_custkey "
   "ORDER BY n_big DESC NULLS LAST, c_custkey ASC LIMIT 15")
def sort_nulls_last_topk(spark, sf):
    """Explicit null ordering under a top-k: customers ranked by
    big-order count with no-order customers (NULL from the left join)
    pushed past the limit boundary — the null-placement semantics a
    bare DESC would get wrong. Executes as TakeOrderedAndProject."""
    cust = table(spark, sf, "customer").select("c_custkey")
    big = (table(spark, sf, "orders")
           .filter(F.col("o_totalprice") > 450000)
           .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_big")))
    return (cust.join(big, F.col("c_custkey") == F.col("o_custkey"), "left")
                .select("c_custkey", "n_big")
                .orderBy(F.col("n_big").desc_nulls_last(),
                         F.col("c_custkey").asc())
                .limit(15))


# ------------------------------------------------------- round-5r additions

@q("join_right_outer",
   "SELECT c_mktsegment, "
   "CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers, "
   "CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders, "
   "CAST(COUNT(DISTINCT CASE WHEN o_orderkey IS NULL THEN c_custkey END) "
   "AS BIGINT) AS n_idle_customers "
   "FROM orders RIGHT JOIN customer ON o_custkey = c_custkey "
   "GROUP BY 1")
def join_right_outer(spark, sf):
    """RIGHT OUTER join (the last join-type gap after left/full/semi/
    anti/cross): every customer kept against the order fact, idle
    customers surfacing as NULL order keys. The PRESERVED (right) side
    can never broadcast in a right-outer join; the left fact side may
    at toy scale (AQE does so under the threshold) but exceeds it on
    real data, so the plan degrades correctly to the key-partitioned
    shuffle join, aggregated per market segment."""
    o = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(c, F.col("o_custkey") == F.col("c_custkey"), "right_outer")
    return (j.groupBy("c_mktsegment")
             .agg(F.countDistinct("c_custkey").alias("n_customers"),
                  F.count("o_orderkey").alias("n_orders"),
                  F.countDistinct(
                      F.when(F.col("o_orderkey").isNull(),
                             F.col("c_custkey")))
                   .alias("n_idle_customers")))


@q("window_percent_rank",
   "SELECT c_custkey, c_mktsegment, "
   "CAST(floor(percent_rank() OVER (PARTITION BY c_mktsegment "
   "ORDER BY c_acctbal NULLS FIRST) * 1000000.0 + 0.5) AS BIGINT) "
   "AS pr_micro, "
   "CAST(floor(cume_dist() OVER (PARTITION BY c_mktsegment "
   "ORDER BY c_acctbal NULLS FIRST) * 1000000.0 + 0.5) AS BIGINT) "
   "AS cd_micro "
   "FROM customer")
def window_percent_rank(spark, sf):
    """percent_rank + cume_dist (the relative-rank window gap after
    lead/lag/row_number/ntile-free topk): each customer's balance
    percentile WITHIN its market segment. Partitioned window — never a
    global single-task sort (the repo's global-quantile path is
    sampling.quantile_bins); ties share a rank in both engines, and
    (rank−1)/(n−1) divisions are identically-rounded IEEE doubles,
    micro-floored for the hash."""
    from pyspark.sql import Window
    from mura_spark.functions.quantize import micro
    c = table(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return c.select("c_custkey", "c_mktsegment",
                    micro(F.percent_rank().over(w)).alias("pr_micro"),
                    micro(F.cume_dist().over(w)).alias("cd_micro"))


# ------------------------------------------------------- round-5v additions

_LATERAL_SQL = (
    "SELECT n_name, c.c_name, c.c_acctbal "
    "FROM {nation}, LATERAL ("
    "SELECT c_name, c_acctbal FROM {customer} "
    "WHERE c_nationkey = n_nationkey "
    "ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c")


@q("join_lateral_topn", _LATERAL_SQL.format(nation="nation",
                                            customer="customer"))
def join_lateral_topn(spark, sf):
    """Correlated LATERAL subquery join — top-2 customers by balance
    PER nation, the per-row-subquery SQL surface (Spark lateral joins).
    The same SQL text runs on both engines; Catalyst decorrelates the
    LATERAL + LIMIT into a ranked window under the hood, so the
    physical plan is the scalable per-key top-k, not a per-row
    re-execution. Deterministic via the custkey tiebreak."""
    return spark.sql(_LATERAL_SQL, nation=table(spark, sf, "nation"),
                     customer=table(spark, sf, "customer"))


@q("join_null_safe",
   "WITH a AS (SELECT NULLIF(o_orderpriority, '1-URGENT') AS prio, "
   "COUNT(*) AS n_1995 FROM orders WHERE year(o_orderdate) = 1995 "
   "GROUP BY 1), "
   "b AS (SELECT NULLIF(o_orderpriority, '1-URGENT') AS prio, "
   "COUNT(*) AS n_1996 FROM orders WHERE year(o_orderdate) = 1996 "
   "GROUP BY 1) "
   "SELECT a.prio, a.n_1995, b.n_1996 FROM a JOIN b "
   "ON a.prio IS NOT DISTINCT FROM b.prio")
def join_null_safe(spark, sf):
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM — the join
    gap where NULL keys must MATCH each other instead of vanishing):
    year-over-year order counts per priority with the '1-URGENT' class
    NULLed out to exercise the NULL=NULL row. Both sides pre-reduce to
    the priority grain before the join, so the null-safe comparison
    never sees fact-table volume."""
    o = table(spark, sf, "orders")
    prio = F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT"))
    a = (o.filter(F.year("o_orderdate") == 1995)
          .groupBy(prio.alias("prio"))
          .agg(F.count(F.lit(1)).alias("n_1995")))
    b = (o.filter(F.year("o_orderdate") == 1996)
          .groupBy(prio.alias("prio"))
          .agg(F.count(F.lit(1)).alias("n_1996")))
    return (a.join(b, a["prio"].eqNullSafe(b["prio"]))
             .select(a["prio"].alias("prio"), "n_1995", "n_1996"))


@q("agg_mode",
   "SELECT o_orderstatus, o_orderpriority AS mode_priority, n FROM ("
   "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, "
   "ROW_NUMBER() OVER (PARTITION BY o_orderstatus "
   "ORDER BY COUNT(*) DESC, o_orderpriority ASC) AS rnk "
   "FROM orders GROUP BY 1, 2) WHERE rnk = 1")
def agg_mode(spark, sf):
    """Deterministic statistical MODE per group (most frequent order
    priority per status) — spelled as count + ranked window with a
    lexicographic tiebreak, NOT the built-in ``mode()`` (both engines
    document arbitrary tie behavior, which is a hash-compare landmine).
    Two reduced shuffles: the count groupBy, then a window over the
    dimension-sized count table."""
    from pyspark.sql import Window
    o = table(spark, sf, "orders")
    c = (o.groupBy("o_orderstatus", "o_orderpriority")
          .agg(F.count(F.lit(1)).alias("n")))
    w = (Window.partitionBy("o_orderstatus")
               .orderBy(F.col("n").desc(), F.col("o_orderpriority").asc()))
    return (c.withColumn("__rnk", F.row_number().over(w))
             .filter(F.col("__rnk") == 1)
             .select("o_orderstatus",
                     F.col("o_orderpriority").alias("mode_priority"), "n"))


@q("window_nth_value",
   "SELECT DISTINCT c_mktsegment, "
   "nth_value(c_name, 3) OVER w AS third_name, "
   "nth_value(c_acctbal, 3) OVER w AS third_bal "
   "FROM customer WINDOW w AS (PARTITION BY c_mktsegment "
   "ORDER BY c_acctbal DESC, c_custkey ASC "
   "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)")
def window_nth_value(spark, sf):
    """nth_value over an unbounded frame (the remaining analytic-window
    gap after first/last/lead/lag/percent_rank): the third-richest
    customer per market segment, surfaced on every partition row and
    collapsed by DISTINCT. Deterministic via the custkey tiebreak."""
    from pyspark.sql import Window
    c = table(spark, sf, "customer")
    w = (Window.partitionBy("c_mktsegment")
               .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
               .rowsBetween(Window.unboundedPreceding,
                            Window.unboundedFollowing))
    return (c.select("c_mktsegment",
                     F.nth_value("c_name", 3).over(w).alias("third_name"),
                     F.nth_value("c_acctbal", 3).over(w)
                      .alias("third_bal"))
             .distinct())


@q("agg_bitmap_distinct",
   "SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) "
   "AS n_users FROM events GROUP BY 1")
def agg_bitmap_distinct(spark, sf):
    """Exact distinct users per event type through BITMAP aggregation
    (bitmap_bucket_number / bitmap_construct_agg / bitmap_count) — the
    MERGEABLE distinct-count structure: unlike a raw COUNT DISTINCT,
    per-(type, bucket) bitmaps pre-aggregate map-side, OR-merge across
    partitions and across incremental runs, and the id space shards
    into fixed 32k-bit buckets so no single group's state is unbounded.
    The oracle is the plain COUNT DISTINCT the bitmaps must equal."""
    ev = table(spark, sf, "events")
    per_bucket = (ev.select("event_type",
                            F.bitmap_bucket_number("user_id").alias("b"),
                            F.bitmap_bit_position("user_id").alias("p"))
                    .groupBy("event_type", "b")
                    .agg(F.bitmap_construct_agg("p").alias("bm")))
    return (per_bucket.groupBy("event_type")
                      .agg(F.sum(F.bitmap_count("bm")).cast("bigint")
                            .alias("n_users")))


@q("window_range_numeric",
   "SELECT c_custkey, c_mktsegment, c_acctbal, "
   "CAST(COUNT(*) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal "
   "RANGE BETWEEN 500.0 PRECEDING AND 500.0 FOLLOWING) AS BIGINT) "
   "AS n_peers FROM customer")
def window_range_numeric(spark, sf):
    """Value-based RANGE frame over a NUMERIC ordering (the remaining
    frame-type gap after ROWS and time-RANGE): per customer, how many
    same-segment customers sit within ±500 of its balance — the local
    density feature. The frame is defined by VALUE distance so ties
    need no tiebreak (every equal-balance row sees the identical
    frame); partitioned by segment, never a global sort."""
    from pyspark.sql import Window
    c = table(spark, sf, "customer")
    w = (Window.partitionBy("c_mktsegment")
               .orderBy(F.col("c_acctbal").cast("double"))
               .rangeBetween(-500, 500))
    return c.select("c_custkey", "c_mktsegment", "c_acctbal",
                    F.count(F.lit(1)).over(w).alias("n_peers"))


@q("window_ntile",
   "WITH t AS (SELECT c_mktsegment, ntile(4) OVER (PARTITION BY "
   "c_mktsegment ORDER BY c_acctbal ASC NULLS FIRST, c_custkey ASC) "
   "AS quartile, "
   "c_acctbal FROM customer) "
   "SELECT c_mktsegment, quartile, COUNT(*) AS n, "
   "MIN(c_acctbal) AS bal_lo, MAX(c_acctbal) AS bal_hi, "
   + sql_dsum("c_acctbal") + " AS bal_sum "
   "FROM t GROUP BY c_mktsegment, quartile")
def window_ntile(spark, sf):
    """NTILE bucketing (the remaining ranking-family window after
    row_number/rank/percent_rank/nth_value): equal-frequency quartiles
    of account balance within each market segment, then the per-quartile
    profile. NTILE's remainder rule (first buckets get the extra row) is
    identical in Spark and DuckDB; the (balance, custkey) tiebreak makes
    the assignment a total order. Partitioned window — no global sort;
    the profile is one map-side-combined groupBy."""
    from pyspark.sql import Window
    c = table(spark, sf, "customer")
    w = (Window.partitionBy("c_mktsegment")
               .orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc()))
    return (c.select("c_mktsegment",
                     F.ntile(4).over(w).alias("quartile"), "c_acctbal")
             .groupBy("c_mktsegment", "quartile")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.min("c_acctbal").alias("bal_lo"),
                  F.max("c_acctbal").alias("bal_hi"),
                  dsum("c_acctbal").alias("bal_sum")))


@q("window_ratio_to_report",
   "WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice, "
   "CAST(o_totalprice AS DOUBLE) / CAST(SUM(CAST(o_totalprice AS "
   "DECIMAL(18,2))) OVER (PARTITION BY o_custkey) AS DOUBLE) AS share "
   "FROM orders) "
   "SELECT o_orderkey, o_custkey, o_totalprice, share FROM t "
   "ORDER BY share DESC, o_orderkey ASC LIMIT 500")
def window_ratio_to_report(spark, sf):
    """Ratio-to-report window: each order's share of its customer's
    lifetime spend, top-500 most-dominant orders. The denominator is an
    exact DECIMAL window sum (order-independent); the share is then one
    IEEE division per row — bit-identical across engines. Share ties
    (single-order customers all at 1.0) break on the unique order key.
    One keyed window shuffle + TakeOrderedAndProject."""
    from pyspark.sql import Window
    o = table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey")
    share = (F.col("o_totalprice").cast("double")
             / F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .over(w).cast("double"))
    return (o.select("o_orderkey", "o_custkey", "o_totalprice",
                     share.alias("share"))
             .orderBy(F.col("share").desc(), F.col("o_orderkey").asc())
             .limit(500))


@q("setop_union_byname",
   "WITH legacy AS (SELECT o_orderkey, o_totalprice FROM orders "
   "WHERE o_orderkey % 3 = 0), "
   "current AS (SELECT o_orderkey, o_totalprice, o_orderpriority "
   "FROM orders WHERE o_orderkey % 3 <> 0), "
   "unioned AS (SELECT * FROM legacy UNION ALL BY NAME "
   "SELECT * FROM current) "
   "SELECT COALESCE(o_orderpriority, '<missing>') AS priority, "
   "COUNT(*) AS n, " + sql_dsum("o_totalprice") + " AS revenue "
   "FROM unioned GROUP BY 1")
def setop_union_byname(spark, sf):
    """Name-based union across evolving batch schemas: a legacy feed
    that predates the priority column unions with the current feed;
    the missing column null-fills (Spark unionByName(
    allowMissingColumns=True) == DuckDB UNION ALL BY NAME). The standard
    ingestion shape when upstream adds fields mid-stream. Narrow op —
    no shuffle until the final profile groupBy."""
    o = table(spark, sf, "orders")
    legacy = (o.where(F.col("o_orderkey") % 3 == 0)
               .select("o_orderkey", "o_totalprice"))
    current = (o.where(F.col("o_orderkey") % 3 != 0)
                .select("o_orderkey", "o_totalprice", "o_orderpriority"))
    return (legacy.unionByName(current, allowMissingColumns=True)
                  .groupBy(F.coalesce("o_orderpriority", F.lit("<missing>"))
                            .alias("priority"))
                  .agg(F.count(F.lit(1)).alias("n"),
                       dsum("o_totalprice").alias("revenue")))


from mura_spark.operators.skyline import sql_skyline_min_max  # noqa: E402


@q("parts_skyline",
   sql_skyline_min_max("part", "p_retailprice", "p_size",
                       count_alias="n_parts", rep_expr="p_partkey",
                       rep_alias="rep_partkey")
   + " ORDER BY p_retailprice ASC, p_size DESC")
def parts_skyline(spark, sf):
    """Skyline / Pareto frontier (Börzsönyi ICDE'01): the parts where no
    other part is both cheaper and larger — the classic preference query
    the reference's comparison operators compose into. Three lossless
    stages (cell reduction → bucket prune → survivor sweep, see
    operators/skyline.py); the only single-partition work is over pruned
    survivors, never the input."""
    from mura_spark.operators.skyline import skyline_min_max
    p = table(spark, sf, "part")
    return (skyline_min_max(p, "p_retailprice", "p_size",
                            count_alias="n_parts", rep_col="p_partkey",
                            rep_alias="rep_partkey")
            .orderBy(F.col("p_retailprice").asc(), F.col("p_size").desc()))


@q("window_cume_dist",
   "WITH t AS (SELECT o_orderpriority, "
   "cume_dist() OVER (PARTITION BY o_orderpriority "
   "ORDER BY o_totalprice NULLS FIRST) AS cd FROM orders) "
   "SELECT o_orderpriority, COUNT(*) AS n, "
   "CAST(SUM(CAST(floor(cd * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) "
   "AS sum_cd_micro, "
   "CAST(SUM(CASE WHEN cd <= 0.5 THEN 1 ELSE 0 END) AS BIGINT) "
   "AS n_below_half FROM t GROUP BY o_orderpriority")
def window_cume_dist(spark, sf):
    """CUME_DIST — the last uncovered ranking-family window (after
    row_number/rank/percent_rank/ntile/nth_value): each order's
    cumulative distribution of total price within its priority class.
    cume_dist is tie-stable (rows ≤ current VALUE over partition size),
    so no tiebreak key is needed; the ratio of two ints is one IEEE
    division, micro-quantized per row before the integer profile sums.
    One priority-key window shuffle + map-side-combined groupBy."""
    from pyspark.sql import Window
    from mura_spark.functions.quantize import micro
    o = table(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    cd = F.cume_dist().over(w)
    return (o.select("o_orderpriority", cd.alias("cd"))
             .groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(micro(F.col("cd"))).cast("bigint")
                   .alias("sum_cd_micro"),
                  F.sum(F.when(F.col("cd") <= 0.5, 1).otherwise(0))
                   .cast("bigint").alias("n_below_half")))


@q("agg_boolean_profile",
   "SELECT o_orderpriority, COUNT(*) AS n, "
   "CAST(SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) "
   "AS BIGINT) AS n_big, "
   "bool_and(o_totalprice > 900) AS all_above_floor, "
   "bool_or(o_totalprice > 400000) AS any_huge "
   "FROM orders GROUP BY o_orderpriority")
def agg_boolean_profile(spark, sf):
    """Boolean-aggregate SQL surface (COUNT_IF / BOOL_AND / BOOL_OR —
    ANSI EVERY/ANY): per-priority order-value profile. All four are
    single-pass map-side-combinable aggregates over exact predicates;
    one reduced shuffle of ≤5 groups."""
    o = table(spark, sf, "orders")
    return (o.groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.count_if(F.col("o_totalprice") > 150000)
                   .cast("bigint").alias("n_big"),
                  F.bool_and(F.col("o_totalprice") > 900)
                   .alias("all_above_floor"),
                  F.bool_or(F.col("o_totalprice") > 400000)
                   .alias("any_huge")))


@q("subquery_not_in",
   "WITH sub AS (SELECT CASE WHEN c_custkey % 97 = 0 THEN NULL "
   "ELSE c_custkey END AS k FROM customer "
   "WHERE c_mktsegment = 'BUILDING' "
   "UNION ALL SELECT CAST(NULL AS BIGINT)) "
   "SELECT (SELECT COUNT(*) FROM orders "
   "WHERE o_custkey NOT IN (SELECT k FROM sub)) AS n_not_in, "
   "(SELECT COUNT(*) FROM orders o WHERE NOT EXISTS "
   "(SELECT 1 FROM sub s WHERE s.k = o.o_custkey)) AS n_not_exists")
def subquery_not_in(spark, sf):
    """The NOT IN null trap, pinned as a first-class surface: the
    subquery's key column is engineered to contain NULLs (a %-derived
    one for realism plus one unconditional, so the trap fires at every
    scale factor), so ANSI
    three-valued logic makes `NOT IN` satisfy NO row (x NOT IN a set
    containing NULL is never TRUE) while the NOT EXISTS spelling keeps
    its natural anti-join answer — the side-by-side counts are the
    regression test for the semantic difference. Physically Spark plans
    the NOT IN as a null-aware anti join (broadcast-only by design —
    the nullable side must be visible in full); the subquery is
    dimension-sized, so that's the right plan at any fact scale."""
    sub = (table(spark, sf, "customer")
           .where(F.col("c_mktsegment") == "BUILDING")
           .select(F.when(F.col("c_custkey") % 97 == 0, None)
                    .otherwise(F.col("c_custkey")).alias("k"))
           .union(spark.range(1).select(
               F.lit(None).cast("bigint").alias("k"))))
    return spark.sql(
        "SELECT (SELECT COUNT(*) FROM {orders} "
        "WHERE o_custkey NOT IN (SELECT k FROM {sub})) "
        "AS n_not_in, "
        "(SELECT COUNT(*) FROM {orders} o WHERE NOT EXISTS "
        "(SELECT 1 FROM {sub} s WHERE s.k = o.o_custkey)) "
        "AS n_not_exists", orders=table(spark, sf, "orders"), sub=sub)


@q("sort_offset_page",
   "SELECT o_orderkey, o_totalprice FROM orders "
   "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100 OFFSET 200")
def sort_offset_page(spark, sf):
    """Keyset-less pagination surface: ORDER BY ... LIMIT 100 OFFSET 200
    (page 3). The unique order key under the price sort makes the page
    deterministic. Spark plans a single TakeOrderedAndProject(limit=
    offset+limit, offset) — not a full sort; OFFSET deep pages
    degrade to top-N of N=offset+limit, which is why real pagination at
    scale should be keyset (WHERE (price, key) < last-seen) — this row
    pins the surface, the docstring pins the advice."""
    o = table(spark, sf, "orders")
    return (o.select("o_orderkey", "o_totalprice")
             .orderBy(F.col("o_totalprice").desc(),
                      F.col("o_orderkey").asc())
             .offset(200).limit(100))


@q("scalar_try_functions",
   "WITH t AS (SELECT l_returnflag, "
   "CASE WHEN l_quantity - 5.0 = 0.0 THEN NULL "
   "ELSE l_extendedprice / (l_quantity - 5.0) END AS d, "
   "TRY_CAST(l_returnflag AS INT) AS bad_int FROM lineitem) "
   "SELECT l_returnflag, COUNT(*) AS n, "
   "CAST(SUM(CASE WHEN d IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
   "AS n_div_by_zero, "
   "CAST(SUM(CASE WHEN bad_int IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
   "AS n_bad_cast, "
   "CAST(SUM(CAST(floor(d * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) "
   "AS sum_div_micro FROM t GROUP BY l_returnflag")
def scalar_try_functions(spark, sf):
    """ANSI-safe TRY_* scalar family: this session runs with
    spark.sql.ansi.enabled=true (matching the DuckDB oracle's
    strictness), so a plain divide-by-zero or bad cast ABORTS the query
    — try_divide / try_cast are the per-row NULL-instead-of-abort
    escape hatch a dirty-data pipeline needs. The denominator
    (l_quantity − 5) hits genuine zeros; the flag-to-int cast always
    fails; per-row quotients micro-quantize before the integer sum
    (NULLs skipped identically by both engines).

    Scale note (measured): an UNGUARDED try_cast over an always-failing
    string column costs ~7µs/row — the JVM throws and catches one cast
    exception per failure (4.2s vs 0.2s for the same aggregate over
    sf0.1's lineitem). The fix is the pattern below: a cheap regex
    pre-guard so the exception path only runs on plausibly-numeric
    strings. try_divide has no such cliff (NULL via arithmetic check,
    no exception)."""
    from mura_spark.functions.quantize import micro
    li = table(spark, sf, "lineitem")
    d = F.try_divide(F.col("l_extendedprice"),
                     F.col("l_quantity") - F.lit(5.0))
    bad = (F.when(F.col("l_returnflag").rlike("^[+-]?[0-9]+$"),
                  F.col("l_returnflag").try_cast("int"))
            .otherwise(F.lit(None).cast("int")))
    t = li.select("l_returnflag", d.alias("d"), bad.alias("bad_int"))
    return (t.groupBy("l_returnflag")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.when(F.col("d").isNull(), 1).otherwise(0))
                   .cast("bigint").alias("n_div_by_zero"),
                  F.sum(F.when(F.col("bad_int").isNull(), 1).otherwise(0))
                   .cast("bigint").alias("n_bad_cast"),
                  F.sum(micro(F.col("d"))).cast("bigint")
                   .alias("sum_div_micro")))


# ------------------------------------------------------- round-6nn addition

@q("scripting_monthly_accumulator",
   "SELECT CAST(12 AS INT) AS n_months, "
   "CAST(SUM(CASE WHEN year(o_orderdate) = 1995 THEN "
   "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) END) "
   "AS BIGINT) AS total_cents, "
   "CAST(MAX(CASE WHEN year(o_orderdate) = 1995 THEN "
   "CAST(month(o_orderdate) AS INT) END) AS INT) AS last_month "
   "FROM orders")
def scripting_monthly_accumulator(spark, sf):
    """SQL scripting (Spark 4.1 BEGIN/DECLARE/WHILE/SET): a procedural
    loop walks the twelve months of 1995 accumulating exact-decimal
    revenue through a scripting variable with a correlated scalar
    subquery per iteration — the stored-procedure-style surface, pinned
    against the equivalent declarative aggregate. (Use the declarative
    form in production — this pins that the procedural surface computes
    the same answer.)"""
    return spark.sql("""
BEGIN
  DECLARE total BIGINT DEFAULT 0;
  DECLARE last_m INT DEFAULT 0;
  DECLARE i INT DEFAULT 1;
  WHILE i <= 12 DO
    SET total = total + coalesce(
      (SELECT CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT)
       FROM {orders}
       WHERE year(o_orderdate) = 1995 AND month(o_orderdate) = i), 0);
    SET last_m = CASE WHEN EXISTS (
        SELECT 1 FROM {orders}
        WHERE year(o_orderdate) = 1995 AND month(o_orderdate) = i)
      THEN i ELSE last_m END;
    SET i = i + 1;
  END WHILE;
  SELECT CAST(12 AS INT) AS n_months, total AS total_cents,
         last_m AS last_month;
END
""", orders=table(spark, sf, "orders"))


# ------------------------------------------------------- round-6bbb additions

@q("agg_group_by_all",
   "SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
   "CAST(SUM(n_chars) AS BIGINT) AS total_chars "
   "FROM documents GROUP BY ALL")
def agg_group_by_all(spark, sf):
    """GROUP BY ALL surface pin (SQL:2023-adjacent sugar both engines
    share): every non-aggregate select item becomes a grouping key —
    the footgun-free rollup form analysts reach for first. Plans
    identically to the explicit GROUP BY (one map-side-combined
    rollup)."""
    return spark.sql(
        "SELECT lang, source, COUNT(*) AS n_docs, "
        "SUM(n_chars) AS total_chars FROM {d} GROUP BY ALL",
        d=table(spark, sf, "documents"))


@q("string_collation_filter",
   "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents "
   "WHERE lower(lang) = lower('EN') OR lower(lang) = lower('Zh') "
   "GROUP BY 1")
def string_collation_filter(spark, sf):
    """Spark 4 COLLATION surface pin: a case-insensitive
    (UTF8_LCASE) equality filter — the collation engine does the
    folding inside the comparison (no lower() wrapping on the Spark
    side, so at scale the filter still pushes as a predicate instead
    of an expression over every row). The DuckDB oracle expresses the
    identical semantics with explicit lower() folding."""
    return spark.sql(
        "SELECT lang, COUNT(*) AS n_docs FROM {d} "
        "WHERE lang COLLATE UTF8_LCASE = 'EN' "
        "OR lang COLLATE UTF8_LCASE = 'Zh' GROUP BY 1",
        d=table(spark, sf, "documents"))


@q("join_bucketed_colocate",
   "SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines, "
   "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) "
   "AS revenue "
   "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
   "GROUP BY 1")
def join_bucketed_colocate(spark, sf):
    """Shuffle-free fact-fact join via bucketing — the write-once /
    join-many layout decision that removes BOTH sides' Exchange at
    100 TB: orders and lineitem written bucketed on the order key
    (same bucket count), then sort-merge joined with zero shuffle
    (plan pinned in pytest: no Exchange above either scan). The
    oracle is the plain logical join — layout must never change
    answers."""
    import shutil
    from urllib.parse import urlparse
    from mura_spark.sources.bucketing import bucketed_join, write_bucketed
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("mura_q_borders", "mura_q_blineitem"):
        # a fresh in-memory metastore doesn't know tables an earlier
        # session left in the warehouse — drop BOTH the catalog entry
        # and any orphaned location before the bucketed write
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    o = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem").select(
        "l_orderkey", "l_extendedprice")
    write_bucketed(o, "mura_q_borders", ["o_orderkey"], 8,
                   sort_cols=["o_orderkey"], mode="overwrite")
    write_bucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"),
                   "mura_q_blineitem", ["o_orderkey"], 8,
                   sort_cols=["o_orderkey"], mode="overwrite")
    j = bucketed_join(spark, "mura_q_borders", "mura_q_blineitem",
                      ["o_orderkey"])
    return (j.groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n_lines"),
                  F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                   .cast("double").alias("revenue")))
