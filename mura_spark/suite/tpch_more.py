"""Additional TPC-H-shaped analytics queries (extension surface — the
reference has no joins, aggregation, or grouping sets at all, SURVEY.md §2.3).

Each query exercises a distinct physical-plan shape worth pinning:
pushdown-heavy global agg (Q6), selective-fact star join with top-k (Q10),
broadcast join + conditional aggregation (Q14), agg-then-join with a
having-style semi filter (Q18), and ROLLUP grouping sets. Money arithmetic
follows the determinism rules in ``mura_spark.suite.common``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mura_spark.operators.topk import topk
from mura_spark.suite.common import dsum, registry, sql_dsum, table

SPARK_QUERIES, ORACLE_SQL, q = registry()


_DISC_PRICE = ("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * "
               "(1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))")


def _disc_price():
    return (F.col("l_extendedprice").cast("decimal(18,2)")
            * (1 - F.col("l_discount").cast("decimal(18,2)"))
            ).cast("decimal(18,4)")


@q("q6_revenue_change",
   "SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * "
   "CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE) "
   "AS revenue, COUNT(*) AS n_lines FROM lineitem "
   "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' "
   "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' "
   "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24")
def q6_revenue_change(spark, sf):
    """TPC-H Q6 shape: every predicate must reach the parquet scan
    (PushedFilters); the agg is a single global decimal sum."""
    li = table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * F.col("l_discount").cast("decimal(18,2)")).cast("decimal(18,4)")
    return li.agg(F.sum(rev).cast("double").alias("revenue"),
                  F.count(F.lit(1)).alias("n_lines"))


@q("q10_returned_items",
   "SELECT c_custkey, c_name, n_name, "
   f"CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS revenue "
   "FROM customer JOIN orders ON c_custkey = o_custkey "
   "JOIN lineitem ON l_orderkey = o_orderkey "
   "JOIN nation ON c_nationkey = n_nationkey "
   "WHERE l_returnflag = 'R' "
   "GROUP BY c_custkey, c_name, n_name "
   "ORDER BY revenue DESC, c_custkey ASC LIMIT 20")
def q10_returned_items(spark, sf):
    """TPC-H Q10 shape: returned-item revenue per customer. Fact filtered at
    the scan, dims broadcast, one shuffle for the groupBy, top-k with a
    unique tiebreak."""
    li = (table(spark, sf, "lineitem")
          .filter(F.col("l_returnflag") == "R")
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    orders = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cust = F.broadcast(table(spark, sf, "customer")
                       .select("c_custkey", "c_name", "c_nationkey"))
    nation = F.broadcast(table(spark, sf, "nation"))
    joined = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
                .join(cust, F.col("o_custkey") == F.col("c_custkey"))
                .join(nation, F.col("c_nationkey") == F.col("n_nationkey")))
    agg = (joined.groupBy("c_custkey", "c_name", "n_name")
                 .agg(F.sum(_disc_price()).cast("double").alias("revenue")))
    return topk(agg, [F.col("revenue").desc(), F.col("c_custkey").asc()], 20)


@q("q14_promo_share",
   # both factors cast to DOUBLE before the arithmetic: DuckDB parses
   # 100.0 as DECIMAL and its decimal multiply/divide rounds at a
   # different point than Spark's double chain (2-ulp drift)
   "SELECT 100.0 * CAST("
   f"SUM(CASE WHEN p_type = 'PROMO' THEN {_DISC_PRICE} ELSE CAST(0 AS DECIMAL(18,4)) END) "
   f"AS DOUBLE) / CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS promo_share, "
   "COUNT(*) AS n_lines "
   "FROM lineitem JOIN part ON l_partkey = p_partkey "
   "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' "
   "AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'")
def q14_promo_share(spark, sf):
    """TPC-H Q14 shape: broadcast the part dim, conditional decimal
    aggregation, exact decimal division surfaced as double."""
    li = table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp")))
    part = F.broadcast(table(spark, sf, "part").select("p_partkey", "p_type"))
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    promo = F.when(F.col("p_type") == "PROMO", _disc_price()) \
             .otherwise(F.lit(0).cast("decimal(18,4)"))
    return joined.agg(
        (F.lit(100.0) * F.sum(promo).cast("double")
         / F.sum(_disc_price()).cast("double")).alias("promo_share"),
        F.count(F.lit(1)).alias("n_lines"))


@q("q18_large_orders",
   "SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, "
   f"{sql_dsum('l_quantity')} AS sum_qty "
   "FROM customer JOIN orders ON c_custkey = o_custkey "
   "JOIN lineitem ON o_orderkey = l_orderkey "
   "WHERE o_orderkey IN ("
   "  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey "
   "  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250) "
   "GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice "
   "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20")
def q18_large_orders(spark, sf):
    """TPC-H Q18 shape: agg-then-semi-join — the having set is computed once
    on the fact table, then semi-joins back before the wide join."""
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    big = (li.groupBy("l_orderkey")
             .agg(dsum("l_quantity").alias("sq"))
             .filter(F.col("sq") > 250)
             .select("l_orderkey"))
    orders = (table(spark, sf, "orders")
              .join(big.withColumnRenamed("l_orderkey", "o_orderkey"),
                    "o_orderkey", "left_semi"))
    cust = F.broadcast(table(spark, sf, "customer")
                       .select("c_custkey", "c_name"))
    joined = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
                .join(cust, F.col("o_custkey") == F.col("c_custkey")))
    agg = (joined.groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                          "o_totalprice")
                 .agg(dsum("l_quantity").alias("sum_qty")))
    return topk(agg, [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
                20)


@q("agg_rollup",
   "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
   f"{sql_dsum('l_extendedprice')} AS sum_price "
   "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)")
def agg_rollup(spark, sf):
    """Grouping sets: ROLLUP over (returnflag, linestatus) — subtotal rows
    carry NULL group keys in both engines."""
    return (table(spark, sf, "lineitem")
            .rollup("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum("l_extendedprice").alias("sum_price")))


@q("agg_cube",
   "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, "
   f"{sql_dsum('o_totalprice')} AS sum_price "
   "FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)")
def agg_cube(spark, sf):
    """CUBE grouping sets over two order dimensions."""
    return (table(spark, sf, "orders")
            .cube("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum("o_totalprice").alias("sum_price")))


@q("agg_pivot",
   "SELECT l_returnflag, "
   "COUNT(*) FILTER (WHERE l_linestatus = 'F') AS F, "
   "COUNT(*) FILTER (WHERE l_linestatus = 'O') AS O "
   "FROM lineitem GROUP BY l_returnflag")
def agg_pivot(spark, sf):
    """Pivot on line status (explicit value list → deterministic columns);
    oracle is the conditional-count rendering."""
    return (table(spark, sf, "lineitem")
            .groupBy("l_returnflag")
            .pivot("l_linestatus", ["F", "O"])
            .agg(F.count(F.lit(1))))


@q("agg_median",
   "SELECT l_returnflag, median(l_quantity) AS med_qty, "
   "quantile_cont(l_quantity, 0.9) AS p90_qty FROM lineitem "
   "GROUP BY l_returnflag")
def agg_median(spark, sf):
    """Exact interpolated percentiles — both engines sort and interpolate
    with the same (a + (b-a)*frac) arithmetic on doubles."""
    return (table(spark, sf, "lineitem")
            .groupBy("l_returnflag")
            .agg(F.expr("percentile(l_quantity, 0.5)").alias("med_qty"),
                 F.expr("percentile(l_quantity, 0.9)").alias("p90_qty")))


@q("date_functions",
   "SELECT o_orderkey, "
   "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start, "
   "CAST(quarter(o_orderdate) AS INT) AS qtr, "
   "CAST(dayofyear(o_orderdate) AS INT) AS doy, "
   "CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INT)"
   " AS days_since_epoch_start "
   "FROM orders WHERE o_orderkey < 1000")
def date_functions(spark, sf):
    o = table(spark, sf, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.quarter("o_orderdate").alias("qtr"),
        F.dayofyear("o_orderdate").alias("doy"),
        F.datediff(F.col("o_orderdate"),
                   F.lit("1995-01-01").cast("date")).cast("int")
         .alias("days_since_epoch_start"))


@q("subquery_scalar",
   "SELECT c_custkey, c_acctbal FROM customer "
   "WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)")
def subquery_scalar(spark, sf):
    """Uncorrelated scalar subquery (the reference rejects all subqueries —
    queryplanner.rs:66); Catalyst plans it as a broadcast single-row join."""
    return spark.sql(
        "SELECT c_custkey, c_acctbal FROM {c} "
        "WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM {c})",
        c=table(spark, sf, "customer"))


@q("subquery_exists",
   "SELECT o_orderkey, o_orderpriority FROM orders o "
   "WHERE EXISTS (SELECT 1 FROM lineitem l "
   "WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)")
def subquery_exists(spark, sf):
    """Correlated EXISTS (TPC-H Q4 shape) — decorrelated to a left-semi
    join on the correlation key."""
    return spark.sql(
        "SELECT o_orderkey, o_orderpriority FROM {orders} o "
        "WHERE EXISTS (SELECT 1 FROM {lineitem} l "
        "WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)",
        orders=table(spark, sf, "orders"),
        lineitem=table(spark, sf, "lineitem"))


@q("subquery_correlated_scalar",
   "SELECT p_partkey, p_brand, p_retailprice FROM part p1 "
   "WHERE p_retailprice = (SELECT MIN(p_retailprice) FROM part p2 "
   "WHERE p2.p_brand = p1.p_brand)")
def subquery_correlated_scalar(spark, sf):
    """Correlated scalar subquery (TPC-H Q2 shape: min per group) —
    decorrelated to an aggregate + equi-join on the correlation key."""
    return spark.sql(
        "SELECT p_partkey, p_brand, p_retailprice FROM {part} p1 "
        "WHERE p_retailprice = (SELECT MIN(p_retailprice) FROM {part} p2 "
        "WHERE p2.p_brand = p1.p_brand)", part=table(spark, sf, "part"))


# ---------------------------------------------------------------------------
# round 2: four more classic decorrelation shapes (adapted to the slimmed
# synthetic schema — no commitdate/comment/phone columns in the test data)
# ---------------------------------------------------------------------------

@q("q4_priority_exists",
   "SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders o "
   "WHERE EXISTS (SELECT 1 FROM lineitem l "
   "WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45) "
   "GROUP BY o_orderpriority")
def q4_priority_exists(spark, sf):
    """TPC-H Q4 shape: per-priority count of orders with EXISTS over the
    fact — planned as a left-semi hash join, never a correlated loop."""
    o = table(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    li = (table(spark, sf, "lineitem").filter(F.col("l_quantity") > 45)
          .select(F.col("l_orderkey").alias("o_orderkey")))
    return (o.join(li, "o_orderkey", "left_semi")
             .groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n_orders")))


@q("q13_order_distribution",
   "SELECT n_orders, COUNT(*) AS n_customers FROM ("
   "SELECT c_custkey, COUNT(o_orderkey) AS n_orders "
   "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
   "GROUP BY c_custkey) GROUP BY n_orders")
def q13_order_distribution(spark, sf):
    """TPC-H Q13 shape: customer order-count distribution — left outer join
    keeps zero-order customers (COUNT of a nullable column, not COUNT(*)),
    then a second aggregation over the first."""
    c = table(spark, sf, "customer").select("c_custkey")
    o = table(spark, sf, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey")
    per_cust = (c.join(o, "c_custkey", "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("n_orders")))
    return (per_cust.groupBy("n_orders")
            .agg(F.count(F.lit(1)).alias("n_customers")))


_AVG_QTY = ("CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
            " / COUNT(*)")

@q("q17_small_quantity",
   "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"
   " / 7.0 AS avg_yearly "
   "FROM lineitem JOIN part ON p_partkey = l_partkey "
   "WHERE p_brand = 'Brand#1' AND l_quantity < ("
   f"SELECT 0.2 * {_AVG_QTY} FROM lineitem l2 "
   "WHERE l2.l_partkey = lineitem.l_partkey)")
def q17_small_quantity(spark, sf):
    """TPC-H Q17 shape: correlated per-part average decorrelated into a
    groupBy + equi-join (the rewrite Catalyst would have to find; here it
    is declared directly). The per-part average is computed decimal-exact
    so the threshold is identical cross-engine."""
    li = table(spark, sf, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    per_part = (li.groupBy("l_partkey")
                .agg((F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                      .cast("double") / F.count(F.lit(1))).alias("__avg")))
    p = F.broadcast(table(spark, sf, "part")
                    .filter(F.col("p_brand") == "Brand#1")
                    .select(F.col("p_partkey").alias("l_partkey")))
    small = (li.join(p, "l_partkey")
             .join(per_part, "l_partkey")
             .filter(F.col("l_quantity") < 0.2 * F.col("__avg")))
    return small.agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
         .cast("double") / 7.0).alias("avg_yearly"))


@q("q22_idle_customers",
   "SELECT c_mktsegment, COUNT(*) AS n_cust, "
   f"{sql_dsum('c_acctbal')} AS total_bal "
   "FROM customer WHERE c_acctbal > ("
   "SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) "
   "FROM customer WHERE c_acctbal > 0) "
   "AND NOT EXISTS (SELECT 1 FROM orders "
   "WHERE o_custkey = c_custkey AND o_totalprice > 200000) "
   "GROUP BY c_mktsegment")
def q22_idle_customers(spark, sf):
    """TPC-H Q22 shape: scalar average subquery (broadcast single row) +
    NOT EXISTS (left-anti hash join) + final aggregation."""
    c = table(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal")
    avg_bal = (c.filter(F.col("c_acctbal") > 0)
               .agg((F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                     .cast("double") / F.count(F.lit(1))).alias("__avg")))
    big_orders = (table(spark, sf, "orders")
                  .filter(F.col("o_totalprice") > 200000)
                  .select(F.col("o_custkey").alias("c_custkey")))
    rich = (c.crossJoin(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("__avg"))
            .join(big_orders, "c_custkey", "left_anti"))
    return (rich.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_cust"),
                 dsum("c_acctbal").alias("total_bal")))


# ---------------------------------------------------------------------------
# round 2 (cont.): the remaining partsupp-free TPC-H shapes — Q7, Q8, Q15,
# Q19, Q21 (Q2/Q9/Q11/Q16/Q20 need the partsupp table, which the synthetic
# schema does not ship; Q12 needs commit/receipt dates). Q19 and Q21 keep
# the original plan shape with predicates adapted to the available columns.
# ---------------------------------------------------------------------------

@q("q7_nation_volume",
   "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
   "CAST(year(l_shipdate) AS INT) AS l_year, "
   f"{sql_dsum(_DISC_PRICE, 4)} AS revenue "
   "FROM supplier JOIN lineitem ON s_suppkey = l_suppkey "
   "JOIN orders ON o_orderkey = l_orderkey "
   "JOIN customer ON c_custkey = o_custkey "
   "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
   "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
   "WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') "
   "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) "
   "AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
   "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' "
   "GROUP BY supp_nation, cust_nation, l_year")
def q7_nation_volume(spark, sf):
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year. The nation dim is broadcast twice under different aliases; the
    symmetric nation-pair disjunction prunes BEFORE the fact join (each
    side's nation filter reaches its dimension scan), so the big
    lineitem⋈orders join only carries rows from the two nations."""
    n1 = F.broadcast(table(spark, sf, "nation")
                     .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
                     .select(F.col("n_nationkey").alias("s_nationkey"),
                             F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(table(spark, sf, "nation")
                     .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
                     .select(F.col("n_nationkey").alias("c_nationkey"),
                             F.col("n_name").alias("cust_nation")))
    supp = F.broadcast(table(spark, sf, "supplier")
                       .select("s_suppkey", "s_nationkey").join(n1, "s_nationkey"))
    cust = table(spark, sf, "customer") \
        .select("c_custkey", "c_nationkey").join(F.broadcast(n2), "c_nationkey")
    li = (table(spark, sf, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
                  & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")))
          .select("l_orderkey", "l_suppkey", "l_shipdate",
                  "l_extendedprice", "l_discount"))
    orders = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    joined = (li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
                .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
                .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
                .filter(((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
                        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))))
    return (joined.groupBy("supp_nation", "cust_nation",
                           F.year("l_shipdate").cast("int").alias("l_year"))
            .agg(F.sum(_disc_price()).cast("double").alias("revenue")))


@q("q8_market_share",
   "SELECT o_year, CAST("
   f"SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE CAST(0 AS DECIMAL(18,4)) END)"
   " AS DOUBLE) / CAST(SUM(volume) AS DOUBLE) AS mkt_share "
   "FROM (SELECT CAST(year(o_orderdate) AS INT) AS o_year, "
   f"{_DISC_PRICE} AS volume, n2.n_name AS nation "
   "FROM part JOIN lineitem ON p_partkey = l_partkey "
   "JOIN supplier ON s_suppkey = l_suppkey "
   "JOIN orders ON l_orderkey = o_orderkey "
   "JOIN customer ON o_custkey = c_custkey "
   "JOIN nation n1 ON c_nationkey = n1.n_nationkey "
   "JOIN region ON n1.n_regionkey = r_regionkey "
   "JOIN nation n2 ON s_nationkey = n2.n_nationkey "
   "WHERE r_name = 'ASIA' AND p_type = 'ECONOMY' "
   "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
   "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') "
   "GROUP BY o_year")
def q8_market_share(spark, sf):
    """TPC-H Q8 shape: national market share inside a region. Seven-way
    star join where every dimension (part filtered on type, customer's
    nation→region chain filtered on region, supplier's nation) broadcasts;
    only lineitem⋈orders shuffles. The share is a conditional decimal sum
    over the same decimal total, divided in double on both engines."""
    part = F.broadcast(table(spark, sf, "part")
                       .filter(F.col("p_type") == "ECONOMY").select("p_partkey"))
    n_r = F.broadcast(
        table(spark, sf, "nation")
        .join(table(spark, sf, "region").filter(F.col("r_name") == "ASIA"),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("c_nationkey")))
    cust = F.broadcast(table(spark, sf, "customer")
                       .select("c_custkey", "c_nationkey").join(n_r, "c_nationkey"))
    supp_nation = F.broadcast(
        table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
        .join(table(spark, sf, "nation")
              .select(F.col("n_nationkey").alias("s_nationkey"),
                      F.col("n_name").alias("nation")), "s_nationkey"))
    orders = (table(spark, sf, "orders")
              .filter((F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
                      & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")))
              .select("o_orderkey", "o_custkey", "o_orderdate"))
    li = table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
    joined = (li.join(part, F.col("l_partkey") == F.col("p_partkey"))
                .join(supp_nation, F.col("l_suppkey") == F.col("s_suppkey"))
                .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
                .join(cust, F.col("o_custkey") == F.col("c_custkey")))
    vol = _disc_price()
    nat_vol = F.when(F.col("nation") == "NATION_3", vol) \
               .otherwise(F.lit(0).cast("decimal(18,4)"))
    return (joined.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
            .agg((F.sum(nat_vol).cast("double")
                  / F.sum(vol).cast("double")).alias("mkt_share")))


@q("q15_top_supplier",
   "WITH revenue AS (SELECT l_suppkey AS supplier_no, "
   f"{sql_dsum(_DISC_PRICE, 4)} AS total_revenue "
   "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
   "AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00' GROUP BY l_suppkey) "
   "SELECT s_suppkey, s_name, total_revenue FROM supplier "
   "JOIN revenue ON s_suppkey = supplier_no "
   "WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)")
def q15_top_supplier(spark, sf):
    """TPC-H Q15 shape: a revenue view reused twice — once aggregated to
    its max (a single broadcast row), once equality-joined against that
    max. The view is computed once and cached-by-plan (Spark reuses the
    exchange); revenue is decimal-exact so the max-equality is
    deterministic cross-engine."""
    li = (table(spark, sf, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
                  & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))))
    revenue = (li.groupBy(F.col("l_suppkey").alias("supplier_no"))
               .agg(F.sum(_disc_price()).cast("double").alias("total_revenue")))
    max_rev = revenue.agg(F.max("total_revenue").alias("__max"))
    supp = F.broadcast(table(spark, sf, "supplier")
                       .select("s_suppkey", "s_name"))
    return (revenue.crossJoin(F.broadcast(max_rev))
            .filter(F.col("total_revenue") == F.col("__max"))
            .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name", "total_revenue"))


@q("q19_disjunctive_revenue",
   f"SELECT {sql_dsum(_DISC_PRICE, 4)} AS revenue, COUNT(*) AS n_lines "
   "FROM lineitem JOIN part ON p_partkey = l_partkey "
   "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 "
   "       AND l_quantity >= 1 AND l_quantity <= 20) "
   "OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 25 "
   "       AND l_quantity >= 10 AND l_quantity <= 30) "
   "OR (p_brand = 'Brand#3' AND p_size BETWEEN 26 AND 50 "
   "       AND l_quantity >= 20 AND l_quantity <= 40)")
def q19_disjunctive_revenue(spark, sf):
    """TPC-H Q19 shape: OR-of-ANDs across both join sides (container/
    shipmode predicates adapted to brand/size — the synthetic part table
    has no p_container). The per-side conjunct unions push to each scan
    (brand∈{1,2,3} on part, quantity∈[1,40] on lineitem) while the full
    disjunction evaluates after the broadcast join — the same split
    Catalyst derives for the original Q19."""
    li = (table(spark, sf, "lineitem")
          .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount"))
    part = F.broadcast(table(spark, sf, "part")
                       .select("p_partkey", "p_brand", "p_size"))
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 10)
         & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(11, 25)
           & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(26, 50)
           & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 40)))
    return joined.filter(cond).agg(
        F.sum(_disc_price()).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"))


@q("q21_waiting_supplier",
   "SELECT s_name, COUNT(*) AS numwait "
   "FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey "
   "JOIN orders ON o_orderkey = l1.l_orderkey "
   "JOIN nation ON s_nationkey = n_nationkey "
   "WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R' "
   "AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3') "
   "AND EXISTS (SELECT 1 FROM lineitem l2 "
   "  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) "
   "AND NOT EXISTS (SELECT 1 FROM lineitem l3 "
   "  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey "
   "  AND l3.l_returnflag = 'R') "
   "GROUP BY s_name ORDER BY numwait DESC, s_name ASC LIMIT 20")
def q21_waiting_supplier(spark, sf):
    """TPC-H Q21 shape: the double-correlated EXISTS / NOT EXISTS over the
    fact table ("another supplier touched this order" / "no OTHER supplier
    failed it"), with 'failed' adapted to l_returnflag='R' (no
    commit/receipt dates in the synthetic schema). Decorrelated the way a
    1000-executor plan must be: ONE extra aggregation of lineitem per
    order (distinct suppliers, distinct R-flag suppliers) equi-joined
    back — never a per-row rescan of the fact. EXISTS(other supplier) ⇔
    n_supp ≥ 2; NOT EXISTS(other R supplier) ⇔ the R-supplier set is
    exactly {l1.l_suppkey}, i.e. n_r_supp = 1 given l1 is itself R."""
    li = table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag")
    per_order = (li.groupBy("l_orderkey")
                 .agg(F.countDistinct("l_suppkey").alias("__n_supp"),
                      F.countDistinct(
                          F.when(F.col("l_returnflag") == "R",
                                 F.col("l_suppkey"))).alias("__n_r_supp")))
    orders = (table(spark, sf, "orders")
              .filter(F.col("o_orderstatus") == "F")
              .select(F.col("o_orderkey").alias("l_orderkey")))
    supp = F.broadcast(
        table(spark, sf, "supplier").select("s_suppkey", "s_nationkey", "s_name")
        .join(table(spark, sf, "nation")
              .filter(F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))
              .select(F.col("n_nationkey").alias("s_nationkey")), "s_nationkey"))
    l1 = (li.filter(F.col("l_returnflag") == "R")
          .join(orders, "l_orderkey", "left_semi")
          .join(per_order, "l_orderkey")
          .filter((F.col("__n_supp") >= 2) & (F.col("__n_r_supp") == 1))
          .join(supp, F.col("l_suppkey") == F.col("s_suppkey")))
    agg = l1.groupBy("s_name").agg(F.count(F.lit(1)).alias("numwait"))
    return topk(agg, [F.col("numwait").desc(), F.col("s_name").asc()], 20)


@q("q12_priority_lines",
   "SELECT l_linestatus, "
   "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
   "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
   "CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') "
   "THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count "
   "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
   "WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY "
   "AND year(l_shipdate) = 1995 GROUP BY 1")
def q12_priority_lines(spark, sf):
    """TPC-H Q12's shape over this fixture's columns (ref Q12 needs
    l_shipmode/l_commitdate/l_receiptdate, which the synthetic lineitem
    lacks — this was the one TPC-H query with no named row): late-
    shipped lines (> 60 days after order date, one ship-year slice)
    classified by order-priority urgency per line status — the
    order-lineitem join with the spec's two complementary conditional
    counts. Fact-fact equi-join on the order key, exact integer CASE
    sums."""
    o = table(spark, sf, "orders").select("o_orderkey", "o_orderdate",
                                          "o_orderpriority")
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate",
                                             "l_linestatus")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = (o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
          .filter((F.col("l_shipdate")
                   > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
                  & (F.year("l_shipdate") == 1995)))
    return (j.groupBy("l_linestatus")
             .agg(F.sum(urgent.cast("int")).cast("bigint")
                   .alias("high_line_count"),
                  F.sum((~urgent).cast("int")).cast("bigint")
                   .alias("low_line_count")))


@q("orders_ship_latency",
   "WITH j AS (SELECT time_bucket(INTERVAL 1 MONTH, o_orderdate) AS mon, "
   "(epoch_us(l_shipdate) - epoch_us(o_orderdate)) // 86400000000 "
   "AS days FROM orders JOIN lineitem ON l_orderkey = o_orderkey) "
   "SELECT mon, COUNT(*) AS n_lines, "
   "CAST(SUM(days) AS BIGINT) AS sum_days, "
   "CAST(MIN(days) AS BIGINT) AS min_days, "
   "CAST(MAX(days) AS BIGINT) AS max_days, "
   "CAST(SUM(CASE WHEN days > 60 THEN 1 ELSE 0 END) AS BIGINT) "
   "AS n_late FROM j GROUP BY mon")
def orders_ship_latency(spark, sf):
    """Order-to-ship latency profile per order month — the fulfillment
    SLA rollup (and the aggregate twin of q12's late-line filter):
    whole-day latency from exact integer µs floor-division, so there is
    no float anywhere. One fact-fact equi-join on the order key, then a
    map-side-combined month rollup."""
    o = table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    days = F.floor((F.unix_micros("l_shipdate")
                    - F.unix_micros("o_orderdate")).cast("double")
                   / F.lit(86400000000.0)).cast("bigint")
    j = (o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
          .select(F.date_trunc("month", "o_orderdate").alias("mon"),
                  days.alias("days")))
    return (j.groupBy("mon")
             .agg(F.count(F.lit(1)).alias("n_lines"),
                  F.sum("days").cast("bigint").alias("sum_days"),
                  F.min("days").cast("bigint").alias("min_days"),
                  F.max("days").cast("bigint").alias("max_days"),
                  F.sum(F.when(F.col("days") > 60, 1).otherwise(0))
                   .cast("bigint").alias("n_late")))


@q("orders_gini_spend",
   "WITH s AS (SELECT o_custkey, "
   "SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sp "
   "FROM orders GROUP BY 1), "
   "r AS (SELECT sp, CAST(ROW_NUMBER() OVER (ORDER BY sp ASC, "
   "o_custkey ASC) AS BIGINT) AS i FROM s), "
   "m AS (SELECT COUNT(*) AS n, "
   "SUM(CAST(i AS DECIMAL(18,0)) * sp) AS isum, "
   "SUM(CAST(sp AS DECIMAL(38,2))) AS ssum FROM r) "
   "SELECT CAST(n AS BIGINT) AS n_customers, "
   "CAST(ssum AS DOUBLE) AS total_spend, "
   "CAST(floor((2.0 * CAST(isum AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0) "
   "* CAST(ssum AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(ssum AS DOUBLE)) "
   "* 1000000.0 + 0.5) AS BIGINT) AS gini_micro FROM m")
def orders_gini_spend(spark, sf):
    """Gini coefficient of customer lifetime spend — the inequality
    measure that complements the HHI concentration index
    (`supplier_concentration_hhi`): G = (2·Σi·sᵢ − (n+1)·Σsᵢ)/(n·Σsᵢ)
    over spend ranked ascending with a custkey tiebreak. Spend and the
    rank-weighted sum accumulate as exact DECIMAL, so only the final
    closed form touches doubles. The global rank runs over the
    per-customer AGGREGATE (dimension grain, not facts); for a
    dimension too large for one partition the range-partitioned rank of
    `dedup_sorted_neighborhood` is the drop-in replacement."""
    from pyspark.sql import Window
    from mura_spark.functions.quantize import micro
    o = table(spark, sf, "orders")
    s = (o.groupBy("o_custkey")
          .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .alias("sp")))
    w = Window.orderBy(F.col("sp").asc(), F.col("o_custkey").asc())
    r = s.select("sp", F.row_number().over(w).cast("bigint").alias("i"))
    m = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("i").cast("decimal(18,0)") * F.col("sp"))
         .alias("isum"),
        F.sum(F.col("sp").cast("decimal(38,2)")).alias("ssum"))
    nd = F.col("n").cast("double")
    gini = ((F.lit(2.0) * F.col("isum").cast("double")
             - (nd + F.lit(1.0)) * F.col("ssum").cast("double"))
            / (nd * F.col("ssum").cast("double")))
    return m.select(F.col("n").cast("bigint").alias("n_customers"),
                    F.col("ssum").cast("double").alias("total_spend"),
                    micro(gini).alias("gini_micro"))


@q("orders_priority_mix_drift",
   "WITH mc AS (SELECT time_bucket(INTERVAL 1 MONTH, o_orderdate) AS mon, "
   "o_orderpriority AS pri, COUNT(*) AS n FROM orders GROUP BY 1, 2), "
   "grid AS (SELECT m.mon, p.pri, COALESCE(mc.n, 0) AS n "
   "FROM (SELECT DISTINCT mon FROM mc) m "
   "CROSS JOIN (SELECT DISTINCT pri FROM mc) p "
   "LEFT JOIN mc ON mc.mon = m.mon AND mc.pri = p.pri), "
   "tot AS (SELECT mon, CAST(SUM(n) AS BIGINT) AS t FROM grid "
   "GROUP BY mon), "
   "lagged AS (SELECT g.mon, g.pri, g.n, t.t, "
   "lag(g.n) OVER (PARTITION BY g.pri ORDER BY g.mon) AS pn, "
   "lag(t.t) OVER (PARTITION BY g.pri ORDER BY g.mon) AS pt "
   "FROM grid g JOIN tot t ON g.mon = t.mon), "
   "cells AS (SELECT mon, t, pt, "
   "abs(CAST(n AS DECIMAL(18,0)) * pt - CAST(pn AS DECIMAL(18,0)) * t) "
   "AS num FROM lagged WHERE pn IS NOT NULL AND pt > 0 AND t > 0) "
   "SELECT mon, CAST(floor(CAST(SUM(num) AS DOUBLE) "
   "/ (2.0 * CAST(ANY_VALUE(t) AS DOUBLE) * CAST(ANY_VALUE(pt) "
   "AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS tvd_micro "
   "FROM cells GROUP BY mon")
def orders_priority_mix_drift(spark, sf):
    """Month-over-month total-variation drift of the order-priority mix —
    the categorical drift monitor (`text_tvd_by_source`'s time-series
    twin): TVD(m, m−1) = Σ|n·t′ − n′·t| / (2·t·t′) with the numerator
    accumulated as exact DECIMAL over the dense month×priority grid
    (missing cells zero-filled, so lag() pairs align), and ONE double
    division per month at the end — no float is ever summed. All windows
    and joins run over the months×priorities rollup, bounded by the
    calendar, never the fact count."""
    from pyspark.sql import Window
    from mura_spark.functions.quantize import micro
    o = table(spark, sf, "orders")
    mc = (o.groupBy(F.date_trunc("month", "o_orderdate").alias("mon"),
                    F.col("o_orderpriority").alias("pri"))
           .agg(F.count(F.lit(1)).alias("n")))
    months = mc.select("mon").distinct()
    pris = mc.select("pri").distinct()
    grid = (months.crossJoin(pris)
                  .join(mc, ["mon", "pri"], "left")
                  .select("mon", "pri", F.coalesce("n", F.lit(0))
                           .alias("n")))
    tot = grid.groupBy("mon").agg(F.sum("n").cast("bigint").alias("t"))
    wl = Window.partitionBy("pri").orderBy("mon")
    lagged = (grid.join(tot, "mon")
                  .select("mon", "pri", "n", "t",
                          F.lag("n").over(wl).alias("pn"),
                          F.lag("t").over(wl).alias("pt")))
    num = F.abs(F.col("n").cast("decimal(18,0)") * F.col("pt")
                - F.col("pn").cast("decimal(18,0)") * F.col("t"))
    cells = (lagged.where(F.col("pn").isNotNull() & (F.col("pt") > 0)
                          & (F.col("t") > 0))
                   .select("mon", "t", "pt", num.alias("num")))
    tvd = (F.sum("num").cast("double")
           / (F.lit(2.0) * F.first("t").cast("double")
              * F.first("pt").cast("double")))
    return (cells.groupBy("mon")
                 .agg(micro(tvd).alias("tvd_micro")))


# ------------------------------------------------------- round-6mm addition

@q("orders_duplicate_invoice_screen",
   "SELECT a.o_custkey, a.o_orderkey AS o1, b.o_orderkey AS o2, "
   "CAST(CAST(a.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
   "AS amount_cents, "
   "CAST(abs(CAST(a.o_orderdate AS DATE) "
   "- CAST(b.o_orderdate AS DATE)) AS BIGINT) AS days_apart "
   "FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey "
   "AND CAST(CAST(a.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
   "= CAST(CAST(b.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
   "AND a.o_orderkey < b.o_orderkey "
   "AND abs(CAST(a.o_orderdate AS DATE) - CAST(b.o_orderdate AS DATE)) "
   "<= 7")
def orders_duplicate_invoice_screen(spark, sf):
    """Duplicate-payment screen: order pairs from the same customer
    with the SAME exact amount within 7 days — the classic
    accounts-payable audit (double-submits, retry storms). The join
    key is (customer, exact cents) — an equi join; the date proximity
    is a residual filter, so no pair explosion beyond true amount
    collisions."""
    o = table(spark, sf, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100) \
        .cast("bigint")
    s = o.select("o_custkey", "o_orderkey",
                 cents.alias("__c"), F.to_date("o_orderdate").alias("__d"))
    a = s.alias("a")
    b = (s.withColumnRenamed("o_orderkey", "o2")
          .withColumnRenamed("__d", "__d2").alias("b"))
    return (a.join(b, ["o_custkey", "__c"])
             .filter((F.col("o_orderkey") < F.col("o2"))
                     & (F.abs(F.datediff("__d", "__d2")) <= 7))
             .select("o_custkey", F.col("o_orderkey").alias("o1"), "o2",
                     F.col("__c").alias("amount_cents"),
                     F.abs(F.datediff("__d", "__d2")).cast("bigint")
                      .alias("days_apart")))


@q("orders_seasonal_index",
   "WITH m AS (SELECT CAST(month(o_orderdate) AS INT) AS mon, "
   "CAST(COUNT(*) AS BIGINT) AS n, "
   "SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s FROM orders "
   "GROUP BY 1), "
   "t AS (SELECT SUM(n) AS tn, SUM(s) AS ts_ FROM m) "
   "SELECT mon, n, "
   "CAST(floor((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) "
   "/ (CAST(ts_ AS DOUBLE) / CAST(tn AS DOUBLE)) * 1000000.0 + 0.5) "
   "AS BIGINT) AS index_micro FROM m CROSS JOIN t")
def orders_seasonal_index(spark, sf):
    """Classical monthly seasonal index: each calendar month's mean
    order value relative to the overall mean (10⁶ = no seasonality) —
    the multiplicative-decomposition table a demand planner reads
    before any forecast. Exact decimal sums; two mirrored divisions
    per month row; 12-row rollup + broadcast total."""
    o = table(spark, sf, "orders")
    m = (o.groupBy(F.month("o_orderdate").cast("int").alias("mon"))
          .agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .alias("__s")))
    t = m.agg(F.sum("n").alias("__tn"), F.sum("__s").alias("__ts"))
    idx = ((F.col("__s").cast("double") / F.col("n").cast("double"))
           / (F.col("__ts").cast("double") / F.col("__tn").cast("double")))
    return (m.crossJoin(F.broadcast(t))
             .select("mon", "n",
                     F.floor(idx * F.lit(1000000.0) + F.lit(0.5))
                      .cast("bigint").alias("index_micro")))




# ------------------------------------------------------- round-6ss addition

@q("orders_revenue_bridge",
   "WITH c AS (SELECT o_orderpriority, "
   "CAST(SUM(CASE WHEN year(o_orderdate) = 1999 THEN 1 ELSE 0 END) "
   "AS BIGINT) AS n1, "
   "CAST(SUM(CASE WHEN year(o_orderdate) = 1999 THEN "
   "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
   "ELSE 0 END) AS BIGINT) AS s1, "
   "CAST(SUM(CASE WHEN year(o_orderdate) = 2000 THEN 1 ELSE 0 END) "
   "AS BIGINT) AS n2, "
   "CAST(SUM(CASE WHEN year(o_orderdate) = 2000 THEN "
   "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
   "ELSE 0 END) AS BIGINT) AS s2 "
   "FROM orders WHERE year(o_orderdate) IN (1999, 2000) GROUP BY 1) "
   "SELECT o_orderpriority, n1 AS n_prev, n2 AS n_curr, "
   "s1 AS rev_prev_cents, s2 AS rev_curr_cents, "
   "s2 - s1 AS change_cents, "
   "CASE WHEN n1 > 0 AND n2 > 0 THEN "
   "CAST(floor(CAST(n2 - n1 AS DOUBLE) * CAST(s1 AS DOUBLE) "
   "/ CAST(n1 AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) END "
   "AS volume_effect_micro, "
   "CASE WHEN n1 > 0 AND n2 > 0 THEN "
   "CAST(floor((CAST(s2 AS DOUBLE) - CAST(n2 AS DOUBLE) "
   "* CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) * 10000.0 + 0.5) "
   "AS BIGINT) END AS price_effect_micro FROM c")
def orders_revenue_bridge(spark, sf):
    """Year-over-year revenue bridge (the FP&A price/volume
    decomposition): per priority segment, how much of the 1999→2000
    revenue change came from order COUNT (volume effect
    (n₂−n₁)·p̄₁) vs average ticket (price effect n₂·(p̄₂−p̄₁))?
    The two effects sum to the exact change by construction. One
    conditional-aggregate groupBy (the year filter pushes to the
    scan); exact cents sums; effects are single mirrored double
    expressions, micro-floored (value units)."""
    o = table(spark, sf, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100) \
        .cast("bigint")
    y = F.year("o_orderdate")
    c = (o.filter(y.isin(1999, 2000))
          .groupBy("o_orderpriority")
          .agg(F.sum(F.when(y == 1999, 1).otherwise(0)).alias("n1"),
               F.sum(F.when(y == 1999, cents).otherwise(0)).alias("s1"),
               F.sum(F.when(y == 2000, 1).otherwise(0)).alias("n2"),
               F.sum(F.when(y == 2000, cents).otherwise(0)).alias("s2")))
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    both = (F.col("n1") > 0) & (F.col("n2") > 0)
    vol = F.floor((F.col("n2") - F.col("n1")).cast("double") * s1d
                  / n1d * F.lit(10000.0) + F.lit(0.5)).cast("bigint")
    price = F.floor((s2d - n2d * s1d / n1d) * F.lit(10000.0)
                    + F.lit(0.5)).cast("bigint")
    return c.select(
        "o_orderpriority",
        F.col("n1").alias("n_prev"), F.col("n2").alias("n_curr"),
        F.col("s1").alias("rev_prev_cents"),
        F.col("s2").alias("rev_curr_cents"),
        (F.col("s2") - F.col("s1")).alias("change_cents"),
        F.when(both, vol).alias("volume_effect_micro"),
        F.when(both, price).alias("price_effect_micro"))


@q("orders_deseasonalized_growth",
   "WITH m AS (SELECT year(o_orderdate) AS yr, "
   "month(o_orderdate) AS mon, "
   "SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) "
   "AS rev FROM orders GROUP BY 1, 2), "
   "idx AS (SELECT mon, CAST(floor(CAST(SUM(rev) AS DOUBLE) "
   "/ COUNT(*) / (SELECT CAST(SUM(rev) AS DOUBLE) / COUNT(*) FROM m) "
   "* 1000000.0 + 0.5) AS BIGINT) AS index_micro FROM m GROUP BY 1), "
   "adj AS (SELECT m.yr, m.mon, m.rev, idx.index_micro, "
   "CAST(floor(CAST(m.rev AS DOUBLE) * 1000000.0 "
   "/ CAST(idx.index_micro AS DOUBLE) + 0.5) AS BIGINT) AS adj_cents "
   "FROM m JOIN idx ON m.mon = idx.mon), "
   "g AS (SELECT yr, mon, rev, index_micro, adj_cents, "
   "LAG(adj_cents) OVER (ORDER BY yr, mon) AS prev FROM adj) "
   "SELECT CAST(yr AS INT) AS yr, CAST(mon AS INT) AS mon, "
   "CAST(rev AS BIGINT) AS rev_cents, index_micro, adj_cents, "
   "CASE WHEN prev > 0 THEN CAST(floor((CAST(adj_cents AS DOUBLE) "
   "/ CAST(prev AS DOUBLE) - 1.0) * 1000000.0 + 0.5) AS BIGINT) END "
   "AS growth_micro FROM g")
def orders_deseasonalized_growth(spark, sf):
    """Seasonally-adjusted month-over-month growth: divide each
    month's revenue by its multiplicative seasonal index (month mean /
    grand mean — the orders_seasonal_index statistic) before computing
    growth, so December doesn't read as a boom and January as a crash.
    Two quantize-once divisions per month; growth on the adjusted
    integer series."""
    from pyspark.sql import Window
    o = table(spark, sf, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100) \
        .cast("bigint")
    m = (o.groupBy(F.year("o_orderdate").alias("yr"),
                   F.month("o_orderdate").alias("mon"))
          .agg(F.sum(cents).alias("rev")))
    grand = m.agg((F.sum("rev").cast("double")
                   / F.count(F.lit(1))).alias("g"))
    idx = (m.crossJoin(F.broadcast(grand))
            .groupBy("mon")
            .agg(F.floor(F.sum("rev").cast("double") / F.count(F.lit(1))
                         / F.first("g") * F.lit(1000000.0) + F.lit(0.5))
                  .cast("bigint").alias("index_micro")))
    adj = (m.join(F.broadcast(idx), "mon")
            .select("yr", "mon", "rev", "index_micro",
                    F.floor(F.col("rev").cast("double")
                            * F.lit(1000000.0)
                            / F.col("index_micro").cast("double")
                            + F.lit(0.5)).cast("bigint")
                     .alias("adj_cents")))
    w = Window.orderBy("yr", "mon")
    g = adj.withColumn("prev", F.lag("adj_cents").over(w))
    growth = (F.floor((F.col("adj_cents").cast("double")
                       / F.col("prev").cast("double") - F.lit(1.0))
                      * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    return g.select(F.col("yr").cast("int").alias("yr"),
                    F.col("mon").cast("int").alias("mon"),
                    F.col("rev").alias("rev_cents"),
                    "index_micro", "adj_cents",
                    F.when(F.col("prev") > 0, growth)
                     .alias("growth_micro"))


@q("parts_price_dispersion_topk",
   "WITH up AS (SELECT l_partkey, "
   "CAST(floor(CAST(l_extendedprice AS DOUBLE) "
   "/ CAST(l_quantity AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS u "
   "FROM lineitem WHERE l_quantity > 0), "
   "m AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_lines, "
   "CAST(SUM(CAST(u AS DECIMAL(38,0))) AS DOUBLE) AS s, "
   "CAST(SUM(CAST(u AS DECIMAL(19,0)) * CAST(u AS DECIMAL(19,0))) "
   "AS DOUBLE) AS q FROM up GROUP BY 1), "
   "c AS (SELECT l_partkey, n_lines, "
   "CAST(floor(s / CAST(n_lines AS DOUBLE) + 0.5) AS BIGINT) "
   "AS mean_unit_micro, "
   "CASE WHEN n_lines > 1 AND s > 0.0 "
   "AND q - s * s / CAST(n_lines AS DOUBLE) > 0.0 THEN "
   "CAST(floor(sqrt((q - s * s / CAST(n_lines AS DOUBLE)) "
   "/ CAST(n_lines - 1 AS DOUBLE)) / (s / CAST(n_lines AS DOUBLE)) "
   "* 1000000.0 + 0.5) AS BIGINT) ELSE CAST(0 AS BIGINT) END "
   "AS cv_micro FROM m) "
   "SELECT l_partkey, n_lines, mean_unit_micro, cv_micro FROM c "
   "WHERE n_lines >= 3 ORDER BY cv_micro DESC, l_partkey ASC LIMIT 20")
def parts_price_dispersion_topk(spark, sf):
    """Pricing-integrity screen: the 20 parts (≥3 lines) whose unit
    price varies most (coefficient of variation of per-line
    extendedprice/quantity) — inconsistent pricing is either a
    discount policy or a data bug, and this ranks where to look.
    Per-row unit price micro-quantized once; exact decimal moments
    per part; top-k with unique-key tiebreak."""
    li = table(spark, sf, "lineitem").where(F.col("l_quantity") > 0)
    u = (F.floor(F.col("l_extendedprice").cast("double")
                 / F.col("l_quantity").cast("double")
                 * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    up = li.select("l_partkey", u.alias("u"))
    m = up.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("u").cast("decimal(38,0)")).cast("double")
         .alias("s"),
        F.sum(F.col("u").cast("decimal(19,0)")
              * F.col("u").cast("decimal(19,0)")).cast("double")
         .alias("q"))
    nD = F.col("n_lines").cast("double")
    mean = F.col("s") / nD
    varn = F.col("q") - F.col("s") * F.col("s") / nD
    cv = (F.sqrt(varn / (F.col("n_lines") - F.lit(1)).cast("double"))
          / mean)
    ok = (F.col("n_lines") > 1) & (F.col("s") > 0) & (varn > 0)
    c = m.select(
        "l_partkey", "n_lines",
        F.floor(mean + F.lit(0.5)).cast("bigint")
         .alias("mean_unit_micro"),
        F.when(ok, F.floor(cv * F.lit(1000000.0) + F.lit(0.5))
                    .cast("bigint"))
         .otherwise(F.lit(0).cast("bigint")).alias("cv_micro"))
    return (c.filter(F.col("n_lines") >= 3)
             .orderBy(F.desc("cv_micro"), F.asc("l_partkey"))
             .limit(20))


@q("orders_churn_risk_flags",
   "WITH ref AS (SELECT MAX(o_orderdate) AS mx FROM orders), "
   "g AS (SELECT o_custkey, "
   "epoch_us(o_orderdate) - epoch_us(LAG(o_orderdate) OVER "
   "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) "
   "AS gap_us, o_orderdate FROM orders), "
   "last AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders, "
   "MAX(o_orderdate) AS last_dt FROM g GROUP BY 1), "
   "gr AS (SELECT o_custkey, gap_us, ROW_NUMBER() OVER "
   "(PARTITION BY o_custkey ORDER BY gap_us) AS rn, "
   "COUNT(*) OVER (PARTITION BY o_custkey) AS m FROM g "
   "WHERE gap_us IS NOT NULL), "
   "med AS (SELECT o_custkey, CAST(MIN(gap_us) AS BIGINT) AS med_gap "
   "FROM gr WHERE rn >= (m + 1) // 2 GROUP BY 1) "
   "SELECT l.o_custkey, l.n_orders, med.med_gap AS median_gap_us, "
   "CAST(epoch_us(ref.mx) - epoch_us(l.last_dt) AS BIGINT) "
   "AS idle_us, "
   "CAST(epoch_us(ref.mx) - epoch_us(l.last_dt) > 2 * med.med_gap "
   "AS INT) AS churn_risk "
   "FROM last l JOIN med ON l.o_custkey = med.o_custkey "
   "CROSS JOIN ref WHERE l.n_orders >= 3")
def orders_churn_risk_flags(spark, sf):
    """Per-customer churn-risk dormancy flag: idle time since the last
    order exceeding 2× the customer's OWN median inter-order gap —
    the personalized reactivation trigger (a global cutoff punishes
    naturally infrequent buyers). Customer-keyed lag window; median
    gap by in-group rank selection (exact, no interpolation);
    broadcast max-date reference; ≥3 orders so the median means
    something."""
    from pyspark.sql import Window
    o = table(spark, sf, "orders")
    ref = o.agg(F.max("o_orderdate").alias("mx"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate",
                                                "o_orderkey")
    g = o.select("o_custkey", "o_orderdate",
                 (F.unix_micros("o_orderdate")
                  - F.unix_micros(F.lag("o_orderdate").over(w)))
                 .alias("gap_us"))
    last = g.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max("o_orderdate").alias("last_dt"))
    wg = Window.partitionBy("o_custkey").orderBy("gap_us")
    gr = (g.filter(F.col("gap_us").isNotNull())
           .select("o_custkey", "gap_us",
                   F.row_number().over(wg).alias("rn"),
                   F.count(F.lit(1)).over(
                       Window.partitionBy("o_custkey")).alias("m")))
    med = (gr.filter(F.col("rn") >= F.expr("(m + 1) div 2"))
             .groupBy("o_custkey")
             .agg(F.min("gap_us").cast("bigint").alias("med_gap")))
    idle = F.unix_micros("mx") - F.unix_micros("last_dt")
    return (last.join(med, "o_custkey").crossJoin(F.broadcast(ref))
                .filter(F.col("n_orders") >= 3)
                .select("o_custkey", "n_orders",
                        F.col("med_gap").alias("median_gap_us"),
                        idle.cast("bigint").alias("idle_us"),
                        (idle > 2 * F.col("med_gap")).cast("int")
                         .alias("churn_risk")))
