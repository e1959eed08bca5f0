"""The five remaining TPC-H shapes (Q2, Q9, Q11, Q16, Q20) over a DERIVED
partsupp relation.

The synthetic test data ships no partsupp table, so one is derived as a
pure deterministic function of the part × supplier key domains — identical
in both engines, no data synthesized: each part gets 4 suppliers at
``(p_partkey·13 + i·29) mod |supplier|`` with integer-arithmetic
availqty/supplycost. What matters for parity is the five *plan shapes*
(correlated min-cost per part, multi-way profit join, group-share
threshold, distinct-count with NOT IN, nested semi with a correlated
quantity threshold) — the classic decorrelations, each rendered Spark-side
the way a 1000-executor plan must run them.

supplycost carries exactly 2 decimal digits by construction, so the money
determinism rules from ``suite.common`` (decimal-cast sums) apply.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mura_spark.operators.topk import topk
from mura_spark.suite.common import registry, table

SPARK_QUERIES, ORACLE_SQL, q = registry()


#: DuckDB CTE defining the derived partsupp (prepend to every oracle).
_PS = ("WITH ps0 AS (SELECT p_partkey AS ps_partkey, "
       "(p_partkey * 13 + i.i * 29) % (SELECT COUNT(*) FROM supplier) "
       "AS ps_suppkey FROM part "
       "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) i), "
       "ps AS (SELECT ps_partkey, ps_suppkey, "
       "CAST((ps_partkey * 31 + ps_suppkey * 7) % 9999 + 1 AS INT) "
       "AS ps_availqty, "
       "(ps_partkey * 37 + ps_suppkey * 17) % 20000 / 100.0 + 1.0 "
       "AS ps_supplycost FROM ps0)")


def _partsupp(spark, sf):
    """Spark rendering of the derived partsupp — same arithmetic, same
    evaluation order as the ``_PS`` CTE. The supplier count joins in as a
    broadcast single-row aggregate (bounded, like every scalar subquery
    in this suite)."""
    n_supp = table(spark, sf, "supplier").agg(
        F.count(F.lit(1)).alias("__ns"))
    ps0 = (table(spark, sf, "part").select("p_partkey")
           .crossJoin(F.broadcast(n_supp))
           .select("p_partkey", "__ns",
                   F.explode(F.array(*[F.lit(i) for i in range(4)]))
                    .alias("__i"))
           .select(F.col("p_partkey").alias("ps_partkey"),
                   ((F.col("p_partkey") * 13 + F.col("__i") * 29)
                    % F.col("__ns")).alias("ps_suppkey")))
    return ps0.select(
        "ps_partkey", "ps_suppkey",
        ((F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 7) % 9999 + 1)
        .cast("int").alias("ps_availqty"),
        ((F.col("ps_partkey") * 37 + F.col("ps_suppkey") * 17) % 20000
         / F.lit(100.0) + F.lit(1.0)).alias("ps_supplycost"))


@q("q2_min_cost_supplier",
   f"{_PS} "
   "SELECT s_acctbal, s_name, n_name, p_partkey, ps_supplycost "
   "FROM ps JOIN part ON p_partkey = ps_partkey "
   "JOIN supplier ON s_suppkey = ps_suppkey "
   "JOIN nation ON s_nationkey = n_nationkey "
   "JOIN region ON n_regionkey = r_regionkey "
   "WHERE r_name = 'EUROPE' AND p_size = 15 AND ps_supplycost = ("
   "SELECT MIN(ps2.ps_supplycost) FROM ps ps2 "
   "JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey "
   "JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey "
   "JOIN region r2 ON n2.n_regionkey = r2.r_regionkey "
   "WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE') "
   "ORDER BY s_acctbal DESC, p_partkey ASC, s_name ASC LIMIT 20")
def q2_min_cost_supplier(spark, sf):
    """TPC-H Q2 shape: cheapest in-region supplier per part. The
    correlated MIN decorrelates to ONE aggregation of the region-filtered
    partsupp + an equality join back on (part, cost) — never a per-part
    rescan. Region chain broadcasts; cost equality is exact (identical
    double derivation on both sides)."""
    ps = _partsupp(spark, sf)
    eu_supp = F.broadcast(
        table(spark, sf, "supplier")
        .join(F.broadcast(table(spark, sf, "nation")
                          .join(F.broadcast(table(spark, sf, "region")
                                            .filter(F.col("r_name") == "EUROPE")),
                                F.col("n_regionkey") == F.col("r_regionkey"))
                          .select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    eu_ps = ps.join(eu_supp, F.col("ps_suppkey") == F.col("s_suppkey"))
    min_cost = (eu_ps.groupBy("ps_partkey")
                .agg(F.min("ps_supplycost").alias("__min_cost")))
    p15 = F.broadcast(table(spark, sf, "part")
                      .filter(F.col("p_size") == 15)
                      .select("p_partkey"))
    best = (eu_ps.join(min_cost, "ps_partkey")
            .filter(F.col("ps_supplycost") == F.col("__min_cost"))
            .join(p15, F.col("ps_partkey") == F.col("p_partkey")))
    out = best.select("s_acctbal", "s_name", "n_name", "p_partkey",
                      "ps_supplycost")
    return topk(out, [F.col("s_acctbal").desc(), F.col("p_partkey").asc(),
                      F.col("s_name").asc()], 20)


_AMOUNT = ("CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * "
           "(1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) - "
           "CAST(CAST(ps_supplycost AS DECIMAL(18,2)) * "
           "CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,4)) "
           "AS DECIMAL(18,4))")


@q("q9_product_profit",
   f"{_PS} "
   "SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit FROM ("
   "SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year, "
   f"{_AMOUNT} AS amount "
   "FROM lineitem JOIN ps ON ps_partkey = l_partkey "
   "AND ps_suppkey = l_suppkey "
   "JOIN part ON p_partkey = l_partkey "
   "JOIN supplier ON s_suppkey = l_suppkey "
   "JOIN orders ON o_orderkey = l_orderkey "
   "JOIN nation ON s_nationkey = n_nationkey "
   "WHERE p_name LIKE '%bolt%') GROUP BY nation, o_year")
def q9_product_profit(spark, sf):
    """TPC-H Q9 shape: profit (revenue − supply cost) by supplier nation
    and order year over the 6-way join; the partsupp side joins on the
    composite (part, supplier) key. Dims broadcast; amount is exact
    decimal so the sum is order-independent."""
    ps = _partsupp(spark, sf)
    li = table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
    part = F.broadcast(table(spark, sf, "part")
                       .filter(F.col("p_name").like("%bolt%"))
                       .select("p_partkey"))
    supp_nat = F.broadcast(
        table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
        .join(F.broadcast(table(spark, sf, "nation")
                          .select(F.col("n_nationkey").alias("s_nationkey"),
                                  F.col("n_name").alias("nation"))),
              "s_nationkey"))
    orders = table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    joined = (li.join(part, F.col("l_partkey") == F.col("p_partkey"))
              .join(ps, (F.col("ps_partkey") == F.col("l_partkey"))
                    & (F.col("ps_suppkey") == F.col("l_suppkey")))
              .join(supp_nat, F.col("s_suppkey") == F.col("l_suppkey"))
              .join(orders, F.col("o_orderkey") == F.col("l_orderkey")))
    disc = (F.col("l_extendedprice").cast("decimal(18,2)")
            * (1 - F.col("l_discount").cast("decimal(18,2)"))
            ).cast("decimal(18,4)")
    cost = (F.col("ps_supplycost").cast("decimal(18,2)")
            * F.col("l_quantity").cast("decimal(18,2)")).cast("decimal(18,4)")
    amount = (disc - cost).cast("decimal(18,4)")
    return (joined.groupBy(F.col("nation"),
                           F.year("o_orderdate").cast("int").alias("o_year"))
            .agg(F.sum(amount).cast("double").alias("sum_profit")))


_PS_VALUE = ("CAST(SUM(CAST(CAST(ps_supplycost AS DECIMAL(18,2)) * "
             "CAST(ps_availqty AS DECIMAL(18,2)) AS DECIMAL(18,4))) "
             "AS DOUBLE)")


@q("q11_important_stock",
   f"{_PS} , nat_ps AS ("
   "SELECT ps_partkey, ps_supplycost, ps_availqty FROM ps "
   "JOIN supplier ON s_suppkey = ps_suppkey "
   "JOIN nation ON s_nationkey = n_nationkey "
   "WHERE n_name IN ('NATION_1', 'NATION_2')) "
   f"SELECT ps_partkey, {_PS_VALUE} AS stock_value FROM nat_ps "
   "GROUP BY ps_partkey "
   f"HAVING {_PS_VALUE} > ("
   f"SELECT {_PS_VALUE} * 0.001 FROM nat_ps)")
def q11_important_stock(spark, sf):
    """TPC-H Q11 shape: per-part stock value vs a fraction of the GLOBAL
    stock value — the group aggregate and the broadcast single-row global
    aggregate read the same pre-filtered frame; Catalyst reuses the
    exchange instead of scanning twice."""
    ps = _partsupp(spark, sf)
    nat_supp = F.broadcast(
        table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
        .join(F.broadcast(table(spark, sf, "nation")
                          .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
                          .select(F.col("n_nationkey").alias("s_nationkey"))),
              "s_nationkey")
        .select("s_suppkey"))
    nat_ps = ps.join(nat_supp, F.col("ps_suppkey") == F.col("s_suppkey"))
    value = F.sum((F.col("ps_supplycost").cast("decimal(18,2)")
                   * F.col("ps_availqty").cast("decimal(18,2)"))
                  .cast("decimal(18,4)")).cast("double")
    per_part = nat_ps.groupBy("ps_partkey").agg(value.alias("stock_value"))
    total = nat_ps.agg((value * F.lit(0.001)).alias("__thresh"))
    return (per_part.crossJoin(F.broadcast(total))
            .filter(F.col("stock_value") > F.col("__thresh"))
            .select("ps_partkey", "stock_value"))


@q("q16_parts_supplier_count",
   f"{_PS} "
   "SELECT p_brand, p_type, p_size, "
   "COUNT(DISTINCT ps_suppkey) AS supplier_cnt "
   "FROM ps JOIN part ON p_partkey = ps_partkey "
   "WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' "
   "AND p_size IN (1, 4, 9, 14, 19, 24, 28, 35) "
   "AND ps_suppkey NOT IN ("
   "SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) "
   "GROUP BY p_brand, p_type, p_size")
def q16_parts_supplier_count(spark, sf):
    """TPC-H Q16 shape: distinct supplier count per part group, excluding
    a NOT-IN supplier set (left-anti join — NOT IN is safe here because
    s_suppkey is never null). Part filters push to the scan; the
    excluded-supplier set broadcasts."""
    ps = _partsupp(spark, sf)
    part = F.broadcast(
        table(spark, sf, "part")
        .filter((F.col("p_brand") != "Brand#1")
                & (F.col("p_type") != "PROMO")
                & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 28, 35))
        .select("p_partkey", "p_brand", "p_type", "p_size"))
    bad_supp = (table(spark, sf, "supplier")
                .filter(F.col("s_acctbal") < 0)
                .select(F.col("s_suppkey").alias("ps_suppkey")))
    return (ps.join(part, F.col("ps_partkey") == F.col("p_partkey"))
            .join(bad_supp, "ps_suppkey", "left_anti")
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.count_distinct(F.col("ps_suppkey")).alias("supplier_cnt")))


@q("q20_promotion_parts",
   f"{_PS} "
   "SELECT s_name, s_acctbal FROM supplier "
   "JOIN nation ON s_nationkey = n_nationkey "
   "WHERE n_name = 'NATION_4' AND s_suppkey IN ("
   "SELECT ps_suppkey FROM ps WHERE ps_partkey IN ("
   "SELECT p_partkey FROM part WHERE p_name LIKE 'small%') "
   "AND ps_availqty > ("
   "SELECT 0.5 * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) "
   "FROM lineitem WHERE l_partkey = ps_partkey "
   "AND l_suppkey = ps_suppkey "
   "AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
   "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'))")
def q20_promotion_parts(spark, sf):
    """TPC-H Q20 shape: suppliers holding excess stock of promotion parts.
    The correlated half-of-shipped-quantity threshold decorrelates to one
    (part, supplier)-keyed aggregation of the date-filtered fact, inner-
    joined back (SQL's NULL-threshold semantics ≡ dropping no-lineitem
    groups); the part name filter and nation filter broadcast; the outer
    IN is a left-semi join."""
    ps = _partsupp(spark, sf)
    small_parts = F.broadcast(table(spark, sf, "part")
                              .filter(F.col("p_name").like("small%"))
                              .select(F.col("p_partkey").alias("ps_partkey")))
    shipped = (table(spark, sf, "lineitem")
               .filter((F.col("l_shipdate")
                        >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
                       & (F.col("l_shipdate")
                          < F.lit("1997-01-01 00:00:00").cast("timestamp")))
               .groupBy(F.col("l_partkey").alias("ps_partkey"),
                        F.col("l_suppkey").alias("ps_suppkey"))
               .agg((F.lit(0.5) * F.sum(F.col("l_quantity")
                                        .cast("decimal(18,2)"))
                     .cast("double")).alias("__half_qty")))
    excess = (ps.join(small_parts, "ps_partkey")
              .join(shipped, ["ps_partkey", "ps_suppkey"])
              .filter(F.col("ps_availqty") > F.col("__half_qty"))
              .select(F.col("ps_suppkey").alias("s_suppkey")))
    nat = F.broadcast(table(spark, sf, "nation")
                      .filter(F.col("n_name") == "NATION_4")
                      .select("n_nationkey"))
    return (table(spark, sf, "supplier")
            .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
            .join(excess, "s_suppkey", "left_semi")
            .select("s_name", "s_acctbal"))
