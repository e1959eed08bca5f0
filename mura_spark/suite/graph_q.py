"""Graph-analytics queries over a part co-purchase graph derived from
lineitem (north-star extension): edge derivation, degree statistics, and
an oracle-hashable deterministic PageRank.

The co-purchase graph is the standard recommendation/centrality substrate:
nodes are parts, with an edge between two parts whenever some order
contains both. Both queries run on the same derived edge list so the
oracle pins the edge derivation too.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mura_spark.operators import graph
from mura_spark.suite.common import table

SPARK_QUERIES = {}
ORACLE_SQL = {}


def q(name, oracle=None):
    def deco(fn):
        SPARK_QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn
    return deco


_EDGES_CTE = ("edges AS (SELECT DISTINCT a.l_partkey AS src, "
              "b.l_partkey AS dst FROM lineitem a JOIN lineitem b "
              "ON a.l_orderkey = b.l_orderkey "
              "AND a.l_partkey <> b.l_partkey)")


def _copurchase_edges(spark, sf):
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    return graph.cooccurrence_edges(li, "l_orderkey", "l_partkey")


@q("graph_copurchase_degree",
   f"WITH {_EDGES_CTE} "
   "SELECT src AS node, COUNT(*) AS out_degree FROM edges GROUP BY 1")
def graph_copurchase_degree(spark, sf):
    """Degree of every part in the co-purchase graph — one self-join on
    the order key to derive edges, one map-side-combined groupBy."""
    return graph.degrees(_copurchase_edges(spark, sf))


@q("graph_pagerank_parts", graph.sql_pagerank(f"{_EDGES_CTE}", 3))
def graph_pagerank_parts(spark, sf):
    """PageRank centrality (3 power iterations, d=0.85) over the part
    co-purchase graph. Deterministic across engines and partition orders:
    contributions round once to DECIMAL(38,18) before the exact decimal
    sum (operators.graph). Per iteration: one join + one groupBy, both
    keyed on node id — the scalable Pregel shuffle pattern with no
    driver-side state."""
    return graph.pagerank(_copurchase_edges(spark, sf), iterations=3)


@q("graph_assoc_rules",
   "WITH base AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i "
   "FROM lineitem), "
   "supp AS (SELECT i, COUNT(*) AS s FROM base GROUP BY 1), "
   "pairs AS (SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS supp_pair "
   "FROM base a JOIN base b ON a.g = b.g AND a.i <> b.i "
   "GROUP BY 1, 2 HAVING COUNT(*) >= 3), "
   "tot AS (SELECT COUNT(DISTINCT g) AS total FROM base) "
   "SELECT item_a, item_b, supp_pair, "
   "CAST(supp_pair AS DOUBLE) / sa.s AS confidence, "
   "CAST(supp_pair AS DOUBLE) * tot.total / sa.s / sb.s AS lift "
   "FROM pairs, tot "
   "JOIN supp sa ON pairs.item_a = sa.i "
   "JOIN supp sb ON pairs.item_b = sb.i")
def graph_assoc_rules(spark, sf):
    """Market-basket association rules (confidence + lift) over order
    baskets, min pair-support 3 (operators.graph.association_rules) —
    bounded-fanout basket self-join, broadcast item supports, exact
    integer counts with deterministic ratio arithmetic."""
    from mura_spark.operators.graph import association_rules
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    return (association_rules(li, "l_orderkey", "l_partkey", min_support=3)
            .withColumnRenamed("item_a", "item_a"))


# ------------------------------------------------------- round-5u addition

#: {mat} lets the DuckDB twin pin the edge CTE with AS MATERIALIZED
#: (the engine otherwise re-derives it per recursion round — the same
#: re-evaluation trap sql_kcore documents); the Spark side gets the
#: equivalent by checkpointing the edge list BEFORE the recursive query.
#: {hint} steers the per-iteration physical join of the recursive
#: member on the Spark side only (the oracle formats it empty, keeping
#: the DuckDB string byte-identical). Hints are semantics-free.
_BFS_SQL = (
    "WITH RECURSIVE "
    "s AS (SELECT MIN(src) AS root FROM {edges}), "
    "walk(node, depth) AS ("
    "SELECT root, 0 FROM s "
    "UNION ALL "
    "SELECT {hint}DISTINCT e.dst, w.depth + 1 FROM walk w "
    "JOIN {edges} e ON e.src = w.node WHERE w.depth < 3) "
    "SELECT node, CAST(MIN(depth) AS BIGINT) AS depth "
    "FROM walk GROUP BY node")

_BFS_EDGES = ("(SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst "
              "FROM lineitem a JOIN lineitem b "
              "ON a.l_orderkey = b.l_orderkey "
              "AND a.l_partkey <> b.l_partkey)")


_BFS_ORACLE = ("WITH RECURSIVE e AS MATERIALIZED " + _BFS_EDGES + ", "
               + _BFS_SQL.format(edges="e", hint="")
                 .replace("WITH RECURSIVE ", "", 1))


@q("graph_bfs_reach", _BFS_ORACLE)
def graph_bfs_reach(spark, sf):
    """Depth-limited BFS (≤ 3 hops) from the lowest part key over the
    co-purchase graph, via an actual WITH RECURSIVE CTE — the recursive
    SQL surface (new in Spark 4) run as-is on both engines; min-depth
    aggregation after the walk makes path multiplicity irrelevant to
    the result. A per-step DISTINCT caps each level at |V| rows (the
    raw path count explodes past Spark's recursion row limit), and the
    edge list is materialized ONCE before the recursion — eager
    localCheckpoint here (the pagerank pattern), AS MATERIALIZED in the
    twin — so neither engine re-runs the lineitem self-join per round.
    The UNBOUNDED scale form of reachability is the iterative semi-join
    with per-round frontier dedup (the graph_kcore_prune /
    dedup_clusters loop), which this query's SQL-parity twin
    deliberately is not."""
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    edges = (graph.cooccurrence_edges(li, "l_orderkey", "l_partkey")
                  .localCheckpoint(eager=True))
    edges.createOrReplaceTempView("__mura_bfs_edges")
    # SHUFFLE_HASH(w): hash-build the (small) frontier, stream the
    # edges — measured idle, 5-trial interleaved medians at sf0.1:
    # no hint 4.94 s (the per-iteration replan against the
    # localCheckpoint's carried under-estimate broadcasts the EDGE
    # list), SHUFFLE_HASH(w) 2.18 s, BROADCAST(w) 1.33 s but rejected:
    # a forced frontier broadcast is bounded only by |V| — wrong at
    # 100 TB; shuffle-hash stays partition-bounded at any graph size
    # (OPTIMIZATION_r10.md change 10).
    return spark.sql(_BFS_SQL.format(
        edges="__mura_bfs_edges", hint="/*+ SHUFFLE_HASH(w) */ "))


# ------------------------------------------------------- round-5ff addition

_LPA_ROUND = (
    "{out} AS (SELECT src AS node, lbl FROM ("
    "SELECT e.src, l.lbl, "
    "ROW_NUMBER() OVER (PARTITION BY e.src "
    "ORDER BY COUNT(*) DESC, l.lbl ASC) AS rnk "
    "FROM e JOIN {prev} l ON l.node = e.dst GROUP BY e.src, l.lbl) "
    "WHERE rnk = 1)")

#: self-loops included: a node votes for its OWN current label too —
#: the standard LPA variant that breaks the 2-node/bipartite label
#: oscillation synchronous updates otherwise produce
_LPA_ORACLE = (
    "WITH eb AS MATERIALIZED " + _BFS_EDGES + ", "
    "e AS MATERIALIZED (SELECT src, dst FROM eb "
    "UNION SELECT src, src FROM eb), "
    "l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e), "
    + _LPA_ROUND.format(out="l1", prev="l0") + ", "
    + _LPA_ROUND.format(out="l2", prev="l1") + " "
    "SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes "
    "FROM l2 GROUP BY 1")


@q("graph_label_propagation", _LPA_ORACLE)
def graph_label_propagation(spark, sf):
    """Two synchronous rounds of label propagation over the co-purchase
    graph (labels seeded with node ids; each round every node adopts
    the MAJORITY label among its neighbors AND itself (the self-vote
    breaks synchronous LPA's bipartite oscillation), ties to the
    smallest label — fully deterministic, unlike classic randomized
    LPA), then
    the community-size histogram. Per round: one edge-keyed join + one
    count groupBy + one ranked window — the Pregel shuffle pattern;
    the edge list materializes ONCE (eager localCheckpoint /
    AS MATERIALIZED) like pagerank/BFS."""
    from pyspark.sql import Window
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    base = graph.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    edges = (base.union(base.select("src")
                            .distinct()
                            .select("src", F.col("src").alias("dst")))
                 .localCheckpoint(eager=True))
    labels = edges.select(F.col("src").alias("node")).distinct() \
                  .select("node", F.col("node").alias("lbl"))
    for _ in range(2):
        # shuffle_hash: same rationale as operators.graph.
        # label_propagation — the checkpointed edges' carried size
        # underestimate otherwise flips each round to a broadcast
        # label build (A/B: 7.0 s → 2.0 s for the 2 rounds at sf0.1)
        votes = (edges.join(labels.withColumnRenamed("node", "dst")
                                  .hint("shuffle_hash"),
                            "dst")
                      .groupBy(F.col("src").alias("node"), "lbl")
                      .agg(F.count(F.lit(1)).alias("__n")))
        w = (Window.partitionBy("node")
                   .orderBy(F.col("__n").desc(), F.col("lbl").asc()))
        labels = (votes.withColumn("__rnk", F.row_number().over(w))
                       .filter(F.col("__rnk") == 1)
                       .select("node", "lbl"))
    return (labels.groupBy(F.col("lbl").alias("community"))
                  .agg(F.count(F.lit(1)).alias("n_nodes")))


@q("graph_adamic_adar",
   f"WITH {_EDGES_CTE}, "
   "deg AS (SELECT src AS z, COUNT(*) AS d FROM edges GROUP BY 1), "
   "zok AS (SELECT z, d FROM deg WHERE d <= 64), "
   "cand AS (SELECT e1.src AS u, e2.dst AS v, e1.dst AS z FROM edges e1 "
   "JOIN zok ON zok.z = e1.dst "
   "JOIN edges e2 ON e1.dst = e2.src AND e1.src < e2.dst), "
   "nonadj AS (SELECT c.u, c.v, c.z FROM cand c LEFT JOIN edges e "
   "ON e.src = c.u AND e.dst = c.v WHERE e.src IS NULL), "
   "scored AS (SELECT u, v, COUNT(*) AS n_common, "
   "CAST(SUM(CAST(floor(1.0 / ln(CAST(d AS DOUBLE)) * 1000000000.0 "
   "+ 0.5) AS BIGINT)) AS BIGINT) AS aa_nano "
   "FROM nonadj JOIN zok ON zok.z = nonadj.z GROUP BY 1, 2) "
   "SELECT u, v, n_common, aa_nano FROM scored "
   "ORDER BY aa_nano DESC, u ASC, v ASC LIMIT 20")
def graph_adamic_adar(spark, sf):
    """Adamic-Adar link prediction over the co-purchase graph: for
    NON-adjacent part pairs, Σ 1/ln(deg(z)) over common neighbors z —
    the classic who-should-be-linked score that down-weights hub
    intermediaries (a z connected to everything says nothing). Every
    common neighbor has degree ≥ 2 by construction, so ln(d) > 0.
    Common neighbors are restricted to degree ≤ 64 BEFORE the two-hop
    join — the standard hub cut (AA already discounts a d=64 hub to
    1/ln 64 ≈ 0.24, so the cap trims near-noise terms) and the scale
    guarantee: candidate volume is Σ_{d(z)≤64} d(z)² ≤ 64·|E|, linear
    in edges instead of quadratic in hub degree (measured 19s → 2s at
    sf0.01). The anti-join removes existing edges; per-neighbor terms
    quantize to nano before the integer sum; top-20 under a
    (score, u, v) total order."""
    from pyspark.sql import functions as F
    from mura_spark.functions.quantize import micro
    e = _copurchase_edges(spark, sf)
    deg = e.groupBy(F.col("src").alias("z")).agg(
        F.count(F.lit(1)).alias("d"))
    zok = deg.where(F.col("d") <= 64)
    e1 = e.select(F.col("src").alias("u"), F.col("dst").alias("z"))
    # shuffle_hash on the |E|-sized sides of the two-hop join and the
    # adjacency anti-join: the basket-local explode's carried size
    # under-estimate otherwise makes Catalyst BROADCAST the edge list
    # (the pagerank/BFS/LPA mechanism) — a |E|-bounded build that is both
    # the local loser (interleaved A/B at sf0.1, 5 trials: median
    # 6.06 → 4.18 s, results identical; OPTIMIZATION_r10.md change 13)
    # and a 100 TB hazard. Hints are semantics-free.
    e2 = (e.select(F.col("src").alias("z"), F.col("dst").alias("v"))
           .hint("shuffle_hash"))
    cand = (e1.join(zok.select("z"), "z").join(e2, "z")
              .where(F.col("u") < F.col("v")))
    adj = (e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .hint("shuffle_hash"))
    nonadj = cand.join(adj, ["u", "v"], "left_anti")
    term = F.floor(F.lit(1.0) / F.log(F.col("d").cast("double"))
                   * F.lit(1000000000.0) + F.lit(0.5)).cast("bigint")
    scored = (nonadj.join(zok, "z")
                    .groupBy("u", "v")
                    .agg(F.count(F.lit(1)).alias("n_common"),
                         F.sum(term).cast("bigint").alias("aa_nano")))
    return (scored.orderBy(F.col("aa_nano").desc(), F.col("u").asc(),
                           F.col("v").asc())
                  .limit(20))


# ------------------------------------------------------- round-6dd addition

_MOD_ORACLE = (
    "WITH eb AS MATERIALIZED " + _BFS_EDGES + ", "
    "e AS MATERIALIZED (SELECT src, dst FROM eb "
    "UNION SELECT src, src FROM eb), "
    "l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e), "
    + _LPA_ROUND.format(out="l1", prev="l0") + ", "
    + _LPA_ROUND.format(out="l2", prev="l1") + ", "
    "lab AS (SELECT node, lbl FROM l2), "
    "und AS (SELECT DISTINCT least(src, dst) AS a, "
    "greatest(src, dst) AS b FROM eb WHERE src <> dst), "
    "mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und), "
    "ein AS (SELECT la.lbl AS community, COUNT(*) AS e_in FROM und "
    "JOIN lab la ON und.a = la.node JOIN lab lb2 ON und.b = lb2.node "
    "WHERE la.lbl = lb2.lbl GROUP BY 1), "
    "deg AS (SELECT node, COUNT(*) AS dg FROM (SELECT a AS node "
    "FROM und UNION ALL SELECT b FROM und) GROUP BY 1), "
    "dc AS (SELECT lbl AS community, CAST(SUM(dg) AS BIGINT) AS d_tot, "
    "CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg JOIN lab "
    "ON deg.node = lab.node GROUP BY 1) "
    "SELECT dc.community, dc.n_nodes, "
    "CAST(coalesce(ein.e_in, 0) AS BIGINT) AS e_in, d_tot, "
    "CAST(floor((CAST(coalesce(ein.e_in, 0) AS DOUBLE) "
    "/ CAST(m AS DOUBLE) - (CAST(d_tot AS DOUBLE) "
    "/ (2.0 * CAST(m AS DOUBLE))) * (CAST(d_tot AS DOUBLE) "
    "/ (2.0 * CAST(m AS DOUBLE)))) * 1000000.0 + 0.5) AS BIGINT) "
    "AS q_micro FROM dc LEFT JOIN ein ON dc.community = ein.community "
    "CROSS JOIN mm")


@q("graph_modularity", _MOD_ORACLE)
def graph_modularity(spark, sf):
    """Per-community Newman modularity Q_c = e_c/m − (d_c/2m)² of the
    deterministic-LPA communities over the co-purchase graph — the
    quality gate for any community assignment (ΣQ_c ≥ ~0.3 is 'real
    structure'); exact counts, two mirrored divisions per community
    (operators.graph.modularity on label_propagation's output)."""
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    # checkpoint the edge list ONCE: both consumers (the LPA rounds,
    # which checkpoint per round and so evaluate their input eagerly,
    # and the modularity rollup's own plan) reuse the materialized
    # edges instead of re-running the lineitem self-join per branch
    base = (graph.cooccurrence_edges(li, "l_orderkey", "l_partkey")
                 .localCheckpoint(eager=True))
    # cheap second checkpoint (scan + distinct over materialized base):
    # LPA's nested 2-round plan references its edge input several
    # times, each reference now a pure scan instead of a re-union
    with_self = (base.union(base.select("src").distinct()
                                .select("src", F.col("src").alias("dst")))
                     .localCheckpoint(eager=True))
    lab = graph.label_propagation(with_self, rounds=2)
    return graph.modularity(base, lab)


@q("graph_degree_assortativity",
   f"WITH {_EDGES_CTE}, "
   "deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d "
   "FROM edges GROUP BY 1), "
   "p AS (SELECT a.d AS dx, b.d AS dy FROM edges e "
   "JOIN deg a ON e.src = a.node JOIN deg b ON e.dst = b.node), "
   "m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges, "
   "CAST(SUM(CAST(dx AS DECIMAL(38,0))) AS DOUBLE) AS sx, "
   "CAST(SUM(CAST(dy AS DECIMAL(38,0))) AS DOUBLE) AS sy, "
   "CAST(SUM(CAST(dx AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0))) "
   "AS DOUBLE) AS sxy, "
   "CAST(SUM(CAST(dx AS DECIMAL(19,0)) * CAST(dx AS DECIMAL(19,0))) "
   "AS DOUBLE) AS sxx, "
   "CAST(SUM(CAST(dy AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0))) "
   "AS DOUBLE) AS syy FROM p) "
   "SELECT n_edges, "
   "CASE WHEN sqrt((CAST(n_edges AS DOUBLE) * sxx - sx * sx) "
   "* (CAST(n_edges AS DOUBLE) * syy - sy * sy)) > 0 THEN "
   "CAST(floor((CAST(n_edges AS DOUBLE) * sxy - sx * sy) "
   "/ sqrt((CAST(n_edges AS DOUBLE) * sxx - sx * sx) "
   "* (CAST(n_edges AS DOUBLE) * syy - sy * sy)) * 1000000.0 + 0.5) "
   "AS BIGINT) END AS assortativity_micro FROM m")
def graph_degree_assortativity(spark, sf):
    """Degree assortativity of the co-purchase graph: Pearson r of
    (deg(src), deg(dst)) over directed edges — do hubs connect to hubs
    (assortative, r>0) or to the periphery (disassortative, r<0)? The
    network-topology summary completing the degree / triangle /
    clustering-coefficient / modularity family. Degrees from one edge
    rollup, broadcast-joined back; exact decimal moments; the Pearson
    product-moment closed form (Newman's assortativity coefficient —
    NOT a rank/Spearman statistic)."""
    e = _copurchase_edges(spark, sf)
    deg = (e.groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("d")))
    p = (e.join(F.broadcast(deg.select(F.col("node").alias("src"),
                                       F.col("d").alias("dx"))), "src")
          .join(F.broadcast(deg.select(F.col("node").alias("dst"),
                                       F.col("d").alias("dy"))), "dst"))
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    m = p.agg(F.count(F.lit(1)).alias("n_edges"),
              F.sum(F.col("dx").cast("decimal(38,0)")).cast("double")
               .alias("sx"),
              F.sum(F.col("dy").cast("decimal(38,0)")).cast("double")
               .alias("sy"),
              F.sum(d19("dx") * d19("dy")).cast("double").alias("sxy"),
              F.sum(d19("dx") * d19("dx")).cast("double").alias("sxx"),
              F.sum(d19("dy") * d19("dy")).cast("double").alias("syy"))
    nD = F.col("n_edges").cast("double")
    den = F.sqrt((nD * F.col("sxx") - F.col("sx") * F.col("sx"))
                 * (nD * F.col("syy") - F.col("sy") * F.col("sy")))
    r = F.floor((nD * F.col("sxy") - F.col("sx") * F.col("sy")) / den
                * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
    return m.select("n_edges",
                    F.when(den > 0, r).alias("assortativity_micro"))


@q("graph_rich_club",
   f"WITH {_EDGES_CTE}, "
   "deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d "
   "FROM edges GROUP BY 1), "
   "dc AS (SELECT d, COUNT(*) AS k FROM deg GROUP BY 1), "
   "dn AS (SELECT SUM(k) AS n FROM dc), "
   "dcum AS (SELECT d, SUM(k) OVER (ORDER BY d) AS gc FROM dc), "
   "kt AS (SELECT (SELECT MIN(d) FROM dcum CROSS JOIN dn "
   "WHERE gc >= (n + 1) // 2) AS kstar), "
   "rich AS (SELECT node FROM deg CROSS JOIN kt WHERE d > kstar), "
   "re AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges e "
   "JOIN rich a ON e.src = a.node JOIN rich b ON e.dst = b.node), "
   "rn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM rich) "
   "SELECT (SELECT CAST(kstar AS BIGINT) FROM kt) AS k_threshold, "
   "rn.nr AS n_rich, re.m AS n_edges_rich, "
   "CASE WHEN rn.nr > 1 THEN CAST(floor(CAST(re.m AS DOUBLE) "
   "/ (CAST(rn.nr AS DOUBLE) * CAST(rn.nr - 1 AS DOUBLE)) "
   "* 1000000.0 + 0.5) AS BIGINT) END AS phi_micro "
   "FROM re CROSS JOIN rn")
def graph_rich_club(spark, sf):
    """Rich-club coefficient at the median degree: among nodes with
    above-median degree, what fraction of the possible directed edges
    actually exists? — do the hubs form their own dense club (the
    topology question assortativity answers in correlation form,
    here as a density). Median degree by exact rank selection; one
    semi-joined edge count; one terminal division."""
    from pyspark.sql import Window
    e = _copurchase_edges(spark, sf)
    deg = (e.groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("d")))
    dc = deg.groupBy("d").agg(F.count(F.lit(1)).alias("k"))
    dn = dc.agg(F.sum("k").alias("n"))
    dcum = dc.select(
        "d", F.sum("k").over(Window.orderBy("d")
                             .rowsBetween(Window.unboundedPreceding, 0))
             .alias("gc"))
    kt = (dcum.crossJoin(F.broadcast(dn))
              .filter(F.col("gc") >= F.expr("(n + 1) div 2"))
              .agg(F.min("d").alias("kstar")))
    rich = (deg.crossJoin(F.broadcast(kt))
               .filter(F.col("d") > F.col("kstar"))
               .select("node"))
    re_ = (e.join(rich.withColumnRenamed("node", "src"), "src")
            .join(rich.withColumnRenamed("node", "dst"), "dst")
            .agg(F.count(F.lit(1)).alias("m")))
    rn = rich.agg(F.count(F.lit(1)).alias("nr"))
    phi = (F.floor(F.col("m").cast("double")
                   / (F.col("nr").cast("double")
                      * (F.col("nr") - F.lit(1)).cast("double"))
                   * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    return (re_.crossJoin(F.broadcast(rn)).crossJoin(F.broadcast(kt))
               .select(F.col("kstar").cast("bigint").alias("k_threshold"),
                       F.col("nr").alias("n_rich"),
                       F.col("m").alias("n_edges_rich"),
                       F.when(F.col("nr") > 1, phi).alias("phi_micro")))
