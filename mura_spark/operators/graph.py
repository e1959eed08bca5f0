"""DataFrame graph analytics: co-occurrence edge derivation, degree
statistics, and PageRank by power iteration (north-star extension; the
reference has no join or iteration surface —
/root/reference/src/planner/queryplanner.rs:51).

Everything is expressed over an **edge DataFrame** ``(src, dst)`` of
directed edges — the layout that shuffles: each iteration of PageRank is
one equi-join (ranks → out-edges) plus one groupBy (contributions → dst),
both keyed on node id, which is exactly the pair of hash shuffles a
1000-executor cluster does well. No adjacency is ever collected to the
driver and no per-node Python runs; GraphX/Pregel would materialize the
same shuffle pattern.

Determinism (which makes PageRank oracle-hashable — rare for an
iterative float algorithm): per-node contributions ``rank/degree`` are
per-row IEEE doubles, truncated once to 1e-14 fixed point with
``floor(x · 1e14)`` — double multiply + floor is IEEE-identical across
engines — and summed as exact integers (order-independent). A
double→DECIMAL cast would NOT work here: DuckDB converts doubles to
decimals through double multiplication, so its low digits diverge from
exact-expansion rounding (Spark's BigDecimal path) on most values. The
1e14 scale keeps the largest truncated contribution below 2^53, so the
product is still exact in double. Each iteration is therefore a pure
function of the previous one, bit-identical everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cooccurrence_edges(df: DataFrame, group_col: str,
                       item_col: str) -> DataFrame:
    """Directed co-occurrence edges: (src, dst) for every ordered pair of
    distinct items sharing a group (both directions, deduplicated across
    groups). The classic market-basket / co-purchase graph builder.

    One groupBy on the group column collects each group's distinct item
    set (bounded: items-per-order is naturally bounded in order data —
    callers must cap pathological group sizes upstream, exactly as they
    had to for the former self-join whose fanout was the same items²),
    then a double explode emits the ordered pairs group-locally. One
    shuffle on the group key + the pair distinct — versus the self-join
    form, which additionally built/broadcast (or shuffled) a whole copy
    of the input for the join's second side (guide §2.4: remove
    shuffles outright). Measured 2.3× faster at sf0.1; null group keys
    are dropped explicitly (the inner self-join dropped them
    implicitly), null items never pair in either form.

    Planner-stats caveat: Catalyst sizes the explode output at its
    aggregated child's bytes, so this shape UNDER-estimates — and
    ``localCheckpoint`` carries that estimate into the materialized
    edge list. Iterative consumers that repeatedly join small tables
    against the checkpoint (label_propagation's rounds) must pin their
    join strategy (``hint("shuffle_hash")``) or the planner flips them
    to per-round broadcast builds, A/B-measured 3× slower.
    """
    baskets = (df.filter(F.col(group_col).isNotNull()
                         & F.col(item_col).isNotNull())
                 .select(F.col(group_col).alias("__g"),
                         F.col(item_col).alias("__i"))
                 .groupBy("__g")
                 .agg(F.collect_set("__i").alias("__items")))
    return (baskets.select(F.explode("__items").alias("src"), "__items")
                   .select("src", F.explode("__items").alias("dst"))
                   .filter(F.col("src") != F.col("dst"))
                   .select("src", "dst").distinct())


def degrees(edges: DataFrame) -> DataFrame:
    """(node, out_degree) from a directed edge list — one map-side
    combined groupBy."""
    return (edges.groupBy(F.col("src").alias("node"))
                 .agg(F.count(F.lit(1)).alias("out_degree")))


def pagerank(edges: DataFrame, iterations: int = 3,
             damping: float = 0.85,
             materialize: str | None = "local") -> DataFrame:
    """Unnormalized PageRank (the GraphX convention:
    ``rank = (1−d) + d·Σ rank(src)/deg(src)``, ranks start at 1.0) after
    a fixed number of power iterations. Output: (node, rank).

    Nodes are the distinct edge sources (in a co-occurrence graph every
    node has out-edges, so there are no dangling nodes to redistribute).
    Each iteration: join current ranks to the edge list on ``src``
    (shuffle 1), sum decimal-rounded contributions per ``dst``
    (shuffle 2), left-join back onto the node set so sink-only iterations
    keep isolated nodes at the base rank. The loop is driver-side plan
    construction only — no action runs until the caller consumes the
    result, and AQE re-plans each iteration's join strategy
    independently.

    ``materialize`` controls how the edge list — consumed by every
    iteration plus the node/degree derivations — is reused:
    ``"local"`` (default) runs the edge plan once into executor-local
    storage via ``localCheckpoint`` (measured 3.7× end-to-end vs
    recomputing a join-derived edge list per iteration; ``.persist()``
    measured *slower* than recomputing — AQE stages over
    InMemoryRelation lose pipelining, same finding as the dedup
    operators). A directory path instead uses a reliable
    ``checkpoint`` for fault-tolerant lineage truncation — the right
    choice for many-iteration runs on a real cluster, where
    executor-local checkpoint blocks are lost with their executor.
    ``None`` leaves the plan lazy (callers that pass an already-
    materialized edge table). For many iterations, additionally
    checkpoint ``ranks`` every few rounds (same playbook as
    dedup.dup_clusters); at 3–5 iterations lineage depth is fine.
    """
    # eager: a lazy checkpoint only materializes on first use, so the
    # many references inside ONE action still each recompute the plan —
    # measured no better than no checkpoint at all
    if materialize == "local":
        edges = edges.localCheckpoint(eager=True)
    elif materialize is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(materialize)
        edges = edges.checkpoint(eager=True)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    deg = degrees(edges)
    ranks = nodes.withColumn("rank", F.lit(1.0))
    base = F.lit(float(1.0 - damping))
    # shuffle_hash on the node-sized sides of both per-iteration joins:
    # the localCheckpoint'd edge list carries the basket-local explode
    # shape's size UNDER-estimate (see cooccurrence_edges), so each
    # iteration otherwise re-plans a broadcast build — measured idle,
    # interleaved 5-trial medians at sf0.1 (scripts in /tmp probes,
    # recorded in OPTIMIZATION_r10.md): no hints 8.76 s, contrib-join
    # hint 4.86 s, both hints 4.27 s; results collect()-identical.
    # Hash-building the |V|-bounded side and streaming the edges is
    # also the correct 100 TB posture (a broadcast build is not).
    for _ in range(iterations):
        contrib = (edges.join(ranks.withColumnRenamed("node", "src")
                                   .join(deg.withColumnRenamed("node", "src"),
                                         "src")
                                   .hint("shuffle_hash"),
                              "src")
                   .select(F.col("dst").alias("node"),
                           F.floor(F.col("rank") / F.col("out_degree")
                                   * F.lit(1e14))
                           .cast("decimal(38,0)").alias("__c")))
        summed = (contrib.groupBy("node")
                         .agg((F.sum("__c").cast("double") / F.lit(1e14))
                              .alias("__s"))
                         .hint("shuffle_hash"))
        ranks = (nodes.join(summed, "node", "left")
                      .select("node",
                              (base + F.lit(damping)
                               * F.coalesce(F.col("__s"), F.lit(0.0)))
                              .alias("rank")))
    return ranks


def sql_pagerank(edges_cte: str, iterations: int = 3,
                 damping: float = 0.85) -> str:
    """DuckDB rendering of :func:`pagerank` with the iterations unrolled
    as chained CTEs (standard SQL recursive CTEs cannot re-aggregate per
    step). ``edges_cte`` must define a relation ``edges(src, dst)``;
    the result selects (node, rank). Keep in lockstep with the Spark
    form — same decimal rounding, same association order.
    """
    d = repr(float(damping))
    base = repr(float(1.0 - damping))
    parts = [edges_cte,
             "nodes AS (SELECT DISTINCT src AS node FROM edges)",
             "deg AS (SELECT src AS node, COUNT(*) AS out_degree "
             "FROM edges GROUP BY 1)",
             "r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes)"]
    prev = "r0"
    for i in range(1, iterations + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst AS node, "
            f"CAST(floor(r.rank / d.out_degree * 1e14) AS HUGEINT) "
            f"AS contrib FROM edges e JOIN {prev} r ON e.src = r.node "
            f"JOIN deg d ON e.src = d.node)")
        parts.append(
            f"r{i} AS (SELECT n.node, CAST({base} AS DOUBLE) + "
            f"CAST({d} AS DOUBLE) * coalesce(CAST(s.s AS DOUBLE) / 1e14, "
            f"0.0) AS rank FROM nodes n LEFT JOIN "
            f"(SELECT node, SUM(contrib) AS s FROM c{i} GROUP BY 1) s "
            f"ON n.node = s.node)")
        prev = f"r{i}"
    return ("WITH " + ", ".join(parts)
            + f" SELECT node, rank FROM {prev}")


def association_rules(df: DataFrame, group_col: str, item_col: str,
                      min_support: int = 3) -> DataFrame:
    """Market-basket association rules over (basket, item) rows:
    (item_a, item_b, supp_pair, confidence, lift) for every ordered pair
    co-occurring in ≥ ``min_support`` baskets, where
    ``confidence = P(b | a)`` and ``lift = P(a,b) / (P(a)·P(b))``.

    Pair supports come from the same bounded basket-local pair
    generation as :func:`cooccurrence_edges` (collect_set + double
    explode — one basket shuffle, no self-join side to build); item
    supports and the basket total are groupBys over the same basket
    table, so a single exchange on the group key feeds all three. The
    basket total rides along as a broadcast single-row crossJoin (no
    driver action, no scalar collect). All counts are exact integers
    and the two ratios are fixed-association double divisions —
    deterministic and oracle-hashable. The min_support filter applies
    BEFORE the support joins, so rare-pair noise never reaches them.
    """
    # The null group stays in the basket table: item support counts its
    # (deduped) items exactly like the former SELECT DISTINCT did, and
    # the pair/total branches filter it out exactly like the former
    # inner self-join / countDistinct did — null-injected data hashes
    # identically to the DuckDB twin either way.
    baskets = (df.select(F.col(group_col).alias("__g"),
                         F.col(item_col).alias("__i"))
                 .groupBy("__g")
                 .agg(F.collect_set("__i").alias("__items")))
    supp_item = (baskets.select(F.explode("__items").alias("__i"))
                        .groupBy("__i")
                        .agg(F.count(F.lit(1)).alias("supp")))
    grouped = baskets.filter(F.col("__g").isNotNull())
    pairs = (grouped.select(F.explode("__items").alias("item_a"),
                            "__items")
                    .select("item_a", F.explode("__items").alias("item_b"))
                    .filter(F.col("item_a") != F.col("item_b"))
                    .groupBy("item_a", "item_b")
                    .agg(F.count(F.lit(1)).alias("supp_pair"))
                    .filter(F.col("supp_pair") >= min_support))
    totals = grouped.agg(F.count(F.lit(1)).alias("__total"))
    sa = supp_item.select(F.col("__i").alias("item_a"),
                          F.col("supp").alias("__sa"))
    sb = supp_item.select(F.col("__i").alias("item_b"),
                          F.col("supp").alias("__sb"))
    return (pairs.join(F.broadcast(sa), "item_a")
                 .join(F.broadcast(sb), "item_b")
                 .crossJoin(F.broadcast(totals))
                 .select("item_a", "item_b", "supp_pair",
                         (F.col("supp_pair").cast("double") / F.col("__sa"))
                         .alias("confidence"),
                         (F.col("supp_pair").cast("double")
                          * F.col("__total") / F.col("__sa")
                          / F.col("__sb")).alias("lift")))


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts ``(node, n_triangles)`` (nodes in ≥1
    triangle), via degree-ordered edge orientation — the compact-forward
    algorithm that keeps the wedge join's fanout bounded at scale.

    Why orientation matters at 100 TB: the naive wedge join (all pairs of
    neighbors per node) explodes on hub nodes — a degree-d node emits
    O(d²) wedges. Orienting every edge from its lower-(degree, id) to its
    higher-(degree, id) endpoint caps each node's *out*-degree at
    O(√|E|), so the wedge join is O(|E|^1.5) worst-case regardless of
    skew — the standard bound. Concretely:

    1. undirected unique edges via least/greatest + distinct (one shuffle);
    2. degrees: one map-side-combined groupBy over both endpoints;
    3. orient by the (degree, id) total order — a broadcast-sized join of
       degrees back onto edges (degree table = |V| rows, usually
       broadcastable; Catalyst decides);
    4. wedges (u→v, u→w) with (deg_v,v) < (deg_w,w): self-join of the
       oriented edge list on the source — bounded by orientation;
    5. close each wedge against the oriented edge (v→w): an equi-join on
       the pair, counting each triangle exactly once;
    6. explode the triangle's three corners → one final groupBy.

    Total ordering by (degree, id) makes the orientation — and therefore
    the whole computation — deterministic; counts are exact integers, so
    the output is oracle-hashable.
    """
    und = (edges.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))
                .filter(F.col("a") != F.col("b")).distinct())
    deg = (und.select(F.col("a").alias("node"))
              .unionByName(und.select(F.col("b").alias("node")))
              .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("__da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("__db"))
    keyed = und.join(da, "a").join(db, "b")
    fwd = F.struct(F.col("__da"), F.col("a")) < F.struct(F.col("__db"),
                                                        F.col("b"))
    oriented = keyed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(fwd, F.col("__db")).otherwise(F.col("__da")).alias("__dv"))
    e1 = oriented.select("u", F.col("v"), F.col("__dv"))
    # shuffle_hash on the |E|-sized sides: the basket-local explode's
    # carried size under-estimate otherwise makes Catalyst BROADCAST the
    # oriented edge list into both the wedge join and the closing join
    # (the pagerank/BFS/adamic-adar mechanism). Interleaved A/B at sf0.1
    # (OPTIMIZATION_r10.md change 14, 5 trials): median 13.5 → 7.3 s,
    # results collect()-identical. Hash-building a partition of the
    # oriented edges and streaming the wedges is also the 100 TB shape —
    # a forced |E| broadcast is not. Hints are semantics-free.
    e2 = oriented.select(F.col("u"), F.col("v").alias("w"),
                         F.col("__dv").alias("__dw")).hint("shuffle_hash")
    wedges = (e1.join(e2, "u")
                .filter(F.struct(F.col("__dv"), F.col("v"))
                        < F.struct(F.col("__dw"), F.col("w"))))
    closing = (oriented.select(F.col("u").alias("v"), F.col("v").alias("w"))
                       .hint("shuffle_hash"))
    tri = wedges.join(closing, ["v", "w"]).select("u", "v", "w")
    corners = tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
    return (corners.groupBy("node")
                   .agg(F.count(F.lit(1)).alias("n_triangles")))


def cooccurrence_edges_supported(df: DataFrame, group_col: str,
                                 item_col: str,
                                 min_support: int = 2) -> DataFrame:
    """Undirected co-occurrence edges ``(src, dst)`` with ``src < dst``,
    kept only when the pair shares ≥ ``min_support`` groups — the
    noise-filtered variant of :func:`cooccurrence_edges` for structure
    mining (triangles, communities), where support-1 pairs are mostly
    coincidence and would densify the graph ~30× (measured on the order
    data). Same bounded basket-local pair generation as
    :func:`cooccurrence_edges` (collect_set + double explode — one
    shuffle on the group key instead of a self-join's two-sided
    exchange/broadcast); the support filter is applied at the pair
    aggregate, BEFORE any downstream join sees the edges."""
    baskets = (df.filter(F.col(group_col).isNotNull()
                         & F.col(item_col).isNotNull())
                 .select(F.col(group_col).alias("__g"),
                         F.col(item_col).alias("__i"))
                 .groupBy("__g")
                 .agg(F.collect_set("__i").alias("__items")))
    return (baskets.select(F.explode("__items").alias("src"), "__items")
                   .select("src", F.explode("__items").alias("dst"))
                   .filter(F.col("src") < F.col("dst"))
                   .groupBy("src", "dst")
                   .agg(F.count(F.lit(1)).alias("__sup"))
                   .filter(F.col("__sup") >= min_support)
                   .select("src", "dst"))


def kcore_prune(edges: DataFrame, k: int, rounds: int,
                materialize: str | None = "local") -> DataFrame:
    """Iterated degree pruning toward the k-core: ``rounds`` passes of
    "drop every node with degree < k (and its edges)", returning the
    surviving ``(node, degree)`` table. With enough rounds this IS the
    k-core (the maximal subgraph of minimum degree ≥ k); a fixed round
    count keeps the operator deterministic and oracle-expressible while
    converging geometrically in practice — callers wanting the exact
    fixpoint loop until the survivor count stops changing (same
    per-round plan, driver reads one scalar per round, as dup_clusters
    does for connected components).

    Input edges may be directed/duplicated; they normalize to
    undirected-unique first. Per round: one degree groupBy + one
    semi-join of edges against surviving nodes per endpoint — all
    equi-joins keyed on node id, the Pregel shuffle pattern; nothing
    driver-side, no adjacency collection.

    ``materialize`` (same contract as :func:`pagerank`): each round
    references the previous edge set three times (degree union ×2 +
    filter), so leaving the lineage lazy re-derives the input ~3^rounds
    times — measured 7× end-to-end at sf0.01 on a join-derived edge
    list. ``"local"`` eagerly localCheckpoints each round's survivor
    set; a directory path uses reliable checkpoints; ``None`` stays
    lazy (pre-materialized inputs).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")

    def _pin(df):
        if materialize == "local":
            return df.localCheckpoint(eager=True)
        if materialize is not None:
            df.sparkSession.sparkContext.setCheckpointDir(materialize)
            return df.checkpoint(eager=True)
        return df

    e = _pin(edges.select(F.least("src", "dst").alias("a"),
                          F.greatest("src", "dst").alias("b"))
             .filter(F.col("a") != F.col("b")).distinct())
    for _ in range(rounds):
        deg = (e.select(F.col("a").alias("node"))
                .unionByName(e.select(F.col("b").alias("node")))
                .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))
        keep = deg.filter(F.col("degree") >= k).select("node")
        e = _pin(e.join(keep.withColumnRenamed("node", "a"), "a", "semi")
                  .join(keep.withColumnRenamed("node", "b"), "b", "semi"))
    return (e.select(F.col("a").alias("node"))
             .unionByName(e.select(F.col("b").alias("node")))
             .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))


def sql_kcore_prune(edges_cte: str, k: int, rounds: int) -> str:
    """DuckDB rendering of :func:`kcore_prune` with the rounds unrolled
    as chained CTEs (same pattern as :func:`sql_pagerank`).
    ``edges_cte`` must define ``edges(src, dst)``.

    Every per-round CTE is marked AS MATERIALIZED: each round references
    its predecessor three times (twice in the degree union, once in the
    filter), so DuckDB's default CTE inlining would re-evaluate the whole
    chain ~3^rounds times — materialization keeps it linear, mirroring
    what Spark's per-round shuffles do naturally."""
    parts = [edges_cte,
             "e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, "
             "greatest(src, dst) AS b FROM edges WHERE src <> dst)"]
    prev = "e0"
    for i in range(1, rounds + 1):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT node, COUNT(*) AS degree FROM "
            f"(SELECT a AS node FROM {prev} "
            f"UNION ALL SELECT b AS node FROM {prev}) GROUP BY 1)")
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT node FROM d{i} "
            f"WHERE degree >= {k})")
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT a, b FROM {prev} WHERE "
            f"a IN (SELECT node FROM s{i}) "
            f"AND b IN (SELECT node FROM s{i}))")
        prev = f"e{i}"
    return ("WITH " + ", ".join(parts)
            + " SELECT node, COUNT(*) AS degree FROM "
            f"(SELECT a AS node FROM {prev} "
            f"UNION ALL SELECT b AS node FROM {prev}) GROUP BY 1")


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient ``2·T(v)/(deg(v)·(deg(v)−1))``
    over the undirected simple graph — how close each node's
    neighborhood is to a clique (the community-structure signal beside
    the raw triangle counts). Nodes with degree < 2 are excluded (the
    coefficient is undefined); triangle-free nodes report 0 rather
    than vanishing. Output: ``(node, degree, n_triangles, cc_micro)``.

    Plan: reuses :func:`triangle_counts` (degree-ordered wedge join,
    O(|E|^1.5) bound) plus the degree rollup it already implies, LEFT
    joined so zero-triangle nodes survive; one correctly-rounded
    double division per node, micro-quantized.
    """
    und = (edges.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))
                .filter(F.col("a") != F.col("b")).distinct())
    deg = (und.select(F.col("a").alias("node"))
              .unionByName(und.select(F.col("b").alias("node")))
              .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))
    tc = triangle_counts(edges)
    j = (deg.filter(F.col("degree") >= 2)
            .join(tc, "node", "left")
            .select("node", "degree",
                    F.coalesce("n_triangles", F.lit(0).cast("bigint"))
                     .alias("n_triangles")))
    cc = (F.lit(2.0) * F.col("n_triangles").cast("double")
          / (F.col("degree").cast("double")
             * (F.col("degree") - F.lit(1)).cast("double")))
    return j.select("node", "degree", "n_triangles",
                    F.floor(cc * F.lit(1000000.0) + F.lit(0.5))
                     .cast("bigint").alias("cc_micro"))


def label_propagation(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """Deterministic synchronous label propagation: labels seed with
    node ids; each round every node adopts the MAJORITY label among
    its neighbors AND itself (self-loops must be present in ``edges``
    — the self-vote breaks synchronous LPA's bipartite oscillation),
    ties to the smallest label. Returns ``(node, lbl)``. The same
    per-round shape as pagerank: one edge-keyed join, one count
    groupBy, one ranked window; materialize the edge list ONCE before
    calling (localCheckpoint) so iterations don't re-derive it.
    """
    from pyspark.sql import Window
    labels = (edges.select(F.col("src").alias("node")).distinct()
                   .select("node", F.col("node").alias("lbl")))
    for _ in range(rounds):
        # shuffle_hash pins the per-round join strategy: a checkpointed
        # basket-derived edge list carries its origin plan's (under-)
        # estimated size through localCheckpoint, which otherwise flips
        # the planner to per-round BroadcastHashJoin label builds —
        # interleave-A/B-measured 3.2× slower than the shuffle join
        # (7.0 s vs 2.0 s for 2 rounds at sf0.1; merge hint 2.2 s).
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
    return labels


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity per community over an undirected simple graph:
    ``Q_c = e_c/m − (d_c/2m)²`` — how much denser each community is
    than the degree-preserving random expectation (ΣQ_c is the global
    modularity; ≥ ~0.3 total is conventionally 'real structure'). The
    quality gate for any community assignment (LPA, CC, metadata
    splits). ``labels``: (node, lbl). Output: ``(community, n_nodes,
    e_in, d_tot, q_micro)``.

    Plan: undirected dedup (one shuffle), two label joins keyed on the
    node, reduced per-community rollups; m rides broadcast. Exact
    integer counts; two mirrored double divisions per community row.
    """
    und = (edges.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))
                .filter(F.col("a") != F.col("b")).distinct())
    mm = und.agg(F.count(F.lit(1)).alias("m"))
    la = labels.select(F.col("node").alias("a"), F.col("lbl").alias("__ca"))
    lb = labels.select(F.col("node").alias("b"), F.col("lbl").alias("__cb"))
    ein = (und.join(la, "a").join(lb, "b")
              .filter(F.col("__ca") == F.col("__cb"))
              .groupBy(F.col("__ca").alias("community"))
              .agg(F.count(F.lit(1)).alias("e_in")))
    deg = (und.select(F.col("a").alias("node"))
              .unionByName(und.select(F.col("b").alias("node")))
              .groupBy("node").agg(F.count(F.lit(1)).alias("__dg")))
    dc = (deg.join(labels, "node")
             .groupBy(F.col("lbl").alias("community"))
             .agg(F.sum("__dg").alias("d_tot"),
                  F.count(F.lit(1)).alias("n_nodes")))
    half = (F.col("d_tot").cast("double")
            / (F.lit(2.0) * F.col("m").cast("double")))
    q = (F.col("e_in").cast("double") / F.col("m").cast("double")
         - half * half)
    return (dc.join(ein, "community", "left")
              .crossJoin(F.broadcast(mm))
              .select("community", "n_nodes",
                      F.coalesce("e_in", F.lit(0).cast("bigint"))
                       .alias("e_in"), "d_tot", "m")
              .select("community", "n_nodes", "e_in", "d_tot",
                      F.floor(q * F.lit(1000000.0) + F.lit(0.5))
                       .cast("bigint").alias("q_micro")))
