#!/usr/bin/env python
"""Scale laws: seconds per unit of work across a K-fold replication sweep.

Each law replicates its input K times with key offsets (:func:`replicate`),
times its operations at every K (:func:`min_of_2`) and divides by the work
done at that K. A law holds when, for every operation, the seconds per
unit at the largest K are at most ``bound`` times those at the reference
K: the cost tracks the work, not the input size.

- ``pair_mining``: ``dedup_jaccard_pairs`` and ``dedup_incremental_near``
  on the first 500 documents of sf0.1, K = 1, 10, 100. Every document
  gains K-1 exact clones, so the output grows ~K^2 per clone group; the
  miners are output-bound when sec/Mpair stays within 1.6x from K=10 to
  K=100 (K=1 yields about one pair and is not a reference).
- ``graph``: ``pagerank`` (3 iterations) and ``label_propagation``
  (2 rounds) over K disjoint copies of the sf0.01 co-purchase graph,
  K = 4, 16. Rounds to converge stay fixed while edges grow exactly K
  times; sec/Medge within 1.6x.
- ``view_refresh``: an ``IncrementalAggView`` over sf0.1 orders x K,
  K = 1, 8, 32, refreshed after appending a fixed sf0.01-sized delta
  (``append``) and after a fixed-size DELETE inside that delta's key
  range (``delete``, through the row-level change feed). One refresh is
  one unit of work, so its time must stay within 1.5x as the table grows.
- ``bloom_lookup``: a custkey needle read through ``read(lookup=...)`` on
  sf0.1 orders committed as K replicas of 8 files each, K = 1, 4, 16, bloom
  filter on ``o_custkey``. The needle lives in replica 0 only, so one
  lookup must stay within 1.5x as the table grows.

Writes ``SCALE.json`` at the repo root (seconds, work and seconds per unit
for each operation and K, the ratio and the verdict per law) and exits 1
when a law fails. Run::

    python scripts/scale_laws.py
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF01 = "/root/testdata/sf0.1"
SF001 = "/root/testdata/sf0.01"

#: key column -> key domain, per table
TABLE_KEYS: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "region")],
    "nation": [("n_nationkey", "nation"), ("n_regionkey", "region")],
    "customer": [("c_custkey", "customer"), ("c_nationkey", "nation")],
    "supplier": [("s_suppkey", "supplier"), ("s_nationkey", "nation")],
    "part": [("p_partkey", "part")],
    "orders": [("o_orderkey", "orders"), ("o_custkey", "customer")],
    "lineitem": [("l_orderkey", "orders"), ("l_partkey", "part"),
                 ("l_suppkey", "supplier")],
    "events": [("event_id", "events"), ("user_id", "user")],
    "documents": [("doc_id", "documents")],
    "embeddings": [("vec_id", "embeddings")],
}

#: key domain -> (table, column) whose maximum bounds the domain
DOMAIN_OWNER = {
    "region": ("region", "r_regionkey"),
    "nation": ("nation", "n_nationkey"),
    "customer": ("customer", "c_custkey"),
    "supplier": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"),
    "orders": ("orders", "o_orderkey"),
    "events": ("events", "event_id"),
    "user": ("events", "user_id"),
    "documents": ("documents", "doc_id"),
    "embeddings": ("embeddings", "vec_id"),
}


def replicate(spark, sf_dir: str, tbl: str, k: int, first: int = 0):
    """Replicas ``first`` .. ``first + k - 1`` of table ``tbl`` in
    ``sf_dir``, stacked. Replica i shifts each key column by
    i * (max key + 1) of its domain, so keys stay unique, joins stay
    inside a replica, and every other value is copied unchanged."""
    from pyspark.sql import functions as F

    from mura_spark.suite.common import table

    rep = table(spark, sf_dir, tbl).crossJoin(
        spark.range(first, first + k).select(F.col("id").alias("__rep")))
    for col, domain in TABLE_KEYS[tbl]:
        owner, key = DOMAIN_OWNER[domain]
        step = table(spark, sf_dir, owner).agg(F.max(key)).first()[0] + 1
        rep = rep.withColumn(col, F.col(col) + F.col("__rep") * step)
    return rep.drop("__rep")


def min_of_2(run, prepare=lambda: None) -> float:
    """Seconds of the faster of two ``run(prepare())`` calls; only
    ``run`` is timed. The slower call absorbs one-off JIT/GC stalls."""
    best = float("inf")
    for _ in range(2):
        arg = prepare()
        t0 = time.monotonic()
        run(arg)
        best = min(best, time.monotonic() - t0)
    return round(best, 3)


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# ------------------------------------------------------------------ laws
# Each law maps (spark, K set, scratch dir) to
# {operation: {K: (seconds, units of work)}}.

PAIR_QUERIES = ["dedup_jaccard_pairs", "dedup_incremental_near"]
PAIR_DOCS = 500


def pair_mining(spark, ks, root):
    from mura_spark.suite import SPARK_QUERIES
    from mura_spark.suite.common import table

    base = os.path.join(root, "base")
    (table(spark, SF01, "documents").orderBy("doc_id").limit(PAIR_DOCS)
        .write.parquet(f"{base}/documents.parquet"))
    out: dict = {q: {} for q in PAIR_QUERIES}
    for k in ks:
        sf_dir = os.path.join(root, f"k{k}")
        (replicate(spark, base, "documents", k)
            .write.parquet(f"{sf_dir}/documents.parquet"))
        for q in PAIR_QUERIES:
            pairs = SPARK_QUERIES[q](spark, sf_dir).count()
            sec = min_of_2(lambda _: _noop(SPARK_QUERIES[q](spark, sf_dir)))
            out[q][k] = (sec, pairs / 1e6)
    return out


def graph(spark, ks, root):
    from mura_spark.operators import graph as g
    from mura_spark.suite.graph_q import _copurchase_edges

    ops = {"pagerank3": lambda e: g.pagerank(e, iterations=3),
           "label_prop2": lambda e: g.label_propagation(e, rounds=2)}
    out: dict = {op: {} for op in ops}
    for k in ks:
        sf_dir = os.path.join(root, f"k{k}")
        (replicate(spark, SF001, "lineitem", k)
            .write.parquet(f"{sf_dir}/lineitem.parquet"))
        edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
        n_edges = edges.count()
        for op, fn in ops.items():
            out[op][k] = (min_of_2(lambda _: fn(edges).count()),
                          n_edges / 1e6)
        edges.unpersist()
    return out


#: delta keys start here, far above every replica's o_orderkey
DELTA_KEY = 10**12
#: the DELETE stays inside the delta's key range, so footer-stats pruning
#: bounds its copy-on-write rewrite and change feed regardless of K
DELETE_PRED = f"o_orderkey >= {DELTA_KEY} AND o_orderkey < {DELTA_KEY + 5000}"
VIEW_AGGS = {"n_orders": ("count", "o_orderkey"),
             "total_price_sum": ("sum", "o_totalprice"),
             "first_order": ("min", "o_orderdate"),
             "last_order": ("max", "o_orderdate")}
#: subtractable aggregates only: the DELETE refresh stays incremental
DELETE_AGGS = {"n_orders": ("count", "o_orderkey"),
               "total_price_sum": ("sum", "o_totalprice")}


def view_refresh(spark, ks, root):
    from pyspark.sql import functions as F

    from mura_spark.sources.incremental_view import IncrementalAggView
    from mura_spark.sources.table_format import MuraTable

    delta = replicate(spark, SF001, "orders", 1).withColumn(
        "o_orderkey", F.col("o_orderkey") + DELTA_KEY)

    def incremental(view) -> None:
        r = view.refresh()
        if r.mode != "incremental" or r.reason:
            raise AssertionError(f"refresh was not incremental: {r}")

    out: dict = {"append": {}, "delete": {}}
    for k in ks:
        src = MuraTable.create(spark, os.path.join(root, f"k{k}", "src"),
                               replicate(spark, SF01, "orders", k), cdf=True)
        n_views = itertools.count()

        def view(aggs):
            return IncrementalAggView.create(
                spark, os.path.join(root, f"k{k}", f"view{next(n_views)}"),
                src, keys=["o_orderpriority"], aggs=aggs)

        def append():
            v = view(VIEW_AGGS)
            src.append(delta)
            return v

        def delete():
            src.append(delta)
            v = view(DELETE_AGGS)
            src.delete_where(DELETE_PRED)
            return v

        out["append"][k] = (min_of_2(incremental, append), 1)
        out["delete"][k] = (min_of_2(incremental, delete), 1)
    return out


FILES_PER_COMMIT = 8


def bloom_lookup(spark, ks, root):
    from pyspark.sql import functions as F

    from mura_spark.sources.table_format import MuraTable
    from mura_spark.suite.common import table

    # a mid-range custkey that exists in replica 0, the shape of the
    # table_bloom_lookup_skipping row's needle
    orders = table(spark, SF01, "orders")
    mid = orders.agg(F.floor((F.min("o_custkey") + F.max("o_custkey")) / 2)
                     ).first()[0]
    needle = orders.where(F.col("o_custkey") <= mid).agg(
        F.max("o_custkey")).first()[0]

    def replica(i):
        return (replicate(spark, SF01, "orders", 1, first=i)
                .select("o_orderkey", "o_custkey", "o_totalprice")
                .repartition(FILES_PER_COMMIT))

    out: dict = {"lookup": {}}
    for k in ks:
        t = MuraTable.create(spark, os.path.join(root, f"k{k}"), replica(0),
                             bloom_cols=["o_custkey"])
        for i in range(1, k):
            t.append(replica(i))
        probe = (t.read(lookup={"o_custkey": needle})
                 .where(F.col("o_custkey") == needle)
                 .agg(F.count(F.lit(1)), F.sum("o_totalprice")))
        out["lookup"][k] = (min_of_2(lambda _: probe.collect()), 1)
    return out


#: law -> (measure, unit of the ratio, K set, reference K, bound on
#: seconds per unit at the largest K over the reference K)
LAWS = {
    "pair_mining": (pair_mining, "sec_per_mpair", [1, 10, 100], 10, 1.6),
    "graph": (graph, "sec_per_medge", [4, 16], 4, 1.6),
    "view_refresh": (view_refresh, "sec_per_refresh", [1, 8, 32], 1, 1.5),
    "bloom_lookup": (bloom_lookup, "sec_per_lookup", [1, 4, 16], 1, 1.5),
}


def run_law(spark, name: str, root: str) -> dict:
    measure, unit, ks, k_ref, bound = LAWS[name]
    # one untimed pass at the smallest K keeps JVM and code-path warm-up
    # out of the first measured point
    measure(spark, ks[:1], os.path.join(root, "warmup"))
    ops = {}
    for op, by_k in measure(spark, ks, root).items():
        points = {k: {"sec": sec, "work": round(work, 6),
                      unit: round(sec / work, 3) if work else None}
                  for k, (sec, work) in by_k.items()}
        ratio = points[ks[-1]][unit] / points[k_ref][unit]
        ops[op] = {"points": {str(k): p for k, p in points.items()},
                   "ratio": round(ratio, 3), "holds": ratio <= bound}
    return {"unit": unit, "ks": ks, "k_ref": k_ref, "bound": bound,
            "ops": ops, "holds": all(o["holds"] for o in ops.values())}


def main() -> int:
    from mura_spark.session import get_spark

    spark = get_spark("mura-scale-laws")
    spark.sparkContext.setLogLevel("ERROR")
    result = {}
    with tempfile.TemporaryDirectory(prefix="mura_scale_") as root:
        for name in LAWS:
            result[name] = run_law(spark, name, os.path.join(root, name))
            print(f"# {name}: " + ", ".join(
                f"{op} {o['ratio']}x" for op, o in result[name]["ops"].items())
                + f" (bound {LAWS[name][4]}x)", file=sys.stderr)
    with open(os.path.join(REPO, "SCALE.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    verdicts = {name: r["holds"] for name, r in result.items()}
    print(json.dumps(verdicts))
    return 0 if all(verdicts.values()) else 1


if __name__ == "__main__":
    raise SystemExit(main())
