"""Seeded input generator for the benchmark.

The table *contents* come from a fixed base seed, so every oracle result
is the same whatever ``--seed`` is; the run seed only changes what a
layout-sensitive engine can see: row order, file split and, for the
``relational`` workload, which replica block lands where.  The
``table_commits`` operation stream is drawn from the run seed.

Shapes follow the TPC-H-style star schema plus the ``events``,
``documents`` and ``embeddings`` tables the suite queries expect (same
column names, types and value domains).  ``sf`` scales row counts the
way TPC-H does (lineitem = 6M x sf).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
FILES = 4                # files per generated table of >= 1000 rows

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "shiny"]
P_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])

#: key column -> key domain, per table (the scripts/scale_check.py rule:
#: replica i shifts each key by i * (max key of its domain + 1), so joins
#: stay consistent inside a replica and never cross replicas)
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
DOMAIN_OWNER = {"region": ("region", "r_regionkey"),
                "nation": ("nation", "n_nationkey"),
                "customer": ("customer", "c_custkey"),
                "supplier": ("supplier", "s_suppkey"),
                "part": ("part", "p_partkey"),
                "orders": ("orders", "o_orderkey"),
                "events": ("events", "event_id"),
                "user": ("events", "user_id"),
                "documents": ("documents", "doc_id"),
                "embeddings": ("embeddings", "vec_id")}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int) -> np.ndarray:
    d0 = np.datetime64(start, "D")
    return (d0 + rng.integers(0, n_days, n)).astype("datetime64[us]")


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The content of every table at scale ``sf``; depends on ``sf`` only."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = 4 * n_ord, int(1_000_000 * sf)
    n_users, n_docs, n_vec = int(15_000 * sf), int(50_000 * sf), \
        int(20_000 * sf)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    t = {}
    t["region"] = pa.table({"r_regionkey": i32(np.arange(5)),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": i32(np.arange(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32(np.arange(25) % 5)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_li)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(_pick(rng, VOCAB, n)))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS[0], n_docs, p=LANGS[1]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_vec))})
    return t


def replicate(tables: dict[str, pa.Table], k: int) -> dict[str, pa.Table]:
    """``k`` copies of every table with consistent key offsets."""
    if k == 1:
        return tables
    bases = {d: int(np.max(tables[tbl][col].to_numpy())) + 1
             for d, (tbl, col) in DOMAIN_OWNER.items()}
    out = {}
    for name, tbl in tables.items():
        reps = []
        for i in range(k):
            r = tbl
            for col, dom in TABLE_KEYS[name]:
                arr = r[col].to_numpy() + i * bases[dom]
                r = r.set_column(r.schema.get_field_index(col), col,
                                 pa.array(arr, r.schema.field(col).type))
            reps.append(r)
        out[name] = pa.concat_tables(reps)
    return out


def _write_shuffled(tbl: pa.Table, path: str, rng) -> None:
    """Write ``tbl`` in a seeded row order as FILES parquet files whose
    cut points are seeded within +-5% of equal shares.  The file count
    stays fixed, so the seed moves the layout, not the scan parallelism."""
    os.makedirs(path)
    tbl = tbl.take(rng.permutation(tbl.num_rows))
    n = tbl.num_rows
    n_files = FILES if n >= 1000 else 1
    share = n / n_files
    cuts = [int(round(share * i + rng.uniform(-0.05, 0.05) * share))
            for i in range(1, n_files)]
    bounds = [0, *cuts, n]
    for i, (a, b) in enumerate(zip(bounds, bounds[1:])):
        pq.write_table(tbl.slice(a, b - a),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def dataset(cache_root: str, seed: int, sf: float, k: int,
            names: list[str]) -> str:
    """Directory holding ``names`` (``<name>.parquet/`` each) for this
    (seed, sf, k); generated once, then reused."""
    key = f"sf{sf}_k{k}_seed{seed}_" + hashlib.md5(
        ",".join(sorted(names)).encode()).hexdigest()[:8]
    out = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tables = replicate(base_tables(sf), k)
    rng = np.random.default_rng(seed)
    for name in sorted(names):
        _write_shuffled(tables[name], os.path.join(out, f"{name}.parquet"),
                        rng)
    sizes = {n: {"rows": tables[n].num_rows, "bytes": dir_bytes(
        os.path.join(out, f"{n}.parquet"))} for n in names}
    with open(os.path.join(out, "_SIZES.json"), "w") as f:
        json.dump(sizes, f)
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


WRITES = ("append", "merge", "delete", "update", "refresh", "stream")
READS = ("read_latest", "time_travel", "lookup", "row_count", "changes_feed")
#: reads of each type per block (10 reads to 8 writes, compact and vacuum
#: included).  A chosen mix, not one measured on a served table.
READS_PER_TYPE = 2


def commit_stream(seed: int, n_blocks: int, n_orders: int
                  ) -> list[list[dict]]:
    """Seeded operation stream for ``table_commits``, in blocks: the six
    writes in order, each followed by reads drawn in seeded order, then
    ``compact`` and ``vacuum``.  Every block, the warm-up included, has
    the same mix, so the seed moves arguments and order, not the amount
    of work.  ``n_orders`` bounds the keys that lookups probe."""
    rng = np.random.default_rng(seed)
    blocks = []
    for _ in range(n_blocks):
        reads = [READS[i] for i in rng.permutation(
            READS_PER_TYPE * len(READS)) % len(READS)]
        ops = []
        for i, w in enumerate(WRITES):
            ops.append({"op": w, "r": int(rng.integers(0, 1 << 30))})
            for r in reads[i::len(WRITES)]:
                ops.append({"op": r, "r": int(rng.integers(0, 1 << 30)),
                            "key": int(rng.integers(0, n_orders))})
        blocks.append(ops + [{"op": "compact"}, {"op": "vacuum"}])
    return blocks
