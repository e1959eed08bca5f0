"""The engine's query suite: every operator from SURVEY.md §2 (reference
parity), the Phase-2 relational gap operators, and the north-star extension
operators — each as a (Spark callable, DuckDB oracle SQL) pair.

Registry contract (mirrors ``__spark_entry__.py``):
- ``SPARK_QUERIES[name](spark, sf_dir) -> DataFrame``
- ``ORACLE_SQL[name]`` — equivalent ANSI SQL for DuckDB over the same
  parquet (absent for non-SQL-expressible ops → rows-only check).

Column names are aliased identically on both sides (the driver's comparator
sorts columns by name before hashing).
"""

from __future__ import annotations

import glob
import json
import os
import re

from mura_spark.suite import (
    analytics_q,
    dedup_q,
    events_q,
    graph_q,
    multimodal_q,
    packing_q,
    quality_q,
    relational,
    similarity_q,
    sources_q,
    stats_q,
    textops,
    tpch_more,
    tpch_ps,
)

_MODULES = [textops, packing_q, sources_q, dedup_q, similarity_q, events_q,
            graph_q, analytics_q, stats_q, quality_q,
            multimodal_q, relational, tpch_more, tpch_ps]

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
_WINDOW = 50

#: The approximate/rows-only queries: pinned to the registry tail, past
#: every oracled query. Their correctness signal in the verification
#: window is the deterministic companion row each gained in round 5.
_ROWS_ONLY_TAIL = [
    "ann_topk_lsh", "ann_topk_ivf", "dedup_embedding_pairs_lsh",
    "sketch_distinct_users", "sketch_value_percentiles",
]


def _last_green() -> dict[str, int]:
    """Query name -> newest round whose committed ``CORRECTNESS_r*.json``
    ledger has it hash-green with no error."""
    def round_no(path: str) -> int:
        # numeric, not lexicographic: 'r100' must outrank 'r99'
        return int(re.search(r"r(\d+)", os.path.basename(path)).group(1))

    out: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")),
                       key=round_no):
        with open(path) as fh:
            for name, row in json.load(fh).items():
                if row.get("hash_match") and not row.get("err"):
                    out[name] = round_no(path)  # ascending: newest wins
    return out


def _verification_window(reg: list[str], oracled) -> tuple[list, list]:
    """Each verification round checks only the FIRST 50 registry
    entries, so registry order is computed from the committed ledgers:
    oracled queries never verified green come first (new queries), the
    rest of the window is backfilled with the STALEST green rows —
    oldest last-green round first, registry order as the tie-break. At
    50 per round over ~400 rows this bounds any row's staleness to ~8
    rounds. Returns ``(window, overflow)``: never-verified queries that
    do not fit take the next window's head."""
    last_green = _last_green()
    debt = [n for n in reg if n in oracled and n not in last_green]
    verified = [n for n in reg if n in oracled and n in last_green]
    backfill = sorted(verified, key=lambda n: last_green[n])  # stable
    return ((debt + backfill)[:_WINDOW], debt[_WINDOW:])


SPARK_QUERIES = {}
ORACLE_SQL = {}
for _m in _MODULES:
    for _name, _fn in _m.SPARK_QUERIES.items():
        if _name in SPARK_QUERIES:
            raise ValueError(f"duplicate query name {_name!r}")
        SPARK_QUERIES[_name] = _fn
    ORACLE_SQL.update(_m.ORACLE_SQL)

_missing_tail = [n for n in _ROWS_ONLY_TAIL if n not in SPARK_QUERIES]
if _missing_tail:
    raise ValueError(f"rows-only query not in registry: {_missing_tail}")
_PRIORITY, _NEXT_WINDOW = _verification_window(list(SPARK_QUERIES),
                                               ORACLE_SQL)
_tail = set(_ROWS_ONLY_TAIL)
_front = set(_PRIORITY) | set(_NEXT_WINDOW)
SPARK_QUERIES = {
    **{n: SPARK_QUERIES[n] for n in _PRIORITY + _NEXT_WINDOW},
    **{n: f for n, f in SPARK_QUERIES.items()
       if n not in _front and n not in _tail},
    **{n: SPARK_QUERIES[n] for n in _ROWS_ONLY_TAIL}}

_missing = set(ORACLE_SQL) - set(SPARK_QUERIES)
if _missing:
    raise ValueError(f"oracle without query: {sorted(_missing)}")
