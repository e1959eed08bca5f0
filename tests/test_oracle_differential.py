"""Oracle-differential test — the in-repo replica of the driver's t2 gate
at sf0.001 (full sweep at sf0.01 via scripts/check_oracle.py).

Every oracle-paired query in the suite must match DuckDB on row count,
column names, and order-insensitive values.

The Spark side of every collected query is computed ONCE per module by a
small driver thread pool (the guide's §2.6 overlap-independent-jobs
pattern: Spark's scheduler happily runs several queries at once, and
almost all of the serial sweep's wall was per-query driver/scheduling
latency on otherwise-idle cores). Safe because every suite query is
self-contained — per-query-unique temp view names and per-query
scratch dirs, no session-conf mutation (grep-audited). Each
parametrized test then only replays its query's DuckDB twin (the
shared duckdb connection is not thread-safe, so it stays serial) and
compares — one test per query as before, failures still attribute to
the owning query, and a Spark-side error re-raises in exactly the
test that would have hit it serially.
"""

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.check_oracle import TABLES, norm_rows  # noqa: E402

from mura_spark.suite import ORACLE_SQL, SPARK_QUERIES  # noqa: E402


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


@pytest.fixture(scope="module")
def spark_results(request, spark, sf_dir):
    """name -> (columns, rows, error) for every oracled query this session
    collected (so ``-k NAME`` runs one query, a full run all of them),
    computed concurrently (6 driver threads — enough to hide per-query
    latency, few enough that executor cores are never contended at
    sf0.001)."""
    names = sorted({item.callspec.params["name"]
                    for item in request.session.items
                    if getattr(item, "function", None)
                    is test_query_matches_oracle})

    def run(name):
        try:
            sdf = SPARK_QUERIES[name](spark, sf_dir)
            return name, (sdf.columns,
                          [tuple(r) for r in sdf.collect()], None)
        except Exception as e:  # re-raised by the owning test
            return name, (None, None, e)

    with ThreadPoolExecutor(max_workers=6) as pool:
        return dict(pool.map(run, names))


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_query_matches_oracle(name, spark_results, duck):
    scols, srows, err = spark_results[name]
    if err is not None:
        raise err
    res = duck.execute(ORACLE_SQL[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows)
    _, s_n = norm_rows(scols, srows)
    _, o_n = norm_rows(ocols, orows)
    assert s_n == o_n


def test_every_query_has_entry_or_documented_rows_only():
    rows_only = set(SPARK_QUERIES) - set(ORACLE_SQL)
    # approximate-by-design operators only
    assert rows_only == {"ann_topk_lsh", "ann_topk_ivf",
                         "sketch_distinct_users", "dedup_embedding_pairs_lsh",
                         "sketch_value_percentiles"}
