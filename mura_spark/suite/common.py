"""Shared helpers for the query suite — Spark side and oracle-SQL side.

Cross-engine determinism rules used throughout (pinned by experiment, see
tests/test_oracle_differential.py):

- **Money sums**: doubles like l_extendedprice carry ≤2 decimals, so
  ``CAST(x AS DECIMAL(18,2))`` is an identity conversion; sums then run in
  exact decimal arithmetic in both engines and the final ``CAST(... AS
  DOUBLE)`` yields bit-identical doubles regardless of aggregation order.
  Never sum raw doubles under a groupBy — partition order would change the
  low bits.
- **Per-row double arithmetic** (no aggregation) is IEEE-deterministic and
  compares exactly.
- **ns timestamps**: Spark reads TIMESTAMP(NANOS) via nanosAsLong + integer
  ``div 1000`` (catalog); DuckDB truncates ns→µs on read — identical values.
- **Top-k**: every ORDER BY ... LIMIT carries a unique-key tiebreak so the
  selected set is deterministic.
- **Hashing**: only MD5-derived hashes (see functions/hashing.py) — Spark's
  hash/xxhash64 and DuckDB's hash() are not cross-engine reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mura_spark.catalog import _fix_ns_timestamps, _ns_timestamp_columns


#: (path, mtime) → (StructType, ns-timestamp column list). Metadata only —
#: the schema a fresh ``spark.read.parquet`` would infer — never data or
#: results; the mtime key invalidates the entry if the file changes. This
#: is what any table catalog persists: without it every ``table()`` call
#: pays a JVM footer-based schema inference plus a pyarrow footer read
#: (~95 ms driver-side per call, measured — ~25% of the whole sf0.1 bench
#: across ~1000 loads). Guide §5: the driver should do almost no work on
#: the query path; §6: avoid repeated listing/footer metadata reads.
_SCHEMA_CACHE: dict[tuple[str, float | None], tuple] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test-data table with the ns-timestamp fix applied.

    Loads are NOT widened here: join/agg/window queries parallelize at
    their first shuffle, and an up-front repartition of the full rows
    measures strictly slower. Operators whose first stage is compute-heavy
    narrow work (pandas kernels, HOF scoring) widen their own inputs via
    :func:`mura_spark.sources.parquet.ensure_min_partitions`.

    The parquet *schema* (not data) is memoized per (path, mtime) so
    repeated loads skip schema inference — identical frames either way
    (the cached schema IS the inferred one, pinned in tests)."""
    import os
    path = f"{sf_dir}/{name}.parquet"
    try:
        key = (path, os.path.getmtime(path))
    except OSError:
        key = (path, None)
    hit = _SCHEMA_CACHE.get(key)
    if hit is None:
        df = spark.read.parquet(path)
        hit = (df.schema, _ns_timestamp_columns(path))
        _SCHEMA_CACHE[key] = hit
        return _fix_ns_timestamps(df, hit[1])
    schema, ns_cols = hit
    return _fix_ns_timestamps(spark.read.schema(schema).parquet(path),
                              ns_cols)


def registry():
    """A suite module's ``(SPARK_QUERIES, ORACLE_SQL, q)``: ``@q(name,
    oracle=None)`` registers the decorated query (and its DuckDB oracle
    SQL) under ``name`` and raises ``ValueError`` on a name registered
    twice, as the cross-module merge in ``suite/__init__.py`` does."""
    spark_queries: dict = {}
    oracle_sql: dict[str, str] = {}

    def q(name, oracle=None):
        if name in spark_queries:
            raise ValueError(f"duplicate query name {name!r}")

        def deco(fn):
            spark_queries[name] = fn
            if oracle is not None:
                oracle_sql[name] = oracle
            return fn
        return deco
    return spark_queries, oracle_sql, q


def dsum(col: str | Column, scale: int = 2) -> Column:
    """Order-independent exact sum of a ≤``scale``-decimal double, as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


def davg(col: str | Column, scale: int = 2) -> Column:
    """Exact-sum / count average (deterministic double)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(f"decimal(18,{scale})")).cast("double")
            / F.count(F.lit(1)))


def sql_dsum(expr: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def sql_davg(expr: str, scale: int = 2) -> str:
    return f"{sql_dsum(expr, scale)} / COUNT(*)"


# ---- portable text/shingle/hash SQL fragments (DuckDB dialect) ----
# Spark equivalents live in mura_spark.functions.{text,hashing}; keep the
# two renderings in lockstep.

def sql_tokens(text_expr: str = "text") -> str:
    """DuckDB rendering of functions.text.tokens (note the 'g' flag —
    DuckDB's regexp_replace is first-match-only by default)."""
    return (f"string_split(trim(regexp_replace(lower({text_expr}),"
            f" '\\s+', ' ', 'g')), ' ')")


def sql_shingles(toks_expr: str, n: int = 3) -> str:
    """DuckDB rendering of functions.text.shingles (distinct word n-grams)."""
    return (f"list_distinct([array_to_string({toks_expr}[i:i+{n - 1}], ' ')"
            f" for i in range(1, greatest(len({toks_expr}) - {n - 1}, 1) + 1)])")


def sql_hash48(expr: str) -> str:
    """DuckDB rendering of functions.hashing.md5_hash48."""
    return f"CAST('0x' || substr(md5({expr}), 1, 12) AS BIGINT)"
