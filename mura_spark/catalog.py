"""External-table catalog.

The reference declares a ``SchemaCatalog`` trait with one method,
``fetch_table_info(name) -> Option<Arc<Schema>>``
(``/root/reference/src/planner/catalog.rs:20-22``), and a ``CREATE EXTERNAL
TABLE ... STORED AS PARQUET LOCATION '...'`` DDL path that builds a plan node
but never registers anything (``src/planner/queryplanner.rs:73-95``), so any
subsequent SELECT fails. This module finishes that design: registration makes
the table immediately queryable by name from both SQL and the builder.

Spark-first design: tables are registered as temp views over
``spark.read.parquet`` (schema inferred from Parquet footers, or validated
against an explicit DDL schema). Catalyst then gets predicate pushdown,
column pruning, and partition pruning on every scan for free — the
optimizations the reference reserved slots for but never wired
(``Scan.projection`` hardcoded ``None`` at ``queryplanner.rs:58``).

A versioned (``file_type="mura"``) name's view binds one table version;
:meth:`Catalog.lookup` re-binds it at the head once any commit moved it.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_SUPPORTED_FILE_TYPES = {"parquet", "csv", "json", "orc", "mura"}


def _ns_timestamp_columns(location: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader cannot type as timestamp (PARQUET_TYPE_ILLEGAL). With
    ``spark.sql.legacy.parquet.nanosAsLong`` they surface as nano-longs;
    :func:`_fix_ns_timestamps` restores µs-truncated timestamps."""
    import glob
    import os
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa
    except ImportError:  # pragma: no cover
        return []
    target = location
    if os.path.isdir(location):
        # recursive: hive-partitioned tables keep their files under
        # key=value subdirectories — a top-level-only glob would find
        # nothing and silently expose TIMESTAMP(NANOS) columns as raw
        # nano-long BIGINTs (nanosAsLong is pinned session-wide)
        inside = sorted(glob.glob(os.path.join(location, "*.parquet"))) \
            or sorted(glob.glob(os.path.join(location, "**",
                                             "*.parquet"),
                      recursive=True))
        if not inside:
            return []
        target = inside[0]
    try:
        schema = pq.read_schema(target)
    except Exception:
        return []
    return [f.name for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"]


def _fix_ns_timestamps(df: DataFrame, ns_cols: list[str]) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType
    for c in ns_cols:
        # Only convert when nanosAsLong actually surfaced a long: pyarrow
        # reports INT96 (Spark's legacy timestamp encoding) as timestamp[ns]
        # too, but Spark reads INT96 as a proper timestamp already.
        if not isinstance(df.schema[c].dataType, LongType):
            continue
        # integer `div`, not `/`: ns epoch values exceed double's 2^53
        # exact-integer range, so float division would corrupt low digits.
        # timestamp_micros yields TIMESTAMP_NTZ on Spark 4.1; cast to the
        # session-TZ TIMESTAMP (LTZ) — value-identical under the pinned UTC
        # session timezone, and required by withWatermark (streaming event
        # time must be LTZ: EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise).
        df = df.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp"))
    return df


@dataclass
class TableInfo:
    """A registered name. For a ``mura`` table, ``version`` is the commit
    its view (and ``schema``) bound; lookup re-binds it at the head."""
    name: str
    location: str
    file_type: str
    schema: StructType
    version: int | None = None


class Catalog:
    """Registry of external tables, by name → (location, file type, schema).

    Names resolve case-insensitively, as Spark resolves the temp views
    they register."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._tables: dict[str, TableInfo] = {}  # keyed by lower-cased name

    def lookup(self, name: str) -> TableInfo | None:
        """``name``'s entry, a mura table re-bound at its head first."""
        info = self._tables.get(name.lower())
        if info is not None and info.file_type == "mura":
            info = self._bind(info)
        return info

    def _bind(self, info: TableInfo) -> TableInfo:
        """``info``'s mura table registered at its head version."""
        from mura_spark.sources.table_format import MuraTable
        t = MuraTable(self.spark, info.location)
        head = t._latest()
        if head == info.version:
            return info
        df = t.read(version=head)
        return self._register(replace(info, schema=df.schema, version=head),
                              df)

    def create_external_table(self, name: str, location: str, schema=None,
                              file_type: str = "parquet",
                              options: dict[str, str] | None = None) -> TableInfo:
        """Register an external file-backed table (reference FileType::Parquet,
        ``src/parser/mod.rs:20-24``; we additionally support csv/json/orc).

        With an explicit ``schema`` the read is schema'd (mura's DDL path:
        fixed, explicit schemas, no inference — SURVEY.md §1.2); without one,
        the format's native schema is used (Parquet footers / ORC metadata).
        """
        ft = file_type.lower()
        if ft not in _SUPPORTED_FILE_TYPES:
            raise ValueError(
                f"Unsupported file type {file_type!r}; the reference names "
                f"only PARQUET (src/parser/mod.rs:21-24); this engine adds "
                f"{sorted(_SUPPORTED_FILE_TYPES - {'parquet'})}")
        if ft == "mura":  # versioned table (sources/table_format.py)
            return self._bind(TableInfo(name, location, ft, None))
        reader = self.spark.read.format(ft)
        if options:
            reader = reader.options(**options)
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.load(location)
        if ft == "parquet" and schema is None:
            df = _fix_ns_timestamps(df, _ns_timestamp_columns(location))
        return self._register(TableInfo(name, location, ft, df.schema), df)

    def register_dataframe(self, name: str, df: DataFrame) -> TableInfo:
        """In-memory table registration (the reference catalog's intended
        'against in-memory data' half, reference README.md:10)."""
        return self._register(
            TableInfo(name, "<in-memory>", "memory", df.schema), df)

    def _register(self, info: TableInfo, df: DataFrame) -> TableInfo:
        df.createOrReplaceTempView(info.name)
        self._tables[info.name.lower()] = info
        return info

    def fetch_table_info(self, name: str) -> StructType | None:
        """The reference trait's single method (catalog.rs:20-22), minus the
        unwrap-panic on missing entries (catalog.rs:30)."""
        info = self.lookup(name)
        if info is not None:
            return info.schema
        try:  # fall back to anything already in the Spark session catalog
            return self.spark.table(name).schema
        except Exception:
            return None

    def table(self, name: str) -> DataFrame:
        if self.lookup(name) is None and not self.spark.catalog.tableExists(name):
            raise KeyError(f"table {name!r} is not registered")
        return self.spark.table(name)

    def drop(self, name: str) -> None:
        self._tables.pop(name.lower(), None)
        self.spark.catalog.dropTempView(name)

    def tables(self) -> list[str]:
        return sorted(info.name for info in self._tables.values())


def register_sf_dir(spark: SparkSession, sf_dir: str,
                    names: list[str] | None = None) -> list[str]:
    """Register every parquet table in a test-data scale-factor directory
    as a temp view. Convenience for tests/bench/driver queries."""
    import glob
    import os
    paths = sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    registered = []
    for p in paths:
        name = os.path.splitext(os.path.basename(p))[0]
        if names is not None and name not in names:
            continue
        df = _fix_ns_timestamps(spark.read.parquet(p), _ns_timestamp_columns(p))
        df.createOrReplaceTempView(name)
        registered.append(name)
    return registered
