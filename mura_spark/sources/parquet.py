"""Parquet source/sink helpers.

Parquet is the reference's only named storage format
(``/root/reference/src/parser/mod.rs:21-24``), intended but never opened by
it; here it is the primary columnar source, read through Spark's vectorized
reader with predicate pushdown and schema pruning (the execution the
reference's README promised — reference README.md:10).

The write path (absent from the reference entirely — no INSERT/COPY,
SURVEY.md §2.3) is provided as the engine's sink surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def scan(spark: SparkSession, path: str, schema: StructType | None = None,
         columns: list[str] | None = None) -> DataFrame:
    """Schema'd (or footer-inferred) Parquet scan with optional projection;
    the projection reaches the reader as ReadSchema pruning."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(path)
    if columns:
        df = df.select(*columns)
    return df


def ensure_min_partitions(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition iff the plan has fewer partitions than the
    cluster has slots.

    Single-row-group (or few-file) inputs scan as one task, which serializes
    every downstream per-row computation onto one core; production pipelines
    repartition right after such reads. Gated at runtime so it is a no-op at
    scale, where inputs carry hundreds of thousands of splits and an extra
    full shuffle would be the bug rather than the fix. Catalyst still pushes
    filters and pruning through the Repartition node, so scan-side pushdown
    is unaffected.
    """
    target = target or df.sparkSession.sparkContext.defaultParallelism
    # Probe partitioning only for narrow plans (scan/project/filter): under
    # AQE, materializing .rdd on a plan with exchanges EXECUTES those
    # upstream stages just to finalize the plan — the probe would silently
    # run part of the query. Plans with their own exchange already gain
    # parallelism from it and need no widening.
    analyzed = df._jdf.queryExecution().analyzed().toString()
    wide_ops = ("Join", "Aggregate", "Repartition", "Window", "Sort",
                "Distinct", "MapInPandas", "FlatMapGroupsInPandas")
    if any(op in analyzed for op in wide_ops):
        return df
    # File-backed plans: estimate scan parallelism from driver-side catalog
    # metadata, avoiding the .rdd probe (which finalizes a physical plan
    # per call). The estimate replays Spark's own FilePartition sizing:
    # each file is padded by openCostInBytes, the split size is
    # min(maxPartitionBytes, max(openCost, paddedTotal/defaultParallelism)),
    # and partitions ≈ ceil(paddedTotal / splitSize) — so many tiny files
    # (padded to ~openCost each) count as separate partitions exactly as
    # the scan will schedule them, and one giant file counts its splits.
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        conf = df.sparkSession.conf
        try:
            max_bytes = _parse_bytes(
                conf.get("spark.sql.files.maxPartitionBytes"))
        except Exception:
            max_bytes = 128 * 1024 * 1024
        try:
            open_cost = _parse_bytes(
                conf.get("spark.sql.files.openCostInBytes"))
        except Exception:
            open_cost = 4 * 1024 * 1024
        try:
            padded = sum(_file_size(df.sparkSession, f) + open_cost
                         for f in files)
        except Exception:
            # A file's size is unanswerable (remote FS hiccup, moved file):
            # estimating from openCost alone would wildly understate large
            # remote files and force a full repartition shuffle — the exact
            # failure this gate exists to prevent. Fall through to the
            # partition probe instead (plan is narrow; probe is safe).
            padded = None
        if padded is not None:
            # Spark's own FilePartition sizing uses defaultParallelism, not
            # the caller's target — using target here could overestimate the
            # split (fewer, larger partitions than the real scan) and skip a
            # needed widening when target > defaultParallelism.
            slots = df.sparkSession.sparkContext.defaultParallelism
            split = min(max_bytes,
                        max(open_cost, padded // max(slots, 1) or 1))
            est = -(-padded // split)
            if est >= target:
                return df
            return df.repartition(target)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _file_size(spark: SparkSession, uri: str) -> int:
    """Size in bytes of one input file URI. Local paths (``file:`` or bare)
    answer from the OS; any other scheme (s3://, hdfs://, abfs://...) goes
    through the Hadoop FileSystem API — a driver-side metadata RPC, same
    cost class as the ``inputFiles`` listing that produced the URI."""
    import os as _os
    if uri.startswith("file:"):
        return _os.path.getsize(uri[len("file:"):])
    if "://" not in uri:
        return _os.path.getsize(uri)
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(uri)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.getFileStatus(jpath).getLen()


def _parse_bytes(s: str) -> int:
    """Spark byte-size string ('128MB', '134217728b', '1g') → bytes."""
    s = s.strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    if s and s[-1] in units:
        mult = units[s[-1]]
        s = s[:-1]
    return int(s) * mult


def approx_row_count(df: DataFrame) -> int:
    """Row count without running a Spark job where that is *accurate*, for
    sizing decisions (LSH band width, partition counts) — never results.

    Footer metadata answers ONLY for plans that provably preserve scan
    cardinality: every node in the analyzed plan must be a Project /
    SubqueryAlias / View / Relation (a whitelist, not a Filter blacklist —
    Limit, Sample, Aggregate, Distinct, Join, Union all change cardinality
    too, and for the LSH callers an overcount silently widens bands and
    lowers recall). Such plans answer from Parquet footers (``inputFiles``
    is a driver-side catalog listing; footer reads are O(files), no scan) —
    exact. Everything else, and non-file plans (in-memory test frames),
    falls back to ``df.count()``.
    """
    import re
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        nodes = re.findall(r"^[\s+\-:]*'?([A-Za-z]+)", plan, flags=re.M)
        count_preserving = bool(nodes) and all(
            n in ("Project", "SubqueryAlias", "View", "Relation",
                  "LogicalRelation") for n in nodes)
    except Exception:
        count_preserving = False
    try:
        files = ([f for f in df.inputFiles() if f.endswith(".parquet")]
                 if count_preserving else [])
    except Exception:
        files = []
    if files:
        try:
            import pyarrow.parquet as pq
            total = 0
            for f in files:
                path = f[len("file:"):] if f.startswith("file:") else f
                total += pq.ParquetFile(path).metadata.num_rows
            return total
        except Exception:
            pass
    return df.count()


def write_sorted(df: DataFrame, path: str, sort_cols: list[str],
                 n_files: int = 8, mode: str = "error") -> None:
    """Range-partition + sort-within-partition write: each output file owns
    a disjoint range of ``sort_cols``, so its parquet row-group min/max
    stats are tight and range predicates skip whole files/row-groups at
    scan time. This layout step is what makes filter pushdown *effective*
    (pushdown into a randomly-ordered file still reads every row group).
    """
    (df.repartitionByRange(n_files, *sort_cols)
       .sortWithinPartitions(*sort_cols)
       .write.mode(mode).parquet(path))


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8):
    """Z-order (Morton) sort key over ``cols``: per-column quantile-bucket
    ranks (``2^bits`` buckets, boundaries from ``approxQuantile`` — skew-
    proof, unlike equal-width bucketing) with their bits interleaved, as a
    Column. Sorting by this key clusters rows so that EVERY listed column
    gets tight per-file min/max stats — the layout that makes multi-column
    range predicates skip files, where a linear sort only serves its
    leading column.

    Cost model: one driver-side quantile sketch per column (bounded:
    ``2^bits`` boundary values each) + a per-row bucket search rendered as
    ``2^bits`` comparisons per column (HOF fold — write-side one-time
    cost) + the exact-int bit interleave. Supports 2+ columns; key width is
    ``len(cols)·bits`` bits (≤ 63)."""
    if len(cols) < 2:
        raise ValueError("zorder needs >= 2 columns (use a plain sort for 1)")
    n_buckets = 1 << bits
    if len(cols) * bits > 63:
        raise ValueError(f"{len(cols)} cols × {bits} bits exceeds a long")
    probs = [i / n_buckets for i in range(1, n_buckets)]
    key = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        bounds = df.approxQuantile(c, probs, 0.001)
        barr = F.array(*[F.lit(b) for b in bounds])
        bucket = F.aggregate(
            barr, F.lit(0),
            lambda acc, b: acc + (F.col(c) >= b).cast("int"))
        # interleave: bit i of this column lands at position
        # i·len(cols) + ci of the composite key
        for i in range(bits):
            key = key + F.shiftleft(
                F.shiftright(bucket, i).bitwiseAND(F.lit(1)).cast("long"),
                i * len(cols) + ci)
    return key


def write_zorder(df: DataFrame, path: str, cols: list[str],
                 bits: int = 8, n_files: int = 8, mode: str = "error") -> None:
    """Z-order-clustered parquet write: range-partition + sort by the
    Morton key of ``cols`` so range predicates on ANY of them skip
    files/row-groups (see :func:`zorder_key`)."""
    z = zorder_key(df, cols, bits)
    (df.withColumn("__z", z)
       .repartitionByRange(n_files, "__z")
       .sortWithinPartitions("__z")
       .drop("__z")
       .write.mode(mode).parquet(path))


def write(df: DataFrame, path: str, mode: str = "error",
          partition_by: list[str] | None = None) -> None:
    """Parquet sink. ``partition_by`` produces hive-style directory
    partitioning (the scan-side partition-pruning contract)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
