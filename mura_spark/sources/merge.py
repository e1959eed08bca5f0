"""Copy-on-write MERGE INTO for hive-style parquet tables.

The reference has no mutation surface at all (its Parquet support is a
read-only scan — /root/reference/src/execution/mod.rs registers tables
for SELECT only), and this container ships no transactional table
format (Delta/Iceberg), so this operator supplies the MERGE mechanics
the sources family was missing — upsert/delete semantics with the same
partition-scoped cost model those formats implement:

- **Touched-partition pruning**: when the target is hive-partitioned,
  the source's distinct partition values (a dimension-sized collect,
  bounded by the partition count) prune the target read via an IN
  filter on the partition columns — partition pruning keeps the job
  O(touched partitions), never O(table).
- **Copy-on-write**: surviving target rows and merged/inserted rows are
  materialized through an eager ``localCheckpoint`` BEFORE any file is
  overwritten — the read plan must not lazily reference files the
  commit deletes (the self-overwrite hazard ``compact`` documents).
  The rewrite set is the touched partitions only, so checkpoint
  storage is bounded by them, not the table.
- **Dynamic partition overwrite commit**: only partitions present in
  the merged frame are replaced (overwrite_partitions); untouched
  partition directories are never listed, read, or rewritten. A
  touched partition whose rows were ALL deleted is absent from the
  merged frame — dynamic overwrite would silently keep its old files,
  so those directories are removed explicitly after the write.

This module also holds the merge CORE shared with the versioned table
format (``table_format.MuraTable.merge``): source validation, the
presence-marker full-outer join with row status, and the hive
partition-value canonicalization — one implementation of the MERGE
semantics, two commit protocols (in-place here, manifest COW there).

What a real 100 TB deployment gains from a transactional format on top
of this — atomic multi-partition commit, snapshot isolation, time
travel — is out of scope here and called out in the docstrings rather
than half-implemented.
"""

from __future__ import annotations

import os
import urllib.parse
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: hive's directory name for a NULL partition value
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


@dataclass
class MergeStats:
    """Row-level outcome of one merge_into call."""
    updated: int
    deleted: int
    inserted: int
    copied: int  # unmatched target rows in touched partitions, rewritten


# ------------------------------------------------- hive value canon


def hive_partition_values(relpath: str, partition_cols: list[str]) -> tuple:
    """Hive partition values encoded in a data-file path, as strings
    (the pruning key; Spark re-derives typed values from the directory
    layout at read time). Hive's null sentinel maps back to None so
    null partitions compare equal to source nulls; %XX escapes
    (Spark's escapePathName for ':', '#', '%', ... in values) are
    decoded so the returned strings match the written values."""
    vals = dict(seg.split("=", 1) for seg in relpath.split(os.sep)
                if "=" in seg)
    return tuple(None if vals.get(c) in (None, HIVE_NULL)
                 else urllib.parse.unquote(vals[c])
                 for c in partition_cols)


# --------------------------------------------------------- merge core


def check_merge_source(target: DataFrame, source: DataFrame,
                       key_cols: list[str], *,
                       trust_source_unique: bool = False) -> DataFrame:
    """Shared MERGE preconditions: the source must carry exactly the
    target's columns (returned aligned to the target's order) and at
    most one row per key — multiple source rows matching one target
    row make the merge ambiguous, so they raise (the Delta rule),
    enforced with one aggregation over the source.

    ``trust_source_unique=True`` skips the key-uniqueness aggregation (a
    Spark action — several jobs under AQE's incremental limit-collect)
    for callers whose source is unique per key BY CONSTRUCTION, e.g.
    the output of ``groupBy(*key_cols)`` — the incremental-view
    refresh's combine frame. The schema check still runs. Nothing
    checks the trust: a source with several rows for one key then
    gives wrong, nondeterministic merge output and raises no error —
    the full-outer merge join writes every one of those rows, so the
    key is duplicated in the table, and which duplicate a later
    key-wise read or merge sees depends on partitioning."""
    if set(target.columns) != set(source.columns):
        raise ValueError(
            f"source schema {sorted(source.columns)} != target schema "
            f"{sorted(target.columns)}")
    source = source.select(*target.columns)
    if not trust_source_unique:
        dup = (source.groupBy(*key_cols).count()
                     .where(F.col("count") > 1).limit(1).collect())
        if dup:
            raise ValueError(
                f"multiple source rows share key "
                f"{[dup[0][k] for k in key_cols]} — merge is ambiguous "
                f"(dedupe the source first)")
    return source


def partition_filter(rows, partition_cols: list[str]):
    """OR-of-ANDs partition predicate from collected source partition
    rows — typed literals against bare partition columns, the shape
    partition pruning recognizes (no casts on the column side)."""
    pred = None
    for row in rows:
        clause = None
        for c in partition_cols:
            eq = F.col(c).eqNullSafe(F.lit(row[c]))
            clause = eq if clause is None else clause & eq
        pred = clause if pred is None else pred | clause
    return pred


def merge_status_frame(target: DataFrame, source: DataFrame,
                       key_cols: list[str],
                       take_source_matched: bool = True,
                       with_preimages: bool = False) -> DataFrame:
    """The MERGE join both commit protocols share: null-safe full-outer
    join on the keys with explicit presence markers (so rows whose
    every data column is NULL still classify), returning the target's
    columns plus ``__status`` in ('matched', 'insert', 'copy').
    Matched rows take the source side unless ``take_source_matched``
    is False (the WHEN MATCHED THEN IGNORE shape, where the caller
    keeps target values). ``with_preimages`` adds ``__pre_<col>``
    columns carrying the target side of every row — the CDF
    pre-image source."""
    cols = list(target.columns)
    j = (target.withColumn("__t", F.lit(1)).alias("t")
               .join(source.withColumn("__s", F.lit(1)).alias("s"),
                     [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
                      for k in key_cols],
                     "full_outer"))
    status = (F.when(F.col("t.__t").isNotNull()
                     & F.col("s.__s").isNotNull(), F.lit("matched"))
               .when(F.col("s.__s").isNotNull(), F.lit("insert"))
               .otherwise(F.lit("copy")))
    take_source = status == F.lit("insert") if not take_source_matched \
        else status.isin("matched", "insert")
    out_cols = [F.when(take_source, F.col(f"s.{c}"))
                 .otherwise(F.col(f"t.{c}")).alias(c) for c in cols]
    pre_cols = [F.col(f"t.{c}").alias(f"__pre_{c}")
                for c in cols] if with_preimages else []
    return j.select(*out_cols, *pre_cols, status.alias("__status"))


def _typed_partition_dir_value(raw: str, dtype):
    """A decoded hive directory value parsed back to the partition
    column's Python type, so comparisons against collected row values
    are TYPED — string rendering differs between Java (directory
    names: Double.toString gives '1.0E-7') and Python (str gives
    '1e-07'), but float('1.0E-7') == 1e-07 exactly because Java's
    shortest-round-trip rendering parses back to the same double."""
    t = dtype.simpleString()
    if t in ("tinyint", "smallint", "int", "bigint"):
        return int(raw)
    if t in ("float", "double"):
        return float(raw)
    if t == "boolean":
        return raw.lower() == "true"
    if t == "date":
        import datetime
        return datetime.date.fromisoformat(raw)
    if t.startswith("timestamp"):
        import datetime
        return datetime.datetime.fromisoformat(raw)
    if t.startswith("decimal"):
        from decimal import Decimal
        return Decimal(raw)
    return raw


def _delete_emptied_partitions(spark, target_path: str,
                               partition_fields: list,
                               emptied: set[tuple]) -> int:
    """Remove the hive directories of touched partitions whose merged
    frame holds ZERO rows — dynamic partition overwrite only replaces
    partitions PRESENT in the output, so a fully-deleted partition's
    old files would otherwise survive the commit. Directory names are
    decoded and parsed back to the column TYPE before comparing
    (string comparison would miss Java-vs-Python float/timestamp
    renderings), and listing/deletion run through Hadoop's FileSystem
    so URI table paths (file:/, hdfs://, s3a://) work exactly like
    the write that preceded them. Returns the number of partition
    dirs removed.

    Atomicity: this runs AFTER the dynamic-overwrite commit —
    in-place parquet merge is non-transactional by nature, so a crash
    in the window between the write and this cleanup leaves the
    emptied partitions' stale files readable until the merge is
    re-run (re-running is safe: the cleanup is idempotent). Pipelines
    needing an atomic commit point should merge through
    :class:`~mura_spark.sources.table_format.MuraTable`, whose
    manifest swap is single-file-atomic.

    Listing cost: each directory level lists once, but the walk only
    DESCENDS into values that are a prefix of some emptied partition
    — sibling partitions never have their subtrees listed, keeping
    the promise that untouched partition directories' contents are
    never enumerated."""
    if not emptied:
        return 0
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(target_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    removed = 0

    def rec(jpath, depth: int, vals: tuple):
        nonlocal removed
        if depth == len(partition_fields):
            if vals in emptied:
                fs.delete(jpath, True)
                removed += 1
            return
        admissible = {t[depth] for t in emptied if t[:depth] == vals}
        field = partition_fields[depth]
        prefix = field.name + "="
        for status in fs.listStatus(jpath):
            if not status.isDirectory():
                continue
            name = status.getPath().getName()
            if not name.startswith(prefix):
                continue
            raw = name[len(prefix):]
            if raw == HIVE_NULL:
                v = None
            else:
                try:
                    v = _typed_partition_dir_value(
                        urllib.parse.unquote(raw), field.dataType)
                except (ValueError, ArithmeticError):
                    continue  # unparseable dir: keep it (conservative)
            if v not in admissible:
                continue  # not on a path to any emptied partition
            rec(status.getPath(), depth + 1, vals + (v,))

    rec(root, 0, ())
    return removed


def merge_into(spark: SparkSession, target_path: str, source: DataFrame,
               key_cols: list[str],
               partition_cols: list[str] | None = None,
               when_matched: str = "update",
               insert_not_matched: bool = True) -> MergeStats:
    """MERGE ``source`` into the parquet table at ``target_path``.

    Semantics (the ANSI/Delta MERGE core):

    - matched on ``key_cols`` → ``when_matched``: ``"update"`` replaces
      the target row with the source row, ``"delete"`` drops it;
    - source rows matching no target row are inserted when
      ``insert_not_matched`` (classic upsert), else ignored;
    - target rows matching no source row are kept as-is.

    ``source`` must carry exactly the target's columns (schema
    evolution is a table-format feature, refused here) and at most one
    row per key — multiple source rows matching one target row make
    the merge ambiguous, so they raise (the Delta rule), enforced with
    one aggregation over the source.

    Partition-pruned matching carries the standard precondition of
    partitioned upserts (Delta's replaceWhere rule): a key's partition
    values must be stable — a source row whose partition differs from
    its target row's would not see that row (it lives in an unread
    partition) and would insert a duplicate key. Keep partition
    columns functionally dependent on the merge key.

    Returns :class:`MergeStats`; the table at ``target_path`` is
    mutated in place (touched partitions only when ``partition_cols``
    is given, else a full rewrite — partition your mutable tables).
    """
    if when_matched not in ("update", "delete"):
        raise ValueError(f"when_matched must be update|delete, "
                         f"got {when_matched!r}")
    target = spark.read.parquet(target_path)
    source = check_merge_source(target, source, key_cols)

    touched = None
    if partition_cols:
        # dimension-sized collect: one row per touched partition
        touched = (source.select(*partition_cols).distinct().collect())
        if not touched:
            return MergeStats(0, 0, 0, 0)
        # partition-pruned scan
        target = target.where(partition_filter(touched, partition_cols))

    merged = merge_status_frame(target, source, key_cols)

    # materialization barrier: the commit below deletes files this plan
    # reads, so pin the merged rows first (bounded by touched partitions)
    merged = merged.localCheckpoint(eager=True)
    counts = {r["__status"]: r["n"] for r in
              merged.groupBy("__status").agg(F.count("*").alias("n"))
                    .collect()}

    final = merged
    if when_matched == "delete":
        final = final.where(F.col("__status") != "matched")
    if not insert_not_matched:
        final = final.where(F.col("__status") != "insert")
    final = final.drop("__status")
    if partition_cols:
        (final.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy(*partition_cols)
              .parquet(target_path))
        # dynamic overwrite never touches a partition ABSENT from the
        # output — a touched partition whose rows were all deleted
        # must have its old directory removed explicitly. TYPED values
        # on both sides (collected rows are already typed; dir names
        # parse back through the column type).
        present = {
            tuple(r[c] for c in partition_cols)
            for r in final.select(*partition_cols).distinct().collect()}
        emptied = {tuple(r[c] for c in partition_cols)
                   for r in touched} - present
        pfields = [final.schema[c] for c in partition_cols]
        _delete_emptied_partitions(spark, target_path, pfields, emptied)
    else:
        final.write.mode("overwrite").parquet(target_path)

    return MergeStats(
        updated=counts.get("matched", 0) if when_matched == "update"
        else 0,
        deleted=counts.get("matched", 0) if when_matched == "delete"
        else 0,
        inserted=counts.get("insert", 0) if insert_not_matched else 0,
        copied=counts.get("copy", 0))
