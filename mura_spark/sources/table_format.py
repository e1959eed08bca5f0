"""MuraTable: a minimal snapshot-versioned parquet table format.

The reference's Parquet surface is a read-only external-table scan
(/root/reference/src/execution/mod.rs registers parquet for SELECT
only); ``sources/merge.py`` added in-place copy-on-write MERGE on top
of plain directories. This module supplies the remaining lakehouse
mechanics a mutable 100 TB deployment needs — the same core ideas as
Delta/Iceberg, deliberately minimal and Spark-first:

- **Immutable data files + a manifest log.** Every commit writes NEW
  parquet files under ``_data/<commit>/`` and then one JSON manifest
  ``_mura_log/v<N>.json`` listing the complete file set of that
  version. Data files are never modified; a version is exactly its
  manifest's file list.
- **Snapshot isolation for readers.** A reader resolves a manifest
  once and only ever opens files that manifest names; concurrent
  commits create new manifests and never delete files a retained
  version references, so long-running jobs are never broken by a
  writer (``vacuum`` is the explicit, bounded GC step).
- **Time travel.** ``read(version=N)`` resolves the historical
  manifest; ``history()`` lists every commit with its action and row
  delta. Reproducing last month's training run means pinning the
  version number it logged — no table copy.
- **Optimistic single-table concurrency.** The commit point is an
  atomic hard-link of the manifest into the log (``os.link`` fails if
  the version already exists), so two racing writers cannot both win
  one version number. On an object store this needs a log-store
  service (as Delta documents); the local contract is the same.
- **O(touched partitions) copy-on-write.** ``merge`` prunes the
  target scan to the source's partitions, rewrites only those, and the
  new manifest carries forward every untouched file by reference —
  the commit cost is proportional to the data actually changed, never
  to the table.

- **One owner of the manifest protocol.** Every commit kind — the
  table's own, the ``mura_table`` stream sink's
  (sources/table_stream.py) — builds its manifest through
  :meth:`MuraTable._publish`, which carries the table flags (cdf,
  constraints, bloom config, txn marks, stream stamps) forward and
  keeps the per-file stats/rows/blooms in step with the file list.
  Every change-feed reader — :meth:`MuraTable.changes_feed`, the
  ``mura_table`` batch and stream readers, and the incremental view's
  fast-path gate — plans from :func:`plan_changes` and the one
  action classification :data:`FEED_KINDS`.

Scale posture: a manifest is one JSON document listing file paths —
fine for the file counts a compacted table holds (the included
``compact`` pass keeps it that way); Iceberg's split manifests solve
the same problem for 10^7-file tables and are out of scope here.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mura_spark.sources.merge import (MergeStats,
                                      _typed_partition_dir_value,
                                      check_merge_source,
                                      hive_partition_values,
                                      merge_status_frame,
                                      partition_filter)

_LOG_DIR = "_mura_log"
_DATA_DIR = "_data"
_CDF_DIR = "_cdf"
_TAG_DIR = "_mura_tags"
_V_RE = re.compile(r"^v(\d{8})\.json$")


class CommitConflict(RuntimeError):
    """Another writer committed this version first (optimistic
    concurrency); re-read the table and retry the operation."""


def _list_part_files(commit_dir: str) -> list[str]:
    """Relative paths (from the table root) of the parquet files one
    commit wrote, including hive partition segments."""
    out = []
    for root, _dirs, files in os.walk(commit_dir):
        for f in files:
            if f.endswith(".parquet"):
                out.append(os.path.join(root, f))
    return sorted(out)


# hive value canonicalization lives in sources/merge.py (the shared
# MERGE core); this alias keeps this module's public-ish name for
# table_stream.py and the tests
_partition_values = hive_partition_values


#: How each commit action feeds the row-level change feed — the ONE
#: classification the CDF planner (:func:`plan_changes`) and the
#: incremental view's fast-path gate read:
#:
#: - ``insert``: the rows of the files the commit added
#: - ``sidecar``: the commit's ``_cdf/`` files, which carry
#:   ``_change_type`` themselves (DML; needs ``cdf`` on the table)
#: - ``diff``: whole-table replacement — rows of dropped files feed as
#:   deletes, rows of added files as inserts
#: - ``rewrite``: files rewritten, rows unchanged — feeds nothing
#: - ``meta``: file set untouched — feeds nothing
FEED_KINDS = {
    **dict.fromkeys(("create", "append", "stream_append", "clone"),
                    "insert"),
    **dict.fromkeys(("merge", "delete", "update"), "sidecar"),
    **dict.fromkeys(("overwrite", "restore"), "diff"),
    "compact": "rewrite",
    **dict.fromkeys(("set_cdf", "set_bloom_cols", "add_constraint",
                     "drop_constraint"), "meta"),
}


def plan_changes(manifest, since: int,
                 to: int) -> list[tuple[int, str | None, list[str],
                                        str | None]]:
    """Plan the row-level change feed of versions ``(since, to]`` from
    their manifests alone (``manifest(v)`` returns version ``v``'s;
    ``since=0`` feeds from an empty table). One entry per fed slice:
    ``(version, change_type, files, schema_json)`` — ``change_type``
    is the constant every row of ``files`` feeds as, or None for a DML
    sidecar whose files carry ``_change_type`` themselves (its schema
    is then the sidecar's own, which may be None on manifests that
    predate ``cdf_schema``). Slices without files are omitted. Raises
    ValueError for a DML version committed while ``cdf`` was off, or
    when a version in the range was vacuumed."""
    out = []
    prev = manifest(since) if since >= 1 else None
    prev_files = set(prev["files"]) if prev else set()
    for v in range(max(since, 0) + 1, to + 1):
        m = manifest(v)
        kind = FEED_KINDS.get(m["action"])
        added = [f for f in m["files"] if f not in prev_files]
        if kind == "sidecar":
            if "cdf_files" not in m:
                raise ValueError(
                    f"version {v} ({m['action']}) has no row-level CDF "
                    f"sidecar — it was committed while cdf=False; "
                    f"enable with set_cdf(True) (or create(..., "
                    f"cdf=True)) before DML you want to feed")
            out.append((v, None, m["cdf_files"], m.get("cdf_schema")))
        elif kind == "diff":
            out.append((v, "delete", sorted(prev_files - set(m["files"])),
                        (prev or m)["schema"]))
        if kind in ("insert", "diff"):
            out.append((v, "insert", added, m["schema"]))
        prev, prev_files = m, set(m["files"])
    return [s for s in out if s[2]]


class MuraTable:
    """Handle to a versioned table rooted at ``path``.

    Construct via :meth:`create` (first commit) or :meth:`load`.
    Handles are not thread-safe (a commit in flight parks its pending
    dirs on the instance); concurrent writers should each
    :meth:`load` their own handle — the optimistic manifest commit is
    what serializes them (see ``CommitConflict``), not the handle.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.log_dir = os.path.join(path, _LOG_DIR)

    # ------------------------------------------------------------ log

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(int(m.group(1)) for f in os.listdir(self.log_dir)
                      if (m := _V_RE.match(f)))

    def _latest(self) -> int:
        versions = self._versions()
        if not versions:
            raise FileNotFoundError(f"no MuraTable log at {self.path}")
        return versions[-1]

    def _manifest(self, version: int | None = None) -> dict:
        if version is None:
            version = self._latest()
        # direct open: O(1) per explicit-version read, so per-version
        # walks (history, changes_feed, view state) stay O(V) instead
        # of O(V^2) directory listings
        try:
            with open(os.path.join(self.log_dir,
                                   f"v{version:08d}.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            versions = self._versions()
            if not versions:
                raise FileNotFoundError(
                    f"no MuraTable log at {self.path}") from None
            raise ValueError(
                f"version {version} not in table log (have "
                f"{versions[0]}..{versions[-1]}; vacuumed versions are "
                f"gone for good)") from None

    def _commit(self, version: int, manifest: dict) -> None:
        """Atomically publish ``manifest`` as ``version`` (hard-link
        commit point: exactly one writer can win a version number)."""
        import time
        manifest.setdefault("ts", round(time.time(), 3))
        os.makedirs(self.log_dir, exist_ok=True)
        tmp = os.path.join(self.log_dir,
                           f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        final = os.path.join(self.log_dir, f"v{version:08d}.json")
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise CommitConflict(
                f"version {version} of {self.path} was committed by "
                f"another writer — reload and retry") from None
        finally:
            os.unlink(tmp)

    @staticmethod
    def _constrained(df: DataFrame, constraints: dict | None) -> DataFrame:
        """Enforce CHECK constraints IN the write plan: the first
        output column is wrapped so any row whose constraint evaluates
        to FALSE (NULL passes — the SQL CHECK rule) raises a
        ``[mura constraint]`` error naming the constraint and the row,
        and the commit never publishes. Zero extra passes — the check
        rides the write scan itself, per-row, executor-side."""
        if not constraints:
            return df
        cols = df.columns
        first = cols[0]
        out = F.col(first)
        for name, expr in sorted(constraints.items()):
            bad = ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
            msg = F.concat(
                F.lit(f"[mura constraint] CHECK {name} ({expr}) "
                      f"violated by row "),
                F.substring(F.to_json(F.struct(*[F.col(c)
                                                 for c in cols])),
                            1, 500))
            out = F.when(bad, F.raise_error(msg)).otherwise(out)
        return df.withColumn(first, out)

    def _write_data(self, df: DataFrame,
                    partition_cols: list[str] | None,
                    constraints: dict | None = None) -> list[str]:
        """Write ``df`` as immutable files under a fresh commit dir;
        return their table-relative paths. The commit dir is remembered
        so a losing optimistic commit can discard its orphaned files."""
        df = self._constrained(df, constraints)
        commit = uuid.uuid4().hex
        commit_dir = os.path.join(self.path, _DATA_DIR, commit)
        w = df.write.mode("error")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(commit_dir)
        self._pending_commit_dir = commit_dir
        return [os.path.relpath(p, self.path)
                for p in _list_part_files(commit_dir)]

    def _file_meta(self, files: list[str],
                   stats_cols: list[str]) -> tuple[dict, dict]:
        """Per-file footer metadata in ONE pass over freshly written
        files (O(files) metadata reads, no data): min/max for
        ``stats_cols`` and exact row counts.

        The min/max side is the Delta/Iceberg data-skipping idea: at
        100 TB the manifest answers \"which files can hold k in
        [lo, hi]\" before the engine lists or opens anything. Numeric
        columns only — parquet string min/max may be footer-truncated,
        which would make max-based pruning unsound. The row-count side
        makes COUNT(*) a manifest sum (:meth:`row_count`)."""
        import pyarrow.parquet as pq
        stats, rows = {}, {}
        for rel in files:
            md = pq.ParquetFile(os.path.join(self.path, rel)).metadata
            rows[rel] = md.num_rows
            idx = {md.schema.column(i).name: i
                   for i in range(md.num_columns)}
            col_stats = {}
            for c in stats_cols:
                if c not in idx:
                    continue  # file predates this column
                mn = mx = None
                ok = True
                for rg in range(md.num_row_groups):
                    s = md.row_group(rg).column(idx[c]).statistics
                    if s is None or not s.has_min_max:
                        ok = False  # no stats -> never prune this file
                        break
                    mn = s.min if mn is None else min(mn, s.min)
                    mx = s.max if mx is None else max(mx, s.max)
                if ok and mn is not None:
                    col_stats[c] = [mn, mx]
            stats[rel] = col_stats
        return stats, rows

    #: manifest keys that describe the table SNAPSHOT and its flags —
    #: what every commit carries forward (as opposed to per-commit
    #: bookkeeping like action/meta/predicate/cdf_files)
    _SNAPSHOT_KEYS = ("partition_cols", "schema", "stats_cols", "stats",
                      "rows", "files", "bloom_cols", "bloom_bits",
                      "bloom_k", "blooms", "constraints", "txns",
                      "cdf", "stream_batches")

    def _txn_guard(self, prev: dict,
                   txn: tuple[str, int] | None) -> tuple[bool, dict]:
        """Idempotent-writer bookkeeping (Delta's txnAppId/txnVersion):
        ``txn=("app", n)`` stamps the commit with the application's own
        monotonically increasing version; a commit whose stamp is <=
        the app's recorded high-water mark is a REPLAY and must be
        skipped — the retry-safe contract that lets a pipeline re-run
        a failed batch blindly without double-appending. Returns
        ``(skip, manifest_txn_fields)``."""
        if txn is None:
            return False, {}
        app, ver = txn
        last = prev.get("txns", {}).get(app)
        if last is not None and int(ver) <= last:
            return True, {}
        return False, {"txns": {**prev.get("txns", {}),
                                app: int(ver)}}

    @classmethod
    def _snapshot_fields(cls, m: dict) -> dict:
        return {k: m[k] for k in cls._SNAPSHOT_KEYS if k in m}

    def _publish(self, v: int, base: dict, action: str,
                 new_files: list[str], keep_files: list[str] = (),
                 new_blooms: dict | None = None, **fields) -> dict:
        """THE manifest-commit builder — every commit kind publishes
        through here. The manifest starts from ``base``'s snapshot
        fields, so every table flag (cdf, constraints, bloom config,
        txn marks, stream stamps) rides forward; the per-file
        stats/rows/blooms maps are restricted to ``keep_files`` (the
        files carried by reference) and extended with footer metadata
        for ``new_files`` (just written by :meth:`_write_data`) and,
        when the table tracks bloom columns, their blooms: carried
        bitmaps are copied (immutable files, immutable blooms); new
        files take ``new_blooms`` when the caller already built them
        (the stream sink's executors), else one executor-side build
        pass. ``fields`` apply last; a None value drops the key.
        Published by :meth:`_commit_new`, so a lost race deletes the
        new files. Returns the published manifest."""
        from mura_spark.sources.bloom import (DEFAULT_BITS, DEFAULT_K,
                                              build_blooms)
        keep = set(keep_files)
        m = self._snapshot_fields(base)
        stats, rows = self._file_meta(new_files, m.get("stats_cols", []))
        m["stats"] = {**{f: s for f, s in m.get("stats", {}).items()
                         if f in keep}, **stats}
        m["rows"] = {**{f: n for f, n in m.get("rows", {}).items()
                        if f in keep}, **rows}
        if m.get("bloom_cols"):
            bits = m.setdefault("bloom_bits", DEFAULT_BITS)
            k = m.setdefault("bloom_k", DEFAULT_K)
            if new_blooms is None:
                new_blooms = build_blooms(self.spark, self.path, new_files,
                                          m["bloom_cols"], bits, k)
            m["blooms"] = {**{f: b for f, b in m.get("blooms", {}).items()
                              if f in keep}, **new_blooms}
        for key, value in fields.items():
            if value is None:
                m.pop(key, None)
            else:
                m[key] = value
        m.update(version=v, action=action,
                 files=list(keep_files) + new_files)
        self._commit_new(v, m)
        return m

    @staticmethod
    def _check_bloom_bits(bloom_bits: int | None) -> int:
        """Validated per-file bloom size in bits (power of two so the
        double-hash probe walks the whole table; default 2^17 = 16 KiB
        ≈ 13 k keys at ~1% fpp). Size ~10 bits per expected distinct
        key per file: a 1 M-distinct-key file wants 2^23 (1 MiB) —
        compression keeps under-filled blooms cheap in the manifest."""
        from mura_spark.sources.bloom import DEFAULT_BITS
        if bloom_bits is None:
            return DEFAULT_BITS
        if bloom_bits < 1024 or bloom_bits & (bloom_bits - 1):
            raise ValueError(
                f"bloom_bits must be a power of two >= 1024, got "
                f"{bloom_bits}")
        return int(bloom_bits)

    @staticmethod
    def _check_bloom_cols(schema, bloom_cols, partition_cols) -> None:
        from mura_spark.sources.bloom import BLOOMABLE_TYPES
        types = {f.name: f.dataType.typeName() for f in schema.fields}
        for c in bloom_cols:
            if c in (partition_cols or []):
                raise ValueError(
                    f"bloom column {c!r} is a partition column — the "
                    f"directory layout already prunes it exactly")
            if c not in types:
                raise ValueError(f"bloom column {c!r} not in schema")
            if types[c] not in BLOOMABLE_TYPES:
                raise ValueError(
                    f"bloom column {c!r} has type {types[c]} — equality "
                    f"lookups support {'/'.join(BLOOMABLE_TYPES)} only")

    @staticmethod
    def _default_stats_cols(schema, partition_cols) -> list[str]:
        numeric = ("byte", "short", "int", "integer", "long", "float",
                   "double", "bigint", "smallint", "tinyint")
        return [f.name for f in schema.fields
                if f.name not in (partition_cols or [])
                and f.dataType.typeName() in numeric][:8]

    def _commit_new(self, version: int, manifest: dict) -> None:
        """Publish a manifest whose new files were just written by
        :meth:`_write_data`; on a lost optimistic race, delete those
        files (no other version references them) before re-raising."""
        try:
            self._commit(version, manifest)
        except CommitConflict:
            import shutil
            for attr in ("_pending_commit_dir", "_pending_cdf_dir"):
                pending = getattr(self, attr, None)
                if pending and os.path.isdir(pending):
                    shutil.rmtree(pending, ignore_errors=True)
            raise
        finally:
            self._pending_commit_dir = None
            self._pending_cdf_dir = None

    # ------------------------------------------------------------- cdf

    def _write_cdf(self, df: DataFrame) -> dict:
        """Write a commit's row-level change frame (``_change_type``
        column included) under ``_cdf/<commit>/``; returns the manifest
        fields: ``cdf_files`` (table-relative paths) and ``cdf_schema``
        (the written frame's exact schema, so :meth:`changes_feed` can
        read the sidecar with an explicit schema instead of paying a
        footer-inference Spark job per fed commit — the same
        schema-in-the-log posture Delta takes). CDF files are sidecars:
        never listed as table data, GC'd by vacuum with the manifests
        that reference them."""
        commit_dir = os.path.join(self.path, _CDF_DIR, uuid.uuid4().hex)
        df.write.mode("error").parquet(commit_dir)
        self._pending_cdf_dir = commit_dir
        return {"cdf_files": [os.path.relpath(p, self.path)
                              for p in _list_part_files(commit_dir)],
                "cdf_schema": df.schema.json()}

    def changes_feed(self, since_version: int,
                     version: int | None = None) -> DataFrame:
        """Row-level Change Data Feed (the Delta CDF contract): every
        row change in ``(since_version, version]`` with
        ``_change_type`` (insert | update_preimage | update_postimage
        | delete) and ``_commit_version`` columns — the incremental
        surface that, unlike :meth:`changes` (file-level, replays
        rewritten copies), lets a consumer apply EXACT row deltas.

        Each version feeds as its action's :data:`FEED_KINDS` entry
        says, planned by :func:`plan_changes` — the one planner this
        method and the ``mura_table`` readers share. Insert-only
        commits (create/append/stream_append) derive their feed from
        the manifest file diff — no sidecar cost. DML commits
        (merge/delete/update) read the row-level sidecar written when
        the table has ``cdf=True`` (create flag or :meth:`set_cdf`);
        a DML commit made while CDF was off fails the read loudly.
        Compaction and metadata-only commits change no rows and
        contribute nothing. ``overwrite``/``restore`` feed as a FILE
        DIFF — rows of dropped files as deletes, rows of added files
        as inserts (files present in both versions feed nothing, so a
        restore that undoes one bad commit feeds only the net change;
        a full overwrite intrinsically feeds the whole table).

        Plan shape: one subtree per fed slice of :func:`plan_changes`
        (a union chain of native parquet scans) — the same plan the
        registered reader maps to its file partitions. For very long
        ranges (hundreds of commits) prefer that reader —
        ``spark.read.format("mura_table")
        .option("readChangeFeed", "true").option("startingVersion",
        n)`` — which plans ONE flat file-level scan regardless of
        range length (sources/table_stream.py)."""
        from pyspark.sql.types import StructType
        to_v = version if version is not None else self._latest()
        out = None
        for v, ctype, files, schema in plan_changes(
                self._manifest, since_version, to_v):
            if ctype is None:
                # DML sidecar: the files carry _change_type; the
                # manifest's sidecar schema skips a footer-inference
                # Spark job per fed commit
                reader = self.spark.read
                if schema:
                    reader = reader.schema(
                        StructType.fromJson(json.loads(schema)))
                frame = reader.parquet(
                    *[os.path.join(self.path, f) for f in files])
            else:
                frame = self._read_files(files, schema).withColumn(
                    "_change_type", F.lit(ctype))
            frame = frame.withColumn("_commit_version",
                                     F.lit(v).cast("long"))
            out = frame if out is None else \
                out.unionByName(frame, allowMissingColumns=True)
        if out is None:
            m = self._manifest(to_v)
            schema = StructType.fromJson(json.loads(m["schema"]))
            df = self.spark.createDataFrame([], schema)
            return (df.withColumn("_change_type", F.lit(""))
                      .withColumn("_commit_version",
                                  F.lit(0).cast("long")).limit(0))
        return out

    def set_cdf(self, enabled: bool) -> int:
        """Toggle row-level CDF sidecar writing for FUTURE DML commits
        (metadata-only commit). Insert feeds work regardless (derived
        from manifest diffs); the sidecar is only needed for
        merge/delete/update."""
        v, prev = self._next_version()
        return self._publish(v, prev, "set_cdf", [], prev["files"],
                             cdf=enabled or None)["version"]

    # ------------------------------------------------------- lifecycle

    @classmethod
    def create(cls, spark: SparkSession, path: str, df: DataFrame,
               partition_cols: list[str] | None = None,
               stats_cols: list[str] | None = None,
               bloom_cols: list[str] | None = None,
               bloom_bits: int | None = None,
               constraints: dict | None = None,
               cdf: bool = False,
               meta: dict | None = None) -> "MuraTable":
        """First commit (version 1) of a new table. ``stats_cols``
        picks the columns whose per-file min/max the manifests track
        for :meth:`read`'s ``skip`` pruning (default: up to 8 numeric
        non-partition columns). ``bloom_cols`` (opt-in) adds a per-file
        bloom filter per listed column — int/string/binary only — for
        :meth:`read`'s ``lookup`` equality pruning; every subsequent
        commit maintains them for its new files. ``constraints``
        (``{name: sql_expr}``) are CHECK constraints every commit
        enforces in-plan (see :meth:`add_constraint`). ``cdf=True``
        makes DML commits write row-level change sidecars for
        :meth:`changes_feed`."""
        t = cls(spark, path)
        if t._versions():
            raise FileExistsError(f"MuraTable already exists at {path}")
        if stats_cols is None:
            stats_cols = cls._default_stats_cols(df.schema,
                                                 partition_cols)
        base = {"partition_cols": partition_cols or [],
                "schema": df.schema.json(), "stats_cols": stats_cols}
        if bloom_cols:
            cls._check_bloom_cols(df.schema, bloom_cols, partition_cols)
            from mura_spark.sources.bloom import DEFAULT_K
            base.update(bloom_cols=list(bloom_cols),
                        bloom_bits=cls._check_bloom_bits(bloom_bits),
                        bloom_k=DEFAULT_K)
        files = t._write_data(df, partition_cols, constraints)
        t._publish(1, base, "create", files,
                   constraints=constraints or None,
                   cdf=cdf or None, meta=meta)
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "MuraTable":
        t = cls(spark, path)
        t._manifest()  # existence check
        return t

    # ------------------------------------------------------------ read

    def _read_files(self, files: list[str], schema_json: str) -> DataFrame:
        """Union the given table-relative files grouped per commit dir
        (each under its own hive basePath so partition columns and
        pruning survive); typed empty frame when the list is empty.
        Every commit is aligned to the manifest schema, so files
        written before a schema evolution read their newer columns as
        typed NULLs."""
        from pyspark.sql.types import StructType
        schema = StructType.fromJson(json.loads(schema_json))
        if not files:
            return self.spark.createDataFrame([], schema)
        by_commit: dict[str, list[str]] = {}
        for rel in files:
            parts = rel.split(os.sep)
            base = os.path.join(self.path, *parts[:2])  # _data/<commit>
            by_commit.setdefault(base, []).append(
                os.path.join(self.path, rel))
        # the manifest schema restricted to columns this commit's files
        # can serve: an explicit reader schema skips the per-commit
        # footer schema inference (a driver-side round per commit per
        # read — guide §5/§6), and the reader itself fills columns the
        # files predate with typed NULLs, which the select below pins
        # anyway. Partition columns resolve from the hive layout under
        # basePath exactly as with the inferred path.
        out = None
        for base, paths in sorted(by_commit.items()):
            df = (self.spark.read.schema(schema)
                  .option("basePath", base)
                  .parquet(*paths))
            have = set(df.columns)
            # cast pins hive partition-INFERRED types (e.g. "1" -> int)
            # back to the manifest's contract type; no-op when equal
            df = df.select(*[
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields])
            out = df if out is None else out.unionByName(df)
        return out

    @staticmethod
    def _file_survives(col_stats: dict | None, skip: dict) -> bool:
        """Can a file with these min/max stats hold a row inside every
        requested range? Missing stats keep the file (conservative)."""
        if not col_stats:
            return True
        for c, (lo, hi) in skip.items():
            if c not in col_stats:
                continue
            mn, mx = col_stats[c]
            if (hi is not None and mn > hi) or \
                    (lo is not None and mx < lo):
                return False
        return True

    @staticmethod
    def _file_survives_lookup(m: dict, f: str, lookup: dict) -> bool:
        """Equality-lookup pruning from manifest metadata: a file is
        dropped when its min/max range excludes the value OR its bloom
        filter proves the value absent. A LIST of values is an IN-list
        lookup — the file survives if ANY value might be present (the
        batch-fetch shape: pull k documents by id in one read). Files
        lacking either kind of metadata for a column are kept
        (conservative)."""
        from mura_spark.sources.bloom import (DEFAULT_BITS, DEFAULT_K,
                                              might_contain)
        col_stats = m.get("stats", {}).get(f) or {}
        blooms = m.get("blooms", {}).get(f) or {}
        bits = m.get("bloom_bits", DEFAULT_BITS)
        k = m.get("bloom_k", DEFAULT_K)
        for c, vs in lookup.items():
            values = vs if isinstance(vs, (list, tuple, set)) else [vs]
            if not values or any(v is None for v in values):
                raise ValueError(
                    f"lookup[{c!r}] contains None (or is empty) — use "
                    f"an IS NULL filter; blooms index values, not "
                    f"nulls")

            def value_possible(v) -> bool:
                if c in col_stats:
                    mn, mx = col_stats[c]
                    try:
                        if v < mn or v > mx:
                            return False
                    except TypeError:
                        pass  # incomparable types: stats can't prune
                if c in blooms and not might_contain(blooms[c], v,
                                                     bits, k):
                    return False
                return True

            if not any(value_possible(v) for v in values):
                return False
        return True

    def read(self, version: int | None = None,
             skip: dict | None = None,
             tag: str | None = None,
             lookup: dict | None = None) -> DataFrame:
        """The table as of ``version`` (default: latest), or of the
        version pinned by ``tag`` (mutually exclusive with version).

        Each commit's files are read under their own hive ``basePath``
        (partition columns re-derived from the layout) and the commits
        are unioned — partition and predicate pruning apply per
        subtree, so a filtered time-travel read still skips files.

        ``skip`` is manifest-level data skipping: ``{col: (lo, hi)}``
        drops every file whose footer min/max proves it holds no row
        with ``col`` in ``[lo, hi]`` (either bound may be None). This
        prunes the FILE LIST from driver-side metadata — at 100 TB the
        scan never lists or opens skipped files — but it is an I/O
        optimization, not a filter: surviving files still carry rows
        outside the range, so apply the real predicate on top (which
        Catalyst then also pushes into the surviving footers).

        ``lookup`` is the EQUALITY twin: ``{col: value}`` drops every
        file whose min/max range excludes the value or whose bloom
        filter (tracked when the table was created with ``bloom_cols``)
        proves it absent — the needle-in-100 TB path min/max can't
        serve on high-NDV unclustered columns. Same contract as
        ``skip``: pruning only, apply the real ``col = value`` filter
        on top; false positives cost I/O, never correctness.
        """
        if tag is not None:
            if version is not None:
                raise ValueError("pass version or tag, not both")
            version = self._resolve_tag(tag)
        m = self._manifest(version)
        files = m["files"]
        if skip:
            stats = m.get("stats", {})
            files = [f for f in files
                     if self._file_survives(stats.get(f), skip)]
        if lookup:
            files = [f for f in files
                     if self._file_survives_lookup(m, f, lookup)]
        return self._read_files(files, m["schema"])

    def history(self) -> list[dict]:
        """Every retained commit, oldest first."""
        return [self._manifest(v) for v in self._versions()]

    def changes(self, since_version: int,
                version: int | None = None) -> DataFrame:
        """Rows in files ADDED after ``since_version`` (exclusive), up
        to ``version`` (default latest) — the incremental-consumption
        surface: a pipeline that processed version N tails the table
        with ``changes(N)`` and touches only the new files, never the
        table. For ``append`` commits this is exactly the inserted
        rows. ``merge``/``overwrite``/``compact`` commits REWRITE
        files, so their changed frames contain every row of the
        rewritten partitions (copies included) — the reader must upsert
        by key, the same contract Delta's file-level CDC has without
        the change-data-feed option. Cost is O(new files): the baseline
        file set is a manifest diff, no data read."""
        m_to = self._manifest(version)
        base = set(self._manifest(since_version)["files"])
        new = [f for f in m_to["files"] if f not in base]
        return self._read_files(new, m_to["schema"])

    # ----------------------------------------------------------- write

    def _next_version(self) -> tuple[int, dict]:
        m = self._manifest()
        return m["version"] + 1, m

    def _check_schema(self, df: DataFrame, prev: dict,
                      merge_schema: bool) -> str:
        """Validate ``df`` against the table schema; return the (maybe
        evolved) manifest schema JSON. Evolution is ADD-COLUMN only
        (the Delta mergeSchema rule): existing columns must keep their
        exact types, new columns are appended and read as NULL from
        files written before them."""
        from pyspark.sql.types import StructType
        cur = StructType.fromJson(json.loads(prev["schema"]))
        cur_types = {f.name: f.dataType for f in cur.fields}
        for f in df.schema.fields:
            if f.name in cur_types:
                if f.dataType != cur_types[f.name]:
                    raise ValueError(
                        f"column {f.name!r}: {f.dataType.simpleString()}"
                        f" != table type "
                        f"{cur_types[f.name].simpleString()} (type "
                        f"changes are not supported)")
            elif not merge_schema:
                raise ValueError(
                    f"new column {f.name!r} — pass merge_schema=True "
                    f"to evolve the table schema")
        missing = set(cur_types) - {f.name for f in df.schema.fields}
        if missing:
            raise ValueError(
                f"frame lacks table columns {sorted(missing)} — fill "
                f"them (with NULL if needed) before committing")
        if not merge_schema:
            return prev["schema"]
        from pyspark.sql.types import StructField
        # added columns are nullable BY CONSTRUCTION: every file from
        # before the evolution reads them as NULL
        evolved = StructType(cur.fields + [
            StructField(f.name, f.dataType, nullable=True,
                        metadata=f.metadata)
            for f in df.schema.fields if f.name not in cur_types])
        return evolved.json()

    def append(self, df: DataFrame, merge_schema: bool = False,
               meta: dict | None = None,
               txn: tuple[str, int] | None = None) -> int:
        """Commit ``df`` as new rows; returns the new version.
        ``merge_schema=True`` lets ``df`` carry NEW columns (appended
        to the table schema; earlier files read them as NULL).
        ``meta`` rides the manifest (Delta's userMetadata analog) —
        application state that must move atomically with the data,
        e.g. the incremental view's source watermark.
        ``txn=("app_id", n)`` makes the append IDEMPOTENT per
        application version: a replay (n <= the app's recorded
        high-water mark) is skipped and the current version returned —
        the blind-retry contract for batch pipelines."""
        v, prev = self._next_version()
        skip, txns = self._txn_guard(prev, txn)
        if skip:
            return prev["version"]
        schema = self._check_schema(df, prev, merge_schema)
        files = self._write_data(df, prev["partition_cols"] or None,
                                 prev.get("constraints"))
        return self._publish(v, prev, "append", files, prev["files"],
                             schema=schema, meta=meta,
                             **txns)["version"]

    def overwrite(self, df: DataFrame, meta: dict | None = None,
                  txn: tuple[str, int] | None = None) -> int:
        """Replace the table's contents (old versions stay readable).
        The manifest schema follows ``df`` — a full replacement may
        reshape freely; historical versions keep their own schema.
        ``txn`` as in :meth:`append`."""
        v, prev = self._next_version()
        skip, txns = self._txn_guard(prev, txn)
        if skip:
            return prev["version"]
        files = self._write_data(df, prev["partition_cols"] or None,
                                 prev.get("constraints"))
        return self._publish(v, prev, "overwrite", files,
                             schema=df.schema.json(), meta=meta,
                             **txns)["version"]

    def merge(self, source: DataFrame, key_cols: list[str],
              when_matched: str = "update",
              insert_not_matched: bool = True,
              sync_delete: bool = False,
              meta: dict | None = None,
              txn: tuple[str, int] | None = None, *,
              trust_source_unique: bool = False,
              source_unique: bool = False) -> MergeStats:
        """Copy-on-write MERGE with snapshot semantics.

        Same row semantics as :func:`mura_spark.sources.merge.merge_into`
        (update|delete on match, optional insert, ambiguous-source
        rejection) — but instead of overwriting files in place, it
        rewrites ONLY the touched partitions into a new commit and
        publishes a manifest that keeps every untouched file by
        reference. Old versions remain time-travel readable until
        :meth:`vacuum`.

        Partition-pruned matching carries the standard precondition of
        partitioned upserts (Delta's replaceWhere rule): a key's
        partition values must be stable — a source row whose partition
        differs from its target row's would not see that row (it lives
        in an unread partition) and would insert a duplicate key. Keep
        partition columns functionally dependent on the merge key.

        ``when_matched="ignore"`` keeps matched target rows unchanged
        (insert-only merge — the SQL ``MERGE`` with no WHEN MATCHED
        clause).

        ``sync_delete=True`` is ``WHEN NOT MATCHED BY SOURCE THEN
        DELETE``: target rows whose key is absent from the source are
        dropped, making the table an exact mirror of the source after
        the merge (the CDC full-sync shape). This necessarily
        evaluates the WHOLE target — "absent from the source" cannot
        be decided inside the source's partitions — so partition
        pruning is disabled for the commit (a full rewrite, priced
        accordingly; Delta's NOT MATCHED BY SOURCE scans the full
        target for the same reason).

        ``trust_source_unique=True`` skips the ambiguous-source check
        for a source that is unique per key by construction. Nothing
        checks the trust: a source with several rows for one key then
        gives wrong, nondeterministic output (duplicated keys) and
        raises no error (see
        :func:`mura_spark.sources.merge.check_merge_source`).
        ``source_unique`` is its former name, still accepted for
        ``perfbench/workloads.py``.
        """
        if when_matched not in ("update", "delete", "ignore"):
            raise ValueError(f"when_matched must be "
                             f"update|delete|ignore, "
                             f"got {when_matched!r}")
        v, prev = self._next_version()
        skip, txns = self._txn_guard(prev, txn)
        if skip:
            return MergeStats(0, 0, 0, 0)
        pcols = prev["partition_cols"]
        target = self.read()
        source = check_merge_source(
            target, source, key_cols,
            trust_source_unique=trust_source_unique or source_unique)

        # unpartitioned: full rewrite, nothing carried by reference
        keep_files = []
        if pcols and sync_delete:
            pcols_prune = None  # sync must see the WHOLE target
        else:
            pcols_prune = pcols
        if pcols_prune:
            # dimension-sized collect: one row per touched partition
            rows = source.select(*pcols).distinct().collect()
            if not rows:
                return MergeStats(0, 0, 0, 0)
            # partition-pruned scan (typed literals on bare partition
            # columns — the shape partition pruning recognizes)
            target = target.where(partition_filter(rows, pcols))
            # TYPED comparison: directory strings are Java-rendered
            # ('1.0E-7') while collected rows are Python values; both
            # sides meet at the parsed type (see merge.py). A file
            # whose dir value doesn't parse stays by reference.
            ptypes = {c: target.schema[c].dataType for c in pcols}
            touched = {tuple(row[c] for c in pcols) for row in rows}

            def _typed_of(f: str):
                out = []
                for c, raw in zip(pcols, _partition_values(f, pcols)):
                    if raw is None:
                        out.append(None)
                        continue
                    try:
                        out.append(_typed_partition_dir_value(
                            raw, ptypes[c]))
                    except (ValueError, ArithmeticError):
                        return None  # unparseable: keep the file
                return tuple(out)

            keep_files = [f for f in prev["files"]
                          if _typed_of(f) not in touched]

        cols = list(target.columns)
        cdf_on = bool(prev.get("cdf"))
        merged = merge_status_frame(
            target, source, key_cols,
            take_source_matched=(when_matched != "ignore"),
            with_preimages=cdf_on)
        # COW writes only NEW files, so no materialization barrier is
        # ever needed for correctness — the read plan's files are never
        # touched. With CDF on, the merged frame has TWO consumers (the
        # sidecar write + the data write), so cache it and count from
        # the cached copy; without CDF the data write is the ONLY
        # consumer, so the status counts ride it as an observed metric
        # and the merge is a single pass (no checkpoint job, no count
        # job — the observation node sits under the status filters).
        obs = None
        if cdf_on:
            merged = merged.localCheckpoint(eager=True)
            counts = {r["__status"]: r["n"] for r in
                      merged.groupBy("__status")
                            .agg(F.count("*").alias("n")).collect()}
        else:
            from pyspark.sql import Observation
            obs = Observation()
            st = F.col("__status")
            merged = merged.observe(
                obs,
                F.sum(F.when(st == "matched", 1).otherwise(0))
                 .alias("matched"),
                F.sum(F.when(st == "insert", 1).otherwise(0))
                 .alias("insert"),
                F.sum(F.when(st == "copy", 1).otherwise(0))
                 .alias("copy"))
        cdf_fields = {}
        if cdf_on:
            pre = [F.col(f"__pre_{c}").alias(c) for c in cols]
            post = [F.col(c) for c in cols]
            st = F.col("__status")
            frames = []
            matched = merged.where(st == "matched")
            if when_matched == "update":
                frames += [
                    matched.select(*pre).withColumn(
                        "_change_type", F.lit("update_preimage")),
                    matched.select(*post).withColumn(
                        "_change_type", F.lit("update_postimage"))]
            elif when_matched == "delete":
                frames.append(matched.select(*pre).withColumn(
                    "_change_type", F.lit("delete")))
            if insert_not_matched:
                frames.append(
                    merged.where(st == "insert").select(*post)
                          .withColumn("_change_type", F.lit("insert")))
            if sync_delete:
                # copy rows took the target side, so post == preimage
                frames.append(
                    merged.where(st == "copy").select(*post)
                          .withColumn("_change_type", F.lit("delete")))
            if frames:
                cdf = frames[0]
                for fr in frames[1:]:
                    cdf = cdf.unionByName(fr)
                cdf_fields = self._write_cdf(cdf)
            else:
                cdf_fields = {"cdf_files": []}
        final = merged
        if when_matched == "delete":
            final = final.where(F.col("__status") != "matched")
        if not insert_not_matched:
            final = final.where(F.col("__status") != "insert")
        if sync_delete:
            final = final.where(F.col("__status") != "copy")
        drop = ["__status"] + [f"__pre_{c}" for c in cols] \
            if cdf_on else ["__status"]
        new_files = self._write_data(final.drop(*drop),
                                     pcols or None,
                                     prev.get("constraints"))
        if obs is not None:
            counts = {k: int(v) for k, v in obs.get.items()
                      if v is not None}
        self._publish(v, prev, "merge", new_files, keep_files, meta=meta,
                      **txns, **cdf_fields)
        return MergeStats(
            updated=counts.get("matched", 0) if when_matched == "update"
            else 0,
            deleted=(counts.get("matched", 0) if when_matched == "delete"
                     else 0)
            + (counts.get("copy", 0) if sync_delete else 0),
            inserted=counts.get("insert", 0) if insert_not_matched
            else 0,
            copied=0 if sync_delete else counts.get("copy", 0))

    # ----------------------------------------------------------- tags

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin ``version`` (default: latest) under an immutable name —
        the reproducibility anchor: a training run tags the snapshot it
        read (``t.tag("run-2026-08-15")``) and ``read(tag=...)``
        reproduces it forever, because :meth:`vacuum` keeps every
        tagged version's manifest and files regardless of the retention
        window. Tag files commit with the same atomic hard-link as
        manifests, so a name can never be reassigned silently; use
        :meth:`untag` first to move one."""
        if not re.fullmatch(r"[\w][\w.-]*", name):
            raise ValueError(f"invalid tag name {name!r}")
        m = self._manifest(version)  # validates the version exists
        tag_dir = os.path.join(self.path, _TAG_DIR)
        os.makedirs(tag_dir, exist_ok=True)
        tmp = os.path.join(tag_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump({"name": name, "version": m["version"]}, f)
        final = os.path.join(tag_dir, name + ".json")
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise ValueError(
                f"tag {name!r} already pins version "
                f"{self.tags()[name]} — tags are immutable; untag "
                f"first to move it") from None
        finally:
            os.unlink(tmp)
        return m["version"]

    def untag(self, name: str) -> None:
        try:
            os.unlink(os.path.join(self.path, _TAG_DIR, name + ".json"))
        except FileNotFoundError:
            raise ValueError(f"no tag {name!r}") from None

    def tags(self) -> dict[str, int]:
        """All tag names -> pinned version."""
        tag_dir = os.path.join(self.path, _TAG_DIR)
        out = {}
        if os.path.isdir(tag_dir):
            for f in os.listdir(tag_dir):
                if f.endswith(".json") and not f.startswith("."):
                    with open(os.path.join(tag_dir, f)) as fh:
                        d = json.load(fh)
                    out[d["name"]] = d["version"]
        return out

    def _resolve_tag(self, tag: str) -> int:
        tags = self.tags()
        if tag not in tags:
            raise ValueError(f"no tag {tag!r} (have {sorted(tags)})")
        return tags[tag]

    def row_count(self, version: int | None = None) -> int:
        """Exact COUNT(*) as of ``version`` from manifest metadata —
        a driver-side sum of the per-file footer row counts every
        commit records, no scan, no job. Files committed before row
        tracking existed lack an entry, in which case this falls back
        to counting the snapshot the ordinary way."""
        m = self._manifest(version)
        rows = m.get("rows", {})
        if all(f in rows for f in m["files"]):
            return sum(rows[f] for f in m["files"])
        return self.read(version=version).count()

    def _rewrite_where(self, predicate, transform, action: str,
                       meta: dict | None):
        """Shared machinery of :meth:`delete_where` /
        :meth:`update_where`: find the files that actually contain
        predicate matches (one pruned scan collecting
        ``input_file_name()`` — partition pruning and footer pushdown
        both apply, and the collect is bounded by the file count),
        rewrite ONLY those through ``transform``, and publish a
        manifest carrying every untouched file by reference."""
        import urllib.parse
        pred = F.expr(predicate) if isinstance(predicate, str) \
            else predicate
        v, prev = self._next_version()
        pcols = prev["partition_cols"]
        hits = (self.read(version=prev["version"]).where(pred)
                .select(F.input_file_name().alias("f"))
                .distinct().collect())
        table_root = os.path.abspath(self.path)
        touched = set()
        for r in hits:
            p = urllib.parse.unquote(urllib.parse.urlparse(r["f"]).path)
            touched.add(os.path.relpath(os.path.abspath(p), table_root))
        if not touched:
            return prev["version"], 0, 0
        keep_files = [f for f in prev["files"] if f not in touched]
        sub = self._read_files(sorted(touched), prev["schema"])
        # the matched-row count no longer costs its own full pre-pass
        # over the rewrite set:
        #  - DELETE: n_matched == touched-input rows − survivor rows,
        #    and both ends are manifest/footer metadata (prev["rows"]
        #    + the _file_meta pass the commit does anyway) — zero
        #    extra jobs. An observed metric would NOT survive here:
        #    DELETE-all folds the rewrite to Filter(false) and
        #    PropagateEmptyRelation prunes the CollectMetrics node
        #    with it, leaving the Observation permanently empty.
        #  - UPDATE: row count is preserved, so the count rides the
        #    write job as an observed metric under the transform
        #    (a pure select — never empty-collapsed).
        obs = None
        if action == "delete":
            out = transform(sub, pred)
        else:
            from pyspark.sql import Observation
            obs = Observation()
            out = transform(
                sub.observe(obs, F.sum(F.when(pred, 1).otherwise(0))
                                  .alias("n_matched")),
                pred)
        cdf_fields = {}
        if prev.get("cdf"):
            matched = sub.where(F.coalesce(pred, F.lit(False)))
            if action == "delete":
                cdf = matched.withColumn("_change_type",
                                         F.lit("delete"))
            else:
                cdf = (matched.withColumn("_change_type",
                                          F.lit("update_preimage"))
                       .unionByName(
                           transform(matched, pred)
                           .withColumn("_change_type",
                                       F.lit("update_postimage"))))
            cdf_fields = self._write_cdf(cdf)
        new_files = self._write_data(out, pcols or None,
                                     prev.get("constraints"))
        m = self._publish(v, prev, action, new_files, keep_files,
                          predicate=str(predicate), meta=meta,
                          **cdf_fields)
        if obs is not None:
            n_matched = int(obs.get["n_matched"] or 0)
        else:
            n_out = sum(m["rows"][f] for f in new_files)
            in_rows = prev.get("rows", {})
            if all(f in in_rows for f in touched):
                n_matched = sum(in_rows[f] for f in touched) - n_out
            else:  # pre-row-tracking files: count the touched inputs
                n_matched = sub.count() - n_out
        return v, n_matched, len(touched)

    def delete_where(self, predicate,
                     meta: dict | None = None) -> tuple[int, int, int]:
        """DELETE FROM ... WHERE: remove every row where ``predicate``
        (SQL string or Column) is TRUE — rows where it is NULL are
        kept, the ANSI DELETE rule. Copy-on-write: only files that
        actually contain matches are rewritten (located by one pruned
        scan, so a predicate on a partition or stats column touches
        only that slice of a 100 TB table); everything else rides by
        reference, and the old version stays time-travel readable —
        the GDPR-erasure shape, with the audit trail in
        :meth:`history`. Returns ``(new_version, rows_deleted,
        files_rewritten)`` (no-op: current version, 0, 0)."""
        return self._rewrite_where(
            predicate,
            lambda sub, pred: sub.where(~F.coalesce(pred, F.lit(False))),
            "delete", meta)

    def update_where(self, predicate, assignments: dict,
                     meta: dict | None = None) -> tuple[int, int, int]:
        """UPDATE ... SET ... WHERE: apply ``assignments`` (column ->
        SQL string or Column, evaluated against the pre-update row) to
        every row where ``predicate`` is TRUE; NULL/FALSE rows pass
        through unchanged. Same copy-on-write file pruning as
        :meth:`delete_where`. Returns ``(new_version, rows_updated,
        files_rewritten)``."""
        def transform(sub, pred):
            cols = set(sub.columns)
            bad = sorted(set(assignments) - cols)
            if bad:
                raise ValueError(f"assignment to unknown column(s) {bad}")
            exprs = {c: (F.expr(e) if isinstance(e, str) else e)
                     for c, e in assignments.items()}
            return sub.select(*[
                F.when(F.coalesce(pred, F.lit(False)),
                       exprs[c].cast(sub.schema[c].dataType))
                 .otherwise(F.col(c)).alias(c)
                if c in exprs else F.col(c) for c in sub.columns])
        return self._rewrite_where(predicate, transform, "update", meta)

    def compact(self, target_files: int = 1,
                cluster_by: list[str] | None = None) -> int:
        """Rewrite the CURRENT version into ``target_files`` files per
        partition (one commit; old layout stays time-travel readable).
        Keeps the manifest small and scans coalesced after many small
        appends/merges.

        ``cluster_by`` lays the rewrite out for data skipping: one
        column sorts linearly; two or more use the Z-order (Morton)
        key, clustering rows so EVERY listed column gets tight per-file
        min/max — the layout that makes the manifest stats (and
        ``read(skip=...)``) effective on multi-column range predicates,
        where a linear sort only serves its leading column."""
        v, prev = self._next_version()
        df = self.read()
        pcols = prev["partition_cols"]
        if cluster_by:
            if len(cluster_by) == 1:
                key = F.col(cluster_by[0])
            else:
                from mura_spark.sources.parquet import zorder_key
                key = zorder_key(df, cluster_by)
            df = (df.withColumn("__z", key)
                    .repartitionByRange(target_files, *(
                        [F.col(c) for c in pcols] + [F.col("__z")]
                        if pcols else [F.col("__z")]))
                    .sortWithinPartitions(*(pcols or []), "__z")
                    .drop("__z"))
        elif pcols:
            df = df.repartition(target_files, *pcols)
        else:
            df = df.coalesce(target_files)
        files = self._write_data(df, pcols or None)
        return self._publish(v, prev, "compact", files)["version"]

    def restore(self, version: int) -> int:
        """RESTORE TABLE: make ``version``'s contents current again via
        a NEW commit that references that version's files — no data is
        copied or rewritten, and the rolled-back history stays
        time-travel readable. The standard recovery move after a bad
        merge/overwrite: ``t.restore(v_before_incident)``."""
        v, prev = self._next_version()
        old = self._manifest(version)
        # contents (and their constraints) roll back; the cdf switch
        # and the ingest identities stay the live table's
        return self._publish(
            v, old, "restore", [], old["files"], restored_from=version,
            **{k: prev.get(k) for k in ("txns", "cdf",
                                        "stream_batches")})["version"]

    def set_bloom_cols(self, bloom_cols: list[str],
                       bloom_bits: int | None = None) -> int:
        """Retrofit (or drop) bloom-filter tracking on an existing
        table: builds blooms for EVERY current file in one executor-side
        pass (O(table) once — the same cost Parquet pays to add bloom
        columns, but no file rewrites: only manifest metadata changes)
        and commits metadata-only. Subsequent commits maintain them
        incrementally. ``[]`` drops tracking."""
        v, prev = self._next_version()
        cfg = dict.fromkeys(("bloom_cols", "bloom_bits", "bloom_k",
                             "blooms"))
        if bloom_cols:
            from pyspark.sql.types import StructType
            schema = StructType.fromJson(json.loads(prev["schema"]))
            self._check_bloom_cols(schema, bloom_cols,
                                   prev.get("partition_cols"))
            from mura_spark.sources.bloom import DEFAULT_K, build_blooms
            bits = self._check_bloom_bits(bloom_bits)
            cfg.update(bloom_cols=list(bloom_cols), bloom_bits=bits,
                       bloom_k=DEFAULT_K,
                       blooms=build_blooms(self.spark, self.path,
                                           prev["files"], bloom_cols,
                                           bits, DEFAULT_K))
        return self._publish(v, prev, "set_bloom_cols", [], prev["files"],
                             **cfg)["version"]

    # ------------------------------------------------------ constraints

    def add_constraint(self, name: str, expr: str) -> int:
        """ADD CONSTRAINT ... CHECK: register a named SQL predicate
        every future commit enforces executor-side in the write plan
        itself (a violating row fails the job with a ``[mura
        constraint]`` error naming the constraint and the row, and
        nothing publishes — the Delta CHECK-constraint contract; NULL
        passes, the SQL rule). Existing rows are validated FIRST with
        one scan; a table that already violates the predicate refuses.
        Metadata-only commit: no data is rewritten."""
        if not re.fullmatch(r"[\w][\w.-]*", name):
            raise ValueError(f"invalid constraint name {name!r}")
        v, prev = self._next_version()
        cons = dict(prev.get("constraints", {}))
        if name in cons:
            raise ValueError(
                f"constraint {name!r} already exists ({cons[name]!r}) "
                f"— drop it first to change it")
        bad = (self.read()
               .where(~F.coalesce(F.expr(expr).cast("boolean"),
                                  F.lit(True)))
               .limit(1).collect())
        if bad:
            raise ValueError(
                f"existing row violates CHECK {name} ({expr}): "
                f"{bad[0].asDict()!r}")
        cons[name] = expr
        return self._publish(v, prev, "add_constraint", [], prev["files"],
                             constraints=cons)["version"]

    def drop_constraint(self, name: str) -> int:
        """Remove a CHECK constraint (metadata-only commit)."""
        v, prev = self._next_version()
        cons = dict(prev.get("constraints", {}))
        if name not in cons:
            raise ValueError(f"no constraint {name!r} "
                             f"(have {sorted(cons)})")
        del cons[name]
        return self._publish(v, prev, "drop_constraint", [], prev["files"],
                             constraints=cons or None)["version"]

    def constraints(self) -> dict[str, str]:
        return dict(self._manifest().get("constraints", {}))

    # ----------------------------------------------------------- clone

    def clone(self, dest_path: str, version: int | None = None,
              tag: str | None = None) -> "MuraTable":
        """Zero-copy CLONE: a new independent table at ``dest_path``
        whose version 1 holds this table's snapshot — data files are
        HARD-LINKED (same filesystem), so no bytes move and the clone
        starts at the source's exact layout, stats, blooms, and
        constraints with zero recompute. The tables then diverge
        freely: each side's commits write its own files, and each
        side's :meth:`vacuum` unlinks only its own link (the inode
        lives until both drop it), so neither can break the other —
        the dev-branch workflow (clone prod, experiment, throw away).
        Object-store deployments would use manifest-reference shallow
        clones (Delta's) instead; hard links are the honest
        local-filesystem equivalent with none of the dangling-pointer
        hazard."""
        if tag is not None:
            if version is not None:
                raise ValueError("pass version or tag, not both")
            version = self._resolve_tag(tag)
        m = self._manifest(version)
        dest = MuraTable(self.spark, dest_path)
        if dest._versions():
            raise FileExistsError(
                f"MuraTable already exists at {dest_path}")
        for rel in m["files"]:
            src = os.path.join(self.path, rel)
            dst = os.path.join(dest_path, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.link(src, dst)
        # ingest identities are NOT table contents: carrying the
        # source's idempotent-writer marks or streaming batch stamps
        # would make the clone silently skip the first batches a
        # pipeline writes into it under the same app/query id
        dest._publish(1, m, "clone", [], m["files"], txns=None,
                      stream_batches=None,
                      cloned_from={"path": os.path.abspath(self.path),
                                   "version": m["version"]})
        return dest

    # -------------------------------------------------------------- gc

    def vacuum(self, retain_versions: int = 2,
               retain_seconds: float | None = None) -> int:
        """Drop manifests older than the newest ``retain_versions`` and
        delete every data file no retained version references. TAGGED
        versions are always retained (manifest and files) regardless of
        the window — a tag is a promise of reproducibility that GC must
        honor; ``untag`` first to release one. ``retain_seconds``
        ADDITIONALLY keeps every version committed within that many
        seconds (each commit records its wall-clock ``ts``) — the
        Delta-style time-based retention that sizes GC to operational
        realities (longest stream downtime, longest-running reader)
        instead of a commit count. Returns the number of files deleted.
        This is the ONLY operation that removes data; until it runs,
        every version is reproducible."""
        if retain_versions < 1:
            raise ValueError("retain_versions must be >= 1")
        versions = self._versions()
        tagged = set(self.tags().values())
        keep_v = set(versions[-retain_versions:]) | tagged
        if retain_seconds is not None:
            import time
            cutoff = time.time() - retain_seconds
            keep_v |= {v for v in versions
                       if self._manifest(v).get("ts", 0) >= cutoff}
        keep_v = sorted(keep_v)
        referenced = set()
        for v in keep_v:
            m = self._manifest(v)
            referenced.update(m["files"])
            referenced.update(m.get("cdf_files", []))
        deleted = 0
        for sub in (_DATA_DIR, _CDF_DIR):
            root_dir = os.path.join(self.path, sub)
            for root, _dirs, files in os.walk(root_dir):
                for f in files:
                    full = os.path.join(root, f)
                    if f.endswith(".parquet") and \
                            os.path.relpath(full, self.path) \
                            not in referenced:
                        os.unlink(full)
                        deleted += 1
        for v in versions:
            if v not in keep_v:
                os.unlink(os.path.join(self.log_dir, f"v{v:08d}.json"))
        # prune empty commit dirs so directory listings stay bounded
        for sub in (_DATA_DIR, _CDF_DIR):
            root_dir = os.path.join(self.path, sub)
            for root, dirs, files in os.walk(root_dir, topdown=False):
                if not dirs and not files and root != root_dir:
                    os.rmdir(root)
        return deleted
