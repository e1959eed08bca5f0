"""Structured Streaming source over MuraTable versions.

``spark.readStream.format("mura_table").option("path", p).load()``
tails a versioned table (sources/table_format.py) exactly-once:

- **Offsets are manifest versions.** ``latestOffset`` is one log-dir
  listing; a micro-batch (start, end] plans the file-set DIFF of the
  two manifests — O(new files) planning, no data read on the driver,
  the same contract as ``MuraTable.changes``.
- **Partitions are added files.** Each executor task reads its parquet
  file with pyarrow, injects the hive partition values parsed from the
  file path (typed per the table schema), and yields Arrow record
  batches — no Python row loop.
- **Exactly-once across restarts** comes from Spark's offset log: the
  checkpoint stores the version reached, redelivery replans the same
  file diff (manifests and data files are immutable). ``vacuum`` that
  removes a version a checkpoint still references fails the stream
  loudly on restart (missing manifest) rather than skipping data —
  retain at least as many versions as your longest stream downtime.
- Append commits stream exactly their inserted rows; merge/compact
  commits rewrite files, so their batches carry every row of the
  rewritten partitions — downstream must upsert by key (file-level
  CDC, the contract Delta has without its change-data-feed option).

- **No manifest knowledge of its own.** Manifests are read through
  :class:`~mura_spark.sources.table_format.MuraTable`; the row-level
  Change Data Feed (``option("readChangeFeed", "true")``) maps the
  slices of ``table_format.plan_changes`` — the planner
  ``MuraTable.changes_feed`` also maps — to file partitions; and the
  sink publishes each micro-batch through ``MuraTable._publish``, the
  builder every table commit uses.

A batch reader (``spark.read.format("mura_table")``) is included for
symmetry: latest snapshot, or ``option("version", n)`` to time travel
through the same plugin surface. Registration:
``mura_spark.sources.table_stream.register(spark)``.

No reference analog (the reference is batch/read-only —
/root/reference/src/parser/mod.rs:21-24); this is the Spark-4 Python
DataSource extension point (same API as sources/pyds.py) applied to
the repo's own table format.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    DataSourceStreamReader,
                                    InputPartition)
from pyspark.sql.types import StructType

from mura_spark.sources import table_format as tf
from mura_spark.sources.merge import HIVE_NULL


def _typed_partition_value(raw: str | None, dtype):
    """Parse a hive path partition value into the schema's type (the
    executor-side twin of Spark's partition-column inference)."""
    if raw is None:
        return None
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
    return raw  # string and friends


class _FilesPartition(InputPartition):
    def __init__(self, file_path: str, consts: dict):
        self.file_path = file_path
        # col -> constant for every row of the file: hive partition
        # values (raw path strings) and, for change-feed reads, the
        # _change_type / _commit_version stamps
        self.consts = consts


def _plan(table: tf.MuraTable, sv: int, ev: int,
          cdf: bool) -> list[InputPartition]:
    """One partition per file of versions ``(sv, ev]``: with ``cdf``
    the slices :func:`tf.plan_changes` plans, else the file-set diff
    of the two manifests (``sv=0``: the whole snapshot). Driver-side
    cost is manifest reads only."""
    m = table._manifest(ev)
    pcols = m["partition_cols"] or []
    if cdf:
        slices = tf.plan_changes(table._manifest, sv, ev)
    else:
        base = set(table._manifest(sv)["files"]) if sv else set()
        slices = [(ev, "insert",
                   [f for f in m["files"] if f not in base], None)]
    out = []
    for v, ctype, files, _schema in slices:
        for rel in files:
            # sidecar files (ctype None) carry every column themselves
            consts = {} if ctype is None else \
                dict(zip(pcols, tf._partition_values(rel, pcols)))
            if cdf:
                consts["_commit_version"] = v
                if ctype is not None:
                    consts["_change_type"] = ctype
            out.append(_FilesPartition(os.path.join(table.path, rel),
                                       consts))
    # Spark's plugin API requires >= 1 partition per (micro-)batch;
    # an empty plan still runs one no-op task
    return out or [_FilesPartition("", {})]


def _read_partition(partition, schema: StructType):
    """Executor side: one parquet file -> arrow batches matching the
    full table schema (the partition's constant columns injected)."""
    if not partition.file_path:
        return
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type
    target = pa.schema([pa.field(f.name, to_arrow_type(f.dataType),
                                 nullable=f.nullable)
                        for f in schema.fields])
    tbl = pq.read_table(partition.file_path)
    n = tbl.num_rows
    arrays = []
    for f in schema.fields:
        at = to_arrow_type(f.dataType)
        if f.name in partition.consts:
            v = _typed_partition_value(partition.consts[f.name],
                                       f.dataType)
            arrays.append(pa.array([v] * n, type=at))
        elif f.name in tbl.column_names:
            arrays.append(tbl.column(f.name).cast(at).combine_chunks())
        else:  # file predates a schema evolution: typed nulls
            arrays.append(pa.nulls(n, type=at))
    yield from pa.Table.from_arrays(arrays, schema=target).to_batches()


def _cdf_requested(options) -> bool:
    return str(options.get("readchangefeed", "")).lower() \
        in ("true", "1")


class _TableStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options):
        self.schema = schema
        self.table = tf.MuraTable(None, options["path"])
        self.cdf = _cdf_requested(options)

    def initialOffset(self) -> dict:
        # version 0 = nothing consumed; the first batch carries the
        # whole current snapshot (manifest diff against the empty set)
        return {"version": 0}

    def latestOffset(self) -> dict:
        return {"version": self.table._latest()}

    def partitions(self, start: dict, end: dict):
        return _plan(self.table, start["version"], end["version"],
                     self.cdf)

    def read(self, partition):
        yield from _read_partition(partition, self.schema)

    def commit(self, end: dict) -> None:
        pass  # Spark's offset log is the source of truth


class _TableBatchReader(DataSourceReader):
    def __init__(self, schema: StructType, options):
        self.schema = schema
        self.table = tf.MuraTable(None, options["path"])
        v = options.get("version")
        self.version = int(v) if v is not None else None
        self.cdf = _cdf_requested(options)
        self.starting = int(options.get("startingversion", 0))
        ev = options.get("endingversion")
        self.ending = int(ev) if ev is not None else None

    def partitions(self):
        if self.cdf:
            return _plan(self.table, self.starting,
                         self.ending or self.table._latest(), True)
        return _plan(self.table, 0, self.version or self.table._latest(),
                     False)

    def read(self, partition):
        yield from _read_partition(partition, self.schema)


class MuraTableDataSource(DataSource):
    """``format("mura_table")``: batch snapshot / time travel reads and
    a version-offset streaming tail of a MuraTable.

    ``option("readChangeFeed", "true")`` (Delta's spelling) switches
    BOTH the batch reader (``startingVersion``/``endingVersion``
    options) and the stream reader to the row-level Change Data Feed:
    rows gain ``_change_type`` / ``_commit_version``, insert commits
    plan their data files directly, DML commits plan their ``_cdf/``
    sidecars — a downstream job can maintain an exact incremental
    mirror (apply deletes/preimages as removals, inserts/postimages as
    upserts) instead of reprocessing rewritten files."""

    @classmethod
    def name(cls):
        return "mura_table"

    def schema(self):
        from pyspark.sql.types import LongType, StringType, StructField
        m = tf.MuraTable(None, self.options["path"])._manifest()
        schema = StructType.fromJson(json.loads(m["schema"]))
        if _cdf_requested(self.options):
            schema = StructType(schema.fields + [
                StructField("_change_type", StringType(), False),
                StructField("_commit_version", LongType(), False)])
        return schema

    def reader(self, schema):
        return _TableBatchReader(schema, self.options)

    def streamReader(self, schema):
        return _TableStreamReader(schema, self.options)

    def streamWriter(self, schema, overwrite):
        if overwrite:
            raise ValueError("mura_table streaming sink is append-only")
        return _TableStreamWriter(schema, self.options)


def register(spark) -> None:
    spark.dataSource.register(MuraTableDataSource)


# -------------------------------------------------------------- sink

from dataclasses import dataclass

from pyspark.sql.datasource import (DataSourceStreamArrowWriter,
                                    WriterCommitMessage)


@dataclass
class _FilesWritten(WriterCommitMessage):
    relpaths: list  # table-relative parquet paths this task wrote
    blooms: dict = None  # {relpath: {col: b64 bloom}} when tracked


#: partition-column types the sink can hive-encode with full
#: round-trip fidelity (str(v) == Spark's own path encoding)
_STREAM_PCOL_TYPES = ("byte", "short", "integer", "long", "string",
                      "date")


def _hive_segment(col: str, v) -> str:
    """One ``col=value`` hive path segment (Spark's escapePathName
    conventions for the characters these restricted types produce)."""
    import urllib.parse
    if v is None:
        return f"{col}={HIVE_NULL}"
    return f"{col}={urllib.parse.quote(str(v), safe='')}"


class _TableStreamWriter(DataSourceStreamArrowWriter):
    """``writeStream.format("mura_table")``: each micro-batch is ONE
    append commit. Executors write their Arrow batches straight to
    parquet files under a per-micro-batch commit dir (no shuffle, no
    driver data); the driver publishes the manifest in ``commit``.
    With ``.option("queryid", "<unique pipeline name>")`` the manifest
    is stamped with the micro-batch id — a redelivered batch
    (sink-side replay after a crash between sink commit and checkpoint
    write) is recognized by the stamp and skipped, making the sink
    exactly-once for that query. The id must be unique per logical
    pipeline and stable across restarts (Spark does not expose its
    query id to Python sinks); without one the sink is at-least-once
    under crash-redelivery, never lossy.
    PARTITIONED targets get executor-side hive layout: each task splits
    its batches by partition value and writes one file per touched
    partition under ``p=v/`` segments (partition columns live in the
    path, not the file — the layout Spark's own partitionBy produces),
    so partition pruning works on stream-landed files immediately.
    Partition column types are restricted to int-like/string/date (the
    types whose path encoding round-trips exactly); others refuse
    loudly. ``MuraTable.compact`` afterwards restores file sizing and
    clustering. Files from failed/aborted tasks are never referenced
    by a manifest, so ``vacuum`` reclaims them."""

    def __init__(self, schema: StructType, options):
        self.schema = schema
        self.path = options["path"]
        # Replay protection MUST be keyed by a stable per-query
        # identity, and Spark does not expose the streaming query id
        # to Python data sources — so exactly-once is opt-in via
        # .option("queryid", "<unique pipeline name>"). Without it the
        # sink commits every delivered batch (at-least-once: a crash
        # between sink commit and checkpoint write can duplicate ONE
        # batch on restart). A shared default key would be worse than
        # duplicates: two queries (or a fresh-checkpoint restart)
        # colliding on the same key silently DROP each other's batches.
        self.queryId = options.get("queryid")
        if self.queryId is None:
            # Pipelines written before queryid existed ran with a
            # SHARED default replay key (exactly-once-ish, but
            # cross-query lossy); on upgrade they silently become
            # at-least-once. Make the downgrade discoverable instead
            # of silent — once per writer instance, at plan time.
            import warnings
            warnings.warn(
                "mura_table sink without .option('queryid', ...): "
                "crash-redelivered micro-batches are committed again "
                "(at-least-once). Set a stable per-pipeline queryid "
                "for exactly-once replay protection.",
                stacklevel=2)
        m = tf.MuraTable(None, self.path)._manifest()
        self._pcols = m["partition_cols"] or []
        if self._pcols:
            from pyspark.sql.types import StructType as _ST
            tschema = _ST.fromJson(json.loads(m["schema"]))
            names = {f.name for f in schema.fields}
            missing = [c for c in self._pcols if c not in names]
            if missing:
                raise ValueError(
                    f"stream schema lacks partition column(s) "
                    f"{missing} of the target table")
            bad = [c for c in self._pcols
                   if tschema[c].dataType.typeName()
                   not in _STREAM_PCOL_TYPES]
            if bad:
                raise ValueError(
                    f"streaming append supports partition column types "
                    f"{'/'.join(_STREAM_PCOL_TYPES)}; {bad} of the "
                    f"target table are not path-round-trip-safe — "
                    f"stream into an unpartitioned staging table and "
                    f"merge")
        if m.get("constraints"):
            raise ValueError(
                "streaming append into a CONSTRAINED MuraTable is not "
                "supported (the Arrow sink cannot evaluate SQL CHECK "
                "predicates) — filter/validate in the stream before "
                "the sink, or drop the constraints "
                f"{sorted(m['constraints'])}")
        import uuid as _uuid
        # the writer instance (and its pickled executor copies) spans
        # the whole query: this names the query's commit dir; files
        # stay per-task unique, manifests reference files not dirs
        self._commit_dir_name = f"stream-{_uuid.uuid4().hex}"
        # bloom config rides the pickled writer so executors can hash
        # the batches they just wrote (zero extra I/O)
        self._bloom_cols = m.get("bloom_cols") or []
        from mura_spark.sources.bloom import DEFAULT_BITS, DEFAULT_K
        self._bloom_bits = m.get("bloom_bits", DEFAULT_BITS)
        self._bloom_k = m.get("bloom_k", DEFAULT_K)

    def _bloom_for(self, batches) -> dict | None:
        if not self._bloom_cols:
            return None
        from mura_spark.sources.bloom import blooms_from_arrow
        return blooms_from_arrow(batches, self._bloom_cols,
                                 self._bloom_bits, self._bloom_k)

    def write(self, iterator):
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        commit_dir = os.path.join(self.path, tf._DATA_DIR,
                                  self._commit_dir_name)
        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return _FilesWritten([])
        rels, blooms = [], {}
        if not self._pcols:
            groups = [((), pa.Table.from_batches(batches))]
        else:
            tbl = pa.Table.from_batches(batches)
            combos = sorted(
                {tuple(r[c] for c in self._pcols)
                 for r in tbl.select(self._pcols).to_pylist()},
                key=repr)
            groups = []
            for combo in combos:
                mask = None
                for c, v in zip(self._pcols, combo):
                    col = tbl[c]
                    eq = pc.is_null(col) if v is None else \
                        pc.equal(col, pa.scalar(v, col.type))
                    mask = eq if mask is None else pc.and_(mask, eq)
                groups.append(
                    (combo, tbl.filter(mask).drop_columns(self._pcols)))
        for combo, sub in groups:
            segs = [_hive_segment(c, v)
                    for c, v in zip(self._pcols, combo)]
            subdir = os.path.join(commit_dir, *segs)
            os.makedirs(subdir, exist_ok=True)
            fname = f"part-{_uuid.uuid4().hex}.parquet"
            pq.write_table(sub, os.path.join(subdir, fname))
            rel = os.path.join(tf._DATA_DIR, self._commit_dir_name,
                               *segs, fname)
            rels.append(rel)
            b = self._bloom_for(sub.to_batches())
            if b is not None:
                blooms[rel] = b
        return _FilesWritten(rels, blooms or None)

    def commit(self, messages, batchId) -> None:
        table = tf.MuraTable.load(None, self.path)
        while True:
            m = table._manifest()
            if m.get("constraints"):
                # a constraint added MID-STREAM (the init guard rejects
                # constrained tables up front): the Arrow sink cannot
                # evaluate SQL CHECK predicates, and publishing
                # unvalidated rows under a manifest that asserts the
                # CHECK would break "nothing publishes on violation" —
                # fail the batch loudly instead
                raise ValueError(
                    f"CHECK constraint(s) {sorted(m['constraints'])} "
                    f"were added to {self.path} while this stream was "
                    f"running — the streaming sink cannot validate "
                    f"them; stop the stream, validate/filter upstream, "
                    f"or drop the constraints")
            stamp = m.get("stream_batches", {})
            if self.queryId is not None and \
                    stamp.get(self.queryId) == batchId:
                return  # redelivered micro-batch: already committed
            files = [r for msg in messages if msg
                     for r in msg.relpaths]
            # executor-built blooms: no build_blooms job on the driver
            blooms = {}
            for msg in messages:
                if msg and msg.blooms:
                    blooms.update(msg.blooms)
            stamp_fields = {}
            if self.queryId is not None:
                stamp_fields = {"stream_batches":
                                {**stamp, self.queryId: batchId}}
            try:
                table._publish(m["version"] + 1, m, "stream_append",
                               files, m["files"], new_blooms=blooms,
                               **stamp_fields)
                return
            except tf.CommitConflict:
                continue  # another writer advanced the version: rebase

    def abort(self, messages, batchId) -> None:
        # delete ONLY this batch's reported files — the query-level
        # commit dir also holds files of earlier, committed batches
        for msg in messages:
            if msg:
                for rel in msg.relpaths:
                    try:
                        os.unlink(os.path.join(self.path, rel))
                    except OSError:
                        pass


# ------------------------------------------------- CDC replication

def replicate_changes(spark, source_path: str, target, keys: list[str],
                      checkpoint: str, available_now: bool = True):
    """APPLY CHANGES INTO (the Delta/DLT replication primitive): tail
    ``source_path``'s row-level Change Data Feed and keep ``target``
    (a :class:`MuraTable`) an exact key-wise mirror.

    Per micro-batch: reduce the feed to the FINAL state per key
    (newest ``_commit_version`` wins; update preimages drop), then
    upsert the survivors and delete the keys whose final state is a
    delete — two partition-pruned COW merges. The two commits are not
    atomic, but restarts are exactly-once anyway: each merge carries an
    idempotent ``txn`` mark keyed by (query, micro-batch), so a
    redelivered batch (crash anywhere between the commits and the
    checkpoint write) skips whatever already landed and applies only
    what didn't.

    Returns the started ``StreamingQuery`` (``available_now=True``
    drains the backlog and stops — the batch-job replication shape;
    ``False`` runs continuously)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    def apply_batch(feed, batch_id: int) -> None:
        # newest commit wins; WITHIN one commit a surviving row outranks
        # a delete — overwrite/restore feed as a file diff, so a key
        # surviving an overwrite emits delete(old file) + insert(new
        # file) at the SAME _commit_version, and version-only ordering
        # would drop it from the mirror nondeterministically
        final = (feed.where(F.col("_change_type") != "update_preimage")
                 .withColumn("__rn", F.row_number().over(
                     Window.partitionBy(*keys)
                           .orderBy(F.col("_commit_version").desc(),
                                    (F.col("_change_type") == "delete")
                                    .cast("int").asc())))
                 .where(F.col("__rn") == 1).drop("__rn"))
        final = final.localCheckpoint(eager=True)  # one pass upstream
        ups = (final.where(F.col("_change_type") != "delete")
               .drop("_change_type", "_commit_version"))
        dels = (final.where(F.col("_change_type") == "delete")
                .drop("_change_type", "_commit_version"))
        if ups.limit(1).count():
            target.merge(ups, key_cols=keys, when_matched="update",
                         txn=(f"cdc-upsert:{checkpoint}", batch_id))
        if dels.limit(1).count():
            target.merge(dels, key_cols=keys, when_matched="delete",
                         insert_not_matched=False,
                         txn=(f"cdc-delete:{checkpoint}", batch_id))

    reader = (spark.readStream.format("mura_table")
              .option("path", source_path)
              .option("readChangeFeed", "true").load())
    writer = (reader.writeStream.foreachBatch(apply_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
