"""Session facade — the engine's entry point.

The reference's REPL (``/root/reference/src/main.rs:31-45``) constructs a
parser + planner per input line and prints the logical plan. Here the
equivalent context is a :class:`SparkSession` configured for columnar Parquet
execution, plus a catalog of registered tables (the part the reference left
unfinished — its ``DummySchemaCatalog`` is rebuilt empty per line,
``src/main.rs:41``).

Scale posture (100 TB readiness, tested on local[32]):
- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy).
- Shuffle partition count from ``SPARK_GRAFT_CPUS`` locally; on a real
  cluster AQE's coalescing makes the initial number a ceiling, not a tuning
  trap.
- Arrow enabled for any pandas-UDF path (vectorized Python boundary).
- Session timezone pinned to UTC so timestamp semantics are reproducible and
  match the DuckDB oracle.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from mura_spark.catalog import Catalog

#: Defaults applied by :func:`get_spark`. Explicit so behavior is pinned
#: across Spark versions rather than inherited from changing defaults.
DEFAULT_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # ANSI on: cast overflow / bad parse errors match the DuckDB oracle's
    # strictness (SURVEY.md §5 item 4).
    "spark.sql.ansi.enabled": "true",
    # spark.sql.join.preferSortMergeJoin deliberately stays at its
    # default (true): a global shuffled-hash preference was A/B-measured
    # both ways — it helped the exploded-candidate dedup joins (~0.65×)
    # but regressed the PCA/stats/LPA shapes (1.3–2.5×) and the full
    # bench net was negative. Targeted shuffle_hash hints on the joins
    # where it measurably wins live in operators/dedup.py instead.
    # Read TIMESTAMP(NANOS) parquet columns as nano-longs instead of failing;
    # the catalog converts them back to (µs-truncated) timestamps on load.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Read isAdjustedToUTC=false parquet timestamps as session-TZ TIMESTAMP
    # (LTZ), not TIMESTAMP_NTZ: with the UTC session TZ the values are
    # identical, and streaming event time (withWatermark) requires LTZ.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Write µs timestamps (not legacy INT96): splittable stats, modern
    # readers, and pyarrow/DuckDB read them back with the same type.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Columnar shuffle/exec stay default; AQE handles partition sizing.
}


def _default_parallelism() -> int:
    """Explicit SPARK_GRAFT_CPUS, else 0 (caller falls back to cpu count)."""
    try:
        return max(0, int(os.environ.get("SPARK_GRAFT_CPUS", "0")))
    except ValueError:
        return 0


def get_spark(app_name: str = "mura-spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's pinned config."""
    cpus = _default_parallelism() or (os.cpu_count() or 4)
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    conf.setdefault("spark.sql.shuffle.partitions", str(cpus))
    conf.setdefault("spark.driver.memory", "8g")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


class MuraSession:
    """Engine facade: catalog + SQL + fluent plan builder.

    Mirrors what the reference's ``main()`` wires per line (parser →
    ``QueryPlanner`` → plan, ``src/main.rs:40-44``), except queries actually
    execute. ``sql`` covers the SQL entry point (reference entry points 1-3,
    SURVEY.md §3); ``scan`` starts the fluent builder (entry point 4,
    ``src/planner/logicalplan.rs:383-401``).
    """

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        self.catalog = Catalog(self.spark)
        # named scalar functions (the reference's ScalarFunction shell,
        # concretely populated — SURVEY.md §2.2 #10)
        from mura_spark.functions.registry import register_all
        register_all(self.spark)

    # -- SQL entry point (reference src/parser/mod.rs:29-32 + queryplanner) --
    def sql(self, query: str) -> DataFrame:
        """Parse/plan/execute SQL. Catalyst is the planner the reference
        intended to grow into (reference README.md:10).

        Accepts the reference's documented DDL dialect
        (``CREATE EXTERNAL TABLE ... STORED AS PARQUET LOCATION '...'``,
        reference src/parser/mod.rs:26-28) by rewriting it to Spark's
        ``CREATE TABLE ... USING parquet`` — plain Spark SQL reserves
        ``STORED AS`` for Hive-enabled sessions.

        Row-level DML (``DELETE FROM t [WHERE p]``, ``UPDATE t SET
        c = e[, ...] [WHERE p]``) routes to the versioned-table engine
        when ``t`` is registered with ``file_type="mura"`` — Spark's
        parquet source has no mutation path, MuraTable's copy-on-write
        DML does (sources/table_format.py). Returns a one-row frame
        ``(version, rows_affected, files_rewritten)``. Registered but
        non-versioned tables refuse loudly; unregistered names fall
        through to Spark for its own error.

        ``MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE
        SET * | DELETE [WHEN NOT MATCHED THEN INSERT *]`` routes to the
        copy-on-write :meth:`MuraTable.merge` (full-row actions — the
        Delta upsert shape; ``s`` is any Spark-resolvable view/table
        with the target's schema). Returns ``(version, rows_updated,
        rows_deleted, rows_inserted)``."""
        dml = self._route_dml(query)
        if dml is None:
            dml = self._route_merge(query)
        if dml is None:
            dml = self._route_alter(query)
        if dml is None:
            dml = self._route_maintenance(query)
        if dml is None:
            dml = self._route_table_mgmt(query)
        if dml is not None:
            return dml
        rewritten = re.sub(r"(?i)\bCREATE\s+EXTERNAL\s+TABLE\b",
                           "CREATE TABLE", query)
        rewritten = re.sub(r"(?i)\bSTORED\s+AS\s+PARQUET\b",
                           "USING parquet", rewritten)
        rewritten = self._rewrite_time_travel(rewritten)
        rewritten = self._rewrite_table_changes(rewritten)
        return self.spark.sql(rewritten)

    #: a SQL string literal — single-quoted AND double-quoted (Spark's
    #: default parser treats "..." as a string, not an identifier), each
    #: with both escape conventions: doubled quote (''/"") per ANSI AND
    #: backslash escapes (\' \" \\ ...) per Spark; missing either form
    #: would split a literal into two spans and leave its middle
    #: unprotected from the rewrites
    _LITERAL_RE = re.compile(
        r"'(?:[^'\\]|\\.|'')*'|\"(?:[^\"\\]|\\.|\"\")*\"")

    @classmethod
    def _sub_outside_literals(cls, pattern: "re.Pattern[str]", repl,
                              query: str) -> str:
        """``pattern.sub`` that refuses matches STARTING inside a
        string literal — a literal containing the text
        ``t VERSION AS OF 1`` is data, not syntax, and must not be
        rewritten (nor register temp views as a side effect). Matches
        starting outside may still span a literal: ``FOR TAG 'x'`` and
        ``table_changes('t', ...)`` legitimately consume one."""
        spans = [m.span() for m in cls._LITERAL_RE.finditer(query)]

        def guarded(m: "re.Match[str]") -> str:
            s = m.start()
            if any(a <= s < b for a, b in spans):
                return m.group(0)
            return repl(m)

        return pattern.sub(guarded, query)

    _TT_RE = re.compile(
        r"(?is)\b([A-Za-z_]\w*)\s+(?:VERSION\s+AS\s+OF\s+(\d+)"
        r"|FOR\s+TAG\s+'([\w.-]+)')")

    def _rewrite_time_travel(self, query: str) -> str:
        """``FROM t VERSION AS OF 3`` / ``FROM t FOR TAG 'golden'`` over
        registered mura tables: each occurrence registers the snapshot
        as a temp view and substitutes its name, so time travel composes
        with arbitrary SQL (joins across versions included). Matches on
        non-mura names are left for Spark to reject."""
        from mura_spark.sources.table_format import MuraTable

        def sub(m: "re.Match[str]") -> str:
            name, version, tag = m.group(1), m.group(2), m.group(3)
            info = self.catalog._tables.get(name) \
                or self.catalog._tables.get(name.lower())
            if info is None or info.file_type != "mura":
                return m.group(0)
            t = MuraTable.load(self.spark, info.location)
            if version is not None:
                view = f"{name}__v{version}"
                df = t.read(version=int(version))
            else:
                view = f"{name}__tag_{tag}".replace(".", "_") \
                                           .replace("-", "_")
                df = t.read(tag=tag)
            df.createOrReplaceTempView(view)
            return view

        return self._sub_outside_literals(self._TT_RE, sub, query)

    _TC_RE = re.compile(
        r"(?is)\btable_changes\s*\(\s*'([\w]+)'\s*,\s*(\d+)"
        r"(?:\s*,\s*(\d+))?\s*\)")

    def _rewrite_table_changes(self, query: str) -> str:
        """Delta's CDF table-valued function: ``table_changes('t',
        from[, to])`` over a registered mura table becomes a temp view
        of :meth:`MuraTable.changes_feed` (row-level _change_type /
        _commit_version), composing with arbitrary SQL. Non-mura names
        are left for Spark to reject."""
        from mura_spark.sources.table_format import MuraTable

        def sub(m: "re.Match[str]") -> str:
            name, lo, hi = m.group(1), int(m.group(2)), m.group(3)
            info = self.catalog._tables.get(name) \
                or self.catalog._tables.get(name.lower())
            if info is None or info.file_type != "mura":
                return m.group(0)
            t = MuraTable.load(self.spark, info.location)
            view = f"{name}__changes_{lo}_{hi or 'latest'}"
            t.changes_feed(lo, int(hi) if hi else None) \
             .createOrReplaceTempView(view)
            return view

        return self._sub_outside_literals(self._TC_RE, sub, query)

    _DELETE_RE = re.compile(
        r"(?is)^\s*DELETE\s+FROM\s+([A-Za-z_][\w]*)"
        r"(?:\s+WHERE\s+(.+?))?\s*;?\s*$")
    _UPDATE_RE = re.compile(
        r"(?is)^\s*UPDATE\s+([A-Za-z_][\w]*)\s+SET\s+(.+?)"
        r"(?:\s+WHERE\s+(.+?))?\s*;?\s*$")
    _MERGE_RE = re.compile(
        r"(?is)^\s*MERGE\s+INTO\s+([A-Za-z_]\w*)(?:\s+AS\s+(\w+))?"
        r"\s+USING\s+([A-Za-z_]\w*)(?:\s+AS\s+(\w+))?"
        r"\s+ON\s+(.+?)\s+(WHEN\s+.+?)\s*;?\s*$")
    _WHEN_RE = re.compile(
        r"(?is)WHEN\s+(?:(MATCHED)\s+THEN\s+(UPDATE\s+SET\s+\*|DELETE)"
        r"|(NOT\s+MATCHED\s+BY\s+SOURCE)\s+THEN\s+DELETE"
        r"|(NOT\s+MATCHED)\s+THEN\s+(INSERT\s+\*))")

    def _parse_merge_keys(self, on: str, target: str, t_alias,
                          source: str, s_alias) -> list[str]:
        """Key columns from the ON clause — a conjunction of
        ``t.k = s.k`` equalities (qualifiers optional; when present
        they must name the tables or their aliases, and both sides
        must name the SAME column: full-row MERGE joins on shared key
        columns, the Delta upsert shape)."""
        ok_quals = {q.lower() for q in (target, t_alias, source,
                                        s_alias) if q}
        keys = []
        for term in re.split(r"(?i)\s+AND\s+", on.strip()):
            m = re.match(r"^\s*(?:(\w+)\.)?(\w+)\s*=\s*"
                         r"(?:(\w+)\.)?(\w+)\s*$", term)
            if not m:
                raise ValueError(
                    f"cannot parse MERGE ON term {term!r} — expected "
                    f"a conjunction of t.col = s.col equalities")
            q1, c1, q2, c2 = m.groups()
            for q in (q1, q2):
                if q and q.lower() not in ok_quals:
                    raise ValueError(
                        f"unknown qualifier {q!r} in MERGE ON term "
                        f"{term!r}")
            if c1.lower() != c2.lower():
                raise ValueError(
                    f"MERGE ON term {term!r} joins different columns "
                    f"— full-row MERGE requires shared key columns")
            keys.append(c1)
        return keys

    def _route_merge(self, query: str):
        m = self._MERGE_RE.match(query)
        if m is None:
            return None
        target, t_alias, source, s_alias, on, clauses = m.groups()
        t, info = self._mura_table(target)
        if t is None:
            return None  # not ours: let Spark produce its own error
        when_matched, insert, sync_delete = None, False, False
        pos = 0
        for w in self._WHEN_RE.finditer(clauses):
            if clauses[pos:w.start()].strip():
                raise ValueError(
                    f"cannot parse MERGE clause "
                    f"{clauses[pos:w.start()].strip()!r} — supported: "
                    f"WHEN MATCHED THEN UPDATE SET * | DELETE, "
                    f"WHEN NOT MATCHED THEN INSERT *, "
                    f"WHEN NOT MATCHED BY SOURCE THEN DELETE")
            pos = w.end()
            if w.group(1):
                if when_matched is not None:
                    raise ValueError("duplicate WHEN MATCHED clause")
                when_matched = "delete" \
                    if w.group(2).upper() == "DELETE" else "update"
            elif w.group(3):
                if sync_delete:
                    raise ValueError(
                        "duplicate WHEN NOT MATCHED BY SOURCE clause")
                sync_delete = True
            else:
                if insert:
                    raise ValueError(
                        "duplicate WHEN NOT MATCHED clause")
                insert = True
        if clauses[pos:].strip():
            raise ValueError(
                f"cannot parse MERGE clause {clauses[pos:].strip()!r}")
        if when_matched is None and not insert and not sync_delete:
            raise ValueError("MERGE needs at least one WHEN clause")
        keys = self._parse_merge_keys(on, target, t_alias,
                                      source, s_alias)
        stats = t.merge(self.spark.table(source), key_cols=keys,
                        when_matched=when_matched or "ignore",
                        insert_not_matched=insert,
                        sync_delete=sync_delete)
        self.catalog.create_external_table(info.name, info.location,
                                           file_type="mura")
        return self.spark.createDataFrame(
            [(t._versions()[-1], stats.updated, stats.deleted,
              stats.inserted)],
            "version long, rows_updated long, rows_deleted long, "
            "rows_inserted long")

    @staticmethod
    def _split_assignments(clause: str) -> dict[str, str]:
        """``a = f(x, 1), b = 2`` -> {a: 'f(x, 1)', b: '2'} — commas
        split only at paren depth 0 and outside string literals."""
        parts, depth, quote, start = [], 0, None, 0
        for i, ch in enumerate(clause):
            if quote:
                if ch == quote:
                    quote = None
            elif ch in "'\"":
                quote = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append(clause[start:i])
                start = i + 1
        parts.append(clause[start:])
        out = {}
        for p in parts:
            m = re.match(r"^\s*([A-Za-z_]\w*)\s*=\s*(.+?)\s*$", p,
                         re.DOTALL)
            if not m:
                raise ValueError(f"cannot parse SET assignment {p!r}")
            out[m.group(1)] = m.group(2)
        return out

    _ALTER_RE = re.compile(
        r"(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+"
        r"(?:ADD\s+CONSTRAINT\s+([\w.-]+)\s+CHECK\s*\((.+)\)"
        r"|DROP\s+CONSTRAINT\s+([\w.-]+))\s*;?\s*$")

    def _route_alter(self, query: str):
        """``ALTER TABLE t ADD CONSTRAINT n CHECK (expr)`` /
        ``DROP CONSTRAINT n`` over registered mura tables (Delta's
        constraint DDL); None when not an ALTER CONSTRAINT (falls
        through to Spark)."""
        m = self._ALTER_RE.match(query)
        if m is None:
            return None
        name, add_name, expr, drop_name = m.groups()
        t, _info = self._mura_table(name)
        if t is None:
            return None
        if add_name:
            v = t.add_constraint(add_name, expr.strip())
        else:
            v = t.drop_constraint(drop_name)
        return self.spark.createDataFrame(
            [(v, add_name or drop_name)],
            "version long, constraint string")

    _HISTORY_RE = re.compile(
        r"(?is)^\s*DESCRIBE\s+HISTORY\s+([A-Za-z_]\w*)\s*;?\s*$")
    _RESTORE_RE = re.compile(
        r"(?is)^\s*RESTORE\s+TABLE\s+([A-Za-z_]\w*)\s+TO\s+VERSION\s+"
        r"AS\s+OF\s+(\d+)\s*;?\s*$")
    _CLONE_RE = re.compile(
        r"(?is)^\s*CREATE\s+TABLE\s+([A-Za-z_]\w*)\s+"
        r"(?:SHALLOW\s+)?CLONE\s+([A-Za-z_]\w*)"
        r"(?:\s+VERSION\s+AS\s+OF\s+(\d+)|\s+FOR\s+TAG\s+'([\w.-]+)')?"
        r"\s+LOCATION\s+'([^']+)'\s*;?\s*$")

    def _mura_table(self, name: str):
        """Registered mura table handle, or None (caller falls through
        to Spark); raises for registered-but-read-only tables."""
        info = self.catalog._tables.get(name) \
            or self.catalog._tables.get(name.lower())
        if info is None:
            return None, None
        if info.file_type != "mura":
            raise ValueError(
                f"{name!r} is a read-only {info.file_type} external "
                f"table — this statement needs a versioned table "
                f"(register with file_type='mura')")
        from mura_spark.sources.table_format import MuraTable
        return MuraTable.load(self.spark, info.location), info

    def _route_table_mgmt(self, query: str):
        """``DESCRIBE HISTORY t``, ``RESTORE TABLE t TO VERSION AS OF
        n``, ``CREATE TABLE dst [SHALLOW] CLONE src [VERSION AS OF n |
        FOR TAG 'x'] LOCATION 'path'`` (the Delta management DDL);
        None when no statement matches."""
        mh = self._HISTORY_RE.match(query)
        if mh:
            t, _info = self._mura_table(mh.group(1))
            if t is None:
                return None
            rows = [(m["version"], m["action"],
                     float(m["ts"]) if "ts" in m else None,
                     len(m["files"]),
                     sum(m.get("rows", {}).get(f, 0)
                         for f in m["files"]))
                    for m in t.history()]
            return self.spark.createDataFrame(
                rows, "version long, action string, ts double, "
                      "files long, rows long")
        mr = self._RESTORE_RE.match(query)
        if mr:
            t, info = self._mura_table(mr.group(1))
            if t is None:
                return None
            v = t.restore(int(mr.group(2)))
            self.catalog.create_external_table(info.name, info.location,
                                               file_type="mura")
            return self.spark.createDataFrame(
                [(v, int(mr.group(2)))],
                "version long, restored_from long")
        mc = self._CLONE_RE.match(query)
        if mc:
            dst, src, ver, tag, location = mc.groups()
            t, _info = self._mura_table(src)
            if t is None:
                return None
            clone = t.clone(location,
                            version=int(ver) if ver else None,
                            tag=tag)
            self.catalog.create_external_table(dst, location,
                                               file_type="mura")
            return self.spark.createDataFrame(
                [(dst, location, clone.row_count())],
                "table string, location string, rows long")
        return None

    _OPTIMIZE_RE = re.compile(
        r"(?is)^\s*OPTIMIZE\s+([A-Za-z_]\w*)"
        r"(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*$")
    _VACUUM_RE = re.compile(
        r"(?is)^\s*VACUUM\s+([A-Za-z_]\w*)"
        r"(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?\s*;?\s*$")

    def _route_maintenance(self, query: str):
        """``OPTIMIZE t [ZORDER BY (a, b)]`` -> compaction (Z-order
        clustered when asked) and ``VACUUM t [RETAIN n VERSIONS]`` ->
        GC, over registered mura tables (the Delta maintenance DDL);
        None when neither matches."""
        mo = self._OPTIMIZE_RE.match(query)
        mv = None if mo else self._VACUUM_RE.match(query)
        if mo is None and mv is None:
            return None
        t, info = self._mura_table((mo or mv).group(1))
        if t is None:
            return None
        if mo:
            cluster = [c.strip() for c in mo.group(2).split(",")] \
                if mo.group(2) else None
            v = t.compact(cluster_by=cluster)
            self.catalog.create_external_table(
                info.name, info.location, file_type="mura")
            return self.spark.createDataFrame(
                [(v, len(t._manifest()["files"]))],
                "version long, files long")
        retain = int(mv.group(2)) if mv.group(2) else 2
        deleted = t.vacuum(retain_versions=retain)
        return self.spark.createDataFrame(
            [(deleted,)], "files_deleted long")

    def _route_dml(self, query: str):
        """DELETE/UPDATE statements over registered mura tables; None
        when the statement is not DML (caller falls through to Spark)."""
        md = self._DELETE_RE.match(query)
        mu = None if md else self._UPDATE_RE.match(query)
        if md is None and mu is None:
            return None
        t, info = self._mura_table((md or mu).group(1))
        if t is None:
            return None  # not ours: let Spark produce its own error
        if md:
            v, n, files = t.delete_where(md.group(2) or "true")
        else:
            v, n, files = t.update_where(
                mu.group(3) or "true",
                self._split_assignments(mu.group(2)))
        # the catalog's temp view pins the file list seen at
        # registration; re-register so readers see the new version
        self.catalog.create_external_table(info.name, info.location,
                                           file_type="mura")
        return self.spark.createDataFrame(
            [(v, n, files)],
            "version long, rows_affected long, files_rewritten long")

    # -- DDL entry point (reference queryplanner.rs:73-95) --
    def create_external_table(self, name: str, location: str,
                              schema=None, file_type: str = "parquet") -> None:
        self.catalog.create_external_table(name, location, schema=schema,
                                           file_type=file_type)

    # -- builder entry point (reference logicalplan.rs:383-401) --
    def scan(self, table_name: str, projection: list[str] | None = None):
        from mura_spark.plan import PlanBuilder
        return PlanBuilder.scan(self, table_name, projection=projection)

    def table(self, name: str) -> DataFrame:
        return self.catalog.table(name)

    def table_at(self, name: str, version: int | str) -> DataFrame:
        """Time-travel read of a registered versioned table (the
        ``VERSION AS OF`` surface): ``name`` must have been registered
        with ``file_type="mura"`` (sources/table_format.py). ``version``
        is a commit number, or a tag name (str) pinned with
        ``MuraTable.tag`` — the reproducible-snapshot handle vacuum
        honors. Returns the snapshot exactly as committed."""
        info = self.catalog._tables.get(name)
        if info is None or info.file_type != "mura":
            raise ValueError(
                f"{name!r} is not a registered mura versioned table "
                f"(register with file_type='mura' to time travel)")
        from mura_spark.sources.table_format import MuraTable
        t = MuraTable.load(self.spark, info.location)
        if isinstance(version, str):
            return t.read(tag=version)
        return t.read(version)

    def stop(self) -> None:
        self.spark.stop()
