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

from mura_spark.catalog import Catalog, TableInfo
from mura_spark.sources.table_format import MuraTable

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
    # Executor Python tasks fork from the engine's worker daemon
    # (worker_daemon.py): pyspark.daemon whose zip importers re-read
    # pyspark.zip and the Spark jar only when those change, not before
    # every task. A core conf: it holds only in sessions get_spark starts.
    "spark.python.daemon.module": "mura_spark.worker_daemon",
}


def _statement(body: str) -> "re.Pattern[str]":
    """A whole-statement pattern: case-insensitive, optional ``;``."""
    return re.compile(rf"(?is)^\s*{body}\s*;?\s*$")


#: the statement's target table, the group ``MuraSession._route`` resolves
_T = r"(?P<table>[A-Za-z_]\w*)"


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

        The statements of :attr:`_STATEMENTS` (row-level DML, MERGE,
        constraint DDL, history/restore/clone, OPTIMIZE/VACUUM) route to
        the versioned-table engine when their table is registered with
        ``file_type="mura"`` — Spark's parquet source has no mutation
        path, MuraTable's copy-on-write commits do
        (sources/table_format.py). Each returns a small result frame
        (e.g. ``(version, rows_affected, files_rewritten)`` for DML).
        Registered but non-versioned tables refuse loudly; unregistered
        names fall through to Spark for its own error.

        ``t VERSION AS OF n``, ``t FOR TAG 'x'`` and
        ``table_changes('t', from[, to])`` read snapshots and the change
        feed of registered mura tables inside any query. The registered
        names it mentions are looked up first: a moved one re-binds."""
        bound = {name: self.catalog.lookup(name) for name in
                 {w.lower() for w in re.findall(r"[A-Za-z_]\w*", query)}}
        routed = self._route(query, bound)
        if routed is not None:
            return routed
        query = re.sub(r"(?i)\bCREATE\s+EXTERNAL\s+TABLE\b",
                       "CREATE TABLE", query)
        query = re.sub(r"(?i)\bSTORED\s+AS\s+PARQUET\b",
                       "USING parquet", query)
        return self._sql_with_frames(query, bound)

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
        rewritten (nor read a snapshot as a side effect). Matches
        starting outside may still span a literal: ``FOR TAG 'x'`` and
        ``table_changes('t', ...)`` legitimately consume one."""
        spans = [m.span() for m in cls._LITERAL_RE.finditer(query)]

        def guarded(m: "re.Match[str]") -> str:
            s = m.start()
            if any(a <= s < b for a, b in spans):
                return m.group(0)
            return repl(m)

        return pattern.sub(guarded, query)

    _FRAME_RE = re.compile(
        r"(?is)\b(?P<tt>[A-Za-z_]\w*)\s+(?:VERSION\s+AS\s+OF\s+"
        r"(?P<version>\d+)|FOR\s+TAG\s+'(?P<tag>[\w.-]+)')"
        r"|\btable_changes\s*\(\s*'(?P<tc>\w+)'\s*,\s*(?P<lo>\d+)"
        r"(?:\s*,\s*(?P<hi>\d+))?\s*\)")

    def _sql_with_frames(self, query: str,
                         bound: dict[str, TableInfo | None]) -> DataFrame:
        """Runs ``query`` with each ``t VERSION AS OF n`` / ``t FOR TAG
        'x'`` (time travel) and ``table_changes('t', from[, to])``
        (Delta's CDF table-valued function) over a registered mura table
        bound to its snapshot or :meth:`MuraTable.changes_feed` frame,
        so both compose with arbitrary SQL (joins across versions
        included). The frames go in as ``spark.sql`` format arguments:
        PySpark registers each under a unique view name and drops it
        once the query is analyzed, so no view outlives the call.
        ``bound`` holds the catalog entries :meth:`sql` looked up, so
        no name is looked up again. Matches on other names are left
        for Spark to reject."""
        frames: dict[str, DataFrame] = {}

        def sub(m: "re.Match[str]") -> str:
            t = self._versioned(bound.get((m["tt"] or m["tc"]).lower()))
            if t is None:
                return m.group(0)
            key = f"__mura{len(frames)}"
            if m["tc"]:
                frames[key] = t.changes_feed(
                    int(m["lo"]), int(m["hi"]) if m["hi"] else None)
            else:
                frames[key] = self._snapshot(
                    t, m["tag"] or int(m["version"]))
            return "{" + key + "}"

        # literal braces must survive the format call the frames need
        escaped = query.replace("{", "{{").replace("}", "}}")
        rewritten = self._sub_outside_literals(self._FRAME_RE, sub, escaped)
        if not frames:
            return self.spark.sql(query)
        return self.spark.sql(rewritten, **frames)

    def _versioned(self, info: TableInfo | None) -> MuraTable | None:
        """The table of catalog entry ``info`` when it is registered
        with ``file_type="mura"``, else None."""
        if info is None or info.file_type != "mura":
            return None
        return MuraTable(self.spark, info.location)

    @staticmethod
    def _snapshot(t: MuraTable, ref: int | str) -> DataFrame:
        """``t`` as of commit ``ref`` (int) or of the tag ``ref`` (str)."""
        if isinstance(ref, str):
            return t.read(tag=ref)
        return t.read(version=ref)

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

    def _merge(self, t: MuraTable, m: "re.Match[str]") -> list[tuple]:
        """``MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE
        SET * | DELETE [WHEN NOT MATCHED THEN INSERT *] [WHEN NOT
        MATCHED BY SOURCE THEN DELETE]`` -> the copy-on-write
        :meth:`MuraTable.merge` (full-row actions — the Delta upsert
        shape; ``s`` is any Spark-resolvable view/table with the
        target's schema)."""
        clauses = m["clauses"]
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
        keys = self._parse_merge_keys(m["on"], m["table"], m["t_alias"],
                                      m["source"], m["s_alias"])
        stats = t.merge(self.spark.table(m["source"]), key_cols=keys,
                        when_matched=when_matched or "ignore",
                        insert_not_matched=insert,
                        sync_delete=sync_delete)
        return [(t._versions()[-1], stats.updated, stats.deleted,
                 stats.inserted)]

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

    def _history(self, t: MuraTable, m) -> list[tuple]:
        return [(c["version"], c["action"],
                 float(c["ts"]) if "ts" in c else None, len(c["files"]),
                 sum(c.get("rows", {}).get(f, 0) for f in c["files"]))
                for c in t.history()]

    def _clone(self, t: MuraTable, m) -> list[tuple]:
        clone = t.clone(m["location"],
                        version=int(m["version"]) if m["version"] else None,
                        tag=m["tag"])
        self.catalog.create_external_table(m["dst"], m["location"],
                                           file_type="mura")
        return [(m["dst"], m["location"], clone.row_count())]

    def _optimize(self, t: MuraTable, m) -> list[tuple]:
        cluster = [c.strip() for c in m["zorder"].split(",")] \
            if m["zorder"] else None
        v = t.compact(cluster_by=cluster)
        return [(v, len(t._manifest()["files"]))]

    #: The versioned-table statements, as (pattern, result schema,
    #: handler). The ``table`` group names the registered mura table the
    #: handler gets; ``_route`` owns the fall-through, the read-only
    #: refusal and the result frame. A commit needs nothing
    #: further: the next lookup re-binds the name at the new head.
    _STATEMENTS = [
        (_statement(rf"DELETE\s+FROM\s+{_T}(?:\s+WHERE\s+(?P<where>.+?))?"),
         "version long, rows_affected long, files_rewritten long",
         lambda self, t, m: [t.delete_where(m["where"] or "true")]),
        (_statement(rf"UPDATE\s+{_T}\s+SET\s+(?P<set>.+?)"
                    r"(?:\s+WHERE\s+(?P<where>.+?))?"),
         "version long, rows_affected long, files_rewritten long",
         lambda self, t, m: [t.update_where(
             m["where"] or "true", self._split_assignments(m["set"]))]),
        (_statement(rf"MERGE\s+INTO\s+{_T}(?:\s+AS\s+(?P<t_alias>\w+))?"
                    r"\s+USING\s+(?P<source>[A-Za-z_]\w*)"
                    r"(?:\s+AS\s+(?P<s_alias>\w+))?"
                    r"\s+ON\s+(?P<on>.+?)\s+(?P<clauses>WHEN\s+.+?)"),
         "version long, rows_updated long, rows_deleted long, "
         "rows_inserted long", _merge),
        (_statement(rf"ALTER\s+TABLE\s+{_T}\s+ADD\s+CONSTRAINT\s+"
                    r"(?P<name>[\w.-]+)\s+CHECK\s*\((?P<expr>.+)\)"),
         "version long, constraint string",
         lambda self, t, m: [(t.add_constraint(m["name"],
                                               m["expr"].strip()),
                              m["name"])]),
        (_statement(rf"ALTER\s+TABLE\s+{_T}\s+DROP\s+CONSTRAINT\s+"
                    r"(?P<name>[\w.-]+)"),
         "version long, constraint string",
         lambda self, t, m: [(t.drop_constraint(m["name"]), m["name"])]),
        (_statement(rf"DESCRIBE\s+HISTORY\s+{_T}"),
         "version long, action string, ts double, files long, rows long",
         _history),
        (_statement(rf"RESTORE\s+TABLE\s+{_T}\s+TO\s+VERSION\s+AS\s+OF\s+"
                    r"(?P<version>\d+)"),
         "version long, restored_from long",
         lambda self, t, m: [(t.restore(int(m["version"])),
                              int(m["version"]))]),
        (_statement(r"CREATE\s+TABLE\s+(?P<dst>[A-Za-z_]\w*)\s+"
                    rf"(?:SHALLOW\s+)?CLONE\s+{_T}"
                    r"(?:\s+VERSION\s+AS\s+OF\s+(?P<version>\d+)"
                    r"|\s+FOR\s+TAG\s+'(?P<tag>[\w.-]+)')?"
                    r"\s+LOCATION\s+'(?P<location>[^']+)'"),
         "table string, location string, rows long", _clone),
        (_statement(rf"OPTIMIZE\s+{_T}"
                    r"(?:\s+ZORDER\s+BY\s*\((?P<zorder>[^)]+)\))?"),
         "version long, files long", _optimize),
        (_statement(rf"VACUUM\s+{_T}"
                    r"(?:\s+RETAIN\s+(?P<retain>\d+)\s+VERSIONS)?"),
         "files_deleted long",
         lambda self, t, m: [(t.vacuum(retain_versions=int(
             m["retain"] or 2)),)]),
    ]

    def _route(self, query: str,
               bound: dict[str, TableInfo | None]) -> DataFrame | None:
        """Runs ``query`` when it is one of :attr:`_STATEMENTS` over a
        registered mura table; None when it is not (Spark runs it, or
        reports its own error for an unregistered name). ``bound`` holds
        the catalog entries :meth:`sql` looked up for the query's words,
        so the table is neither looked up nor its log listed again."""
        for pattern, schema, handler in self._STATEMENTS:
            m = pattern.match(query)
            if m is not None:
                break
        else:
            return None
        info = bound[m["table"].lower()]
        if info is None:
            return None
        if info.file_type != "mura":
            raise ValueError(
                f"{m['table']!r} is a read-only {info.file_type} external "
                f"table — this statement needs a versioned table "
                f"(register with file_type='mura')")
        rows = handler(self, MuraTable(self.spark, info.location), m)
        return self.spark.createDataFrame(rows, schema)

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
        t = self._versioned(self.catalog.lookup(name))
        if t is None:
            raise ValueError(
                f"{name!r} is not a registered mura versioned table "
                f"(register with file_type='mura' to time travel)")
        return self._snapshot(t, version)

    def stop(self) -> None:
        self.spark.stop()
