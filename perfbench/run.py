"""mura-spark benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 \
        --trace 0

It generates the workload's inputs from the seed (cached under
``.perfbench_cache/`` next to this directory), starts a Spark session on
``local[<cores>]``, registers the inputs in the catalog, warms up with
one pass, then runs whole passes of the workload's operations, one at a
time: ``--seconds`` divided by the workload's ``seconds_per_pass`` of
them.  Every output is checked afterwards, outside the timed region.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``; the per-layer metrics with ``--trace 1``, whose run times
its first half untraced and its second half traced, and also writes the
spans to ``.perfbench_cache/traces/``).  A wrong result exits 1.
``--workload all`` runs every workload, each in its own process.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402

from perfbench import trace as tr  # noqa: E402
from perfbench.workloads import (WORKLOADS, WRITES, SuiteOps,  # noqa: E402
                                 TableCommits)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark():
    """A session on local[<cores>] whose scratch space and Python
    workers' import path both stay inside the checkout."""
    local = os.path.join(CACHE, "tmp")
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    from mura_spark.session import get_spark
    # the driver memory stays the program's own default; only the JVM's
    # scratch files are kept inside the checkout (no perf-data file,
    # which the JVM would write under /tmp whatever java.io.tmpdir is)
    spark = get_spark("perfbench", master=f"local[{cores()}]", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} "
                                         "-XX:-UsePerfData",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(local, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        # the relational inputs are sf0.01 x 4 (1 MB of orders, 4 MB of
        # lineitem as parquet), so the broadcast threshold is scaled down
        # with them: orders and lineitem stay above it, as they would at
        # sf0.1 x 4 with Spark's 10 MB default; the dimensions below it
        "spark.sql.autoBroadcastJoinThreshold": str(256 * 1024),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        proc.wait(timeout=120)


class OpRecord:
    """Spans of one operation; ``span`` times a call into the package."""

    def __init__(self, tracer: tr.Tracer, op_id: int, name: str) -> None:
        self.tracer, self.op_id = tracer, op_id
        self.root = tracer.add(name, "op", 0.0, 0.0, op_id)
        self.df = None        # the result DataFrame, for Catalyst phases
        self.rows_out = 0
        self.info: dict = {}

    @contextlib.contextmanager
    def span(self, name: str, kind: str):
        t0 = tr.now()
        try:
            yield
        finally:
            self.child(name, kind, t0, tr.now())

    def child(self, name: str, kind: str, start: float, end: float) -> None:
        self.tracer.add(name, kind, start, end, self.op_id, self.root.sid)


def _phases(df) -> dict[str, float]:
    """Catalyst phase times of ``df``'s QueryExecution (seconds)."""
    out = {}
    phases = df._jdf.queryExecution().tracker().phases()
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        if opt.isDefined():
            out[p] = opt.get().durationMs() / 1000
    return out


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.rng = np.random.default_rng(args.seed)
        self.tracer = tr.Tracer()
        self.ops: list[dict] = []      # one entry per attempted operation
        self.attempted = self.failed = 0
        self.passes: list[tuple[bool, float]] = []   # (traced, wall)
        self.tables: list[str] = []

    # -- operations ------------------------------------------------------

    def _run_op(self, spec: dict, measured: bool, traced: bool) -> None:
        op_id = len(self.ops)
        rec = OpRecord(self.tracer, op_id, spec["op"])
        before = self._scan_files() if self.tables else None
        ub0 = getattr(self.driver, "user_bytes", 0)
        w0 = tr.now()
        ok, conflict = True, False
        try:
            self.driver.run(spec, rec)
        except Exception as e:  # an operation that raises is counted failed
            ok, conflict = False, type(e).__name__ == "CommitConflict"
            print(f"# op {spec['op']} failed: {type(e).__name__}: "
                  f"{str(e)[:300]}", file=sys.stderr)
        w1 = tr.now()
        # the operation's latency covers its calls into the package only,
        # not the input preparation and replay bookkeeping around them
        calls = [s for s in self.tracer.spans[rec.root.sid + 1:]
                 if s.parent == rec.root.sid and s.kind != "stream"]
        t0, t1 = (min(s.start for s in calls), max(s.end for s in calls)) \
            if calls else (w0, w1)
        rec.root.start, rec.root.end = t0, t1
        self.attempted += 1
        self.failed += not ok
        entry = {"op": spec["op"], "id": op_id, "start": t0, "end": t1,
                 "ok": ok, "measured": measured, "traced": traced,
                 "rows_out": rec.rows_out, "span": rec.root,
                 "conflict": conflict, "info": rec.info}
        if before is not None:
            after = self._scan_files()
            new = {p: s for p, s in after.items() if p not in before}
            entry["files_added"], entry["bytes_added"] = \
                len(new), sum(new.values())
            entry["user_bytes"] = self.driver.user_bytes - ub0
        if traced and ok and rec.df is not None:
            entry["catalyst"] = _phases(rec.df)
        self.ops.append(entry)

    def _scan_files(self) -> dict[str, int]:
        out = {}
        for d in self.tables:
            for root, _dirs, files in os.walk(d):
                for f in files:
                    p = os.path.join(root, f)
                    with contextlib.suppress(OSError):
                        out[p] = os.path.getsize(p)
        return out

    def _loop(self, seconds: float, traced: bool) -> None:
        """``seconds / seconds_per_pass`` whole passes (at least one).  The
        count does not depend on how fast this run happens to be, so every
        run of a workload measures the same operations; stopping on the
        clock made runs near the boundary measure one pass or two."""
        for _ in range(max(1, round(seconds / self.wl.seconds_per_pass))):
            p0 = tr.now()
            for spec in self.driver.pass_ops(self.rng):
                self._run_op(spec, True, traced)
            self.passes.append((traced, tr.now() - p0))

    # -- the run ---------------------------------------------------------

    def execute(self) -> dict:
        import mura_spark  # noqa: F401  (fail before any work without it)

        from perfbench import gen
        data = gen.dataset(os.path.join(CACHE, "data"), self.args.seed,
                           self.wl.sf, self.wl.k, self.wl.tables)
        # memory is sampled in traced runs only: the sampler walks /proc
        # four times a second, work the untraced timings should not carry
        sampler = tr.MemSampler() if self.args.trace \
            else contextlib.nullcontext()
        with sampler as mem:
            t_setup = tr.now()
            spark = start_spark()
            try:
                return self._execute(spark, data, mem, t_setup)
            finally:
                stop_spark(spark)

    def _execute(self, spark, data: str, mem, t_setup: float) -> dict:
        from mura_spark.session import MuraSession
        ms = MuraSession(spark)
        t0 = tr.now()
        for name in self.wl.tables:
            ms.catalog.create_external_table(
                name, os.path.join(data, f"{name}.parquet"))
        register_s = tr.now() - t0
        t_tables = tr.now()
        if self.wl.name == "table_commits":
            self.driver = TableCommits(
                spark, data, os.path.join(CACHE, "tables", self.wl.name),
                self.args.seed)
            self.driver.setup()
            self.tables = self.driver.table_dirs()
        else:
            self.driver = SuiteOps(spark, self.wl, data)
        t_warm = tr.now()
        for spec in self.driver.pass_ops(self.rng):     # warm-up pass
            self._run_op(spec, False, False)
        setup_s = tr.now() - t_setup
        print(f"# setup: session {t0 - t_setup:.1f} s, catalog "
              f"{register_s:.1f} s, tables {t_warm - t_tables:.1f} s, "
              f"warm-up {tr.now() - t_warm:.1f} s", file=sys.stderr)

        trace = bool(self.args.trace)
        if trace:
            self._loop(self.args.seconds / 2, False)
            self._loop(self.args.seconds / 2, True)
        else:
            self._loop(self.args.seconds, False)
        window_ops = [o for o in self.ops if o["measured"]]

        errors = self.verdict()
        for e in errors:
            print(f"# WRONG: {e}", file=sys.stderr)

        m = self._e2e(window_ops, setup_s)
        if trace:
            m["_peak_pss_mb"] = mem.peak / 2**20
            m = self._layers(m, register_s,
                             *tr.StatusStore(spark).jobs_stages())
            for o in self.ops:
                o["span"].attrs["self_s"] = tr.self_time(self.tracer,
                                                         o["span"])
            self.tracer.dump(os.path.join(
                CACHE, "traces",
                f"{self.wl.name}_seed{self.args.seed}.json"))
        return {"correct": not errors, "metrics": m}

    def verdict(self) -> list[str]:
        """What is wrong with the run: the driver's output checks, and any
        operation that raised, since a raised operation leaves no result
        to check and its timing is that of the exception."""
        errors = self.driver.verify()
        if self.failed:
            errors.append(f"{self.failed} of {self.attempted} operations "
                          "raised")
        return errors

    # -- metrics ---------------------------------------------------------

    @staticmethod
    def _latencies_by_op(ops: list[dict]) -> dict[str, list[float]]:
        by: dict[str, list[float]] = {}
        for o in ops:
            by.setdefault(o["op"], []).append(o["end"] - o["start"])
        return by

    def _pass_s(self, ops: list[dict], n_passes: int) -> float:
        """Estimated wall of one pass: per operation type, its low median
        latency times how often a pass runs it.  The low median of two
        samples is the faster one, so a burst of load from other tenants
        of the host that hits one of two passes does not set the figure."""
        return sum(statistics.median_low(v) * len(v) / n_passes
                   for v in self._latencies_by_op(ops).values())

    def _e2e(self, ops: list[dict], setup_s: float) -> dict:
        untraced = [o for o in ops if not o["traced"]]
        lat = [o["end"] - o["start"] for o in untraced]
        n_pass = sum(1 for t, _ in self.passes if not t)
        pct, tail = _tail(lat)
        by = self._latencies_by_op(untraced)
        warm = {o["op"]: o["end"] - o["start"] for o in self.ops
                if not o["measured"]}
        print("# op medians (warm-up): " + ", ".join(
            f"{k} {tr.median(v):.2f} ({warm.get(k, 0):.2f})"
            for k, v in sorted(by.items())), file=sys.stderr)
        print(f"# {self.wl.name}: {len(lat)} ops in {n_pass} passes ("
              + ", ".join(f"{w:.2f} s" for t, w in self.passes if not t)
              + f"); op_tail_s is p{pct:.1f}", file=sys.stderr)
        # The pooled median and tail of a run's two or three dozen
        # operations fall between operation types and jump with them from
        # run to run, so they are reported per layer (the tail with its
        # percentile) and pass_s carries the bound.  Peak memory at the
        # program's own heap settings moves with when the collector grows
        # the heap (2.6 to 4.1 GB between identical relational runs), too
        # far for any bound, so it is reported per layer as well.
        return {"setup_s": setup_s,
                "pass_s": self._pass_s(untraced, n_pass),
                "_op_p50_s": tr.median(lat), "_op_tail_s": tail,
                "_tail_pct": pct, "_samples": len(lat)}

    def _layers(self, e2e: dict, register_s: float, jobs: list[dict],
                stages: dict[int, list[dict]]) -> dict:
        """Per-layer metrics of the traced operations, per pass."""
        ops = [o for o in self.ops if o["traced"]]
        n_pass = sum(1 for t, _ in self.passes if t)
        spans = self.tracer
        for j in jobs:  # nest each job under the op containing it
            owner = next((o for o in ops if j["t0"] is not None and
                          o["start"] - 0.005 <= j["t0"] <= o["end"] + 0.005),
                         None)
            if owner is None:
                continue
            st = [a for sid in j.get("stageIds", []) for a in
                  stages.get(sid, [])]
            spans.add(f"job {j['jobId']}", "job", j["t0"], j["t1"],
                      owner["id"], owner["span"].sid, job_id=j["jobId"],
                      stages=len(st),
                      tasks=sum(a.get("numTasks", 0) for a in st),
                      failed_tasks=sum(a.get("numFailedTasks", 0)
                                       for a in st),
                      run_ms=sum(a.get("executorRunTime", 0) for a in st),
                      cpu_ns=sum(a.get("executorCpuTime", 0) for a in st),
                      gc_ms=sum(a.get("jvmGcTime", 0) for a in st),
                      in_bytes=sum(a.get("inputBytes", 0) for a in st),
                      in_rows=sum(a.get("inputRecords", 0) for a in st),
                      sh_w=sum(a.get("shuffleWriteBytes", 0) for a in st),
                      sh_r=sum(a.get("shuffleReadBytes", 0) for a in st),
                      fetch_ms=sum(a.get("shuffleFetchWaitTime", 0)
                                   for a in st),
                      spill=sum(a.get("diskBytesSpilled", 0) for a in st))
        per = 1 / max(n_pass, 1)
        job_spans = [s for s in spans.spans if s.kind == "job"]
        jobs_of = {}
        for s in job_spans:
            jobs_of.setdefault(s.op, []).append(s)

        def jsum(key):
            return sum(s.attrs[key] for s in job_spans)

        by_id = {o["id"]: o for o in ops}
        kind_spans = lambda k: [s for s in spans.spans  # noqa: E731
                                if s.kind == k and s.op in by_id]
        gap = sum((o["end"] - o["start"]) - tr.union_length(
            [(s.start, s.end) for s in jobs_of.get(o["id"], [])],
            o["start"], o["end"]) for o in ops)
        cat = {p: sum(o.get("catalyst", {}).get(p, 0.0) for o in ops)
               for p in ("analysis", "optimization", "planning")}
        commits_tc = self.wl.name == "table_commits"
        in_rows = jsum("in_rows")
        m = {
            "catalog.register_s": register_s,
            "driver.build_s": per * sum(
                s.dur for k in ("build", "commit", "read")
                for s in kind_spans(k)),
            "driver.gap_s": per * gap,
            "catalyst.analysis_s": per * cat["analysis"],
            "catalyst.optimization_s": per * cat["optimization"],
            "catalyst.planning_s": per * cat["planning"],
            "spark.jobs": per * len(job_spans),
            "spark.stages": per * jsum("stages"),
            "spark.tasks": per * jsum("tasks"),
            "spark.job_s": per * sum(s.dur for s in job_spans),
            "spark.tasks_failed": per * jsum("failed_tasks"),
            "executor.run_s": per * jsum("run_ms") / 1e3,
            "executor.cpu_s": per * jsum("cpu_ns") / 1e9,
            "executor.gc_s": per * jsum("gc_ms") / 1e3,
            "executor.offcpu_s": per * (jsum("run_ms") / 1e3
                                        - jsum("cpu_ns") / 1e9),
            "shuffle.write_mb": per * jsum("sh_w") / 2**20,
            "shuffle.read_mb": per * jsum("sh_r") / 2**20,
            "shuffle.fetch_wait_s": per * jsum("fetch_ms") / 1e3,
            "spill.disk_mb": per * jsum("spill") / 2**20,
            "scan.input_mb": per * jsum("in_bytes") / 2**20,
            "scan.input_rows": per * in_rows,
            "scan.rows_out_per_in": sum(o["rows_out"] for o in ops)
            / max(in_rows, 1),
            "ops_failed_frac": self.failed / max(self.attempted, 1),
            "op_p50_s": e2e["_op_p50_s"],
            "op_tail_s": e2e["_op_tail_s"],
            "op.samples": e2e["_samples"],
            "op.tail_pct": e2e["_tail_pct"],
            "peak_pss_mb": e2e["_peak_pss_mb"],
            "trace.overhead_ratio": self._pass_s(ops, n_pass)
            / e2e["pass_s"],
        }
        m.update(self._table_layers(ops, job_spans, per) if commits_tc
                 else dict.fromkeys(TABLE_METRICS, 0.0))
        return m

    def _table_layers(self, ops: list[dict], job_spans: list, per: float
                      ) -> dict:
        """Metrics of the table-format layers (``table_commits`` only)."""
        lat = lambda os_: [o["end"] - o["start"] for o in os_]  # noqa
        of = lambda *names: [o for o in ops if o["op"] in names]  # noqa
        writes = of(*WRITES)
        reads = [o for o in ops if o["op"] not in WRITES]
        ids = lambda os_: {o["id"] for o in os_}  # noqa: E731
        trig = [s for s in self.tracer.spans
                if s.kind == "stream" and s.op in ids(ops)]
        lookups = [o["info"]["files_read_frac"] for o in of("lookup")
                   if "files_read_frac" in o["info"]]
        return {
            "commit_p50_s": tr.median(lat(writes)),
            "commit_tail_s": _tail(lat(writes))[1],
            "read_p50_s": tr.median(lat(reads)),
            "read_tail_s": _tail(lat(reads))[1],
            "table.commit_jobs": per * sum(s.op in ids(writes)
                                           for s in job_spans),
            "table.commit_files": per * sum(o["files_added"]
                                            for o in writes),
            "table.commit_mb": per * sum(o["bytes_added"]
                                         for o in writes) / 2**20,
            "table.conflict_retries": per * sum(o["conflict"] for o in ops),
            "table.lookup_files_read_frac":
                sum(lookups) / len(lookups) if lookups else 0.0,
            "view.refresh_s": per * sum(lat(of("refresh"))),
            "view.refresh_jobs": per * sum(s.op in ids(of("refresh"))
                                           for s in job_spans),
            "stream.trigger_s": per * sum(s.dur for s in trig),
            "stream.lifecycle_s": per * (sum(lat(of("stream")))
                                         - sum(s.dur for s in trig)),
            "table.compact_s": per * sum(lat(of("compact"))),
            "table.rewritten_mb": per * sum(
                o["bytes_added"] for o in of("compact")) / 2**20,
            "write_amp": sum(o["bytes_added"] for o in ops)
            / max(sum(o["user_bytes"] for o in ops), 1),
            "space_amp": self.driver.space_amp(),
        }


TABLE_METRICS = (
    "commit_p50_s", "commit_tail_s", "read_p50_s", "read_tail_s",
    "table.commit_jobs", "table.commit_files", "table.commit_mb",
    "table.conflict_retries", "table.lookup_files_read_frac",
    "view.refresh_s", "view.refresh_jobs", "stream.trigger_s",
    "stream.lifecycle_s", "table.compact_s", "table.rewritten_mb",
    "write_amp", "space_amp")


def _tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) by the ten-beyond rule; with too few samples
    for it, the maximum (reported as the 100th percentile)."""
    return tr.tail(values) or (100.0, max(values, default=0.0))


def run_all(args) -> int:
    """Every workload in turn, each in its own process (own JVM); exits
    non-zero if any of them does."""
    import subprocess
    rc = 0
    for name in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)], stdout=subprocess.PIPE, text=True)
        last = (p.stdout.strip().splitlines() or [""])[-1]
        print(json.dumps({"workload": name, "exit": p.returncode,
                          "result": json.loads(last) if last else None}))
        rc = rc or p.returncode
    return rc


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(WORKLOADS) + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    run = Run(args)
    res = run.execute()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    got = {k: v for k, v in res["metrics"].items() if not k.startswith("_")}
    if set(got) != {d["name"] for d in declared}:
        raise RuntimeError(f"metrics {sorted(got)} do not match "
                           "BENCHMARK.json")
    metrics = {d["name"]: {"value": float(got[d["name"]]),
                           "unit": d["unit"]} for d in declared}
    print(json.dumps({"correct": res["correct"], "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
