"""Self-tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from perfbench import check, gen, trace  # noqa: E402

TINY = 0.001
NAMES = ["nation", "region", "supplier", "part", "customer", "orders",
         "lineitem"]


def _file_digest(root: str) -> str:
    h = hashlib.md5()
    for d, _dirs, files in sorted(os.walk(root)):
        for f in sorted(files):
            if f.endswith(".parquet"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.dataset(str(tmp_path / "a"), 3, TINY, 2, NAMES)
    b = gen.dataset(str(tmp_path / "b"), 3, TINY, 2, NAMES)
    assert _file_digest(a) == _file_digest(b)
    assert gen.commit_stream(3, 4, 100) == gen.commit_stream(3, 4, 100)
    assert gen.commit_stream(3, 4, 100) != gen.commit_stream(4, 4, 100)


def test_second_seed_changes_bytes_not_oracle_hashes(tmp_path):
    from mura_spark.suite import ORACLE_SQL
    a = gen.dataset(str(tmp_path), 1, TINY, 2, NAMES)
    b = gen.dataset(str(tmp_path), 2, TINY, 2, NAMES)
    assert _file_digest(a) != _file_digest(b)
    for q in ("q1_pricing_summary", "q3_shipping_priority",
              "q18_large_orders", "window_topk_per_group"):
        hashes = []
        for d in (a, b):
            con = check.duck_connect(d, NAMES)
            hashes.append(check.digest(check.canonical(
                con.execute(ORACLE_SQL[q]).df())))
            con.close()
        assert hashes[0] == hashes[1], q


def test_replicas_keep_joins_inside_each_copy():
    t = gen.replicate(gen.base_tables(TINY), 3)
    orders, cust = t["orders"].to_pandas(), t["customer"].to_pandas()
    assert len(orders) == 3 * len(gen.base_tables(TINY)["orders"])
    assert orders["o_orderkey"].is_unique
    assert set(orders["o_custkey"]) <= set(cust["c_custkey"])


def test_tail_rule():
    assert trace.tail(list(range(10))) is None
    pct, v = trace.tail([float(x) for x in range(1, 21)])
    assert (pct, v) == (50.0, 10.0)   # ten samples (11..20) beyond it
    pct, v = trace.tail([float(x) for x in range(100, 0, -1)])
    assert (pct, v) == (90.0, 90.0)
    from perfbench.run import _tail   # too few samples: the maximum
    assert _tail([3.0, 1.0, 2.0]) == (100.0, 3.0)


def test_self_time_on_a_synthetic_span_tree():
    t = trace.Tracer()
    op = t.add("op", "op", 0.0, 10.0, 0)
    t.add("build", "build", 0.0, 2.0, 0, op.sid)
    t.add("action", "action", 1.0, 5.0, 0, op.sid)
    t.add("job", "job", 6.0, 7.0, 0, op.sid)
    t.add("job", "job", 9.5, 12.0, 0, op.sid)   # clipped at the op's end
    assert trace.self_time(t, op) == pytest.approx(10 - 5 - 1 - 0.5)
    assert trace.union_length([(0, 1), (0.5, 2), (3, 4)]) == 3.0


def test_a_raising_operation_makes_the_run_wrong():
    """An operation that raises leaves nothing for the output checks to
    see; it must still fail the run (e.g. workers that cannot import the
    package)."""
    from perfbench import run as runner

    class Raising:
        def run(self, spec, rec):
            with rec.span("action", "action"):
                raise ModuleNotFoundError("No module named 'mura_spark'")

        def verify(self):
            return []

    r = runner.Run(argparse.Namespace(workload="relational", seed=1,
                                      seconds=1, trace=0))
    r.driver = Raising()
    r._run_op({"op": "q1_pricing_summary"}, True, False)
    assert (r.attempted, r.failed) == (1, 1)
    assert r.verdict() == ["1 of 1 operations raised"]


def test_an_operation_without_a_result_is_reported(tmp_path):
    from perfbench.workloads import WORKLOADS, SuiteOps
    ops = SuiteOps.__new__(SuiteOps)
    ops.wl, ops.results = WORKLOADS["relational"], {}
    ops.data_dir = gen.dataset(str(tmp_path), 1, TINY, 1, NAMES)
    ops.oracles = {}
    errors = ops.verify()
    assert len(errors) == len(WORKLOADS["relational"].ops)


def _spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_printed_metric_is_declared():
    """The metric sets the runner computes are exactly the declared ones
    (the runner also refuses to print any other set)."""
    from perfbench import run as runner
    spec = _spec()
    r = runner.Run(argparse.Namespace(workload="table_commits", seed=1,
                                      seconds=1, trace=1))

    r.driver = type("D", (), {"space_amp": lambda self: 1.5})()
    for i, (op, traced) in enumerate([("append", False), ("lookup", False),
                                      ("append", True), ("lookup", True)]):
        r.ops.append({"op": op, "id": i, "start": float(i),
                      "end": i + 0.5, "ok": True, "measured": True,
                      "traced": traced, "rows_out": 1, "files_added": 1,
                      "bytes_added": 10, "user_bytes": 5,
                      "conflict": False, "info": {"files_read_frac": 0.5},
                      "span": r.tracer.add(op, "op", float(i), i + 0.5, i)})
    r.ops.extend(dict(r.ops[i % 2], id=4 + i, start=4.0 + i, end=4.5 + i)
                 for i in range(12))
    r.passes = [(False, 1.0), (True, 1.0)]
    e2e = r._e2e([o for o in r.ops if o["measured"]], 3.0)
    assert {k for k in e2e if not k.startswith("_")} == \
        {m["name"] for m in spec["end_to_end"]}
    e2e["_peak_pss_mb"] = 1024.0
    jobs = [{"jobId": 0, "t0": 2.1, "t1": 2.3, "stageIds": [0]}]
    stages = {0: [{"numTasks": 4, "executorRunTime": 100,
                   "executorCpuTime": 5e7, "inputRecords": 10}]}
    layers = r._layers(e2e, 0.2, jobs, stages)
    assert set(layers) == {m["name"] for m in spec["per_layer"]}
    assert layers["spark.jobs"] == 1
    assert layers["executor.offcpu_s"] == pytest.approx(0.05)


def test_benchmark_json_follows_its_contract():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    from perfbench.workloads import WORKLOADS
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    names = [m["name"] for k in ("end_to_end", "per_layer")
             for m in spec[k]]
    assert len(names) == len(set(names))
    assert "setup_s" in {m["name"] for m in spec["end_to_end"]}
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_run_outputs_stay_out_of_git():
    """Everything a run writes lives under one ignored cache directory."""
    from perfbench import run as runner
    with open(os.path.join(REPO, ".gitignore")) as f:
        ignored = f.read().split()
    assert os.path.basename(runner.CACHE) + "/" in ignored
