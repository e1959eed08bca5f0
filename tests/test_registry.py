"""Registry/rotation invariants.

The driver verifies only the FIRST 50 registry entries per round, so query
ordering is itself load-bearing: rounds 1-4 accumulated "rotation debt"
(oracled queries with no driver row) whenever additions landed past
position 50. These tests pin the invariants that keep that debt bounded to
at most one round, using the CORRECTNESS_r*.json ledgers committed in the
repo as the source of truth for what the driver has already verified.
"""

from __future__ import annotations

import glob
import json
import os
import re

import pytest

DRIVER_WINDOW = 50
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _registry():
    from mura_spark.suite import ORACLE_SQL, SPARK_QUERIES
    return list(SPARK_QUERIES), ORACLE_SQL


def _driver_green():
    """Names with at least one driver-green (hash-match, no error) row
    across every committed correctness ledger."""
    green = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(path) as fh:
            for name, row in json.load(fh).items():
                if row.get("hash_match") and not row.get("err"):
                    green.add(name)
    return green


def test_driver_window_is_fully_oracled():
    """Every query in the driver's 50-entry window has a value oracle — the
    window must never burn a slot on a rows-only check (those surface as
    `err: no_oracle` in driver output, indistinguishable from broken)."""
    reg, oracles = _registry()
    window = reg[:DRIVER_WINDOW]
    assert len(window) == DRIVER_WINDOW
    missing = [n for n in window if n not in oracles]
    assert not missing, f"rows-only queries inside the driver window: {missing}"


def test_rotation_debt_bounded_to_one_round():
    """Any oracled query the driver has NEVER verified green must sit inside
    the current window — i.e. new queries are promoted the round after they
    land, never parked past position 50 for a second round.

    One round can also add MORE than 50 never-verified queries; the driver
    physically cannot absorb that in one pass, so overflow is legal iff
    (a) the window itself is 100% never-verified (no slot is wasted on
    re-verification while debt waits) and (b) the overflow sits contiguously
    at positions 51+ — first in line for the next round's window."""
    reg, oracles = _registry()
    green = _driver_green()
    window = set(reg[:DRIVER_WINDOW])
    debt = [n for n in reg
            if n in oracles and n not in green and n not in window]
    if not debt:
        return
    wasted = [n for n in reg[:DRIVER_WINDOW] if n in green]
    assert not wasted, (
        f"never-verified queries parked outside the window ({debt[:5]}...) "
        f"while window slots re-verify already-green queries: {wasted}")
    overflow_tail = reg[DRIVER_WINDOW:DRIVER_WINDOW + len(debt)]
    assert overflow_tail == debt, (
        f"window-overflow debt must sit contiguously at positions "
        f"{DRIVER_WINDOW + 1}+: expected {debt}, found {overflow_tail}")


def test_rows_only_queries_pinned_to_tail():
    """Approximate (rows-only) queries stay at the registry tail so the
    driver's window never reaches them; their driver-facing correctness
    lives in their deterministic companion queries."""
    reg, oracles = _registry()
    rows_only_positions = [i for i, n in enumerate(reg) if n not in oracles]
    n_tail = len(rows_only_positions)
    assert rows_only_positions == list(range(len(reg) - n_tail, len(reg)))


def test_every_rows_only_query_has_a_deterministic_companion():
    """Each approximate query must map to an oracled companion that
    exercises the same operator pipeline deterministically."""
    reg, oracles = _registry()
    companions = {
        "ann_topk_lsh": "ann_topk_lsh_exhaustive",
        "ann_topk_ivf": "ann_topk_ivf_fullprobe",
        "dedup_embedding_pairs_lsh": "dedup_embedding_pairs_lsh_full",
        "sketch_distinct_users": "sketch_distinct_users_exact",
        "sketch_value_percentiles": "sketch_value_percentiles_exact",
    }
    rows_only = [n for n in reg if n not in oracles]
    for name in rows_only:
        assert name in companions, f"rows-only query {name} has no companion"
        comp = companions[name]
        assert comp in oracles, f"companion {comp} is not oracled"


def test_window_prefers_stalest_rows():
    """Within the window, fresh additions (no green row anywhere) come
    before backfill; and nothing re-verified in the latest committed round
    may displace a query whose newest green row is older. Weak form: the
    window must contain every query whose ONLY green rows are from the
    oldest round present, when any such query exists."""
    reg, _ = _registry()
    rounds = {}
    # numeric round sort: 'r100' must outrank 'r99' (lexicographic would
    # silently mis-rank once round numbers reach three digits)
    paths = sorted(
        glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")),
        key=lambda p: int(
            re.search(r"r(\d+)", os.path.basename(p)).group(1)))
    for path in paths:
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        with open(path) as fh:
            for name, row in json.load(fh).items():
                if row.get("hash_match") and not row.get("err"):
                    rounds[name] = rnd  # numeric sort → ends at newest
    if not rounds:
        return
    newest = max(rounds.values())
    window = set(reg[:DRIVER_WINDOW])
    # queries already green in the newest round should not occupy window
    # slots while stalest (oldest-round) queries are left outside
    stale = [n for n in reg if n in rounds and rounds[n] != newest]
    outside_stale = [n for n in stale if n not in window]
    inside_fresh = [n for n in window if rounds.get(n) == newest]
    if outside_stale:
        assert not inside_fresh, (
            f"window holds already-fresh rows {inside_fresh[:5]} while "
            f"stale rows sit outside: {outside_stale[:5]}")


def test_bench_exclusions_partition_the_registry():
    """``bench.py`` times every registry query except its named
    exclusions: each excluded name must exist (a renamed query would
    otherwise slip into the bench silently), and benched plus excluded
    cover the registry with no overlap."""
    import bench
    reg = set(_registry()[0])
    assert not bench.BENCH_EXCLUDED - reg, sorted(bench.BENCH_EXCLUDED - reg)
    benched = set(bench.BENCH_QUERIES)
    assert len(benched) == len(bench.BENCH_QUERIES)
    assert not benched & bench.BENCH_EXCLUDED
    assert benched | bench.BENCH_EXCLUDED == reg


def test_module_registrar_refuses_a_duplicate_name():
    from mura_spark.suite.common import registry
    spark_queries, oracle_sql, q = registry()
    q("dup_q", "SELECT 1")(lambda spark, sf: None)
    with pytest.raises(ValueError, match="dup_q"):
        q("dup_q")(lambda spark, sf: None)
    assert list(spark_queries) == ["dup_q"]
    assert oracle_sql == {"dup_q": "SELECT 1"}
