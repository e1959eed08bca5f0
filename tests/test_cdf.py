"""Row-level Change Data Feed (MuraTable.changes_feed): the Delta CDF
contract — _change_type insert/update_preimage/update_postimage/delete
+ _commit_version per row, derived free for insert-only commits and
from DML sidecars when cdf=True. The feed is EXACT row deltas: a
rewritten file's unchanged rows never replay."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mura_spark.sources.table_format import MuraTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, m int, val string")


BASE = [(1, 1, "a"), (2, 1, "b"), (3, 2, "c")]


def _feed(t, since, version=None):
    return sorted(
        (r._commit_version, r._change_type, r.k, r.m, r.val)
        for r in t.changes_feed(since, version).collect())


def test_insert_feed_from_manifest_diffs(spark, tmp_path):
    t = MuraTable.create(spark, str(tmp_path / "t"), _df(spark, BASE))
    t.append(_df(spark, [(4, 2, "d")]))
    # from 0: the create itself feeds as inserts
    assert _feed(t, 0) == [
        (1, "insert", 1, 1, "a"), (1, "insert", 2, 1, "b"),
        (1, "insert", 3, 2, "c"), (2, "insert", 4, 2, "d")]
    # from 1: only the append
    assert _feed(t, 1) == [(2, "insert", 4, 2, "d")]
    # bounded range
    assert _feed(t, 1, version=1) == []


def test_dml_feed_has_pre_and_post_images(spark, tmp_path):
    t = MuraTable.create(spark, str(tmp_path / "t"), _df(spark, BASE),
                         cdf=True)
    t.update_where("k = 1", {"val": F.lit("A")})
    t.delete_where("k = 3")
    assert _feed(t, 1) == [
        (2, "update_postimage", 1, 1, "A"),
        (2, "update_preimage", 1, 1, "a"),
        (3, "delete", 3, 2, "c")]


def test_merge_feed_covers_all_clauses(spark, tmp_path):
    t = MuraTable.create(spark, str(tmp_path / "t"), _df(spark, BASE),
                         cdf=True)
    # upsert: update 2, insert 9, sync-delete 1 and 3
    t.merge(_df(spark, [(2, 9, "B"), (9, 9, "i")]), key_cols=["k"],
            sync_delete=True)
    assert _feed(t, 1) == [
        (2, "delete", 1, 1, "a"),
        (2, "delete", 3, 2, "c"),
        (2, "insert", 9, 9, "i"),
        (2, "update_postimage", 2, 9, "B"),
        (2, "update_preimage", 2, 1, "b")]
    # replaying the feed onto version 1 reproduces version 2 exactly
    v1 = {(r.k, r.m, r.val) for r in t.read(version=1).collect()}
    feed = t.changes_feed(1).collect()
    for r in feed:
        if r._change_type in ("delete", "update_preimage"):
            v1.discard((r.k, r.m, r.val))
        if r._change_type in ("insert", "update_postimage"):
            v1.add((r.k, r.m, r.val))
    assert v1 == {(r.k, r.m, r.val) for r in t.read().collect()}


def test_feed_without_sidecar_refuses_and_overwrite_file_diffs(
        spark, tmp_path):
    t = MuraTable.create(spark, str(tmp_path / "t"), _df(spark, BASE))
    t.delete_where("k = 1")  # cdf off: no sidecar
    with pytest.raises(ValueError, match="no row-level CDF sidecar"):
        t.changes_feed(1).collect()
    t.set_cdf(True)
    t.delete_where("k = 2")  # now recorded
    assert _feed(t, 3) == [(4, "delete", 2, 1, "b")]
    # overwrite feeds as a file diff: every old row deletes, every
    # new row inserts — needs no sidecar (derived from manifests)
    t.overwrite(_df(spark, [(9, 9, "z")]))
    assert _feed(t, 4) == [(5, "delete", 3, 2, "c"),
                           (5, "insert", 9, 9, "z")]
    # restore feeds only the NET file change (common files are silent)
    t.restore(4)
    assert _feed(t, 5) == [(6, "delete", 9, 9, "z"),
                           (6, "insert", 3, 2, "c")]
    # compact contributes nothing (rows unchanged)
    t2 = MuraTable.create(spark, str(tmp_path / "t2"), _df(spark, BASE),
                          cdf=True)
    t2.compact()
    assert _feed(t2, 1) == []


def test_vacuum_gcs_unreferenced_cdf_sidecars(spark, tmp_path):
    import glob
    import os
    path = str(tmp_path / "t")
    t = MuraTable.create(spark, path, _df(spark, BASE), cdf=True)
    t.update_where("k = 1", {"val": F.lit("A")})
    t.append(_df(spark, [(4, 2, "d")]))
    t.append(_df(spark, [(5, 2, "e")]))
    assert glob.glob(os.path.join(path, "_cdf", "*", "*.parquet"))
    t.vacuum(retain_versions=2)
    # v2's sidecar is outside the retention window: gone
    assert not glob.glob(os.path.join(path, "_cdf", "*", "*.parquet"))
    # retained sidecars survive a vacuum that keeps their version
    t.update_where("k = 4", {"val": F.lit("D")})
    t.vacuum(retain_versions=2)
    assert glob.glob(os.path.join(path, "_cdf", "*", "*.parquet"))
    assert _feed(t, 4) == [
        (5, "update_postimage", 4, 2, "D"),
        (5, "update_preimage", 4, 2, "d")]


def test_cdf_flag_survives_commits_and_streaming(spark, tmp_path):
    t = MuraTable.create(spark, str(tmp_path / "t"), _df(spark, BASE),
                         cdf=True)
    t.append(_df(spark, [(4, 2, "d")]))
    t.compact()
    t.restore(2)
    assert t._manifest().get("cdf") is True
    t.set_cdf(False)
    assert "cdf" not in t._manifest()


def test_sql_table_changes_tvf(spark, tmp_path):
    from mura_spark.session import MuraSession
    ms = MuraSession(spark)
    path = str(tmp_path / "t")
    t = MuraTable.create(spark, path, _df(spark, BASE), cdf=True)
    t.update_where("k = 2", {"val": F.lit("B")})
    ms.create_external_table("cdf_t", path, file_type="mura")
    rows = ms.sql(
        "SELECT _change_type, k, val FROM table_changes('cdf_t', 1) "
        "ORDER BY _change_type").collect()
    assert [(r._change_type, r.k, r.val) for r in rows] == [
        ("update_postimage", 2, "B"), ("update_preimage", 2, "b")]
    # composes with aggregation SQL
    n = ms.sql("SELECT count(*) AS n FROM table_changes('cdf_t', 0) "
               "WHERE _change_type = 'insert'").collect()[0].n
    assert n == 3


def test_batch_read_change_feed_option(spark, tmp_path):
    t = MuraTable.create(spark, str(tmp_path / "t"), _df(spark, BASE),
                         cdf=True)
    t.update_where("k = 2", {"val": F.lit("B")})
    t.append(_df(spark, [(4, 2, "d")]))
    got = sorted(
        (r._commit_version, r._change_type, r.k, r.val)
        for r in t.changes_feed(1).collect())
    assert got == [
        (2, "update_postimage", 2, "B"),
        (2, "update_preimage", 2, "b"),
        (3, "insert", 4, "d")]
    # bounded range
    assert t.changes_feed(2, 2).count() == 0


def test_streaming_change_feed_maintains_exact_mirror(spark, tmp_path):
    from mura_spark.sources.table_stream import register
    register(spark)
    path = str(tmp_path / "t")
    t = MuraTable.create(spark, path, _df(spark, BASE), cdf=True)
    out = str(tmp_path / "mirror")

    def pump():
        q = (spark.readStream.format("mura_table")
             .option("path", path)
             .option("readChangeFeed", "true").load()
             .writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    pump()
    t.merge(_df(spark, [(2, 9, "B"), (9, 9, "i")]), key_cols=["k"],
            sync_delete=True)
    t.delete_where("k = 9")
    pump()  # second micro-batch pass picks up ONLY the new versions
    feed = spark.read.parquet(out).collect()
    # replay the accumulated feed: reproduces the head snapshot
    state = set()
    for r in sorted(feed, key=lambda r: r._commit_version):
        key = (r.k, r.m, r.val)
        if r._change_type in ("delete", "update_preimage"):
            state.discard(key)
        else:
            state.add(key)
    assert state == {(r.k, r.m, r.val) for r in t.read().collect()}
    # and nothing was redelivered: one row per (version, type, key)
    seen = [(r._commit_version, r._change_type, r.k) for r in feed]
    assert len(seen) == len(set(seen))


def test_replicate_changes_maintains_mirror(spark, tmp_path):
    from mura_spark.sources.table_stream import (register,
                                                 replicate_changes)
    register(spark)
    src_path = str(tmp_path / "src")
    src = MuraTable.create(spark, src_path, _df(spark, BASE), cdf=True)
    dst = MuraTable.create(spark, str(tmp_path / "dst"),
                           _df(spark, []))
    ckpt = str(tmp_path / "ckpt")

    def sync():
        replicate_changes(spark, src_path, dst, ["k"],
                          ckpt).awaitTermination(120)

    sync()
    assert ({tuple(r) for r in dst.read().collect()}
            == {tuple(r) for r in src.read().collect()})
    # a mixed DML batch: update, delete, insert — and a key updated
    # TWICE across versions (newest must win)
    src.update_where("k = 1", {"val": F.lit("A1")})
    src.update_where("k = 1", {"val": F.lit("A2")})
    src.delete_where("k = 3")
    src.append(_df(spark, [(4, 2, "d")]))
    sync()
    assert ({tuple(r) for r in dst.read().collect()}
            == {(1, 1, "A2"), (2, 1, "b"), (4, 2, "d")})
    # re-running with the same checkpoint replays nothing
    v = dst._manifest()["version"]
    sync()
    assert dst._manifest()["version"] == v
    assert dst.row_count() == 3
    # a whole-table overwrite streams as file-diff deletes+inserts
    # and the mirror follows it exactly
    src.overwrite(_df(spark, [(7, 7, "only")]))
    sync()
    assert {tuple(r) for r in dst.read().collect()} == {(7, 7, "only")}


def test_replicate_changes_survives_overwrite(spark, tmp_path):
    """Overwrite feeds delete(old file) + insert(new file) at the SAME
    commit version for a surviving key; the mirror must keep it."""
    from mura_spark.sources.table_stream import (register,
                                                 replicate_changes)
    register(spark)
    src = MuraTable.create(spark, str(tmp_path / "src"),
                           _df(spark, [(1, 1, "a"), (2, 2, "b")]))
    mirror = MuraTable.create(spark, str(tmp_path / "mir"),
                              _df(spark, []))
    ck = str(tmp_path / "ck")

    def drain():
        q = replicate_changes(spark, str(tmp_path / "src"), mirror,
                              ["k"], ck)
        assert q.awaitTermination(120)

    drain()
    # overwrite: key 1 survives (new value), key 2 drops, key 4 appears
    src.overwrite(_df(spark, [(1, 1, "a2"), (4, 4, "d")]))
    drain()
    got = sorted((r.k, r.val) for r in mirror.read().collect())
    assert got == [(1, "a2"), (4, "d")]


def test_replicate_changes_after_a_wiped_checkpoint(spark, tmp_path):
    """A wiped checkpoint restarts at batch 0 as a new query: its
    batches apply instead of being skipped as replays of the old
    query's batch 0."""
    import shutil

    from mura_spark.sources.table_stream import (register,
                                                 replicate_changes)
    register(spark)
    src_path = str(tmp_path / "src")
    src = MuraTable.create(spark, src_path, _df(spark, [(1, 1, "a")]),
                           cdf=True)
    dst = MuraTable.create(spark, str(tmp_path / "dst"),
                           _df(spark, []))
    ckpt = str(tmp_path / "ckpt")

    def sync():
        assert replicate_changes(spark, src_path, dst, ["k"],
                                 ckpt).awaitTermination(120)

    sync()
    shutil.rmtree(ckpt)
    src.append(_df(spark, [(2, 1, "b")]))
    sync()
    assert sorted(tuple(r) for r in dst.read().collect()) \
        == [(1, 1, "a"), (2, 1, "b")]


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_KEYS = st.integers(0, 9)
_CDF_OP = st.one_of(
    st.tuples(st.just("append"), st.lists(_KEYS, min_size=1,
                                          max_size=3)),
    st.tuples(st.just("upsert"), st.lists(_KEYS, min_size=1,
                                          max_size=3, unique=True)),
    st.tuples(st.just("merge_delete"), st.lists(_KEYS, min_size=1,
                                                max_size=3,
                                                unique=True)),
    st.tuples(st.just("delete_where"), st.lists(_KEYS, min_size=1,
                                                max_size=3,
                                                unique=True)),
    st.tuples(st.just("update_where"), st.lists(_KEYS, min_size=1,
                                                max_size=3,
                                                unique=True)),
    st.tuples(st.just("overwrite"), st.lists(_KEYS, min_size=1,
                                             max_size=3)),
    st.tuples(st.just("restore"), st.lists(_KEYS, min_size=1,
                                           max_size=1)),
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(ops=st.lists(_CDF_OP, min_size=1, max_size=4),
       probe=st.integers(0, 100))
def test_cdf_replay_model(spark, tmp_path_factory, ops, probe):
    """Model-based CDF invariant: for ANY random DML sequence,
    multiset-replaying the feed onto version 1 reproduces the head
    snapshot exactly (and any probed intermediate version) — i.e. the
    feed is a complete, duplicate-correct account of every row change
    the table ever made."""
    from collections import Counter
    tag = [0]

    def rows(keys):
        tag[0] += 1
        return [(k, k % 3, f"t{tag[0]}_{k}") for k in keys]

    path = str(tmp_path_factory.mktemp("cdf") / "t")
    t = MuraTable.create(spark, path, _df(spark, rows(range(3))),
                         cdf=True)
    for op, keys in ops:
        r = rows(keys)
        if op == "append":
            t.append(_df(spark, r))
        elif op == "upsert":
            t.merge(_df(spark, r), key_cols=["k"])
        elif op == "merge_delete":
            t.merge(_df(spark, r), key_cols=["k"],
                    when_matched="delete", insert_not_matched=False)
        elif op == "delete_where":
            t.delete_where(f"k in ({','.join(map(str, keys))})")
        elif op == "overwrite":
            t.overwrite(_df(spark, r))
        elif op == "restore":
            vs = t._versions()
            t.restore(vs[keys[0] % len(vs)])
        else:
            t.update_where(f"k in ({','.join(map(str, keys))})",
                           {"val": "concat(val, '!')"})
    head = t._manifest()["version"]

    def replay_to(v):
        state = Counter(tuple(r) for r in
                        t.read(version=1).collect())
        for r in t.changes_feed(1, v).collect():
            key = tuple(r)[:-2]
            if r._change_type in ("delete", "update_preimage"):
                state[key] -= 1
            else:
                state[key] += 1
        return +state

    assert replay_to(head) == Counter(
        tuple(r) for r in t.read().collect())
    mid = 1 + probe % head
    assert replay_to(mid) == Counter(
        tuple(r) for r in t.read(version=mid).collect())


def test_concurrent_appenders_all_land_exactly_once(spark, tmp_path):
    """Optimistic concurrency under real contention: racing appenders
    retry on CommitConflict and every row lands exactly once."""
    import threading

    from mura_spark.sources.table_format import CommitConflict
    path = str(tmp_path / "t")
    MuraTable.create(spark, path, _df(spark, []))
    errors = []

    def worker(i):
        try:
            for j in range(3):
                df = _df(spark, [(i * 10 + j, i, f"w{i}b{j}")])
                while True:
                    try:
                        MuraTable.load(spark, path).append(df)
                        break
                    except CommitConflict:
                        continue
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,))
               for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    t = MuraTable.load(spark, path)
    vals = sorted(r.val for r in t.read().collect())
    assert vals == sorted(f"w{i}b{j}" for i in range(4)
                          for j in range(3))
    assert t.row_count() == 12
    # every version in the log is readable (no torn commits)
    assert len(t._versions()) == 13
