"""The ``mura_table`` stream source and sink over MuraTable versions
(sources/table_stream.py): version offsets, file-diff micro-batches,
exactly-once restart via the checkpoint offset log, and the sink's
``stream:<query id>`` txn mark that skips a replayed micro-batch."""

from __future__ import annotations

import glob
import os

import pytest

from mura_spark.sources.table_format import MuraTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, m int, val string")


@pytest.fixture()
def registered(spark):
    from mura_spark.sources.table_stream import register
    register(spark)
    return spark


def _run_available(spark, path, checkpoint, out_dir):
    """One availableNow pass into a RECOVERABLE (parquet) sink; returns
    the cumulative rows landed so far (with multiplicity)."""
    q = (spark.readStream.format("mura_table").option("path", path)
         .load()
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = sorted((r.k, r.m, r.val)
                  for r in spark.read.parquet(out_dir).collect())
    return rows


def test_stream_tails_appends_exactly_once(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    t = MuraTable.create(spark, path, _df(spark, [(1, 1, "a")]),
                         partition_cols=["m"])
    assert _run_available(spark, path, ckpt, out) == [(1, 1, "a")]

    # new commits while the stream is down; restart from checkpoint
    t.append(_df(spark, [(2, 2, "b")]))
    t.append(_df(spark, [(3, 1, "c")]))
    # cumulative sink holds each row exactly ONCE: the checkpointed
    # version-1 offset is honored, nothing re-delivered
    assert _run_available(spark, path, ckpt, out) \
        == [(1, 1, "a"), (2, 2, "b"), (3, 1, "c")]

    # no new commits -> nothing new lands (idempotent restart)
    assert _run_available(spark, path, ckpt, out) \
        == [(1, 1, "a"), (2, 2, "b"), (3, 1, "c")]


def test_stream_compact_redelivers_rewritten_partition(registered,
                                                       tmp_path):
    # compact rewrites files: its rows re-arrive (upsert contract)
    spark = registered
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    t = MuraTable.create(spark, path, _df(spark, [(1, 1, "a")]),
                         partition_cols=["m"])
    assert _run_available(spark, path, ckpt, out) == [(1, 1, "a")]
    t.compact(target_files=1)
    assert _run_available(spark, path, ckpt, out) \
        == [(1, 1, "a"), (1, 1, "a")]  # rewritten rows redelivered


def test_stream_sink_appends_one_commit_per_batch(registered, tmp_path):
    # writeStream.format("mura_table"): executors write files, the
    # driver publishes one stream_append commit per micro-batch
    spark = registered
    src_path = str(tmp_path / "src")
    dst_path = str(tmp_path / "dst")
    t_src = MuraTable.create(spark, src_path,
                             _df(spark, [(1, 1, "a"), (2, 2, "b")]),
                             partition_cols=["m"])
    MuraTable.create(spark, dst_path, _df(spark, []))

    def run():
        q = (spark.readStream.format("mura_table")
             .option("path", src_path).load()
             .writeStream.format("mura_table").option("path", dst_path)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run()
    dst = MuraTable.load(spark, dst_path)
    assert {(r.k, r.m, r.val) for r in dst.read().collect()} \
        == {(1, 1, "a"), (2, 2, "b")}
    assert dst._manifest()["action"] == "stream_append"
    # second pass with new source data: exactly the delta arrives
    t_src.append(_df(spark, [(3, 1, "c")]))
    run()
    rows = [(r.k, r.m, r.val) for r in dst.read().collect()]
    assert sorted(rows) == [(1, 1, "a"), (2, 2, "b"), (3, 1, "c")]
    # idempotent re-run: no new commit, no duplicate rows
    v_before = dst._manifest()["version"]
    run()
    assert sorted((r.k, r.m, r.val) for r in dst.read().collect()) \
        == [(1, 1, "a"), (2, 2, "b"), (3, 1, "c")]


def test_stream_sink_writes_hive_layout_into_partitioned_target(
        registered, tmp_path):
    # executors split their batches by partition value and write one
    # file per touched partition under p=v/ segments — partition
    # pruning works on stream-landed files immediately
    spark = registered
    src_path = str(tmp_path / "src")
    dst_path = str(tmp_path / "dst")
    MuraTable.create(spark, src_path,
                     _df(spark, [(1, 1, "a"), (2, 2, "b"), (3, 1, "c"),
                                 (4, None, "d")]))
    MuraTable.create(spark, dst_path, _df(spark, [(0, 0, "z")]),
                     partition_cols=["m"])
    q = (spark.readStream.format("mura_table")
         .option("path", src_path).load()
         .writeStream.format("mura_table").option("path", dst_path)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    dst = MuraTable.load(spark, dst_path)
    got = {(r.k, r.m, r.val) for r in dst.read().collect()}
    assert got == {(0, 0, "z"), (1, 1, "a"), (2, 2, "b"), (3, 1, "c"),
                   (4, None, "d")}
    m = dst._manifest()
    # every stream-landed file sits under a hive partition segment
    new = [f for f in m["files"] if "stream-" in f]
    assert new and all("m=" in f for f in new)
    # NULL partition values land under the hive null sentinel
    assert any("__HIVE_DEFAULT_PARTITION__" in f for f in new)
    # partition pruning applies to the streamed files: every scan in
    # the union plan carries a PartitionFilter on m
    pruned = dst.read().where("m = 2")
    assert pruned.count() == 1
    import re
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    fills = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert fills and all("m" in s for s in fills)


def test_stream_sink_refuses_unsafe_partition_types(registered,
                                                    tmp_path):
    spark = registered
    src_path = str(tmp_path / "src")
    dst_path = str(tmp_path / "dst")
    MuraTable.create(spark, src_path, _df(spark, [(1, 1, "a")]))
    df = spark.createDataFrame([(1, 0.5, "a")],
                               "k long, x double, val string")
    MuraTable.create(spark, dst_path, df, partition_cols=["x"])
    with pytest.raises(Exception, match="not path-round-trip-safe"):
        (spark.readStream.format("mura_table")
         .option("path", src_path).load()
         .selectExpr("k", "cast(k as double) as x", "val")
         .writeStream.format("mura_table").option("path", dst_path)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start()
         .awaitTermination(60))


def test_stream_sink_maintains_bloom_filters(registered, tmp_path):
    # executors hash the Arrow batches they just wrote (zero extra
    # I/O); the commit message carries only 16 KiB bitmaps, and
    # lookup pruning works on stream-landed files immediately
    spark = registered
    src_path = str(tmp_path / "src")
    dst_path = str(tmp_path / "dst")
    MuraTable.create(spark, src_path,
                     _df(spark, [(i, i % 3, f"v{i}") for i in range(30)]))
    MuraTable.create(spark, dst_path, _df(spark, []),
                     bloom_cols=["val"])
    q = (spark.readStream.format("mura_table")
         .option("path", src_path).load()
         .writeStream.format("mura_table").option("path", dst_path)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    dst = MuraTable.load(spark, dst_path)
    m = dst._manifest()
    assert m["action"] == "stream_append"
    assert all(f in m.get("blooms", {}) for f in m["files"])
    hit = dst.read(lookup={"val": "v7"})
    assert 0 < len(hit.inputFiles()) < len(m["files"]) or \
        len(m["files"]) == 1
    assert hit.where("val = 'v7'").count() == 1
    assert dst.read(lookup={"val": "nope"}).count() == 0


@pytest.mark.parametrize("ptype, values", [
    ("int", [1, 2]),
    ("double", [1e-07, 2.5]),
    ("decimal(10,2)", ["1.25", "-3.50"]),
    ("timestamp", ["2024-01-02 03:04:05", "2024-06-30 23:59:59.5"]),
    ("date", ["2024-01-02", "2024-06-30"]),
    ("string", ["a b", "x:y"]),
])
def test_partition_value_types_read_like_the_table(registered, tmp_path,
                                                   ptype, values):
    """Every partition column type (and the null partition) decodes
    from its hive path value exactly as ``MuraTable.read()`` types it,
    through a plain stream and a change-feed stream."""
    spark = registered
    path = str(tmp_path / "t")
    rows = [(i, v, f"r{i}") for i, v in enumerate(values + [None])]
    df = (spark.createDataFrame(rows, "k long, p string, val string")
          .selectExpr("k", f"CAST(p AS {ptype}) AS p", "val"))
    want = sorted(MuraTable.create(spark, path, df, partition_cols=["p"],
                                   cdf=True).read().collect())
    assert len(want) == 3 and want[2].p is None
    for cdf in ("false", "true"):
        out = str(tmp_path / f"out-{cdf}")
        (spark.readStream.format("mura_table").option("path", path)
         .option("readChangeFeed", cdf).load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / f"ckpt-{cdf}"))
         .trigger(availableNow=True).start().awaitTermination(120))
        got = spark.read.parquet(out).select("k", "p", "val")
        assert sorted(got.collect()) == want, cdf


def test_sink_starts_from_a_fresh_driver_thread(spark, tmp_path):
    """``register`` then a ``mura_table`` sink pass works on a driver
    thread that never touched the session before (the oracle sweep's
    pool threads)."""
    import threading

    from mura_spark.sources.table_stream import register
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    MuraTable.create(spark, src, _df(spark, [(1, 1, "a")]))
    MuraTable.create(spark, dst, _df(spark, []))
    errors = []

    def run():
        try:
            register(spark)
            (spark.readStream.format("mura_table").option("path", src)
             .load().writeStream.format("mura_table").option("path", dst)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start().awaitTermination(120))
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    th = threading.Thread(target=run)
    th.start()
    th.join(300)
    assert not th.is_alive() and errors == []
    assert [r.k for r in MuraTable.load(spark, dst).read().collect()] == [1]


# ------------------------------------------------ sink replay guard


def _sink_pass(spark, src_path, dst_path, checkpoint):
    """One availableNow ``mura_table`` -> ``mura_table`` pass; returns
    the finished query."""
    q = (spark.readStream.format("mura_table").option("path", src_path)
         .load().writeStream.format("mura_table").option("path", dst_path)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    return q


def _tables(spark, tmp_path):
    src_path, dst_path = str(tmp_path / "src"), str(tmp_path / "dst")
    MuraTable.create(spark, src_path,
                     _df(spark, [(1, 1, "a"), (2, 2, "b")]))
    MuraTable.create(spark, dst_path, _df(spark, []))
    return src_path, dst_path


def test_sink_records_its_txn_mark(registered, tmp_path):
    """A sink commit carries the ``stream:<query id>`` txn mark, keyed
    on Spark's persistent query id."""
    spark = registered
    src_path, dst_path = _tables(spark, tmp_path)
    q = _sink_pass(spark, src_path, dst_path, str(tmp_path / "ck"))
    m = MuraTable.load(spark, dst_path)._manifest()
    assert m["action"] == "stream_append"
    assert m["txns"] == {f"stream:{q.id}": 0}


def test_sink_marks_each_checkpoint_separately(registered, tmp_path):
    """Two queries (two checkpoints) never collide: the second one's
    batch 0 commits instead of being skipped as a replay."""
    spark = registered
    src_path, dst_path = _tables(spark, tmp_path)
    q1 = _sink_pass(spark, src_path, dst_path, str(tmp_path / "ck1"))
    q2 = _sink_pass(spark, src_path, dst_path, str(tmp_path / "ck2"))
    assert q1.id != q2.id
    dst = MuraTable.load(spark, dst_path)
    assert dst.row_count() == 4  # both pipelines' rows landed
    assert dst._manifest()["txns"] == {f"stream:{q1.id}": 0,
                                       f"stream:{q2.id}": 0}


def test_sink_skips_a_batch_replayed_after_a_lost_commit(registered,
                                                         tmp_path):
    """A checkpoint that lost ``commits/0`` re-runs batch 0 on restart:
    the sink finds the batch's txn mark, commits nothing and deletes
    the files the replay wrote."""
    spark = registered
    src_path, dst_path = _tables(spark, tmp_path)
    ck = str(tmp_path / "ck")
    q = _sink_pass(spark, src_path, dst_path, ck)
    dst = MuraTable.load(spark, dst_path)
    version, rows = dst._latest(), sorted(dst.read().collect())
    assert len(rows) == 2
    for name in ("0", ".0.crc"):
        os.remove(os.path.join(ck, "commits", name))
    _sink_pass(spark, src_path, dst_path, ck)
    m = dst._manifest()
    assert m["version"] == version
    assert sorted(dst.read().collect()) == rows
    assert m["txns"] == {f"stream:{q.id}": 0}
    landed = {os.path.relpath(f, dst_path) for f in glob.glob(
        os.path.join(dst_path, "_data", "stream-*", "**", "*.parquet"),
        recursive=True)}
    assert landed <= set(m["files"])


def test_sink_refuses_a_checkpoint_it_cannot_see(registered, tmp_path):
    """A checkpoint set only in the session conf never reaches the
    sink, so it refuses to start rather than run without its guard."""
    spark = registered
    src_path, dst_path = _tables(spark, tmp_path)
    key = "spark.sql.streaming.checkpointLocation"
    spark.conf.set(key, str(tmp_path / "ck"))
    try:
        with pytest.raises(Exception, match="checkpointLocation"):
            (spark.readStream.format("mura_table")
             .option("path", src_path).load()
             .writeStream.format("mura_table")
             .option("path", dst_path)
             .trigger(availableNow=True).start().awaitTermination(60))
    finally:
        spark.conf.unset(key)
    assert MuraTable.load(spark, dst_path)._latest() == 1
