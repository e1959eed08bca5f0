"""Every MuraTable commit kind — the table's own and the ``mura_table``
stream sink's — carries the table-level flags forward and keeps the
per-file manifest maps in step with the file list; every action the
package commits has a change-feed kind."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from mura_spark.sources.table_format import FEED_KINDS, MuraTable

FLAGS = ("cdf", "constraints", "bloom_cols", "bloom_bits", "bloom_k",
         "txns", "stream_batches")
BITS = 2048


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, m int, val string")


def _flags(m: dict) -> dict:
    return {k: m.get(k) for k in FLAGS}


def _stream(ctx) -> None:
    q = (ctx.spark.readStream.format("mura_table")
         .option("path", ctx.src.path).load()
         .writeStream.format("mura_table")
         .option("path", ctx.t.path)
         .option("queryid", "q")
         .option("checkpointLocation", ctx.ckpt)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)


def _stream_again(ctx) -> None:
    ctx.src.append(_df(ctx.spark, [(30, 2, "s")]))
    _stream(ctx)


#: (action, commit, flags it changes given the flags before)
KINDS = [
    ("append", lambda c: c.t.append(_df(c.spark, [(20, 1, "a")])), None),
    ("merge", lambda c: c.t.merge(
        _df(c.spark, [(20, 1, "b"), (21, 2, "c")]), ["k"]), None),
    ("delete", lambda c: c.t.delete_where("k = 21"), None),
    ("update", lambda c: c.t.update_where("k = 20", {"val": "'d'"}), None),
    ("overwrite", lambda c: c.t.overwrite(
        _df(c.spark, [(1, 1, "a"), (20, 1, "d")])), None),
    ("compact", lambda c: c.t.compact(), None),
    ("restore", lambda c: c.t.restore(c.t._latest() - 1), None),
    ("set_cdf", lambda c: c.t.set_cdf(True), None),
    ("set_bloom_cols", lambda c: c.t.set_bloom_cols(["k"], BITS), None),
    ("add_constraint", lambda c: c.t.add_constraint(
        "val_nn", "val IS NOT NULL"),
     lambda f: {"constraints": {**(f["constraints"] or {}),
                                "val_nn": "val IS NOT NULL"}}),
    ("drop_constraint", lambda c: c.t.drop_constraint("val_nn"),
     lambda f: {"constraints": {k: e for k, e in f["constraints"].items()
                                if k != "val_nn"} or None}),
    ("stream_append", _stream_again,
     lambda f: {"stream_batches": {"q": 1}}),
]


@pytest.mark.parametrize("constrained", [False, True])
def test_every_commit_kind_carries_table_flags(spark, tmp_path,
                                                constrained):
    from mura_spark.sources.table_stream import register
    register(spark)
    c = SimpleNamespace(spark=spark, ckpt=str(tmp_path / "ckpt"))
    c.t = MuraTable.create(spark, str(tmp_path / "t"),
                           _df(spark, [(1, 1, "a"), (2, 2, "b")]),
                           bloom_cols=["k"], bloom_bits=BITS, cdf=True)
    c.t.append(_df(spark, [(3, 1, "c")]), txn=("app", 1))
    c.src = MuraTable.create(spark, str(tmp_path / "src"),
                             _df(spark, [(4, 2, "x")]))
    _stream(c)
    if constrained:
        # after the stamp: the sink refuses constrained tables
        c.t.add_constraint("k_pos", "k > 0")
    flags = _flags(c.t._manifest())
    assert flags == {"cdf": True,
                     "constraints": {"k_pos": "k > 0"} if constrained
                     else None,
                     "bloom_cols": ["k"], "bloom_bits": BITS,
                     "bloom_k": flags["bloom_k"],
                     "txns": {"app": 1}, "stream_batches": {"q": 0}}
    for action, commit, change in KINDS:
        if constrained and action == "stream_append":
            continue
        commit(c)
        m = c.t._manifest()
        assert m["action"] == action
        if change is not None:
            flags = {**flags, **change(flags)}
        assert _flags(m) == flags, action
        files = set(m["files"])
        for key in ("stats", "rows", "blooms"):
            assert set(m[key]) == files, (action, key)

    dest = c.t.clone(str(tmp_path / "clone"))
    # ingest identities stay with the source table
    assert _flags(dest._manifest()) == {**flags, "txns": None,
                                        "stream_batches": None}
    # every commit kind ran: each action has a feed kind, and the table
    # lists no action the package no longer commits
    actions = {m["action"] for m in c.t.history() + dest.history()}
    assert actions == set(FEED_KINDS)
