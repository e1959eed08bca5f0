"""IncrementalAggView: O(delta) maintenance of a materialized aggregate
over MuraTable versions — incremental path equals a from-scratch rebuild,
non-append source history falls back loudly, and the watermark moves
atomically with the data (exactly-once by construction)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from mura_spark.sources.incremental_view import IncrementalAggView
from mura_spark.sources.table_format import MuraTable

AGGS = {"n": ("count", "k"), "total": ("sum", "v"),
        "lo": ("min", "v"), "hi": ("max", "v")}


def _rows(*triples):
    return [Row(g=g, k=k, v=v) for g, k, v in triples]


def _src(spark, path, rows, **kw):
    return MuraTable.create(spark, path,
                            spark.createDataFrame(rows,
                                                  "g string, k long, v long"),
                            **kw)


def _expected(spark, source):
    return (source.read().groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"),
                 F.min("v").alias("lo"), F.max("v").alias("hi")))


def _assert_matches(view, source):
    def norm(rows):
        return sorted((sorted(r.asDict().items()) for r in rows),
                      key=repr)
    got = norm(view.read().collect())
    want = norm(_expected(view.spark, source).collect())
    assert got == want


def test_initial_build_matches_full_aggregate(spark, tmp_path):
    src = _src(spark, str(tmp_path / "s"),
               _rows(("a", 1, 10), ("a", 2, 20), ("b", 3, 5)))
    view = IncrementalAggView.create(spark, str(tmp_path / "v"), src,
                                     keys=["g"], aggs=AGGS)
    _assert_matches(view, src)
    assert view.refresh().mode == "noop"


def test_incremental_refresh_equals_rebuild(spark, tmp_path):
    src = _src(spark, str(tmp_path / "s"),
               _rows(("a", 1, 10), ("b", 2, 7)))
    view = IncrementalAggView.create(spark, str(tmp_path / "v"), src,
                                     keys=["g"], aggs=AGGS)
    # two appends absorbed by ONE refresh: existing keys updated
    # (count/sum accumulate, min goes down, max goes up) + new key c
    src.append(spark.createDataFrame(
        _rows(("a", 3, 1), ("c", 4, 100)), "g string, k long, v long"))
    src.append(spark.createDataFrame(
        _rows(("a", 5, 99), ("c", 6, 2)), "g string, k long, v long"))
    r = view.refresh()
    assert r.mode == "incremental"
    assert (r.source_from, r.source_to) == (1, 3)
    _assert_matches(view, src)
    # reloaded handle sees the same persisted watermark
    again = IncrementalAggView.load(spark, view.path).refresh()
    assert again.mode == "noop"


def test_untouched_view_partitions_keep_their_files(spark, tmp_path):
    """The O(delta) claim, pinned at the file level: refreshing after an
    append that touches only key 'a' must not rewrite the view files of
    other keys (partition-pruned COW merge underneath)."""
    src = _src(spark, str(tmp_path / "s"),
               _rows(("a", 1, 1), ("b", 2, 2), ("c", 3, 3)))
    view = IncrementalAggView.create(spark, str(tmp_path / "v"), src,
                                     keys=["g"], aggs=AGGS,
                                     partition_cols=["g"])
    before = {f for f in view.table._manifest()["files"]
              if "/g=a/" not in f}
    src.append(spark.createDataFrame(_rows(("a", 9, 50)),
                                     "g string, k long, v long"))
    assert view.refresh().mode == "incremental"
    after = set(view.table._manifest()["files"])
    assert before <= after, "untouched partitions were rewritten"
    _assert_matches(view, src)


def test_non_append_source_commit_forces_full_refresh(spark, tmp_path):
    src = _src(spark, str(tmp_path / "s"),
               _rows(("a", 1, 10), ("a", 2, 20), ("b", 3, 5)),
               partition_cols=["g"])
    view = IncrementalAggView.create(spark, str(tmp_path / "v"), src,
                                     keys=["g"], aggs=AGGS)
    # delete a row via merge: the append fast path cannot retract it,
    # so the refresh must NOT take the incremental path
    src.merge(spark.createDataFrame(_rows(("a", 2, 20)),
                                    "g string, k long, v long"),
              key_cols=["k"], when_matched="delete",
              insert_not_matched=False)
    r = view.refresh()
    assert r.mode == "full"
    # this view holds min/max, so the row-delta retraction path is
    # unavailable and the merge must force a recompute
    assert "merge" in r.reason and "non-subtractable" in r.reason
    _assert_matches(view, src)  # the deletion is reflected


def test_compacted_source_forces_full_refresh_not_double_count(
        spark, tmp_path):
    src = _src(spark, str(tmp_path / "s"), _rows(("a", 1, 10)))
    view = IncrementalAggView.create(spark, str(tmp_path / "v"), src,
                                     keys=["g"], aggs=AGGS)
    src.append(spark.createDataFrame(_rows(("a", 2, 5)),
                                     "g string, k long, v long"))
    src.compact()  # rewrites every file, changes no rows
    r = view.refresh()
    assert r.mode == "full"
    _assert_matches(view, src)
    row = view.read().collect()[0]
    assert (row["n"], row["total"]) == (2, 15)  # not 4 / 30


def test_vacuumed_baseline_forces_full_refresh(spark, tmp_path):
    src = _src(spark, str(tmp_path / "s"), _rows(("a", 1, 10)))
    view = IncrementalAggView.create(spark, str(tmp_path / "v"), src,
                                     keys=["g"], aggs=AGGS)
    for k in range(2, 6):
        src.append(spark.createDataFrame(_rows(("a", k, 1)),
                                         "g string, k long, v long"))
    src.vacuum(retain_versions=1)  # baseline manifest v1 is gone
    r = view.refresh()
    assert r.mode == "full" and "vacuumed" in r.reason
    _assert_matches(view, src)


def test_watermark_rides_the_data_commit(spark, tmp_path):
    """Exactly-once anchor: the stored watermark and the view contents
    come from one manifest — no commit, no watermark movement."""
    src = _src(spark, str(tmp_path / "s"), _rows(("a", 1, 10)))
    view = IncrementalAggView.create(spark, str(tmp_path / "v"), src,
                                     keys=["g"], aggs=AGGS)
    src.append(spark.createDataFrame(_rows(("b", 2, 3)),
                                     "g string, k long, v long"))
    manifest = view.table._manifest()
    assert manifest["meta"]["incremental_view"]["source_version"] == 1
    view.refresh()
    manifest = view.table._manifest()
    assert manifest["meta"]["incremental_view"]["source_version"] == 2
    # a crash BEFORE the merge commit leaves the old state: simulate by
    # just re-reading state — it lives nowhere except the manifest log
    assert view._state()["source_version"] == 2


def test_unmergeable_aggregate_rejected(spark, tmp_path):
    src = _src(spark, str(tmp_path / "s"), _rows(("a", 1, 10)))
    with pytest.raises(ValueError, match="not mergeable"):
        IncrementalAggView.create(spark, str(tmp_path / "v"), src,
                                  keys=["g"],
                                  aggs={"m": ("median", "v")})


def test_decimal_sum_type_stays_pinned_across_refreshes(spark, tmp_path):
    """sum(decimal) widens by 10 digits per aggregation level; the view
    must cast back or its schema drifts wider every refresh."""
    df = spark.createDataFrame([("a", 1, "1.50"), ("b", 2, "2.25")],
                               "g string, k long, raw string") \
        .select("g", "k", F.col("raw").cast("decimal(12,2)").alias("v"))
    src = MuraTable.create(spark, str(tmp_path / "s"), df)
    view = IncrementalAggView.create(spark, str(tmp_path / "v"), src,
                                     keys=["g"],
                                     aggs={"total": ("sum", "v")})
    t0 = dict(view.read().dtypes)["total"]
    for step in range(2):
        src.append(df.withColumn("k", F.col("k") + 10 * (step + 1)))
        assert view.refresh().mode == "incremental"
        assert dict(view.read().dtypes)["total"] == t0
    row = dict((r["g"], str(r["total"]))
               for r in view.read().collect())
    assert row == {"a": "4.50", "b": "6.75"}


def test_empty_delta_advances_watermark(spark, tmp_path):
    src = _src(spark, str(tmp_path / "s"), _rows(("a", 1, 10)))
    view = IncrementalAggView.create(spark, str(tmp_path / "v"), src,
                                     keys=["g"], aggs=AGGS)
    src.append(src.read().limit(0))  # zero-row source commit
    r = view.refresh()
    assert r.mode == "incremental" and r.reason == "empty delta"
    assert view._state()["source_version"] == 2
    assert view.refresh().mode == "noop"
    _assert_matches(view, src)


def test_refresh_rebases_on_commit_conflict(spark, tmp_path):
    """A racing maintainer winning the version number must not fail the
    refresh: it rebases from the fresh state and converges."""
    from mura_spark.sources.table_format import CommitConflict, MuraTable

    src = _src(spark, str(tmp_path / "s"), _rows(("a", 1, 10)))
    view = IncrementalAggView.create(spark, str(tmp_path / "v"), src,
                                     keys=["g"], aggs=AGGS)
    src.append(spark.createDataFrame(_rows(("a", 2, 5)),
                                     "g string, k long, v long"))
    # steal the next version number once, right before the view commits
    orig = MuraTable._commit
    stolen = [False]

    def thief(self, version, manifest):
        if not stolen[0] and manifest.get("action") == "merge":
            stolen[0] = True
            m = self._manifest()
            orig(self, version, {**m, "version": version,
                                 "action": "append"})
        return orig(self, version, manifest)

    import unittest.mock as mock
    with mock.patch.object(MuraTable, "_commit", thief):
        r = view.refresh()
    assert stolen[0] and r.mode == "incremental"
    _assert_matches(view, src)


def test_null_group_key_accumulates_across_refreshes(spark, tmp_path):
    """A NULL key is one group in groupBy/merge semantics; the refresh's
    touched-key semi join must match it null-safely or the existing
    NULL-key row silently loses its history on the next delta."""
    src = _src(spark, str(tmp_path / "s"),
               _rows((None, 1, 10), ("a", 2, 5)))
    view = IncrementalAggView.create(spark, str(tmp_path / "v"), src,
                                     keys=["g"], aggs=AGGS)
    src.append(spark.createDataFrame(_rows((None, 3, 7)),
                                     "g string, k long, v long"))
    assert view.refresh().mode == "incremental"
    _assert_matches(view, src)
    null_row = [r for r in view.read().collect() if r["g"] is None][0]
    assert (null_row["n"], null_row["total"]) == (2, 17)  # not 1 / 7


def test_streamed_appends_take_the_incremental_path(spark, tmp_path):
    """Composition with the streaming sink: stream_append commits are
    append-shaped, so a view over a stream-fed table refreshes at
    O(delta) — the full stream→table→rollup pipeline with no rescans."""
    from mura_spark.sources.table_stream import register
    register(spark)
    src_path = str(tmp_path / "s")
    src = _src(spark, src_path, _rows(("a", 1, 10)))
    view = IncrementalAggView.create(spark, str(tmp_path / "v"), src,
                                     keys=["g"], aggs=AGGS)
    # feed the source table through the streaming sink
    feed = MuraTable.create(
        spark, str(tmp_path / "feed"),
        spark.createDataFrame(_rows(("a", 2, 1), ("b", 3, 4)),
                              "g string, k long, v long"))
    q = (spark.readStream.format("mura_table")
         .option("path", feed.path).load()
         .writeStream.format("mura_table").option("path", src_path)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    r = view.refresh()
    assert r.mode == "incremental"
    _assert_matches(view, src)


def test_incremental_refresh_reads_only_new_source_files(
        spark, tmp_path, monkeypatch):
    """O(delta) at the source side: the refresh must never request the
    baseline files, only the ones added after the watermark."""
    src = _src(spark, str(tmp_path / "s"),
               _rows(("a", 1, 10), ("b", 2, 7)))
    view = IncrementalAggView.create(spark, str(tmp_path / "v"), src,
                                     keys=["g"], aggs=AGGS)
    baseline = set(src._manifest()["files"])
    src.append(spark.createDataFrame(_rows(("a", 3, 1)),
                                     "g string, k long, v long"))
    requested = []
    orig = MuraTable._read_files

    def spy(self, files, schema_json):
        if os.path.normpath(self.path) == os.path.normpath(src.path):
            requested.append(list(files))
        return orig(self, files, schema_json)

    monkeypatch.setattr(MuraTable, "_read_files", spy)
    assert view.refresh().mode == "incremental"
    assert requested, "refresh never read the source?"
    for files in requested:
        assert not (set(files) & baseline), \
            "incremental refresh re-read baseline source files"
    _assert_matches(view, src)


def test_approx_distinct_is_mergeable_and_incremental(spark, tmp_path):
    # HLL sketches are the mergeable-NDV state: an O(delta) refresh
    # unions partial sketches; the union is register-wise max, so the
    # incremental result is IDENTICAL to a from-scratch rebuild
    rows = _rows(*[("a", i, i % 7) for i in range(60)],
                 *[("b", i, i) for i in range(25)])
    src = _src(spark, str(tmp_path / "s"), rows)
    view = IncrementalAggView.create(
        spark, str(tmp_path / "v"), src, keys=["g"],
        aggs={"n": ("count", "k"), "ndv_v": ("approx_distinct", "v")})
    got = {r.g: r.ndv_v for r in view.read().collect()}
    # sketches are exact at these cardinalities (sparse mode)
    assert got == {"a": 7, "b": 25}
    # raw read exposes the sketch bytes for further unioning
    raw = view.read(raw=True).schema["ndv_v"].dataType.typeName()
    assert raw == "binary"

    # append only-new and overlapping values; incremental refresh
    src.append(spark.createDataFrame(
        _rows(*[("a", 100 + i, 5 + i) for i in range(10)],
              ("c", 1, 1)), "g string, k long, v long"))
    r = view.refresh()
    assert r.mode == "incremental"
    got = {r.g: r.ndv_v for r in view.read().collect()}
    # a: {0..6} + {5..14} = 15 distinct; b untouched; c new group
    assert got == {"a": 15, "b": 25, "c": 1}

    # incremental state == rebuild state (union is lossless)
    rebuild = (src.read().groupBy("g")
               .agg(F.hll_sketch_estimate(F.hll_sketch_agg("v"))
                    .alias("ndv_v")))
    want = {r.g: r.ndv_v for r in rebuild.collect()}
    assert got == want


def test_dml_refresh_via_change_feed_equals_rebuild(spark, tmp_path):
    # subtractable view (sum/count only) + cdf source: DML commits
    # refresh at O(changed rows) — and the result equals a rebuild,
    # including a group whose rows were ALL deleted disappearing
    src = MuraTable.create(
        spark, str(tmp_path / "s"),
        spark.createDataFrame(
            _rows(("a", 1, 10), ("a", 2, 20), ("b", 3, 5), ("c", 4, 7)),
            "g string, k long, v long"),
        cdf=True)
    view = IncrementalAggView.create(
        spark, str(tmp_path / "v"), src, keys=["g"],
        aggs={"n": ("count", "k"), "total": ("sum", "v")})
    src.update_where("k = 1", {"v": F.lit(100)})       # a: 10 -> 100
    src.delete_where("g = 'c'")                        # c: gone
    src.merge(spark.createDataFrame(_rows(("b", 9, 1)),
                                    "g string, k long, v long"),
              key_cols=["g", "k"])                     # b: +1 row
    r = view.refresh()
    assert r.mode == "incremental"
    got = {(row.g, row.n, row.total)
           for row in view.read().collect()}
    assert got == {("a", 2, 120), ("b", 2, 6)}  # c filtered out
    # equals a from-scratch aggregate of the head snapshot
    want = {(row.g, row.n, row.total) for row in
            src.read().groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("v").alias("total")).collect()}
    assert got == want


def test_compact_in_range_stays_incremental(spark, tmp_path):
    src = _src(spark, str(tmp_path / "s"),
               _rows(("a", 1, 10), ("b", 2, 7)), cdf=True)
    view = IncrementalAggView.create(
        spark, str(tmp_path / "v"), src, keys=["g"],
        aggs={"n": ("count", "k"), "total": ("sum", "v")})
    src.append(spark.createDataFrame(_rows(("a", 5, 5)),
                                     "g string, k long, v long"))
    src.compact()  # rewrites files, changes no rows
    r = view.refresh()
    assert r.mode == "incremental"
    got = {(row.g, row.n, row.total) for row in view.read().collect()}
    assert got == {("a", 2, 15), ("b", 1, 7)}


def test_metadata_commits_never_break_fast_path(spark, tmp_path):
    src = _src(spark, str(tmp_path / "s"),
               _rows(("a", 1, 10)))
    view = IncrementalAggView.create(
        spark, str(tmp_path / "v"), src, keys=["g"], aggs=AGGS)
    src.add_constraint("v_pos", "v > 0")
    src.append(spark.createDataFrame(_rows(("a", 2, 3)),
                                     "g string, k long, v long"))
    r = view.refresh()
    assert r.mode == "incremental" and r.reason == ""
    _assert_matches(view, src)


def test_dml_with_nonsubtractable_aggs_falls_back_loudly(spark,
                                                         tmp_path):
    src = _src(spark, str(tmp_path / "s"),
               _rows(("a", 1, 10), ("a", 2, 20)), cdf=True)
    view = IncrementalAggView.create(
        spark, str(tmp_path / "v"), src, keys=["g"], aggs=AGGS)  # min/max
    src.delete_where("k = 2")
    r = view.refresh()
    assert r.mode == "full" and "non-subtractable" in r.reason
    _assert_matches(view, src)  # min recomputed correctly
    # and DML without cdf sidecars also downgrades loudly
    src2 = _src(spark, str(tmp_path / "s2"),
                _rows(("a", 1, 10), ("a", 2, 20)))  # cdf OFF
    view2 = IncrementalAggView.create(
        spark, str(tmp_path / "v2"), src2, keys=["g"],
        aggs={"n": ("count", "k"), "total": ("sum", "v")})
    src2.delete_where("k = 2")
    r = view2.refresh()
    assert r.mode == "full" and "no row-level CDF sidecar" in r.reason
    got = {(x.g, x.n, x.total) for x in view2.read().collect()}
    assert got == {("a", 1, 10)}


def test_reserved_agg_names_refused(spark, tmp_path):
    src = _src(spark, str(tmp_path / "s"), _rows(("a", 1, 10)))
    with pytest.raises(ValueError, match="reserved"):
        IncrementalAggView.create(spark, str(tmp_path / "v"), src,
                                  keys=["g"],
                                  aggs={"__n": ("count", "k")})
