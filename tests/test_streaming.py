"""Structured Streaming tests: the streaming execution of the window
operators must agree with their batch twins (batch/stream symmetry is the
module's design contract)."""

import pytest
from pyspark.sql import functions as F

from mura_spark.sources.table_format import MuraTable
from mura_spark.streaming import windows as W
from mura_spark.suite.common import table


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return table(spark, sf_dir, "events")


def _run_stream(spark, stream_df, name):
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.table(name)


def test_streaming_tumbling_equals_batch(spark, events, sf_dir, tmp_path):
    # stage the events as a parquet *directory* (file-source streams need one)
    # single file → single micro-batch: multi-file sources advance the
    # watermark between batches and (correctly) drop cross-file late events,
    # which would break the batch-equality check below
    src = str(tmp_path / "events_stream")
    events.coalesce(1).write.mode("overwrite").parquet(src)
    stream = W.read_events_stream(spark, src, events.schema)
    assert stream.isStreaming
    got = _run_stream(spark, W.tumbling_counts(stream, streaming=True),
                      "stream_tumbling")
    want = W.tumbling_counts(events)

    def norm(rows):
        # double sums are partition-order dependent → compare at tolerance
        return sorted((r.window_start, r.event_type, r.n_events,
                       round(r.total_value, 6)) for r in rows)

    assert norm(got.collect()) == norm(want.collect())


def test_streaming_session_window_counts(spark, events, tmp_path):
    """session_window totals must cover every event exactly once, and the
    per-user session event counts must match the batch lag/cumsum
    sessionization."""
    src = str(tmp_path / "events_stream2")
    events.coalesce(1).write.mode("overwrite").parquet(src)  # one batch, see above
    stream = W.read_events_stream(spark, src, events.schema)
    got = _run_stream(spark, W.sessionize_stream(stream, gap="30 minutes"),
                      "stream_sessions")
    batch = W.sessionize(events, gap="30 minutes")
    g = sorted((r.user_id, r.session_start, r.n_events) for r in got.collect())
    b = sorted((r.user_id, r.session_start, r.n_events) for r in batch.collect())
    assert g == b


def test_watermark_is_set(spark, events, tmp_path):
    src = str(tmp_path / "events_stream3")
    events.limit(10).write.mode("overwrite").parquet(src)
    stream = W.read_events_stream(spark, src, events.schema)
    agg = W.tumbling_counts(stream, watermark="1 hour", streaming=True)
    assert "watermark" in agg._jdf.queryExecution().analyzed().toString().lower()


def test_stateful_running_totals(spark, events, tmp_path):
    """applyInPandasWithState running totals: after consuming two micro-
    batches, the last update per user must equal the batch aggregation."""
    from mura_spark.streaming import stateful

    sub = events.filter(F.col("user_id") < 50)
    half_a = sub.filter(F.col("event_id") % 2 == 0)
    half_b = sub.filter(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "events_state")
    half_a.coalesce(1).write.mode("overwrite").parquet(src)
    half_b.coalesce(1).write.mode("append").parquet(src)

    stream = W.read_events_stream(spark, src, events.schema)
    q = (stateful.running_user_totals(stream)
         .writeStream.format("memory").queryName("state_totals")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # last emitted update per user = final running state
    got = {}
    for r in spark.table("state_totals").collect():
        got[r.user_id] = (r.n_events, r.total_value)
    want = {r.user_id: (r.n, r.tv) for r in
            sub.groupBy("user_id")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("value").alias("tv")).collect()}
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0]
        assert abs(got[u][1] - want[u][1]) < 1e-6


def test_streaming_dedup_equals_batch(spark, events, tmp_path):
    """dropDuplicatesWithinWatermark over a stream with planted duplicate
    rows must emit exactly the batch dropDuplicates result (one row per
    event_id), with state bounded by the watermark."""
    from mura_spark.streaming import stateful

    sub = events.filter(F.col("event_id") < 200)
    dup = sub.union(sub.limit(80))  # 80 exact duplicate rows
    src = str(tmp_path / "events_dup")
    dup.coalesce(1).write.mode("overwrite").parquet(src)

    stream = W.read_events_stream(spark, src, events.schema)
    out = stateful.dedup_events_stream(stream, ["event_id"])
    q = (out.writeStream.format("memory").queryName("stream_dedup")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r.event_id for r in spark.table("stream_dedup").collect())
    want = sorted(r.event_id
                  for r in stateful.dedup_events_stream(dup, ["event_id"])
                  .collect())
    assert got == want == sorted(r.event_id for r in sub.collect())


def test_watermark_drops_late_events(spark, events, tmp_path):
    """An event arriving in a later micro-batch with a timestamp older than
    (max seen ts - watermark) must be excluded from its (already finalized)
    window; on-time events all aggregate."""
    import time
    src = str(tmp_path / "events_late")
    recent = events.orderBy(F.col("ts").desc()).limit(500)
    recent.coalesce(1).write.mode("overwrite").parquet(src)
    # batch 2: one more on-time event — the data-filter watermark lags the
    # emit watermark by one batch, so the drop only applies from batch 3 on
    max_ts = events.agg(F.max("ts")).first()[0]
    ontime = spark.createDataFrame(
        [(999998, max_ts, 2, "view", 1.0, "{}")], events.schema)
    time.sleep(1.1)  # distinct mtime: file-source batches order by mtime
    ontime.coalesce(1).write.mode("append").parquet(src)
    # batch 3: one very late event (weeks below max_ts - 1h watermark)
    late_ts = events.agg(F.min("ts")).first()[0]
    late = spark.createDataFrame(
        [(999999, late_ts, 1, "purchase", 1.0, "{}")], events.schema)
    time.sleep(1.1)
    late.coalesce(1).write.mode("append").parquet(src)

    stream = W.read_events_stream(spark, src, events.schema)
    agg = W.tumbling_counts(stream, watermark="1 hour", streaming=True)
    q = (agg.writeStream.format("memory").queryName("late_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("late_test")
    late_window = late_ts.replace(minute=0, second=0, microsecond=0)
    # the late event's window was finalized before it arrived → dropped
    n = (got.filter((F.col("window_start") == late_window)
                    & (F.col("event_type") == "purchase")).count())
    assert n == 0
    # on-time rows aggregated (append mode emits finalized windows)
    assert got.count() > 0


def test_stream_stream_interval_join_equals_batch_range_join(
        spark, events, tmp_path):
    """The streaming interval join must produce exactly the batch
    range_join pairs when the whole input fits one micro-batch."""
    from mura_spark.operators.asof import range_join
    from mura_spark.streaming import joins as J

    clicks = (events.filter(F.col("event_type") == "click")
              .select("event_id", "user_id", "ts"))
    errors = (events.filter(F.col("event_type") == "error")
              .select("event_id", "user_id", "ts"))
    src_c = str(tmp_path / "ssj_clicks")
    src_e = str(tmp_path / "ssj_errors")
    clicks.coalesce(1).write.mode("overwrite").parquet(src_c)
    errors.coalesce(1).write.mode("overwrite").parquet(src_e)

    sc = W.read_events_stream(spark, src_c, clicks.schema)
    se = W.read_events_stream(spark, src_e, errors.schema)
    joined = J.interval_join_streams(sc, se, on="ts", by="user_id",
                                     lower=0, upper=600)
    q = (joined.writeStream.format("memory").queryName("ssj")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.event_id, r.event_id_r)
           for r in spark.table("ssj").collect()}

    want = {(r.event_id, r.event_id_r)
            for r in range_join(clicks, errors, on="ts", by="user_id",
                                lower=0, upper=600,
                                bucket_width_seconds=600).collect()}
    assert got == want
    assert len(want) > 0


def test_foreachbatch_cdc_apply_keeps_latest_and_is_idempotent(spark,
                                                               tmp_path):
    """CDC stream → foreachBatch keep-latest apply: the final table equals
    the global keep-latest merge, replaying the same batches into the
    same table (fresh checkpoint — the failure/redelivery case) changes
    nothing, and a later batch carrying an older version of a key
    loses to the version already in the table."""
    import time

    from mura_spark.streaming import sinks

    src = str(tmp_path / "cdc_src")
    schema = "id INT, payload STRING, version INT"
    b1 = spark.createDataFrame([(1, "a", 1), (2, "b", 1), (3, "c", 1)],
                               schema=schema)
    b2 = spark.createDataFrame([(2, "b2", 2), (4, "d", 1)], schema=schema)
    b1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)  # file mtimes order the micro-batches
    b2.coalesce(1).write.mode("append").parquet(src)
    target = MuraTable.create(spark, str(tmp_path / "cdc_table"),
                              b1.limit(0))

    def run(ck):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = sinks.apply_cdc_batches(stream, target, ["id"], "version",
                                    str(tmp_path / ck), available_now=True)
        q.awaitTermination(120)

    run("ck1")
    want = {(1, "a", 1), (2, "b2", 2), (3, "c", 1), (4, "d", 1)}
    got = {tuple(r) for r in target.read().collect()}
    assert got == want
    run("ck2")  # redelivery of every batch
    again = {tuple(r) for r in target.read().collect()}
    assert again == want
    time.sleep(1.1)
    spark.createDataFrame([(2, "stale", 1)], schema=schema) \
         .coalesce(1).write.mode("append").parquet(src)
    run("ck1")  # resumes at the new file: its older version loses
    assert {tuple(r) for r in target.read().collect()} == want


def test_cdc_sink_second_batch_keeps_earlier_keys(spark, tmp_path):
    """A later batch merges into the accumulated table: it never
    replaces it as if it were the first batch."""
    from mura_spark.streaming.sinks import apply_cdc_batches
    src = str(tmp_path / "src")
    first = spark.createDataFrame([(1, "a", 1)],
                                  "id long, val string, v long")
    first.coalesce(1).write.parquet(src)
    target = MuraTable.create(spark, str(tmp_path / "tbl"),
                              first.limit(0))

    def run(ck):
        stream = (spark.readStream
                  .schema("id long, val string, v long").parquet(src))
        q = apply_cdc_batches(stream, target, ["id"], "v",
                              str(tmp_path / ck), available_now=True)
        q.awaitTermination(120)

    run("ck1")
    spark.createDataFrame([(2, "b", 1)], "id long, val string, v long") \
         .coalesce(1).write.mode("append").parquet(src)
    run("ck1")
    rows = sorted((r.id, r.val) for r in target.read().collect())
    # a second batch that REPLACED the table would leave just (2, 'b');
    # key 1 must survive
    assert rows == [(1, "a"), (2, "b")]


def test_cdc_sink_first_batch_keeps_latest(spark, tmp_path):
    from mura_spark.streaming.sinks import apply_cdc_batches
    src = str(tmp_path / "src")
    # one file => availableNow delivers the WHOLE initial load as one
    # batch containing two versions of key 1
    load = spark.createDataFrame(
        [(1, "a", 1), (1, "a2", 2), (2, "b", 1)],
        "id long, val string, v long")
    load.coalesce(1).write.parquet(src)
    target = MuraTable.create(spark, str(tmp_path / "tbl"), load.limit(0))
    stream = (spark.readStream.schema("id long, val string, v long")
              .parquet(src))
    q = apply_cdc_batches(stream, target, ["id"], "v",
                          str(tmp_path / "ck"), available_now=True)
    q.awaitTermination(120)
    rows = sorted((r.id, r.val, r.v) for r in target.read().collect())
    assert rows == [(1, "a2", 2), (2, "b", 1)]


def test_stream_static_enrichment_equals_batch(spark, events, sf_dir,
                                               tmp_path):
    """Stream-static enrichment join: every micro-batch joined against the
    static dimension must reproduce the batch join exactly (the join is
    stateless — no watermark required)."""
    from mura_spark.streaming import joins as J

    dim = (table(spark, sf_dir, "customer")
           .select(F.col("c_custkey").alias("user_id"), "c_mktsegment"))
    src = str(tmp_path / "events_enrich")
    sub = events.limit(1000)
    # two files → two micro-batches, proving per-batch joins compose
    sub.repartition(2).write.mode("overwrite").parquet(src)
    stream = W.read_events_stream(spark, src, events.schema)
    out = J.enrich_stream(stream.select("event_id", "user_id"), dim,
                          on="user_id", how="left")
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("enriched")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.event_id, r.c_mktsegment)
           for r in spark.table("enriched").collect()}
    want = {(r.event_id, r.c_mktsegment)
            for r in J.enrich_stream(sub.select("event_id", "user_id"), dim,
                                     on="user_id", how="left").collect()}
    assert got == want
    assert len(got) == sub.count()


def test_streaming_sliding_equals_batch(spark, events, tmp_path):
    """Sliding-window per-user activity: streaming execution must equal the
    batch twin when the input fits one micro-batch."""
    src = str(tmp_path / "events_sliding")
    events.coalesce(1).write.mode("overwrite").parquet(src)
    stream = W.read_events_stream(spark, src, events.schema)
    got = _run_stream(
        spark, W.sliding_user_activity(stream, streaming=True),
        "stream_sliding")
    want = W.sliding_user_activity(events)
    g = sorted((r.window_start, r.window_end, r.user_id, r.n_events)
               for r in got.collect())
    b = sorted((r.window_start, r.window_end, r.user_id, r.n_events)
               for r in want.collect())
    assert g == b


def _rollup_target(spark, path, first):
    from mura_spark.operators.incremental import partial_state
    return MuraTable.create(spark, path,
                            partial_state(first, ["k"], "v").limit(0))


def _finalized(target):
    from mura_spark.operators.incremental import finalize
    return sorted(map(tuple, finalize(target.read(), ["k"]).collect()))


def _recomputed(frame):
    from mura_spark.operators.incremental import finalize, partial_state
    return sorted(map(tuple, finalize(
        partial_state(frame, ["k"], "v"), ["k"]).collect()))


def test_foreachbatch_rollup_maintenance_matches_batch_and_skips_redelivery(
        spark, tmp_path):
    """Streaming incremental-rollup sink: per-micro-batch partial states
    merged into the state table finalize to the batch recompute, and
    replaying every batch (fresh checkpoint, same state) changes
    nothing — the fresh query's batch 0 rebuilds instead of adding its
    partials to the old state."""
    import time

    from mura_spark.streaming import sinks

    src = str(tmp_path / "roll_src")
    schema = "k STRING, v DOUBLE"
    b1 = spark.createDataFrame([("a", 1.0), ("b", 2.0), ("a", 3.0)],
                               schema=schema)
    b2 = spark.createDataFrame([("a", 5.0), ("c", 7.0)], schema=schema)
    b1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)  # file mtimes order the micro-batches
    b2.coalesce(1).write.mode("append").parquet(src)
    target = _rollup_target(spark, str(tmp_path / "roll_state"), b1)

    def run(ck):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = sinks.maintain_rollup_batches(stream, target, ["k"], "v",
                                          str(tmp_path / ck),
                                          available_now=True)
        q.awaitTermination(120)

    run("ck1")
    want = _recomputed(b1.unionByName(b2))
    assert _finalized(target) == want
    run("ck2")  # replay of every batch must not double-count
    assert _finalized(target) == want


def test_rollup_sink_checkpoint_restart_processes_only_new_files(
        spark, tmp_path):
    """Durability: restarting the rollup stream with the SAME checkpoint
    after new files arrive processes only the new batches (offsets
    resume; the batch ids continue past the earlier run's) and the
    state still equals the batch recompute over everything."""
    import time

    from mura_spark.streaming import sinks

    src = str(tmp_path / "rs_src")
    ck = str(tmp_path / "rs_ck")
    schema = "k STRING, v DOUBLE"
    b1 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], schema=schema)
    b1.coalesce(1).write.mode("append").parquet(src)
    target = _rollup_target(spark, str(tmp_path / "rs_state"), b1)

    def run():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = sinks.maintain_rollup_batches(stream, target, ["k"], "v", ck,
                                          available_now=True)
        q.awaitTermination(120)

    run()
    time.sleep(1.1)
    b2 = spark.createDataFrame([("a", 10.0), ("c", 4.0)], schema=schema)
    b2.coalesce(1).write.mode("append").parquet(src)
    run()  # same checkpoint: resumes at the new file only
    assert _finalized(target) == _recomputed(b1.unionByName(b2))


def test_rollup_sink_replays_a_batch_whose_checkpoint_commit_was_lost(
        spark, tmp_path):
    """Crash between the table commit and Spark's checkpoint commit:
    the restart re-runs the last batch, and its txn mark (in the same
    table commit as the state) makes the replay a no-op — the state
    still equals the batch recompute and no table version is added."""
    import os
    import time

    from mura_spark.streaming import sinks

    src = str(tmp_path / "lc_src")
    ck = str(tmp_path / "lc_ck")
    schema = "k STRING, v DOUBLE"
    b1 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], schema=schema)
    b2 = spark.createDataFrame([("a", 10.0), ("c", 4.0)], schema=schema)
    b1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)  # file mtimes order the micro-batches
    b2.coalesce(1).write.mode("append").parquet(src)
    target = _rollup_target(spark, str(tmp_path / "lc_state"), b1)

    def run():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = sinks.maintain_rollup_batches(stream, target, ["k"], "v", ck,
                                          available_now=True)
        q.awaitTermination(120)

    run()
    head = target._latest()
    commits = os.path.join(ck, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    assert last == 1  # the replayed batch is a merge, not a rebuild
    os.remove(os.path.join(commits, str(last)))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run()  # re-runs batch `last`
    assert os.path.exists(os.path.join(commits, str(last)))
    assert _finalized(target) == _recomputed(b1.unionByName(b2))
    assert target._latest() == head


def test_rollup_sink_fresh_checkpoint_rebuilds_not_skips(spark, tmp_path):
    """Losing the checkpoint is recoverable: a FRESH checkpoint replays
    the source from offset zero and the first batch REBUILDS the state,
    so the result still equals the full recompute — new data is never
    skipped and old state never double-counted."""
    import time

    from mura_spark.streaming import sinks

    src = str(tmp_path / "fr_src")
    schema = "k STRING, v DOUBLE"
    b1 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], schema=schema)
    b1.coalesce(1).write.mode("append").parquet(src)
    target = _rollup_target(spark, str(tmp_path / "fr_state"), b1)

    def run(ck):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = sinks.maintain_rollup_batches(stream, target, ["k"], "v",
                                          str(tmp_path / ck),
                                          available_now=True)
        q.awaitTermination(120)

    run("ck1")
    time.sleep(1.1)
    b2 = spark.createDataFrame([("a", 10.0), ("c", 4.0)], schema=schema)
    b2.coalesce(1).write.mode("append").parquet(src)
    run("ck2")  # checkpoint lost: full replay must rebuild, not skip
    assert _finalized(target) == _recomputed(b1.unionByName(b2))


def test_rollup_sink_surfaces_merge_failure(spark, tmp_path):
    """A corrupted/incompatible state table must FAIL the stream, never be
    silently replaced by one batch's partials."""
    import time

    import pytest as _pytest

    from mura_spark.streaming import sinks

    src = str(tmp_path / "mf_src")
    ck = str(tmp_path / "mf_ck")
    schema = "k STRING, v DOUBLE"
    first = spark.createDataFrame([("a", 1.0)], schema=schema)
    first.coalesce(1).write.mode("append").parquet(src)
    target = _rollup_target(spark, str(tmp_path / "mf_state"), first)

    def run():
        stream = (spark.readStream.schema(schema).parquet(src))
        return sinks.maintain_rollup_batches(stream, target, ["k"], "v",
                                             ck, available_now=True)

    run().awaitTermination(120)
    # state now has the wrong shape (missing the state columns)
    target.overwrite(spark.createDataFrame([("junk",)], "z STRING"))
    time.sleep(1.1)
    spark.createDataFrame([("b", 2.0)], schema=schema) \
         .coalesce(1).write.mode("append").parquet(src)
    q = run()  # batch 1 merges into the junk state
    with _pytest.raises(Exception):
        q.awaitTermination(120)
    # the junk state was not overwritten
    assert target.read().columns == ["z"]


def test_stateful_locf_equals_batch_window(spark, events, tmp_path):
    """Streaming LOCF (applyInPandasWithState, one scalar of state per
    user) must equal the batch IGNORE-NULLS window — including users
    whose purchase history spans the micro-batch split."""
    from pyspark.sql import Window
    from mura_spark.streaming import stateful

    sub = events.filter(F.col("user_id") < 50)
    cutoff = sub.agg(F.percentile_approx("ts", 0.5)).first()[0]
    src = str(tmp_path / "events_locf")
    sub.filter(F.col("ts") <= cutoff).coalesce(1) \
       .write.mode("overwrite").parquet(src)
    sub.filter(F.col("ts") > cutoff).coalesce(1) \
       .write.mode("append").parquet(src)

    stream = W.read_events_stream(spark, src, events.schema)
    q = (stateful.locf_purchase_stream(stream)
         .writeStream.format("memory").queryName("locf_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.event_id: r.last_purchase_value
           for r in spark.table("locf_stream").collect()}

    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    want = {r.event_id: r.lp for r in
            sub.select("event_id",
                       F.last(pv, ignorenulls=True).over(w).alias("lp"))
               .collect()}
    assert set(got) == set(want)
    mismatches = {k for k in want if got[k] != want[k]
                  and not (got[k] is None and want[k] is None)}
    assert not mismatches, sorted(mismatches)[:5]


def test_conversion_detector_equals_batch_across_batches(spark, events,
                                                         tmp_path):
    """Streaming view→purchase CEP (one µs scalar of state per user)
    must equal the batch strictly-preceding-view window — including
    pairs whose view and purchase land in DIFFERENT micro-batches."""
    from mura_spark.streaming import stateful

    sub = events.filter(F.col("user_id") < 50)
    cutoff = sub.agg(F.percentile_approx("ts", 0.5)).first()[0]
    src = str(tmp_path / "events_cep")
    sub.filter(F.col("ts") <= cutoff).coalesce(1) \
       .write.mode("overwrite").parquet(src)
    sub.filter(F.col("ts") > cutoff).coalesce(1) \
       .write.mode("append").parquet(src)

    WIN = 10 ** 13  # ~115 days: wide enough that pairs span the split
    stream = W.read_events_stream(spark, src, sub.schema)
    q = (stateful.conversion_detector_stream(stream, within_us=WIN)
         .writeStream.format("memory").queryName("cep_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.user_id, r.purchase_event_id): r.latency_us
           for r in spark.table("cep_stream").collect()}

    want = {(r.user_id, r.purchase_event_id): r.latency_us
            for r in stateful.conversion_detector_batch(
                sub, within_us=WIN).collect()}
    assert got == want
    assert want, "fixture must contain at least one conversion"
    # at least one matched pair must SPAN the batch split (purchase in
    # batch 2, its view in batch 1), or the cross-batch claim is untested
    pts = {r.event_id: r.ts for r in sub.collect()}
    spans = [k for (u, k), lat in want.items()
             if pts[k] > cutoff
             and (pts[k] - __import__("datetime").timedelta(
                 microseconds=lat)) <= cutoff]
    assert spans, "no view->purchase pair spans the micro-batch split"
