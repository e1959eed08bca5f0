"""Event-stream queries (events table): windowed aggregation, gap
sessionization, JSON extraction — the batch faces of the streaming module
(mura_spark.streaming.windows), so the DuckDB oracle verifies the exact
logic the streaming path runs incrementally.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mura_spark.streaming import windows as W
from mura_spark.suite.common import dsum, registry, sql_dsum, table

SPARK_QUERIES, ORACLE_SQL, q = registry()


@q("events_window_hourly",
   "SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type, "
   "COUNT(*) AS n_events, "
   f"{sql_dsum('value')} AS total_value "
   "FROM events GROUP BY 1, 2")
def events_window_hourly(spark, sf):
    """Tumbling 1-hour windows — same function the streaming path uses.
    value sums run decimal-exact (value carries 2 decimals)."""
    ev = table(spark, sf, "events")
    return (ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.sum(F.col("value").cast("decimal(18,2)"))
                    .cast("double").alias("total_value"))
              .select(F.col("w.start").alias("window_start"),
                      "event_type", "n_events", "total_value"))


@q("events_sessionize",
   "WITH flagged AS (SELECT user_id, ts, event_id, "
   "CASE WHEN lag(ts) OVER w IS NULL THEN 1 "
   "WHEN ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END "
   "AS new_session FROM events "
   "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
   "sess AS (SELECT user_id, ts, "
   "CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id "
   "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
   "AS session_id "
   "FROM flagged) "
   "SELECT user_id, session_id, MIN(ts) AS session_start, "
   "MAX(ts) AS session_end, COUNT(*) AS n_events "
   "FROM sess GROUP BY user_id, session_id")
def events_sessionize(spark, sf):
    """Gap-based sessionization (30-minute gap) — the SQL-expressible batch
    twin of streaming session_window."""
    ev = table(spark, sf, "events")
    return W.sessionize(ev, gap="30 minutes")


@q("events_session_window_stream",
   "WITH flagged AS (SELECT user_id, ts, event_id, "
   "CASE WHEN lag(ts) OVER w IS NULL THEN 1 "
   "WHEN ts >= lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END "
   "AS new_session FROM events "
   "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
   "sess AS (SELECT user_id, ts, "
   "SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id "
   "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id "
   "FROM flagged) "
   "SELECT user_id, MIN(ts) AS session_start, "
   "MAX(ts) + INTERVAL 30 MINUTE AS session_end, COUNT(*) AS n_events "
   "FROM sess GROUP BY user_id, session_id")
def events_session_window_stream(spark, sf):
    """Driver-visible streaming evidence: runs sessionize_stream — the
    ACTUAL streaming operator (native session_window + watermark,
    mura_spark/streaming/windows.py) — in batch mode, where the watermark
    is a no-op and session_window executes with identical merge semantics.
    A regression in the streaming sessionizer now breaks this driver row,
    not just pytest. The oracle encodes session_window's exact boundary
    rule: an event at ts == previous + gap does NOT extend the session
    (windows [ts, ts+gap) merge only on strict overlap), and session_end is
    last event ts + gap — both different from the lag-based batch
    events_sessionize, deliberately."""
    ev = table(spark, sf, "events")
    return W.sessionize_stream(ev, gap="30 minutes")


@q("events_json_extract",
   # same json_valid guard as events_variant_extract: Spark's
   # get_json_object yields NULL on malformed props, DuckDB aborts
   "WITH x AS (SELECT CASE WHEN json_valid(props) THEN "
   "CAST(json_extract_string(props, '$.k') AS INTEGER) END AS k "
   "FROM events) "
   "SELECT k % 10 AS k_bucket, COUNT(*) AS n, "
   "CAST(SUM(k) AS BIGINT) AS k_sum FROM x GROUP BY 1")
def events_json_extract(spark, sf):
    """JSON property extraction + aggregation (props is a JSON string)."""
    ev = table(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (ev.select((k % 10).alias("k_bucket"), k.alias("k"))
              .groupBy("k_bucket")
              .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("k_sum")))


@q("events_window_sliding",
   "SELECT window_start, user_id, COUNT(*) AS n_events FROM ("
   "  SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS window_start, "
   "         user_id, ts FROM events "
   "  UNION ALL "
   "  SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE, "
   "         user_id, ts FROM events) "
   "WHERE ts >= window_start AND ts < window_start + INTERVAL 1 HOUR "
   "GROUP BY window_start, user_id")
def events_window_sliding(spark, sf):
    """Sliding 1-hour windows every 30 minutes (each event lands in two
    windows); oracle enumerates both buckets per event. Only window_start
    is compared — window_end is start + width by construction."""
    ev = table(spark, sf, "events")
    return (W.sliding_user_activity(ev, window_size="1 hour",
                                    slide="30 minutes")
            .drop("window_end"))


@q("events_asof_join",
   "SELECT p.event_id, p.user_id, p.ts, p.value, "
   "v.ts AS ts_matched, v.event_id AS event_id_matched, "
   "v.value AS value_matched "
   "FROM (SELECT * FROM events WHERE event_type = 'purchase') p "
   "LEFT JOIN LATERAL ("
   "  SELECT ts, event_id, value FROM events v "
   "  WHERE v.event_type = 'view' AND v.user_id = p.user_id "
   "  AND v.ts <= p.ts ORDER BY v.ts DESC, v.event_id DESC LIMIT 1"
   ") v ON true")
def events_asof_join(spark, sf):
    """Backward as-of join: each purchase gets the latest prior (or
    simultaneous) view by the same user. Spark side is the single-shuffle
    union+window formulation; oracle is DuckDB's lateral top-1."""
    from mura_spark.operators.asof import asof_join
    ev = table(spark, sf, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .select("event_id", "user_id", "ts", "value"))
    views = (ev.filter(F.col("event_type") == "view")
               .select("user_id", "ts", "event_id", "value"))
    return asof_join(purchases, views, on="ts", by="user_id",
                     tiebreak="event_id", value_cols=["value"])


@q("events_range_join",
   "SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts, "
   "e.event_id AS error_id, e.ts AS error_ts "
   "FROM (SELECT * FROM events WHERE event_type = 'click') c "
   "JOIN (SELECT * FROM events WHERE event_type = 'error') e "
   "ON c.user_id = e.user_id "
   "AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 10 MINUTE")
def events_range_join(spark, sf):
    """Range (interval) join: errors within 10 minutes after a click by the
    same user — bucketed equi-join decomposition, no nested loop."""
    from mura_spark.operators.asof import range_join
    ev = table(spark, sf, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("event_id", "user_id", "ts"))
    errors = (ev.filter(F.col("event_type") == "error")
                .select("event_id", "user_id", "ts"))
    joined = range_join(clicks, errors, on="ts", by="user_id",
                        lower=0, upper=600, bucket_width_seconds=600)
    return joined.select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id_r").alias("error_id"),
        F.col("ts_r").alias("error_ts"))


@q("events_resample_gapfill",
   "WITH bounds AS (SELECT time_bucket(INTERVAL 1 DAY, MIN(ts)) AS lo, "
   "time_bucket(INTERVAL 1 DAY, MAX(ts)) AS hi FROM events), "
   "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day "
   "FROM bounds), "
   "types AS (SELECT DISTINCT event_type FROM events), "
   "actual AS (SELECT time_bucket(INTERVAL 1 DAY, ts) AS day, event_type, "
   "COUNT(*) AS n FROM events GROUP BY 1, 2) "
   "SELECT g.day, t.event_type, COALESCE(a.n, 0) AS n_events "
   "FROM grid g CROSS JOIN types t "
   "LEFT JOIN actual a ON a.day = g.day AND a.event_type = t.event_type")
def events_resample_gapfill(spark, sf):
    """Hypertable-style rollup with gap filling: daily buckets per event
    type over the full observed range, zero rows for empty buckets. The
    dense grid comes from sequence() over the min/max bounds (broadcast
    single-row), never from the driver."""
    ev = table(spark, sf, "events")
    day = F.date_trunc("day", "ts")
    actual = (ev.groupBy(day.alias("day"), "event_type")
                .agg(F.count(F.lit(1)).alias("n")))
    bounds = ev.agg(F.date_trunc("day", F.min("ts")).alias("lo"),
                    F.date_trunc("day", F.max("ts")).alias("hi"))
    grid = (bounds.select(F.explode(F.sequence(
        "lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")))
    types = ev.select("event_type").distinct()
    dense = grid.crossJoin(types)
    return (dense.join(actual, ["day", "event_type"], "left")
                 .select("day", "event_type",
                         F.coalesce(F.col("n"), F.lit(0)).alias("n_events")))


@q("events_upsert_latest",
   "WITH b AS (SELECT event_id, user_id, ts, value, 0 AS src FROM events), "
   "u AS (SELECT event_id, user_id, ts + INTERVAL 1 HOUR AS ts, "
   "value + 1000 AS value, 1 AS src FROM events WHERE event_id % 3 = 0), "
   "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id "
   "ORDER BY ts DESC, src DESC) AS rn "
   "FROM (SELECT * FROM b UNION ALL SELECT * FROM u)) "
   "SELECT event_id, user_id, ts, value FROM r WHERE rn = 1")
def events_upsert_latest(spark, sf):
    """CDC-style upsert: a synthetic update stream (every third event,
    re-timestamped +1h, value bumped) merged into the base — per key the
    newest version wins (updates side on ties). One key-shuffle window;
    mura_spark.operators.upsert."""
    from mura_spark.operators.upsert import upsert_latest
    ev = table(spark, sf, "events").select(
        "event_id", "user_id", "ts", "value")
    updates = (ev.filter(F.col("event_id") % 3 == 0)
               .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
               .withColumn("value", F.col("value") + 1000))
    return upsert_latest(ev, updates, ["event_id"], "ts")


@q("events_scd2_history",
   "SELECT user_id, ts AS valid_from, "
   "LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to, value "
   "FROM events")
def events_scd2_history(spark, sf):
    """SCD type-2 history: every version of every key with its validity
    interval (valid_to NULL on the current row) — the keep-all twin of
    events_upsert_latest; as-of reproductions join on the interval. One
    key-shuffle window; mura_spark.operators.upsert.scd2_history."""
    from mura_spark.operators.upsert import scd2_history
    ev = table(spark, sf, "events").select("user_id", "ts", "value")
    return (scd2_history(ev, ["user_id"], "ts")
            .select("user_id", "valid_from", "valid_to", "value"))


@q("events_funnel",
   "WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events "
   "WHERE event_type = 'view' GROUP BY user_id), "
   "s2 AS (SELECT e.user_id, MIN(ts) AS t2 FROM events e "
   "JOIN s1 ON e.user_id = s1.user_id "
   "WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id), "
   "s3 AS (SELECT e.user_id, MIN(ts) AS t3 FROM events e "
   "JOIN s2 ON e.user_id = s2.user_id "
   "WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id) "
   "SELECT 1 AS step, 'view' AS step_name, "
   "(SELECT COUNT(*) FROM s1) AS n_users "
   "UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2) "
   "UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)")
def events_funnel(spark, sf):
    """Strict-order funnel view → click → purchase: per-step user counts.
    See mura_spark.operators.funnel for the |users|-row shuffle design."""
    from mura_spark.operators.funnel import funnel_counts
    ev = table(spark, sf, "events")
    return funnel_counts(ev, "user_id", "event_type", "ts",
                         ["view", "click", "purchase"])


@q("events_retention",
   "WITH cohort AS (SELECT user_id, "
   "CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week "
   "FROM events WHERE event_type = 'signup' GROUP BY user_id), "
   "active AS (SELECT DISTINCT user_id, "
   "CAST(date_trunc('week', ts) AS TIMESTAMP) AS act_week FROM events) "
   "SELECT cohort_week, CAST(date_diff('day', CAST(cohort_week AS DATE), "
   "CAST(act_week AS DATE)) / 7 AS INT) AS week_offset, "
   "COUNT(DISTINCT user_id) AS n_users "
   "FROM active JOIN cohort USING (user_id) "
   "WHERE act_week >= cohort_week GROUP BY 1, 2")
def events_retention(spark, sf):
    """Weekly signup-cohort retention (cohort_week, week_offset, n_users).
    Week starts align (Monday in both engines), so offsets are exact
    multiples of 7 days and the int conversion is lossless."""
    from mura_spark.operators.funnel import retention_cohorts
    ev = table(spark, sf, "events")
    return retention_cohorts(ev, "user_id", "ts", "event_type", "signup")


@q("sketch_value_percentiles")  # approximate — rows-only; error in pytest
def sketch_value_percentiles(spark, sf):
    """Approximate p50/p90/p99 of event value per type via the built-in
    quantile sketch (single pass, mergeable partials — the shape that
    replaces exact percentile's full sort at 100 TB); relative-error
    envelope vs exact percentile_approx(…, 1.0) pinned in
    tests/test_sketches.py. Output is three scalar columns (never an
    array — the driver's rows-only canonicalizer sorts every column and
    cannot sort list cells)."""
    ev = table(spark, sf, "events")
    p = F.percentile_approx("value", [0.5, 0.9, 0.99], 1000)
    return (ev.groupBy("event_type")
              .agg(p.alias("p"))
              .select("event_type",
                      F.element_at("p", 1).alias("p50"),
                      F.element_at("p", 2).alias("p90"),
                      F.element_at("p", 3).alias("p99")))


@q("sketch_distinct_users")  # approximate (HLL) — rows-only; error bound in pytest
def sketch_distinct_users(spark, sf):
    """HyperLogLog distinct-user estimate per event type — the sketch path
    for cardinalities where exact count-distinct's shuffle is unaffordable;
    relative error vs exact is pinned in tests/test_sketches.py."""
    ev = table(spark, sf, "events")
    return (ev.groupBy("event_type")
              .agg(F.approx_count_distinct("user_id", rsd=0.02)
                   .alias("approx_users")))


@q("sketch_distinct_users_exact",
   "SELECT event_type, COUNT(DISTINCT user_id) AS n_users "
   "FROM events GROUP BY event_type")
def sketch_distinct_users_exact(spark, sf):
    """Deterministic driver companion for sketch_distinct_users: the exact
    count-distinct the HLL estimate is pytest-pinned against (within rsd).
    Partial distinct aggregation is map-side (Expand + partial HashAggregate
    before the shuffle), so only distinct (event_type, user_id) pairs cross
    the wire — the affordable exact form at moderate key cardinality; the
    sketch twin is the path for when even that shuffle isn't."""
    ev = table(spark, sf, "events")
    return (ev.groupBy("event_type")
              .agg(F.count_distinct("user_id").alias("n_users")))


@q("sketch_value_percentiles_exact",
   "WITH ranked AS (SELECT event_type, value, "
   "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn, "
   "COUNT(*) OVER (PARTITION BY event_type) AS n "
   "FROM events WHERE value IS NOT NULL) "
   "SELECT event_type, "
   "MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN value END) AS p50, "
   "MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN value END) AS p90, "
   "MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99 "
   "FROM ranked GROUP BY event_type")
def sketch_value_percentiles_exact(spark, sf):
    """Deterministic driver companion for sketch_value_percentiles:
    nearest-rank percentiles (value at row_number = ceil(p·n)) — every
    output is an actual data value, so it hash-matches bit-exactly across
    engines with no interpolation arithmetic to align. Rank ties on equal
    values pick the same value by definition. One sort shuffle per group;
    the sketch twin replaces exactly this sort at scale."""
    from pyspark.sql.window import Window
    ev = table(spark, sf, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy(F.col("value").asc())
    wn = Window.partitionBy("event_type")
    ranked = (ev.select("event_type", "value")
                .withColumn("rn", F.row_number().over(w))
                .withColumn("n", F.count(F.lit(1)).over(wn)))

    def at(p):
        return F.max(F.when(
            F.col("rn") == F.ceil(F.lit(p) * F.col("n")), F.col("value")))

    return (ranked.groupBy("event_type")
                  .agg(at(0.5).alias("p50"), at(0.9).alias("p90"),
                       at(0.99).alias("p99")))


@q("events_user_totals",
   "SELECT user_id, COUNT(*) AS n_events, "
   f"{sql_dsum('value')} AS total_value "
   "FROM events GROUP BY user_id")
def events_user_totals(spark, sf):
    """Batch twin of the stateful-streaming running totals
    (mura_spark/streaming/stateful.py:running_user_totals): the final state
    per user must equal this plain aggregation — stream ≡ batch is pinned in
    tests/test_streaming.py; this entry pins the batch side to the oracle."""
    ev = table(spark, sf, "events")
    return (ev.groupBy("user_id")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.sum(F.col("value").cast("decimal(18,2)"))
                    .cast("double").alias("total_value")))


@q("events_type_value_stats",
   "SELECT event_type, COUNT(DISTINCT user_id) AS n_users, "
   "MIN(value) AS min_value, MAX(value) AS max_value, "
   f"{sql_dsum('value')} AS sum_value "
   "FROM events GROUP BY event_type")
def events_type_value_stats(spark, sf):
    ev = table(spark, sf, "events")
    return (ev.groupBy("event_type")
              .agg(F.countDistinct("user_id").alias("n_users"),
                   F.min("value").alias("min_value"),
                   F.max("value").alias("max_value"),
                   F.sum(F.col("value").cast("decimal(18,2)"))
                    .cast("double").alias("sum_value")))


@q("events_enrich_users",
   "SELECT e.event_id, e.user_id, e.event_type, "
   "c.c_mktsegment AS mktsegment, n.n_name AS nation "
   "FROM events e "
   "LEFT JOIN customer c ON e.user_id = c.c_custkey "
   "LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey")
def events_enrich_users(spark, sf):
    """Dimension enrichment of the event stream — the batch face of
    :func:`mura_spark.streaming.joins.enrich_stream` (stream-static join).
    Both dimension joins are broadcast: customer/nation are the classic
    small-dim side, and broadcasting keeps the (unbounded, 100 TB) event
    side from shuffling — per micro-batch in streaming, at all in batch."""
    from mura_spark.streaming import joins as J
    ev = table(spark, sf, "events").select("event_id", "user_id",
                                           "event_type")
    cust = table(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_nationkey")
    nat = table(spark, sf, "nation").select("n_nationkey",
                                            F.col("n_name").alias("nation"))
    enriched = J.enrich_stream(ev, cust, on="user_id", how="left")
    return (J.enrich_stream(enriched,
                            nat.withColumnRenamed("n_nationkey",
                                                  "c_nationkey"),
                            on="c_nationkey", how="left")
            .select("event_id", "user_id", "event_type",
                    F.col("c_mktsegment").alias("mktsegment"), "nation"))


@q("events_value_histogram",
   "SELECT event_type, CAST(least(greatest(floor(value / 25.0), 0), 19) "
   "AS BIGINT) AS bucket, COUNT(*) AS n "
   "FROM events GROUP BY event_type, bucket")
def events_value_histogram(spark, sf):
    """Equal-width value histogram per event type (20 buckets of width 25
    over [0, 500), outliers clamped to the edge buckets) — the profiling/
    monitoring shape of an event pipeline. A plain groupBy on (type,
    bucket): map-side partial aggregation makes it one reduced shuffle of
    at most types×20 groups at any scale; fixed boundaries mean a pure
    per-row bucket function (no global min/max pass), with the identical
    floor/clamp arithmetic on both engines (DuckDB has no width_bucket)."""
    ev = table(spark, sf, "events")
    bucket = (F.least(F.greatest(F.floor(F.col("value") / 25.0), F.lit(0)),
                      F.lit(19)).cast("bigint"))
    return (ev.groupBy("event_type", bucket.alias("bucket"))
              .agg(F.count(F.lit(1)).alias("n")))


@q("events_winsorize",
   "WITH b AS (SELECT quantile_cont(CAST(value AS DOUBLE), [0.01, 0.99]) "
   "AS bnds FROM events) "
   "SELECT event_id, value, "
   "CASE WHEN value IS NOT NULL THEN "
   "least(greatest(CAST(value AS DOUBLE), bnds[1]), bnds[2]) END "
   "AS value_clip "
   "FROM events CROSS JOIN b")
def events_winsorize(spark, sf):
    """Outlier clipping of the event metric to its corpus [p01, p99] — the
    sanitization step before any mean/loss aggregation. One exact
    percentile aggregation broadcasts the two boundaries to a scan-side
    least/greatest; the events themselves never sort or shuffle
    (operators.sampling.winsorize; approx_percentile is the same
    operator's 100 TB path)."""
    from mura_spark.operators.sampling import winsorize
    ev = table(spark, sf, "events").select("event_id", "value")
    return winsorize(ev, "value", 0.01, 0.99, exact=True)


@q("events_incremental_totals",
   "SELECT event_type, "
   "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total, "
   "COUNT(value) AS n, MIN(value) AS vmin, MAX(value) AS vmax, "
   "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) "
   "AS mean FROM events GROUP BY event_type")
def events_incremental_totals(spark, sf):
    """Incremental aggregate maintenance (materialized-view refresh):
    history and the new batch are aggregated to mergeable partial states
    SEPARATELY (here: split at Jan 16), the states merged, and the view
    finalized — the oracle is the full recompute, so the row pins the
    monoid-merge identity agg(old ∪ new) == merge(agg(old), agg(new)).
    Refresh cost at scale is one reduced shuffle of the new batch plus a
    dimension-sized state union; history is never re-read
    (operators.incremental)."""
    from mura_spark.operators.incremental import (finalize, merge_states,
                                                  partial_state)
    ev = table(spark, sf, "events").select("ts", "event_type", "value")
    cutoff = F.lit("2024-01-16").cast("timestamp")
    old = partial_state(ev.filter(F.col("ts") < cutoff),
                        ["event_type"], "value")
    new = partial_state(ev.filter(F.col("ts") >= cutoff),
                        ["event_type"], "value")
    return finalize(merge_states([old, new], ["event_type"]),
                    ["event_type"])


@q("events_rolling_1h_sum",
   "SELECT event_id, user_id, "
   "CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER ("
   "PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT) "
   "RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE) "
   "AS rolling_sum FROM events")
def events_rolling_1h_sum(spark, sf):
    """Trailing 1-hour spend per user: a RANGE-framed window over event
    time (time-measured frames, vs the row-counted frame of
    window_running_sum) — one user-key shuffle + per-key sorted
    two-pointer frame, state bounded by the hour's row count; decimal
    sums make the sliding accumulation order irrelevant
    (operators.rolling.rolling_sum_seconds)."""
    from mura_spark.operators.rolling import rolling_sum_seconds
    ev = table(spark, sf, "events").select("event_id", "user_id", "ts",
                                           "value")
    return rolling_sum_seconds(ev, "user_id", "ts", "value",
                               3600).drop("ts", "value")


@q("agg_udaf_gmean",
   "SELECT event_type, CAST(floor(exp(avg(ln(CAST(value AS DOUBLE)))) "
   "* 1000000 + 0.5) AS BIGINT) AS gmean_micro "
   "FROM events WHERE value > 0 GROUP BY event_type")
def agg_udaf_gmean(spark, sf):
    """User-defined AGGREGATE surface (the executable analog of the
    reference's AggregateFunction shell, logicalplan.rs:72-80): the
    Arrow-batched grouped-agg pandas UDAF mura_gmean (geometric mean),
    registered by name and invoked from SQL GROUP BY. Micro-unit output:
    exp/ln last-ulp is not cross-engine comparable
    (functions.registry._gmean_udf)."""
    from mura_spark.functions.registry import register_all
    register_all(spark)
    return spark.sql(
        "SELECT event_type, CAST(floor(mura_gmean(CAST(value AS DOUBLE)) "
        "* 1000000 + 0.5) AS BIGINT) AS gmean_micro "
        "FROM {pos} GROUP BY event_type",
        pos=table(spark, sf, "events").filter(F.col("value") > 0))


@q("events_winsorize_by_type",
   "WITH b AS (SELECT event_type, "
   "quantile_cont(CAST(value AS DOUBLE), [0.05, 0.95]) AS bnds "
   "FROM events GROUP BY event_type) "
   "SELECT event_id, e.event_type, value, "
   "CASE WHEN value IS NOT NULL THEN "
   "least(greatest(CAST(value AS DOUBLE), bnds[1]), bnds[2]) END "
   "AS value_clip "
   "FROM events e JOIN b ON e.event_type = b.event_type")
def events_winsorize_by_type(spark, sf):
    """Per-segment outlier clipping: each event type clamps to ITS OWN
    [p05, p95] (global boundaries under-clip hot segments and over-clip
    cold ones). One reduced percentile aggregation over |types| groups,
    broadcast back onto the scan — the events themselves never shuffle
    (operators.sampling.winsorize_by_group; approx_percentile is the
    same operator's 100 TB path)."""
    from mura_spark.operators.sampling import winsorize_by_group
    ev = table(spark, sf, "events").select("event_id", "event_type",
                                           "value")
    return winsorize_by_group(ev, "event_type", "value", 0.05, 0.95)


def _anomaly_oracle() -> str:
    from mura_spark.operators.anomaly import sql_group_zscore
    z = sql_group_zscore("n_events", "PARTITION BY event_type")
    return (
        "WITH h AS (SELECT event_type, "
        "time_bucket(INTERVAL 1 HOUR, ts) AS hour, "
        "COUNT(*) AS n_events FROM events GROUP BY 1, 2), "
        f"s AS (SELECT event_type, hour, n_events, {z} AS z FROM h) "
        "SELECT event_type, hour, n_events, z FROM s WHERE abs(z) > 2.0")


@q("events_anomaly_hours", _anomaly_oracle())
def events_anomaly_hours(spark, sf):
    """Hourly-volume anomaly detection: hours whose event count deviates
    from that event type's mean by > 2σ. The z-score runs on exact
    integer moment sums (operators.anomaly), so the flagged set is
    deterministic and oracle-hashable. Plan: one groupBy shuffle for the
    hourly rollup, one window shuffle on event_type for the moments —
    the window input is already aggregate-sized (hours × types), tiny
    relative to raw events at any scale."""
    from mura_spark.operators.anomaly import zscore_outliers
    ev = table(spark, sf, "events")
    hourly = (ev.groupBy("event_type",
                         F.window("ts", "1 hour")["start"].alias("hour"))
                .agg(F.count(F.lit(1)).alias("n_events")))
    return zscore_outliers(hourly, ["event_type"], "n_events", 2.0)


@q("events_session_overlap",
   "WITH flagged AS (SELECT user_id, ts, event_id, "
   "CASE WHEN lag(ts) OVER w IS NULL THEN 1 "
   "WHEN ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END "
   "AS new_session FROM events "
   "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
   "sess0 AS (SELECT user_id, ts, "
   "CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id "
   "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
   "AS session_id FROM flagged), "
   "sess AS (SELECT user_id, session_id, MIN(ts) AS s, MAX(ts) AS e "
   "FROM sess0 GROUP BY user_id, session_id) "
   "SELECT a.user_id AS a_user, a.session_id AS a_session, "
   "b.user_id AS b_user, b.session_id AS b_session, "
   "epoch_us(least(a.e, b.e)) - epoch_us(greatest(a.s, b.s)) AS overlap_us "
   "FROM sess a JOIN sess b ON a.user_id % 2 = 0 AND b.user_id % 2 = 1 "
   "AND a.s <= b.e AND b.s <= a.e")
def events_session_overlap(spark, sf):
    """Concurrent-session detection: every (even-user, odd-user) session
    pair that overlaps in time, with the overlap length in µs. The Spark
    side routes the inequality predicate through the bucketed
    interval_overlap_join (operators.asof) — a bounded-fanout equi-join
    on 1-hour time buckets with single-bucket pair emission (no
    distinct) — while the oracle states the naive theta join."""
    from mura_spark.operators.asof import interval_overlap_join
    ev = table(spark, sf, "events")
    sess = W.sessionize(ev, gap="30 minutes")
    a = (sess.filter(F.col("user_id") % 2 == 0)
             .select(F.col("user_id").alias("a_user"),
                     F.col("session_id").alias("a_session"),
                     F.col("session_start").alias("a_start"),
                     F.col("session_end").alias("a_end")))
    b = (sess.filter(F.col("user_id") % 2 == 1)
             .select(F.col("user_id").alias("b_user"),
                     F.col("session_id").alias("b_session"),
                     F.col("session_start").alias("b_start"),
                     F.col("session_end").alias("b_end")))
    paired = interval_overlap_join(a, b, "a_start", "a_end",
                                   "b_start", "b_end", bucket="1 hour")
    overlap = (F.unix_micros(F.least("a_end", "b_end"))
               - F.unix_micros(F.greatest("a_start", "b_start")))
    return paired.select("a_user", "a_session", "b_user", "b_session",
                         overlap.alias("overlap_us"))


@q("events_markov_transitions",
   "WITH t AS (SELECT lag(event_type) OVER "
   "(PARTITION BY user_id ORDER BY ts, event_id) AS src_type, "
   "event_type AS dst_type FROM events), "
   "c AS (SELECT src_type, dst_type, COUNT(*) AS n_trans FROM t "
   "WHERE src_type IS NOT NULL GROUP BY 1, 2) "
   "SELECT src_type, dst_type, n_trans, "
   "CAST(n_trans AS DOUBLE) / SUM(n_trans) OVER "
   "(PARTITION BY src_type) AS prob FROM c")
def events_markov_transitions(spark, sf):
    """First-order Markov transition matrix over per-user event
    sequences (operators.funnel.transition_matrix) — exact counts, one
    user-keyed window + one pair groupBy; the normalizer runs over the
    aggregate, never the raw events."""
    from mura_spark.operators.funnel import transition_matrix
    ev = table(spark, sf, "events")
    return transition_matrix(ev, "user_id", "event_type", "ts", "event_id")


@q("events_dedup_replay",
   f"SELECT event_type, COUNT(*) AS n, {sql_dsum('value')} AS total_value "
   "FROM events GROUP BY 1")
def events_dedup_replay(spark, sf):
    """Driver-visible streaming-dedup evidence: replays the corpus with
    a duplicated slice (every 7th event re-delivered, simulating an
    at-least-once source), routes it through
    streaming.stateful.dedup_events_stream — the ACTUAL streaming
    operator, whose batch mode is the same dropDuplicates contract the
    watermarked stream enforces within its delay — and aggregates. The
    oracle is the clean corpus: if the dedup ever under- or over-drops,
    this row hash-breaks."""
    from mura_spark.streaming.stateful import dedup_events_stream
    ev = table(spark, sf, "events")
    replay = ev.unionAll(ev.filter(F.col("event_id") % 7 == 0))
    clean = dedup_events_stream(replay, keys=["event_id"])
    return (clean.groupBy("event_type")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum(F.col("value").cast("decimal(18,2)"))
                       .cast("double").alias("total_value")))


# ------------------------------------------------------- round-5v addition

@q("events_variant_extract",
   # json_valid guard: DuckDB's json_extract_string ABORTS on malformed
   # JSON (unlike Spark's try_ path) — the guard keeps the twin
   # degrading to NULL identically; one extraction CTE, not four copies
   "WITH x AS (SELECT CASE WHEN json_valid(props) THEN "
   "CAST(json_extract_string(props, '$.k') AS INTEGER) END AS k "
   "FROM events) "
   "SELECT k % 2 AS k_parity, COUNT(*) AS n, MIN(k) AS k_min, "
   "MAX(k) AS k_max, CAST(SUM(k) AS BIGINT) AS k_sum FROM x GROUP BY 1")
def events_variant_extract(spark, sf):
    """Semi-structured extraction through Spark 4's VARIANT type:
    ``parse_json`` ONCE per row into the binary variant encoding, then
    typed ``variant_get`` paths — at scale this replaces the N×
    re-parse of ``get_json_object``-per-field (events_json_extract is
    the string-path twin) with one parse + cheap binary traversals.
    The oracle reads the same values through DuckDB's JSON path."""
    ev = table(spark, sf, "events")
    # try_parse_json: one malformed props row must degrade to NULL (as
    # the string path and the oracle's json_extract_string do), not
    # abort the whole query
    v = F.try_parse_json("props")
    k = F.try_variant_get(v, "$.k", "int")
    return (ev.select((k % 2).alias("k_parity"), k.alias("k"))
              .groupBy("k_parity")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.min("k").alias("k_min"),
                   F.max("k").alias("k_max"),
                   F.sum("k").alias("k_sum")))


@q("events_locf_purchase",
   "SELECT event_id, user_id, "
   "last_value(CASE WHEN event_type = 'purchase' THEN value END "
   "IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id "
   "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
   "AS last_purchase_value FROM events")
def events_locf_purchase(spark, sf):
    """Last-observation-carried-forward gap fill: every event carries
    the user's most recent purchase value (NULL before the first one) —
    the IGNORE NULLS window surface (F.last(ignorenulls=True)) that
    state-of-the-session features are built from. One user-partitioned
    window, event_id tiebreak; NULL-valued frames stay NULL. Routes
    through streaming.stateful.locf_purchase_batch — the batch twin of
    the applyInPandasWithState carry-forward — so this driver row is
    the streaming module's oracle-checked evidence."""
    from mura_spark.streaming.stateful import locf_purchase_batch
    return locf_purchase_batch(table(spark, sf, "events"))


@q("events_attribution_last_touch",
   "WITH w AS (SELECT event_id, user_id, ts, event_type, value, "
   "last_value(CASE WHEN event_type <> 'purchase' THEN event_type END "
   "IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id "
   "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS src_type, "
   "last_value(CASE WHEN event_type <> 'purchase' THEN ts END "
   "IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id "
   "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS src_ts "
   "FROM events) "
   "SELECT coalesce(CASE WHEN src_ts >= ts - INTERVAL 1 HOUR "
   "THEN src_type END, 'none') AS channel, "
   "COUNT(*) AS n_purchases, "
   "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value "
   "FROM w WHERE event_type = 'purchase' GROUP BY 1")
def events_attribution_last_touch(spark, sf):
    """Last-touch marketing attribution: each purchase credits the
    user's most recent non-purchase event within the preceding hour
    ('none' when cold). ONE user-partitioned IGNORE-NULLS window
    carries the candidate touch forward — no self-join, no as-of pass
    over the fact table twice — then a dimension-sized rollup per
    channel with exact-decimal value sums."""
    from pyspark.sql import Window
    ev = table(spark, sf, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
               .rowsBetween(Window.unboundedPreceding, -1))
    np_ = F.col("event_type") != "purchase"
    src_type = F.last(F.when(np_, F.col("event_type")),
                      ignorenulls=True).over(w)
    src_ts = F.last(F.when(np_, F.col("ts")), ignorenulls=True).over(w)
    base = ev.select("event_type", "ts", "value",
                     src_type.alias("src_type"), src_ts.alias("src_ts"))
    recent = F.col("src_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")
    return (base.filter(F.col("event_type") == "purchase")
                .groupBy(F.coalesce(F.when(recent, F.col("src_type")),
                                    F.lit("none")).alias("channel"))
                .agg(F.count(F.lit(1)).alias("n_purchases"),
                     dsum("value").alias("attributed_value")))


@q("events_sessionize_capped",
   "WITH flagged AS (SELECT user_id, ts, event_id, "
   "CASE WHEN lag(ts) OVER w IS NULL THEN 1 "
   "WHEN ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END "
   "AS new_session FROM events "
   "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
   "sess AS (SELECT user_id, ts, "
   "CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, "
   "event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
   "AS BIGINT) AS gap_session FROM flagged), "
   "capped AS (SELECT user_id, ts, gap_session, "
   "CAST(floor(CAST(epoch_us(ts) - epoch_us(MIN(ts) OVER (PARTITION BY "
   "user_id, gap_session)) AS DOUBLE) / 7200000000.0) AS BIGINT) "
   "AS sub_session FROM sess) "
   "SELECT user_id, gap_session, sub_session, "
   "MIN(ts) AS part_start, MAX(ts) AS part_end, "
   "COUNT(*) AS n_events FROM capped GROUP BY 1, 2, 3")
def events_sessionize_capped(spark, sf):
    """Duration-capped sessionization: 30-minute-gap sessions SPLIT at
    2-hour boundaries from the session start — the ad-analytics
    convention that stops a polling client from producing one infinite
    session. Three windows, all partitioned on the user key (gap flag,
    running session id, session-start min) + exact integer µs bucket
    arithmetic; one final dimension-grain rollup."""
    from pyspark.sql import Window
    ev = table(spark, sf, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_s = F.when(F.lag("ts").over(wo).isNull(), 1).when(
        F.col("ts") > F.lag("ts").over(wo) + F.expr("INTERVAL 30 MINUTE"),
        1).otherwise(0)
    cum = (Window.partitionBy("user_id").orderBy("ts", "event_id")
                 .rowsBetween(Window.unboundedPreceding, 0))
    sess = (ev.select("user_id", "ts", "event_id",
                      new_s.alias("__new"))
              .select("user_id", "ts",
                      F.sum("__new").over(cum).cast("bigint")
                       .alias("gap_session")))
    ws = Window.partitionBy("user_id", "gap_session")
    sub = F.floor((F.unix_micros("ts")
                   - F.unix_micros(F.min("ts").over(ws))).cast("double")
                  / F.lit(7200000000.0)).cast("bigint")
    return (sess.select("user_id", "gap_session", "ts",
                        sub.alias("sub_session"))
                .groupBy("user_id", "gap_session", "sub_session")
                .agg(F.min("ts").alias("part_start"),
                     F.max("ts").alias("part_end"),
                     F.count(F.lit(1)).alias("n_events")))


@q("events_interpolate_linear",
   "WITH hourly AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hr, "
   "CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) "
   "AS v FROM events WHERE event_type = 'purchase' GROUP BY 1), "
   "bounds AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM hourly), "
   "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) "
   "AS hr FROM bounds), "
   "j AS (SELECT g.hr, h.v, epoch_us(g.hr) AS t "
   "FROM grid g LEFT JOIN hourly h USING (hr)), "
   "w AS (SELECT hr, v, t, "
   "last_value(v IGNORE NULLS) OVER (ORDER BY hr ROWS BETWEEN UNBOUNDED "
   "PRECEDING AND CURRENT ROW) AS pv, "
   "last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER "
   "(ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt, "
   "first_value(v IGNORE NULLS) OVER (ORDER BY hr ROWS BETWEEN CURRENT "
   "ROW AND UNBOUNDED FOLLOWING) AS nv, "
   "first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER "
   "(ORDER BY hr ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt "
   "FROM j) "
   "SELECT hr, (v IS NULL) AS filled, "
   "CASE WHEN v IS NOT NULL THEN v "
   "WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv "
   "ELSE pv + CAST(floor(CAST(nv - pv AS DOUBLE) "
   "* (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)) + 0.5) "
   "AS BIGINT) END AS v_interp FROM w")
def events_interpolate_linear(spark, sf):
    """Linear-interpolation gap fill — the time-series resample family's
    third member (zero-fill `events_resample_gapfill`, carry-forward
    `events_locf_purchase`, now straight-line): hourly purchase-value
    totals on a dense hour grid, empty buckets interpolated between the
    nearest known neighbors (edges clamp to the nearest observation).
    Values quantize to micro per ROW before the hourly integer sums, so
    the interpolation arithmetic is integer-anchored; the one IEEE
    multiply-divide per filled bucket is mirrored subexpression-for-
    subexpression in the twin. The IGNORE-NULLS windows run over the
    bucketed rollup — bounded by the time range, never the event count —
    so the single-partition window is a non-issue at any data scale."""
    from pyspark.sql import Window
    from mura_spark.functions.quantize import micro
    ev = table(spark, sf, "events").where(F.col("event_type") == "purchase")
    hourly = (ev.groupBy(F.date_trunc("hour", "ts").alias("hr"))
                .agg(F.sum(micro(F.col("value"))).cast("bigint")
                      .alias("v")))
    bounds = hourly.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    grid = bounds.select(F.explode(
        F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hr"))
    j = (grid.join(hourly, "hr", "left")
             .withColumn("t", F.unix_micros("hr")))
    wp = Window.orderBy("hr").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.orderBy("hr").rowsBetween(0, Window.unboundedFollowing)
    known_t = F.when(F.col("v").isNotNull(), F.col("t"))
    pv = F.last("v", ignorenulls=True).over(wp)
    pt = F.last(known_t, ignorenulls=True).over(wp)
    nv = F.first("v", ignorenulls=True).over(wn)
    nt = F.first(known_t, ignorenulls=True).over(wn)
    frac = ((F.col("t") - pt).cast("double")
            / (nt - pt).cast("double"))
    interp = (F.when(F.col("v").isNotNull(), F.col("v"))
               .when(pv.isNull(), nv)
               .when(nv.isNull(), pv)
               .otherwise(pv + F.floor((nv - pv).cast("double") * frac
                                       + F.lit(0.5)).cast("bigint")))
    return j.select("hr", F.col("v").isNull().alias("filled"),
                    interp.alias("v_interp"))


@q("events_trending_topk",
   "WITH d AS (SELECT time_bucket(INTERVAL 1 DAY, ts) AS day, "
   "event_type, COUNT(*) AS n FROM events GROUP BY 1, 2), "
   "l AS (SELECT day, event_type, n, lag(n) OVER (PARTITION BY "
   "event_type ORDER BY day) AS prev_n FROM d), "
   "g AS (SELECT day, event_type, n, prev_n, "
   "CAST(floor((CAST(n AS DOUBLE) - prev_n) / prev_n * 1000000.0 "
   "+ 0.5) AS BIGINT) AS growth_micro FROM l "
   "WHERE prev_n IS NOT NULL AND prev_n > 0), "
   "r AS (SELECT day, event_type, n, prev_n, growth_micro, "
   "row_number() OVER (PARTITION BY day ORDER BY growth_micro DESC, "
   "event_type ASC NULLS FIRST) AS rk FROM g) "
   "SELECT day, event_type, n, prev_n, growth_micro, rk FROM r "
   "WHERE rk <= 3")
def events_trending_topk(spark, sf):
    """Trending event types: top-3 per day by day-over-day count growth
    (prev = the previous OBSERVED day for that type; a type's first day
    has no baseline and is excluded). Both windows — the per-type lag
    and the per-day growth rank — run over the daily rollup, whose size
    is bounded by days × types, never the event count; the rank is a
    WindowGroupLimit (top-3 pre-reduced per partition). Growth is one
    IEEE divide of exact counts, micro-quantized per row; (growth,
    type) is a total order so the top-3 set is deterministic."""
    from pyspark.sql import Window
    from mura_spark.functions.quantize import micro
    ev = table(spark, sf, "events")
    d = (ev.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
           .agg(F.count(F.lit(1)).alias("n")))
    wl = Window.partitionBy("event_type").orderBy("day")
    l = d.withColumn("prev_n", F.lag("n").over(wl))
    g = (l.where(F.col("prev_n").isNotNull() & (F.col("prev_n") > 0))
          .withColumn("growth_micro",
                      micro((F.col("n").cast("double") - F.col("prev_n"))
                            / F.col("prev_n"))))
    wr = (Window.partitionBy("day")
                .orderBy(F.col("growth_micro").desc(),
                         F.col("event_type").asc()))
    return (g.withColumn("rk", F.row_number().over(wr))
             .where(F.col("rk") <= 3)
             .select("day", "event_type", "n", "prev_n",
                     "growth_micro", "rk"))


@q("events_pattern_regex",
   "WITH s AS (SELECT user_id, string_agg(CASE event_type "
   "WHEN 'view' THEN 'v' WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p' "
   "WHEN 'signup' THEN 's' ELSE 'e' END, '' "
   "ORDER BY ts, event_id) AS seq FROM events GROUP BY user_id) "
   "SELECT user_id, length(seq) AS n_events, "
   "len(regexp_extract_all(seq, 'vp')) AS n_view_then_buy, "
   "len(regexp_extract_all(seq, 'sp')) AS n_signup_then_buy, "
   "COALESCE(list_max(list_transform(regexp_extract_all(seq, 'v+'), "
   "x -> length(x))), 0) AS max_view_streak "
   "FROM s")
def events_pattern_regex(spark, sf):
    """Complex-event pattern matching, MATCH_RECOGNIZE-style but
    relational: each user's history becomes an ordered one-symbol-per-
    event string ((ts, event_id) total order), and behavioral patterns
    are regexes over it — adjacent view→purchase and signup→purchase
    conversions (non-overlapping global matches) and the longest
    uninterrupted view streak. Complements the stage-based funnel
    (`events_funnel`) and the first-order Markov matrix
    (`events_markov_transitions`): regexes express adjacency and
    repetition those can't. One user-key shuffle; per-user state is the
    user's own history (the sessionize bound); the regex scan is JVM-
    side, linear in the sequence."""
    from pyspark.sql import Window
    ev = table(spark, sf, "events")
    sym = (F.when(F.col("event_type") == "view", "v")
            .when(F.col("event_type") == "click", "c")
            .when(F.col("event_type") == "purchase", "p")
            .when(F.col("event_type") == "signup", "s")
            .otherwise("e"))
    s = (ev.select("user_id", F.struct("ts", "event_id",
                                       sym.alias("sym")).alias("z"))
           .groupBy("user_id")
           .agg(F.array_join(
               F.transform(F.array_sort(F.collect_list("z")),
                           lambda x: x.sym), "").alias("seq")))
    streaks = F.transform(F.regexp_extract_all("seq", F.lit("v+"), 0),
                          lambda x: F.length(x))
    return s.select(
        "user_id", F.length("seq").alias("n_events"),
        F.size(F.regexp_extract_all("seq", F.lit("vp"), 0))
         .alias("n_view_then_buy"),
        F.size(F.regexp_extract_all("seq", F.lit("sp"), 0))
         .alias("n_signup_then_buy"),
        F.coalesce(F.array_max(streaks), F.lit(0))
         .alias("max_view_streak"))


@q("events_conversion_pairs",
   "WITH d AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us, "
   "MAX(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) OVER "
   "(PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED "
   "PRECEDING AND 1 PRECEDING) AS lv FROM events) "
   "SELECT user_id, event_id AS purchase_event_id, "
   "CAST(us - lv AS BIGINT) AS latency_us FROM d "
   "WHERE event_type = 'purchase' AND lv IS NOT NULL "
   "AND us - lv <= 3600000000")
def events_conversion_pairs(spark, sf):
    """View→purchase conversion pairs within one hour (most recent
    strictly-preceding view per user, exact µs latency) — the BATCH twin
    of the streaming CEP operator, routed through
    streaming.stateful.conversion_detector_batch so a regression in the
    shared matching contract breaks a driver correctness row, not just
    the stream pytest. One user-key window over the raw events; integer
    µs arithmetic end-to-end."""
    from mura_spark.streaming.stateful import conversion_detector_batch
    return conversion_detector_batch(table(spark, sf, "events"))


@q("events_count_distinct_rollup",
   "SELECT time_bucket(INTERVAL 1 DAY, ts) AS day, COUNT(*) AS n_events, "
   "COUNT(DISTINCT user_id) AS n_users, "
   "CAST(grouping(time_bucket(INTERVAL 1 DAY, ts)) AS INT) AS gid "
   "FROM events GROUP BY ROLLUP(time_bucket(INTERVAL 1 DAY, ts))")
def events_count_distinct_rollup(spark, sf):
    """Exact COUNT(DISTINCT) under ROLLUP — the interaction of the
    Expand operator (each row contributes to its day AND the grand
    total) with the two-phase distinct rewrite: the plan first
    aggregates on (grouping-set, day, user) to dedup, THEN counts —
    distinct state never concentrates on one task, which is what makes
    exact daily-uniques-plus-total viable at 100 TB (the mergeable-
    sketch alternative is agg_bitmap_distinct / sketch_distinct_users).
    grouping() disambiguates the total row from a NULL day."""
    return spark.sql(
        "SELECT date_trunc('day', ts) AS day, COUNT(*) AS n_events, "
        "COUNT(DISTINCT user_id) AS n_users, "
        "CAST(grouping(date_trunc('day', ts)) AS INT) AS gid "
        "FROM {ev} GROUP BY ROLLUP(date_trunc('day', ts))",
        ev=table(spark, sf, "events"))


# ------------------------------------------------------- round-6q additions

@q("stats_cusum_shift",
   "WITH d AS (SELECT time_bucket(INTERVAL 1 DAY, ts) AS bucket, "
   "SUM(CAST(value AS DECIMAL(18,2))) AS tot FROM events GROUP BY 1), "
   "t AS (SELECT SUM(tot) AS T, CAST(COUNT(*) AS BIGINT) AS n FROM d), "
   "s AS (SELECT bucket, CAST(tot AS DOUBLE) AS total, "
   "CAST((n * SUM(tot) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) "
   "- ROW_NUMBER() OVER (ORDER BY bucket) * T) * 100 AS BIGINT) "
   "AS cusum_scaled FROM d CROSS JOIN t) "
   "SELECT bucket, total, cusum_scaled, "
   "(abs(cusum_scaled) = MAX(abs(cusum_scaled)) OVER ()) AS is_peak "
   "FROM s")
def stats_cusum_shift(spark, sf):
    """CUSUM level-shift detector over the daily event-value series —
    the change-point monitor a pipeline runs on its own throughput
    metrics. Division-free integer fixed-point (cusum × n_days × 100),
    so the walk is exact in both engines; the |max| day is flagged as
    the candidate change point (operators.anomaly.cusum_series)."""
    from mura_spark.operators.anomaly import cusum_series
    ev = table(spark, sf, "events")
    return cusum_series(ev.select(F.date_trunc("day", "ts").alias("bucket"),
                                  "value"), "bucket", "value")


@q("events_peak_concurrency",
   "WITH s AS (SELECT time_bucket(INTERVAL 1 DAY, ts) AS day, user_id, MIN(ts) AS st, "
   "MAX(ts) AS en FROM events GROUP BY 1, 2), "
   "sweep AS (SELECT day, st AS t, 1 AS d FROM s "
   "UNION ALL SELECT day, en AS t, -1 AS d FROM s), "
   "run AS (SELECT day, t, d, SUM(d) OVER (PARTITION BY day "
   "ORDER BY t ASC, d DESC ROWS UNBOUNDED PRECEDING) AS r FROM sweep), "
   "pk AS (SELECT day, t, d, r, MAX(r) OVER (PARTITION BY day) AS p "
   "FROM run) "
   "SELECT day, CAST(COUNT(*) / 2.0 AS BIGINT) AS n_sessions, "
   "CAST(MAX(r) AS BIGINT) AS peak_concurrent, "
   "MIN(CASE WHEN r = p AND d = 1 THEN t END) AS peak_at "
   "FROM pk GROUP BY day")
def events_peak_concurrency(spark, sf):
    """Peak simultaneous active users per day via the relational
    sweep-line: each user's daily [first,last] event span becomes a
    +1/−1 marker pair, a day-partitioned running sum walks the
    concurrency, and its max is the peak (first reached at peak_at).
    The capacity-planning twin of events_sessionize
    (operators.intervals.peak_concurrency)."""
    from mura_spark.operators.intervals import peak_concurrency
    ev = table(spark, sf, "events")
    spans = (ev.groupBy(F.date_trunc("day", "ts").alias("day"), "user_id")
               .agg(F.min("ts").alias("st"), F.max("ts").alias("en")))
    return peak_concurrency(spans, "day", "st", "en")


# ------------------------------------------------------- round-6s additions

@q("stats_theil_sen_daily",
   "WITH d AS (SELECT CAST(ts AS DATE) AS day, "
   "CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents "
   "FROM events GROUP BY 1), "
   "ix AS (SELECT CAST(day - DATE '2024-01-01' AS BIGINT) AS x, cents "
   "FROM d), "
   "p AS (SELECT CAST(b.cents - a.cents AS DOUBLE) "
   "/ CAST(b.x - a.x AS DOUBLE) AS s FROM ix a JOIN ix b ON b.x > a.x), "
   "r AS (SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS rn, "
   "COUNT(*) OVER () AS m FROM p), "
   "med AS (SELECT SUM(s) / COUNT(*) AS slope, MAX(m) AS n_pairs FROM r "
   "WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1) "
   "SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ix) AS n_points, "
   "CAST(n_pairs AS BIGINT) AS n_pairs, slope FROM med")
def stats_theil_sen_daily(spark, sf):
    """Theil-Sen robust slope of the daily event-value series (cents/
    day) — the trend estimate a single anomalous day cannot move,
    median of all pairwise slopes over the calendar-bounded daily
    aggregate (operators.stats.theil_sen_slope). The robust twin of
    stats_ols_value_by_hour."""
    from mura_spark.operators.stats import theil_sen_slope
    ev = table(spark, sf, "events")
    daily = (ev.groupBy(F.to_date("ts").alias("day"))
               .agg((F.sum(F.col("value").cast("decimal(18,2)")) * 100)
                    .cast("bigint").alias("cents")))
    pts = daily.select(
        F.datediff(F.col("day"), F.to_date(F.lit("2024-01-01")))
         .alias("x"), "cents")
    return theil_sen_slope(pts, "x", "cents")


@q("events_seasonal_naive_mae",
   "WITH d AS (SELECT CAST(ts AS DATE) AS day, "
   "CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents "
   "FROM events GROUP BY 1), "
   "lagged AS (SELECT a.cents, b7.cents AS l7, b1.cents AS l1 "
   "FROM d a LEFT JOIN d b7 ON b7.day = a.day - 7 "
   "LEFT JOIN d b1 ON b1.day = a.day - 1) "
   "SELECT CAST(COUNT(*) AS BIGINT) AS n_scored, "
   "CAST(SUM(abs(cents - l7)) AS DOUBLE) / COUNT(*) AS mae7_cents, "
   "CAST(SUM(abs(cents - l1)) AS DOUBLE) / COUNT(*) AS mae1_cents, "
   "(CAST(SUM(abs(cents - l7)) AS DOUBLE) / COUNT(*) "
   "< CAST(SUM(abs(cents - l1)) AS DOUBLE) / COUNT(*)) AS seasonal_wins "
   "FROM lagged WHERE l7 IS NOT NULL AND l1 IS NOT NULL")
def events_seasonal_naive_mae(spark, sf):
    """Forecast-baseline backtest over the daily value series: MAE of
    the seasonal-naive forecast (value 7 CALENDAR days ago) vs the
    plain naive (the previous calendar day), scored on the days where
    both baselines exist — the sanity gate before any real forecasting
    model ships. The baselines join on the calendar date, not a
    row-offset LAG: one missing day would slide a row-lag onto the
    wrong weekday for every later row, and the 'seasonal' MAE would
    stop measuring seasonality. Integer cents throughout."""
    ev = table(spark, sf, "events")
    daily = (ev.groupBy(F.to_date("ts").alias("day"))
               .agg((F.sum(F.col("value").cast("decimal(18,2)")) * 100)
                    .cast("bigint").alias("cents")))
    a = daily.select(F.col("day"), F.col("cents"))
    b7 = daily.select(F.col("day").alias("d7"),
                      F.col("cents").alias("l7"))
    b1 = daily.select(F.col("day").alias("d1"),
                      F.col("cents").alias("l1"))
    lagged = (a.join(b7, F.date_sub(F.col("day"), 7) == F.col("d7"),
                     "left")
               .join(b1, F.date_sub(F.col("day"), 1) == F.col("d1"),
                     "left"))
    sc = lagged.filter(F.col("l7").isNotNull()
                       & F.col("l1").isNotNull())
    mae7 = (F.sum(F.abs(F.col("cents") - F.col("l7"))).cast("double")
            / F.count(F.lit(1)))
    mae1 = (F.sum(F.abs(F.col("cents") - F.col("l1"))).cast("double")
            / F.count(F.lit(1)))
    return sc.agg(F.count(F.lit(1)).alias("n_scored"),
                  mae7.alias("mae7_cents"), mae1.alias("mae1_cents"),
                  (mae7 < mae1).alias("seasonal_wins"))


@q("events_user_type_entropy",
   "WITH c AS (SELECT user_id, event_type, COUNT(*) AS c FROM events "
   "GROUP BY 1, 2), "
   "w AS (SELECT user_id, c, SUM(c) OVER (PARTITION BY user_id) AS n, "
   "COUNT(*) OVER (PARTITION BY user_id) AS k FROM c), "
   "t AS (SELECT user_id, n, k, CAST(floor(-(CAST(c AS DOUBLE) "
   "/ CAST(n AS DOUBLE)) * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) "
   "* 1000000.0 + 0.5) AS BIGINT) AS tm FROM w) "
   "SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_rows, "
   "CAST(MAX(k) AS BIGINT) AS n_cats, "
   "CAST(SUM(tm) AS BIGINT) AS entropy_micro FROM t GROUP BY 1")
def events_user_type_entropy(spark, sf):
    """Per-user behavioral diversity: Shannon entropy of each user's
    event-type mix in micro-nats — single-behavior users (bots,
    scrapers) score 0, uniform explorers score ln 5; the per-group
    sibling of the corpus Simpson diversity (operators.stats
    .group_entropy)."""
    from mura_spark.operators.stats import group_entropy
    ev = table(spark, sf, "events")
    return group_entropy(ev, ["user_id"], "event_type")


# ------------------------------------------------------- round-6cc additions

@q("stats_wilson_error_rate",
   "WITH d AS (SELECT time_bucket(INTERVAL 1 DAY, ts) AS day, "
   "CAST(COUNT(*) AS BIGINT) AS n, "
   "CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) "
   "AS BIGINT) AS e FROM events GROUP BY 1) "
   "SELECT day, n, e, "
   "CAST(floor(((CAST(e AS DOUBLE) / CAST(n AS DOUBLE) "
   "+ (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE)) "
   "- 1.96 * sqrt((CAST(e AS DOUBLE) / CAST(n AS DOUBLE)) "
   "* (1.0 - CAST(e AS DOUBLE) / CAST(n AS DOUBLE)) "
   "/ CAST(n AS DOUBLE) + (1.96 * 1.96) "
   "/ (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))) "
   "/ (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE))) * 1000000.0 + 0.5) "
   "AS BIGINT) AS lo_micro, "
   "CAST(floor(((CAST(e AS DOUBLE) / CAST(n AS DOUBLE) "
   "+ (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE)) "
   "+ 1.96 * sqrt((CAST(e AS DOUBLE) / CAST(n AS DOUBLE)) "
   "* (1.0 - CAST(e AS DOUBLE) / CAST(n AS DOUBLE)) "
   "/ CAST(n AS DOUBLE) + (1.96 * 1.96) "
   "/ (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))) "
   "/ (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE))) * 1000000.0 + 0.5) "
   "AS BIGINT) AS hi_micro FROM d")
def stats_wilson_error_rate(spark, sf):
    """Daily error-rate with a Wilson 95% score interval — the
    proportion CI that behaves at small n and p near 0 (unlike the
    Wald interval every naive dashboard ships). Closed-form sqrt is
    IEEE-correctly-rounded, so the bounds are deterministic; the
    expression tree is mirrored term-for-term in the oracle."""
    ev = table(spark, sf, "events")
    d = (ev.groupBy(F.date_trunc("day", "ts").alias("day"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("event_type") == "error", 1)
                       .otherwise(0)).alias("e")))
    nD = F.col("n").cast("double")
    p = F.col("e").cast("double") / nD
    z2 = F.lit(1.96) * F.lit(1.96)
    center = p + z2 / (F.lit(2.0) * nD)
    half = F.lit(1.96) * F.sqrt(
        p * (F.lit(1.0) - p) / nD
        + z2 / (F.lit(4.0) * nD * nD))
    denom = F.lit(1.0) + z2 / nD
    mk = lambda c: (F.floor(c * F.lit(1000000.0) + F.lit(0.5))  # noqa: E731
                    .cast("bigint"))
    return d.select("day", "n", "e",
                    mk((center - half) / denom).alias("lo_micro"),
                    mk((center + half) / denom).alias("hi_micro"))


@q("events_sequence_entropy_rate",
   "WITH t AS (SELECT lag(event_type) OVER "
   "(PARTITION BY user_id ORDER BY ts, event_id) AS src_type, "
   "event_type AS dst_type FROM events), "
   "c AS (SELECT src_type, dst_type, COUNT(*) AS cij FROM t "
   "WHERE src_type IS NOT NULL GROUP BY 1, 2), "
   "r AS (SELECT src_type, dst_type, cij, "
   "SUM(cij) OVER (PARTITION BY src_type) AS ci, "
   "SUM(cij) OVER () AS nn FROM c), "
   "q AS (SELECT nn, CAST(floor(-(CAST(cij AS DOUBLE) "
   "/ CAST(nn AS DOUBLE)) * ln(CAST(cij AS DOUBLE) "
   "/ CAST(ci AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS tm, "
   "src_type FROM r) "
   "SELECT CAST(MAX(nn) AS BIGINT) AS n_transitions, "
   "CAST(COUNT(DISTINCT src_type) AS BIGINT) AS n_states, "
   "CAST(SUM(tm) AS BIGINT) AS entropy_rate_micro FROM q")
def events_sequence_entropy_rate(spark, sf):
    """Entropy RATE of the user event process, H(next|current) =
    −Σ (c_ij/N)·ln(c_ij/c_i) in micro-nats — how predictable the next
    action is given the current one; the conditional complement of
    events_user_type_entropy and the scalar health of the
    events_markov_transitions matrix. Per-pair ln terms quantized
    before the sum; everything rides on the reduced transition cells."""
    from pyspark.sql import Window
    ev = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(F.lag("event_type").over(w).alias("src_type"),
                  F.col("event_type").alias("dst_type"))
    c = (t.filter(F.col("src_type").isNotNull())
          .groupBy("src_type", "dst_type")
          .agg(F.count(F.lit(1)).alias("cij")))
    r = c.select(
        "src_type", "cij",
        F.sum("cij").over(Window.partitionBy("src_type")).alias("ci"),
        F.sum("cij").over(Window.partitionBy()).alias("nn"))
    term = F.floor(
        -(F.col("cij").cast("double") / F.col("nn").cast("double"))
        * F.log(F.col("cij").cast("double") / F.col("ci").cast("double"))
        * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
    q_ = r.select("nn", "src_type", term.alias("tm"))
    return q_.agg(F.max("nn").alias("n_transitions"),
                  F.count_distinct("src_type").alias("n_states"),
                  F.sum("tm").alias("entropy_rate_micro"))


@q("events_survival_km",
   "WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS mxd FROM events), "
   "u AS (SELECT user_id, "
   "CAST(MAX(CAST(ts AS DATE)) - MIN(CAST(ts AS DATE)) AS BIGINT) "
   "AS dur, CASE WHEN MAX(CAST(ts AS DATE)) >= (SELECT mxd FROM mx) "
   "- 3 THEN 0 ELSE 1 END AS ev FROM events GROUP BY 1), "
   "tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u), "
   "g AS (SELECT dur, CAST(SUM(ev) AS BIGINT) AS d, "
   "CAST(SUM(1 - ev) AS BIGINT) AS c FROM u GROUP BY 1), "
   "r AS (SELECT dur, d, c, n - coalesce(SUM(d + c) OVER (ORDER BY dur "
   "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk "
   "FROM g CROSS JOIN tot), "
   "s AS (SELECT dur, d, c, CAST(n_risk AS BIGINT) AS n_risk, "
   "CAST(floor(ln(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)) "
   "* 1000000.0 + 0.5) AS BIGINT) AS term FROM r WHERE d < n_risk) "
   "SELECT dur AS t_days, n_risk, d AS n_deaths, c AS n_censored, "
   "CAST(SUM(term) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) "
   "AS BIGINT) AS km_ln_micro FROM s")
def events_survival_km(spark, sf):
    """Kaplan-Meier product-limit survival of user lifetimes (first→
    last event day), right-censoring users still active in the final
    3 days — the churn curve with the estimator every retention team
    uses. Reported in ln-domain (cumulative Σ ln(1−d/n), per-step ln
    micro-quantized then integer-summed) so no cross-engine exp ulp
    ever enters; steps where the whole risk set dies are excluded
    (S→0, ln −∞)."""
    from pyspark.sql import Window
    ev = table(spark, sf, "events")
    per = (ev.groupBy("user_id")
             .agg(F.min(F.to_date("ts")).alias("__f"),
                  F.max(F.to_date("ts")).alias("__l")))
    mx = per.agg(F.max("__l").alias("__mx"))
    u = (per.crossJoin(F.broadcast(mx))
            .select(F.datediff("__l", "__f").cast("bigint").alias("dur"),
                    F.when(F.col("__l") >= F.date_sub("__mx", 3), 0)
                     .otherwise(1).alias("ev")))
    tot = u.agg(F.count(F.lit(1)).alias("__n"))
    g = (u.groupBy("dur")
          .agg(F.sum("ev").alias("d"),
               F.sum(F.lit(1) - F.col("ev")).alias("c")))
    before = (Window.orderBy("dur")
                    .rowsBetween(Window.unboundedPreceding, -1))
    r = (g.crossJoin(F.broadcast(tot))
          .select("dur", "d", "c",
                  (F.col("__n") - F.coalesce(
                      F.sum(F.col("d") + F.col("c")).over(before),
                      F.lit(0))).alias("n_risk")))
    term = F.floor(
        F.log(F.lit(1.0) - F.col("d").cast("double")
              / F.col("n_risk").cast("double")) * F.lit(1000000.0)
        + F.lit(0.5)).cast("bigint")
    s = (r.filter(F.col("d") < F.col("n_risk"))
          .select("dur", "d", "c",
                  F.col("n_risk").cast("bigint").alias("n_risk"),
                  term.alias("__term")))
    kw = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    return s.select(F.col("dur").alias("t_days"), "n_risk",
                    F.col("d").alias("n_deaths"),
                    F.col("c").alias("n_censored"),
                    F.sum("__term").over(kw).cast("bigint")
                     .alias("km_ln_micro"))


# ------------------------------------------------------- round-6ii additions

@q("events_debounce",
   "WITH t AS (SELECT event_type, value, "
   "(lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, "
   "event_id) IS NULL OR CAST(floor(epoch(ts)) AS BIGINT) "
   "- CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id, event_type "
   "ORDER BY ts, event_id))) AS BIGINT) > 5) AS keep FROM events) "
   "SELECT event_type, "
   "CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, "
   "CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) "
   "AS n_debounced, "
   f"{sql_dsum('CASE WHEN keep THEN value END')} AS kept_value "
   "FROM t GROUP BY event_type")
def events_debounce(spark, sf):
    """Debounce rapid repeats: drop events of the same (user, type)
    arriving ≤ 5s after the previous one — the double-click /
    retry-storm filter every clickstream ingest applies before
    aggregation (the id-level twin is events_dedup_replay, which
    drops EXACT redeliveries; debouncing drops DISTINCT events that
    are semantically repeats). One (user, type) window; integer
    epoch-second gaps. Kept and debounced counts come from one
    conditional rollup over the flagged rows — no kept-vs-total
    self-join (an inner join on event_type would also silently drop
    a NULL type group: NULL keys never equi-match)."""
    from pyspark.sql import Window
    ev = table(spark, sf, "events")
    w = (Window.partitionBy("user_id", "event_type")
               .orderBy("ts", "event_id"))
    prev = F.lag("ts").over(w)
    gap = (F.floor(F.unix_timestamp("ts"))
           - F.floor(F.unix_timestamp(prev)))
    keep = prev.isNull() | (gap > 5)
    t = ev.select("event_type", "value", keep.alias("__keep"))
    return (t.groupBy("event_type")
             .agg(F.sum(F.when(F.col("__keep"), 1).otherwise(0))
                   .alias("n_kept"),
                  F.sum(F.when(F.col("__keep"), 0).otherwise(1))
                   .alias("n_debounced"),
                  dsum(F.when(F.col("__keep"), F.col("value")))
                   .alias("kept_value")))


@q("feature_trailing_windows",
   "WITH mx AS (SELECT MAX(ts) AS cutoff FROM events) "
   "SELECT user_id, "
   "CAST(SUM(CASE WHEN ts > cutoff - INTERVAL 1 DAY THEN 1 ELSE 0 END) "
   "AS BIGINT) AS n_1d, "
   "CAST(coalesce(SUM(CASE WHEN ts > cutoff - INTERVAL 1 DAY THEN "
   "CAST(value AS DECIMAL(18,2)) END) * 100, 0) AS BIGINT) AS v_1d_cents, "
   "CAST(SUM(CASE WHEN ts > cutoff - INTERVAL 7 DAY THEN 1 ELSE 0 END) "
   "AS BIGINT) AS n_7d, "
   "CAST(coalesce(SUM(CASE WHEN ts > cutoff - INTERVAL 7 DAY THEN "
   "CAST(value AS DECIMAL(18,2)) END) * 100, 0) AS BIGINT) AS v_7d_cents, "
   "CAST(SUM(CASE WHEN ts > cutoff - INTERVAL 30 DAY THEN 1 ELSE 0 END) "
   "AS BIGINT) AS n_30d, "
   "CAST(floor(epoch(MAX(cutoff))) - floor(epoch(MAX(ts))) AS BIGINT) "
   "AS secs_since_last "
   "FROM events CROSS JOIN mx GROUP BY user_id")
def feature_trailing_windows(spark, sf):
    """Feature-store snapshot as-of the corpus cutoff: per-user
    trailing 1d/7d/30d activity counts and exact-decimal spend plus
    recency — the point-in-time feature matrix a training job joins
    against labels (leakage-safe sibling of events_asof_join's
    row-level PIT lookup). Pure conditional aggregation — one user
    shuffle, no window functions, no per-window self-joins."""
    ev = table(spark, sf, "events")
    mx = ev.agg(F.max("ts").alias("cutoff"))
    dec = F.col("value").cast("decimal(18,2)")
    win = lambda d: F.col("ts") > F.col("cutoff") - F.expr(  # noqa: E731
        f"INTERVAL {d} DAY")
    vsum = lambda d: (F.coalesce(  # noqa: E731
        F.sum(F.when(win(d), dec)) * 100,
        F.lit(0)).cast("bigint"))
    return (ev.crossJoin(F.broadcast(mx))
              .groupBy("user_id")
              .agg(F.sum(F.when(win(1), 1).otherwise(0)).alias("n_1d"),
                   vsum(1).alias("v_1d_cents"),
                   F.sum(F.when(win(7), 1).otherwise(0)).alias("n_7d"),
                   vsum(7).alias("v_7d_cents"),
                   F.sum(F.when(win(30), 1).otherwise(0)).alias("n_30d"),
                   (F.floor(F.unix_timestamp(F.max("cutoff")))
                    - F.floor(F.unix_timestamp(F.max("ts"))))
                    .cast("bigint").alias("secs_since_last")))


@q("events_velocity_screen",
   "WITH t AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es "
   "FROM events), "
   "w AS (SELECT user_id, CAST(COUNT(*) OVER (PARTITION BY user_id "
   "ORDER BY es RANGE BETWEEN 60 PRECEDING AND CURRENT ROW) AS BIGINT) "
   "AS r60 FROM t) "
   "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events, "
   "CAST(MAX(r60) AS BIGINT) AS peak_60s FROM w GROUP BY 1 "
   "HAVING MAX(r60) >= 2")
def events_velocity_screen(spark, sf):
    """Velocity rule: users who ever fired ≥ 2 events inside a sliding
    60-second window — the rate-based bot/fraud screen (the numeric
    RANGE frame counts each event's trailing minute; the complementary
    volume screen is events_bot_screen). One user-keyed range window
    on integer epoch seconds."""
    from pyspark.sql import Window
    ev = table(spark, sf, "events")
    t = ev.select("user_id",
                  F.floor(F.unix_timestamp("ts")).alias("es"))
    w = (Window.partitionBy("user_id").orderBy("es")
               .rangeBetween(-60, 0))
    r = t.select("user_id", F.count(F.lit(1)).over(w).alias("r60"))
    return (r.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.max("r60").alias("peak_60s"))
             .filter(F.col("peak_60s") >= 2))


@q("events_error_budget_burn",
   "WITH d AS (SELECT time_bucket(INTERVAL 1 DAY, ts) AS day, "
   "CAST(COUNT(*) AS BIGINT) AS n, "
   "CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) "
   "AS BIGINT) AS e FROM events GROUP BY 1), "
   "ix AS (SELECT day, n, e, CAST(floor(epoch(day)) AS BIGINT) "
   "// 86400 AS di FROM d), "
   "r AS (SELECT day, n, e, "
   "CAST(SUM(n) OVER (ORDER BY di RANGE BETWEEN 6 PRECEDING AND "
   "CURRENT ROW) AS BIGINT) AS n7, "
   "CAST(SUM(e) OVER (ORDER BY di RANGE BETWEEN 6 PRECEDING AND "
   "CURRENT ROW) AS BIGINT) AS e7 FROM ix) "
   "SELECT day, n, e, "
   "CAST(floor((CAST(e AS DOUBLE) / CAST(n AS DOUBLE)) / 0.25 "
   "* 1000000.0 + 0.5) AS BIGINT) AS burn_1d_micro, "
   "CAST(floor((CAST(e7 AS DOUBLE) / CAST(n7 AS DOUBLE)) / 0.25 "
   "* 1000000.0 + 0.5) AS BIGINT) AS burn_7d_micro, "
   "(CAST(floor((CAST(e AS DOUBLE) / CAST(n AS DOUBLE)) / 0.25 "
   "* 1000000.0 + 0.5) AS BIGINT) > 1000000 AND "
   "CAST(floor((CAST(e7 AS DOUBLE) / CAST(n7 AS DOUBLE)) / 0.25 "
   "* 1000000.0 + 0.5) AS BIGINT) > 1000000) AS alert "
   "FROM r")
def events_error_budget_burn(spark, sf):
    """SRE error-budget burn-rate monitor (75% SLO on non-error
    events): per-day burn = error_rate / budget, paired with the
    trailing-7-day burn, alerting only when BOTH exceed 1 — the
    standard multiwindow rule that suppresses one-day blips while
    catching sustained burns. Day-grain numeric RANGE window over the
    calendar-bounded daily rollup; alert computed on the quantized
    values so the boolean is deterministic."""
    from pyspark.sql import Window
    ev = table(spark, sf, "events")
    d = (ev.groupBy(F.date_trunc("day", "ts").alias("day"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("event_type") == "error", 1)
                       .otherwise(0)).alias("e")))
    # day is a UTC midnight, so epoch-seconds divide 86400 exactly
    di = (F.col("day").cast("long") / F.lit(86400)).cast("bigint")
    w = Window.orderBy("di").rangeBetween(-6, 0)
    r = (d.select("day", "n", "e", di.alias("di"))
          .select("day", "n", "e",
                  F.sum("n").over(w).alias("n7"),
                  F.sum("e").over(w).alias("e7")))
    mk = lambda e, n: F.floor(  # noqa: E731
        (e.cast("double") / n.cast("double")) / F.lit(0.25)
        * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
    b1 = mk(F.col("e"), F.col("n"))
    b7 = mk(F.col("e7"), F.col("n7"))
    return r.select("day", "n", "e", b1.alias("burn_1d_micro"),
                    b7.alias("burn_7d_micro"),
                    ((b1 > 1000000) & (b7 > 1000000)).alias("alert"))


# ------------------------------------------------------- round-6oo addition

#: Shared Holt recursion text — α=β=1/2 makes every update an integer
#: floor-halving, so the recursion is pure fixed-point arithmetic.
_HOLT_SQL = (
    "WITH RECURSIVE "
    "holt(i, l, b) AS ("
    "SELECT CAST(0 AS BIGINT), "
    "(SELECT y FROM {daily} WHERE i = 0), "
    "(SELECT y FROM {daily} WHERE i = 1) "
    "- (SELECT y FROM {daily} WHERE i = 0) "
    "UNION ALL "
    "SELECT h.i + 1, "
    "CAST(floor((d.y + h.l + h.b) / 2.0) AS BIGINT), "
    "CAST(floor((CAST(floor((d.y + h.l + h.b) / 2.0) AS BIGINT) "
    "- h.l + h.b) / 2.0) AS BIGINT) "
    "FROM holt h JOIN {daily} d ON d.i = h.i + 1), "
    "fin AS (SELECT l, b FROM holt "
    "WHERE i = (SELECT MAX(i) FROM holt)) "
    "SELECT CAST(k AS INT) AS horizon, "
    "CAST(l + k * b AS BIGINT) AS forecast_cents "
    "FROM fin CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) "
    "AS k) ks")

_HOLT_DAILY = (
    "(SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) - 1 AS BIGINT) "
    "AS i, y FROM (SELECT CAST(ts AS DATE) AS day, "
    "CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y "
    "FROM events GROUP BY 1))")


@q("events_holt_forecast",
   "WITH RECURSIVE daily AS MATERIALIZED " + _HOLT_DAILY + ", "
   + _HOLT_SQL.format(daily="daily").replace("WITH RECURSIVE ", "", 1))
def events_holt_forecast(spark, sf):
    """Holt double-exponential smoothing of the daily value series and
    its 0-7-day-ahead linear forecast, run as an ACTUAL recursive CTE
    walking the calendar: with α=β=½ every level/trend update is an
    integer floor-halving, so the whole recursion is exact fixed-point
    arithmetic identical in both engines. The daily series materializes
    ONCE before the walk (eager localCheckpoint / AS MATERIALIZED —
    the recursion-materialization trap); the per-step state is one row,
    so the recursion depth (≤ #days) is the only sequential cost."""
    ev = table(spark, sf, "events")
    from pyspark.sql import Window
    daily = (ev.groupBy(F.to_date("ts").alias("day"))
               .agg((F.sum(F.col("value").cast("decimal(18,2)")) * 100)
                    .cast("bigint").alias("y"))
               .select((F.row_number().over(Window.orderBy("day")) - 1)
                       .cast("bigint").alias("i"), "y")
               .localCheckpoint(eager=True))
    sql = _HOLT_SQL.format(daily="{daily}").replace(
        "(SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS k) ks",
        "(SELECT explode(array(0, 1, 2, 3, 4, 5, 6, 7)) AS k) ks")
    return spark.sql(sql, daily=daily)


@q("events_markov_baseline_acc",
   "WITH t AS (SELECT lag(event_type) OVER "
   "(PARTITION BY user_id ORDER BY ts, event_id) AS src_type, "
   "event_type AS dst_type FROM events), "
   "c AS (SELECT src_type, dst_type, COUNT(*) AS n FROM t "
   "WHERE src_type IS NOT NULL GROUP BY 1, 2), "
   "b AS (SELECT src_type, MAX(n) AS best, SUM(n) AS tot FROM c "
   "GROUP BY 1) "
   "SELECT CAST(SUM(tot) AS BIGINT) AS n_transitions, "
   "CAST(SUM(best) AS BIGINT) AS n_correct, "
   "CAST(floor(CAST(SUM(best) AS DOUBLE) / CAST(SUM(tot) AS DOUBLE) "
   "* 1000000.0 + 0.5) AS BIGINT) AS acc_micro FROM b")
def events_markov_baseline_acc(spark, sf):
    """Accuracy of the best possible first-order next-event predictor:
    always guess the modal successor of the current state — the
    baseline every sequence model must beat (its accuracy is
    Σ_i max_j c_ij / N, computed on the reduced transition cells).
    The evaluation scalar over events_markov_transitions' matrix."""
    from pyspark.sql import Window
    ev = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(F.lag("event_type").over(w).alias("src_type"),
                  F.col("event_type").alias("dst_type"))
    c = (t.filter(F.col("src_type").isNotNull())
          .groupBy("src_type", "dst_type")
          .agg(F.count(F.lit(1)).alias("n")))
    b = (c.groupBy("src_type")
          .agg(F.max("n").alias("best"), F.sum("n").alias("tot")))
    return b.agg(
        F.sum("tot").alias("n_transitions"),
        F.sum("best").alias("n_correct"),
        F.floor(F.sum("best").cast("double")
                / F.sum("tot").cast("double") * F.lit(1000000.0)
                + F.lit(0.5)).cast("bigint").alias("acc_micro"))


# ------------------------------------------------------- round-6rr addition

@q("events_twap_value",
   "WITH iv AS (SELECT user_id, "
   "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents, "
   "epoch_us(LEAD(ts) OVER (PARTITION BY user_id "
   "ORDER BY ts, event_id)) - epoch_us(ts) AS dur_us "
   "FROM events) "
   "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals, "
   "CAST(SUM(dur_us) AS BIGINT) AS total_dur_us, "
   "CAST(floor(CAST(SUM(CAST(cents AS DECIMAL(38,0)) * dur_us) "
   "AS DOUBLE) / CAST(SUM(dur_us) AS DOUBLE) * 10000.0 + 0.5) "
   "AS BIGINT) AS twap_micro "
   "FROM iv WHERE dur_us IS NOT NULL AND dur_us > 0 GROUP BY 1")
def events_twap_value(spark, sf):
    """Per-user time-weighted average value (TWAP): each event's value
    weighted by how long it remained the user's latest state — the
    duration-honest mean that plain AVG gets wrong whenever sampling is
    bursty (the same correction a market-data pipeline applies to
    quotes). One user-keyed window shuffle produces the LEAD duration;
    the groupBy reuses the same hash partitioning, so no second
    shuffle. Exact cents·µs products in DECIMAL(38,0); one terminal
    division per user, micro-floored."""
    ev = table(spark, sf, "events")
    from pyspark.sql import Window
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    iv = ev.select(
        "user_id", cents.alias("cents"),
        (F.unix_micros(F.lead("ts").over(wu))
         - F.unix_micros("ts")).alias("dur_us"))
    return (iv.filter(F.col("dur_us").isNotNull()
                      & (F.col("dur_us") > 0))
              .groupBy("user_id")
              .agg(F.count(F.lit(1)).alias("n_intervals"),
                   F.sum("dur_us").alias("total_dur_us"),
                   F.floor(F.sum(F.col("cents").cast("decimal(38,0)")
                                 * F.col("dur_us")).cast("double")
                           / F.sum("dur_us").cast("double")
                           * F.lit(10000.0) + F.lit(0.5))
                    .cast("bigint").alias("twap_micro")))


@q("events_xcorr_lag",
   "WITH e AS (SELECT event_type, "
   "epoch_us(date_trunc('day', ts)) // 86400000000 AS d FROM events), "
   "x AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS xv FROM e "
   "WHERE event_type = 'click' GROUP BY 1), "
   "y AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS yv FROM e "
   "WHERE event_type = 'purchase' GROUP BY 1), "
   "l AS (SELECT CAST(i AS INT) AS lag FROM range(-3, 4) t(i)), "
   "p AS (SELECT l.lag, x.xv, y.yv FROM l CROSS JOIN x "
   "JOIN y ON y.d = x.d + l.lag), "
   "m AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_days, "
   "CAST(SUM(CAST(xv AS DECIMAL(38,0))) AS DOUBLE) AS sx, "
   "CAST(SUM(CAST(yv AS DECIMAL(38,0))) AS DOUBLE) AS sy, "
   "CAST(SUM(CAST(xv AS DECIMAL(19,0)) * CAST(yv AS DECIMAL(19,0))) "
   "AS DOUBLE) AS sxy, "
   "CAST(SUM(CAST(xv AS DECIMAL(19,0)) * CAST(xv AS DECIMAL(19,0))) "
   "AS DOUBLE) AS sxx, "
   "CAST(SUM(CAST(yv AS DECIMAL(19,0)) * CAST(yv AS DECIMAL(19,0))) "
   "AS DOUBLE) AS syy FROM p GROUP BY 1) "
   "SELECT lag, n_days, "
   "CASE WHEN sqrt((CAST(n_days AS DOUBLE) * sxx - sx * sx) "
   "* (CAST(n_days AS DOUBLE) * syy - sy * sy)) > 0 THEN "
   "CAST(floor((CAST(n_days AS DOUBLE) * sxy - sx * sy) "
   "/ sqrt((CAST(n_days AS DOUBLE) * sxx - sx * sx) "
   "* (CAST(n_days AS DOUBLE) * syy - sy * sy)) * 1000000.0 + 0.5) "
   "AS BIGINT) END AS r_micro FROM m")
def events_xcorr_lag(spark, sf):
    """Lead–lag cross-correlation: Pearson r between the daily click
    series and the daily purchase series shifted by −3..+3 days — does
    click volume LEAD purchases (the marketing-mix / conversion-delay
    question)? Everything runs on the tiny reduced day grid: one
    event-type-pruned daily rollup (exact integer counts), a 7-lag
    broadcast grid, exact decimal moments, and the same one-division
    closed form as the Spearman/OLS family. Days present in both
    shifted series only (inner join)."""
    ev = table(spark, sf, "events")
    day = F.expr("unix_micros(date_trunc('DAY', ts)) div 86400000000")
    e = ev.select("event_type", day.alias("d"))
    x = (e.filter(F.col("event_type") == "click")
          .groupBy("d").agg(F.count(F.lit(1)).alias("xv")))
    yd = (e.filter(F.col("event_type") == "purchase")
           .groupBy("d").agg(F.count(F.lit(1)).alias("yv"))
           .select(F.col("d").alias("dy"), "yv"))
    lags = (ev.sparkSession.range(-3, 4)
              .select(F.col("id").cast("int").alias("lag")))
    p = (x.crossJoin(F.broadcast(lags))
          .join(yd, F.col("dy") == F.col("d") + F.col("lag")))
    dec19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    m = p.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("xv").cast("decimal(38,0)")).cast("double")
         .alias("sx"),
        F.sum(F.col("yv").cast("decimal(38,0)")).cast("double")
         .alias("sy"),
        F.sum(dec19("xv") * dec19("yv")).cast("double").alias("sxy"),
        F.sum(dec19("xv") * dec19("xv")).cast("double").alias("sxx"),
        F.sum(dec19("yv") * dec19("yv")).cast("double").alias("syy"))
    nd = F.col("n_days").cast("double")
    den = F.sqrt((nd * F.col("sxx") - F.col("sx") * F.col("sx"))
                 * (nd * F.col("syy") - F.col("sy") * F.col("sy")))
    r = F.floor((nd * F.col("sxy") - F.col("sx") * F.col("sy")) / den
                * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
    return m.select("lag", "n_days",
                    F.when(den > 0, r).alias("r_micro"))


_PSI_REF = "ts < TIMESTAMP '2024-01-08'"
_PSI_CMP = "ts >= TIMESTAMP '2024-01-22' AND ts < TIMESTAMP '2024-01-29'"


@q("events_psi_drift",
   "WITH er AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 "
   f"AS BIGINT) AS c FROM events WHERE {_PSI_REF} "
   "AND value IS NOT NULL), "
   "ec AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) "
   f"AS c FROM events WHERE {_PSI_CMP} AND value IS NOT NULL), "
   "cells AS (SELECT c, COUNT(*) AS k FROM er GROUP BY 1), "
   "nr AS (SELECT SUM(k) AS n FROM cells), "
   "cum AS (SELECT c, SUM(k) OVER (ORDER BY c) AS gc FROM cells), "
   "th AS (SELECT i, (SELECT MIN(c) FROM cum CROSS JOIN nr "
   "WHERE gc >= (i * n + 9) // 10) AS bv "
   "FROM range(1, 10) t(i)), "
   "tl AS (SELECT list(bv ORDER BY i) AS bl FROM th), "
   "rb AS (SELECT len(list_filter(bl, x -> c > x)) AS bin, "
   "COUNT(*) AS n_ref FROM er CROSS JOIN tl GROUP BY 1), "
   "cb AS (SELECT len(list_filter(bl, x -> c > x)) AS bin, "
   "COUNT(*) AS n_cmp FROM ec CROSS JOIN tl GROUP BY 1), "
   "m AS (SELECT COALESCE(rb.bin, cb.bin) AS bin, "
   "CAST(COALESCE(rb.n_ref, 0) AS BIGINT) AS n_ref, "
   "CAST(COALESCE(cb.n_cmp, 0) AS BIGINT) AS n_cmp "
   "FROM rb FULL JOIN cb ON rb.bin = cb.bin), "
   "t AS (SELECT CAST(SUM(n_ref) AS DOUBLE) AS tr, "
   "CAST(SUM(n_cmp) AS DOUBLE) AS tc FROM m) "
   "SELECT CAST(bin AS BIGINT) AS bin, n_ref, n_cmp, "
   "CASE WHEN n_ref > 0 AND n_cmp > 0 THEN "
   "CAST(floor((CAST(n_ref AS DOUBLE) / tr "
   "- CAST(n_cmp AS DOUBLE) / tc) "
   "* ln((CAST(n_ref AS DOUBLE) / tr) / (CAST(n_cmp AS DOUBLE) / tc)) "
   "* 1000000.0 + 0.5) AS BIGINT) END AS psi_contrib_micro "
   "FROM m CROSS JOIN t")
def events_psi_drift(spark, sf):
    """Population Stability Index — THE industry drift metric — of the
    event-value distribution: week 4 vs the week-1 reference, decile
    bins. Boundaries are type-1 order statistics selected by exact
    integer rank on the reduced cents-cell grid (NO interpolation —
    cross-engine exact); bin assignment is a broadcast boundary-array
    count; each bin's (p−q)·ln(p/q) is micro-floored per bin (10 bins)
    so Σ is an exact integer. Only the ln is floating point."""
    ev = table(spark, sf, "events").where(F.col("value").isNotNull())
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    ref = (ev.filter(F.col("ts") < F.lit("2024-01-08").cast("timestamp"))
             .select(cents.alias("c")))
    cmp_ = (ev.filter(
                (F.col("ts") >= F.lit("2024-01-22").cast("timestamp"))
                & (F.col("ts") < F.lit("2024-01-29").cast("timestamp")))
              .select(cents.alias("c")))
    cells = ref.groupBy("c").agg(F.count(F.lit(1)).alias("k"))
    from pyspark.sql import Window
    cum = cells.select(
        "c", F.sum("k").over(Window.orderBy("c")
                             .rowsBetween(Window.unboundedPreceding, 0))
             .alias("gc"))
    nr = cells.agg(F.sum("k").alias("n"))
    # 9 interior decile thresholds: smallest cell value whose running
    # count reaches ceil(i*n/10) — pure integer rank selection
    th = (cum.crossJoin(F.broadcast(nr))
             .crossJoin(F.broadcast(
                 ev.sparkSession.range(1, 10).select(
                     F.col("id").alias("i"))))
             .filter(F.col("gc") >= F.expr("(i * n + 9) div 10"))
             .groupBy("i").agg(F.min("c").alias("bv")))
    tl = th.agg(F.array_sort(F.collect_list(
        F.struct("i", "bv"))).alias("__s")).select(
        F.transform("__s", lambda s: s["bv"]).alias("bl"))
    assign = lambda side: (  # noqa: E731
        side.crossJoin(F.broadcast(tl))
            .select(F.size(F.filter(
                F.col("bl"), lambda x: F.col("c") > x)).alias("bin")))
    rb = assign(ref).groupBy("bin").agg(F.count(F.lit(1)).alias("n_ref"))
    cb = assign(cmp_).groupBy("bin").agg(F.count(F.lit(1)).alias("n_cmp"))
    m = (rb.join(cb, "bin", "full_outer")
           .select("bin",
                   F.coalesce("n_ref", F.lit(0).cast("bigint"))
                    .alias("n_ref"),
                   F.coalesce("n_cmp", F.lit(0).cast("bigint"))
                    .alias("n_cmp")))
    t = m.agg(F.sum("n_ref").cast("double").alias("tr"),
              F.sum("n_cmp").cast("double").alias("tc"))
    p = F.col("n_ref").cast("double") / F.col("tr")
    qq = F.col("n_cmp").cast("double") / F.col("tc")
    contrib = (F.floor((p - qq) * F.log(p / qq) * F.lit(1000000.0)
                       + F.lit(0.5)).cast("bigint"))
    return (m.crossJoin(F.broadcast(t))
             .select(F.col("bin").cast("bigint").alias("bin"),
                     "n_ref", "n_cmp",
                     F.when((F.col("n_ref") > 0) & (F.col("n_cmp") > 0),
                            contrib).alias("psi_contrib_micro")))


@q("events_anomaly_deseasonalized",
   "WITH daily AS (SELECT epoch_us(date_trunc('day', ts)) "
   "// 86400000000 AS d, "
   "SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS y "
   "FROM events WHERE value IS NOT NULL GROUP BY 1), "
   "dcells AS (SELECT d % 7 AS dow, y, COUNT(*) AS k FROM daily "
   "GROUP BY 1, 2), "
   "dtot AS (SELECT dow, SUM(k) AS t FROM dcells GROUP BY 1), "
   "dcum AS (SELECT dow, y, SUM(k) OVER (PARTITION BY dow ORDER BY y) "
   "AS gc FROM dcells), "
   "dw AS (SELECT c.dow, CAST(MIN(c.y) AS BIGINT) AS dow_median "
   "FROM dcum c JOIN dtot t ON c.dow = t.dow "
   "AND c.gc >= (t.t + 1) // 2 GROUP BY 1), "
   "r AS (SELECT daily.d, daily.y, dw.dow_median, "
   "daily.y - dw.dow_median AS res FROM daily "
   "JOIN dw ON daily.d % 7 = dw.dow), "
   "rcells AS (SELECT res, COUNT(*) AS k FROM r GROUP BY 1), "
   "rn AS (SELECT SUM(k) AS n FROM rcells), "
   "rcum AS (SELECT res, SUM(k) OVER (ORDER BY res) AS gc "
   "FROM rcells), "
   "medr AS (SELECT (SELECT MIN(res) FROM rcum CROSS JOIN rn "
   "WHERE gc >= (n + 1) // 2) AS mr), "
   "cells AS (SELECT abs(res - medr.mr) AS a, COUNT(*) AS k "
   "FROM r CROSS JOIN medr GROUP BY 1), "
   "n AS (SELECT SUM(k) AS n FROM cells), "
   "cum AS (SELECT a, SUM(k) OVER (ORDER BY a) AS gc FROM cells), "
   "mad AS (SELECT (SELECT MIN(a) FROM cum CROSS JOIN n "
   "WHERE gc >= (n + 1) // 2) AS m) "
   "SELECT r.d AS day_id, CAST(r.y AS BIGINT) AS total_cents, "
   "r.dow_median, "
   "CAST(r.res AS BIGINT) AS residual_cents, "
   "CAST(mad.m AS BIGINT) AS mad_cents, "
   "CAST(CASE WHEN mad.m > 0 THEN abs(r.res - medr.mr) > 3 * mad.m "
   "ELSE r.res - medr.mr <> 0 END AS INT) AS is_outlier "
   "FROM r CROSS JOIN mad CROSS JOIN medr")
def events_anomaly_deseasonalized(spark, sf):
    """Seasonality-aware daily anomaly screen: subtract each
    day-of-week's MEDIAN from the daily total (the weekend dip is not
    an incident — and unlike a dow MEAN, the median baseline is not
    contaminated by the very spike being hunted, so the spike's
    weekday siblings stay unflagged), then flag
    |residual − median(residual)| > 3·MAD. The MAD is the PUBLISHED
    one — median absolute deviation about the residual MEDIAN, not
    about zero: lower-median dow baselines skew residuals ≥ 0, so the
    about-zero shortcut misplaces the robust scale. Exact integers
    throughout: dow medians, the residual median, and the MAD all by
    integer rank selection; zero floats."""
    from pyspark.sql import Window
    ev = table(spark, sf, "events").where(F.col("value").isNotNull())
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    daily = (ev.groupBy(F.expr("unix_micros(date_trunc('DAY', ts)) "
                               "div 86400000000").alias("d"))
               .agg(F.sum(cents).alias("y")))
    dcells = (daily.groupBy((F.col("d") % 7).alias("dow"), "y")
                   .agg(F.count(F.lit(1)).alias("k")))
    dtot = dcells.groupBy("dow").agg(F.sum("k").alias("t"))
    wdow = Window.partitionBy("dow").orderBy("y") \
                 .rowsBetween(Window.unboundedPreceding, 0)
    dcum = dcells.select("dow", "y",
                         F.sum("k").over(wdow).alias("gc"))
    dw = (dcum.join(dtot, "dow")
              .filter(F.col("gc") >= F.expr("(t + 1) div 2"))
              .groupBy("dow")
              .agg(F.min("y").cast("bigint").alias("dow_median")))
    r = (daily.join(F.broadcast(dw), daily["d"] % 7 == dw["dow"])
              .select("d", "y", "dow_median",
                      (F.col("y") - F.col("dow_median")).alias("res")))
    # median of the residuals (rank selection), THEN deviations about
    # it — MAD about zero is not the published robust scale
    rcells = r.groupBy("res").agg(F.count(F.lit(1)).alias("k"))
    rn = rcells.agg(F.sum("k").alias("n"))
    rcum = rcells.select(
        "res", F.sum("k").over(Window.orderBy("res")
                               .rowsBetween(Window.unboundedPreceding,
                                            0)).alias("gc"))
    medr = (rcum.crossJoin(F.broadcast(rn))
                .filter(F.col("gc") >= F.expr("(n + 1) div 2"))
                .agg(F.min("res").alias("mr")))
    r = r.crossJoin(F.broadcast(medr))
    cells = r.groupBy(F.abs(F.col("res") - F.col("mr")).alias("a")) \
             .agg(F.count(F.lit(1)).alias("k"))
    nn = cells.agg(F.sum("k").alias("n"))
    cum = cells.select(
        "a", F.sum("k").over(Window.orderBy("a")
                             .rowsBetween(Window.unboundedPreceding, 0))
             .alias("gc"))
    mad = (cum.crossJoin(F.broadcast(nn))
              .filter(F.col("gc") >= F.expr("(n + 1) div 2"))
              .agg(F.min("a").alias("m")))
    ctr = F.col("res") - F.col("mr")
    out = (F.when(F.col("m") > 0, F.abs(ctr) > 3 * F.col("m"))
            .otherwise(ctr != F.lit(0))).cast("int")
    return (r.crossJoin(F.broadcast(mad))
             .select(F.col("d").alias("day_id"),
                     F.col("y").alias("total_cents"), "dow_median",
                     F.col("res").cast("bigint").alias("residual_cents"),
                     F.col("m").cast("bigint").alias("mad_cents"),
                     out.alias("is_outlier")))


@q("events_type_affinity",
   "WITH flagged AS (SELECT user_id, ts, event_id, event_type, "
   "CASE WHEN lag(ts) OVER w IS NULL THEN 1 "
   "WHEN ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END "
   "AS new_session FROM events "
   "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
   "sess AS (SELECT user_id, event_type, "
   "CAST(SUM(new_session) OVER (PARTITION BY user_id "
   "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND "
   "CURRENT ROW) AS BIGINT) AS session_id FROM flagged), "
   "st AS (SELECT DISTINCT user_id, session_id, event_type FROM sess), "
   "ns AS (SELECT CAST(COUNT(DISTINCT user_id || '|' "
   "|| CAST(session_id AS VARCHAR)) AS BIGINT) AS n FROM st), "
   "tc AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c "
   "FROM st GROUP BY 1), "
   "pc AS (SELECT a.event_type AS type_a, b.event_type AS type_b, "
   "CAST(COUNT(*) AS BIGINT) AS c_ab FROM st a JOIN st b "
   "ON a.user_id = b.user_id AND a.session_id = b.session_id "
   "AND a.event_type < b.event_type GROUP BY 1, 2) "
   "SELECT pc.type_a, pc.type_b, pc.c_ab AS n_cooccur, "
   "ta.c AS n_a, tb.c AS n_b, "
   "CAST(floor(CAST(ns.n AS DOUBLE) * CAST(pc.c_ab AS DOUBLE) "
   "/ (CAST(ta.c AS DOUBLE) * CAST(tb.c AS DOUBLE)) * 1000000.0 "
   "+ 0.5) AS BIGINT) AS lift_micro "
   "FROM pc JOIN tc ta ON pc.type_a = ta.event_type "
   "JOIN tc tb ON pc.type_b = tb.event_type CROSS JOIN ns")
def events_type_affinity(spark, sf):
    """Within-session event-type affinity: lift
    N·n(a∧b)/(n(a)·n(b)) over 30-minute sessions — which behaviors
    co-occur in the same visit (the UNORDERED complement of the
    Markov transition view; lift < 1 = substitutes, > 1 =
    complements). Sessionization shares the streaming module's window
    logic; the pair join runs on the distinct (session, type) frame
    (≤ 5 types per session)."""
    from pyspark.sql import Window
    ev = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flg = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(F.lag("ts").over(w).isNull(), 1)
         .when(F.col("ts") > F.lag("ts").over(w)
               + F.expr("INTERVAL 30 MINUTE"), 1)
         .otherwise(0).alias("new_session"))
    sess = flg.select(
        "user_id", "event_type",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0))
         .alias("session_id"))
    st = sess.distinct()
    ns = st.select(
        F.concat_ws("|", F.col("user_id").cast("string"),
                    F.col("session_id").cast("string")).alias("sk")) \
        .agg(F.countDistinct("sk").alias("n"))
    tc = st.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a = st.select("user_id", "session_id",
                  F.col("event_type").alias("type_a"))
    b = st.select("user_id", "session_id",
                  F.col("event_type").alias("type_b"))
    pc = (a.join(b, ["user_id", "session_id"])
           .filter(F.col("type_a") < F.col("type_b"))
           .groupBy("type_a", "type_b")
           .agg(F.count(F.lit(1)).alias("c_ab")))
    lift = (F.floor(F.col("n").cast("double")
                    * F.col("c_ab").cast("double")
                    / (F.col("ca").cast("double")
                       * F.col("cb").cast("double"))
                    * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    return (pc.join(F.broadcast(tc.select(
                F.col("event_type").alias("type_a"),
                F.col("c").alias("ca"))), "type_a")
              .join(F.broadcast(tc.select(
                  F.col("event_type").alias("type_b"),
                  F.col("c").alias("cb"))), "type_b")
              .crossJoin(F.broadcast(ns))
              .select("type_a", "type_b",
                      F.col("c_ab").alias("n_cooccur"),
                      F.col("ca").alias("n_a"), F.col("cb").alias("n_b"),
                      lift.alias("lift_micro")))


@q("events_funnel_window_sensitivity",
   "WITH fv AS (SELECT user_id, MIN(ts) AS v0 FROM events "
   "WHERE event_type = 'view' GROUP BY 1), "
   "fp AS (SELECT fv.user_id, MIN(e.ts) AS p0 FROM fv "
   "JOIN events e ON e.user_id = fv.user_id "
   "AND e.event_type = 'purchase' AND e.ts > fv.v0 GROUP BY 1), "
   "d AS (SELECT fv.user_id, "
   "epoch_us(fp.p0) - epoch_us(fv.v0) AS lag_us FROM fv "
   "LEFT JOIN fp ON fv.user_id = fp.user_id), "
   "g AS (SELECT w.label, w.win_us, d.lag_us FROM d CROSS JOIN "
   "(SELECT * FROM (VALUES ('1h', 3600000000), "
   "('6h', 21600000000), ('24h', 86400000000)) t(label, win_us)) w) "
   "SELECT label AS window_label, "
   "CAST(MAX(win_us) AS BIGINT) AS window_us, "
   "CAST(COUNT(*) AS BIGINT) AS n_viewers, "
   "CAST(SUM(CASE WHEN lag_us IS NOT NULL AND lag_us <= win_us "
   "THEN 1 ELSE 0 END) AS BIGINT) AS n_converted, "
   "CAST(floor(CAST(SUM(CASE WHEN lag_us IS NOT NULL "
   "AND lag_us <= win_us THEN 1 ELSE 0 END) AS DOUBLE) "
   "/ CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) "
   "AS rate_micro FROM g GROUP BY 1")
def events_funnel_window_sensitivity(spark, sf):
    """Attribution-window sensitivity: view→purchase conversion at 1h,
    6h and 24h windows in ONE pass — the table that settles every
    'our conversion rate depends on the window we picked' argument
    before anyone re-runs the funnel three times. Conversion requires
    a STRICTLY later purchase (ts > first view) — the same rule as
    events_funnel / events_time_to_convert / events_conversion_pairs,
    so this table arbitrates the funnels it claims to. Per-user
    first-view and first-subsequent-purchase scalars (no
    collect_list), then a broadcast 3-row window grid; exact µs
    lags."""
    ev = table(spark, sf, "events")
    fv = (ev.filter(F.col("event_type") == "view")
            .groupBy("user_id").agg(F.min("ts").alias("v0")))
    fp = (fv.join(ev.filter(F.col("event_type") == "purchase")
                    .select("user_id", F.col("ts").alias("pts")),
                  "user_id")
            .filter(F.col("pts") > F.col("v0"))
            .groupBy("user_id").agg(F.min("pts").alias("p0")))
    d = (fv.join(fp, "user_id", "left")
           .select("user_id",
                   (F.unix_micros("p0") - F.unix_micros("v0"))
                   .alias("lag_us")))
    wins = ev.sparkSession.createDataFrame(
        [("1h", 3600000000), ("6h", 21600000000),
         ("24h", 86400000000)], "label string, win_us long")
    conv = F.sum(F.when(F.col("lag_us").isNotNull()
                        & (F.col("lag_us") <= F.col("win_us")), 1)
                  .otherwise(0))
    return (d.crossJoin(F.broadcast(wins))
             .groupBy(F.col("label").alias("window_label"))
             .agg(F.max("win_us").alias("window_us"),
                  F.count(F.lit(1)).alias("n_viewers"),
                  conv.alias("n_converted"),
                  F.floor(conv.cast("double")
                          / F.count(F.lit(1)).cast("double")
                          * F.lit(1000000.0) + F.lit(0.5))
                   .cast("bigint").alias("rate_micro")))


@q("audit_event_disorder",
   "WITH s AS (SELECT user_id, ts, "
   "MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id "
   "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax "
   "FROM events), "
   "l AS (SELECT CASE WHEN runmax IS NOT NULL AND ts < runmax "
   "THEN epoch_us(runmax) - epoch_us(ts) ELSE 0 END AS late_us "
   "FROM s), "
   "cells AS (SELECT late_us, COUNT(*) AS k FROM l "
   "WHERE late_us > 0 GROUP BY 1), "
   "nn AS (SELECT SUM(k) AS n FROM cells), "
   "cum AS (SELECT late_us, SUM(k) OVER (ORDER BY late_us) AS gc "
   "FROM cells), "
   "p95 AS (SELECT (SELECT MIN(late_us) FROM cum CROSS JOIN nn "
   "WHERE gc >= (n * 95 + 99) // 100) AS v) "
   "SELECT CAST((SELECT COUNT(*) FROM l) AS BIGINT) AS n_events, "
   "CAST((SELECT COUNT(*) FROM l WHERE late_us > 0) AS BIGINT) "
   "AS n_late, "
   "CAST((SELECT MAX(late_us) FROM l) AS BIGINT) AS max_late_us, "
   "(SELECT CAST(v AS BIGINT) FROM p95) AS p95_late_us")
def audit_event_disorder(spark, sf):
    """Event-time disorder audit: within each user's ARRIVAL order
    (event_id), how many events arrive with an event time earlier
    than something already seen, how late at worst, and the p95
    lateness — exactly the numbers that size a streaming watermark
    (too small drops these events; too large bloats state). Per-user
    running max is a keyed window (distributed — never a global
    arrival sort); lateness percentile by integer rank selection."""
    from pyspark.sql import Window
    ev = table(spark, sf, "events")
    w = (Window.partitionBy("user_id").orderBy("event_id")
               .rowsBetween(Window.unboundedPreceding, -1))
    s = ev.select("user_id", "ts", F.max("ts").over(w).alias("runmax"))
    late = (F.when(F.col("runmax").isNotNull()
                   & (F.col("ts") < F.col("runmax")),
                   F.unix_micros("runmax") - F.unix_micros("ts"))
             .otherwise(F.lit(0))).alias("late_us")
    l = s.select(late)
    cells = (l.filter(F.col("late_us") > 0)
              .groupBy("late_us").agg(F.count(F.lit(1)).alias("k")))
    nn = cells.agg(F.sum("k").alias("n"))
    cum = cells.select(
        "late_us",
        F.sum("k").over(Window.orderBy("late_us")
                        .rowsBetween(Window.unboundedPreceding, 0))
         .alias("gc"))
    p95 = (cum.crossJoin(F.broadcast(nn))
              .filter(F.col("gc") >= F.expr("(n * 95 + 99) div 100"))
              .agg(F.min("late_us").alias("v")))
    tot = l.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0))
         .alias("n_late"),
        F.max("late_us").cast("bigint").alias("max_late_us"))
    return (tot.crossJoin(F.broadcast(p95))
               .select("n_events", "n_late", "max_late_us",
                       F.col("v").cast("bigint").alias("p95_late_us")))
