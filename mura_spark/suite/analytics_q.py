"""Event-telemetry, order-analytics, embedding-eval and graph queries
remaining in the original analytics module after the stats_q /
quality_q split: funnels, EWMA/LOCF smoothing, RFM, DAU/WAU, cohort
LTV, outlier fences, CUPED, seasonal baselines, snapshot diffs,
k-core/triangles, kNN-confusion, centroid screens, churn flags and
revenue bridges.

Determinism posture per query: anything passing through a
transcendental (ln/exp/pow/log10) quantizes per row to integer
micro-units BEFORE aggregation (functions/quantize.micro -- JVM
``Math.log`` vs libm differ in the last ulp); everything else is exact
integer/decimal arithmetic combined with only IEEE correctly-rounded
operations, with the exact expression tree mirrored
subexpression-for-subexpression in the SQL twins.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mura_spark.suite.common import dsum, registry, sql_tokens, table

SPARK_QUERIES, ORACLE_SQL, q = registry()


from mura_spark.suite.stats_q import _AB_BUCKET  # shared A/B hash bucket



# ------------------------------------------------------------------- graph

_SUPPORTED_EDGES_CTE = (
    "base AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i "
    "FROM lineitem), "
    "und AS (SELECT a.i AS a, b.i AS b FROM base a JOIN base b "
    "ON a.g = b.g AND a.i < b.i GROUP BY 1, 2 HAVING COUNT(*) >= 2)")




@q("graph_triangle_counts",
   f"WITH {_SUPPORTED_EDGES_CTE}, "
   "deg AS (SELECT node, COUNT(*) AS dg FROM (SELECT a AS node FROM und "
   "UNION ALL SELECT b AS node FROM und) GROUP BY 1), "
   "keyed AS (SELECT a, b, da.dg AS dga, db.dg AS dgb FROM und "
   "JOIN deg da ON und.a = da.node JOIN deg db ON und.b = db.node), "
   "oriented AS (SELECT "
   "CASE WHEN (dga, a) < (dgb, b) THEN a ELSE b END AS u, "
   "CASE WHEN (dga, a) < (dgb, b) THEN b ELSE a END AS v, "
   "CASE WHEN (dga, a) < (dgb, b) THEN dgb ELSE dga END AS dv "
   "FROM keyed), "
   "wedges AS (SELECT e1.u AS u, e1.v AS v, e2.v AS w "
   "FROM oriented e1 JOIN oriented e2 ON e1.u = e2.u "
   "AND (e1.dv, e1.v) < (e2.dv, e2.v)), "
   "tri AS (SELECT wedges.u AS u, wedges.v AS v, wedges.w AS w "
   "FROM wedges JOIN oriented o ON wedges.v = o.u AND wedges.w = o.v), "
   "corners AS (SELECT unnest([u, v, w]) AS node FROM tri) "
   "SELECT node, COUNT(*) AS n_triangles FROM corners GROUP BY 1")
def graph_triangle_counts(spark, sf):
    """Per-part triangle counts over the support-≥2 co-purchase graph —
    degree-ordered (compact-forward) orientation bounds the wedge join at
    O(|E|^1.5) regardless of hub skew; the (degree, id) total order makes
    the whole computation deterministic (operators.graph.triangle_counts)."""
    from mura_spark.operators.graph import (cooccurrence_edges_supported,
                                            triangle_counts)
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    edges = cooccurrence_edges_supported(li, "l_orderkey", "l_partkey",
                                         min_support=2)
    return triangle_counts(edges)




@q("emb_centroid_cosine",
   "WITH ex AS (SELECT label, "
   "unnest(list_zip(CAST(embedding AS DOUBLE[]), "
   "range(0, len(embedding)))) AS z FROM embeddings), "
   "cent AS (SELECT label, CAST(z[2] AS INT) AS pos, "
   "CAST(SUM(CAST(floor(z[1] * 1e9) AS HUGEINT)) AS DOUBLE) / 1e9 "
   "/ COUNT(*) AS c FROM ex GROUP BY 1, 2), "
   "dots AS (SELECT a.label AS la, b.label AS lb, "
   "SUM(CAST(floor(a.c * b.c * 1e12) AS DECIMAL(38,0))) AS dot "
   "FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label "
   "GROUP BY 1, 2), "
   "norms AS (SELECT label, "
   "SUM(CAST(floor(c * c * 1e12) AS DECIMAL(38,0))) AS n2 "
   "FROM cent GROUP BY 1) "
   "SELECT la AS label_a, lb AS label_b, "
   "CASE WHEN na.n2 > 0 AND nb.n2 > 0 THEN "
   "CAST(floor(CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) "
   "* CAST(nb.n2 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) END AS cos_micro "
   "FROM dots JOIN norms na ON dots.la = na.label "
   "JOIN norms nb ON dots.lb = nb.label")
def emb_centroid_cosine(spark, sf):
    """Pairwise cosine between per-label embedding centroids — the
    class-separation matrix. Per-dimension products quantize to 1e12
    fixed point before the integer sum; the scales cancel in
    dot/sqrt(na*nb) (operators.similarity.centroid_cosine)."""
    from mura_spark.operators.similarity import centroid_cosine
    e = table(spark, sf, "embeddings")
    return centroid_cosine(e)




@q("events_path_trigrams",
   "WITH g AS (SELECT concat_ws('>', event_type, "
   "lead(event_type, 1) OVER w, lead(event_type, 2) OVER w) AS path, "
   "event_type IS NOT NULL AND lead(event_type, 1) OVER w IS NOT NULL "
   "AND lead(event_type, 2) OVER w IS NOT NULL AS fl FROM events "
   "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) "
   "SELECT path, COUNT(*) AS n_paths FROM g WHERE fl GROUP BY 1 "
   "ORDER BY n_paths DESC, path ASC LIMIT 20")
def events_path_trigrams(spark, sf):
    """Top-20 three-step user journeys (consecutive event-type paths per
    user timeline, ties broken by event_id then path) — sequence mining
    via lead windows, no self-joins; top-k is TakeOrderedAndProject
    (operators.funnel.path_ngrams)."""
    from mura_spark.operators.funnel import path_ngrams
    ev = table(spark, sf, "events")
    return path_ngrams(ev, "user_id", ["ts", "event_id"], "event_type",
                       n=3, k=20)




_SNAP_A = "TIMESTAMP '1998-01-01'"


_SNAP_B = "TIMESTAMP '2000-01-01'"




@q("events_snapshot_diff",
   f"WITH a AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders "
   f"WHERE o_orderdate < {_SNAP_A} GROUP BY 1), "
   f"b AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders "
   f"WHERE o_orderdate < {_SNAP_B} GROUP BY 1) "
   "SELECT coalesce(a.o_custkey, b.o_custkey) AS o_custkey, "
   "CASE WHEN a.o_custkey IS NULL THEN 'added' "
   "WHEN b.o_custkey IS NULL THEN 'removed' "
   "WHEN a.n_orders <> b.n_orders THEN 'changed' END AS change "
   "FROM a FULL JOIN b ON a.o_custkey = b.o_custkey "
   "WHERE (CASE WHEN a.o_custkey IS NULL THEN 'added' "
   "WHEN b.o_custkey IS NULL THEN 'removed' "
   "WHEN a.n_orders <> b.n_orders THEN 'changed' END) IS NOT NULL")
def events_snapshot_diff(spark, sf):
    """Snapshot diff of the per-customer order rollup at two cutoff
    dates — which customers appeared (added) or accumulated more orders
    (changed) between snapshots. One full-outer key shuffle with
    null-safe column comparison (operators.upsert.snapshot_diff)."""
    from mura_spark.operators.upsert import snapshot_diff
    orders = table(spark, sf, "orders")

    def snap(cutoff):
        return (orders.filter(F.col("o_orderdate") < F.lit(cutoff))
                      .groupBy("o_custkey")
                      .agg(F.count(F.lit(1)).alias("n_orders")))
    return snapshot_diff(snap("1998-01-01"), snap("2000-01-01"),
                         ["o_custkey"], ["n_orders"])




def _kcore_oracle() -> str:
    from mura_spark.operators.graph import sql_kcore_prune
    cte = (_SUPPORTED_EDGES_CTE.replace(
        "und AS (", "und AS MATERIALIZED (")
        + ", edges AS (SELECT a AS src, b AS dst FROM und)")
    return sql_kcore_prune(cte, 3, 3)




@q("graph_kcore_prune", _kcore_oracle())
def graph_kcore_prune(spark, sf):
    """Three rounds of degree-<3 pruning toward the 3-core of the
    support-≥2 co-purchase graph — the dense-substructure extractor
    (community seeds, spam-cluster detection). Per round one degree
    groupBy + two node-keyed semi-joins; fixed rounds keep it
    oracle-expressible, fixpoint looping is the same plan driven by a
    per-round scalar (operators.graph.kcore_prune)."""
    from mura_spark.operators.graph import (cooccurrence_edges_supported,
                                            kcore_prune)
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    edges = cooccurrence_edges_supported(li, "l_orderkey", "l_partkey",
                                         min_support=2)
    return kcore_prune(edges, k=3, rounds=3)




@q("events_cumulative_users",
   "WITH f AS (SELECT user_id, MIN(ts) AS first_ts FROM events "
   "GROUP BY 1), "
   "d AS (SELECT CAST(date_trunc('day', first_ts) AS TIMESTAMP) AS bucket_start, "
   "COUNT(*) AS n_new FROM f GROUP BY 1) "
   "SELECT bucket_start, n_new, CAST(SUM(n_new) OVER (ORDER BY "
   "bucket_start ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
   "AS BIGINT) AS cum_total FROM d")
def events_cumulative_users(spark, sf):
    """Audience-growth curve: first-time users per day + running
    distinct-user total — the scalable first-touch formulation (min-ts
    per user, never an expanding COUNT DISTINCT); the running sum
    windows over the calendar-sized bucket table only
    (operators.rolling.cumulative_users)."""
    from mura_spark.operators.rolling import cumulative_users
    ev = table(spark, sf, "events")
    return cumulative_users(ev, "user_id", "ts", "DAY")




@q("events_decayed_value",
   "WITH ref AS (SELECT MAX(ts) AS r FROM events) "
   "SELECT user_id, CAST(SUM(CAST(floor(CAST(value AS DOUBLE) "
   "* pow(2.0, -(CAST(epoch_us(r) - epoch_us(ts) AS DOUBLE) "
   "/ 3600000000.0) / 168.0) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) "
   "AS decayed_micro FROM events CROSS JOIN ref GROUP BY 1")
def events_decayed_value(spark, sf):
    """Recency-weighted engagement per user (one-week half-life,
    referenced to the newest event): per-event exponential decay
    quantizes to micro-units BEFORE the per-user sum, keeping the
    engine-ulp-sensitive pow out of any float aggregation
    (operators.rolling.decayed_value)."""
    from mura_spark.operators.rolling import decayed_value
    ev = table(spark, sf, "events")
    return decayed_value(ev, "user_id", "ts", "value",
                         half_life_hours=168.0)




def _knn_confusion_oracle() -> str:
    from mura_spark.suite import similarity_q
    knn = similarity_q.ORACLE_SQL["emb_knn_classify"]
    return (
        "SELECT c.true_label, c.pred_label, c.n, "
        "CAST(floor(CAST(c.n AS DOUBLE) / CAST(rt.rt AS DOUBLE) "
        "* 1000000.0 + 0.5) AS BIGINT) AS recall_micro "
        f"FROM (SELECT true_label, pred_label, COUNT(*) AS n FROM ({knn}) "
        "GROUP BY 1, 2) c "
        f"JOIN (SELECT true_label, COUNT(*) AS rt FROM ({knn}) "
        "GROUP BY 1) rt ON c.true_label = rt.true_label")




@q("emb_knn_confusion", _knn_confusion_oracle())
def emb_knn_confusion(spark, sf):
    """Confusion matrix + per-cell recall share over the 10-NN
    classifier's predictions — the evaluation rollup closing the
    embedding-classification loop (operators.similarity
    .confusion_matrix on knn_classify's output)."""
    from mura_spark.operators.similarity import (confusion_matrix,
                                                 knn_classify)
    e = table(spark, sf, "embeddings")
    pred = knn_classify(e.filter(F.col("vec_id") < 50),
                        e.filter(F.col("vec_id") >= 50), 10)
    return confusion_matrix(pred)




def _pctl_oracle() -> str:
    from mura_spark.operators.stats import sql_group_percentiles
    return sql_group_percentiles("events", ["event_type"], "value",
                                 [0.5, 0.95], ["p50", "p95"])




@q("events_value_p50_p95_by_type", _pctl_oracle())
def events_value_p50_p95_by_type(spark, sf):
    """Exact interpolated p50/p95 per event type — the per-segment SLO
    rollup, computed from EXPLICIT order statistics mirrored verbatim in
    the oracle (engine percentile aggregates interpolate with an
    unspecified association order, so their raw doubles are not
    hash-safe — operators.stats.group_percentiles). The approximate
    sketch twin is sketch_value_percentiles."""
    from mura_spark.operators.stats import group_percentiles
    ev = table(spark, sf, "events")
    return group_percentiles(ev, ["event_type"], "value",
                             [0.5, 0.95], ["p50", "p95"])




# ------------------------------------------------------- round-5l additions

_SPAN_SEC = lambda c: f"CAST(floor(epoch({c})) AS BIGINT)"  # noqa: E731




@q("events_funnel_1h",
   f"WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events "
   "WHERE event_type = 'view' GROUP BY user_id), "
   "s2 AS (SELECT e.user_id, MIN(t1) AS t1, MIN(ts) AS t2 "
   "FROM events e JOIN s1 ON e.user_id = s1.user_id "
   "WHERE event_type = 'click' AND ts > t1 "
   f"AND {_SPAN_SEC('ts')} <= {_SPAN_SEC('t1')} + 3600 "
   "GROUP BY e.user_id), "
   "s3 AS (SELECT e.user_id, MIN(ts) AS t3 FROM events e "
   "JOIN s2 ON e.user_id = s2.user_id "
   "WHERE event_type = 'purchase' AND ts > t2 "
   f"AND {_SPAN_SEC('ts')} <= {_SPAN_SEC('t1')} + 3600 "
   "GROUP BY e.user_id) "
   "SELECT 1 AS step, 'view' AS step_name, "
   "(SELECT COUNT(*) FROM s1) AS n_users "
   "UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2) "
   "UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)")
def events_funnel_1h(spark, sf):
    """Horizon-bounded funnel: view → click → purchase where every later
    step must land within one hour of the user's first view — the
    conversion-window semantics product analytics actually uses
    (operators.funnel.funnel_counts with max_span_seconds; the span
    compares floor-seconds on both engines)."""
    from mura_spark.operators.funnel import funnel_counts
    ev = table(spark, sf, "events")
    return funnel_counts(ev, "user_id", "event_type", "ts",
                         ["view", "click", "purchase"],
                         max_span_seconds=3600)




_CENT_CTE = (
    "ex AS (SELECT label, "
    "unnest(list_zip(CAST(embedding AS DOUBLE[]), "
    "range(0, len(embedding)))) AS z FROM embeddings), "
    "cent AS (SELECT label, CAST(z[2] AS INT) AS pos, "
    "CAST(SUM(CAST(floor(z[1] * 1e9) AS HUGEINT)) AS DOUBLE) / 1e9 "
    "/ COUNT(*) AS c FROM ex GROUP BY 1, 2)")




@q("emb_outlier_distance",
   f"WITH {_CENT_CTE}, "
   "comp AS (SELECT vec_id, label, "
   "unnest(list_zip(CAST(embedding AS DOUBLE[]), "
   "range(0, len(embedding)))) AS z FROM embeddings), "
   "dist AS (SELECT vec_id, comp.label, "
   "CAST(SUM(CAST(floor((z[1] - c) * (z[1] - c) * 1e12) "
   "AS DECIMAL(38,0))) AS BIGINT) AS dist2_fp "
   "FROM comp JOIN cent ON comp.label = cent.label "
   "AND CAST(z[2] AS INT) = cent.pos GROUP BY 1, 2), "
   "ranked AS (SELECT label, dist2_fp, "
   "CAST(ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist2_fp) - 1 "
   "AS BIGINT) AS i, COUNT(*) OVER (PARTITION BY label) AS n FROM dist), "
   "agg AS (SELECT label, ANY_VALUE(n) AS n, "
   "MAX(CASE WHEN i = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.95) "
   "AS BIGINT) THEN dist2_fp END) AS lo, "
   "MAX(CASE WHEN i = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.95) "
   "AS BIGINT) + 1 THEN dist2_fp END) AS hi FROM ranked GROUP BY 1), "
   "thr AS (SELECT label, CAST(lo AS DOUBLE) "
   "+ (CAST(coalesce(hi, lo) AS DOUBLE) - CAST(lo AS DOUBLE)) "
   "* (CAST(n - 1 AS DOUBLE) * 0.95 "
   "- floor(CAST(n - 1 AS DOUBLE) * 0.95)) AS t FROM agg) "
   "SELECT vec_id, dist.label AS label, dist2_fp FROM dist "
   "JOIN thr ON dist.label = thr.label "
   "WHERE CAST(dist2_fp AS DOUBLE) > t")
def emb_outlier_distance(spark, sf):
    """Per-label embedding outliers: vectors beyond their class's exact
    p95 centroid distance — the mislabel screen before training on
    labeled embeddings. Fixed-point distance sums + explicit
    order-statistics threshold (operators.similarity.centroid_outliers)."""
    from mura_spark.operators.similarity import centroid_outliers
    e = table(spark, sf, "embeddings")
    return centroid_outliers(e, p=0.95)




# ------------------------------------------------------- round-5m additions

@q("events_time_to_convert",
   "WITH v AS (SELECT user_id, MIN(ts) AS tv FROM events "
   "WHERE event_type = 'view' GROUP BY 1), "
   "p AS (SELECT e.user_id, MIN(ts) AS tp FROM events e "
   "JOIN v ON e.user_id = v.user_id "
   "WHERE event_type = 'purchase' AND ts > tv GROUP BY e.user_id), "
   "d AS (SELECT CAST(floor(CAST(epoch_us(tp) - epoch_us(tv) AS DOUBLE) "
   "/ 60000000.0) AS BIGINT) AS mins FROM v JOIN p USING (user_id)) "
   "SELECT CAST(mins - mins % 10 AS BIGINT) AS bucket_min, "
   "COUNT(*) AS n_users FROM d GROUP BY 1")
def events_time_to_convert(spark, sf):
    """Time-to-convert distribution: minutes between a user's first view
    and first subsequent purchase, bucketed to 10-minute bins — the
    latency histogram behind funnel decisions. Two |users|-row
    aggregates, one join, pure integer bucket math."""
    ev = table(spark, sf, "events")
    v = (ev.filter(F.col("event_type") == "view")
           .groupBy("user_id").agg(F.min("ts").alias("tv")))
    p = (ev.filter(F.col("event_type") == "purchase")
           .select("user_id", F.col("ts").alias("__ts"))
           .join(v, "user_id")
           .filter(F.col("__ts") > F.col("tv"))
           .groupBy("user_id").agg(F.min("__ts").alias("tp")))
    mins = F.floor((F.unix_micros("tp") - F.unix_micros("tv"))
                   .cast("double") / F.lit(60000000.0))
    d = v.join(p, "user_id").select(mins.alias("mins"))
    return (d.select((F.col("mins") - F.col("mins") % 10)
                     .cast("bigint").alias("bucket_min"))
             .groupBy("bucket_min")
             .agg(F.count(F.lit(1)).alias("n_users")))




@q("events_dau_wau",
   "WITH du AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d, user_id "
   "FROM events), "
   "days AS (SELECT DISTINCT d AS day FROM du), "
   "wau AS (SELECT days.day, COUNT(DISTINCT du.user_id) AS wau "
   "FROM days JOIN du ON du.d <= days.day "
   "AND du.d >= days.day - INTERVAL 6 DAY GROUP BY 1), "
   "dau AS (SELECT d AS day, COUNT(*) AS dau FROM du GROUP BY 1) "
   "SELECT dau.day, dau, wau FROM dau JOIN wau USING (day)")
def events_dau_wau(spark, sf):
    """Daily + trailing-7-day active users — THE engagement dashboard
    pair. Rolling DISTINCT cannot ride a running-sum window, so the WAU
    side joins the deduplicated (day, user) table against the
    BROADCAST day grid (≤7 grid rows match per day-user row — bounded
    fanout, calendar-sized build side) and de-counts once per window.
    The raw event stream reduces to day-user pairs first; nothing
    bigger ever shuffles."""
    ev = table(spark, sf, "events")
    du = (ev.select(F.date_trunc("DAY", "ts").alias("d"), "user_id")
            .distinct())
    days = du.select(F.col("d").alias("day")).distinct()
    wau = (du.join(F.broadcast(days),
                   (F.col("d") <= F.col("day"))
                   & (F.col("d") >= F.col("day")
                      - F.expr("INTERVAL 6 DAYS")))
             .groupBy("day")
             .agg(F.countDistinct("user_id").alias("wau")))
    dau = (du.groupBy(F.col("d").alias("day"))
             .agg(F.count(F.lit(1)).alias("dau")))
    return dau.join(wau, "day").select("day", "dau", "wau")




@q("parts_abc_pareto",
   "WITH rev AS (SELECT l_partkey, "
   "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) "
   "AS DECIMAL(28,4)) AS r FROM lineitem GROUP BY 1), "
   "tot AS (SELECT CAST(SUM(r) AS DOUBLE) AS t FROM rev), "
   "c AS (SELECT l_partkey, r, CAST(SUM(r) OVER (ORDER BY r DESC, "
   "l_partkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
   "AS DOUBLE) AS cum FROM rev), "
   "cls AS (SELECT CASE WHEN cum / t <= 0.8 THEN 'A' "
   "WHEN cum / t <= 0.95 THEN 'B' ELSE 'C' END AS abc_class, r "
   "FROM c CROSS JOIN tot) "
   "SELECT abc_class, COUNT(*) AS n_parts, "
   "CAST(SUM(CAST(r AS DECIMAL(28,4))) AS DOUBLE) AS revenue "
   "FROM cls GROUP BY 1")
def parts_abc_pareto(spark, sf):
    """ABC / Pareto inventory classification: parts ranked by revenue,
    classified by cumulative share (A ≤ 80%, B ≤ 95%, C rest). The
    running sum is exact decimal over the PART-level rollup (the window
    input is dimension-sized, not fact-sized — the single-partition
    ordering is bounded by the part count); class boundaries compare
    deterministic doubles derived from exact decimal sums."""
    li = table(spark, sf, "lineitem")
    from pyspark.sql import Window
    rev = (li.groupBy("l_partkey")
             .agg(F.sum((F.col("l_extendedprice")
                         * (F.lit(1) - F.col("l_discount")))
                        .cast("decimal(18,4)"))
                   .cast("decimal(28,4)").alias("r")))
    tot = rev.agg(F.sum("r").cast("double").alias("t"))
    w = (Window.orderBy(F.col("r").desc(), F.col("l_partkey").asc())
               .rowsBetween(Window.unboundedPreceding, 0))
    c = rev.select("l_partkey", "r",
                   F.sum("r").over(w).cast("double").alias("cum"))
    share = F.col("cum") / F.col("t")
    cls = (c.crossJoin(F.broadcast(tot))
            .select(F.when(share <= 0.8, "A")
                     .when(share <= 0.95, "B")
                     .otherwise("C").alias("abc_class"), "r"))
    return (cls.groupBy("abc_class")
               .agg(F.count(F.lit(1)).alias("n_parts"),
                    F.sum(F.col("r").cast("decimal(28,4)"))
                     .cast("double").alias("revenue")))




@q("events_interarrival_stats",
   "WITH d AS (SELECT event_type, epoch_us(ts) "
   "- lag(epoch_us(ts)) OVER (PARTITION BY event_type "
   "ORDER BY ts, event_id) AS gap FROM events), "
   "m AS (SELECT event_type, COUNT(gap) AS n, "
   "CAST(SUM(CAST(gap AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s, "
   "SUM(CAST(gap AS DECIMAL(19,0)) * CAST(gap AS DECIMAL(19,0))) AS q "
   "FROM d WHERE gap IS NOT NULL GROUP BY 1) "
   "SELECT event_type, n, "
   "CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0 + 0.5) "
   "AS BIGINT) AS mean_ms, "
   "CAST(floor(sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE) "
   "- CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) "
   "/ (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) / 1000.0 + 0.5) "
   "AS BIGINT) AS std_ms FROM m")
def events_interarrival_stats(spark, sf):
    """Inter-arrival time mean/std per event type (burstiness monitor):
    lag deltas in exact epoch-microseconds, moments in exact DECIMAL,
    one mirrored closed form (÷, √) floored to milliseconds. One window
    shuffle on the type key + one reduced aggregate."""
    from pyspark.sql import Window
    ev = table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    d = ev.select("event_type",
                  (us - F.lag(us).over(w)).alias("gap"))
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    m = (d.filter(F.col("gap").isNotNull())
          .groupBy("event_type")
          .agg(F.count("gap").alias("n"),
               F.sum(F.col("gap").cast("decimal(38,0)"))
                .cast("decimal(38,0)").alias("s"),
               F.sum(dec("gap") * dec("gap")).alias("q")))
    n, s, qq = (F.col("n").cast("double"), F.col("s").cast("double"),
                F.col("q").cast("double"))
    mean_ms = F.floor(s / n / F.lit(1000.0) + F.lit(0.5)).cast("bigint")
    std_ms = F.floor(
        F.sqrt((n * qq - s * s)
               / (n * (F.col("n") - F.lit(1)).cast("double")))
        / F.lit(1000.0) + F.lit(0.5)).cast("bigint")
    return m.select("event_type", "n", mean_ms.alias("mean_ms"),
                    std_ms.alias("std_ms"))




# ------------------------------------------------------- round-5q additions

@q("supplier_concentration_hhi",
   "WITH sr AS (SELECT s_nationkey, l_suppkey, "
   "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) "
   "AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS r "
   "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
   "GROUP BY 1, 2), "
   "nt AS (SELECT s_nationkey, CAST(SUM(r) AS DOUBLE) AS t, "
   "COUNT(*) AS n_suppliers FROM sr GROUP BY 1) "
   "SELECT n_name AS nation, n_suppliers, "
   "CAST(SUM(CAST(floor(CAST(r AS DOUBLE) / t * (CAST(r AS DOUBLE) / t) "
   "* 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS hhi_micro "
   "FROM sr JOIN nt USING (s_nationkey) "
   "JOIN nation ON s_nationkey = n_nationkey "
   "GROUP BY 1, 2")
def supplier_concentration_hhi(spark, sf):
    """Herfindahl-Hirschman supplier-concentration index per nation —
    the market-concentration monitor (monopolized supply chains light
    up toward 10⁶). Per-supplier revenue shares square per row and
    quantize to micro BEFORE the per-nation sum (exact integer
    aggregation); revenue itself is the exact DECIMAL(18,4) convention.
    Plan: fact rollup to supplier grain, nation totals over the rollup,
    broadcast dims."""
    from mura_spark.functions.quantize import micro
    li = table(spark, sf, "lineitem")
    sup = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf, "nation").select("n_nationkey", "n_name")
    sr = (li.join(F.broadcast(sup),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy("s_nationkey", "l_suppkey")
            .agg(F.sum((F.col("l_extendedprice")
                        * (F.lit(1) - F.col("l_discount")))
                       .cast("decimal(18,4)"))
                  .cast("decimal(28,4)").alias("r")))
    nt = (sr.groupBy("s_nationkey")
            .agg(F.sum("r").cast("double").alias("t"),
                 F.count(F.lit(1)).alias("n_suppliers")))
    share = F.col("r").cast("double") / F.col("t")
    contrib = micro(share * share)
    return (sr.join(F.broadcast(nt), "s_nationkey")
              .join(F.broadcast(nat),
                    F.col("s_nationkey") == F.col("n_nationkey"))
              .groupBy(F.col("n_name").alias("nation"), "n_suppliers")
              .agg(F.sum(contrib).cast("bigint").alias("hhi_micro")))




# ------------------------------------------------------- round-5s additions

@q("events_rfm_segments",
   "WITH ref AS (SELECT MAX(ts) AS r FROM events), "
   "u AS (SELECT user_id, CAST(floor(CAST(epoch_us(r) "
   "- epoch_us(MAX(ts)) AS DOUBLE) / 3600000000.0) AS BIGINT) AS rec_h, "
   "COUNT(*) AS freq, "
   "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS mon "
   "FROM events CROSS JOIN ref GROUP BY user_id, r), "
   "b AS (SELECT "
   "quantile_cont(CAST(rec_h AS DOUBLE), [i / 5.0 for i in range(1, 5)]) "
   "AS rb, "
   "quantile_cont(CAST(freq AS DOUBLE), [i / 5.0 for i in range(1, 5)]) "
   "AS fb, "
   "quantile_cont(CAST(mon AS DOUBLE), [i / 5.0 for i in range(1, 5)]) "
   "AS mb FROM u) "
   "SELECT len(list_filter(rb, x -> CAST(rec_h AS DOUBLE) > x)) AS r_bin, "
   "len(list_filter(fb, x -> CAST(freq AS DOUBLE) > x)) AS f_bin, "
   "CASE WHEN mon IS NULL THEN NULL "
   "ELSE len(list_filter(mb, x -> CAST(mon AS DOUBLE) > x)) END AS m_bin, "
   "COUNT(*) AS n_users, "
   "CAST(SUM(CAST(mon AS DECIMAL(18,2))) AS DOUBLE) AS monetary_total "
   "FROM u CROSS JOIN b GROUP BY 1, 2, 3")
def events_rfm_segments(spark, sf):
    """RFM customer segmentation (recency/frequency/monetary quintiles)
    — the classic lifecycle-marketing rollup. One shuffle to the
    per-user grain; each quintile assignment is a broadcast
    boundary-array filter-count (operators.sampling.quantile_bins —
    never a global ntile sort); recency in exact whole hours from the
    newest event, monetary as the exact-decimal value sum. Output is
    the ≤125-cell segment matrix."""
    from mura_spark.operators.sampling import quantile_bins
    ev = table(spark, sf, "events")
    ref = ev.agg(F.max("ts").alias("__ref"))
    u = (ev.groupBy("user_id")
           .agg(F.max("ts").alias("__last"),
                F.count(F.lit(1)).alias("freq"),
                dsum("value").alias("mon")))
    u = (u.crossJoin(F.broadcast(ref))
          .select(F.floor((F.unix_micros("__ref")
                           - F.unix_micros("__last")).cast("double")
                          / F.lit(3600000000.0)).cast("bigint")
                   .alias("rec_h"),
                  "freq", "mon"))
    u = quantile_bins(u, "rec_h", 5).withColumnRenamed("bin", "r_bin")
    u = quantile_bins(u, "freq", 5).withColumnRenamed("bin", "f_bin")
    u = quantile_bins(u, "mon", 5).withColumnRenamed("bin", "m_bin")
    return (u.groupBy("r_bin", "f_bin", "m_bin")
             .agg(F.count(F.lit(1)).alias("n_users"),
                  dsum("mon").alias("monetary_total")))




@q("events_hourly_autocorr",
   "WITH bounds AS (SELECT date_trunc('hour', MIN(ts)) AS lo, "
   "date_trunc('hour', MAX(ts)) AS hi FROM events), "
   "grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) "
   "AS h FROM bounds), "
   "actual AS (SELECT date_trunc('hour', ts) AS h, COUNT(*) AS c "
   "FROM events GROUP BY 1), "
   "dense AS (SELECT g.h, coalesce(a.c, 0) AS c FROM grid g "
   "LEFT JOIN actual a ON a.h = g.h), "
   "p AS (SELECT c AS x, lead(c) OVER (ORDER BY h) AS y FROM dense), "
   "m AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, "
   "SUM(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0))) AS sxy, "
   "SUM(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS sxx, "
   "SUM(CAST(y AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0))) AS syy "
   "FROM p WHERE y IS NOT NULL) "
   "SELECT CAST(n AS BIGINT) AS n_pairs, "
   "CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
   "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) "
   "* (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) "
   "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0.0 THEN "
   "CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
   "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) "
   "/ sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
   "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) "
   "* (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) "
   "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) "
   "* 1000000.0 + 0.5) AS BIGINT) END AS r_micro FROM m")
def events_hourly_autocorr(spark, sf):
    """Lag-1 autocorrelation of hourly event volume — the periodicity /
    burst-persistence diagnostic for ingest monitoring. The series is
    the ZERO-FILLED dense hour grid (sequence() over broadcast min/max
    bounds — gaps would otherwise splice non-adjacent hours into fake
    pairs); Pearson r over consecutive-hour pairs from exact integer
    moments (DECIMAL products of counts), one mirrored closed form,
    micro-floored, NULL when a side is constant. Everything after the
    one reducing groupBy is calendar-sized. (The closed form
    intentionally matches operators/profile.corr_pairs term-for-term —
    change them together.)"""
    from pyspark.sql import Window
    from mura_spark.functions.quantize import micro
    ev = table(spark, sf, "events")
    actual = (ev.groupBy(F.date_trunc("hour", "ts").alias("h"))
                .agg(F.count(F.lit(1)).alias("c")))
    bounds = ev.agg(F.date_trunc("hour", F.min("ts")).alias("lo"),
                    F.date_trunc("hour", F.max("ts")).alias("hi"))
    grid = (bounds.select(F.explode(F.sequence(
        "lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h")))
    dense = (grid.join(actual, "h", "left")
                 .select("h", F.coalesce(F.col("c"),
                                         F.lit(0).cast("bigint"))
                          .alias("c")))
    w = Window.orderBy("h")
    p = (dense.select(F.col("c").alias("x"),
                      F.lead("c").over(w).alias("y"))
              .filter(F.col("y").isNotNull()))
    from mura_spark.functions.quantize import dec18
    d18 = lambda c: dec18(F.col(c))  # noqa: E731
    m = p.agg(F.count(F.lit(1)).alias("n"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"),
              F.sum(d18("x") * d18("y")).alias("sxy"),
              F.sum(d18("x") * d18("x")).alias("sxx"),
              F.sum(d18("y") * d18("y")).alias("syy"))
    n, sx, sy = (F.col("n").cast("double"), F.col("sx").cast("double"),
                 F.col("sy").cast("double"))
    sxy, sxx, syy = (F.col("sxy").cast("double"),
                     F.col("sxx").cast("double"),
                     F.col("syy").cast("double"))
    var_prod = (n * sxx - sx * sx) * (n * syy - sy * sy)
    r = (n * sxy - sx * sy) / F.sqrt(var_prod)
    return m.select(F.col("n").cast("bigint").alias("n_pairs"),
                    F.when(var_prod > F.lit(0.0),
                           micro(r)).alias("r_micro"))




# ------------------------------------------------------- round-5u additions

@q("orders_monthly_growth",
   # a NULL order date has no calendar position: it must not form an
   # "unknown month" bucket inside the MoM lag chain (the engines also
   # order a NULL month at opposite ends of the window)
   "WITH m AS (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) "
   "AS month, "
   "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, "
   "COUNT(*) AS n_orders FROM orders "
   "WHERE o_orderdate IS NOT NULL GROUP BY 1), "
   "w AS (SELECT month, revenue, n_orders, "
   "lag(revenue) OVER (ORDER BY month) AS prev FROM m) "
   "SELECT month, revenue, n_orders, "
   "CASE WHEN prev <> 0.0 THEN CAST(floor((revenue - prev) / prev "
   "* 1000000.0 + 0.5) AS BIGINT) END AS mom_micro FROM w")
def orders_monthly_growth(spark, sf):
    """Month-over-month revenue growth — the core business time series.
    One reducing groupBy to the calendar grain (exact-decimal money
    sums), then a lag window over the month table only; the growth
    ratio is one mirrored division, micro-floored, NULL for the first
    month / zero base."""
    from pyspark.sql import Window
    from mura_spark.functions.quantize import micro
    o = table(spark, sf, "orders").where(
        F.col("o_orderdate").isNotNull())
    m = (o.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
          .agg(dsum("o_totalprice").alias("revenue"),
               F.count(F.lit(1)).alias("n_orders")))
    w = m.select("month", "revenue", "n_orders",
                 F.lag("revenue").over(Window.orderBy("month"))
                  .alias("__prev"))
    growth = (F.col("revenue") - F.col("__prev")) / F.col("__prev")
    return w.select("month", "revenue", "n_orders",
                    F.when(F.col("__prev") != F.lit(0.0),
                           micro(growth)).alias("mom_micro"))




# ------------------------------------------------------- round-5w addition

#: The recursion references only the pre-materialized daily rollup —
#: without that, each of the ~|days| recursion rounds re-runs the full
#: corpus groupBy (the BFS-edges / k-core re-evaluation trap; measured
#: 12s -> 0.7s at sf0.1 when materialized).
_EWMA_SQL = (
    "WITH RECURSIVE "
    "ew(rn, day, x, l) AS ("
    "SELECT rn, day, x, x FROM {rollup} WHERE rn = 1 "
    "UNION ALL "
    "SELECT r.rn, r.day, r.x, 0.3 * r.x + 0.7 * ew.l "
    "FROM ew JOIN {rollup} r ON r.rn = ew.rn + 1) "
    "SELECT day, x AS daily_value, "
    "CAST(floor(l * 1000000.0 + 0.5) AS BIGINT) AS ewma_micro FROM ew")



_EWMA_ROLLUP = (
    "(SELECT day, x, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM "
    "(SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, "
    "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS x "
    "FROM events GROUP BY 1))")



_EWMA_ORACLE = ("WITH RECURSIVE r AS MATERIALIZED " + _EWMA_ROLLUP + ", "
                + _EWMA_SQL.format(rollup="r")
                  .replace("WITH RECURSIVE ", "", 1))




@q("events_ewma_daily", _EWMA_ORACLE)
def events_ewma_daily(spark, sf):
    """Exponentially-weighted moving average of daily event value
    (α = 0.3) — the trend smoother behind anomaly baselines. The linear
    recurrence l_t = αx_t + (1−α)l_{t−1} is inherently sequential, so
    it runs as a WITH RECURSIVE step-join over the CALENDAR-SIZED daily
    rollup (≤ the day count regardless of corpus size; well under
    Spark's recursion depth limit) — the corpus reduces through one
    exact-decimal groupBy that is materialized BEFORE the recursion
    (eager localCheckpoint / AS MATERIALIZED, the BFS-edges pattern),
    so no recursion round ever re-touches the fact table. The per-step
    double expression is sequential by construction — no
    aggregation-order hazard."""
    from pyspark.sql import Window
    ev = table(spark, sf, "events")
    d = (ev.groupBy(F.date_trunc("day", "ts").alias("day"))
           .agg(dsum("value").alias("x")))
    r = (d.select("day", "x",
                  F.row_number().over(Window.orderBy("day")).alias("rn"))
          .localCheckpoint(eager=True))
    return spark.sql(_EWMA_SQL.format(rollup="{rollup}"), rollup=r)




@q("orders_cohort_ltv",
   "WITH fo AS (SELECT o_custkey AS cust, "
   "CAST(date_trunc('month', MIN(o_orderdate)) AS TIMESTAMP) AS cm "
   "FROM orders GROUP BY 1), "
   "j AS (SELECT fo.cm AS cohort_month, "
   "(year(o.o_orderdate) * 12 + month(o.o_orderdate)) "
   "- (year(fo.cm) * 12 + month(fo.cm)) AS month_offset, "
   "o.o_custkey AS cust, o.o_totalprice AS tp "
   "FROM orders o JOIN fo ON fo.cust = o.o_custkey) "
   "SELECT cohort_month, month_offset, "
   "CAST(COUNT(DISTINCT cust) AS BIGINT) AS n_active, "
   "CAST(SUM(CAST(tp AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
   "FROM j GROUP BY 1, 2")
def orders_cohort_ltv(spark, sf):
    """Cohort lifetime-value matrix: customers grouped by first-order
    month, revenue per month-offset — the revenue-weighted complement
    of events_retention's count matrix. First-touch via min-aggregate
    (never an expanding window), integer month arithmetic (identical
    on both engines — months_between's fractional form is not), exact
    decimal revenue. Two key-shuffles: the first-order rollup and the
    cohort join, both on the customer key."""
    o = table(spark, sf, "orders")
    fo = (o.groupBy(F.col("o_custkey").alias("cust"))
            .agg(F.date_trunc("month", F.min("o_orderdate")).alias("cm")))
    mo = ((F.year("o_orderdate") * 12 + F.month("o_orderdate"))
          - (F.year("cm") * 12 + F.month("cm")))
    return (o.join(fo, F.col("o_custkey") == F.col("cust"))
             .groupBy(F.col("cm").alias("cohort_month"),
                      mo.alias("month_offset"))
             .agg(F.countDistinct("cust").alias("n_active"),
                  dsum("o_totalprice").alias("revenue")))




# ------------------------------------------------------- round-5cc additions

def _iqr_oracle() -> str:
    from mura_spark.operators.stats import sql_group_percentiles
    # percentiles over the SAME NULL-filtered rows as the Spark side —
    # sql_group_percentiles ranks NULLS LAST and counts them in n, so an
    # unfiltered 'events' would shift every (n-1)*p position
    inner = sql_group_percentiles(
        "(SELECT * FROM events WHERE value IS NOT NULL)",
        ["event_type"], "value", [0.25, 0.75], ["q1", "q3"])
    return (
        f"WITH b AS ({inner}), "
        "f AS (SELECT e.event_type, "
        "CAST(floor(e.value * 1000000.0 + 0.5) AS BIGINT) AS vm, "
        "b.q1_micro AS q1, b.q3_micro AS q3 "
        "FROM events e JOIN b ON b.event_type = e.event_type "
        "WHERE e.value IS NOT NULL) "
        "SELECT event_type, COUNT(*) AS n, "
        "CAST(SUM(CASE WHEN 2 * vm < 2 * q1 - 3 * (q3 - q1) "
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_out_low, "
        "CAST(SUM(CASE WHEN 2 * vm > 2 * q3 + 3 * (q3 - q1) "
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_out_high, "
        "MIN(2 * q1 - 3 * (q3 - q1)) AS lo_bound_2micro, "
        "MIN(2 * q3 + 3 * (q3 - q1)) AS hi_bound_2micro "
        "FROM f GROUP BY 1")




@q("events_outlier_iqr", _iqr_oracle())
def events_outlier_iqr(spark, sf):
    """Tukey-fence robust outlier screen per event type: flag values
    outside [q1 − 1.5·IQR, q3 + 1.5·IQR] with EXACT arithmetic — the
    quartiles come from the explicit order-statistics machinery
    (operators.stats.group_percentiles, micro-quantized), and the
    1.5× fence runs in doubled micro-integers so no float comparison
    can straddle the boundary differently per engine. One window
    shuffle for quartiles, broadcast join back, one rollup."""
    from mura_spark.operators.stats import group_percentiles
    ev = table(spark, sf, "events").filter(F.col("value").isNotNull())
    b = group_percentiles(ev, ["event_type"], "value",
                          [0.25, 0.75], ["q1", "q3"])
    from mura_spark.functions.quantize import micro
    j = ev.join(F.broadcast(b), "event_type")
    vm = micro(F.col("value"))
    q1, q3 = F.col("q1_micro"), F.col("q3_micro")
    lo = 2 * q1 - 3 * (q3 - q1)
    hi = 2 * q3 + 3 * (q3 - q1)
    return (j.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum((2 * vm < lo).cast("int")).cast("bigint")
                   .alias("n_out_low"),
                  F.sum((2 * vm > hi).cast("int")).cast("bigint")
                   .alias("n_out_high"),
                  F.min(lo).alias("lo_bound_2micro"),
                  F.min(hi).alias("hi_bound_2micro")))




@q("events_bot_screen",
   "WITH u AS (SELECT user_id, COUNT(*) AS n, "
   "COUNT(DISTINCT event_type) AS n_types, "
   "epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS span_us "
   "FROM events GROUP BY 1) "
   "SELECT user_id, n, n_types, "
   "CAST(floor(CAST(n AS DOUBLE) "
   "/ (CAST(span_us AS DOUBLE) / 3600000000.0) * 1000000.0 + 0.5) "
   "AS BIGINT) AS rate_per_hour_micro "
   "FROM u WHERE span_us > 0 "
   "AND CAST(n AS DOUBLE) / (CAST(span_us AS DOUBLE) / 3600000000.0) "
   ">= 0.1 AND n >= 60")
def events_bot_screen(spark, sf):
    """Bot/automation screen: users with sustained high event rate
    and enough volume to matter (type diversity rides along as a
    feature) — the abuse-filter composite a training pipeline runs
    before user-level sampling. ONE map-side-combined groupBy to the
    user grain (count, distinct types, exact µs span), then pure
    threshold predicates; the rate division is one mirrored double
    expression. Thresholds sit inside this corpus's heavy tail so the
    screen returns a non-trivial flagged set."""
    ev = table(spark, sf, "events")
    u = (ev.groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n"),
                F.countDistinct("event_type").alias("n_types"),
                (F.unix_micros(F.max("ts"))
                 - F.unix_micros(F.min("ts"))).alias("span_us")))
    rate = (F.col("n").cast("double")
            / (F.col("span_us").cast("double") / F.lit(3600000000.0)))
    from mura_spark.functions.quantize import micro
    return (u.filter((F.col("span_us") > 0) & (rate >= 0.1)
                     & (F.col("n") >= 60))
             .select("user_id", "n", "n_types",
                     micro(rate).alias("rate_per_hour_micro")))




# ------------------------------------------------------- round-5dd additions

def _srm_oracle() -> str:
    from mura_spark.suite.common import sql_hash48
    return (
        "WITH u AS (SELECT DISTINCT user_id FROM events), "
        f"v AS (SELECT {sql_hash48('CAST(user_id AS VARCHAR)')} "
        "% 1000 % 2 AS variant FROM u), "
        "c AS (SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) "
        "AS BIGINT) AS na, "
        "CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS nb FROM v) "
        "SELECT na, nb, CAST(floor("
        "(CAST(na AS DOUBLE) - (CAST(na AS DOUBLE) "
        "+ CAST(nb AS DOUBLE)) / 2.0) "
        "* (CAST(na AS DOUBLE) - (CAST(na AS DOUBLE) "
        "+ CAST(nb AS DOUBLE)) / 2.0) "
        "/ ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) / 2.0) * 2.0 "
        "* 1000000.0 + 0.5) AS BIGINT) AS chi2_micro, "
        "(CAST(na AS DOUBLE) - (CAST(na AS DOUBLE) "
        "+ CAST(nb AS DOUBLE)) / 2.0) "
        "* (CAST(na AS DOUBLE) - (CAST(na AS DOUBLE) "
        "+ CAST(nb AS DOUBLE)) / 2.0) "
        "/ ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) / 2.0) * 2.0 "
        "> 3.841 AS srm_flag FROM c")




@q("events_ab_srm_check", _srm_oracle())
def events_ab_srm_check(spark, sf):
    """Sample-ratio-mismatch guardrail for the A/B split: chi-square of
    the observed variant counts against the designed 50/50 under the
    SAME deterministic MD5 bucket assignment stats_ab_ztest uses — the
    first thing to check before reading any experiment metric. One
    distinct-user reduction; the statistic is one mirrored closed
    form ((na−E)²/E doubled for two symmetric cells), flagged at the
    p<0.05 critical value."""
    from mura_spark.functions.hashing import md5_hash48
    from mura_spark.functions.quantize import micro
    ev = table(spark, sf, "events")
    u = ev.select("user_id").distinct()
    v = u.select((md5_hash48(F.col("user_id").cast("string"))
                  % 1000 % 2).alias("variant"))
    c = v.agg(
        F.sum((F.col("variant") == 0).cast("int")).cast("bigint")
         .alias("na"),
        F.sum((F.col("variant") == 1).cast("int")).cast("bigint")
         .alias("nb"))
    na_d, nb_d = F.col("na").cast("double"), F.col("nb").cast("double")
    e = (na_d + nb_d) / F.lit(2.0)
    chi2 = (na_d - e) * (na_d - e) / e * F.lit(2.0)
    return c.select("na", "nb", micro(chi2).alias("chi2_micro"),
                    (chi2 > F.lit(3.841)).alias("srm_flag"))




@q("emb_pair_cosine_histogram",
   "WITH pairs AS (SELECT a.vec_id AS id, "
   "CAST(a.embedding AS DOUBLE[]) AS ea, "
   "CAST(b.embedding AS DOUBLE[]) AS eb "
   "FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1), "
   "t AS (SELECT id, "
   "CAST(list_sum(list_transform(list_zip(ea, eb), "
   "z -> CAST(floor(z[1] * z[2] * 1e12) AS BIGINT))) AS BIGINT) AS dot, "
   "CAST(list_sum(list_transform(ea, "
   "x -> CAST(floor(x * x * 1e12) AS BIGINT))) AS BIGINT) AS na, "
   "CAST(list_sum(list_transform(eb, "
   "x -> CAST(floor(x * x * 1e12) AS BIGINT))) AS BIGINT) AS nb "
   "FROM pairs), "
   "c AS (SELECT CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) "
   "* CAST(nb AS DOUBLE)) AS cs FROM t WHERE na > 0 AND nb > 0), "
   "m AS (SELECT CAST(floor(CAST(floor(cs * 1000000.0 + 0.5) AS BIGINT) "
   "/ 100000.0) AS BIGINT) AS bin FROM c) "
   "SELECT bin, COUNT(*) AS n_pairs FROM m GROUP BY bin")
def emb_pair_cosine_histogram(spark, sf):
    """Random-pair cosine-similarity histogram — the isotropy / hubness
    diagnostic (a healthy embedding space puts random-pair cosine in a
    tight band near 0; a drifted or collapsed one skews positive). The
    deterministic 'random' pairing is consecutive vec_ids (an equi-join,
    no sampling RNG, one key shuffle); per-term products quantize to
    1e12 fixed point before the integer sums — the scales cancel in
    dot/√(na·nb) — and the per-pair cosine micro-quantizes BEFORE the
    0.1-wide binning so a last-ulp sqrt can't flip a bin. Per-row O(dim)
    JVM higher-order functions, histogram reduced map-side to ≤21
    groups."""
    from mura_spark.functions.quantize import micro
    e = table(spark, sf, "embeddings")
    to_d = lambda col: F.transform(col, lambda x: x.cast("double"))
    a = e.select("vec_id", to_d("embedding").alias("ea"))
    b = e.select((F.col("vec_id") - 1).alias("vec_id"),
                 to_d("embedding").alias("eb"))
    q12 = F.lit(1e12)
    zero = F.lit(0).cast("bigint")
    pairs = a.join(b, "vec_id")
    dot = F.aggregate(
        F.zip_with("ea", "eb",
                   lambda x, y: F.floor(x * y * q12).cast("bigint")),
        zero, lambda acc, x: acc + x)
    sq = lambda col: F.aggregate(
        F.transform(col, lambda x: F.floor(x * x * q12).cast("bigint")),
        zero, lambda acc, x: acc + x)
    t = pairs.select(dot.alias("dot"), sq("ea").alias("na"),
                     sq("eb").alias("nb"))
    cs = (F.col("dot").cast("double")
          / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double")))
    c = (t.where((F.col("na") > 0) & (F.col("nb") > 0))
          .select(micro(cs).alias("cs_micro")))
    bin_ = F.floor(F.col("cs_micro") / F.lit(100000.0)).cast("bigint")
    return (c.groupBy(bin_.alias("bin"))
             .agg(F.count(F.lit(1)).alias("n_pairs")))




def _mad_oracle() -> str:
    from mura_spark.operators.stats import sql_group_percentiles
    med = sql_group_percentiles(
        "(SELECT event_type, value FROM events WHERE value IS NOT NULL)",
        ["event_type"], "value", [0.5], ["med"])
    dev = ("SELECT e.event_type, "
           "abs(CAST(floor(e.value * 1000000.0 + 0.5) AS BIGINT) "
           "- m.med_micro) / 1000000.0 AS d "
           "FROM events e JOIN med m USING (event_type) "
           "WHERE e.value IS NOT NULL")
    mad = sql_group_percentiles("dev", ["event_type"], "d", [0.5], ["mad"])
    return (f"WITH med AS ({med}), dev AS ({dev}) "
            f"SELECT m.event_type, m.med_micro, q.mad_micro "
            f"FROM med m JOIN ({mad}) q USING (event_type)")




@q("events_mad_by_type", _mad_oracle())
def events_mad_by_type(spark, sf):
    """Median absolute deviation per event type — the robust scale
    estimate (unlike stddev, one fat-fingered value can't move it; the
    robust twin of the IQR fence in `events_outlier_iqr`). Composed from
    the exact order-statistic percentile operator applied twice: the
    per-type median, then the median of |value − median| with the
    deviation anchored on the MICRO-quantized median so both engines
    interpolate over identical inputs. Two group-key window shuffles
    over value rows; the medians frame broadcast back (≤|types| rows)."""
    from mura_spark.functions.quantize import micro
    from mura_spark.operators.stats import group_percentiles
    ev = (table(spark, sf, "events")
          .where(F.col("value").isNotNull())
          .select("event_type", "value"))
    med = group_percentiles(ev, ["event_type"], "value", [0.5], ["med"])
    dev = (ev.join(F.broadcast(med), "event_type")
             .select("event_type",
                     (F.abs(micro(F.col("value")) - F.col("med_micro"))
                      / F.lit(1000000.0)).alias("d")))
    mad = group_percentiles(dev, ["event_type"], "d", [0.5], ["mad"])
    return med.join(mad, "event_type").select(
        "event_type", "med_micro", "mad_micro")




@q("events_activity_streaks",
   "WITH days AS (SELECT DISTINCT user_id, "
   "CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d "
   "FROM events), "
   "isl AS (SELECT user_id, d - ROW_NUMBER() OVER (PARTITION BY "
   "user_id ORDER BY d) AS i FROM days), "
   "runs AS (SELECT user_id, i, COUNT(*) AS len FROM isl "
   "GROUP BY 1, 2), "
   "per AS (SELECT user_id, MAX(len) AS max_streak FROM runs "
   "GROUP BY 1) "
   "SELECT max_streak, CAST(COUNT(*) AS BIGINT) AS n_users "
   "FROM per GROUP BY 1")
def events_activity_streaks(spark, sf):
    """Longest consecutive-active-day streak distribution across users
    — the habit/retention curve, via the canonical gaps-and-islands
    window (day − row_number constant on a run; no self-join) —
    operators.rolling.activity_streaks."""
    from mura_spark.operators.rolling import activity_streaks
    ev = table(spark, sf, "events")
    days = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
         .cast("bigint").alias("dayix"))
    st = activity_streaks(days, "user_id", "dayix")
    return (st.groupBy("max_streak")
              .agg(F.count(F.lit(1)).alias("n_users")))




@q("graph_clustering_coeff",
   f"WITH {_SUPPORTED_EDGES_CTE}, "
   "deg AS (SELECT node, COUNT(*) AS dg FROM (SELECT a AS node FROM und "
   "UNION ALL SELECT b AS node FROM und) GROUP BY 1), "
   "keyed AS (SELECT a, b, da.dg AS dga, db.dg AS dgb FROM und "
   "JOIN deg da ON und.a = da.node JOIN deg db ON und.b = db.node), "
   "oriented AS (SELECT "
   "CASE WHEN (dga, a) < (dgb, b) THEN a ELSE b END AS u, "
   "CASE WHEN (dga, a) < (dgb, b) THEN b ELSE a END AS v, "
   "CASE WHEN (dga, a) < (dgb, b) THEN dgb ELSE dga END AS dv "
   "FROM keyed), "
   "wedges AS (SELECT e1.u AS u, e1.v AS v, e2.v AS w "
   "FROM oriented e1 JOIN oriented e2 ON e1.u = e2.u "
   "AND (e1.dv, e1.v) < (e2.dv, e2.v)), "
   "tri AS (SELECT wedges.u AS u, wedges.v AS v, wedges.w AS w "
   "FROM wedges JOIN oriented o ON wedges.v = o.u AND wedges.w = o.v), "
   "corners AS (SELECT unnest([u, v, w]) AS node FROM tri), "
   "tc AS (SELECT node, COUNT(*) AS n_triangles FROM corners "
   "GROUP BY 1) "
   "SELECT d.node, CAST(d.dg AS BIGINT) AS degree, "
   "CAST(coalesce(tc.n_triangles, 0) AS BIGINT) AS n_triangles, "
   "CAST(floor(2.0 * CAST(coalesce(tc.n_triangles, 0) AS DOUBLE) "
   "/ (CAST(d.dg AS DOUBLE) * CAST(d.dg - 1 AS DOUBLE)) "
   "* 1000000.0 + 0.5) AS BIGINT) AS cc_micro "
   "FROM deg d LEFT JOIN tc ON d.node = tc.node WHERE d.dg >= 2")
def graph_clustering_coeff(spark, sf):
    """Per-part local clustering coefficient over the support-≥2
    co-purchase graph — 2T/(d(d−1)), the how-cliquish-is-my-
    neighborhood community signal on top of the degree-ordered
    triangle machinery (operators.graph.clustering_coefficients)."""
    from mura_spark.operators.graph import (clustering_coefficients,
                                            cooccurrence_edges_supported)
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    edges = cooccurrence_edges_supported(li, "l_orderkey", "l_partkey",
                                         min_support=2)
    return clustering_coefficients(edges)




@q("orders_quartile_migration",
   "WITH per AS (SELECT o_custkey, CAST(year(o_orderdate) AS INT) "
   "AS yr, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 "
   "AS BIGINT) AS spend_cents FROM orders GROUP BY 1, 2), "
   "tiled AS (SELECT o_custkey, yr, NTILE(4) OVER (PARTITION BY yr "
   "ORDER BY spend_cents ASC, o_custkey ASC) AS tile FROM per "
   "WHERE yr IS NOT NULL AND spend_cents IS NOT NULL) "
   "SELECT CAST(a.tile AS INT) AS tile_from, "
   "CAST(b.tile AS INT) AS tile_to, "
   "CAST(COUNT(*) AS BIGINT) AS n_moves FROM tiled a JOIN tiled b "
   "ON a.o_custkey = b.o_custkey AND b.yr = a.yr + 1 GROUP BY 1, 2")
def orders_quartile_migration(spark, sf):
    """Year-over-year spend-quartile migration matrix: which quartile
    customers land in next year given this year's — the segment-
    movement flow (upgrades on the upper triangle, churn-toward-Q1 on
    the lower). Deterministic NTILE with a (value, key) tiebreak;
    key-grain self-join on (customer, year+1) — operators.features
    .quartile_migration."""
    from mura_spark.operators.features import quartile_migration
    o = table(spark, sf, "orders")
    per = (o.groupBy("o_custkey",
                     F.year("o_orderdate").alias("yr"))
            .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  * 100).cast("bigint").alias("spend_cents")))
    mig = quartile_migration(per, "o_custkey", "yr", "spend_cents")
    return mig.select(F.col("tile_from").cast("int").alias("tile_from"),
                      F.col("tile_to").cast("int").alias("tile_to"),
                      "n_moves")




_CUPED_CUT = "TIMESTAMP '2024-01-16 00:00:00'"




@q("events_ab_cuped",
   "WITH u AS (SELECT user_id, "
   f"CAST(coalesce(SUM(CASE WHEN ts < {_CUPED_CUT} THEN "
   "CAST(value AS DECIMAL(18,2)) END), 0) * 100 AS BIGINT) AS pre, "
   f"CAST(coalesce(SUM(CASE WHEN ts >= {_CUPED_CUT} THEN "
   "CAST(value AS DECIMAL(18,2)) END), 0) * 100 AS BIGINT) AS post "
   "FROM events GROUP BY 1), "
   "m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, "
   "CAST(SUM(CAST(pre AS DECIMAL(38,0))) AS DOUBLE) AS sp, "
   "CAST(SUM(CAST(post AS DECIMAL(38,0))) AS DOUBLE) AS sq, "
   "CAST(SUM(CAST(pre * post AS DECIMAL(38,0))) AS DOUBLE) AS spq, "
   "CAST(SUM(CAST(pre * pre AS DECIMAL(38,0))) AS DOUBLE) AS spp, "
   "CAST(SUM(CAST(post * post AS DECIMAL(38,0))) AS DOUBLE) AS sqq "
   "FROM u), "
   "t AS (SELECT n, sp, "
   "CASE WHEN (n * spp - sp * sp) > 0 THEN "
   "(n * spq - sp * sq) / (n * spp - sp * sp) ELSE 0 END AS theta, "
   "CASE WHEN (n * spp - sp * sp) > 0 AND (n * sqq - sq * sq) > 0 "
   "THEN (n * spq - sp * sq) * (n * spq - sp * sq) "
   "/ ((n * spp - sp * sp) * (n * sqq - sq * sq)) ELSE 0 END AS rho2 "
   "FROM m), "
   f"y AS (SELECT {_AB_BUCKET} % 2 AS variant, post, rho2, "
   "CAST(floor((CAST(post AS DOUBLE) - theta "
   "* (CAST(pre AS DOUBLE) - sp / n)) * 1000000.0 + 0.5) AS BIGINT) "
   "AS ym FROM u CROSS JOIN t) "
   "SELECT CAST(variant AS INT) AS variant, "
   "CAST(COUNT(*) AS BIGINT) AS n_users, "
   "CAST(floor(CAST(SUM(CAST(post AS DECIMAL(38,0))) AS DOUBLE) "
   "/ CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) "
   "AS raw_mean_micro, "
   "CAST(floor(CAST(SUM(CAST(ym AS DECIMAL(38,0))) AS DOUBLE) "
   "/ CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS adj_mean_micro, "
   "CAST(floor(MAX(rho2) * 1000000.0 + 0.5) AS BIGINT) "
   "AS var_reduction_micro FROM y GROUP BY 1")
def events_ab_cuped(spark, sf):
    """CUPED-adjusted A/B readout: each user's post-period spend is
    shifted by θ·(pre − mean_pre) with θ = cov/var from the pooled
    pre-period — the standard experimentation variance-reduction
    transform (rho² ≈ the variance removed). Exact moments in
    DECIMAL(38,0); the per-user adjusted metric is quantized BEFORE
    the variant sum; assignment reuses the portable MD5 bucket."""
    from mura_spark.functions.hashing import md5_hash48
    ev = table(spark, sf, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    dec = F.col("value").cast("decimal(18,2)")
    u = (ev.groupBy("user_id")
           .agg((F.coalesce(F.sum(F.when(F.col("ts") < cut, dec)),
                            F.lit(0)) * 100).cast("bigint").alias("pre"),
                (F.coalesce(F.sum(F.when(F.col("ts") >= cut, dec)),
                            F.lit(0)) * 100).cast("bigint")
                .alias("post")))
    d38 = lambda c: F.sum(c.cast("decimal(38,0)")).cast("double")  # noqa: E731
    m = u.agg(F.count(F.lit(1)).cast("double").alias("n"),
              d38(F.col("pre")).alias("sp"),
              d38(F.col("post")).alias("sq"),
              d38(F.col("pre") * F.col("post")).alias("spq"),
              d38(F.col("pre") * F.col("pre")).alias("spp"),
              d38(F.col("post") * F.col("post")).alias("sqq"))
    n, sp, sq = F.col("n"), F.col("sp"), F.col("sq")
    spq, spp, sqq = F.col("spq"), F.col("spp"), F.col("sqq")
    varp = n * spp - sp * sp
    theta = F.when(varp > 0,
                   (n * spq - sp * sq) / varp).otherwise(F.lit(0.0))
    rho2 = F.when((varp > 0) & ((n * sqq - sq * sq) > 0),
                  (n * spq - sp * sq) * (n * spq - sp * sq)
                  / (varp * (n * sqq - sq * sq))).otherwise(F.lit(0.0))
    t = m.select(n.alias("n"), sp.alias("sp"), theta.alias("theta"),
                 rho2.alias("rho2"))
    ym = F.floor((F.col("post").cast("double") - F.col("theta")
                  * (F.col("pre").cast("double")
                     - F.col("sp") / F.col("n"))) * F.lit(1000000.0)
                 + F.lit(0.5)).cast("bigint")
    y = (u.crossJoin(F.broadcast(t))
          .select((md5_hash48(F.col("user_id").cast("string"))
                   % 1000 % 2).cast("int").alias("variant"),
                  "post", "rho2", ym.alias("ym")))
    return (y.groupBy("variant")
             .agg(F.count(F.lit(1)).alias("n_users"),
                  F.floor(F.sum(F.col("post").cast("decimal(38,0)"))
                           .cast("double")
                          / F.count(F.lit(1)).cast("double")
                          * F.lit(1000000.0) + F.lit(0.5))
                   .cast("bigint").alias("raw_mean_micro"),
                  F.floor(F.sum(F.col("ym").cast("decimal(38,0)"))
                           .cast("double")
                          / F.count(F.lit(1)).cast("double"))
                   .cast("bigint").alias("adj_mean_micro"),
                  F.floor(F.max("rho2") * F.lit(1000000.0)
                          + F.lit(0.5)).cast("bigint")
                   .alias("var_reduction_micro")))




@q("orders_backlog_aging",
   "WITH ref AS (SELECT MAX(o_orderdate) AS mx FROM orders), "
   "a AS (SELECT o_orderstatus, "
   "CASE WHEN epoch_us(mx) - epoch_us(o_orderdate) "
   "<= 30 * 86400000000 THEN '0-30d' "
   "WHEN epoch_us(mx) - epoch_us(o_orderdate) "
   "<= 90 * 86400000000 THEN '31-90d' "
   "WHEN epoch_us(mx) - epoch_us(o_orderdate) "
   "<= 365 * 86400000000 THEN '91-365d' ELSE '>365d' END AS age_bucket, "
   "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
   "FROM orders CROSS JOIN ref WHERE o_orderstatus <> 'F') "
   "SELECT o_orderstatus, age_bucket, CAST(COUNT(*) AS BIGINT) "
   "AS n_orders, CAST(SUM(cents) AS BIGINT) AS backlog_cents "
   "FROM a GROUP BY 1, 2")
def orders_backlog_aging(spark, sf):
    """Open-order backlog aging: non-finalized orders bucketed by age
    from the newest order date (0-30/31-90/91-365/>365 days), with
    exact-cents value at risk per (status, bucket) — the operational
    WIP report every order system runs nightly. Broadcast max-date
    singleton; one conditional rollup; age in exact µs integers."""
    o = table(spark, sf, "orders")
    ref = o.agg(F.max("o_orderdate").alias("mx"))
    age_us = F.unix_micros("mx") - F.unix_micros("o_orderdate")
    day = 86400000000
    bucket = (F.when(age_us <= 30 * day, "0-30d")
               .when(age_us <= 90 * day, "31-90d")
               .when(age_us <= 365 * day, "91-365d")
               .otherwise(">365d"))
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100) \
        .cast("bigint")
    return (o.filter(F.col("o_orderstatus") != "F")
             .crossJoin(F.broadcast(ref))
             .groupBy("o_orderstatus", bucket.alias("age_bucket"))
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  F.sum(cents).alias("backlog_cents")))




@q("supplier_return_rate_lcb",
   "WITH c AS (SELECT l.l_suppkey AS s_suppkey, "
   "CAST(COUNT(*) AS BIGINT) AS n_lines, "
   "CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) "
   "AS BIGINT) AS n_returns FROM lineitem l GROUP BY 1) "
   "SELECT s_suppkey, n_lines, n_returns, "
   "CAST(floor(CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE) "
   "* 1000000.0 + 0.5) AS BIGINT) AS rate_micro, "
   "CAST(floor((CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE) "
   "+ 1.959964 * 1.959964 / (2.0 * CAST(n_lines AS DOUBLE)) "
   "- 1.959964 * sqrt(CAST(n_returns AS DOUBLE) "
   "/ CAST(n_lines AS DOUBLE) * (1.0 - CAST(n_returns AS DOUBLE) "
   "/ CAST(n_lines AS DOUBLE)) / CAST(n_lines AS DOUBLE) "
   "+ 1.959964 * 1.959964 / (4.0 * CAST(n_lines AS DOUBLE) "
   "* CAST(n_lines AS DOUBLE)))) "
   "/ (1.0 + 1.959964 * 1.959964 / CAST(n_lines AS DOUBLE)) "
   "* 1000000.0 + 0.5) AS BIGINT) AS lcb_micro FROM c")
def supplier_return_rate_lcb(spark, sf):
    """Supplier return-rate ranking by Wilson LOWER confidence bound —
    the small-sample-safe ranking rule (Evan Miller's 'how not to
    sort by average rating', here: which suppliers are provably bad,
    not just unlucky on 3 lines). One supplier rollup; the Wilson
    bound is one mirrored closed-form double expression per supplier,
    micro-floored. Complements stats_wilson_error_rate (global) and
    stats_eb_shrinkage (Bayesian smoothing) as the frequentist
    per-group guard."""
    li = table(spark, sf, "lineitem")
    c = (li.groupBy(F.col("l_suppkey").alias("s_suppkey"))
           .agg(F.count(F.lit(1)).alias("n_lines"),
                F.sum(F.when(F.col("l_returnflag") == "R", 1)
                       .otherwise(0)).alias("n_returns")))
    nD = F.col("n_lines").cast("double")
    p = F.col("n_returns").cast("double") / nD
    z = F.lit(1.959964)
    lcb = ((p + z * z / (F.lit(2.0) * nD)
            - z * F.sqrt(p * (F.lit(1.0) - p) / nD
                         + z * z / (F.lit(4.0) * nD * nD)))
           / (F.lit(1.0) + z * z / nD))
    mic = lambda x: F.floor(x * F.lit(1000000.0)  # noqa: E731
                            + F.lit(0.5)).cast("bigint")
    return c.select("s_suppkey", "n_lines", "n_returns",
                    mic(p).alias("rate_micro"),
                    mic(lcb).alias("lcb_micro"))
