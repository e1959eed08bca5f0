"""Statistical-test and modeling queries (the ``stats_*`` family): exact
correlation/regression (Pearson, grouped and two-variable OLS, Deming,
partial correlation), two-sample and distributional tests (KS,
Mann-Whitney, ANOVA, Brown-Forsythe, runs, Ljung-Box, ADF,
Mann-Kendall), experiment readouts (z-test, power, TOST, CMH, paired
t), robust/quantile diagnostics (bootstrap CI, pinball, dispersion,
Hill tail, Mahalanobis), and association measures (chi-square, mutual
information, Kendall tau, Spearman).

Mechanically split from analytics_q.py (registry semantics unchanged);
the determinism posture is the same: anything passing through a
transcendental (ln/exp/pow/log10) quantizes per row to integer
micro-units BEFORE aggregation, everything else is exact
integer/decimal arithmetic mirrored subexpression-for-subexpression in
the SQL twins.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mura_spark.functions.quantize import micro
from mura_spark.suite.common import registry, table

SPARK_QUERIES, ORACLE_SQL, q = registry()


# ----------------------------------------------------------------- profiling

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]




def _sql_corr() -> str:
    cols = _CORR_COLS
    # scaled-integer moments mirroring operators.profile.corr_pairs:
    # per-row products in BIGINT, accumulation in DECIMAL(38,0)
    d = lambda c: f"CAST(round(CAST({c} AS DOUBLE) * 100.0) AS BIGINT)"  # noqa: E731
    moments = ["COUNT(*) AS n"]
    for c in cols:
        moments.append(f"SUM(CAST({d(c)} AS DECIMAL(38,0))) AS s_{c}")
        moments.append(f"SUM(CAST({d(c)} * {d(c)} AS DECIMAL(38,0))) "
                       f"AS q_{c}")
    pairs = [(x, y) for i, x in enumerate(cols) for y in cols[i + 1:]]
    for x, y in pairs:
        moments.append(f"SUM(CAST({d(x)} * {d(y)} AS DECIMAL(38,0))) "
                       f"AS p_{x}_{y}")
    selects = []
    for x, y in pairs:
        den = (f"(CAST(n AS DOUBLE) * CAST(q_{x} AS DOUBLE) "
               f"- CAST(s_{x} AS DOUBLE) * CAST(s_{x} AS DOUBLE)) "
               f"* (CAST(n AS DOUBLE) * CAST(q_{y} AS DOUBLE) "
               f"- CAST(s_{y} AS DOUBLE) * CAST(s_{y} AS DOUBLE))")
        rho = (f"(CAST(n AS DOUBLE) * CAST(p_{x}_{y} AS DOUBLE) "
               f"- CAST(s_{x} AS DOUBLE) * CAST(s_{y} AS DOUBLE)) "
               f"/ sqrt({den})")
        selects.append(
            f"SELECT '{x}' AS col_x, '{y}' AS col_y, "
            f"CASE WHEN {den} > 0.0 THEN "
            f"CAST(floor({rho} * 1000000.0 + 0.5) AS BIGINT) END "
            "AS corr_micro FROM m")
    return ("WITH m AS (SELECT " + ", ".join(moments) + " FROM lineitem) "
            + " UNION ALL ".join(selects))




@q("stats_corr_lineitem", _sql_corr())
def stats_corr_lineitem(spark, sf):
    """Pearson correlation matrix over lineitem's numeric measures from
    exact decimal moments in ONE scan — F.corr's streaming co-moments are
    partition-order-dependent in their low bits and not reproducible
    (operators.profile.corr_pairs has the full argument)."""
    from mura_spark.operators.profile import corr_pairs
    li = table(spark, sf, "lineitem")
    return corr_pairs(li, _CORR_COLS, scale=2)




# ------------------------------------------------------- round-5h additions

@q("stats_ols_value_by_hour", None)  # oracle attached below (built string)
def stats_ols_value_by_hour(spark, sf):
    """Per-event-type linear trend of value over hour-of-day — the
    telemetry drift diagnostic. Exact fixed-point moments in ONE
    map-side-combined groupBy, closed-form slope/intercept
    (operators.stats.group_ols)."""
    from mura_spark.operators.stats import group_ols
    ev = table(spark, sf, "events")
    base = ev.select("event_type", F.hour("ts").alias("hr"), "value")
    return group_ols(base, ["event_type"], "hr", "value")




def _ols_oracle() -> str:
    from mura_spark.operators.stats import sql_group_ols
    return sql_group_ols(
        "(SELECT event_type, EXTRACT(hour FROM ts) AS hr, value "
        "FROM events)",
        ["event_type"], "hr", "value")




ORACLE_SQL["stats_ols_value_by_hour"] = _ols_oracle()




@q("stats_chi2_lang_source",
   "WITH cells AS (SELECT lang AS r, source AS c, COUNT(*) AS observed "
   "FROM documents GROUP BY 1, 2), "
   "rt AS (SELECT r, CAST(SUM(observed) AS BIGINT) AS rtv "
   "FROM cells GROUP BY 1), "
   "ct AS (SELECT c, CAST(SUM(observed) AS BIGINT) AS ctv "
   "FROM cells GROUP BY 1), "
   "t AS (SELECT CAST(SUM(observed) AS BIGINT) AS tv FROM cells) "
   "SELECT r AS lang, c AS source, observed, "
   "CAST(floor(CAST(rtv AS DOUBLE) * CAST(ctv AS DOUBLE) "
   "/ CAST(tv AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS expected_micro, "
   "CAST(floor((CAST(observed AS DOUBLE) - CAST(rtv AS DOUBLE) "
   "* CAST(ctv AS DOUBLE) / CAST(tv AS DOUBLE)) "
   "* (CAST(observed AS DOUBLE) - CAST(rtv AS DOUBLE) "
   "* CAST(ctv AS DOUBLE) / CAST(tv AS DOUBLE)) "
   "/ (CAST(rtv AS DOUBLE) * CAST(ctv AS DOUBLE) / CAST(tv AS DOUBLE)) "
   "* 1000000.0 + 0.5) AS BIGINT) AS chi2_micro "
   "FROM cells JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN t")
def stats_chi2_lang_source(spark, sf):
    """Chi-square independence cells for language × source over the
    corpus — is the language mix uniform across sources? Marginals are
    groupBys over the already-aggregated cells; the grand statistic is
    the exact integer sum of chi2_micro (operators.stats)."""
    from mura_spark.operators.stats import chi2_contingency
    d = table(spark, sf, "documents")
    return chi2_contingency(d, "lang", "source")




# ------------------------------------------------------- round-5o additions

_AB_BUCKET = ("CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12) "
              "AS BIGINT) % 1000")




@q("stats_ab_ztest",
   f"WITH u AS (SELECT user_id, {_AB_BUCKET} % 2 AS variant, "
   "CASE WHEN COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) "
   ">= 15 THEN 1 ELSE 0 END AS conv FROM events GROUP BY 1), "
   "v AS (SELECT variant, COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS c "
   "FROM u GROUP BY 1), "
   "w AS (SELECT MAX(CASE WHEN variant = 0 THEN n END) AS na, "
   "MAX(CASE WHEN variant = 0 THEN c END) AS ca, "
   "MAX(CASE WHEN variant = 1 THEN n END) AS nb, "
   "MAX(CASE WHEN variant = 1 THEN c END) AS cb FROM v) "
   "SELECT na, ca, nb, cb, "
   "CAST(floor(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) * 1000000.0 "
   "+ 0.5) AS BIGINT) AS rate_a_micro, "
   "CAST(floor(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) * 1000000.0 "
   "+ 0.5) AS BIGINT) AS rate_b_micro, "
   "CASE WHEN ca + cb > 0 AND ca + cb < na + nb THEN "
   "CAST(floor((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) "
   "- CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) "
   "/ sqrt(CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE) "
   "* (1.0 - CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE)) "
   "* (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))) "
   "* 1000000.0 + 0.5) AS BIGINT) END AS z_micro FROM w")
def stats_ab_ztest(spark, sf):
    """Two-proportion z-test over a deterministic hash-bucketed A/B
    split of users. The tested event is HEAVY-BUYER conversion — a
    user with ≥ 15 purchase events — chosen so rates land mid-range on
    the synthetic corpus ("any purchase" saturates near 100% there and
    degenerates the pooled variance); swap the threshold for your own
    conversion definition. Assignment reuses the portable MD5 bucket
    convention; the statistic combines exact integer counts with one
    mirrored double expression (÷, √ only), micro-floored."""
    from mura_spark.functions.hashing import md5_hash48
    from mura_spark.functions.quantize import micro
    ev = table(spark, sf, "events")
    u = (ev.groupBy("user_id")
           .agg((F.sum((F.col("event_type") == "purchase").cast("int"))
                 >= 15).cast("int").alias("conv"))
           .select((md5_hash48(F.col("user_id").cast("string"))
                    % 1000 % 2).alias("variant"), "conv"))
    v = u.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("conv").cast("bigint").alias("c"))
    w = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("na"),
        F.max(F.when(F.col("variant") == 0, F.col("c"))).alias("ca"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("variant") == 1, F.col("c"))).alias("cb"))
    na, ca = F.col("na").cast("double"), F.col("ca").cast("double")
    nb, cb = F.col("nb").cast("double"), F.col("cb").cast("double")
    pool = (F.col("ca") + F.col("cb")).cast("double") \
        / (F.col("na") + F.col("nb")).cast("double")
    z = ((ca / na - cb / nb)
         / F.sqrt(pool * (F.lit(1.0) - pool)
                  * (F.lit(1.0) / na + F.lit(1.0) / nb)))
    tot_c = F.col("ca") + F.col("cb")
    tot_n = F.col("na") + F.col("nb")
    # degenerate pool (0% or 100% conversion) -> z undefined: NULL, not
    # a DIVIDE_BY_ZERO abort under ANSI
    return w.select("na", "ca", "nb", "cb",
                    micro(ca / na).alias("rate_a_micro"),
                    micro(cb / nb).alias("rate_b_micro"),
                    F.when((tot_c > 0) & (tot_c < tot_n),
                           micro(z)).alias("z_micro"))




# ------------------------------------------------------- round-5r additions

def _ks_oracle() -> str:
    from mura_spark.operators.stats import sql_ks_2sample
    return sql_ks_2sample("events", "value", "event_type",
                          "click", "purchase")




@q("stats_ks_value", _ks_oracle())
def stats_ks_value(spark, sf):
    """Two-sample Kolmogorov–Smirnov D between click and purchase value
    distributions — the distribution-shift monitor a pipeline runs when
    an upstream schema/source change lands. Exact-integer ECDF numerator
    in DECIMAL, one terminal division micro-floored
    (operators.stats.ks_2sample); groupBy reduces to the bounded cents
    domain before the cumulative window."""
    from mura_spark.operators.stats import ks_2sample
    ev = table(spark, sf, "events")
    return ks_2sample(ev, "value", "event_type", "click", "purchase")




def _mwu_oracle() -> str:
    from mura_spark.operators.stats import sql_mannwhitney_u
    return sql_mannwhitney_u("events", "value", "event_type",
                             "click", "purchase")




@q("stats_mwu_value", _mwu_oracle())
def stats_mwu_value(spark, sf):
    """Mann–Whitney U (mid-rank ties) between click and purchase values:
    exact doubled-U integer, AUC effect size, tie-corrected z — the
    nonparametric A/B readout complementing stats_ab_ztest's
    proportions. Same reduced-domain plan as stats_ks_value
    (operators.stats.mannwhitney_u)."""
    from mura_spark.operators.stats import mannwhitney_u
    ev = table(spark, sf, "events")
    return mannwhitney_u(ev, "value", "event_type", "click", "purchase")




@q("stats_bootstrap_ci",
   "WITH grp AS (SELECT unnest(generate_series(0, 9)) AS g), "
   "slt AS (SELECT unnest(generate_series(0, 9)) AS s), "
   "ev AS (SELECT event_id, "
   "CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v "
   "FROM events WHERE event_type = 'purchase'), "
   "hashed AS (SELECT v, g, md5(CAST(event_id AS VARCHAR) || ':' || "
   "CAST(g AS VARCHAR)) AS h FROM ev CROSS JOIN grp), "
   "wts AS (SELECT v, g * 10 + s AS b, "
   "CAST('0x' || substr(h, s * 3 + 1, 3) AS BIGINT) AS u "
   "FROM hashed CROSS JOIN slt), "
   "wtd AS (SELECT b, v, CASE WHEN u < 1507 THEN 0 "
   "WHEN u < 3014 THEN 1 WHEN u < 3767 THEN 2 WHEN u < 4018 THEN 3 "
   "WHEN u < 4081 THEN 4 WHEN u < 4094 THEN 5 ELSE 6 END AS w "
   "FROM wts) "
   "SELECT b, CAST(SUM(w) AS BIGINT) AS n_eff, "
   "CAST(floor(CAST(SUM(CAST(w * v AS DECIMAL(38,0))) AS DOUBLE) "
   "/ CAST(SUM(w) AS DOUBLE) + 0.5) AS BIGINT) AS mean_micro "
   "FROM wtd GROUP BY b")
def stats_bootstrap_ci(spark, sf):
    """Poisson bootstrap (Chamandy et al. 2012 — the streaming-scale
    bootstrap: per-replicate multinomial counts approximated by
    independent Poisson(1) weights) over mean purchase value, 100
    replicates. The weight is DERIVED, not drawn: 100 replicates need
    only TEN MD5s per row — each 128-bit digest of (event_id, hash
    group) yields ten independent 12-bit slices, each mapped through
    the Poisson(1) cdf thresholds (×4096) — so both engines see
    identical resamples and the replicate means hash-match exactly
    (the naive one-MD5-per-replicate layout measured 2.0× slower at the
    30× probe; the digest is the largest per-row cost). The hash is computed in the
    projection BELOW the slot explode, so each digest is materialized
    once and fanned out, never recomputed per replicate. Scale shape:
    the B× row blowup is map-side-combined to B groups before any
    shuffle — no resample is ever materialized — and the weighted sums
    accumulate as exact DECIMAL(38,0) so replicate means are
    aggregation-order-free; O(B·n) work is inherent to a full-corpus
    bootstrap (probe: linear at 10×/30×, constant-bound by the 10
    digests). The 2.5%/97.5% envelope over the 100 replicate means is
    pinned in pytest (the CI itself is order statistics over 100
    rows)."""
    from mura_spark.functions.quantize import micro
    ev = (table(spark, sf, "events")
          .where(F.col("event_type") == "purchase")
          .select("event_id", micro(F.col("value")).alias("v")))
    grp = spark.range(10).select(F.col("id").alias("g"))
    hashed = ev.crossJoin(F.broadcast(grp)).select(
        "v", "g",
        F.md5(F.concat_ws(":", F.col("event_id").cast("string"),
                          F.col("g").cast("string"))).alias("h"))
    u_slices = F.array(*[
        F.conv(F.substring("h", s * 3 + 1, 3), 16, 10).cast("bigint")
        for s in range(10)])
    wts = hashed.select(
        "v", "g", F.posexplode(u_slices).alias("s", "u"))
    w = (F.when(F.col("u") < 1507, 0).when(F.col("u") < 3014, 1)
          .when(F.col("u") < 3767, 2).when(F.col("u") < 4018, 3)
          .when(F.col("u") < 4081, 4).when(F.col("u") < 4094, 5)
          .otherwise(6))
    wtd = wts.select((F.col("g") * 10 + F.col("s")).alias("b"),
                     "v", w.alias("w"))
    mean = (F.floor(F.sum((F.col("w") * F.col("v"))
                          .cast("decimal(38,0)")).cast("double")
                    / F.sum("w").cast("double") + F.lit(0.5))
             .cast("bigint"))
    return (wtd.groupBy("b")
               .agg(F.sum("w").cast("bigint").alias("n_eff"),
                    mean.alias("mean_micro")))




@q("stats_auc_length",
   "WITH cells AS (SELECT n_chars AS s, "
   "SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p, "
   "SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS n "
   "FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL "
   "GROUP BY 1), "
   "pref AS (SELECT p, n, 2 * p * coalesce(SUM(n) OVER (ORDER BY s "
   "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + p * n AS c "
   "FROM cells), "
   "tot AS (SELECT CAST(SUM(p) AS BIGINT) AS n_pos, "
   "CAST(SUM(n) AS BIGINT) AS n_neg, SUM(c) AS auc2 FROM pref) "
   "SELECT n_pos, n_neg, CASE WHEN n_pos > 0 AND n_neg > 0 THEN "
   "CAST(floor(CAST(auc2 AS DOUBLE) / (2.0 * CAST(n_pos AS DOUBLE) "
   "* CAST(n_neg AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) END "
   "AS auc_micro FROM tot")
def stats_auc_length(spark, sf):
    """Exact ROC AUC of document length as a predictor of lang='en' —
    the rank-formulation evaluation (P(score⁺>score⁻) + ½ ties) every
    quality-classifier loop needs, integer-exact until one final
    division (operators.features.rank_auc). Rows reduce to per-score
    counts before the domain-bounded prefix walk."""
    from mura_spark.operators.features import rank_auc
    d = table(spark, sf, "documents")
    return rank_auc(
        d.select("n_chars", (F.col("lang") == "en").alias("is_en")),
        "n_chars", "is_en")




@q("stats_mutual_information",
   "WITH cells AS (SELECT lang, source, COUNT(*) AS c FROM documents "
   "GROUP BY 1, 2), "
   "ra AS (SELECT lang, SUM(c) AS ca FROM cells GROUP BY 1), "
   "rb AS (SELECT source, SUM(c) AS cb FROM cells GROUP BY 1), "
   "tot AS (SELECT SUM(c) AS n FROM cells), "
   "per AS (SELECT n, CAST(floor((CAST(c AS DOUBLE) "
   "/ CAST(n AS DOUBLE)) * ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE)) "
   "/ (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))) * 1000000.0 + 0.5) "
   "AS BIGINT) AS t FROM cells JOIN ra USING (lang) "
   "JOIN rb USING (source) CROSS JOIN tot) "
   "SELECT CAST(MAX(n) AS BIGINT) AS n, "
   "CAST(COUNT(*) AS BIGINT) AS n_cells, "
   "CAST(SUM(t) AS BIGINT) AS mi_micro FROM per")
def stats_mutual_information(spark, sf):
    """Mutual information between language and source in micro-nats —
    the information-theoretic association screen beside
    stats_chi2_lang_source: how much does knowing the source tell you
    about the language of a document? Per-cell ln terms quantized
    before the sum (operators.stats.mutual_information)."""
    from mura_spark.operators.stats import mutual_information
    d = table(spark, sf, "documents")
    return mutual_information(d, "lang", "source")




@q("stats_weighted_median_spend",
   "WITH per AS (SELECT o_custkey, "
   "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) "
   "AS spend_cents, COUNT(*) AS n_orders FROM orders GROUP BY 1), "
   "j AS (SELECT c_mktsegment, spend_cents, n_orders FROM per "
   "JOIN customer ON c_custkey = o_custkey), "
   "cum AS (SELECT c_mktsegment, spend_cents, "
   "SUM(n_orders) OVER (PARTITION BY c_mktsegment ORDER BY spend_cents "
   "ASC ROWS UNBOUNDED PRECEDING) AS cw, "
   "SUM(n_orders) OVER (PARTITION BY c_mktsegment) AS wt FROM j) "
   "SELECT c_mktsegment, CAST(MAX(wt) AS BIGINT) AS w_total, "
   "CAST(MIN(spend_cents) AS BIGINT) AS median_value "
   "FROM cum WHERE 2 * cw >= wt GROUP BY 1")
def stats_weighted_median_spend(spark, sf):
    """Order-count-weighted median customer spend per market segment —
    the importance-weighted exact quantile (frequent buyers count
    more), integer cents and integer weights so the half-total
    threshold test is division-free (operators.stats
    .group_weighted_median)."""
    from mura_spark.operators.stats import group_weighted_median
    o = table(spark, sf, "orders")
    c = table(spark, sf, "customer")
    per = (o.groupBy("o_custkey")
            .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  * 100).cast("bigint").alias("spend_cents"),
                 F.count(F.lit(1)).alias("n_orders")))
    j = (per.join(c.select(F.col("c_custkey").alias("o_custkey"),
                           "c_mktsegment"), "o_custkey")
            .select("c_mktsegment", "spend_cents", "n_orders"))
    return group_weighted_median(j, ["c_mktsegment"], "spend_cents",
                                 "n_orders")




def _ols2_sql(tbl: str) -> str:
    """Two-regressor OLS (y=extendedprice¢ on quantity, discount%) via
    exact raw moments + Cramer's rule — ONE text, run verbatim by BOTH
    engines (Spark SQL over a temp view, DuckDB over its view), so the
    double expression trees cannot desynchronize. Moments are per-row
    BIGINT products summed in DECIMAL(38,0); everything after is
    IEEE-deterministic double arithmetic on identical inputs."""
    y = "CAST(round(CAST(l_extendedprice AS DOUBLE) * 100.0) AS BIGINT)"
    x1 = "CAST(l_quantity AS BIGINT)"
    x2 = "CAST(round(CAST(l_discount AS DOUBLE) * 100.0) AS BIGINT)"
    dec = lambda e: f"SUM(CAST({e} AS DECIMAL(38,0)))"  # noqa: E731
    return (
        "WITH m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, "
        f"CAST(COUNT(*) AS BIGINT) AS n_rows, "
        f"CAST({dec(x1)} AS DOUBLE) AS s1, "
        f"CAST({dec(x2)} AS DOUBLE) AS s2, "
        f"CAST({dec(y)} AS DOUBLE) AS sy, "
        f"CAST({dec(f'{x1} * {x1}')} AS DOUBLE) AS q11, "
        f"CAST({dec(f'{x2} * {x2}')} AS DOUBLE) AS q22, "
        f"CAST({dec(f'{x1} * {x2}')} AS DOUBLE) AS q12, "
        f"CAST({dec(f'{x1} * {y}')} AS DOUBLE) AS p1y, "
        f"CAST({dec(f'{x2} * {y}')} AS DOUBLE) AS p2y, "
        f"CAST({dec(f'{y} * {y}')} AS DOUBLE) AS syy "
        f"FROM {tbl}), "
        "d AS (SELECT n_rows, n, sy, p1y, p2y, syy, "
        "n * (q11 * q22 - q12 * q12) - s1 * (s1 * q22 - q12 * s2) "
        "+ s2 * (s1 * q12 - q11 * s2) AS det, "
        "sy * (q11 * q22 - q12 * q12) - s1 * (p1y * q22 - q12 * p2y) "
        "+ s2 * (p1y * q12 - q11 * p2y) AS det0, "
        "n * (p1y * q22 - p2y * q12) - sy * (s1 * q22 - q12 * s2) "
        "+ s2 * (s1 * p2y - p1y * s2) AS det1, "
        "n * (q11 * p2y - q12 * p1y) - s1 * (s1 * p2y - p1y * s2) "
        "+ sy * (s1 * q12 - q11 * s2) AS det2 FROM m), "
        "f AS (SELECT n_rows, n, sy, p1y, p2y, syy, "
        "det0 / det AS b0, det1 / det AS b1, det2 / det AS b2 FROM d) "
        "SELECT n_rows, "
        "CAST(floor(b0 * 1000000.0 + 0.5) AS BIGINT) AS b0_micro, "
        "CAST(floor(b1 * 1000000.0 + 0.5) AS BIGINT) AS b1_micro, "
        "CAST(floor(b2 * 1000000.0 + 0.5) AS BIGINT) AS b2_micro, "
        "CAST(floor((1.0 - (syy - b0 * sy - b1 * p1y - b2 * p2y) "
        "/ (syy - sy * sy / n)) * 1000000.0 + 0.5) AS BIGINT) "
        "AS r2_micro FROM f")




@q("stats_ols2_lineitem", _ols2_sql("lineitem"))
def stats_ols2_lineitem(spark, sf):
    """Two-regressor least squares (revenue¢ ~ quantity + discount%)
    from exact raw moments and Cramer's rule — multiple regression in
    one aggregation pass (no iterative solver), the multivariate
    sibling of stats_ols_value_by_hour. The SAME SQL text runs on both
    engines, so the closed-form double arithmetic is mirrored by
    construction."""
    return spark.sql(_ols2_sql("{li}"), li=table(spark, sf, "lineitem"))




def _sql_anova(cells: str, group: str, value: str) -> str:
    """DuckDB rendering of operators.stats.oneway_anova over integer
    values — mirrored term-for-term (quantize-to-units before any
    cross-group sum)."""
    return (
        f"WITH g AS (SELECT {group} AS grp, COUNT(*) AS ng, "
        f"SUM(CAST({value} AS DECIMAL(38,0))) AS sg, "
        f"SUM(CAST({value} * {value} AS DECIMAL(38,0))) AS qg "
        f"FROM {cells} GROUP BY 1), "
        "t AS (SELECT ng, sg, qg, CAST(floor(CAST(sg AS DOUBLE) "
        "* CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) + 0.5) "
        "AS DECIMAL(38,0)) AS tm FROM g), "
        "m AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, "
        "CAST(SUM(ng) AS BIGINT) AS n, CAST(SUM(tm) AS DECIMAL(38,0)) "
        "AS a, SUM(sg) AS s, SUM(qg) AS q FROM t), "
        "d AS (SELECT k, n, greatest(a - CAST(floor(CAST(s AS DOUBLE) "
        "* CAST(s AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) "
        "AS DECIMAL(38,0)), 0) AS ssb, "
        "CAST(q AS DOUBLE) - CAST(a AS DOUBLE) AS ssw FROM m) "
        "SELECT k, n, CASE WHEN k > 1 AND ssw > 0 THEN "
        "CAST(floor((CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE)) "
        "/ (ssw / CAST(n - k AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) "
        "END AS f_micro, CASE WHEN k > 1 AND ssw > 0 THEN "
        "CAST(floor(CAST(ssb AS DOUBLE) / (CAST(ssb AS DOUBLE) + ssw) "
        "* 1000000.0 + 0.5) AS BIGINT) END AS eta2_micro FROM d")




@q("stats_anova_value_by_type",
   _sql_anova("(SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) "
              "* 100 AS BIGINT) AS cents FROM events)",
              "event_type", "cents"))
def stats_anova_value_by_type(spark, sf):
    """One-way ANOVA: do mean event values differ across the five
    event types? F statistic + η² effect size from exact decimal
    moments, group terms quantized to integer cents² before any
    cross-group float sum (operators.stats.oneway_anova)."""
    from mura_spark.operators.stats import oneway_anova
    ev = table(spark, sf, "events")
    cells = ev.select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
         .alias("cents"))
    return oneway_anova(cells, "event_type", "cents")




def _bf_oracle() -> str:
    from mura_spark.operators.stats import sql_group_percentiles
    med = sql_group_percentiles(
        "(SELECT event_type, value FROM events "
        "WHERE value IS NOT NULL)", ["event_type"], "value",
        [0.5], ["med"])
    # deviations rescaled to 100-micro units: the ANOVA terms S_g²/n_g
    # must stay below 2⁶³ THROUGH Spark's floor(double)->LONG (micro
    # units put S²/n at ~10¹⁹ and wrap silently — caught by the oracle
    # gate on first run)
    dev = ("(SELECT e.event_type, CAST(floor(abs(CAST(floor(value "
           "* 1000000.0 + 0.5) AS BIGINT) - med_micro) / 10000.0) "
           "AS BIGINT) AS d FROM events e "
           f"JOIN ({med}) m ON e.event_type = m.event_type "
           "WHERE e.value IS NOT NULL)")
    return _sql_anova(dev, "event_type", "d")




@q("stats_brown_forsythe", _bf_oracle())
def stats_brown_forsythe(spark, sf):
    """Brown-Forsythe variance-homogeneity test: one-way ANOVA on
    absolute deviations from each type's MEDIAN (robust to heavy
    tails, unlike Levene-on-means) — do the event types differ in
    SPREAD, not just level? Composed from the exact order-statistic
    median and the same quantize-then-sum ANOVA core."""
    from mura_spark.functions.quantize import micro
    from mura_spark.operators.stats import (group_percentiles,
                                            oneway_anova)
    ev = (table(spark, sf, "events")
          .where(F.col("value").isNotNull())
          .select("event_type", "value"))
    med = group_percentiles(ev, ["event_type"], "value", [0.5], ["med"])
    dev = (ev.join(F.broadcast(med), "event_type")
             .select("event_type",
                     F.floor(F.abs(micro(F.col("value"))
                                   - F.col("med_micro"))
                             / F.lit(10000.0)).cast("bigint")
                      .alias("d")))
    return oneway_anova(dev, "event_type", "d")




@q("stats_spearman_qty_discount",
   "WITH r AS (SELECT 2 * RANK() OVER (ORDER BY l_quantity) "
   "+ COUNT(*) OVER (PARTITION BY l_quantity) - 1 AS rx, "
   "2 * RANK() OVER (ORDER BY l_discount) "
   "+ COUNT(*) OVER (PARTITION BY l_discount) - 1 AS ry "
   "FROM lineitem WHERE l_quantity IS NOT NULL "
   "AND l_discount IS NOT NULL), "
   "m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
   "CAST(SUM(CAST(rx AS DECIMAL(38,0))) AS DOUBLE) AS sx, "
   "CAST(SUM(CAST(ry AS DECIMAL(38,0))) AS DOUBLE) AS sy, "
   "CAST(SUM(CAST(rx * ry AS DECIMAL(38,0))) AS DOUBLE) AS sxy, "
   "CAST(SUM(CAST(rx * rx AS DECIMAL(38,0))) AS DOUBLE) AS sxx, "
   "CAST(SUM(CAST(ry * ry AS DECIMAL(38,0))) AS DOUBLE) AS syy "
   "FROM r) "
   "SELECT n, CASE WHEN sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) "
   "* (CAST(n AS DOUBLE) * syy - sy * sy)) > 0 THEN "
   "CAST(floor((CAST(n AS DOUBLE) * sxy - sx * sy) "
   "/ sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) "
   "* (CAST(n AS DOUBLE) * syy - sy * sy)) * 1000000.0 + 0.5) "
   "AS BIGINT) END AS rho_micro FROM m")
def stats_spearman_qty_discount(spark, sf):
    """Spearman rank correlation between quantity and discount — the
    monotone-association screen beside the Pearson pair matrix
    (stats_corr_lineitem): doubled average ranks are pure integers,
    so only the final division is floating point (operators.stats
    .spearman_corr)."""
    from mura_spark.operators.stats import spearman_corr
    li = table(spark, sf, "lineitem")
    return spearman_corr(li.select("l_quantity", "l_discount"),
                         "l_quantity", "l_discount")




@q("stats_power_analysis",
   "WITH u AS (SELECT user_id, "
   "SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS su "
   "FROM events WHERE value IS NOT NULL GROUP BY user_id), "
   "m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
   "SUM(su) AS s, "
   "SUM(CAST(su AS DECIMAL(18,0)) * CAST(su AS DECIMAL(18,0))) AS q "
   "FROM u), "
   "v AS (SELECT n, (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) "
   "* CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) "
   "/ CAST(n - 1 AS DOUBLE) AS var_cents, "
   "CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_cents FROM m) "
   "SELECT n, CAST(floor(mean_cents + 0.5) AS BIGINT) AS mean_cents, "
   "CAST(floor(sqrt(var_cents) + 0.5) AS BIGINT) AS sd_cents, "
   "CAST(ceil(2.0 * ((1.959964 + 0.841621) * (1.959964 + 0.841621)) "
   "* var_cents / ((0.02 * mean_cents) * (0.02 * mean_cents))) "
   "AS BIGINT) AS n_per_arm_mde2pct, "
   "CAST(ceil(2.0 * ((1.959964 + 0.841621) * (1.959964 + 0.841621)) "
   "* var_cents / ((0.05 * mean_cents) * (0.05 * mean_cents))) "
   "AS BIGINT) AS n_per_arm_mde5pct FROM v")
def stats_power_analysis(spark, sf):
    """A/B sample-size planner: USERS-per-arm needed to detect a 2% /
    5% lift of mean revenue per user at α=.05, power=.80 — the
    closed-form 2(z_α/2+z_β)²σ²/δ² every experimentation platform runs
    before launch. The variance is measured at the RANDOMIZATION UNIT
    (per-user value totals, one row per user): events within a user
    are correlated, so per-event variance understates the user-grain
    variance and sizes the experiment underpowered. Per-user sums stay
    exact integers and their squares exact decimals, so both engines
    agree bit-for-bit (z constants as shared literals, mirrored
    ceil)."""
    ev = table(spark, sf, "events").where(F.col("value").isNotNull())
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    u = (ev.groupBy("user_id").agg(F.sum(cents).alias("su")))
    sd = F.col("su").cast("decimal(18,0)")
    m = u.agg(F.count(F.lit(1)).alias("n"),
              F.sum("su").alias("s"),
              F.sum(sd * sd).alias("q"))
    nD = F.col("n").cast("double")
    var = ((F.col("q").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double") / nD)
           / (F.col("n") - F.lit(1)).cast("double"))
    mean = F.col("s").cast("double") / nD
    z2 = (F.lit(1.959964) + F.lit(0.841621)) \
        * (F.lit(1.959964) + F.lit(0.841621))
    arm = lambda f: F.ceil(F.lit(2.0) * z2 * var  # noqa: E731
                           / ((F.lit(f) * mean) * (F.lit(f) * mean))) \
        .cast("bigint")
    return m.select(
        "n",
        F.floor(mean + F.lit(0.5)).cast("bigint").alias("mean_cents"),
        F.floor(F.sqrt(var) + F.lit(0.5)).cast("bigint")
         .alias("sd_cents"),
        arm(0.02).alias("n_per_arm_mde2pct"),
        arm(0.05).alias("n_per_arm_mde5pct"))




@q("stats_simpson_screen",
   "WITH c AS (SELECT source, "
   "CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt, "
   "SUM(CASE WHEN lang = 'en' THEN CAST(n_chars AS DECIMAL(38,0)) "
   "ELSE CAST(0 AS DECIMAL(38,0)) END) AS st, "
   "CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nc, "
   "SUM(CASE WHEN lang <> 'en' THEN CAST(n_chars AS DECIMAL(38,0)) "
   "ELSE CAST(0 AS DECIMAL(38,0)) END) AS sc "
   "FROM documents GROUP BY 1), "
   "o AS (SELECT SUM(nt) AS ont, SUM(st) AS ost, "
   "SUM(nc) AS onc, SUM(sc) AS osc FROM c) "
   "SELECT source, nt AS n_treat, nc AS n_ctrl, "
   "CASE WHEN nt > 0 AND nc > 0 THEN "
   "CAST(CASE WHEN st * nc - sc * nt > 0 THEN 1 "
   "WHEN st * nc - sc * nt < 0 THEN -1 ELSE 0 END AS INT) END "
   "AS stratum_sign, "
   "CAST(CASE WHEN ost * onc - osc * ont > 0 THEN 1 "
   "WHEN ost * onc - osc * ont < 0 THEN -1 ELSE 0 END AS INT) "
   "AS overall_sign, "
   "CASE WHEN nt > 0 AND nc > 0 THEN "
   "CAST((CASE WHEN st * nc - sc * nt > 0 THEN 1 "
   "WHEN st * nc - sc * nt < 0 THEN -1 ELSE 0 END) "
   "* (CASE WHEN ost * onc - osc * ont > 0 THEN 1 "
   "WHEN ost * onc - osc * ont < 0 THEN -1 ELSE 0 END) = -1 AS INT) END "
   "AS is_reversed "
   "FROM c CROSS JOIN o")
def stats_simpson_screen(spark, sf):
    """Simpson's-paradox screen: is English text longer than
    non-English INSIDE each source the same way it is in the pooled
    corpus? Per-source sign of the mean-length gap vs the aggregate
    sign, with a reversal flag — the confounding check (source mix can
    flip a pooled comparison) run before trusting any corpus-level A/B
    readout. Exact integer cross-multiplication signs, zero divisions
    (operators.stats.simpson_screen)."""
    from mura_spark.operators.stats import simpson_screen
    d = table(spark, sf, "documents")
    return simpson_screen(d, "source", F.col("lang") == "en", "n_chars")




@q("stats_cmh_odds",
   "WITH c AS (SELECT hour(ts) AS stratum, "
   "CAST(SUM(CASE WHEN isodow(ts) >= 6 AND event_type = 'purchase' "
   "THEN 1 ELSE 0 END) AS BIGINT) AS a, "
   "CAST(SUM(CASE WHEN isodow(ts) >= 6 AND event_type <> 'purchase' "
   "THEN 1 ELSE 0 END) AS BIGINT) AS b, "
   "CAST(SUM(CASE WHEN isodow(ts) < 6 AND event_type = 'purchase' "
   "THEN 1 ELSE 0 END) AS BIGINT) AS cc, "
   "CAST(SUM(CASE WHEN isodow(ts) < 6 AND event_type <> 'purchase' "
   "THEN 1 ELSE 0 END) AS BIGINT) AS dd "
   "FROM events GROUP BY 1), "
   "t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata, "
   "SUM(CASE WHEN a + b + cc + dd > 0 THEN "
   "CAST(floor(CAST(a AS DOUBLE) * CAST(dd AS DOUBLE) "
   "/ CAST(a + b + cc + dd AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) "
   "ELSE 0 END) AS s_ad, "
   "SUM(CASE WHEN a + b + cc + dd > 0 THEN "
   "CAST(floor(CAST(b AS DOUBLE) * CAST(cc AS DOUBLE) "
   "/ CAST(a + b + cc + dd AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) "
   "ELSE 0 END) AS s_bc FROM c) "
   "SELECT n_strata, CAST(s_ad AS BIGINT) AS sum_ad_micro, "
   "CAST(s_bc AS BIGINT) AS sum_bc_micro, "
   "CASE WHEN s_bc > 0 THEN CAST(floor(CAST(s_ad AS DOUBLE) "
   "/ CAST(s_bc AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) END "
   "AS or_micro FROM t")
def stats_cmh_odds(spark, sf):
    """Cochran–Mantel–Haenszel pooled odds ratio: is a purchase more
    likely on weekends, CONTROLLING for hour-of-day? — the inferential
    sibling of stats_simpson_screen (that one flags confounding; this
    one gives the stratum-adjusted effect). 2×2 cells per hour stratum
    from one conditional rollup; each stratum's a·d/n and b·c/n terms
    are micro-floored BEFORE the sums (the convention for per-stratum
    rationals — float sums would be order-dependent); one terminal
    division for the pooled OR."""
    ev = table(spark, sf, "events")
    wkend = F.expr("weekday(ts)") >= 5
    purch = F.col("event_type") == "purchase"
    cell = lambda p: F.sum(F.when(p, 1).otherwise(0))  # noqa: E731
    c = (ev.groupBy(F.hour("ts").alias("stratum"))
           .agg(cell(wkend & purch).alias("a"),
                cell(wkend & ~purch).alias("b"),
                cell(~wkend & purch).alias("cc"),
                cell(~wkend & ~purch).alias("dd")))
    n = (F.col("a") + F.col("b") + F.col("cc") + F.col("dd"))
    term = lambda x, y: F.when(  # noqa: E731
        n > 0,
        F.floor(F.col(x).cast("double") * F.col(y).cast("double")
                / n.cast("double") * F.lit(1000000.0) + F.lit(0.5))
         .cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    t = c.agg(F.count(F.lit(1)).alias("n_strata"),
              F.sum(term("a", "dd")).alias("s_ad"),
              F.sum(term("b", "cc")).alias("s_bc"))
    orm = (F.floor(F.col("s_ad").cast("double")
                   / F.col("s_bc").cast("double")
                   * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    return t.select("n_strata",
                    F.col("s_ad").alias("sum_ad_micro"),
                    F.col("s_bc").alias("sum_bc_micro"),
                    F.when(F.col("s_bc") > 0, orm).alias("or_micro"))




@q("stats_runs_test_daily",
   "WITH daily AS (SELECT epoch_us(date_trunc('day', ts)) "
   "// 86400000000 AS d, "
   "SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS s "
   "FROM events WHERE value IS NOT NULL GROUP BY 1), "
   "dif AS (SELECT d, s - LAG(s) OVER (ORDER BY d) AS df FROM daily), "
   "sgn AS (SELECT d, CASE WHEN df > 0 THEN 1 ELSE -1 END AS sg "
   "FROM dif WHERE df IS NOT NULL AND df <> 0), "
   "rn AS (SELECT sg, CASE WHEN LAG(sg) OVER (ORDER BY d) IS NULL "
   "OR LAG(sg) OVER (ORDER BY d) <> sg THEN 1 ELSE 0 END AS brk "
   "FROM sgn), "
   "m AS (SELECT CAST(SUM(CASE WHEN sg = 1 THEN 1 ELSE 0 END) "
   "AS BIGINT) AS n_up, "
   "CAST(SUM(CASE WHEN sg = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down, "
   "CAST(SUM(brk) AS BIGINT) AS n_runs FROM rn) "
   "SELECT n_up, n_down, n_runs, "
   "CASE WHEN n_up + n_down > 1 THEN "
   "CAST(floor((CAST(n_runs AS DOUBLE) "
   "- (2.0 * CAST(n_up + n_down AS DOUBLE) + 1.0) / 3.0) "
   "/ sqrt((16.0 * CAST(n_up + n_down AS DOUBLE) - 13.0) / 90.0) "
   "* 1000000.0 + 0.5) AS BIGINT) END AS z_micro FROM m")
def stats_runs_test_daily(spark, sf):
    """Runs-up-and-down test on the sign sequence of daily total event
    value DIFFERENCES: too FEW runs = momentum/trend, too MANY = mean
    reversion — the randomness check run on any KPI series before
    fitting trend models to it. The null moments are the
    runs-up-and-down ones — E[R] = (2m+1)/3, Var = (16m−13)/90 for m
    difference signs — NOT the two-category Wald–Wolfowitz moments:
    consecutive difference signs of an i.i.d. series agree with
    probability 1/3, not 1/2, so the dichotomous null (used here
    before round 7) flags pure noise as mean-reverting at z ≈ +3.5 by
    ~120 diffs. Exact daily decimal sums, integer run/sign counts on
    the tiny day frame; one mirrored closed form, micro-floored."""
    from pyspark.sql import Window
    ev = table(spark, sf, "events").where(F.col("value").isNotNull())
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    daily = (ev.groupBy(F.expr("unix_micros(date_trunc('DAY', ts)) "
                               "div 86400000000").alias("d"))
               .agg(F.sum(cents).alias("s")))
    wd = Window.orderBy("d")
    dif = daily.select("d", (F.col("s") - F.lag("s").over(wd)).alias("df"))
    sgn = (dif.filter(F.col("df").isNotNull() & (F.col("df") != 0))
              .select("d", F.when(F.col("df") > 0, 1).otherwise(-1)
                            .alias("sg")))
    lagsg = F.lag("sg").over(wd)
    rn = sgn.select("sg", F.when(lagsg.isNull() | (lagsg != F.col("sg")),
                                 1).otherwise(0).alias("brk"))
    m = rn.agg(
        F.sum(F.when(F.col("sg") == 1, 1).otherwise(0)).alias("n_up"),
        F.sum(F.when(F.col("sg") == -1, 1).otherwise(0)).alias("n_down"),
        F.sum("brk").alias("n_runs"))
    mm = (F.col("n_up") + F.col("n_down")).cast("double")
    mu = (F.lit(2.0) * mm + F.lit(1.0)) / F.lit(3.0)
    var = (F.lit(16.0) * mm - F.lit(13.0)) / F.lit(90.0)
    z = (F.col("n_runs").cast("double") - mu) / F.sqrt(var)
    ok = (F.col("n_up") + F.col("n_down")) > 1
    return m.select("n_up", "n_down", "n_runs",
                    F.when(ok, micro(z)).alias("z_micro"))




@q("stats_eb_shrinkage",
   "WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n, "
   "CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS k "
   "FROM documents GROUP BY 1), "
   "p AS (SELECT source, n, k, CAST(floor(CAST(k AS DOUBLE) "
   "/ CAST(n AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS pm FROM c), "
   "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS ng, "
   "CAST(floor(CAST(SUM(pm) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) "
   "AS mbar FROM p), "
   "v AS (SELECT g.ng, g.mbar, SUM((pm - mbar) * (pm - mbar)) AS ss "
   "FROM p CROSS JOIN g GROUP BY 1, 2) "
   "SELECT p.source, p.n AS n_docs, p.k AS n_pos, p.pm AS raw_micro, "
   "CASE WHEN v.ng > 1 AND v.ss > 0 "
   "AND (CAST(v.mbar AS DOUBLE) / 1000000.0) "
   "* (1.0 - CAST(v.mbar AS DOUBLE) / 1000000.0) "
   "/ (CAST(v.ss AS DOUBLE) / CAST(v.ng - 1 AS DOUBLE) "
   "/ 1000000000000.0) - 1.0 > 0 THEN "
   "CAST(floor((CAST(p.k AS DOUBLE) "
   "+ (CAST(v.mbar AS DOUBLE) / 1000000.0) "
   "* ((CAST(v.mbar AS DOUBLE) / 1000000.0) "
   "* (1.0 - CAST(v.mbar AS DOUBLE) / 1000000.0) "
   "/ (CAST(v.ss AS DOUBLE) / CAST(v.ng - 1 AS DOUBLE) "
   "/ 1000000000000.0) - 1.0)) "
   "/ (CAST(p.n AS DOUBLE) "
   "+ ((CAST(v.mbar AS DOUBLE) / 1000000.0) "
   "* (1.0 - CAST(v.mbar AS DOUBLE) / 1000000.0) "
   "/ (CAST(v.ss AS DOUBLE) / CAST(v.ng - 1 AS DOUBLE) "
   "/ 1000000000000.0) - 1.0)) * 1000000.0 + 0.5) AS BIGINT) "
   "ELSE p.pm END AS shrunk_micro "
   "FROM p CROSS JOIN v")
def stats_eb_shrinkage(spark, sf):
    """Empirical-Bayes shrinkage of per-source English rates toward the
    corpus prior (beta-binomial method of moments: prior strength s =
    m̄(1−m̄)/v − 1, posterior (k + m̄·s)/(n + s)) — how a pipeline
    scores SPARSE domains without trusting 3-document rates. The
    between-source variance is computed on per-source MICRO-QUANTIZED
    rates (exact integer Σdev², order-independent — a raw float sum
    over groups would not be); the shrink itself is one mirrored
    double expression per source; sources where v ≥ m̄(1−m̄) (no
    evidence of overdispersion) pass through unshrunk."""
    d = table(spark, sf, "documents")
    c = (d.groupBy("source")
          .agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
                .alias("k")))
    pm = (F.floor(F.col("k").cast("double") / F.col("n").cast("double")
                  * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    p = c.select("source", "n", "k", pm.alias("pm"))
    g = p.agg(F.count(F.lit(1)).alias("ng"),
              F.floor(F.sum("pm").cast("double") / F.count(F.lit(1))
                      + F.lit(0.5)).cast("bigint").alias("mbar"))
    v = (p.crossJoin(F.broadcast(g))
          .groupBy("ng", "mbar")
          .agg(F.sum((F.col("pm") - F.col("mbar"))
                     * (F.col("pm") - F.col("mbar"))).alias("ss")))
    mb = F.col("mbar").cast("double") / F.lit(1000000.0)
    var = (F.col("ss").cast("double")
           / (F.col("ng") - F.lit(1)).cast("double")
           / F.lit(1000000000000.0))
    s = mb * (F.lit(1.0) - mb) / var - F.lit(1.0)
    shrunk = (F.floor((F.col("k").cast("double") + mb * s)
                      / (F.col("n").cast("double") + s)
                      * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    ok = (F.col("ng") > 1) & (F.col("ss") > 0) & (s > 0)
    return (p.crossJoin(F.broadcast(v))
             .select("source", F.col("n").alias("n_docs"),
                     F.col("k").alias("n_pos"),
                     F.col("pm").alias("raw_micro"),
                     F.when(ok, shrunk).otherwise(F.col("pm"))
                      .alias("shrunk_micro")))




def _adf_sql(tbl: str) -> str:
    """Augmented Dickey–Fuller (one lagged difference, constant, no
    trend) on the daily value series — ONE portable SQL text run
    verbatim by BOTH engines (the _ols2_sql posture): Δy on
    (1, y₋₁, Δy₋₁) via exact decimal moments + Cramer's rule, then
    t(b₁) = b₁ / √(σ̂²·[(X'X)⁻¹]₁₁). Only portable functions
    (date_trunc, LAG, CAST, floor, sqrt) appear."""
    dec = lambda a, b: (f"SUM(CAST({a} AS DECIMAL(19,0)) "  # noqa: E731
                        f"* CAST({b} AS DECIMAL(19,0)))")
    return (
        "WITH daily AS (SELECT date_trunc('day', ts) AS d, "
        "SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS y "
        f"FROM {tbl} WHERE value IS NOT NULL GROUP BY 1), "
        "l AS (SELECT d, y, LAG(y) OVER (ORDER BY d) AS yl FROM daily), "
        "r AS (SELECT d, CAST(y - yl AS BIGINT) AS dy, yl, "
        "LAG(y - yl) OVER (ORDER BY d) AS dyl FROM l "
        "WHERE yl IS NOT NULL), "
        "obs AS (SELECT dy AS yv, yl AS x1, dyl AS x2 FROM r "
        "WHERE dyl IS NOT NULL), "
        "m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, "
        "CAST(COUNT(*) AS BIGINT) AS n_obs, "
        f"CAST(SUM(CAST(x1 AS DECIMAL(38,0))) AS DOUBLE) AS s1, "
        f"CAST(SUM(CAST(x2 AS DECIMAL(38,0))) AS DOUBLE) AS s2, "
        f"CAST(SUM(CAST(yv AS DECIMAL(38,0))) AS DOUBLE) AS sy, "
        f"CAST({dec('x1', 'x1')} AS DOUBLE) AS q11, "
        f"CAST({dec('x2', 'x2')} AS DOUBLE) AS q22, "
        f"CAST({dec('x1', 'x2')} AS DOUBLE) AS q12, "
        f"CAST({dec('x1', 'yv')} AS DOUBLE) AS p1y, "
        f"CAST({dec('x2', 'yv')} AS DOUBLE) AS p2y, "
        f"CAST({dec('yv', 'yv')} AS DOUBLE) AS syy FROM obs), "
        "dt AS (SELECT n_obs, n, sy, p1y, p2y, syy, q22, s2, "
        "n * (q11 * q22 - q12 * q12) - s1 * (s1 * q22 - q12 * s2) "
        "+ s2 * (s1 * q12 - q11 * s2) AS det, "
        "sy * (q11 * q22 - q12 * q12) - s1 * (p1y * q22 - q12 * p2y) "
        "+ s2 * (p1y * q12 - q11 * p2y) AS det0, "
        "n * (p1y * q22 - p2y * q12) - sy * (s1 * q22 - q12 * s2) "
        "+ s2 * (s1 * p2y - p1y * s2) AS det1, "
        "n * (q11 * p2y - q12 * p1y) - s1 * (s1 * p2y - p1y * s2) "
        "+ sy * (s1 * q12 - q11 * s2) AS det2 FROM m), "
        "f AS (SELECT n_obs, n, det, q22, s2, "
        "det0 / det AS b0, det1 / det AS b1, det2 / det AS b2, "
        "syy - det0 / det * sy - det1 / det * p1y - det2 / det * p2y "
        "AS rss FROM dt) "
        "SELECT n_obs, "
        "CAST(floor(b1 * 1000000.0 + 0.5) AS BIGINT) AS b1_micro, "
        "CASE WHEN n_obs > 3 AND det <> 0.0 "
        "AND rss / (n - 3.0) * ((n * q22 - s2 * s2) / det) > 0.0 THEN "
        "CAST(floor(b1 / sqrt(rss / (n - 3.0) "
        "* ((n * q22 - s2 * s2) / det)) * 1000000.0 + 0.5) AS BIGINT) "
        "END AS adf_micro, "
        "CASE WHEN n_obs > 3 AND det <> 0.0 "
        "AND rss / (n - 3.0) * ((n * q22 - s2 * s2) / det) > 0.0 THEN "
        "CAST(b1 / sqrt(rss / (n - 3.0) "
        "* ((n * q22 - s2 * s2) / det)) < -2.86 AS INT) END "
        "AS is_stationary FROM f")




@q("stats_adf_value_daily", _adf_sql("events"))
def stats_adf_value_daily(spark, sf):
    """Augmented Dickey–Fuller unit-root test on the daily value
    series: is the KPI stationary (adf < −2.86, the 5% critical
    value) or a random walk that trend models will hallucinate on? —
    the pre-flight every forecasting pipeline owes its users. Same
    one-text SQL on both engines (_ols2_sql posture); exact decimal
    moments, Cramer closed form, one sqrt."""
    return spark.sql(_adf_sql("{ev}"), ev=table(spark, sf, "events"))




@q("stats_paired_ttest",
   "WITH per AS (SELECT o_custkey, "
   "SUM(CASE WHEN year(o_orderdate) = 1999 THEN "
   "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
   "ELSE 0 END) AS s1, "
   "SUM(CASE WHEN year(o_orderdate) = 1999 THEN 1 ELSE 0 END) AS n1, "
   "SUM(CASE WHEN year(o_orderdate) = 2000 THEN "
   "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
   "ELSE 0 END) AS s2, "
   "SUM(CASE WHEN year(o_orderdate) = 2000 THEN 1 ELSE 0 END) AS n2 "
   "FROM orders WHERE year(o_orderdate) IN (1999, 2000) GROUP BY 1), "
   "d AS (SELECT CAST(s2 - s1 AS BIGINT) AS df FROM per "
   "WHERE n1 > 0 AND n2 > 0), "
   "m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, "
   "CAST(SUM(CAST(df AS DECIMAL(38,0))) AS DOUBLE) AS sd, "
   "CAST(SUM(CAST(df AS DECIMAL(19,0)) * CAST(df AS DECIMAL(19,0))) "
   "AS DOUBLE) AS sdd FROM d) "
   "SELECT n_pairs, "
   "CAST(floor(sd / CAST(n_pairs AS DOUBLE) + 0.5) AS BIGINT) "
   "AS mean_diff_cents, "
   "CASE WHEN n_pairs > 1 AND sdd - sd * sd / CAST(n_pairs AS DOUBLE) "
   "> 0.0 THEN CAST(floor(sd / CAST(n_pairs AS DOUBLE) "
   "/ sqrt((sdd - sd * sd / CAST(n_pairs AS DOUBLE)) "
   "/ CAST(n_pairs - 1 AS DOUBLE) / CAST(n_pairs AS DOUBLE)) "
   "* 1000000.0 + 0.5) AS BIGINT) END AS t_micro FROM m")
def stats_paired_ttest(spark, sf):
    """Paired t-test on per-customer annual spend (1999 vs 2000,
    customers active BOTH years): t = d̄ / √(s²_d/n) — the
    within-subject design that cancels between-customer variance the
    unpaired z-test (stats_ab_ztest) cannot. One customer-grain
    conditional rollup; exact decimal moments of the integer cent
    diffs; one mirrored closed form."""
    o = table(spark, sf, "orders")
    y = F.year("o_orderdate")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100) \
        .cast("bigint")
    per = (o.filter(y.isin(1999, 2000))
            .groupBy("o_custkey")
            .agg(F.sum(F.when(y == 1999, cents).otherwise(0)).alias("s1"),
                 F.sum(F.when(y == 1999, 1).otherwise(0)).alias("n1"),
                 F.sum(F.when(y == 2000, cents).otherwise(0)).alias("s2"),
                 F.sum(F.when(y == 2000, 1).otherwise(0)).alias("n2")))
    d = (per.filter((F.col("n1") > 0) & (F.col("n2") > 0))
            .select((F.col("s2") - F.col("s1")).alias("df")))
    m = d.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("df").cast("decimal(38,0)")).cast("double")
         .alias("sd"),
        F.sum(F.col("df").cast("decimal(19,0)")
              * F.col("df").cast("decimal(19,0)")).cast("double")
         .alias("sdd"))
    nD = F.col("n_pairs").cast("double")
    var_num = F.col("sdd") - F.col("sd") * F.col("sd") / nD
    t = (F.col("sd") / nD
         / F.sqrt(var_num / (F.col("n_pairs") - F.lit(1)).cast("double")
                  / nD))
    return m.select(
        "n_pairs",
        F.floor(F.col("sd") / nD + F.lit(0.5)).cast("bigint")
         .alias("mean_diff_cents"),
        F.when((F.col("n_pairs") > 1) & (var_num > 0),
               micro(t)).alias("t_micro"))




def _pinball_oracle() -> str:
    from mura_spark.operators.stats import sql_group_percentiles
    med = sql_group_percentiles(
        "(SELECT event_type, value FROM events WHERE value IS NOT NULL)",
        ["event_type"], "value", [0.5, 0.9], ["p50", "p90"])
    return (
        f"WITH q AS ({med}), "
        "e AS (SELECT e.event_type, "
        "CAST(floor(e.value * 1000000.0 + 0.5) AS BIGINT) AS vm, "
        "q.p50_micro, q.p90_micro FROM events e "
        "JOIN q ON e.event_type = q.event_type "
        "WHERE e.value IS NOT NULL) "
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events, "
        "CAST(SUM(greatest(5 * (vm - p50_micro), "
        "-5 * (vm - p50_micro))) AS BIGINT) AS pinball_p50_x10, "
        "CAST(SUM(greatest(9 * (vm - p90_micro), "
        "-1 * (vm - p90_micro))) AS BIGINT) AS pinball_p90_x10 "
        "FROM e GROUP BY 1")




@q("stats_pinball_quantile_eval", _pinball_oracle())
def stats_pinball_quantile_eval(spark, sf):
    """Pinball (quantile) loss of the exact p50/p90 per-type values as
    constant quantile forecasts — the eval every quantile-forecasting
    pipeline reports (and the check that the claimed quantile actually
    MINIMIZES its own pinball loss). Kept exact end-to-end: per-row
    micro values, losses as 10×-scaled integers (q=.5 → 5·|d|;
    q=.9 → max(9d, −d)), summed as exact BIGINTs — no floats
    anywhere past the percentile's own quantization."""
    from mura_spark.functions.quantize import micro
    from mura_spark.operators.stats import group_percentiles
    ev = (table(spark, sf, "events")
          .where(F.col("value").isNotNull())
          .select("event_type", "value"))
    qs = group_percentiles(ev, ["event_type"], "value",
                           [0.5, 0.9], ["p50", "p90"])
    e = (ev.join(F.broadcast(qs), "event_type")
           .select("event_type",
                   (micro(F.col("value")) - F.col("p50_micro"))
                   .alias("d50"),
                   (micro(F.col("value")) - F.col("p90_micro"))
                   .alias("d90")))
    return (e.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.sum(F.greatest(5 * F.col("d50"), -5 * F.col("d50")))
                   .cast("bigint").alias("pinball_p50_x10"),
                  F.sum(F.greatest(9 * F.col("d90"),
                                   F.lit(-1) * F.col("d90")))
                   .cast("bigint").alias("pinball_p90_x10")))




@q("stats_dispersion_orders",
   "WITH c AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS k "
   "FROM lineitem GROUP BY 1), "
   "m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
   "CAST(SUM(k) AS BIGINT) AS s, "
   "CAST(SUM(CAST(k AS DECIMAL(19,0)) * CAST(k AS DECIMAL(19,0))) "
   "AS DOUBLE) AS q FROM c) "
   "SELECT n, "
   "CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0 "
   "+ 0.5) AS BIGINT) AS mean_micro, "
   "CASE WHEN n > 1 AND s > 0 THEN "
   "CAST(floor(((q - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) "
   "/ CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) "
   "/ (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0 + 0.5) "
   "AS BIGINT) END AS dispersion_micro, "
   "CASE WHEN n > 1 AND s > 0 THEN "
   "CAST(floor((((q - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) "
   "/ CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) "
   "/ (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) - 1.0) "
   "* sqrt(CAST(n - 1 AS DOUBLE) / 2.0) * 1000000.0 + 0.5) "
   "AS BIGINT) END AS z_micro FROM m")
def stats_dispersion_orders(spark, sf):
    """Index of dispersion (variance-to-mean ratio) of lines-per-order
    with its normal-approximation z — the Poissonness check run before
    modeling count data (D≈1 Poisson, D>1 overdispersed → negative
    binomial territory; z = (D−1)·√((n−1)/2)). One orderkey rollup to
    the count frame; exact decimal moments; one mirrored closed
    form."""
    li = table(spark, sf, "lineitem")
    c = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("k"))
    m = c.agg(F.count(F.lit(1)).alias("n"),
              F.sum("k").alias("s"),
              F.sum(F.col("k").cast("decimal(19,0)")
                    * F.col("k").cast("decimal(19,0)")).cast("double")
               .alias("q"))
    nD = F.col("n").cast("double")
    sD = F.col("s").cast("double")
    mean = sD / nD
    var = (F.col("q") - sD * sD / nD) / (F.col("n") - F.lit(1)) \
        .cast("double")
    disp = var / mean
    z = (disp - F.lit(1.0)) * F.sqrt((F.col("n") - F.lit(1))
                                     .cast("double") / F.lit(2.0))
    ok = (F.col("n") > 1) & (F.col("s") > 0)
    mic = micro
    return m.select("n", mic(mean).alias("mean_micro"),
                    F.when(ok, mic(disp)).alias("dispersion_micro"),
                    F.when(ok, mic(z)).alias("z_micro"))




@q("stats_mann_kendall_daily",
   "WITH daily AS (SELECT epoch_us(date_trunc('day', ts)) "
   "// 86400000000 AS d, "
   "SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS y "
   "FROM events WHERE value IS NOT NULL GROUP BY 1), "
   "s AS (SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1 "
   "WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS mk_s "
   "FROM daily a JOIN daily b ON b.d > a.d), "
   "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily), "
   "ties AS (SELECT COALESCE(CAST(SUM(t * (t - 1) * (2 * t + 5)) "
   "AS BIGINT), 0) AS tie_term FROM "
   "(SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY y) "
   "WHERE t > 1) "
   "SELECT n_days, mk_s, "
   "CASE WHEN n_days > 2 AND (CAST(n_days AS DOUBLE) "
   "* CAST(n_days - 1 AS DOUBLE) * CAST(2 * n_days + 5 AS DOUBLE) "
   "- CAST(tie_term AS DOUBLE)) / 18.0 > 0.0 THEN "
   "CAST(floor((CASE WHEN mk_s > 0 THEN CAST(mk_s - 1 AS DOUBLE) "
   "WHEN mk_s < 0 THEN CAST(mk_s + 1 AS DOUBLE) ELSE 0.0 END) "
   "/ sqrt((CAST(n_days AS DOUBLE) * CAST(n_days - 1 AS DOUBLE) "
   "* CAST(2 * n_days + 5 AS DOUBLE) - CAST(tie_term AS DOUBLE)) "
   "/ 18.0) * 1000000.0 + 0.5) AS BIGINT) END AS z_micro "
   "FROM s CROSS JOIN n CROSS JOIN ties")
def stats_mann_kendall_daily(spark, sf):
    """Mann–Kendall trend test on daily total value: S = Σ sign(yⱼ−yᵢ)
    over all day pairs, tie-corrected variance, continuity-corrected
    z — the NONPARAMETRIC significance companion to the Theil–Sen
    slope (same robustness, now with an accept/reject). The pair join
    runs on the tiny day frame (≤ days² pairs); S and the tie term
    are exact integers; one mirrored closed form."""
    ev = table(spark, sf, "events").where(F.col("value").isNotNull())
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    daily = (ev.groupBy(F.expr("unix_micros(date_trunc('DAY', ts)) "
                               "div 86400000000").alias("d"))
               .agg(F.sum(cents).alias("y")))
    a = daily.select(F.col("d").alias("da"), F.col("y").alias("ya"))
    b = daily.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    s = (a.join(b, F.col("db") > F.col("da"))
          .agg(F.sum(F.when(F.col("yb") > F.col("ya"), 1)
                      .when(F.col("yb") < F.col("ya"), -1)
                      .otherwise(0)).alias("mk_s")))
    n = daily.agg(F.count(F.lit(1)).alias("n_days"))
    ties = (daily.groupBy("y").agg(F.count(F.lit(1)).alias("t"))
                 .filter(F.col("t") > 1)
                 .agg(F.coalesce(
                     F.sum(F.col("t") * (F.col("t") - 1)
                           * (2 * F.col("t") + 5)),
                     F.lit(0).cast("bigint")).alias("tie_term")))
    ndD = F.col("n_days").cast("double")
    var = ((ndD * (F.col("n_days") - F.lit(1)).cast("double")
            * (F.lit(2) * F.col("n_days") + F.lit(5)).cast("double")
            - F.col("tie_term").cast("double")) / F.lit(18.0))
    num = (F.when(F.col("mk_s") > 0,
                  (F.col("mk_s") - F.lit(1)).cast("double"))
            .when(F.col("mk_s") < 0,
                  (F.col("mk_s") + F.lit(1)).cast("double"))
            .otherwise(F.lit(0.0)))
    ok = (F.col("n_days") > 2) & (var > 0)
    z = micro(num / F.sqrt(var))
    return (s.crossJoin(F.broadcast(n)).crossJoin(F.broadcast(ties))
             .select("n_days", "mk_s", F.when(ok, z).alias("z_micro")))




@q("stats_hill_tail_index",
   "WITH v AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 "
   "AS BIGINT) AS c FROM events WHERE value IS NOT NULL "
   "AND CAST(value AS DECIMAL(18,2)) > 0), "
   "cells AS (SELECT c, COUNT(*) AS k FROM v GROUP BY 1), "
   "cum AS (SELECT c, k, SUM(k) OVER (ORDER BY c DESC) AS gc "
   "FROM cells), "
   "xk AS (SELECT MAX(c) AS xkc FROM cum WHERE gc >= 101), "
   "t AS (SELECT cum.c, GREATEST(0, LEAST(100 - (gc - k), k)) AS w "
   "FROM cum CROSS JOIN xk WHERE cum.c > xk.xkc), "
   "s AS (SELECT CAST(SUM(w * CAST(floor(ln(CAST(c AS DOUBLE) "
   "/ CAST((SELECT xkc FROM xk) AS DOUBLE)) * 1000000.0 + 0.5) "
   "AS BIGINT)) AS BIGINT) AS hsum FROM t) "
   "SELECT CAST(100 AS BIGINT) AS k_order, "
   "(SELECT CAST(xkc AS BIGINT) FROM xk) AS xk_cents, "
   "CAST(floor(CAST(hsum AS DOUBLE) / 100.0 + 0.5) AS BIGINT) "
   "AS hill_micro, "
   "CASE WHEN hsum > 0 THEN CAST(floor(1000000000000.0 "
   "/ (CAST(floor(CAST(hsum AS DOUBLE) / 100.0 + 0.5) AS DOUBLE)) "
   "+ 0.5) AS BIGINT) END AS alpha_micro FROM s")
def stats_hill_tail_index(spark, sf):
    """Hill estimator of the value distribution's tail index over the
    top-100 order statistics (α = 1/mean ln(x₍ᵢ₎/x₍ₖ₊₁₎)) — the
    heavy-tail diagnosis that decides whether means/variances are even
    meaningful for this KPI (α ≤ 2 → infinite variance). Order
    statistics by exact integer rank on the cents cells; one ln per
    DISTINCT value, micro-quantized before the exact weighted sum;
    two terminal divisions."""
    from pyspark.sql import Window
    ev = (table(spark, sf, "events")
          .where(F.col("value").isNotNull()
                 & (F.col("value").cast("decimal(18,2)") > 0)))
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    cells = (ev.select(cents.alias("c"))
               .groupBy("c").agg(F.count(F.lit(1)).alias("k")))
    cum = cells.select(
        "c", "k",
        F.sum("k").over(Window.orderBy(F.desc("c"))
                        .rowsBetween(Window.unboundedPreceding, 0))
         .alias("gc"))
    xk = cum.filter(F.col("gc") >= 101).agg(F.max("c").alias("xkc"))
    t = (cum.crossJoin(F.broadcast(xk))
            .filter(F.col("c") > F.col("xkc"))
            .select("c", "xkc",
                    F.greatest(F.lit(0),
                               F.least(F.lit(100)
                                       - (F.col("gc") - F.col("k")),
                                       F.col("k"))).alias("w")))
    lnq = (F.floor(F.log(F.col("c").cast("double")
                         / F.col("xkc").cast("double"))
                   * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    s = t.agg(F.sum(F.col("w") * lnq).alias("hsum"))
    hill = F.floor(F.col("hsum").cast("double") / F.lit(100.0)
                   + F.lit(0.5)).cast("bigint")
    alpha = (F.floor(F.lit(1000000000000.0) / hill.cast("double")
                     + F.lit(0.5)).cast("bigint"))
    return (s.crossJoin(F.broadcast(xk))
             .select(F.lit(100).cast("bigint").alias("k_order"),
                     F.col("xkc").cast("bigint").alias("xk_cents"),
                     hill.alias("hill_micro"),
                     F.when(F.col("hsum") > 0, alpha)
                      .alias("alpha_micro")))




@q("stats_tost_equivalence",
   f"WITH u AS (SELECT user_id, {_AB_BUCKET} % 2 AS variant, "
   "SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS s "
   "FROM events WHERE value IS NOT NULL GROUP BY 1), "
   "v AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n, "
   "CAST(SUM(CAST(s AS DECIMAL(38,0))) AS DOUBLE) AS sv, "
   "CAST(SUM(CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))) "
   "AS DOUBLE) AS qv FROM u GROUP BY 1), "
   "w AS (SELECT MAX(CASE WHEN variant = 0 THEN n END) AS na, "
   "MAX(CASE WHEN variant = 0 THEN sv END) AS sa, "
   "MAX(CASE WHEN variant = 0 THEN qv END) AS qa, "
   "MAX(CASE WHEN variant = 1 THEN n END) AS nb, "
   "MAX(CASE WHEN variant = 1 THEN sv END) AS sb, "
   "MAX(CASE WHEN variant = 1 THEN qv END) AS qb FROM v), "
   "m AS (SELECT na, nb, "
   "sa / CAST(na AS DOUBLE) AS ma, sb / CAST(nb AS DOUBLE) AS mb, "
   "((qa - sa * sa / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE)) "
   "/ CAST(na AS DOUBLE) "
   "+ ((qb - sb * sb / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE)) "
   "/ CAST(nb AS DOUBLE) AS se2 FROM w), "
   "t AS (SELECT na, nb, mb - ma AS diff, sqrt(se2) AS se, "
   "0.05 * ma AS margin FROM m) "
   "SELECT na, nb, CAST(floor(diff + 0.5) AS BIGINT) AS diff_cents, "
   "CASE WHEN se > 0 THEN CAST(floor((diff + margin) / se "
   "* 1000000.0 + 0.5) AS BIGINT) END AS z_lower_micro, "
   "CASE WHEN se > 0 THEN CAST(floor((margin - diff) / se "
   "* 1000000.0 + 0.5) AS BIGINT) END AS z_upper_micro, "
   "CASE WHEN se > 0 THEN CAST((diff + margin) / se > 1.644854 "
   "AND (margin - diff) / se > 1.644854 AS INT) END AS is_equivalent "
   "FROM t")
def stats_tost_equivalence(spark, sf):
    """TOST equivalence test (two one-sided z-tests at α=.05): is the
    B variant's mean user spend within ±5% of A — the 'prove it's NOT
    worse' question a non-inferiority launch review asks, which a
    failed superiority test can never answer. Exact decimal moments
    of per-user cent sums; Welch SE; both one-sided z's mirrored;
    equivalent iff min(z₁,z₂) > 1.645."""
    from mura_spark.operators.sampling import hash_bucket
    ev = table(spark, sf, "events").where(F.col("value").isNotNull())
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    u = (ev.groupBy("user_id")
           .agg(F.sum(cents).alias("s"))
           .select((hash_bucket(F.col("user_id")) % 2).alias("variant"),
                   "s"))
    v = u.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("s").cast("decimal(38,0)")).cast("double")
         .alias("sv"),
        F.sum(F.col("s").cast("decimal(19,0)")
              * F.col("s").cast("decimal(19,0)")).cast("double")
         .alias("qv"))
    pick = lambda c, var: F.max(  # noqa: E731
        F.when(F.col("variant") == var, F.col(c)))
    w = v.agg(pick("n", 0).alias("na"), pick("sv", 0).alias("sa"),
              pick("qv", 0).alias("qa"), pick("n", 1).alias("nb"),
              pick("sv", 1).alias("sb"), pick("qv", 1).alias("qb"))
    naD = F.col("na").cast("double")
    nbD = F.col("nb").cast("double")
    ma = F.col("sa") / naD
    mb = F.col("sb") / nbD
    se2 = (((F.col("qa") - F.col("sa") * F.col("sa") / naD)
            / (F.col("na") - F.lit(1)).cast("double")) / naD
           + ((F.col("qb") - F.col("sb") * F.col("sb") / nbD)
              / (F.col("nb") - F.lit(1)).cast("double")) / nbD)
    diff = mb - ma
    se = F.sqrt(se2)
    margin = F.lit(0.05) * ma
    zl = (diff + margin) / se
    zu = (margin - diff) / se
    mic = micro
    return w.select(
        "na", "nb",
        F.floor(diff + F.lit(0.5)).cast("bigint").alias("diff_cents"),
        F.when(se > 0, mic(zl)).alias("z_lower_micro"),
        F.when(se > 0, mic(zu)).alias("z_upper_micro"),
        F.when(se > 0, ((zl > 1.644854) & (zu > 1.644854)).cast("int"))
         .alias("is_equivalent"))




_TWO_PI = "6.283185307179586"




@q("stats_circular_time_of_day",
   "WITH a AS (SELECT event_type, "
   "CAST(epoch_us(ts) % 86400000000 AS DOUBLE) / 86400000000.0 "
   f"* {_TWO_PI} AS th FROM events), "
   "qz AS (SELECT event_type, "
   "CAST(floor(sin(th) * 1000000.0 + 0.5) AS BIGINT) AS s, "
   "CAST(floor(cos(th) * 1000000.0 + 0.5) AS BIGINT) AS c FROM a), "
   "m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
   "CAST(SUM(s) AS DOUBLE) AS ss, CAST(SUM(c) AS DOUBLE) AS sc "
   "FROM qz GROUP BY 1) "
   "SELECT event_type, n, "
   "CAST(floor((CASE WHEN atan2(ss, sc) < 0 THEN atan2(ss, sc) "
   f"+ {_TWO_PI} ELSE atan2(ss, sc) END) / {_TWO_PI} * 24.0 "
   "* 1000000.0 + 0.5) AS BIGINT) AS mean_hour_micro, "
   "CAST(floor(sqrt(ss * ss + sc * sc) / (1000000.0 "
   "* CAST(n AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS r_micro "
   "FROM m")
def stats_circular_time_of_day(spark, sf):
    """Circular (directional) statistics of event time-of-day per
    type: the circular mean hour and the resultant length R (1 =
    perfectly peaked daily habit, 0 = uniform around the clock) —
    the CORRECT average for clock data, where the arithmetic mean of
    23:00 and 01:00 is noon. Per-row sin/cos micro-quantized before
    the exact integer sums (the transcendental convention); atan2 and
    R are one mirrored terminal expression per type."""
    ev = table(spark, sf, "events")
    th = (F.expr("CAST(unix_micros(ts) % 86400000000 AS DOUBLE)")
          / F.lit(86400000000.0) * F.lit(6.283185307179586))
    qz = ev.select(
        "event_type",
        micro(F.sin(th)).alias("s"),
        micro(F.cos(th)).alias("c"))
    m = qz.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("s").cast("double").alias("ss"),
        F.sum("c").cast("double").alias("sc"))
    ang = F.atan2(F.col("ss"), F.col("sc"))
    ang = F.when(ang < 0, ang + F.lit(6.283185307179586)).otherwise(ang)
    mean_hour = (F.floor(ang / F.lit(6.283185307179586) * F.lit(24.0)
                         * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    r = (F.floor(F.sqrt(F.col("ss") * F.col("ss")
                        + F.col("sc") * F.col("sc"))
                 / (F.lit(1000000.0) * F.col("n").cast("double"))
                 * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    return m.select("event_type", "n",
                    mean_hour.alias("mean_hour_micro"),
                    r.alias("r_micro"))




@q("stats_cohens_d_value",
   "WITH v AS (SELECT event_type, "
   "CAST(COUNT(*) AS BIGINT) AS n, "
   "CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) "
   "AS DOUBLE) AS s, "
   "CAST(SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) "
   "AS DECIMAL(19,0)) * CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 "
   "AS BIGINT) AS DECIMAL(19,0))) AS DOUBLE) AS q "
   "FROM events WHERE value IS NOT NULL "
   "AND event_type IN ('click', 'purchase') GROUP BY 1), "
   "w AS (SELECT MAX(CASE WHEN event_type = 'click' THEN n END) AS na, "
   "MAX(CASE WHEN event_type = 'click' THEN s END) AS sa, "
   "MAX(CASE WHEN event_type = 'click' THEN q END) AS qa, "
   "MAX(CASE WHEN event_type = 'purchase' THEN n END) AS nb, "
   "MAX(CASE WHEN event_type = 'purchase' THEN s END) AS sb, "
   "MAX(CASE WHEN event_type = 'purchase' THEN q END) AS qb FROM v) "
   "SELECT na, nb, "
   "CASE WHEN na > 1 AND nb > 1 AND (qa - sa * sa "
   "/ CAST(na AS DOUBLE) + qb - sb * sb / CAST(nb AS DOUBLE)) "
   "/ CAST(na + nb - 2 AS DOUBLE) > 0.0 THEN "
   "CAST(floor((sb / CAST(nb AS DOUBLE) - sa / CAST(na AS DOUBLE)) "
   "/ sqrt((qa - sa * sa / CAST(na AS DOUBLE) + qb - sb * sb "
   "/ CAST(nb AS DOUBLE)) / CAST(na + nb - 2 AS DOUBLE)) "
   "* 1000000.0 + 0.5) AS BIGINT) END AS cohens_d_micro FROM w")
def stats_cohens_d_value(spark, sf):
    """Cohen's d standardized effect size between click and purchase
    values (pooled-SD mean difference) — the magnitude companion every
    significance test in the suite owes its reader (a 'significant'
    z with d = 0.02 ships nothing). Exact decimal moments; one
    mirrored closed form."""
    ev = (table(spark, sf, "events")
          .where(F.col("value").isNotNull()
                 & F.col("event_type").isin("click", "purchase")))
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    v = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).cast("double").alias("s"),
        F.sum(cents.cast("decimal(19,0)")
              * cents.cast("decimal(19,0)")).cast("double").alias("q"))
    pick = lambda c, t: F.max(  # noqa: E731
        F.when(F.col("event_type") == t, F.col(c)))
    w = v.agg(pick("n", "click").alias("na"),
              pick("s", "click").alias("sa"),
              pick("q", "click").alias("qa"),
              pick("n", "purchase").alias("nb"),
              pick("s", "purchase").alias("sb"),
              pick("q", "purchase").alias("qb"))
    naD, nbD = F.col("na").cast("double"), F.col("nb").cast("double")
    ssa = F.col("qa") - F.col("sa") * F.col("sa") / naD
    ssb = F.col("qb") - F.col("sb") * F.col("sb") / nbD
    pooled = (ssa + ssb) / (F.col("na") + F.col("nb") - F.lit(2)) \
        .cast("double")
    d = ((F.col("sb") / nbD - F.col("sa") / naD) / F.sqrt(pooled))
    ok = (F.col("na") > 1) & (F.col("nb") > 1) & (pooled > 0)
    return w.select("na", "nb",
                    F.when(ok, micro(d)).alias("cohens_d_micro"))




@q("stats_qini_curve",
   f"WITH u AS (SELECT user_id, {_AB_BUCKET} % 2 AS variant, "
   "SUM(CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100 "
   "AS BIGINT)) AS sp, "
   "CASE WHEN COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) "
   ">= 15 THEN 1 ELSE 0 END AS conv FROM events GROUP BY 1), "
   "cells AS (SELECT sp, COUNT(*) AS k FROM u GROUP BY 1), "
   "nn AS (SELECT SUM(k) AS n FROM cells), "
   "cum AS (SELECT sp, SUM(k) OVER (ORDER BY sp) AS gc FROM cells), "
   "th AS (SELECT i, (SELECT MIN(sp) FROM cum CROSS JOIN nn "
   "WHERE gc >= (i * n + 9) // 10) AS bv FROM range(1, 10) t(i)), "
   "tl AS (SELECT list(bv ORDER BY i) AS bl FROM th), "
   "a AS (SELECT len(list_filter(bl, x -> sp > x)) AS decile, "
   "variant, conv FROM u CROSS JOIN tl), "
   "g AS (SELECT decile, "
   "CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) "
   "AS n_t, "
   "CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) "
   "AS n_c, "
   "CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) "
   "AS conv_t, "
   "CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) "
   "AS conv_c FROM a GROUP BY 1), "
   "c AS (SELECT decile, n_t, n_c, conv_t, conv_c, "
   "SUM(n_t) OVER (ORDER BY decile DESC) AS ct_n, "
   "SUM(n_c) OVER (ORDER BY decile DESC) AS cc_n, "
   "SUM(conv_t) OVER (ORDER BY decile DESC) AS ct_c, "
   "SUM(conv_c) OVER (ORDER BY decile DESC) AS cc_c FROM g) "
   "SELECT CAST(decile AS BIGINT) AS decile, n_t, n_c, conv_t, "
   "conv_c, CASE WHEN cc_n > 0 THEN "
   "CAST(floor((CAST(ct_c AS DOUBLE) - CAST(cc_c AS DOUBLE) "
   "* CAST(ct_n AS DOUBLE) / CAST(cc_n AS DOUBLE)) * 1000000.0 "
   "+ 0.5) AS BIGINT) END AS qini_micro FROM c")
def stats_qini_curve(spark, sf):
    """Qini uplift curve: reading spend deciles from the top, the
    cumulative incremental conversions of the treated arm over the
    control arm's rate-matched expectation — the uplift-modeling eval
    that tells you WHOM to treat, which the plain A/B z-test cannot.
    Hash-bucket variants (the stats_ab_ztest convention); decile
    boundaries by exact integer rank; exact counts with one mirrored
    expression per decile."""
    from pyspark.sql import Window
    from mura_spark.operators.sampling import hash_bucket
    ev = table(spark, sf, "events")
    cents = (F.coalesce(F.col("value").cast("decimal(18,2)"),
                        F.lit(0).cast("decimal(18,2)")) * 100) \
        .cast("bigint")
    u = (ev.groupBy("user_id")
           .agg(F.sum(cents).alias("sp"),
                F.when(F.sum(F.when(F.col("event_type") == "purchase",
                                    1).otherwise(0)) >= 15, 1)
                 .otherwise(0).alias("conv"))
           .select((hash_bucket(F.col("user_id")) % 2).alias("variant"),
                   "sp", "conv"))
    cells = u.groupBy("sp").agg(F.count(F.lit(1)).alias("k"))
    nn = cells.agg(F.sum("k").alias("n"))
    cum = cells.select(
        "sp", F.sum("k").over(Window.orderBy("sp")
                              .rowsBetween(Window.unboundedPreceding, 0))
              .alias("gc"))
    th = (cum.crossJoin(F.broadcast(nn))
             .crossJoin(F.broadcast(
                 ev.sparkSession.range(1, 10).select(
                     F.col("id").alias("i"))))
             .filter(F.col("gc") >= F.expr("(i * n + 9) div 10"))
             .groupBy("i").agg(F.min("sp").alias("bv")))
    tl = th.agg(F.array_sort(F.collect_list(
        F.struct("i", "bv"))).alias("__s")).select(
        F.transform("__s", lambda x: x["bv"]).alias("bl"))
    a = (u.crossJoin(F.broadcast(tl))
          .select(F.size(F.filter(F.col("bl"),
                                  lambda x: F.col("sp") > x))
                   .alias("decile"), "variant", "conv"))
    cnt = lambda var, c: F.sum(  # noqa: E731
        F.when(F.col("variant") == var, c).otherwise(0))
    g = a.groupBy("decile").agg(
        cnt(1, F.lit(1)).alias("n_t"), cnt(0, F.lit(1)).alias("n_c"),
        cnt(1, F.col("conv")).alias("conv_t"),
        cnt(0, F.col("conv")).alias("conv_c"))
    wd = Window.orderBy(F.desc("decile")) \
               .rowsBetween(Window.unboundedPreceding, 0)
    c = g.select("decile", "n_t", "n_c", "conv_t", "conv_c",
                 F.sum("n_t").over(wd).alias("ct_n"),
                 F.sum("n_c").over(wd).alias("cc_n"),
                 F.sum("conv_t").over(wd).alias("ct_c"),
                 F.sum("conv_c").over(wd).alias("cc_c"))
    qini = (F.floor((F.col("ct_c").cast("double")
                     - F.col("cc_c").cast("double")
                     * F.col("ct_n").cast("double")
                     / F.col("cc_n").cast("double"))
                    * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    return c.select(F.col("decile").cast("bigint").alias("decile"),
                    "n_t", "n_c", "conv_t", "conv_c",
                    F.when(F.col("cc_n") > 0, qini).alias("qini_micro"))




@q("stats_mahalanobis_outliers",
   "WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS x, "
   "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y "
   "FROM lineitem), "
   "m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
   "CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx, "
   "CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy, "
   "CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) "
   "AS DOUBLE) AS sxx, "
   "CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) "
   "AS DOUBLE) AS syy, "
   "CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) "
   "AS DOUBLE) AS sxy FROM b), "
   "c AS (SELECT n, sx / CAST(n AS DOUBLE) AS mx, "
   "sy / CAST(n AS DOUBLE) AS my, "
   "(sxx - sx * sx / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE) AS vx, "
   "(syy - sy * sy / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE) AS vy, "
   "(sxy - sx * sy / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE) AS cxy "
   "FROM m), "
   "d AS (SELECT c.n, "
   "SUM(CASE WHEN (vy * (x - mx) * (x - mx) "
   "- 2.0 * cxy * (x - mx) * (y - my) "
   "+ vx * (y - my) * (y - my)) / (vx * vy - cxy * cxy) > 5.991465 "
   "THEN 1 ELSE 0 END) AS n_out95, "
   "SUM(CASE WHEN (vy * (x - mx) * (x - mx) "
   "- 2.0 * cxy * (x - mx) * (y - my) "
   "+ vx * (y - my) * (y - my)) / (vx * vy - cxy * cxy) > 9.21034 "
   "THEN 1 ELSE 0 END) AS n_out99 "
   "FROM b CROSS JOIN c GROUP BY 1) "
   "SELECT n AS n_rows, CAST(n_out95 AS BIGINT) AS n_out95, "
   "CAST(n_out99 AS BIGINT) AS n_out99 FROM d")
def stats_mahalanobis_outliers(spark, sf):
    """Bivariate Mahalanobis outlier screen on (quantity, price):
    points beyond the χ²₂ 95%/99% ellipses — the MULTIVARIATE anomaly
    detector that catches jointly-weird rows (high qty at low price)
    every univariate fence (IQR/MAD) misses. Exact decimal moments;
    the 2×2 inverse is a closed form, one mirrored per-row double
    expression; exact counts out."""
    li = table(spark, sf, "lineitem")
    b = li.select(
        F.col("l_quantity").cast("bigint").alias("x"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint").alias("y"))
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    m = b.agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.col("x").cast("decimal(38,0)")).cast("double")
               .alias("sx"),
              F.sum(F.col("y").cast("decimal(38,0)")).cast("double")
               .alias("sy"),
              F.sum(d19("x") * d19("x")).cast("double").alias("sxx"),
              F.sum(d19("y") * d19("y")).cast("double").alias("syy"),
              F.sum(d19("x") * d19("y")).cast("double").alias("sxy"))
    nD = F.col("n").cast("double")
    nm1 = (F.col("n") - F.lit(1)).cast("double")
    c = m.select(
        "n",
        (F.col("sx") / nD).alias("mx"), (F.col("sy") / nD).alias("my"),
        ((F.col("sxx") - F.col("sx") * F.col("sx") / nD) / nm1)
        .alias("vx"),
        ((F.col("syy") - F.col("sy") * F.col("sy") / nD) / nm1)
        .alias("vy"),
        ((F.col("sxy") - F.col("sx") * F.col("sy") / nD) / nm1)
        .alias("cxy"))
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    md2 = ((F.col("vy") * dx * dx - F.lit(2.0) * F.col("cxy") * dx * dy
            + F.col("vx") * dy * dy)
           / (F.col("vx") * F.col("vy") - F.col("cxy") * F.col("cxy")))
    return (b.crossJoin(F.broadcast(c))
             .groupBy("n")
             .agg(F.sum(F.when(md2 > 5.991465, 1).otherwise(0))
                   .cast("bigint").alias("n_out95"),
                  F.sum(F.when(md2 > 9.21034, 1).otherwise(0))
                   .cast("bigint").alias("n_out99"))
             .select(F.col("n").alias("n_rows"), "n_out95", "n_out99"))




def _pcorr_sql() -> str:
    """One-text partial-correlation SQL (the _ols2_sql posture): run
    verbatim by BOTH engines over a view named by the caller."""
    x = "CAST(l_quantity AS BIGINT)"
    y = "CAST(round(CAST(l_extendedprice AS DOUBLE) * 100.0) AS BIGINT)"
    z = "CAST(round(CAST(l_discount AS DOUBLE) * 100.0) AS BIGINT)"
    dec = lambda a, b: (f"SUM(CAST({a} AS DECIMAL(19,0)) "  # noqa: E731
                        f"* CAST({b} AS DECIMAL(19,0)))")
    corr = (lambda sab, sa, sb, qa, qb:
            f"(n * {sab} - {sa} * {sb}) "
            f"/ sqrt((n * {qa} - {sa} * {sa}) * (n * {qb} - {sb} * {sb}))")
    return (
        "WITH m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, "
        "CAST(COUNT(*) AS BIGINT) AS n_rows, "
        f"CAST(SUM(CAST({x} AS DECIMAL(38,0))) AS DOUBLE) AS sx, "
        f"CAST(SUM(CAST({y} AS DECIMAL(38,0))) AS DOUBLE) AS sy, "
        f"CAST(SUM(CAST({z} AS DECIMAL(38,0))) AS DOUBLE) AS sz, "
        f"CAST({dec(x, x)} AS DOUBLE) AS qx, "
        f"CAST({dec(y, y)} AS DOUBLE) AS qy, "
        f"CAST({dec(z, z)} AS DOUBLE) AS qz, "
        f"CAST({dec(x, y)} AS DOUBLE) AS sxy, "
        f"CAST({dec(x, z)} AS DOUBLE) AS sxz, "
        f"CAST({dec(y, z)} AS DOUBLE) AS syz "
        "FROM {tbl}), "
        "r AS (SELECT n_rows, "
        f"{corr('sxy', 'sx', 'sy', 'qx', 'qy')} AS rxy, "
        f"{corr('sxz', 'sx', 'sz', 'qx', 'qz')} AS rxz, "
        f"{corr('syz', 'sy', 'sz', 'qy', 'qz')} AS ryz FROM m) "
        "SELECT n_rows, "
        "CAST(floor(rxy * 1000000.0 + 0.5) AS BIGINT) AS rxy_micro, "
        "CASE WHEN (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0.0 THEN "
        "CAST(floor((rxy - rxz * ryz) "
        "/ sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)) * 1000000.0 "
        "+ 0.5) AS BIGINT) END AS partial_rxy_z_micro FROM r")




@q("stats_partial_corr", _pcorr_sql().replace("{tbl}", "lineitem"))
def stats_partial_corr(spark, sf):
    """Partial correlation of quantity and price CONTROLLING for
    discount: (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) — the
    continuous-variable confounder adjustment completing the
    Simpson-screen / CMH family (those handle categorical strata;
    this nets out a numeric covariate). All ten moments in one exact
    decimal pass; same SQL text runs on both engines."""
    return spark.sql(_pcorr_sql(), tbl=table(spark, sf, "lineitem"))




def _deming_sql() -> str:
    """One-text Deming regression (λ=1) — slope from centered moments:
    ((Syy−Sxx) + √((Syy−Sxx)² + 4·Sxy²)) / (2·Sxy)."""
    x = "CAST(l_quantity AS BIGINT)"
    y = "CAST(round(CAST(l_extendedprice AS DOUBLE) * 100.0) AS BIGINT)"
    dec = lambda a, b: (f"SUM(CAST({a} AS DECIMAL(19,0)) "  # noqa: E731
                        f"* CAST({b} AS DECIMAL(19,0)))")
    return (
        "WITH m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, "
        "CAST(COUNT(*) AS BIGINT) AS n_rows, "
        f"CAST(SUM(CAST({x} AS DECIMAL(38,0))) AS DOUBLE) AS sx, "
        f"CAST(SUM(CAST({y} AS DECIMAL(38,0))) AS DOUBLE) AS sy, "
        f"CAST({dec(x, x)} AS DOUBLE) AS qx, "
        f"CAST({dec(y, y)} AS DOUBLE) AS qy, "
        f"CAST({dec(x, y)} AS DOUBLE) AS qxy "
        "FROM {tbl}), "
        "c AS (SELECT n_rows, n, "
        "(qx - sx * sx / n) / n AS cxx, "
        "(qy - sy * sy / n) / n AS cyy, "
        "(qxy - sx * sy / n) / n AS cxy, "
        "sx / n AS mx, sy / n AS my FROM m) "
        "SELECT n_rows, "
        "CASE WHEN cxy <> 0.0 THEN "
        "CAST(floor(((cyy - cxx) + sqrt((cyy - cxx) * (cyy - cxx) "
        "+ 4.0 * cxy * cxy)) / (2.0 * cxy) * 1000000.0 + 0.5) "
        "AS BIGINT) END AS slope_micro, "
        # centi, not micro: the intercept's magnitude (slope * mean x,
        # ~1e9 cents on the TPC-H scales) would need 16 significant
        # digits at micro precision — beyond IEEE double entirely, so
        # the two engines' last-ulp decimal->double differences broke
        # the sf0.1 hash. Centi keeps ~12 digits (~900x error margin).
        "CASE WHEN cxy <> 0.0 THEN "
        "CAST(floor((my - ((cyy - cxx) + sqrt((cyy - cxx) * (cyy - cxx) "
        "+ 4.0 * cxy * cxy)) / (2.0 * cxy) * mx) * 100.0 + 0.5) "
        "AS BIGINT) END AS intercept_centi FROM c")




@q("stats_deming_qty_price", _deming_sql().replace("{tbl}", "lineitem"))
def stats_deming_qty_price(spark, sf):
    """Deming regression (errors in BOTH variables, λ=1) of extended
    price (cents) on quantity — the calibration-grade line for when x
    is as noisy as y and OLS's attenuation bias is unacceptable (instrument
    cross-calibration, sensor reconciliation). Closed form from five
    exact decimal moments; same SQL text runs verbatim on both
    engines (the _ols2_sql posture)."""
    return spark.sql(_deming_sql(), tbl=table(spark, sf, "lineitem"))




@q("stats_kendall_tau_daily",
   "WITH daily AS (SELECT epoch_us(date_trunc('day', ts)) "
   "// 86400000000 AS d, "
   "CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) "
   "AS BIGINT) AS xc, "
   "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) "
   "AS BIGINT) AS yc FROM events GROUP BY 1), "
   "p AS (SELECT CAST(SUM(CASE WHEN (b.xc - a.xc) * (b.yc - a.yc) > 0 "
   "THEN 1 ELSE 0 END) AS BIGINT) AS conc, "
   "CAST(SUM(CASE WHEN (b.xc - a.xc) * (b.yc - a.yc) < 0 THEN 1 "
   "ELSE 0 END) AS BIGINT) AS disc, "
   "CAST(SUM(CASE WHEN b.xc = a.xc OR b.yc = a.yc THEN 1 ELSE 0 END) "
   "AS BIGINT) AS ties, "
   "CAST(COUNT(*) AS BIGINT) AS n_pairs "
   "FROM daily a JOIN daily b ON b.d > a.d) "
   "SELECT n_pairs, conc, disc, ties, "
   "CASE WHEN n_pairs > 0 THEN "
   "CAST(floor(CAST(conc - disc AS DOUBLE) "
   "/ CAST(n_pairs AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) END "
   "AS tau_a_micro FROM p")
def stats_kendall_tau_daily(spark, sf):
    """Kendall's τ-a between the daily click and purchase count
    series: (concordant − discordant) / C(n,2) over all day pairs —
    the rank-association member completing the correlation family
    (Pearson = stats_corr_lineitem, Spearman =
    stats_spearman_qty_discount; τ is the most outlier-proof of the
    three). Exact integer pair classification on the tiny day frame;
    one terminal division."""
    ev = table(spark, sf, "events")
    daily = (ev.groupBy(F.expr("unix_micros(date_trunc('DAY', ts)) "
                               "div 86400000000").alias("d"))
               .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                           .otherwise(0)).alias("xc"),
                    F.sum(F.when(F.col("event_type") == "purchase", 1)
                           .otherwise(0)).alias("yc")))
    a = daily.select(F.col("d").alias("da"), F.col("xc").alias("xa"),
                     F.col("yc").alias("ya"))
    b = daily.select(F.col("d").alias("db"), F.col("xc").alias("xb"),
                     F.col("yc").alias("yb"))
    prod = (F.col("xb") - F.col("xa")) * (F.col("yb") - F.col("ya"))
    p = (a.join(b, F.col("db") > F.col("da"))
          .agg(F.sum(F.when(prod > 0, 1).otherwise(0)).alias("conc"),
               F.sum(F.when(prod < 0, 1).otherwise(0)).alias("disc"),
               F.sum(F.when((F.col("xb") == F.col("xa"))
                            | (F.col("yb") == F.col("ya")), 1)
                      .otherwise(0)).alias("ties"),
               F.count(F.lit(1)).alias("n_pairs")))
    tau = (F.floor((F.col("conc") - F.col("disc")).cast("double")
                   / F.col("n_pairs").cast("double")
                   * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    return p.select("n_pairs", "conc", "disc", "ties",
                    F.when(F.col("n_pairs") > 0, tau)
                     .alias("tau_a_micro"))




@q("stats_ljung_box_daily",
   "WITH daily AS (SELECT epoch_us(date_trunc('day', ts)) "
   "// 86400000000 AS d, "
   "SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS y "
   "FROM events WHERE value IS NOT NULL GROUP BY 1), "
   "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
   "CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS s FROM daily), "
   "c AS (SELECT d, CAST(y AS DOUBLE) - s / CAST(n AS DOUBLE) AS e "
   "FROM daily CROSS JOIN nn), "
   "v AS (SELECT SUM(e * e) AS c0 FROM c), "
   "l AS (SELECT k, SUM(a.e * b.e) AS ck FROM "
   "(SELECT CAST(i AS INT) AS k FROM range(1, 6) t(i)) ks "
   "JOIN c a ON TRUE JOIN c b ON b.d = a.d + ks.k GROUP BY 1), "
   "r AS (SELECT l.k, CAST(floor(l.ck / v.c0 * 1000000.0 + 0.5) "
   "AS BIGINT) AS rk FROM l CROSS JOIN v), "
   "q AS (SELECT CAST(SUM(CAST(floor(CAST(rk AS DOUBLE) "
   "* CAST(rk AS DOUBLE) / CAST((SELECT n FROM nn) - k AS DOUBLE) "
   "+ 0.5) AS BIGINT)) AS BIGINT) AS qsum FROM r) "
   "SELECT nn.n AS n_days, "
   "CAST(floor(CAST(nn.n AS DOUBLE) * CAST(nn.n + 2 AS DOUBLE) "
   "* CAST(q.qsum AS DOUBLE) / 1000000.0 + 0.5) AS BIGINT) "
   "AS q_micro, CAST(5 AS INT) AS df, "
   "CAST(CAST(nn.n AS DOUBLE) * CAST(nn.n + 2 AS DOUBLE) "
   "* CAST(q.qsum AS DOUBLE) / 1000000.0 < 11070500.0 AS INT) "
   "AS is_white_noise FROM nn CROSS JOIN q")
def stats_ljung_box_daily(spark, sf):
    """Ljung–Box portmanteau whiteness test on the daily value series
    (lags 1–5): Q = n(n+2)·Σ r²ₖ/(n−k) vs the χ²₅ 5% critical value —
    the autocorrelation-based residual check that complements the
    runs test (runs sees sign patterns; Q sees linear memory at any
    of 5 lags). Exact daily sums; per-lag autocorrelations quantized
    to micro BEFORE the Q sum (each term floor-quantized, so the sum
    is exact integers); one mirrored terminal scaling. q_micro and the
    whiteness comparison are BOTH in micro units: rk is r·1e6 so each
    Q-sum term carries 1e12, and dividing by 1e6 once leaves Q·1e6 —
    hence the χ²₅ 5% critical value is 11.0705e6 on this scale."""
    from pyspark.sql import Window
    ev = table(spark, sf, "events").where(F.col("value").isNotNull())
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    daily = (ev.groupBy(F.expr("unix_micros(date_trunc('DAY', ts)) "
                               "div 86400000000").alias("d"))
               .agg(F.sum(cents).alias("y")))
    nn = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("double")
         .alias("s"))
    c = (daily.crossJoin(F.broadcast(nn))
              .select("d", "n",
                      (F.col("y").cast("double")
                       - F.col("s") / F.col("n").cast("double"))
                      .alias("e")))
    v = c.agg(F.sum(F.col("e") * F.col("e")).alias("c0"))
    ks = ev.sparkSession.range(1, 6).select(F.col("id").cast("int")
                                            .alias("k"))
    a = c.select(F.col("d").alias("da"), F.col("e").alias("ea"))
    b = c.select(F.col("d").alias("db"), F.col("e").alias("eb"))
    l = (a.crossJoin(F.broadcast(ks))
          .join(b, F.col("db") == F.col("da") + F.col("k"))
          .groupBy("k")
          .agg(F.sum(F.col("ea") * F.col("eb")).alias("ck")))
    r = (l.crossJoin(F.broadcast(v))
          .select("k", F.floor(F.col("ck") / F.col("c0")
                               * F.lit(1000000.0) + F.lit(0.5))
                       .cast("bigint").alias("rk")))
    q = (r.crossJoin(F.broadcast(nn.select("n")))
          .select(F.floor(F.col("rk").cast("double")
                          * F.col("rk").cast("double")
                          / (F.col("n") - F.col("k")).cast("double")
                          + F.lit(0.5)).cast("bigint").alias("t"))
          .agg(F.sum("t").alias("qsum")))
    nD = F.col("n").cast("double")
    qv = (nD * (F.col("n") + F.lit(2)).cast("double")
          * F.col("qsum").cast("double") / F.lit(1000000.0))
    return (nn.crossJoin(F.broadcast(q))
              .select(F.col("n").alias("n_days"),
                      F.floor(qv + F.lit(0.5)).cast("bigint")
                       .alias("q_micro"),
                      F.lit(5).cast("int").alias("df"),
                      (qv < F.lit(11070500.0)).cast("int")
                       .alias("is_white_noise")))
