"""Corpus-quality, audit and retrieval queries split from
analytics_q.py: full-text retrieval (BM25, rank fusion, trigram
substring search), data-quality audits (referential integrity,
Benford, value ranges, primary keys, split leakage, sequence gaps),
profiling (key skew, join cardinality), text-corpus health (vocabulary
coverage, unigram logloss, language-ID confidence, quality-score
normalization), sampling plans and pipeline rollups.

Mechanically split from analytics_q.py (registry semantics unchanged);
same determinism posture (see stats_q / analytics_q docstrings).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mura_spark.suite.common import registry, sql_tokens, table

SPARK_QUERIES, ORACLE_SQL, q = registry()


_TOKS = sql_tokens("text")



# ---------------------------------------------------------------- retrieval

_BM25_TERMS = ["hash", "join", "vector"]


_FUSE_TERMS = ["filter", "scan"]




def _sql_bm25(terms: list[str], k: int) -> str:
    """DuckDB rendering of operators.search.bm25_topk — expression tree
    mirrored subexpression-for-subexpression (association order changes
    double low bits; the per-term floor then absorbs only ulp-level libm
    drift, not reordering)."""
    in_list = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    return (
        f"WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents), "
        "lens AS (SELECT doc_id, len(tk) AS dl FROM toks), "
        "stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS tot "
        "FROM lens), "
        "tok AS (SELECT doc_id, unnest(tk) AS term FROM toks), "
        "tf AS (SELECT doc_id, term, COUNT(*) AS tfc FROM tok "
        f"WHERE term IN ({in_list}) GROUP BY 1, 2), "
        "dfreq AS (SELECT term, COUNT(*) AS dfc FROM tf GROUP BY 1), "
        "scored AS (SELECT tf.doc_id, CAST(floor("
        "ln(1.0 + (n - dfc + 0.5) / (dfc + 0.5)) * CAST(tfc AS DOUBLE) "
        "* 2.2 / (CAST(tfc AS DOUBLE) + 1.2 * (0.25 + "
        "(0.75 * CAST(dl AS DOUBLE)) "
        "/ (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)))) "
        "* 1000000.0 + 0.5) AS BIGINT) AS s "
        "FROM tf JOIN dfreq USING (term) JOIN lens USING (doc_id) "
        "CROSS JOIN stats), "
        "total AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS score_micro "
        "FROM scored GROUP BY 1) "
        "SELECT doc_id, score_micro, CAST(ROW_NUMBER() OVER (ORDER BY "
        "score_micro DESC, doc_id ASC) AS INT) AS rank FROM total "
        f"ORDER BY score_micro DESC, doc_id ASC LIMIT {k}")




@q("search_bm25_topk", _sql_bm25(_BM25_TERMS, 10))
def search_bm25_topk(spark, sf):
    """Top-10 documents for the query {hash, join, vector} under BM25
    (k1=1.2, b=0.75). Query-term filter runs BEFORE the tf shuffle; the
    final top-k is TakeOrderedAndProject, not a global window — see
    operators.search.bm25_topk for the full 100 TB plan shape."""
    from mura_spark.operators.search import bm25_topk
    d = table(spark, sf, "documents")
    return bm25_topk(d, "doc_id", "text", _BM25_TERMS, k=10)




@q("search_rrf_fusion",
   "WITH bm AS (" + _sql_bm25(_FUSE_TERMS, 20) + "), "
   "ln_rank AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY "
   "n_chars DESC, doc_id ASC) AS INT) AS rank FROM documents "
   "ORDER BY n_chars DESC, doc_id ASC LIMIT 20), "
   "contrib AS ("
   "SELECT doc_id, CAST(floor(1000000.0 / (60.0 + CAST(rank AS DOUBLE)) "
   "+ 0.5) AS BIGINT) AS c FROM bm "
   "UNION ALL SELECT doc_id, CAST(floor(1000000.0 / "
   "(60.0 + CAST(rank AS DOUBLE)) + 0.5) AS BIGINT) AS c FROM ln_rank), "
   "total AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rrf_micro "
   "FROM contrib GROUP BY 1) "
   "SELECT doc_id, rrf_micro, CAST(ROW_NUMBER() OVER (ORDER BY "
   "rrf_micro DESC, doc_id ASC) AS INT) AS rank FROM total "
   "ORDER BY rrf_micro DESC, doc_id ASC LIMIT 10")
def search_rrf_fusion(spark, sf):
    """Reciprocal-rank fusion (k0=60) of two top-20 rankings — BM25
    relevance for {filter, scan} fused with a document-length prior —
    the standard way multi-retriever curation merges candidate lists.
    Per-ranking reciprocals quantize per row, then fuse by exact integer
    sum (operators.search.rrf_fuse)."""
    from mura_spark.operators.search import _rank_topk, bm25_topk, rrf_fuse
    d = table(spark, sf, "documents")
    bm = bm25_topk(d, "doc_id", "text", _FUSE_TERMS, k=20)
    by_len = _rank_topk(d.select("doc_id", "n_chars"),
                        "doc_id", "n_chars", 20)
    return rrf_fuse([bm, by_len], "doc_id", k=10)




# ------------------------------------------------------------------ corpus

@q("text_simpson_by_lang",
   f"WITH tok AS (SELECT lang, unnest({_TOKS}) AS term FROM documents), "
   "cnt AS (SELECT lang, term, COUNT(*) AS c FROM tok GROUP BY 1, 2), "
   "per AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens, "
   "SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS s2 "
   "FROM cnt GROUP BY 1) "
   "SELECT lang, n_tokens, CAST(floor((1.0 - CAST(s2 AS DOUBLE) "
   "/ (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))) "
   "* 1000000.0 + 0.5) AS BIGINT) AS simpson_micro FROM per")
def text_simpson_by_lang(spark, sf):
    """Per-language Simpson lexical diversity (probability two random
    tokens differ) — the boilerplate-collapse monitor. Exact integer
    counts only; squares in DECIMAL(38,0) because a 100 TB slice's token
    count squared overflows int64 (operators.corpus.simpson_diversity)."""
    from mura_spark.operators.corpus import simpson_diversity
    d = table(spark, sf, "documents")
    return simpson_diversity(d, "lang", "text")




@q("text_tvd_by_source",
   f"WITH tok AS (SELECT source, unnest({_TOKS}) AS term FROM documents), "
   "cnt AS (SELECT source AS grp, term, COUNT(*) AS c FROM tok "
   "GROUP BY 1, 2), "
   "g AS (SELECT term, CAST(SUM(c) AS BIGINT) AS gc FROM cnt GROUP BY 1), "
   "tg AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS tgc FROM cnt GROUP BY 1), "
   "t AS (SELECT CAST(SUM(c) AS BIGINT) AS tc FROM cnt), "
   "j AS (SELECT grp, c, gc, tgc, tc FROM cnt JOIN g USING (term) "
   "JOIN tg USING (grp) CROSS JOIN t), "
   "inside AS (SELECT grp, SUM(abs(CAST(c AS DECIMAL(19,0)) "
   "* CAST(tc AS DECIMAL(19,0)) - CAST(gc AS DECIMAL(19,0)) "
   "* CAST(tgc AS DECIMAL(19,0)))) AS s_in, "
   "CAST(SUM(gc) AS BIGINT) AS c_in, ANY_VALUE(tgc) AS tgc, "
   "ANY_VALUE(tc) AS tc FROM j GROUP BY 1) "
   "SELECT grp AS source, CAST(floor(CAST(s_in + CAST(tc - c_in "
   "AS DECIMAL(19,0)) * CAST(tgc AS DECIMAL(19,0)) AS DOUBLE) "
   "/ (2.0 * CAST(tgc AS DOUBLE) * CAST(tc AS DOUBLE)) "
   "* 1000000.0 + 0.5) AS BIGINT) AS tvd_micro FROM inside")
def text_tvd_by_source(spark, sf):
    """Per-source total-variation distance from the corpus unigram
    distribution — the new-source drift monitor. Exact over the common
    denominator T_s·T, with the absent-term mass closed in O(1) per
    group instead of a full-vocabulary outer join
    (operators.corpus.total_variation)."""
    from mura_spark.operators.corpus import total_variation
    d = table(spark, sf, "documents")
    return total_variation(d, "source", "text")




@q("text_quality_qnorm",
   f"WITH q AS (SELECT doc_id, source, "
   f"CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS}) AS v "
   "FROM documents) "
   # NULLS FIRST = Spark's ASC default: an unknown (NULL-text) quality
   # score ranks lowest, the conservative don't-select default
   "SELECT doc_id, source, CAST(floor(percent_rank() OVER ("
   "PARTITION BY source ORDER BY v ASC NULLS FIRST, doc_id ASC) "
   "* 1e6 + 0.5) AS BIGINT) AS pr_micro FROM q")
def text_quality_qnorm(spark, sf):
    """Percent-rank quality normalization within each source — raw
    quality scores aren't comparable across sources, so mixture
    planning selects on the within-source rank instead
    (operators.profile.quantile_normalize); doc_id tiebreak keeps equal
    scores hash-stable."""
    from mura_spark.functions import text as TX
    from mura_spark.operators.profile import quantile_normalize
    d = table(spark, sf, "documents")
    base = d.select("doc_id", "source",
                    TX.distinct_token_ratio(F.col("text")).alias("v"))
    return quantile_normalize(base, "source", "v", "doc_id")




# ------------------------------------------------------- round-5i additions

_AUDIT_ACTIVE = "c_acctbal >= 0"




def _audit_block(name: str, child: str, fk: str, parent_sql: str,
                 pk: str) -> str:
    return (
        f"SELECT '{name}' AS relationship, "
        f"(SELECT COUNT(*) FROM {child}) AS n_child, "
        f"(SELECT COUNT(*) FROM {child} ch WHERE NOT EXISTS "
        f"(SELECT 1 FROM {parent_sql} p WHERE p.{pk} = ch.{fk})) "
        "AS n_orphan, "
        f"(SELECT COUNT(*) FROM {parent_sql} p WHERE NOT EXISTS "
        f"(SELECT 1 FROM {child} ch WHERE ch.{fk} = p.{pk})) "
        "AS n_unreferenced")




@q("audit_referential",
   _audit_block("orders_active_customer", "orders", "o_custkey",
                f"(SELECT * FROM customer WHERE {_AUDIT_ACTIVE})",
                "c_custkey")
   + " UNION ALL "
   + _audit_block("events_active_customer", "events", "user_id",
                  f"(SELECT * FROM customer WHERE {_AUDIT_ACTIVE})",
                  "c_custkey")
   + " UNION ALL "
   + _audit_block("lineitem_part", "lineitem", "l_partkey",
                  "part", "p_partkey"))
def audit_referential(spark, sf):
    """Referential-integrity audit: orders and events against the
    in-good-standing customer set (negative balances excluded — the
    retention-cleanup scenario, so orphans really occur), plus the clean
    lineitem→part relationship as the control row. Anti-join per
    direction, counts only (operators.profile.referential_audit)."""
    from mura_spark.operators.profile import referential_audit
    cust = table(spark, sf, "customer").filter(F.col("c_acctbal") >= 0)
    return referential_audit([
        ("orders_active_customer", table(spark, sf, "orders"),
         "o_custkey", cust, "c_custkey"),
        ("events_active_customer", table(spark, sf, "events"),
         "user_id", cust, "c_custkey"),
        ("lineitem_part", table(spark, sf, "lineitem"),
         "l_partkey", table(spark, sf, "part"), "p_partkey"),
    ])




# ------------------------------------------------------- round-5j additions

@q("text_vocab_coverage",
   "WITH cnt AS (SELECT term, COUNT(*) AS cnt FROM "
   f"(SELECT unnest({_TOKS}) AS term FROM documents) GROUP BY 1), "
   "tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM cnt), "
   "top AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) "
   "AS rn FROM cnt ORDER BY cnt DESC, term ASC LIMIT 50), "
   "perk AS (SELECT k, CAST(SUM(cnt) AS BIGINT) AS n_covered "
   "FROM top, (SELECT unnest([10, 25, 50]) AS k) ks "
   "WHERE rn <= k GROUP BY 1) "
   "SELECT k, n_covered, CAST(floor(CAST(n_covered AS DOUBLE) "
   "/ CAST(t AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) "
   "AS coverage_micro FROM perk CROSS JOIN tot")
def text_vocab_coverage(spark, sf):
    """Vocabulary-budget curve: token-occurrence coverage of the top
    {10, 25, 50} most frequent tokens — the tokenizer-size planning
    query. Top-k is distributed partial top-k; every per-k sum runs
    over that bounded frame (operators.corpus.vocab_coverage)."""
    from mura_spark.operators.corpus import vocab_coverage
    d = table(spark, sf, "documents")
    return vocab_coverage(d, "text", [10, 25, 50])




@q("text_unigram_logloss",
   f"WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term "
   "FROM documents), "
   "cnt AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY 1), "
   "tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cnt), "
   "sup AS (SELECT term, CAST(floor(ln(CAST(t AS DOUBLE) "
   "/ CAST(c AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS s "
   "FROM cnt CROSS JOIN tot), "
   "perdoc AS (SELECT doc_id, COUNT(*) AS n_tokens, "
   "CAST(SUM(s) AS BIGINT) AS sm FROM tok JOIN sup USING (term) "
   "GROUP BY 1) "
   "SELECT doc_id, n_tokens, CAST(floor(CAST(sm AS DOUBLE) "
   "/ CAST(n_tokens AS DOUBLE)) AS BIGINT) AS logloss_micro "
   "FROM perdoc")
def text_unigram_logloss(spark, sf):
    """Per-document unigram LM surprisal (CCNet-style LM quality
    filter): mean corpus surprisal of the document's tokens, quantized
    per term before any sum. High = gibberish/rare-language leak, low =
    boilerplate (operators.corpus.unigram_logloss)."""
    from mura_spark.operators.corpus import unigram_logloss
    d = table(spark, sf, "documents")
    return unigram_logloss(d, "doc_id", "text")




@q("audit_benford",
   "WITH cells AS (SELECT CAST(substr(CAST(CAST(floor("
   "CAST(o_totalprice AS DOUBLE)) AS BIGINT) AS VARCHAR), 1, 1) AS INT) "
   "AS dg, COUNT(*) AS obs FROM orders WHERE o_totalprice >= 1 "
   "GROUP BY 1), "
   "tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells), "
   "cellsg AS (SELECT g.digit, CAST(coalesce(c.obs, 0) AS BIGINT) "
   "AS observed FROM (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS digit) g "
   "LEFT JOIN cells c ON g.digit = c.dg) "
   "SELECT digit, observed, "
   "CAST(floor(CAST(n AS DOUBLE) * log10(1.0 + 1.0 "
   "/ CAST(digit AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) "
   "AS expected_micro, "
   "CAST(floor((CAST(observed AS DOUBLE) - CAST(n AS DOUBLE) "
   "* log10(1.0 + 1.0 / CAST(digit AS DOUBLE))) "
   "* (CAST(observed AS DOUBLE) - CAST(n AS DOUBLE) "
   "* log10(1.0 + 1.0 / CAST(digit AS DOUBLE))) "
   "/ (CAST(n AS DOUBLE) * log10(1.0 + 1.0 / CAST(digit AS DOUBLE))) "
   "* 1000000.0 + 0.5) AS BIGINT) AS chi2_micro "
   "FROM cellsg CROSS JOIN tot")
def audit_benford(spark, sf):
    """First-digit Benford audit of order totals — the fabricated-
    numbers screen. Nine groups, broadcast total, per-row quantized
    log10 expectation (operators.profile.benford_audit)."""
    from mura_spark.operators.profile import benford_audit
    o = table(spark, sf, "orders")
    return benford_audit(o, "o_totalprice")




def _langid_conf_oracle() -> str:
    from mura_spark.functions.text import LANG_STOPWORDS
    hits = {lang: (f"len(list_filter({_TOKS}, t -> list_contains("
                   f"[{', '.join(repr(w) for w in words)}], t)))")
            for lang, words in sorted(LANG_STOPWORDS.items())}
    total = " + ".join(hits.values())
    top = "greatest(" + ", ".join(hits.values()) + ")"
    return (
        f"WITH h AS (SELECT doc_id, {total} AS hits_total, "
        f"{top} AS top_hits FROM documents) "
        "SELECT doc_id, CAST(hits_total AS BIGINT) AS hits_total, "
        "CAST(floor(CAST(top_hits AS DOUBLE) "
        "/ CAST(hits_total AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) "
        "AS top_share_micro, "
        "CAST(top_hits AS DOUBLE) / CAST(hits_total AS DOUBLE) < 0.6 "
        "AS is_ambiguous FROM h WHERE hits_total >= 4")




@q("text_langid_confidence", _langid_conf_oracle())
def text_langid_confidence(spark, sf):
    """Language-ID confidence screen: per doc, the dominant language's
    share of all stopword hits across the five language lists — docs
    under 60% are ambiguous (mixed-language or boilerplate), the rows a
    curation pass routes to review. Pure JVM expressions over the shared
    tokenizer, one scan, no shuffle before the verifying aggregate."""
    from mura_spark.functions import text as TX
    d = table(spark, sf, "documents")
    toks = TX.tokens(F.col("text"))
    hits = {lang: TX.stopword_count(toks, words)
            for lang, words in sorted(TX.LANG_STOPWORDS.items())}
    from mura_spark.functions.quantize import micro
    # single-pass counting: explode the tokens ONCE and take all five
    # language counts as conditional sums in one map-side-combined
    # aggregate. The single-select HOF form evaluates the tokenizer once
    # per referencing expression (CollapseProject inlines any staging
    # projection, so Spark never CSEs the chains) — measured ~10
    # tokenizations per row; counts are exact ints, so the oracle's
    # independent per-list filters still hash-match.
    tok = d.select("doc_id", F.explode(toks).alias("__t"))
    cnts = tok.groupBy("doc_id").agg(*[
        F.sum(F.col("__t").isin(*words).cast("int")).alias(f"__h_{lang}")
        for lang, words in sorted(TX.LANG_STOPWORDS.items())])
    vals = [F.col(f"__h_{lang}") for lang in sorted(TX.LANG_STOPWORDS)]
    total = vals[0]
    for v in vals[1:]:
        total = total + v
    top = F.greatest(*vals)
    share = F.col("__top").cast("double") / F.col("hits_total").cast("double")
    return (cnts.select("doc_id", total.alias("hits_total"),
                        top.alias("__top"))
                .filter(F.col("hits_total") >= 4)
                .select("doc_id",
                        F.col("hits_total").cast("bigint")
                         .alias("hits_total"),
                        micro(share).alias("top_share_micro"),
                        (share < F.lit(0.6)).alias("is_ambiguous")))




# ------------------------------------------------------- round-5n additions

@q("text_dedup_rate_by_source",
   "WITH h AS (SELECT source, md5(text) AS hh FROM documents), "
   "c AS (SELECT hh, COUNT(*) AS n FROM h GROUP BY 1) "
   "SELECT source, COUNT(*) AS n_docs, "
   "CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) "
   "AS n_dup_docs, "
   "CAST(floor(CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS DOUBLE) "
   "/ CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) "
   "AS dup_rate_micro "
   "FROM h JOIN c USING (hh) GROUP BY 1")
def text_dedup_rate_by_source(spark, sf):
    """Corpus-health rollup: per source, how many documents share their
    exact text with ANY other document (corpus-wide duplicate clusters,
    MD5 content key — the portable hash convention). One content-hash
    shuffle for cluster sizes, joined back on the hash; the rate is an
    exact-int division, micro-floored."""
    from mura_spark.functions.quantize import micro
    d = table(spark, sf, "documents")
    h = d.select("source", F.md5(F.col("text")).alias("hh"))
    c = h.groupBy("hh").agg(F.count(F.lit(1)).alias("n"))
    dup = F.sum((F.col("n") > 1).cast("int")).cast("bigint")
    rate = dup.cast("double") / F.count(F.lit(1)).cast("double")
    return (h.join(c, "hh")
             .groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  dup.alias("n_dup_docs"),
                  micro(rate).alias("dup_rate_micro")))




@q("audit_value_ranges",
   "SELECT 'value_nonnegative' AS rule, "
   "CAST(COUNT(*) FILTER (WHERE value < 0) AS BIGINT) AS n_violations "
   "FROM events "
   "UNION ALL SELECT 'value_under_cap', "
   "CAST(COUNT(*) FILTER (WHERE value > 400) AS BIGINT) FROM events "
   "UNION ALL SELECT 'business_event_type', "
   "CAST(COUNT(*) FILTER (WHERE event_type NOT IN "
   "('view', 'click', 'purchase', 'signup')) AS BIGINT) FROM events")
def audit_value_ranges(spark, sf):
    """Data-contract audit: violation counts per declared rule
    (non-negative values, value cap, allowed business event types —
    'error' rows violate the contract by design). ONE scan: all rules
    ride as conditional counts in a single aggregate, then unpivot to
    (rule, n_violations) rows."""
    ev = table(spark, sf, "events")
    cnt = lambda c: F.sum(c.cast("int")).cast("bigint")  # noqa: E731
    wide = ev.agg(
        cnt(F.col("value") < 0).alias("v_neg"),
        cnt(F.col("value") > 400).alias("v_cap"),
        cnt(~F.col("event_type").isin("view", "click", "purchase",
                                      "signup")).alias("v_type"))
    return wide.select(F.expr(
        "stack(3, 'value_nonnegative', v_neg, "
        "'value_under_cap', v_cap, "
        "'business_event_type', v_type) AS (rule, n_violations)"))




# ------------------------------------------------------- round-5p addition

@q("pipeline_corpus_health",
   "WITH h AS (SELECT source, md5(text) AS hh FROM documents), "
   "c AS (SELECT hh, COUNT(*) AS n FROM h GROUP BY 1), "
   "dup AS (SELECT source, COUNT(*) AS n_docs, "
   "CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup "
   "FROM h JOIN c USING (hh) GROUP BY 1), "
   "tok AS (SELECT doc_id, source, unnest("
   + sql_tokens("text") + ") AS term FROM documents), "
   "langc AS (SELECT doc_id, source, "
   + ", ".join(
       f"SUM(CASE WHEN list_contains([{', '.join(repr(w) for w in ws)}], "
       f"term) THEN 1 ELSE 0 END) AS h_{lg}"
       for lg, ws in [("de", ["der", "die", "und", "ein", "zu"]),
                      ("en", ["the", "a", "of", "and", "to"]),
                      ("es", ["el", "la", "de", "y", "que"]),
                      ("fr", ["le", "la", "et", "un", "que"]),
                      ("zh", ["的", "是", "了", "在", "我"])])
   + " FROM tok GROUP BY 1, 2), "
   "amb AS (SELECT source, COUNT(*) AS n_scored, "
   "CAST(SUM(CASE WHEN CAST(greatest(h_de, h_en, h_es, h_fr, h_zh) "
   "AS DOUBLE) / CAST(h_de + h_en + h_es + h_fr + h_zh AS DOUBLE) "
   "< 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_ambiguous FROM langc "
   "WHERE h_de + h_en + h_es + h_fr + h_zh >= 4 GROUP BY 1) "
   "SELECT dup.source, n_docs, "
   "CAST(floor(CAST(n_dup AS DOUBLE) / CAST(n_docs AS DOUBLE) "
   "* 1000000.0 + 0.5) AS BIGINT) AS dup_rate_micro, "
   "CAST(floor(CAST(n_ambiguous AS DOUBLE) / CAST(n_scored AS DOUBLE) "
   "* 1000000.0 + 0.5) AS BIGINT) AS ambiguous_rate_micro "
   "FROM dup JOIN amb ON dup.source = amb.source")
def pipeline_corpus_health(spark, sf):
    """End-to-end corpus-health report per source: exact-duplicate rate
    (corpus-wide MD5 clusters) joined with the mixed-language/ambiguous
    rate (dominant-language share < 60%) — the one-look dashboard a
    curation run checks before admitting a source. Composes the dedup
    and language-confidence pipelines; each side is one reduced shuffle
    and the final join is source-dimension-sized."""
    from mura_spark.functions import text as TX
    from mura_spark.functions.quantize import micro
    d = table(spark, sf, "documents")
    h = d.select("source", F.md5(F.col("text")).alias("hh"))
    csize = h.groupBy("hh").agg(F.count(F.lit(1)).alias("n"))
    dup = (h.join(csize, "hh")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum((F.col("n") > 1).cast("int")).cast("bigint")
                  .alias("n_dup")))
    tok = d.select("doc_id", "source",
                   F.explode(TX.tokens(F.col("text"))).alias("__t"))
    langc = tok.groupBy("doc_id", "source").agg(*[
        F.sum(F.col("__t").isin(*ws).cast("int")).alias(f"h_{lg}")
        for lg, ws in sorted(TX.LANG_STOPWORDS.items())])
    vals = [F.col(f"h_{lg}") for lg in sorted(TX.LANG_STOPWORDS)]
    total = vals[0]
    for v in vals[1:]:
        total = total + v
    share = F.greatest(*vals).cast("double") / total.cast("double")
    amb = (langc.filter(total >= 4)
                .groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_scored"),
                     F.sum((share < 0.6).cast("int")).cast("bigint")
                      .alias("n_ambiguous")))
    dup_rate = F.col("n_dup").cast("double") / F.col("n_docs").cast("double")
    amb_rate = (F.col("n_ambiguous").cast("double")
                / F.col("n_scored").cast("double"))
    return (dup.join(amb, "source")
               .select("source", "n_docs",
                       micro(dup_rate).alias("dup_rate_micro"),
                       micro(amb_rate).alias("ambiguous_rate_micro")))




@q("text_ngram_novelty",
   "WITH sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')[i:i+2], ' ') for i in range(1, greatest(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) - 2, 1) + 1)])) AS s "
   "FROM documents), "
   "df AS (SELECT s, COUNT(DISTINCT doc_id) AS d FROM sh GROUP BY 1) "
   "SELECT doc_id, COUNT(*) AS n_shingles, "
   "CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, "
   "CAST(floor(CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS DOUBLE) "
   "/ CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) "
   "AS novelty_micro "
   "FROM sh JOIN df USING (s) GROUP BY 1")
def text_ngram_novelty(spark, sf):
    """Per-document shingle novelty: the share of a document's distinct
    3-gram shingles appearing in NO other document — the inverse of the
    boilerplate signal (novel-content scoring for dedup-adjacent
    curation). One shingle-keyed shuffle for document frequencies,
    joined back on the shingle; exact-int rate, micro-floored."""
    from mura_spark.functions.quantize import micro
    from mura_spark.operators.dedup import shingle_sets
    d = table(spark, sf, "documents")
    # Arrow-batched shingle kernel (~1% of the interpreted HOF's CPU;
    # output pinned identical in tests/test_text.py)
    sh = (shingle_sets(d, "doc_id", "text")
          .select("doc_id", F.explode("shset").alias("s")))
    dfreq = sh.groupBy("s").agg(F.countDistinct("doc_id").alias("d"))
    novel = F.sum((F.col("d") == 1).cast("int")).cast("bigint")
    rate = novel.cast("double") / F.count(F.lit(1)).cast("double")
    return (sh.join(dfreq, "s")
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_shingles"),
                   novel.alias("n_novel"),
                   micro(rate).alias("novelty_micro")))




@q("profile_key_skew",
   "WITH c AS (SELECT l_partkey AS key, COUNT(*) AS n FROM lineitem "
   "GROUP BY 1), "
   "t AS (SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_keys "
   "FROM c) "
   "SELECT key, n, "
   "CAST(floor(CAST(n AS DOUBLE) / CAST(total AS DOUBLE) * 1000000.0 "
   "+ 0.5) AS BIGINT) AS share_micro, "
   "CAST(floor(CAST(n AS DOUBLE) / (CAST(total AS DOUBLE) "
   "/ CAST(n_keys AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) "
   "AS vs_mean_micro "
   "FROM c CROSS JOIN t ORDER BY n DESC, key ASC LIMIT 10")
def profile_key_skew(spark, sf):
    """Join/shuffle-key skew diagnostic: the 10 heaviest l_partkey
    values with their corpus share and multiple-of-mean — the readout
    that decides whether a join needs the salting path
    (operators.skew). One map-side-combined groupBy to the key grain,
    broadcast singleton totals, distributed top-k with key tiebreak
    (TakeOrderedAndProject — never a global sort)."""
    from mura_spark.operators.topk import topk
    li = table(spark, sf, "lineitem")
    c = (li.groupBy(F.col("l_partkey").alias("key"))
           .agg(F.count(F.lit(1)).alias("n")))
    t = c.agg(F.sum("n").cast("bigint").alias("total"),
              F.count(F.lit(1)).alias("n_keys"))
    j = c.crossJoin(F.broadcast(t))
    n_d, tot_d = F.col("n").cast("double"), F.col("total").cast("double")
    mean = tot_d / F.col("n_keys").cast("double")
    from mura_spark.functions.quantize import micro
    out = j.select("key", "n",
                   micro(n_d / tot_d).alias("share_micro"),
                   micro(n_d / mean).alias("vs_mean_micro"))
    return topk(out, [F.col("n").desc(), F.col("key").asc()], 10)




# ------------------------------------------------------- round-5z additions

_TRGM_PATTERN = "gear"




@q("search_substring_trigram",
   f"SELECT p_partkey, p_name FROM part "
   f"WHERE contains(lower(p_name), '{_TRGM_PATTERN}')")
def search_substring_trigram(spark, sf):
    """%substring% search through trigram-posting candidate generation:
    names explode into character trigrams JVM-side, candidates must
    match EVERY pattern trigram (count-match on the distinct
    intersection), and a final ``contains`` verify makes the filter
    lossless — so the oracle is the plain LIKE scan. This is the
    pattern that replaces full-corpus regex scans once the posting
    list is materialized: candidate generation becomes an equi-join
    against the (tiny) pattern-trigram set, and the expensive verify
    touches candidates only."""
    pat = _TRGM_PATTERN
    pat_grams = sorted({pat[i:i + 3] for i in range(len(pat) - 2)})
    p = table(spark, sf, "part").select(
        "p_partkey", "p_name", F.lower("p_name").alias("__nm"))
    grams = p.select(
        "p_partkey",
        F.explode(F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.greatest(
                F.length("__nm") - F.lit(2), F.lit(1))),
            lambda i: F.col("__nm").substr(i, F.lit(3))))).alias("g"))
    cand = (grams.filter(F.col("g").isin(pat_grams))
                 .groupBy("p_partkey")
                 .agg(F.countDistinct("g").alias("__hits"))
                 .filter(F.col("__hits") == len(pat_grams))
                 .select("p_partkey"))
    return (p.join(cand, "p_partkey")
             .filter(F.col("__nm").contains(pat))  # lossless verify
             .select("p_partkey", "p_name"))




@q("sample_split_temporal",
   "WITH b AS (SELECT quantile_cont(CAST(epoch_us(ts) AS DOUBLE), "
   "[i / 3.0 for i in range(1, 3)]) AS bnds FROM events), "
   "s AS (SELECT CASE len(list_filter(bnds, "
   "x -> CAST(epoch_us(ts) AS DOUBLE) > x)) "
   "WHEN 0 THEN 'train' WHEN 1 THEN 'val' ELSE 'test' END AS split, ts "
   "FROM events CROSS JOIN b) "
   "SELECT split, COUNT(*) AS n, MIN(ts) AS min_ts, MAX(ts) AS max_ts "
   "FROM s GROUP BY 1")
def sample_split_temporal(spark, sf):
    """Temporal train/val/test split at exact time terciles — the
    leakage-safe protocol for forecasting/sequence models (hash splits
    leak the future into training; a TIME cut cannot). Boundary
    assignment reuses the quantile_bins rule (count of boundaries
    strictly below — broadcast array, no sort of the corpus); output
    is the per-split audit row (count + actual time range)."""
    from mura_spark.operators.sampling import quantile_bins
    ev = (table(spark, sf, "events")
          .withColumn("__us", F.unix_micros("ts")))
    binned = quantile_bins(ev, "__us", 3)
    split = (F.when(F.col("bin") == 0, "train")
              .when(F.col("bin") == 1, "val").otherwise("test"))
    return (binned.groupBy(split.alias("split"))
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.min("ts").alias("min_ts"),
                       F.max("ts").alias("max_ts")))




# ------------------------------------------------------- round-6p additions

@q("audit_k_anonymity",
   "WITH g AS (SELECT lang, source, n_chars // 100 AS nb, "
   "COUNT(*) AS gsz FROM documents GROUP BY 1, 2, 3), "
   "tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents), "
   "bands AS (SELECT CASE WHEN gsz = 1 THEN '1_unique' "
   "WHEN gsz < 5 THEN '2_lt5' WHEN gsz < 20 THEN '3_lt20' "
   "ELSE '4_ge20' END AS k_band, COUNT(*) AS qi_groups, "
   "CAST(SUM(gsz) AS BIGINT) AS n_rows FROM g GROUP BY 1) "
   "SELECT k_band, qi_groups, n_rows, "
   "CAST(floor(CAST(n_rows AS DOUBLE) / CAST(n AS DOUBLE) "
   "* 1000000.0 + 0.5) AS BIGINT) AS pct_rows_micro "
   "FROM bands CROSS JOIN tot")
def audit_k_anonymity(spark, sf):
    """k-anonymity exposure audit over the corpus's quasi-identifiers
    (lang, source, length-bucket): what share of rows sit in QI groups
    small enough to re-identify (k=1, k<5, k<20)? The release gate run
    before publishing a training corpus (operators.profile
    .k_anonymity_bands). One QI shuffle; total rides broadcast."""
    from mura_spark.operators.profile import k_anonymity_bands
    d = table(spark, sf, "documents")
    qi = d.select("lang", "source",
                  F.expr("n_chars DIV 100").alias("nb"))
    return k_anonymity_bands(qi, ["lang", "source", "nb"])




def _join_card_oracle() -> str:
    blocks = []
    for name, lt, lk, rt, rk in [
            ("orders_lineitem", "orders", "o_orderkey",
             "lineitem", "l_orderkey"),
            ("customer_orders", "customer", "c_custkey",
             "orders", "o_custkey"),
            ("events_self_user", "events", "user_id",
             "events", "user_id")]:
        blocks.append(
            f"SELECT '{name}' AS join_name, "
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM {lt}) AS n_left, "
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM {rt}) AS n_right, "
            "CAST(COUNT(*) AS BIGINT) AS matched_keys, "
            "CAST(coalesce(SUM(ca * cb), 0) AS BIGINT) AS est_rows, "
            "CAST(coalesce(MAX(ca * cb), 0) AS BIGINT) AS max_key_rows, "
            "CASE WHEN coalesce(SUM(ca * cb), 0) > 0 THEN "
            "CAST(floor(CAST(MAX(ca * cb) AS DOUBLE) "
            "/ CAST(SUM(ca * cb) AS DOUBLE) * 1000000.0 + 0.5) "
            "AS BIGINT) ELSE 0 END AS skew_micro FROM "
            f"(SELECT {lk} AS k, CAST(COUNT(*) AS BIGINT) AS ca "
            f"FROM {lt} GROUP BY 1) la JOIN "
            f"(SELECT {rk} AS k, CAST(COUNT(*) AS BIGINT) AS cb "
            f"FROM {rt} GROUP BY 1) ra USING (k)")
    return " UNION ALL ".join(blocks)




@q("profile_join_cardinality", _join_card_oracle())
def profile_join_cardinality(spark, sf):
    """Exact join-output-size estimation from per-key counts — the
    pre-flight a 100 TB pipeline runs before committing to a shuffle
    join: Σ cnt_l·cnt_r per key gives the output rows the join WOULD
    produce, max_key_rows/skew_micro flag the salt-this-key hotspot,
    all without materializing a single joined row (operators.profile
    .join_cardinality_report)."""
    from mura_spark.operators.profile import join_cardinality_report
    o = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem")
    c = table(spark, sf, "customer")
    ev = table(spark, sf, "events")
    return join_cardinality_report([
        ("orders_lineitem", o, "o_orderkey", li, "l_orderkey"),
        ("customer_orders", c, "c_custkey", o, "o_custkey"),
        ("events_self_user", ev, "user_id", ev, "user_id")])




# ------------------------------------------------------- round-6r additions

@q("feature_target_encode_loo",
   # n counts NON-NULL labels (COUNT(col), not COUNT(*)) and the row's
   # own label subtracts only if present — mirrors the operator's
   # NULL-label semantics exactly
   "SELECT doc_id, lang, source, n_chars, "
   "CASE WHEN COUNT(n_chars) OVER w "
   "- CASE WHEN n_chars IS NOT NULL THEN 1 ELSE 0 END > 0 THEN "
   "CAST(SUM(n_chars) OVER w - COALESCE(n_chars, 0) AS DOUBLE) "
   "/ CAST(COUNT(n_chars) OVER w "
   "- CASE WHEN n_chars IS NOT NULL THEN 1 ELSE 0 END AS DOUBLE) END "
   "AS loo_nchars "
   "FROM documents WINDOW w AS (PARTITION BY lang, source)")
def feature_target_encode_loo(spark, sf):
    """Leakage-safe leave-one-out target encoding of (lang, source)
    against document length — each row's categorical feature is its
    group mean computed WITHOUT the row itself, the standard fix for
    group-mean encoding leaking the row's own label (operators.features
    .target_encode_loo). One window shuffle, row grain preserved."""
    from mura_spark.operators.features import target_encode_loo
    d = table(spark, sf, "documents")
    return target_encode_loo(
        d.select("doc_id", "lang", "source", "n_chars"),
        ["lang", "source"], "n_chars", "loo_nchars")




@q("text_bigram_logloss",
   f"WITH tok AS (SELECT unnest({_TOKS}) AS term FROM documents), "
   "uni AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY 1), "
   "tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS T FROM tok), "
   "st AS (SELECT doc_id, pr[1] AS prev, pr[2] AS cur FROM "
   "(SELECT doc_id, unnest([[t[i], t[i + 1]] "
   "for i in range(1, len(t))]) AS pr FROM "
   f"(SELECT doc_id, {_TOKS} AS t FROM documents))), "
   "bc AS (SELECT prev, cur, COUNT(*) AS cb FROM st GROUP BY 1, 2), "
   "sc AS (SELECT st.doc_id, CAST(floor(ln(1.0 / (0.7 "
   "* (CAST(cb AS DOUBLE) / CAST(u1.c AS DOUBLE)) + 0.3 "
   "* (CAST(u2.c AS DOUBLE) / CAST(T AS DOUBLE)))) * 1000000.0 + 0.5) "
   "AS BIGINT) AS s FROM st JOIN bc ON st.prev = bc.prev "
   "AND st.cur = bc.cur JOIN uni u1 ON u1.term = st.prev "
   "JOIN uni u2 ON u2.term = st.cur CROSS JOIN tot) "
   "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored, "
   "CAST(floor(CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) "
   "AS BIGINT) AS logloss_micro FROM sc GROUP BY 1")
def text_bigram_logloss(spark, sf):
    """Per-document interpolated bigram LM surprisal (Jelinek-Mercer
    λ=0.7 backoff to the unigram) — the context-aware LM quality filter
    that frequent-words-in-random-order documents cannot fool, unlike
    text_unigram_logloss (operators.cooccur.bigram_logloss)."""
    from mura_spark.operators.cooccur import bigram_logloss
    d = table(spark, sf, "documents")
    return bigram_logloss(d, "doc_id", "text")




@q("audit_sequence_gaps",
   "WITH ids AS (SELECT DISTINCT event_id AS k FROM events), "
   "b AS (SELECT MIN(k) AS span_min, MAX(k) AS span_max, "
   "CAST(COUNT(*) AS BIGINT) AS n_ids FROM ids), "
   "g AS (SELECT a.k FROM ids a, b WHERE a.k < b.span_max "
   "AND NOT EXISTS (SELECT 1 FROM ids i WHERE i.k = a.k + 1)) "
   "SELECT n_ids, span_min, span_max, "
   "span_max - span_min + 1 - n_ids AS n_missing, "
   "(SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS n_gap_runs, "
   "(SELECT MIN(k) + 1 FROM g) AS first_missing FROM b")
def audit_sequence_gaps(spark, sf):
    """Dense-id integrity audit over event_id: missing mass in the
    [min,max] span and where the holes start — the dropped-batch
    detector for monotone upstream ids, computed as a successor-key
    ANTI join (never a global sort) — operators.profile
    .sequence_gaps."""
    from mura_spark.operators.profile import sequence_gaps
    ev = table(spark, sf, "events")
    return sequence_gaps(ev, "event_id")




@q("audit_order_totals",
   "WITH l AS (SELECT l_orderkey, "
   "SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) "
   "AS line_cents FROM lineitem GROUP BY 1), "
   "j AS (SELECT o.o_orderkey, "
   "CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
   "AS order_cents, l.line_cents FROM orders o "
   "LEFT JOIN l ON o.o_orderkey = l.l_orderkey) "
   "SELECT CAST(COUNT(*) AS BIGINT) AS n_orders, "
   "CAST(SUM(CASE WHEN line_cents IS NULL THEN 1 ELSE 0 END) "
   "AS BIGINT) AS n_no_lines, "
   "CAST(SUM(CASE WHEN line_cents = order_cents THEN 1 ELSE 0 END) "
   "AS BIGINT) AS n_matched, "
   "CAST(SUM(CASE WHEN line_cents IS NOT NULL "
   "AND line_cents <> order_cents THEN 1 ELSE 0 END) AS BIGINT) "
   "AS n_mismatched, "
   "CAST(MAX(CASE WHEN line_cents IS NOT NULL "
   "THEN abs(order_cents - line_cents) END) AS BIGINT) "
   "AS max_abs_diff_cents, "
   "CAST(SUM(CASE WHEN line_cents IS NOT NULL "
   "THEN abs(order_cents - line_cents) ELSE 0 END) AS BIGINT) "
   "AS total_abs_diff_cents FROM j")
def audit_order_totals(spark, sf):
    """Cross-table reconciliation: does each order's header total equal
    the exact-decimal sum of its line extended prices? — the
    finance-grade consistency audit (the totals sibling of
    audit_referential's key checks), reported as a one-row discrepancy
    summary rather than assumed. Header-side LEFT join keeps
    line-less orders visible; all arithmetic in exact cents."""
    li = table(spark, sf, "lineitem")
    o = table(spark, sf, "orders")
    cents = lambda c: (F.col(c).cast("decimal(18,2)") * 100) \
        .cast("bigint")  # noqa: E731
    l = (li.groupBy("l_orderkey")
           .agg(F.sum(cents("l_extendedprice")).alias("line_cents")))
    j = (o.select("o_orderkey", cents("o_totalprice").alias("order_cents"))
          .join(l, o["o_orderkey"] == l["l_orderkey"], "left"))
    has = F.col("line_cents").isNotNull()
    diff = F.abs(F.col("order_cents") - F.col("line_cents"))
    return j.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(~has, 1).otherwise(0)).alias("n_no_lines"),
        F.sum(F.when(F.col("line_cents") == F.col("order_cents"), 1)
               .otherwise(0)).alias("n_matched"),
        F.sum(F.when(has & (F.col("line_cents") != F.col("order_cents")),
                     1).otherwise(0)).alias("n_mismatched"),
        F.max(F.when(has, diff)).alias("max_abs_diff_cents"),
        F.sum(F.when(has, diff).otherwise(0))
         .alias("total_abs_diff_cents"))




_PK_SPECS = [
    ("region", "CAST(r_regionkey AS VARCHAR)"),
    ("nation", "CAST(n_nationkey AS VARCHAR)"),
    ("customer", "CAST(c_custkey AS VARCHAR)"),
    ("supplier", "CAST(s_suppkey AS VARCHAR)"),
    ("part", "CAST(p_partkey AS VARCHAR)"),
    ("orders", "CAST(o_orderkey AS VARCHAR)"),
    ("lineitem", "CAST(l_orderkey AS VARCHAR) || '|' "
                 "|| CAST(l_linenumber AS VARCHAR)"),
    ("events", "CAST(event_id AS VARCHAR)"),
    ("documents", "CAST(doc_id AS VARCHAR)"),
    ("embeddings", "CAST(vec_id AS VARCHAR)"),
]



_PK_KEYS = {
    "region": ["r_regionkey"], "nation": ["n_nationkey"],
    "customer": ["c_custkey"], "supplier": ["s_suppkey"],
    "part": ["p_partkey"], "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"], "events": ["event_id"],
    "documents": ["doc_id"], "embeddings": ["vec_id"],
}




@q("audit_primary_keys",
   " UNION ALL ".join(
       f"SELECT '{t}' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows, "
       f"CAST(COUNT(DISTINCT {k}) AS BIGINT) AS n_distinct_pk, "
       f"CAST(COUNT(*) - COUNT(DISTINCT {k}) AS BIGINT) AS n_dup_pk "
       f"FROM {t}" for t, k in _PK_SPECS))
def audit_primary_keys(spark, sf):
    """Primary-key contract audit across the whole star schema: row
    count vs distinct key count per table (composite key for
    lineitem) — the uniqueness half of audit_referential's FK checks,
    run as one unioned report so a single driver row guards every
    table's key contract. Each leg is one count-distinct rollup; the
    union is 10 single-row frames."""
    parts = []
    for t, _k in _PK_SPECS:
        df = table(spark, sf, t)
        keys = [F.col(c).cast("string") for c in _PK_KEYS[t]]
        key = keys[0] if len(keys) == 1 else F.concat_ws("|", *keys)
        parts.append(df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(key).alias("n_distinct_pk"))
            .select(F.lit(t).alias("tbl"), "n_rows", "n_distinct_pk",
                    (F.col("n_rows") - F.col("n_distinct_pk"))
                    .alias("n_dup_pk")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out
