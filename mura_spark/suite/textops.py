"""Text-analysis queries over the documents table (north-star extension).

Each Spark query is built from mura_spark.functions.text; each oracle is the
literal ANSI-SQL rendering of the same arithmetic, so the comparison pins
the *functions*, not just the queries.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mura_spark.functions import text as TX
from mura_spark.sources.parquet import ensure_min_partitions
from mura_spark.suite.common import registry, sql_hash48, sql_tokens, table

SPARK_QUERIES, ORACLE_SQL, q = registry()


_TOKS = sql_tokens("text")


@q("text_token_stats",
   f"SELECT doc_id, len({_TOKS}) AS n_tokens, "
   f"len(list_distinct({_TOKS})) AS n_distinct, "
   "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) "
   "AS n_bpe_ish FROM documents")
def text_token_stats(spark, sf):
    d = table(spark, sf, "documents")
    t = TX.tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct"),
        TX.bpe_ish_token_count(F.col("text")).alias("n_bpe_ish"))


@q("text_quality",
   f"SELECT doc_id, "
   f"CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS}) "
   "AS distinct_ratio, "
   f"CAST(length(replace(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ', '')) AS DOUBLE) "
   f"/ len({_TOKS}) AS avg_token_len, "
   f"CAST(len(list_filter({_TOKS}, t -> list_contains(['the','a','of','and','to'], t))) AS DOUBLE) "
   f"/ len({_TOKS}) AS stopword_ratio "
   "FROM documents")
def text_quality(spark, sf):
    d = table(spark, sf, "documents")
    return d.select(
        "doc_id",
        TX.distinct_token_ratio(F.col("text")).alias("distinct_ratio"),
        TX.avg_token_len(F.col("text")).alias("avg_token_len"),
        TX.stopword_ratio(F.col("text")).alias("stopword_ratio"))


def _langid_case() -> str:
    """DuckDB rendering of TX.lang_id as a CASE expression."""
    score = {lang: (f"len(list_filter({_TOKS}, t -> list_contains("
                    f"[{', '.join(repr(w) for w in words)}], t)))")
             for lang, words in TX.LANG_STOPWORDS.items()}
    m = "greatest(" + ", ".join(score.values()) + ")"
    cases = " ".join(f"WHEN {score[lang]} = {m} THEN '{lang}'"
                     for lang in sorted(score))
    return f"CASE WHEN {m} = 0 THEN 'und' {cases} ELSE 'und' END"


def _langid_oracle() -> str:
    return (f"SELECT doc_id, lang AS lang_declared, "
            f"{_langid_case()} AS lang_pred FROM documents")


@q("text_langid", _langid_oracle())
def text_langid(spark, sf):
    d = table(spark, sf, "documents")
    return d.select("doc_id", F.col("lang").alias("lang_declared"),
                    TX.lang_id(F.col("text")).alias("lang_pred"))


@q("text_fingerprint",
   f"SELECT doc_id, md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) "
   "AS fingerprint, "
   f"CAST('0x' || substr(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 12) AS BIGINT) "
   "AS content_hash FROM documents")
def text_fingerprint(spark, sf):
    d = table(spark, sf, "documents")
    return d.select(
        "doc_id",
        TX.fingerprint(F.col("text")).alias("fingerprint"),
        TX.rolling_hash(F.col("text")).alias("content_hash"))


@q("text_quality_filter",
   f"SELECT doc_id, lang, n_chars FROM documents "
   f"WHERE CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS}) >= 0.3 "
   f"AND len({_TOKS}) BETWEEN 20 AND 1000 "
   "AND CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) "
   "AS DOUBLE) / length(text) <= 0.3")
def text_quality_filter(spark, sf):
    """Pretraining-style quality gate: lexical diversity floor, token-count
    band, digit-ratio ceiling — the standard pre-filter before dedup."""
    d = table(spark, sf, "documents")
    t = TX.tokens(F.col("text"))
    # the oracle renders digit_ratio's exact arithmetic (double division,
    # not the algebraically-equal d <= 0.3*n) so boundary rows can't diverge
    keep = ((TX.distinct_token_ratio(F.col("text")) >= 0.3)
            & F.size(t).between(20, 1000)
            & (TX.digit_ratio(F.col("text")) <= 0.3))
    return d.filter(keep).select("doc_id", "lang", "n_chars")


@q("text_scrub_pii",
   "SELECT doc_id, "
   f"len(regexp_extract_all(text, '{TX.EMAIL_RE}')) AS n_emails, "
   f"len(regexp_extract_all(text, '{TX.IPV4_RE}')) AS n_ips, "
   f"length(regexp_replace(regexp_replace(text, '{TX.EMAIL_RE}', "
   "'<EMAIL>', 'g'), "
   f"'{TX.IPV4_RE}', '<IP>', 'g')) AS n_scrubbed_chars "
   "FROM documents")
def text_scrub_pii(spark, sf):
    """PII scrub pass: email/IPv4 redaction counts + scrubbed length. The
    corpus is synthetic (typically zero hits) — the oracle pins the regex
    semantics cross-engine on real text either way; positive cases are
    pinned on planted rows in tests/test_text.py."""
    d = table(spark, sf, "documents")
    return d.select(
        "doc_id",
        TX.pii_email_count(F.col("text")).alias("n_emails"),
        TX.pii_ipv4_count(F.col("text")).alias("n_ips"),
        F.length(TX.scrub_pii(F.col("text"))).alias("n_scrubbed_chars"))


#: non-distinct bigram list (multiplicity matters for repetition metrics) —
#: the 2-gram rendering of sql_shingles without list_distinct
_BIGRAMS = (f"[array_to_string({_TOKS}[i:i+1], ' ') "
            f"for i in range(1, greatest(len({_TOKS}) - 1, 1) + 1)]")

@q("text_repetition",
   # text IS NOT NULL mirrors the kernel's skip: DuckDB greatest(NULL,1)
   # is 1 (greatest skips NULLs), so a null doc would fabricate one gram
   f"WITH g AS (SELECT doc_id, unnest({_BIGRAMS}) AS gram FROM documents "
   "WHERE text IS NOT NULL), "
   "c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2), "
   "m AS (SELECT doc_id, MAX(cnt) AS mx, SUM(cnt) AS tot FROM c GROUP BY 1) "
   "SELECT d.doc_id, CAST(m.mx AS DOUBLE) / m.tot AS top_bigram_frac, "
   f"1 - CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS}) "
   "AS dup_token_frac "
   "FROM documents d JOIN m ON d.doc_id = m.doc_id")
def text_repetition(spark, sf):
    """Gopher-style repetition signals: fraction of bigram occurrences taken
    by the most frequent bigram, and the duplicate-token fraction. The
    bigram count runs as a narrow Arrow kernel (multiset counting per doc —
    no shuffle; the explode+groupBy form would shuffle ~|tokens| rows just
    to reunite per-doc counts); dup_token_frac is native expression."""
    import pandas as pd

    d = table(spark, sf, "documents")
    base = ensure_min_partitions(d.select(
        "doc_id", "text",
        (1 - TX.distinct_token_ratio(F.col("text")))
        .alias("dup_token_frac")))

    def kernel(batches):
        from collections import Counter
        for pdf in batches:
            keep, fracs = [], []
            for idx, t in zip(pdf.index, pdf["text"]):
                grams = TX.ngram_list(t, 2)
                if grams is None:
                    continue  # NULL text: oracle's unnest emits no rows
                c = Counter(grams)
                keep.append(idx)
                fracs.append(max(c.values()) / len(grams))
            out = pdf.loc[keep, ["doc_id", "dup_token_frac"]].copy()
            out["top_bigram_frac"] = fracs
            yield out[["doc_id", "top_bigram_frac", "dup_token_frac"]]

    return base.mapInPandas(
        kernel, "doc_id bigint, top_bigram_frac double, dup_token_frac double")


@q("sample_split_train",
   "SELECT doc_id, lang FROM documents "
   "WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)"
   " % 1000 < 900")
def sample_split_train(spark, sf):
    """Deterministic 90% train split by portable key hash (stable across
    runs, engines, and repartitioning — unlike RNG sample())."""
    from mura_spark.operators.sampling import split_by_hash
    d = table(spark, sf, "documents").select("doc_id", "lang")
    return split_by_hash(d, "doc_id", {"train": 0.9, "val": 0.1})["train"]


@q("text_heavy_tokens",
   f"WITH tok AS (SELECT unnest({_TOKS}) AS term FROM documents), "
   "tot AS (SELECT COUNT(*) AS n FROM tok) "
   "SELECT term, COUNT(*) AS n_occ FROM tok, tot GROUP BY term, tot.n "
   "HAVING 100 * COUNT(*) >= 3 * tot.n")
def text_heavy_tokens(spark, sf):
    """Corpus heavy hitters: every token covering ≥ 3% of all token
    occurrences — exact, via the lossless two-pass sketch (per-partition
    pigeonhole candidates, broadcast verification; integer-ratio
    thresholds only). See operators.frequent.heavy_hitters."""
    from mura_spark.operators.frequent import heavy_hitters
    d = table(spark, sf, "documents")
    toks = d.select(F.explode(TX.tokens(F.col("text"))).alias("term"))
    return heavy_hitters(toks, "term", 3, 100)


@q("sample_domain_cap",
   "SELECT doc_id, lang, source FROM ("
   "SELECT doc_id, lang, source, ROW_NUMBER() OVER ("
   "PARTITION BY lang, source ORDER BY doc_id) AS rn FROM documents) "
   "WHERE rn <= 40")
def sample_domain_cap(spark, sf):
    """Domain-mixing cap: at most 40 documents per (lang, source) bucket,
    first-n by doc id (deterministic). Catalyst's WindowGroupLimit
    pre-reduces each input partition to ≤ 40 rows per domain below the
    shuffle, so the dominant domains — the skew this cap exists to bound
    — never funnel whole-corpus rows into single window tasks (see
    operators.sampling.cap_per_group)."""
    from mura_spark.operators.sampling import cap_per_group
    d = table(spark, sf, "documents").select("doc_id", "lang", "source")
    return cap_per_group(d, ["lang", "source"], "doc_id", 40)


_HASH_BUCKET = ("CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) "
                "AS BIGINT) % 1000")

@q("sample_stratified",
   "SELECT lang, COUNT(*) AS n_kept FROM documents "
   f"WHERE {_HASH_BUCKET} < CASE WHEN lang = 'en' THEN 500 "
   "WHEN lang = 'zh' THEN 1000 ELSE 200 END GROUP BY lang")
def sample_stratified(spark, sf):
    """Per-stratum deterministic downsampling (class rebalancing): keep 50%
    of English, all of Chinese, 20% of everything else — membership is a
    row-local hash predicate (no shuffle, no RNG), so the filter runs at
    the scan and the only shuffle is the verifying count."""
    from mura_spark.operators.sampling import stratified_sample
    d = table(spark, sf, "documents").select("doc_id", "lang")
    kept = stratified_sample(d, "lang", "doc_id",
                             {"en": 0.5, "zh": 1.0}, default=0.2)
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


@q("text_tfidf_topterms",
   f"WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents), "
   "tf AS (SELECT doc_id, term, COUNT(*) AS tfc FROM tok GROUP BY 1, 2), "
   "dfreq AS (SELECT term, COUNT(*) AS dfc FROM tf GROUP BY 1), "
   "n AS (SELECT COUNT(*) AS n_docs FROM documents) "
   "SELECT doc_id, term, score_micro FROM ("
   "SELECT tf.doc_id, tf.term, "
   "CAST(floor(CAST(tfc AS DOUBLE) * ln((n_docs + 1.0) / (dfc + 1.0)) "
   "* 1000000 + 0.5) AS BIGINT) AS score_micro, "
   "ROW_NUMBER() OVER (PARTITION BY tf.doc_id ORDER BY "
   "CAST(floor(CAST(tfc AS DOUBLE) * ln((n_docs + 1.0) / (dfc + 1.0)) "
   "* 1000000 + 0.5) AS BIGINT) DESC, tf.term ASC) AS rnk "
   "FROM tf JOIN dfreq USING (term) CROSS JOIN n) WHERE rnk <= 3")
def text_tfidf_topterms(spark, sf):
    """Top-3 TF-IDF terms per document, scored in integer micro-units
    (JVM log and libm ln differ in the last ulp, so the raw double is not
    hash-comparable) — see mura_spark.operators.tfidf for plan shape."""
    from mura_spark.operators.tfidf import tfidf_top_terms
    d = table(spark, sf, "documents")
    return tfidf_top_terms(d, "doc_id", "text", k=3, micro=True)


@q("sample_global_shuffle",
   "SELECT doc_id, CAST('0x' || substr(md5('42|' || CAST(doc_id AS VARCHAR))"
   ", 1, 12) AS BIGINT) AS shuffle_key FROM documents")
def sample_global_shuffle(spark, sf):
    """Deterministic training-order shuffle key (seed 42): a pure function
    of (seed, doc_id), so the induced corpus permutation is reproducible
    across runs and engines and changes wholesale with the seed. The
    serving-order write path (range-partition + local sort by this key,
    no global merge) is operators.sampling.global_shuffle; its ordering
    property is pinned in pytest."""
    from mura_spark.operators.sampling import shuffle_key
    d = table(spark, sf, "documents").select("doc_id")
    return d.select("doc_id",
                    shuffle_key(F.col("doc_id"), seed=42)
                    .alias("shuffle_key"))


@q("sample_weighted_quality",
   "SELECT doc_id, n_chars FROM documents "
   "WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)"
   " % 1000 < least(greatest(n_chars / 400.0, 0.0), 1.0) * 1000")
def sample_weighted_quality(spark, sf):
    """Quality-weighted Bernoulli sampling: keep probability proportional
    to document length (n_chars/400, clamped to 1) — deterministic hash
    predicate, no RNG, no shuffle; longer docs survive proportionally
    more often (operators.sampling.weighted_sample)."""
    from mura_spark.operators.sampling import weighted_sample
    d = table(spark, sf, "documents").select("doc_id", "n_chars")
    return weighted_sample(d, "doc_id",
                           F.col("n_chars").cast("double") / 400.0)


@q("sample_k_per_lang",
   "SELECT doc_id, lang FROM ("
   "SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY "
   "CAST('0x' || substr(md5('7|' || CAST(doc_id AS VARCHAR)), 1, 12) "
   "AS BIGINT), doc_id) AS rn FROM documents) WHERE rn <= 20")
def sample_k_per_lang(spark, sf):
    """Fixed-size uniform per-stratum sample: exactly min(20, |lang|) docs
    per language, drawn by seeded-hash rank (seed 7) — reproducible
    reservoir-style sampling; WindowGroupLimit pre-reduces below the
    shuffle (operators.sampling.sample_k_per_group)."""
    from mura_spark.operators.sampling import sample_k_per_group
    d = table(spark, sf, "documents").select("doc_id", "lang")
    return sample_k_per_group(d, ["lang"], "doc_id", 20, seed=7)


@q("text_remove_boilerplate",
   "WITH w AS (SELECT doc_id, string_split(text, ' ') AS words "
   "FROM documents), "
   "segs AS (SELECT doc_id, i AS pos, "
   "array_to_string(words[(i*10+1):(i*10+10)], ' ') AS seg "
   "FROM w, unnest(range(0, (len(words) + 9) // 10)) AS t(i)), "
   "boiler AS (SELECT seg FROM segs GROUP BY seg "
   "HAVING COUNT(DISTINCT doc_id) >= 2), "
   "kept AS (SELECT doc_id, pos, seg FROM segs "
   "WHERE seg NOT IN (SELECT seg FROM boiler)), "
   "clean AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS "
   "clean_text, COUNT(*) AS n_kept_segments FROM kept GROUP BY doc_id) "
   "SELECT d.doc_id, coalesce(c.clean_text, '') AS clean_text, "
   "CAST(coalesce(c.n_kept_segments, 0) AS BIGINT) AS n_kept_segments "
   "FROM documents d LEFT JOIN clean c ON d.doc_id = c.doc_id")
def text_remove_boilerplate(spark, sf):
    """Cross-document boilerplate removal (C4/CCNet-style cleaning): cut
    each document into 10-word segments, drop every segment occurring in
    ≥ 2 distinct documents, reassemble the remainder in order — exact
    segment-level dedup, the cleaning step pair-mining dedup doesn't
    cover. One segment-hash shuffle for document frequency, an anti-join
    for removal, one doc-id shuffle to reassemble
    (operators.boilerplate.remove_frequent_segments)."""
    from mura_spark.operators.boilerplate import remove_frequent_segments
    d = table(spark, sf, "documents").select("doc_id", "text")
    return remove_frequent_segments(d, "doc_id", "text",
                                    seg_words=10, min_docs=2)


_MIX_W = {"en": 0.4, "zh": 0.2, "de": 0.15, "fr": 0.15, "es": 0.1}
# the weight table is explicit VALUES (not a CASE over observed langs)
# so a weighted stratum ABSENT from the corpus still contributes
# n_total = 0 and forces T = 0 — the operator's documented
# "infeasible -> all-zero plan" semantics; a counts-driven CASE would
# silently re-plan over the present strata only and diverge from Spark
_MIX_CTE = (
    "wts AS (SELECT * FROM (VALUES ('en', 0.4), ('zh', 0.2), "
    "('de', 0.15), ('fr', 0.15), ('es', 0.1)) AS wv(lang, wt)), "
    "counts AS (SELECT lang, COUNT(*) AS n_total FROM documents "
    "GROUP BY lang), "
    "w AS (SELECT wts.lang, CAST(COALESCE(counts.n_total, 0) AS BIGINT) "
    "AS n_total, CAST(wts.wt AS DOUBLE) AS wt "
    "FROM wts LEFT JOIN counts ON wts.lang = counts.lang), "
    "t AS (SELECT MIN(n_total / wt) AS t FROM w)")


@q("sample_mixture_plan",
   f"WITH {_MIX_CTE} "
   "SELECT lang, n_total, "
   "CASE WHEN n_total > 0 THEN wt * t / n_total ELSE 0.0 END "
   "AS keep_rate, "
   "CAST(floor(CASE WHEN n_total > 0 THEN wt * t / n_total "
   "ELSE 0.0 END * 1000 + 0.5) AS BIGINT) AS bucket_threshold, "
   "CAST(floor(wt * t + 0.5) AS BIGINT) AS n_expected "
   "FROM w CROSS JOIN t")
def sample_mixture_plan(spark, sf):
    """Target-mixture planning (the "40% en / 20% zh / ..." data-mixing
    step): per-language keep-rates for the largest downsample-only corpus
    the observed counts support — rate_s = w_s·T/n_s with
    T = min(n_s/w_s). One reduced count shuffle + a broadcast singleton
    minimum; output is dimension-table sized
    (operators.sampling.mixture_plan)."""
    from mura_spark.operators.sampling import mixture_plan
    d = table(spark, sf, "documents")
    return mixture_plan(d, "lang", _MIX_W)


@q("sample_mixture_apply",
   f"WITH {_MIX_CTE} "
   "SELECT doc_id, lang FROM documents JOIN w USING (lang) CROSS JOIN t "
   "WHERE "
   "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) "
   "% 1000 < CAST(floor(wt * t / n_total * 1000 + 0.5) AS BIGINT)")
def sample_mixture_apply(spark, sf):
    """Deterministic enforcement of the mixture plan: broadcast the
    dimension-sized plan onto the corpus and keep iff
    hash_bucket(doc_id) < the stratum's threshold — a row-local
    predicate; the corpus itself never shuffles
    (operators.sampling.apply_mixture)."""
    from mura_spark.operators.sampling import apply_mixture
    d = table(spark, sf, "documents").select("doc_id", "lang")
    return apply_mixture(d, "lang", "doc_id", _MIX_W)


@q("sample_curriculum_bins",
   "WITH b AS (SELECT quantile_cont(CAST(n_chars AS DOUBLE), "
   "[i / 10.0 for i in range(1, 10)]) AS bnds FROM documents) "
   "SELECT doc_id, n_chars, "
   "CASE WHEN n_chars IS NULL THEN NULL "
   "ELSE len(list_filter(bnds, x -> CAST(n_chars AS DOUBLE) > x)) END "
   "AS bin FROM documents CROSS JOIN b")
def sample_curriculum_bins(spark, sf):
    """Curriculum difficulty deciles by document length: equi-depth bin =
    count of interior exact quantile boundaries below the value. NOT a
    global ntile (single-task sort at scale): one percentile aggregation
    broadcasts 9 boundaries to a scan-side filter-count — the corpus
    never sorts or shuffles (operators.sampling.quantile_bins). Exact
    linear-interpolated percentiles are the cross-engine-comparable
    definition; the approx_percentile variant is the same operator's
    100 TB path."""
    from mura_spark.operators.sampling import quantile_bins
    d = table(spark, sf, "documents").select("doc_id", "n_chars")
    return quantile_bins(d, "n_chars", 10, exact=True)


@q("text_pmi_bigrams",
   f"WITH tok AS (SELECT unnest({_TOKS}) AS term FROM documents), "
   "uni AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term), "
   "nu AS (SELECT COUNT(*) AS n_uni FROM tok), "
   f"bg AS (SELECT unnest([t[i] || ' ' || t[i + 1] "
   f"for i in range(1, len(t))]) AS bigram FROM "
   f"(SELECT {_TOKS} AS t FROM documents)), "
   "bic AS (SELECT bigram, COUNT(*) AS n_pair FROM bg GROUP BY bigram "
   "HAVING COUNT(*) >= 5), "
   "nb AS (SELECT COUNT(*) AS n_bi FROM bg) "
   "SELECT bigram, n_pair, CAST(floor(ln("
   "(CAST(n_pair AS DOUBLE) * n_uni * n_uni) / "
   "(CAST(n_bi AS DOUBLE) * u1.c * u2.c)) * 1000000 + 0.5) AS BIGINT) "
   "AS score_micro "
   "FROM bic JOIN uni u1 ON u1.term = string_split(bigram, ' ')[1] "
   "JOIN uni u2 ON u2.term = string_split(bigram, ' ')[2] "
   "CROSS JOIN nu CROSS JOIN nb "
   "ORDER BY score_micro DESC, bigram ASC LIMIT 20")
def text_pmi_bigrams(spark, sf):
    """Top-20 adjacent-pair collocations by pointwise mutual information
    (tokenizer-vocabulary / phrase mining): bigram extraction is narrow,
    unigram+bigram counts are one hash shuffle each, totals ride as
    broadcast singletons, and the top-k is a TakeOrdered — never a global
    sort. Scores in integer micro-units (ln differs in the last ulp
    across engines — operators.cooccur.pmi_bigrams)."""
    from mura_spark.operators.cooccur import pmi_bigrams
    d = table(spark, sf, "documents").select("text")
    return pmi_bigrams(d, "text", min_count=5, k=20)


def _profile_oracle() -> str:
    parts = []
    for c in ["doc_id", "lang", "source", "n_chars"]:
        parts.append(
            f"SELECT '{c}' AS col_name, COUNT(*) AS n_rows, "
            f"COUNT({c}) AS n_nonnull, COUNT(DISTINCT {c}) AS n_distinct, "
            f"CAST(MIN({c}) AS VARCHAR) AS min_str, "
            f"CAST(MAX({c}) AS VARCHAR) AS max_str FROM documents")
    return " UNION ALL ".join(parts)


@q("profile_documents", _profile_oracle())
def profile_documents(spark, sf):
    """One-pass table profiling (ANALYZE summary): per-column null/
    distinct/min/max in a single aggregation — exact NDVs here (the
    oracle-comparable mode; Spark plans them via one Expand), with
    approx_count_distinct as the same operator's 100 TB default
    (operators.profile.profile_table)."""
    from mura_spark.operators.profile import profile_table
    d = table(spark, sf, "documents").select("doc_id", "lang", "source",
                                             "n_chars")
    return profile_table(d, exact=True)


@q("sample_temperature_plan",
   "WITH counts AS (SELECT lang, COUNT(*) AS n_total FROM documents "
   "GROUP BY lang), "
   "w AS (SELECT lang, n_total, pow(n_total, 0.5) AS pw FROM counts), "
   "s AS (SELECT SUM(pw) AS spw FROM w), "
   "t AS (SELECT MIN(n_total / (pw / spw)) AS t FROM w CROSS JOIN s) "
   "SELECT lang, n_total, "
   "CAST(floor(pw / spw * 1000000 + 0.5) AS BIGINT) AS weight_micro, "
   "CAST(floor(pw / spw * t / n_total * 1000 + 0.5) AS BIGINT) "
   "AS bucket_threshold, "
   "CAST(floor(pw / spw * t + 0.5) AS BIGINT) AS n_expected "
   "FROM w CROSS JOIN s CROSS JOIN t")
def sample_temperature_plan(spark, sf):
    """Temperature mixing (α = 0.5): target weights derived from observed
    counts as n^α (flattening toward rare languages — the multilingual-
    pretraining rebalance), then the largest feasible downsample-only
    solve. Counts shuffle once reduced; the normalizer and feasibility
    minimum are broadcast singletons — stratum statistics never touch the
    driver (operators.sampling.temperature_plan; enforcement is the same
    broadcast-plan hash predicate as sample_mixture_apply via
    apply_rates)."""
    from mura_spark.operators.sampling import temperature_plan
    d = table(spark, sf, "documents")
    return temperature_plan(d, "lang", alpha=0.5).select(
        "lang", "n_total", "weight_micro", "bucket_threshold", "n_expected")


@q("udtf_ngrams",
   f"SELECT doc_id, unnest([{{'pos': j, 'ngram': toks[j+1] || ' ' || "
   f"toks[j+2]}} for j in range(0, greatest(len(toks) - 1, 0))], "
   f"recursive := true) FROM "
   f"(SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 50)")
def udtf_ngrams(spark, sf):
    """User-defined TABLE-function surface (the third function shell
    SURVEY.md §2.3 names): the Python UDTF mura_ngrams registered by name
    and LATERAL-joined in SQL, producing (pos, ngram) rows per document.
    Row-based Python by design — the vectorized form is the Arrow shingle
    kernel; this pins the SQL API shape
    (functions.registry._ngrams_udtf)."""
    from mura_spark.functions.registry import register_all
    register_all(spark)
    return spark.sql(
        "SELECT d.doc_id, t.pos, t.ngram "
        "FROM {docs} d, LATERAL mura_ngrams(d.text, 2) t",
        docs=table(spark, sf, "documents").filter(F.col("doc_id") < 50))


@q("text_readability",
   f"SELECT doc_id, len({_TOKS}) AS n_words, "
   "greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences, "
   "len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables, "
   "CAST(206.835 AS DOUBLE) "
   f"- CAST(1.015 AS DOUBLE) * (CAST(len({_TOKS}) AS DOUBLE) "
   "/ CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE)) "
   "- CAST(84.6 AS DOUBLE) "
   "* (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE) "
   f"/ CAST(len({_TOKS}) AS DOUBLE)) AS flesch "
   "FROM documents")
def text_readability(spark, sf):
    """Flesch reading ease per document (vowel-group syllable estimate) —
    the words-per-sentence × syllables-per-word quality cut. Pure per-row
    JVM regexp arithmetic: no shuffle, whole-stage codegen, scan-bound at
    any scale."""
    d = table(spark, sf, "documents")
    return d.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_words"),
        TX.sentence_count(F.col("text")).alias("n_sentences"),
        TX.syllable_count(F.col("text")).alias("n_syllables"),
        TX.flesch_reading_ease(F.col("text")).alias("flesch"))


@q("sample_group_kfold",
   # NULL provenance is its own group: concat_ws skips the NULL (and
   # its separator), so the salt alone is hashed — mirrored here
   "SELECT CAST(CAST('0x' || substr(md5(CASE WHEN source IS NULL "
   "THEN '0' ELSE '0|' || CAST(source AS VARCHAR) END), "
   "1, 12) AS BIGINT) % 5 AS INT) AS fold, COUNT(*) AS n_docs, "
   "COUNT(DISTINCT source) AS n_groups, "
   "CAST(SUM(n_chars) AS BIGINT) AS total_chars "
   "FROM documents GROUP BY 1")
def sample_group_kfold(spark, sf):
    """Leakage-safe GroupKFold (k=5, grouped by source): every document of
    a source lands in the same fold by hashed assignment — no shuffle for
    the assignment itself; the single groupBy here is just the audit
    rollup (operators.sampling.group_kfold)."""
    from mura_spark.operators.sampling import group_kfold
    d = table(spark, sf, "documents").select("doc_id", "source", "n_chars")
    return (d.withColumn("fold", group_kfold(d, "source", 5))
            .groupBy("fold")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("source").alias("n_groups"),
                 F.sum("n_chars").alias("total_chars")))


# ------------------------------------------------------- round-5bb addition

#: ONE copy of the logistic-quality sigmoid (SQL form) — shared by the
#: scoring query and the gains / conformal evaluations built on it (a
#: one-sided coefficient edit cannot desynchronize them).
_LOGIT_SCORE_SQL = (
    f"1.0 / (1.0 + exp(-(-3.0 + 4.0 * (CAST(len(list_distinct({_TOKS})) "
    f"AS DOUBLE) / len({_TOKS})) + 6.0 * (CAST(len(list_filter({_TOKS}, "
    f"t -> list_contains(['the','a','of','and','to'], t))) AS DOUBLE) "
    f"/ len({_TOKS})) - 2.0 * (CAST(length(text) "
    f"- length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) "
    f"/ length(text)) + 1.5 * (least(CAST(len({_TOKS}) AS DOUBLE), "
    f"200.0) / 200.0))))")


def _logit_score():
    """Spark twin of ``_LOGIT_SCORE_SQL`` (a double Column over
    ``text``)."""
    t = TX.tokens(F.col("text"))
    dr = TX.distinct_token_ratio(F.col("text"))
    sr = TX.stopword_ratio(F.col("text"))
    dg = TX.digit_ratio(F.col("text"))
    cap = F.least(F.size(t).cast("double"), F.lit(200.0)) / F.lit(200.0)
    z = (F.lit(-3.0) + F.lit(4.0) * dr + F.lit(6.0) * sr
         - F.lit(2.0) * dg + F.lit(1.5) * cap)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


@q("text_quality_logistic",
   f"WITH s AS (SELECT doc_id, {_LOGIT_SCORE_SQL} "
   f"AS score FROM documents) "
   "SELECT doc_id, CAST(floor(score * 1000000.0 + 0.5) AS BIGINT) "
   "AS score_micro, score >= 0.5 AS keep FROM s")
def text_quality_logistic(spark, sf):
    """Model-based quality scoring: a logistic scorer over lexical
    features (diversity, stopword density, digit density, capped
    length) with FIXED public coefficients — the shape of the
    fastText/classifier quality filters pipelines apply at scale
    (swap the weights for a trained model's; the plan is identical).
    Pure JVM expressions per row, no UDF; the sigmoid is one mirrored
    transcendental, micro-floored (the per-row quantization posture
    of events_decayed_value)."""
    d = table(spark, sf, "documents")
    from mura_spark.functions.quantize import micro
    score = _logit_score()
    return d.select("doc_id", micro(score).alias("score_micro"),
                    (score >= F.lit(0.5)).alias("keep"))


# ------------------------------------------------------- round-5ii addition

@q("pipeline_attrition_report",
   "WITH k AS (SELECT doc_id, source, text, md5(text) AS h "
   "FROM documents), "
   "keep AS (SELECT MIN(doc_id) AS kid FROM k GROUP BY h), "
   "s AS (SELECT k.doc_id, k.source, k.text FROM k "
   "JOIN keep ON keep.kid = k.doc_id), "
   f"q AS (SELECT source FROM s "
   f"WHERE CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS}) "
   f">= 0.3 AND len({_TOKS}) BETWEEN 20 AND 1000 "
   "AND CAST(length(text) - length(regexp_replace(text, '[0-9]', '', "
   "'g')) AS DOUBLE) / length(text) <= 0.3), "
   "r AS (SELECT source, COUNT(*) AS n_raw FROM documents GROUP BY 1), "
   "d AS (SELECT source, COUNT(*) AS n_dedup FROM s GROUP BY 1), "
   "qq AS (SELECT source, COUNT(*) AS n_quality FROM q GROUP BY 1) "
   "SELECT r.source, n_raw, coalesce(n_dedup, 0) AS n_dedup, "
   "coalesce(n_quality, 0) AS n_quality, "
   "CAST(floor(CAST(coalesce(n_quality, 0) AS DOUBLE) "
   "/ CAST(n_raw AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) "
   "AS keep_rate_micro "
   "FROM r LEFT JOIN d ON d.source = r.source "
   "LEFT JOIN qq ON qq.source = r.source")
def pipeline_attrition_report(spark, sf):
    """The end-to-end pipeline funnel every data team reports: per
    source, documents in → after corpus-wide exact dedup (keep-one,
    minimum id per MD5 text key) → after the quality gate
    (text_quality_filter's exact predicates) → final keep rate. Three
    stage counts composed from the SAME operators the individual
    queries pin (exact_dup_groups' keep rule, the quality gate's
    mirrored arithmetic), joined on the dimension-sized source key —
    one corpus-wide hash shuffle for dedup, everything else reduced."""
    d = table(spark, sf, "documents")
    keep = (d.groupBy(F.md5("text").alias("__h"))
             .agg(F.min("doc_id").alias("doc_id")))
    surv = d.join(keep.select("doc_id"), "doc_id", "left_semi")
    t = TX.tokens(F.col("text"))
    qual = surv.filter(
        (TX.distinct_token_ratio(F.col("text")) >= 0.3)
        & F.size(t).between(20, 1000)
        & (TX.digit_ratio(F.col("text")) <= 0.3))
    r = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_raw"))
    dd = surv.groupBy("source").agg(F.count(F.lit(1)).alias("n_dedup"))
    qc = qual.groupBy("source").agg(F.count(F.lit(1)).alias("n_quality"))
    from mura_spark.functions.quantize import micro
    j = (r.join(dd, "source", "left").join(qc, "source", "left")
          .select("source", "n_raw",
                  F.coalesce("n_dedup", F.lit(0)).alias("n_dedup"),
                  F.coalesce("n_quality", F.lit(0)).alias("n_quality")))
    rate = (F.col("n_quality").cast("double")
            / F.col("n_raw").cast("double"))
    return j.withColumn("keep_rate_micro", micro(rate))


@q("text_gopher_rules",
   "WITH d AS (SELECT source, "
   f"{_TOKS} AS tk, "
   "trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm "
   "FROM documents), "
   "m AS (SELECT source, len(tk) AS n, "
   "length(norm) - (len(tk) - 1) AS sum_chars, "
   "len(list_filter(tk, t -> t IN ('the', 'a', 'of', 'and', 'to'))) "
   "AS n_stop FROM d), "
   "r AS (SELECT source, "
   "CASE WHEN n >= 30 AND n <= 80 THEN 1 ELSE 0 END AS p_wc, "
   "CASE WHEN sum_chars >= 3 * n AND 5 * sum_chars <= 21 * n "
   "THEN 1 ELSE 0 END AS p_mwl, "
   "CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS p_stop FROM m) "
   "SELECT source, COUNT(*) AS n_docs, "
   "CAST(SUM(p_wc) AS BIGINT) AS pass_word_count, "
   "CAST(SUM(p_mwl) AS BIGINT) AS pass_mean_word_len, "
   "CAST(SUM(p_stop) AS BIGINT) AS pass_stopwords, "
   "CAST(SUM(p_wc * p_mwl * p_stop) AS BIGINT) AS pass_all "
   "FROM r GROUP BY source")
def text_gopher_rules(spark, sf):
    """Gopher-STYLE document quality rules (the rule SHAPES of Rae et
    al. 2021 §A1.1 — word-count bounds, mean-word-length band, minimum
    stop-word evidence — with thresholds ADAPTED to this fixture's
    short synthetic documents: word count 30–80 vs the paper's
    50–100,000, mean word length 3.0–4.2 vs the paper's 3–10, stopword
    evidence ≥ 2 occurrences from a 5-word list vs the paper's ≥ 2
    distinct of 8; size a real pre-filter from the paper's constants,
    not these), reported as per-source pass rates — the audit that
    sizes a rule-based pretraining filter before it runs. Every rule
    is an integer inequality (mean-word-length 3.0–4.2 is spelled
    ``3n ≤ Σchars`` and ``5·Σchars ≤ 21·n``), so there is no float
    anywhere; Σchars derives from the single-spaced normalized length
    rather than a per-token list sum. One scan, one map-side-combined
    groupBy on source."""
    d = table(spark, sf, "documents")
    toks = TX.tokens(F.col("text"))
    norm = TX.normalize(F.col("text"))
    n = F.size(toks)
    sum_chars = F.length(norm) - (n - F.lit(1))
    n_stop = F.size(F.filter(
        toks, lambda t: t.isin("the", "a", "of", "and", "to")))
    p_wc = F.when((n >= 30) & (n <= 80), 1).otherwise(0)
    p_mwl = F.when((sum_chars >= 3 * n)
                   & (5 * sum_chars <= 21 * n), 1).otherwise(0)
    p_stop = F.when(n_stop >= 2, 1).otherwise(0)
    return (d.select("source", p_wc.alias("p_wc"), p_mwl.alias("p_mwl"),
                     p_stop.alias("p_stop"))
             .groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("p_wc").cast("bigint").alias("pass_word_count"),
                  F.sum("p_mwl").cast("bigint").alias("pass_mean_word_len"),
                  F.sum("p_stop").cast("bigint").alias("pass_stopwords"),
                  F.sum(F.col("p_wc") * F.col("p_mwl") * F.col("p_stop"))
                   .cast("bigint").alias("pass_all")))


@q("text_char_entropy",
   "WITH ch AS (SELECT lang, doc_id, unnest(string_split(text, '')) AS c "
   "FROM documents), "
   "cnt AS (SELECT lang, doc_id, c, COUNT(*) AS k FROM ch "
   "WHERE c <> '' GROUP BY 1, 2, 3), "
   "tot AS (SELECT lang, doc_id, c, k, "
   "CAST(SUM(k) OVER (PARTITION BY doc_id) AS BIGINT) AS n FROM cnt), "
   "term AS (SELECT lang, doc_id, "
   "CAST(floor(-(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) "
   "* log2(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) "
   "* 1000000000.0 + 0.5) AS BIGINT) AS t_nano FROM tot), "
   "doc AS (SELECT lang, doc_id, CAST(SUM(t_nano) AS BIGINT) AS e_nano "
   "FROM term GROUP BY 1, 2) "
   "SELECT lang, COUNT(*) AS n_docs, "
   "CAST(SUM(e_nano) AS BIGINT) AS sum_entropy_nano, "
   "CAST(SUM(e_nano) AS DOUBLE) / COUNT(*) AS avg_entropy_nano "
   "FROM doc GROUP BY lang")
def text_char_entropy(spark, sf):
    """Per-language average character-distribution entropy — the
    compression-style quality signal (low entropy ⇒ repetitive/
    degenerate text, high ⇒ encrypted/garbled). Each (doc, char)
    Shannon term quantizes to nano-units BEFORE any sum (log2 is libm-
    sensitive), then docs and languages combine by exact integer
    addition; the final average is one IEEE division. The char
    histogram is a map-side-combined groupBy; the per-doc total rides a
    doc-partitioned window over the tiny histogram, never the raw
    chars."""
    from pyspark.sql import Window
    from mura_spark.functions.quantize import micro
    d = table(spark, sf, "documents")
    ch = d.select("lang", "doc_id",
                  F.explode(F.split(F.col("text"), "")).alias("c"))
    cnt = (ch.where(F.col("c") != "")
             .groupBy("lang", "doc_id", "c")
             .agg(F.count(F.lit(1)).alias("k")))
    n = F.sum("k").over(Window.partitionBy("doc_id")).cast("bigint")
    p = F.col("k").cast("double") / F.col("n").cast("double")
    term = (cnt.withColumn("n", n)
               .select("lang", "doc_id",
                       micro(-p * F.log2(p), 1e9).alias("t_nano")))
    doc = (term.groupBy("lang", "doc_id")
               .agg(F.sum("t_nano").cast("bigint").alias("e_nano")))
    return (doc.groupBy("lang")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("e_nano").cast("bigint")
                     .alias("sum_entropy_nano"),
                    (F.sum("e_nano").cast("double")
                     / F.count(F.lit(1))).alias("avg_entropy_nano")))


@q("text_zipf_slope",
   "WITH tok AS (SELECT lang, unnest(" + _TOKS + ") AS t FROM documents), "
   "freq AS (SELECT lang, t, COUNT(*) AS f FROM tok GROUP BY 1, 2), "
   "ranked AS (SELECT lang, f, ROW_NUMBER() OVER (PARTITION BY lang "
   "ORDER BY f DESC, t ASC) AS r FROM freq), "
   "pts AS (SELECT lang, "
   "CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lx, "
   "CAST(floor(ln(CAST(f AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS ly "
   "FROM ranked WHERE r <= 200), "
   "m AS (SELECT lang, COUNT(*) AS n_ranks, "
   "SUM(CAST(lx AS DECIMAL(38,0))) AS sx, "
   "SUM(CAST(lx AS DECIMAL(38,0)) * CAST(lx AS DECIMAL(38,0))) AS sxx, "
   "SUM(CAST(ly AS DECIMAL(38,0))) AS sy, "
   "SUM(CAST(lx AS DECIMAL(38,0)) * CAST(ly AS DECIMAL(38,0))) AS sxy "
   "FROM pts GROUP BY lang) "
   "SELECT lang, n_ranks, "
   "CASE WHEN CAST(n_ranks AS DOUBLE) * CAST(sxx AS DOUBLE) "
   "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0 THEN "
   "CAST(floor((CAST(n_ranks AS DOUBLE) * CAST(sxy AS DOUBLE) "
   "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) "
   "/ (CAST(n_ranks AS DOUBLE) * CAST(sxx AS DOUBLE) "
   "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) "
   "* 1000000.0 + 0.5) AS BIGINT) END AS slope_micro FROM m")
def text_zipf_slope(spark, sf):
    """Zipf rank-frequency slope per language: OLS of ln(freq) on
    ln(rank) over the top-200 token ranks. Natural text sits near −1;
    a flat or steep slope flags boilerplate-heavy or degenerate
    corpora. ln() quantizes to micro per point BEFORE the moment sums
    (which accumulate as exact DECIMAL), and the closed-form slope is
    one double expression mirrored subexpression-for-subexpression in
    the twin. Token frequencies are one map-side-combined groupBy; the
    per-language rank filter is a WindowGroupLimit (top-200 pre-reduced
    per partition), never a full sort."""
    from pyspark.sql import Window
    from mura_spark.functions.quantize import micro
    d = table(spark, sf, "documents")
    tok = d.select("lang", F.explode(TX.tokens(F.col("text"))).alias("t"))
    freq = tok.groupBy("lang", "t").agg(F.count(F.lit(1)).alias("f"))
    w = Window.partitionBy("lang").orderBy(F.col("f").desc(),
                                           F.col("t").asc())
    pts = (freq.withColumn("r", F.row_number().over(w))
               .where(F.col("r") <= 200)
               .select("lang",
                       micro(F.log(F.col("r").cast("double"))).alias("lx"),
                       micro(F.log(F.col("f").cast("double"))).alias("ly")))
    lx = F.col("lx").cast("decimal(38,0)")
    ly = F.col("ly").cast("decimal(38,0)")
    m = pts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_ranks"),
        F.sum(lx).alias("sx"), F.sum(lx * lx).alias("sxx"),
        F.sum(ly).alias("sy"), F.sum(lx * ly).alias("sxy"))
    nd = F.col("n_ranks").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    den = nd * sxx - sx * sx
    slope = (nd * sxy - sx * sy) / den
    return m.select("lang", "n_ranks",
                    F.when(den != F.lit(0.0),
                           micro(slope)).alias("slope_micro"))


@q("sample_token_budget",
   "WITH d AS (SELECT source, doc_id, n_chars, "
   f"len({_TOKS}) AS n_tok FROM documents), "
   "c AS (SELECT source, n_tok, "
   "CAST(SUM(n_tok) OVER (PARTITION BY source "
   "ORDER BY n_chars DESC, doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING "
   "AND CURRENT ROW) AS BIGINT) AS cum FROM d) "
   "SELECT source, COUNT(*) AS n_docs_total, "
   "CAST(SUM(CASE WHEN cum <= 800 THEN 1 ELSE 0 END) AS BIGINT) "
   "AS n_docs_kept, "
   "CAST(SUM(CASE WHEN cum <= 800 THEN n_tok ELSE 0 END) AS BIGINT) "
   "AS tokens_kept FROM c GROUP BY source")
def sample_token_budget(spark, sf):
    """Token-budget-capped selection — the pretraining mixture knob
    stated in tokens rather than document ratios (`sample_mixture_*`)
    or temperatures: within each source, greedily keep documents in
    (length desc, doc_id) priority order while the running token total
    stays inside the per-source budget, and report the realized
    funnel. The cumulative sum is a source-partitioned ROWS window over
    a unique total order, so the kept set is deterministic; one
    source-key shuffle, profile folded map-side to one row per
    source."""
    from pyspark.sql import Window
    d = table(spark, sf, "documents").select(
        "source", "doc_id", "n_chars",
        F.size(TX.tokens(F.col("text"))).alias("n_tok"))
    w = (Window.partitionBy("source")
               .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
               .rowsBetween(Window.unboundedPreceding, 0))
    c = d.select("source", "n_tok",
                 F.sum("n_tok").over(w).cast("bigint").alias("cum"))
    kept = F.col("cum") <= 800
    return (c.groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_docs_total"),
                  F.sum(F.when(kept, 1).otherwise(0)).cast("bigint")
                   .alias("n_docs_kept"),
                  F.sum(F.when(kept, F.col("n_tok")).otherwise(0))
                   .cast("bigint").alias("tokens_kept")))


@q("text_langid_confusion",
   f"WITH p AS (SELECT lang AS lang_declared, {_langid_case()} "
   "AS lang_pred FROM documents) "
   "SELECT lang_declared, lang_pred, COUNT(*) AS n "
   "FROM p GROUP BY 1, 2")
def text_langid_confusion(spark, sf):
    """Language-ID confusion matrix: the heuristic classifier
    (`text_langid`) evaluated against the declared language column —
    the standard eval artifact before trusting a lang filter at corpus
    scale (per-class recall/precision read straight off the matrix).
    One scan, classifier is pure JVM expressions, matrix reduced
    map-side to ≤|langs|² rows."""
    d = table(spark, sf, "documents")
    return (d.groupBy(F.col("lang").alias("lang_declared"),
                      TX.lang_id(F.col("text")).alias("lang_pred"))
             .agg(F.count(F.lit(1)).alias("n")))


_QUALITY_SCORE_SQL = (
    f"1.0 / (1.0 + exp(-(-3.0 + 4.0 * (CAST(len(list_distinct({_TOKS})) "
    f"AS DOUBLE) / len({_TOKS})) + 6.0 * (CAST(len(list_filter({_TOKS}, "
    f"t -> list_contains(['the','a','of','and','to'], t))) AS DOUBLE) "
    f"/ len({_TOKS})) - 2.0 * (CAST(length(text) - "
    "length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) "
    f"/ length(text)) + 1.5 * (least(CAST(len({_TOKS}) AS DOUBLE), "
    "200.0) / 200.0))))")

_QUALITY_PASS_SQL = (
    f"CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS}) >= 0.3 "
    f"AND len({_TOKS}) BETWEEN 20 AND 1000 "
    "AND CAST(length(text) - length(regexp_replace(text, '[0-9]', '', "
    "'g')) AS DOUBLE) / length(text) <= 0.3")


@q("text_quality_calibration",
   f"WITH s AS (SELECT CAST(floor({_QUALITY_SCORE_SQL} * 1000000.0 "
   "+ 0.5) AS BIGINT) AS score_micro, "
   f"CASE WHEN {_QUALITY_PASS_SQL} THEN 1 ELSE 0 END AS pass "
   "FROM documents WHERE text IS NOT NULL), "
   "b AS (SELECT least(CAST(floor(score_micro / 100000.0) AS BIGINT), "
   "9) AS bin, score_micro, pass FROM s) "
   "SELECT bin, COUNT(*) AS n, "
   "CAST(SUM(pass) AS BIGINT) AS n_pass, "
   "CAST(SUM(score_micro) AS BIGINT) AS sum_score_micro, "
   "CAST(SUM(pass) AS DOUBLE) / COUNT(*) AS pass_rate "
   "FROM b GROUP BY bin")
def text_quality_calibration(spark, sf):
    """Calibration / reliability table for the logistic quality scorer
    (`text_quality_logistic`) against the rule-based gate
    (`text_quality_filter`) as reference labels: decile score bins vs
    empirical rule-pass rate — the check run before replacing rules
    with a trained filter. Binning happens on the per-row MICRO-
    quantized score (never the raw double), so a last-ulp sigmoid
    difference cannot flip a bin across engines. One scan, all-JVM
    expressions, ≤10 output groups combined map-side."""
    from mura_spark.functions.quantize import micro
    # scorer family convention (gains/conformal/calibration): only
    # scoreable documents — a NULL text has no score and no rule label
    d = table(spark, sf, "documents").where(F.col("text").isNotNull())
    t = TX.tokens(F.col("text"))
    dr = TX.distinct_token_ratio(F.col("text"))
    sr = TX.stopword_ratio(F.col("text"))
    dg = TX.digit_ratio(F.col("text"))
    cap = F.least(F.size(t).cast("double"), F.lit(200.0)) / F.lit(200.0)
    z = (F.lit(-3.0) + F.lit(4.0) * dr + F.lit(6.0) * sr
         - F.lit(2.0) * dg + F.lit(1.5) * cap)
    score_micro = micro(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))
    rule_pass = ((dr >= 0.3)
                 & F.size(t).between(20, 1000)
                 & (dg <= 0.3)).cast("int")
    s = d.select(score_micro.alias("score_micro"),
                 rule_pass.alias("pass"))
    bin_ = F.least(F.floor(F.col("score_micro") / F.lit(100000.0))
                    .cast("bigint"), F.lit(9).cast("bigint"))
    return (s.groupBy(bin_.alias("bin"))
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("pass").cast("bigint").alias("n_pass"),
                  F.sum("score_micro").cast("bigint")
                   .alias("sum_score_micro"),
                  (F.sum("pass").cast("double") / F.count(F.lit(1)))
                   .alias("pass_rate")))


#: positional (non-distinct) k-gram rendering for span detection: one row
#: per shingle start position p (1-based over the token list)
def _pos_shingles_sql(k: int) -> str:
    return (f"SELECT doc_id, source, p, "
            f"array_to_string({_TOKS}[p:p+{k - 1}], ' ') AS s "
            f"FROM documents, "
            f"unnest(range(1, greatest(len({_TOKS}) - {k - 1}, 0) + 1)) "
            "AS t(p)")


@q("text_dup_spans",
   f"WITH sh AS ({_pos_shingles_sql(5)}), "
   "multi AS (SELECT s FROM sh GROUP BY s "
   "HAVING MIN(doc_id) <> MAX(doc_id)), "
   "dup AS (SELECT sh.doc_id, sh.source, sh.p FROM sh "
   "JOIN multi USING (s)), "
   "isl AS (SELECT doc_id, source, p, "
   "CASE WHEN MAX(p + 4) OVER (PARTITION BY doc_id ORDER BY p "
   "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL "
   "OR p > MAX(p + 4) OVER (PARTITION BY doc_id ORDER BY p "
   "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1 "
   "THEN 1 ELSE 0 END AS new_isl FROM dup), "
   "ids AS (SELECT doc_id, source, p, "
   "CAST(SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY p "
   "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
   "AS isl_id FROM isl), "
   "spans AS (SELECT doc_id, source, isl_id, "
   "MAX(p) + 4 - MIN(p) + 1 AS span_tokens "
   "FROM ids GROUP BY 1, 2, 3), "
   "perdoc AS (SELECT doc_id, source, COUNT(*) AS n_spans, "
   "CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens "
   "FROM spans GROUP BY 1, 2), "
   f"tot AS (SELECT source, doc_id, len({_TOKS}) AS n_tok "
   "FROM documents) "
   "SELECT tot.source, COUNT(*) AS n_docs, "
   "CAST(SUM(tot.n_tok) AS BIGINT) AS total_tokens, "
   "CAST(SUM(COALESCE(perdoc.dup_tokens, 0)) AS BIGINT) AS dup_tokens, "
   "CAST(SUM(COALESCE(perdoc.n_spans, 0)) AS BIGINT) AS n_spans, "
   "CAST(SUM(CASE WHEN perdoc.doc_id IS NOT NULL THEN 1 ELSE 0 END) "
   "AS BIGINT) AS docs_with_dups "
   "FROM tot LEFT JOIN perdoc ON tot.doc_id = perdoc.doc_id "
   "GROUP BY tot.source")
def text_dup_spans(spark, sf):
    """Span-level exact-substring duplication audit (the statistic behind
    Lee et al. 2022's 'Deduplicating Training Data Makes Language Models
    Better' ExactSubstr dedup, re-expressed relationally): a 5-token
    window is DUPLICATED when the identical token run occurs in at least
    one other document; overlapping duplicated windows merge into
    maximal spans (gaps-and-islands over start positions), and the
    per-source rollup reports how many tokens a span-level deduper would
    cut. Suffix arrays don't distribute; the equivalent relational shape
    is: positional shingle explode (scan-local), one shingle-keyed
    map-side-combined aggregate whose multi-doc test is MIN(doc) <>
    MAX(doc) — no COUNT(DISTINCT) — an inner join that keeps only
    duplicated positions, then doc-partitioned windows over those
    positions only. Every stage is an equi-join or keyed window; nothing
    is all-pairs and the span merge is integer arithmetic end-to-end."""
    from pyspark.sql import Window
    k = 5
    d = table(spark, sf, "documents")
    toks = TX.tokens(F.col("text"))
    base = d.select("doc_id", "source", toks.alias("t"),
                    F.size(toks).alias("n_tok"))
    # sequence(1, 0) would generate a DESCENDING [1, 0] — docs shorter
    # than k must produce the empty position list, like the twin's range
    positions = F.when(
        F.col("n_tok") >= k,
        F.sequence(F.lit(1), F.col("n_tok") - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    sh = base.select(
        "doc_id", "source",
        F.posexplode(F.transform(
            positions,
            lambda p: F.concat_ws(
                " ", F.slice("t", p, k)))).alias("__i", "s"),
    ).select("doc_id", "source",
             (F.col("__i") + 1).alias("p"), "s")
    multi = (sh.groupBy("s")
               .agg(F.min("doc_id").alias("__mn"),
                    F.max("doc_id").alias("__mx"))
               .where(F.col("__mn") != F.col("__mx"))
               .select("s"))
    dup = sh.join(multi, "s").select("doc_id", "source", "p")
    wprev = (Window.partitionBy("doc_id").orderBy("p")
                   .rowsBetween(Window.unboundedPreceding, -1))
    prev_end = F.max(F.col("p") + (k - 1)).over(wprev)
    isl = dup.withColumn(
        "new_isl",
        F.when(prev_end.isNull() | (F.col("p") > prev_end + 1), 1)
         .otherwise(0))
    wrun = (Window.partitionBy("doc_id").orderBy("p")
                  .rowsBetween(Window.unboundedPreceding, 0))
    ids = isl.withColumn(
        "isl_id", F.sum("new_isl").over(wrun).cast("bigint"))
    spans = (ids.groupBy("doc_id", "source", "isl_id")
                .agg((F.max("p") + (k - 1) - F.min("p") + 1)
                     .alias("span_tokens")))
    perdoc = (spans.groupBy("doc_id", "source")
                   .agg(F.count(F.lit(1)).alias("n_spans"),
                        F.sum("span_tokens").cast("bigint")
                         .alias("dup_tokens")))
    tot = base.select("source", "doc_id", "n_tok")
    j = tot.join(perdoc.select("doc_id", "n_spans", "dup_tokens"),
                 "doc_id", "left")
    return (j.groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("n_tok").cast("bigint").alias("total_tokens"),
                  F.sum(F.coalesce("dup_tokens", F.lit(0)))
                   .cast("bigint").alias("dup_tokens"),
                  F.sum(F.coalesce("n_spans", F.lit(0)))
                   .cast("bigint").alias("n_spans"),
                  F.sum(F.when(F.col("dup_tokens").isNotNull(), 1)
                         .otherwise(0)).cast("bigint")
                   .alias("docs_with_dups")))


@q("text_token_fertility",
   f"SELECT lang, COUNT(*) AS n_docs, "
   "CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
   f"CAST(SUM(len({_TOKS})) AS BIGINT) AS ws_tokens, "
   "CAST(SUM(len(regexp_extract_all(lower(text), "
   "'[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS bpe_ish_tokens, "
   f"CAST(floor(CAST(SUM(len(regexp_extract_all(lower(text), "
   "'[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS DOUBLE) "
   f"/ CAST(SUM(len({_TOKS})) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) "
   "AS fertility_micro, "
   "CAST(SUM(n_chars) AS DOUBLE) / "
   "CAST(SUM(len(regexp_extract_all(lower(text), "
   "'[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS DOUBLE) AS bytes_per_token "
   "FROM documents GROUP BY lang")
def text_token_fertility(spark, sf):
    """Tokenizer fertility by language — the compression-efficiency
    audit run before committing to a tokenizer (fertility = sub-word
    pieces per whitespace word; bytes/token = how much context budget
    each token buys, the number that differs 2-4× across languages for
    a biased vocab). Exact integer sums per language; the two ratios
    are one IEEE division each over those integers. One scan, all-JVM
    regex counting, ≤|langs| groups map-side."""
    d = table(spark, sf, "documents")
    ws = F.size(TX.tokens(F.col("text")))
    bp = TX.bpe_ish_token_count(F.col("text"))
    from mura_spark.functions.quantize import micro
    return (d.groupBy("lang")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("n_chars").cast("bigint").alias("total_chars"),
                  F.sum(ws).cast("bigint").alias("ws_tokens"),
                  F.sum(bp).cast("bigint").alias("bpe_ish_tokens"),
                  micro(F.sum(bp).cast("double")
                        / F.sum(ws).cast("double")).alias("fertility_micro"),
                  (F.sum("n_chars").cast("double")
                   / F.sum(bp).cast("double")).alias("bytes_per_token")))


@q("text_js_divergence",
   f"WITH tok AS (SELECT lang, unnest({_TOKS}) AS t FROM documents), "
   "cnt AS (SELECT lang, t, COUNT(*) AS n FROM tok GROUP BY 1, 2), "
   "tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS tt FROM cnt "
   "GROUP BY 1), "
   "c AS (SELECT cnt.lang, cnt.t, cnt.n, tot.tt FROM cnt "
   "JOIN tot ON cnt.lang = tot.lang), "
   "shared AS (SELECT a.lang AS la, b.lang AS lb, "
   "a.tt AS ta, b.tt AS tb, a.n AS ca, b.n AS cb, "
   "CAST(floor((CAST(a.n AS DOUBLE) / CAST(a.tt AS DOUBLE)) "
   "* ln(2.0 * CAST(a.n AS DOUBLE) * CAST(b.tt AS DOUBLE) "
   "/ (CAST(a.n AS DOUBLE) * CAST(b.tt AS DOUBLE) "
   "+ CAST(b.n AS DOUBLE) * CAST(a.tt AS DOUBLE))) "
   "* 1000000000.0 + 0.5) AS BIGINT) "
   "+ CAST(floor((CAST(b.n AS DOUBLE) / CAST(b.tt AS DOUBLE)) "
   "* ln(2.0 * CAST(b.n AS DOUBLE) * CAST(a.tt AS DOUBLE) "
   "/ (CAST(a.n AS DOUBLE) * CAST(b.tt AS DOUBLE) "
   "+ CAST(b.n AS DOUBLE) * CAST(a.tt AS DOUBLE))) "
   "* 1000000000.0 + 0.5) AS BIGINT) AS term_nano "
   "FROM c a JOIN c b ON a.t = b.t AND a.lang < b.lang), "
   "agg AS (SELECT la, lb, "
   "COUNT(*) AS n_shared, CAST(SUM(ca) AS BIGINT) AS sa, "
   "CAST(SUM(cb) AS BIGINT) AS sb, "
   "CAST(SUM(term_nano) AS BIGINT) AS shared_nano FROM shared "
   "GROUP BY 1, 2), "
   "pairs AS (SELECT a.lang AS la, a.tt AS ta, b.lang AS lb, "
   "b.tt AS tb FROM tot a JOIN tot b ON a.lang < b.lang), "
   "j AS (SELECT p.la, p.lb, p.ta, p.tb, "
   "COALESCE(agg.n_shared, 0) AS n_shared, "
   "COALESCE(agg.sa, 0) AS sa, COALESCE(agg.sb, 0) AS sb, "
   "COALESCE(agg.shared_nano, 0) AS shared_nano "
   "FROM pairs p LEFT JOIN agg ON p.la = agg.la AND p.lb = agg.lb) "
   "SELECT la AS lang_a, lb AS lang_b, n_shared, "
   "CAST(floor((CAST(shared_nano AS DOUBLE) "
   "+ floor(ln(2.0) * (CAST(ta - sa AS DOUBLE) / CAST(ta AS DOUBLE) "
   "+ CAST(tb - sb AS DOUBLE) / CAST(tb AS DOUBLE)) "
   "* 1000000000.0 + 0.5)) / 2.0 + 0.5) AS BIGINT) AS jsd_nano "
   "FROM j")
def text_js_divergence(spark, sf):
    """Jensen-Shannon divergence between every language pair's unigram
    distributions — the symmetric, bounded (≤ ln 2) corpus-separation
    measure (TVD twin `text_tvd_by_source` is L1; JS is the
    information-theoretic one used for mixture weighting). Only SHARED
    terms need the join: a term in exactly one language contributes
    P(t)·ln 2 to its side, and those fold to the closed form
    ln 2 · (1 − Σ_shared P) — so the plan is one term-keyed inner join
    plus per-pair scalars, never a full-outer over the union vocabulary.
    Per-shared-term contributions quantize to nano BEFORE the integer
    sum (ln is libm-sensitive); P/M ratios are formed from exact count
    products. ≤ |langs|² output rows."""
    from pyspark.sql import functions as F
    tok = table(spark, sf, "documents").select(
        "lang", F.explode(TX.tokens(F.col("text"))).alias("t"))
    cnt = tok.groupBy("lang", "t").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.groupBy("lang").agg(F.sum("n").cast("bigint").alias("tt"))
    c = cnt.join(tot, "lang")
    a = c.select(F.col("lang").alias("la"), "t",
                 F.col("n").alias("ca"), F.col("tt").alias("ta"))
    b = c.select(F.col("lang").alias("lb"), F.col("t").alias("t"),
                 F.col("n").alias("cb"), F.col("tt").alias("tb"))
    sh = a.join(b, "t").where(F.col("la") < F.col("lb"))
    ca, cb = F.col("ca").cast("double"), F.col("cb").cast("double")
    ta, tb = F.col("ta").cast("double"), F.col("tb").cast("double")
    denom = ca * tb + cb * ta
    nano = F.lit(1000000000.0)
    term = (F.floor((ca / ta) * F.log(F.lit(2.0) * ca * tb / denom)
                    * nano + F.lit(0.5)).cast("bigint")
            + F.floor((cb / tb) * F.log(F.lit(2.0) * cb * ta / denom)
                      * nano + F.lit(0.5)).cast("bigint"))
    agg = (sh.select("la", "lb", "ca", "cb", "ta", "tb",
                     term.alias("term_nano"))
             .groupBy("la", "lb")
             .agg(F.count(F.lit(1)).alias("n_shared"),
                  F.sum("ca").cast("bigint").alias("sa"),
                  F.sum("cb").cast("bigint").alias("sb"),
                  F.sum("term_nano").cast("bigint").alias("shared_nano")))
    # pairs come from the totals frame, NOT the shared join: a pair with
    # ZERO shared vocabulary must still report JSD = ln 2, not vanish
    ta_ = tot.select(F.col("lang").alias("la"), F.col("tt").alias("ta"))
    tb_ = tot.select(F.col("lang").alias("lb"), F.col("tt").alias("tb"))
    pairs = ta_.crossJoin(tb_).where(F.col("la") < F.col("lb"))
    agg = (pairs.join(agg, ["la", "lb"], "left")
                .select("la", "lb", "ta", "tb",
                        F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
                        F.coalesce("sa", F.lit(0)).alias("sa"),
                        F.coalesce("sb", F.lit(0)).alias("sb"),
                        F.coalesce("shared_nano", F.lit(0))
                         .alias("shared_nano")))
    rem = F.floor(
        F.log(F.lit(2.0))
        * ((F.col("ta") - F.col("sa")).cast("double")
           / F.col("ta").cast("double")
           + (F.col("tb") - F.col("sb")).cast("double")
           / F.col("tb").cast("double")) * nano + F.lit(0.5))
    jsd = F.floor((F.col("shared_nano").cast("double") + rem)
                  / F.lit(2.0) + F.lit(0.5)).cast("bigint")
    return agg.select(F.col("la").alias("lang_a"),
                      F.col("lb").alias("lang_b"),
                      "n_shared", jsd.alias("jsd_nano"))


@q("text_hapax_rate",
   f"WITH tok AS (SELECT source, unnest({_TOKS}) AS term "
   "FROM documents), "
   "cnt AS (SELECT source, term, COUNT(*) AS c FROM tok GROUP BY 1, 2) "
   "SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens, "
   "CAST(COUNT(*) AS BIGINT) AS n_distinct, "
   "CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax, "
   "CAST(floor(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) "
   "/ CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) "
   "AS hapax_rate_micro FROM cnt GROUP BY 1")
def text_hapax_rate(spark, sf):
    """Hapax-legomena rate per source: the share of each source's
    vocabulary seen exactly once — a healthy natural-language slice
    sits around 40-60%; far lower means boilerplate/templating, far
    higher means OCR noise or encoding damage. One (source, term)
    shuffle; every later aggregate runs on the reduced counts."""
    d = table(spark, sf, "documents")
    toks = d.select("source",
                    F.explode(TX.tokens(F.col("text"))).alias("term"))
    cnt = (toks.groupBy("source", "term")
               .agg(F.count(F.lit(1)).alias("c")))
    hap = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return (cnt.groupBy("source")
               .agg(F.sum("c").alias("n_tokens"),
                    F.count(F.lit(1)).alias("n_distinct"),
                    hap.alias("n_hapax"),
                    F.floor(hap.cast("double")
                            / F.count(F.lit(1)).cast("double")
                            * 1000000.0 + F.lit(0.5)).cast("bigint")
                     .alias("hapax_rate_micro")))


_RAKE_STOP = TX.LANG_STOPWORDS["en"]
_RAKE_IN = ", ".join(f"'{w}'" for w in _RAKE_STOP)
# RAKE tokenization twin (operators.keywords.rake_tokens): punctuation
# runs become the '¶' delimiter token — phrases must not span sentence
# boundaries, and 'dog.' must score as 'dog'
_RAKE_TOKS = (
    "list_filter(string_split_regex(regexp_replace(lower(text), "
    "'[^\\p{L}\\p{N} \\t\\n\\x0b\\f\\r]+', ' ¶ ', 'g'), "
    "'[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')")


@q("text_rake_keywords",
   f"WITH tok AS (SELECT doc_id, unnest({_RAKE_TOKS}) AS term, "
   f"unnest(range(1, len({_RAKE_TOKS}) + 1)) AS pos FROM documents), "
   f"m AS (SELECT doc_id, pos, term, CASE WHEN term IN ({_RAKE_IN}) "
   "OR term = '¶' THEN 1 ELSE 0 END AS st FROM tok), "
   "ph AS (SELECT doc_id, pos, term, st, SUM(st) OVER (PARTITION BY "
   "doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS pk FROM m), "
   "w AS (SELECT doc_id, pk, pos, term FROM ph WHERE st = 0), "
   "pl AS (SELECT doc_id, pk, pos, term, COUNT(*) OVER (PARTITION BY "
   "doc_id, pk) AS plen FROM w), "
   "ws AS (SELECT term, CAST(floor(CAST(SUM(plen) AS DOUBLE) "
   "/ CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) "
   "AS wscore FROM pl GROUP BY 1), "
   "ps AS (SELECT doc_id, pk, string_agg(term, ' ' ORDER BY pos) "
   "AS phrase, CAST(SUM(wscore) AS BIGINT) AS score FROM pl "
   "JOIN ws USING (term) GROUP BY 1, 2) "
   "SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ, "
   "CAST(MAX(score) AS BIGINT) AS score_micro FROM ps GROUP BY 1 "
   "ORDER BY score_micro DESC, phrase ASC LIMIT 20")
def text_rake_keywords(spark, sf):
    """Top-20 RAKE keyphrases over the corpus — the zero-training
    keyphrase extractor (stopword-delimited candidate runs, word score
    deg/freq, phrase score = Σ word scores), the topic-inventory pass
    of a corpus pipeline (operators.keywords.rake_keywords)."""
    from mura_spark.operators.keywords import rake_keywords
    d = table(spark, sf, "documents")
    return rake_keywords(d, "doc_id", "text", _RAKE_STOP, k=20)


@q("text_term_burstiness",
   f"WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term "
   "FROM documents), "
   "nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS ndocs "
   "FROM documents), "
   "per AS (SELECT term, doc_id, COUNT(*) AS c FROM tok GROUP BY 1, 2), "
   "m AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df, "
   "CAST(SUM(c) AS BIGINT) AS s, CAST(SUM(c * c) AS BIGINT) AS q "
   "FROM per GROUP BY 1), "
   "top AS (SELECT term, df, s, q FROM m CROSS JOIN nd "
   "ORDER BY s DESC, term ASC LIMIT 50) "
   "SELECT term, df, s AS n_occ, "
   "CAST(floor((CAST(q AS DOUBLE) / CAST(s AS DOUBLE) "
   "- CAST(s AS DOUBLE) / (SELECT CAST(ndocs AS DOUBLE) FROM nd)) "
   "* 1000000.0 + 0.5) AS BIGINT) AS burst_micro "
   "FROM top")
def text_term_burstiness(spark, sf):
    """Burstiness of the top-50 corpus terms: the Fano factor
    (variance-to-mean ratio, index of dispersion) of the per-document
    counts with 0-count docs included analytically —
    ``Var/mean = q/s − s/D`` from only Σc, Σc², D. Poisson scatter
    gives 1, even spreading (function words) < 1, clumping content
    words ≫ 1 — and unlike the squared coefficient of variation
    ``q·D/s² − 1`` (which scales with the corpus size D and inverts
    rare-vs-common comparisons), the Fano scale is
    corpus-size-stable. Exact integer moments; one mirrored division
    per term."""
    d = table(spark, sf, "documents")
    toks = d.select("doc_id",
                    F.explode(TX.tokens(F.col("text"))).alias("term"))
    nd = d.agg(F.count_distinct("doc_id").alias("ndocs"))
    per = (toks.groupBy("term", "doc_id")
               .agg(F.count(F.lit(1)).alias("c")))
    m = (per.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"),
                 F.sum("c").alias("s"),
                 F.sum(F.col("c") * F.col("c")).alias("q")))
    top = (m.crossJoin(F.broadcast(nd))
            .orderBy(F.col("s").desc(), F.col("term").asc())
            .limit(50))
    burst = (F.col("q").cast("double") / F.col("s").cast("double")
             - F.col("s").cast("double") / F.col("ndocs").cast("double"))
    return top.select(
        "term", "df", F.col("s").alias("n_occ"),
        F.floor(burst * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
         .alias("burst_micro"))


_MOJI = "(Ã©|Ã¨|Ã¼|Ã¤|Ã¶|â€|Â )"
_CTRL = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"


@q("text_mojibake_audit",
   "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
   f"CAST(SUM(CASE WHEN regexp_matches(text, '{_MOJI}') THEN 1 "
   "ELSE 0 END) AS BIGINT) AS n_mojibake, "
   "CAST(SUM(CASE WHEN regexp_matches(text, '�') THEN 1 "
   "ELSE 0 END) AS BIGINT) AS n_replacement, "
   f"CAST(SUM(CASE WHEN regexp_matches(text, '{_CTRL}') THEN 1 "
   "ELSE 0 END) AS BIGINT) AS n_control "
   "FROM documents GROUP BY 1")
def text_mojibake_audit(spark, sf):
    """Encoding-damage audit per source: docs showing UTF-8-as-Latin-1
    mojibake sequences (Ã©, â€…), U+FFFD replacement characters, or
    raw control bytes — the double-decode detector every web-crawl
    ingest runs before training (a clean corpus reports zeros; the
    engineered pytest pins the positive paths). Identical RE2-safe
    patterns run in both engines; pure scan-side predicates."""
    d = table(spark, sf, "documents")
    return (d.groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum(F.when(F.col("text").rlike(_MOJI), 1)
                         .otherwise(0)).alias("n_mojibake"),
                  F.sum(F.when(F.col("text").rlike("�"), 1)
                         .otherwise(0)).alias("n_replacement"),
                  F.sum(F.when(F.col("text").rlike(_CTRL), 1)
                         .otherwise(0)).alias("n_control")))


_CJK = "[一-鿿]"
_LATIN = "[A-Za-z]"


@q("text_script_mismatch",
   "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
   f"CAST(SUM(CASE WHEN regexp_matches(text, '[一-鿿]') THEN 1 ELSE 0 "
   "END) AS BIGINT) AS n_cjk, "
   f"CAST(SUM(CASE WHEN regexp_matches(text, '[A-Za-z]') THEN 1 ELSE 0 "
   "END) AS BIGINT) AS n_latin, "
   "CAST(SUM(CASE WHEN lang = 'zh' AND NOT regexp_matches(text, "
   f"'[一-鿿]') THEN 1 WHEN lang <> 'zh' AND regexp_matches(text, "
   f"'[一-鿿]') THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch "
   "FROM documents GROUP BY 1")
def text_script_mismatch(spark, sf):
    """Script-vs-label consistency audit: docs labelled zh must
    contain CJK codepoints, non-zh docs must not — the wrong-language-
    routing detector run after language ID (the label sibling of
    text_langid_confusion, which audits the CLASSIFIER; this audits
    the LABELS). Identical literal character-class patterns run in
    both engines; pure scan-side predicates."""
    d = table(spark, sf, "documents")
    has_cjk = F.col("text").rlike(_CJK)
    return (d.groupBy("lang")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum(F.when(has_cjk, 1).otherwise(0)).alias("n_cjk"),
                  F.sum(F.when(F.col("text").rlike(_LATIN), 1)
                         .otherwise(0)).alias("n_latin"),
                  F.sum(F.when((F.col("lang") == "zh") & ~has_cjk, 1)
                         .when((F.col("lang") != "zh") & has_cjk, 1)
                         .otherwise(0)).alias("n_mismatch")))


_FH_DIMS = 16


@q("text_feature_hashing",
   f"WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term "
   "FROM documents), "
   "h AS (SELECT doc_id, "
   f"CAST({sql_hash48('term')} % {_FH_DIMS} AS INT) AS dim, "
   f"CASE WHEN ({sql_hash48(chr(39) + 's|' + chr(39) + ' || term')}) "
   "% 2 = 0 THEN 1 ELSE -1 END AS sgn FROM tok) "
   "SELECT doc_id, dim, CAST(SUM(sgn) AS BIGINT) AS weight "
   "FROM h GROUP BY 1, 2 HAVING SUM(sgn) <> 0")
def text_feature_hashing(spark, sf):
    """Feature hashing (the HashingVectorizer): every token folds into
    one of 16 dimensions via the portable MD5 hash, with an
    independent MD5 sign hash so collisions cancel in expectation —
    the fixed-width, vocabulary-free text vectorizer that bridges the
    text tables into the embedding operators. Sparse (doc, dim,
    weight) triples; zero-weight cells drop on both sides."""
    from mura_spark.functions.hashing import md5_hash48
    d = table(spark, sf, "documents")
    toks = d.select("doc_id",
                    F.explode(TX.tokens(F.col("text"))).alias("term"))
    dim = (md5_hash48(F.col("term")) % _FH_DIMS).cast("int")
    sgn = F.when(md5_hash48(F.concat(F.lit("s|"), F.col("term")))
                 % 2 == 0, 1).otherwise(-1)
    return (toks.select("doc_id", dim.alias("dim"), sgn.alias("sgn"))
                .groupBy("doc_id", "dim")
                .agg(F.sum("sgn").alias("weight"))
                .filter(F.col("weight") != 0))


# ------------------------------------------------------- round-6qq additions

@q("text_ks_drift_by_source",
   "WITH cells AS (SELECT source AS g, n_chars AS v, COUNT(*) AS c "
   "FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL "
   "GROUP BY 1, 2), "
   "vals AS (SELECT v, SUM(c) AS cv FROM cells GROUP BY 1), "
   "gcum AS (SELECT v, SUM(cv) OVER (ORDER BY v) AS gc FROM vals), "
   "grp AS (SELECT g, SUM(c) AS ng FROM cells GROUP BY 1), "
   "tot AS (SELECT SUM(cv) AS n FROM vals), "
   "cum AS (SELECT g, v, ng, gc, "
   "SUM(COALESCE(c, 0)) OVER (PARTITION BY g ORDER BY v) AS sc "
   "FROM gcum CROSS JOIN grp LEFT JOIN cells USING (g, v)) "
   "SELECT g AS source, CAST(MAX(ng) AS BIGINT) AS n_group, "
   "CAST(MAX(n - ng) AS BIGINT) AS n_rest, "
   "CAST(floor(CAST(MAX(abs(CAST(sc AS DECIMAL(38,0)) "
   "* CAST(n - ng AS DECIMAL(38,0)) "
   "- CAST(gc - sc AS DECIMAL(38,0)) * CAST(ng AS DECIMAL(38,0)))) "
   "AS DOUBLE) / (CAST(MAX(ng) AS DOUBLE) * CAST(MAX(n - ng) AS DOUBLE)) "
   "* 1000000.0 + 0.5) AS BIGINT) AS ks_micro "
   "FROM cum CROSS JOIN tot WHERE n - ng > 0 GROUP BY g")
def text_ks_drift_by_source(spark, sf):
    """Per-source distribution drift: one-vs-rest Kolmogorov–Smirnov
    distance of each source's document-length distribution against the
    rest of the corpus, ALL sources in one pass — the per-slice
    generalization of stats_ks_value that answers "which ingest feed
    changed shape?" without running |sources| pairwise tests. One
    (source, length) cell reduction, then a bounded sources×NDV grid;
    exact-integer sup numerator, one terminal division per source
    (operators.stats.ks_by_group)."""
    from mura_spark.operators.stats import ks_by_group
    d = table(spark, sf, "documents")
    return ks_by_group(d, "source", "n_chars")


# ------------------------------------------------------- round-6vv additions

@q("text_quality_gains",
   f"WITH s AS (SELECT lang, CAST(floor({_LOGIT_SCORE_SQL} * 1000000.0 "
   "+ 0.5) AS BIGINT) AS sm FROM documents "
   "WHERE text IS NOT NULL), "
   "cells AS (SELECT sm, COUNT(*) AS k FROM s GROUP BY 1), "
   "nn AS (SELECT SUM(k) AS n FROM cells), "
   "cum AS (SELECT sm, SUM(k) OVER (ORDER BY sm) AS gc FROM cells), "
   "th AS (SELECT i, (SELECT MIN(sm) FROM cum CROSS JOIN nn "
   "WHERE gc >= (i * n + 9) // 10) AS bv FROM range(1, 10) t(i)), "
   "tl AS (SELECT list(bv ORDER BY i) AS bl FROM th), "
   "a AS (SELECT len(list_filter(bl, x -> sm > x)) AS decile, "
   "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos "
   "FROM s CROSS JOIN tl), "
   "g AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs, "
   "CAST(SUM(pos) AS BIGINT) AS n_pos FROM a GROUP BY 1), "
   "t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tn, "
   "CAST(SUM(n_pos) AS BIGINT) AS tp FROM g), "
   "c AS (SELECT decile, n_docs, n_pos, "
   "SUM(n_docs) OVER (ORDER BY decile DESC) AS cn, "
   "SUM(n_pos) OVER (ORDER BY decile DESC) AS cp FROM g) "
   "SELECT CAST(decile AS BIGINT) AS decile, n_docs, n_pos, "
   "CAST(floor(CAST(cp AS DOUBLE) / CAST(tp AS DOUBLE) * 1000000.0 "
   "+ 0.5) AS BIGINT) AS capture_micro, "
   "CAST(floor((CAST(cp AS DOUBLE) * CAST(tn AS DOUBLE)) "
   "/ (CAST(cn AS DOUBLE) * CAST(tp AS DOUBLE)) * 1000000.0 + 0.5) "
   "AS BIGINT) AS lift_micro FROM c CROSS JOIN t")
def text_quality_gains(spark, sf):
    """Cumulative gains / lift table for the logistic quality scorer
    against the lang='en' label: reading deciles from the TOP score
    down, what share of positives is captured and at what lift over
    random? — the model-eval report that complements stats_auc_length
    (AUC ranks; gains answer 'how deep must I read'). Score deciles
    come from exact integer rank selection on micro scores (no
    interpolation); cumulatives run on the 10-row decile frame."""
    from pyspark.sql import Window
    from mura_spark.functions.quantize import micro
    d = table(spark, sf, "documents").where(F.col("text").isNotNull())
    s = d.select(micro(_logit_score()).alias("sm"),
                 F.when(F.col("lang") == "en", 1).otherwise(0)
                  .alias("pos"))
    cells = s.groupBy("sm").agg(F.count(F.lit(1)).alias("k"))
    cum = cells.select(
        "sm", F.sum("k").over(Window.orderBy("sm")
                              .rowsBetween(Window.unboundedPreceding, 0))
              .alias("gc"))
    nn = cells.agg(F.sum("k").alias("n"))
    th = (cum.crossJoin(F.broadcast(nn))
             .crossJoin(F.broadcast(
                 d.sparkSession.range(1, 10).select(
                     F.col("id").alias("i"))))
             .filter(F.col("gc") >= F.expr("(i * n + 9) div 10"))
             .groupBy("i").agg(F.min("sm").alias("bv")))
    tl = th.agg(F.array_sort(F.collect_list(
        F.struct("i", "bv"))).alias("__s")).select(
        F.transform("__s", lambda x: x["bv"]).alias("bl"))
    a = (s.crossJoin(F.broadcast(tl))
          .select(F.size(F.filter(F.col("bl"),
                                  lambda x: F.col("sm") > x))
                   .alias("decile"), "pos"))
    g = a.groupBy("decile").agg(F.count(F.lit(1)).alias("n_docs"),
                                F.sum("pos").alias("n_pos"))
    t = g.agg(F.sum("n_docs").alias("tn"), F.sum("n_pos").alias("tp"))
    wd = Window.orderBy(F.desc("decile")) \
               .rowsBetween(Window.unboundedPreceding, 0)
    c = g.select("decile", "n_docs", "n_pos",
                 F.sum("n_docs").over(wd).alias("cn"),
                 F.sum("n_pos").over(wd).alias("cp"))
    cap = (F.floor(F.col("cp").cast("double") / F.col("tp").cast("double")
                   * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    lift = (F.floor((F.col("cp").cast("double") * F.col("tn").cast("double"))
                    / (F.col("cn").cast("double")
                       * F.col("tp").cast("double"))
                    * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    return (c.crossJoin(F.broadcast(t))
             .select(F.col("decile").cast("bigint").alias("decile"),
                     "n_docs", "n_pos", cap.alias("capture_micro"),
                     lift.alias("lift_micro")))


@q("text_conformal_threshold",
   f"WITH s AS (SELECT doc_id, CAST(floor({_LOGIT_SCORE_SQL} "
   "* 1000000.0 + 0.5) AS BIGINT) AS sm FROM documents "
   "WHERE text IS NOT NULL), "
   "sp AS (SELECT doc_id, 1000000 - sm AS nc, "
   f"CASE WHEN ({sql_hash48('CAST(doc_id AS VARCHAR)')}) % 1000 < 500 "
   "THEN 1 ELSE 0 END AS cal FROM s), "
   "cc AS (SELECT nc, COUNT(*) AS k FROM sp WHERE cal = 1 GROUP BY 1), "
   "nn AS (SELECT CAST(SUM(k) AS BIGINT) AS n_cal FROM cc), "
   "cum AS (SELECT nc, SUM(k) OVER (ORDER BY nc) AS gc FROM cc), "
   "qr AS (SELECT n_cal, ((n_cal + 1) * 9 + 9) // 10 AS q_rank FROM nn), "
   "th AS (SELECT n_cal, q_rank, (SELECT MIN(nc) FROM cum "
   "WHERE gc >= q_rank) AS threshold_nc FROM qr), "
   "te AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_test, "
   "CAST(SUM(CASE WHEN (SELECT threshold_nc FROM th) IS NULL "
   "OR nc <= (SELECT threshold_nc FROM th) THEN 1 "
   "ELSE 0 END) AS BIGINT) AS n_covered FROM sp WHERE cal = 0) "
   "SELECT t.n_cal, CAST(t.q_rank AS BIGINT) AS q_rank, "
   "t.threshold_nc, e.n_test, e.n_covered, "
   "CAST(floor(CAST(e.n_covered AS DOUBLE) / CAST(e.n_test AS DOUBLE) "
   "* 1000000.0 + 0.5) AS BIGINT) AS coverage_micro "
   "FROM th t CROSS JOIN te e")
def text_conformal_threshold(spark, sf):
    """Split-conformal calibration of the quality scorer at α = 0.1:
    the ⌈(n+1)(1−α)⌉-th smallest calibration nonconformity (1 − score,
    micro-integer) becomes the deployment threshold, and the held-out
    half reports empirical coverage — the distribution-free
    prediction-interval recipe (Vovk; split CP) a filtering pipeline
    runs before trusting 'keep if score ≥ t'. Hash-bucket split (the
    sample_split_train convention); threshold by exact integer rank
    on the reduced nonconformity cells; zero floats until the final
    coverage division."""
    from pyspark.sql import Window
    from mura_spark.functions.quantize import micro
    from mura_spark.operators.sampling import hash_bucket
    d = table(spark, sf, "documents").where(F.col("text").isNotNull())
    sp = d.select(
        (F.lit(1000000) - micro(_logit_score())).alias("nc"),
        (hash_bucket(F.col("doc_id")) < 500).alias("cal"))
    cc = (sp.filter("cal").groupBy("nc")
            .agg(F.count(F.lit(1)).alias("k")))
    nn = cc.agg(F.sum("k").alias("n_cal"))
    cum = cc.select(
        "nc", F.sum("k").over(Window.orderBy("nc")
                              .rowsBetween(Window.unboundedPreceding, 0))
              .alias("gc"))
    qr = nn.select("n_cal",
                   F.expr("((n_cal + 1) * 9 + 9) div 10").alias("q_rank"))
    # conditional MIN through a GLOBAL agg, not filter-then-agg or a
    # keyed groupBy: when q_rank > n_cal (tiny calibration half —
    # ceil((n+1)(1-alpha)) can exceed n) no cell reaches the rank, and
    # when the calibration half is EMPTY, cum has no rows at all; a
    # filtered frame or keyed groupBy would silently drop the output
    # row in both cases, while a global agg always returns exactly one
    # row with threshold_nc NULL — which coverage below reads as the
    # split-CP "+inf: cover everything" convention
    thr = (cum.crossJoin(F.broadcast(qr))
              .agg(F.min(F.when(F.col("gc") >= F.col("q_rank"),
                                F.col("nc"))).alias("threshold_nc")))
    th = qr.crossJoin(F.broadcast(thr))
    te = (sp.filter(~F.col("cal"))
            .crossJoin(F.broadcast(th))
            .agg(F.first("n_cal").alias("n_cal"),
                 F.first("q_rank").alias("q_rank"),
                 F.first("threshold_nc").alias("threshold_nc"),
                 F.count(F.lit(1)).alias("n_test"),
                 F.sum(F.when(F.col("threshold_nc").isNull()
                              | (F.col("nc") <= F.col("threshold_nc")),
                              1)
                        .otherwise(0)).alias("n_covered")))
    cov = (F.floor(F.col("n_covered").cast("double")
                   / F.col("n_test").cast("double")
                   * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    return te.select("n_cal",
                     F.col("q_rank").cast("bigint").alias("q_rank"),
                     "threshold_nc", "n_test", "n_covered",
                     cov.alias("coverage_micro"))


@q("sample_importance_weights",
   "WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n "
   "FROM documents GROUP BY 1), "
   "g AS (SELECT CAST(SUM(n) AS BIGINT) AS tot, "
   "CAST(COUNT(*) AS BIGINT) AS ng FROM c) "
   "SELECT source, n AS n_docs, "
   "CAST(floor(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) * 1000000.0 "
   "+ 0.5) AS BIGINT) AS actual_micro, "
   "CAST(floor(1.0 / CAST(ng AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) "
   "AS target_micro, "
   "CAST(floor(least((1.0 / CAST(ng AS DOUBLE)) "
   "/ (CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)), 10.0) * 1000000.0 "
   "+ 0.5) AS BIGINT) AS weight_micro "
   "FROM c CROSS JOIN g")
def sample_importance_weights(spark, sf):
    """Domain-reweighting plan: per-source importance weight
    target/actual (uniform target mixture, capped at 10×) — the
    distribution-matching table a training pipeline multiplies into
    its sampling probabilities to de-bias source skew (the
    deterministic core of DoReMi-style reweighting; swap the uniform
    target for learned weights). One count rollup; per-source single
    mirrored divisions, micro-floored."""
    d = table(spark, sf, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    g = c.agg(F.sum("n").alias("tot"), F.count(F.lit(1)).alias("ng"))
    actual = F.col("n").cast("double") / F.col("tot").cast("double")
    target = F.lit(1.0) / F.col("ng").cast("double")
    mic = lambda x: F.floor(x * F.lit(1000000.0)  # noqa: E731
                            + F.lit(0.5)).cast("bigint")
    return (c.crossJoin(F.broadcast(g))
             .select("source", F.col("n").alias("n_docs"),
                     mic(actual).alias("actual_micro"),
                     mic(target).alias("target_micro"),
                     mic(F.least(target / actual, F.lit(10.0)))
                      .alias("weight_micro")))


@q("text_burrows_delta",
   f"WITH tok AS (SELECT source, unnest({_TOKS}) AS term "
   "FROM documents), "
   "tc AS (SELECT term, COUNT(*) AS n FROM tok GROUP BY 1), "
   "top AS (SELECT term FROM (SELECT term, ROW_NUMBER() OVER "
   "(ORDER BY n DESC, term ASC) AS rnk FROM tc) WHERE rnk <= 50), "
   "st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS tot FROM tok "
   "GROUP BY 1), "
   "c AS (SELECT t.source, t.term, CAST(COUNT(*) AS BIGINT) AS cnt "
   "FROM tok t JOIN top ON t.term = top.term GROUP BY 1, 2), "
   "grid AS (SELECT st.source, top.term, st.tot, "
   "COALESCE(c.cnt, 0) AS cnt FROM st CROSS JOIN top "
   "LEFT JOIN c ON c.source = st.source AND c.term = top.term), "
   "f AS (SELECT source, term, CAST(floor(CAST(cnt AS DOUBLE) "
   "/ CAST(tot AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS fm "
   "FROM grid), "
   "mu AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS g, "
   "CAST(floor(CAST(SUM(fm) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) "
   "AS m FROM f GROUP BY 1), "
   "sd AS (SELECT f.term, mu.m, CAST(floor(sqrt(CAST(SUM((fm - m) "
   "* (fm - m)) AS DOUBLE) / CAST(mu.g - 1 AS DOUBLE)) + 0.5) "
   "AS BIGINT) AS s FROM f JOIN mu ON f.term = mu.term "
   "GROUP BY 1, 2, mu.g), "
   "z AS (SELECT f.source, f.term, CAST(floor(CAST(fm - sd.m "
   "AS DOUBLE) / CAST(sd.s AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) "
   "AS zm FROM f JOIN sd ON f.term = sd.term WHERE sd.s > 0) "
   "SELECT a.source AS source_a, b.source AS source_b, "
   "CAST(COUNT(*) AS BIGINT) AS n_terms, "
   "CAST(floor(CAST(SUM(abs(a.zm - b.zm)) AS DOUBLE) / COUNT(*) "
   "+ 0.5) AS BIGINT) AS delta_micro "
   "FROM z a JOIN z b ON a.term = b.term AND a.source < b.source "
   "GROUP BY 1, 2")
def text_burrows_delta(spark, sf):
    """Burrows' Delta — the computational-stylometry distance between
    sources: z-score each source's relative frequency of the 50 most
    common tokens, Delta(a,b) = mean |z_a − z_b| — the
    who-wrote-this / same-generator signal used for corpus provenance
    auditing. Quantize-at-every-stage determinism: per-cell micro
    frequencies, integer means, one sqrt per token, integer z-scores;
    the pair distance is an exact integer mean."""
    from pyspark.sql import Window
    d = table(spark, sf, "documents")
    tok = d.select("source",
                   F.explode(TX.tokens(F.col("text"))).alias("term"))
    tc = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    top = (tc.select("term", F.row_number().over(
               Window.orderBy(F.desc("n"), F.asc("term"))).alias("rnk"))
             .filter(F.col("rnk") <= 50).select("term"))
    st = tok.groupBy("source").agg(F.count(F.lit(1)).alias("tot"))
    c = (tok.join(F.broadcast(top), "term")
            .groupBy("source", "term")
            .agg(F.count(F.lit(1)).alias("cnt")))
    grid = (st.crossJoin(F.broadcast(top))
              .join(c, ["source", "term"], "left")
              .select("source", "term", "tot",
                      F.coalesce("cnt", F.lit(0).cast("bigint"))
                       .alias("cnt")))
    f = grid.select(
        "source", "term",
        F.floor(F.col("cnt").cast("double") / F.col("tot").cast("double")
                * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
         .alias("fm"))
    mu = f.groupBy("term").agg(
        F.count(F.lit(1)).alias("g"),
        F.floor(F.sum("fm").cast("double") / F.count(F.lit(1))
                + F.lit(0.5)).cast("bigint").alias("m"))
    sd = (f.join(mu, "term")
           .groupBy("term", "m", "g")
           .agg(F.floor(F.sqrt(
               F.sum((F.col("fm") - F.col("m"))
                     * (F.col("fm") - F.col("m"))).cast("double")
               / (F.col("g") - F.lit(1)).cast("double"))
               + F.lit(0.5)).cast("bigint").alias("s"))
           .filter(F.col("s") > 0)
           .select("term", "m", "s"))
    z = (f.join(sd, "term")
          .select("source", "term",
                  F.floor((F.col("fm") - F.col("m")).cast("double")
                          / F.col("s").cast("double")
                          * F.lit(1000000.0) + F.lit(0.5))
                   .cast("bigint").alias("zm")))
    a = z.select(F.col("source").alias("source_a"), "term",
                 F.col("zm").alias("za"))
    b = z.select(F.col("source").alias("source_b"),
                 F.col("term").alias("term_b"),
                 F.col("zm").alias("zb"))
    return (a.join(b, (F.col("term") == F.col("term_b"))
                   & (F.col("source_a") < F.col("source_b")))
             .groupBy("source_a", "source_b")
             .agg(F.count(F.lit(1)).alias("n_terms"),
                  F.floor(F.sum(F.abs(F.col("za") - F.col("zb")))
                          .cast("double") / F.count(F.lit(1))
                          + F.lit(0.5)).cast("bigint")
                   .alias("delta_micro")))


@q("feature_hash_cross",
   f"WITH h AS (SELECT doc_id, "
   f"CAST(({sql_hash48(chr(39) + 'x|' + chr(39) + ' || lang || ' + chr(39) + '|' + chr(39) + ' || source')}) "
   "% 32 AS INT) AS bucket, lang || '|' || source AS cross_val "
   "FROM documents) "
   "SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs, "
   "CAST(COUNT(DISTINCT cross_val) AS BIGINT) AS n_distinct_crosses "
   "FROM h GROUP BY 1")
def feature_hash_cross(spark, sf):
    """Hashed feature cross (lang × source → 32 buckets): the
    fixed-width categorical-interaction encoder (the 'crossed_column'
    of every CTR feature pipeline), with per-bucket collision counts
    so the width choice is auditable. Portable MD5 fold; one
    rollup."""
    from mura_spark.functions.hashing import md5_hash48
    d = table(spark, sf, "documents")
    cross = F.concat(F.col("lang"), F.lit("|"), F.col("source"))
    b = (md5_hash48(F.concat(F.lit("x|"), cross)) % 32).cast("int")
    return (d.select(b.alias("bucket"), cross.alias("cv"))
             .groupBy("bucket")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.countDistinct("cv").alias("n_distinct_crosses")))
