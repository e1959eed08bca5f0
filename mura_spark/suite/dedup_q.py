"""Deduplication queries over the documents table (north-star extension).

Oracles are brute-force set-similarity computations in DuckDB; the Spark
side uses the scalable blocked operators from mura_spark.operators.dedup.
They agree exactly because every blocking strategy used is lossless
(shared-shingle join, AllPairs prefix, SimHash pigeonhole bands) or has
negligible miss probability with exact verification (MinHash at 16×2 bands:
(1 − J²)¹⁶ per true pair — ≈ 8e-8 at exactly J = 0.8, < 3e-12 from
J ≥ 0.9 — immaterial at test scale; at 100 TB with millions of borderline
pairs, raise the band count).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mura_spark.functions import text as TX
from mura_spark.functions.hashing import SIMHASH_BITS
from mura_spark.operators import dedup
from mura_spark.suite.common import (registry, sql_hash48, sql_shingles,
                                     sql_tokens, table)

SPARK_QUERIES, ORACLE_SQL, q = registry()


_SHINGLES = sql_shingles(sql_tokens("text"), 3)

#: shared oracle CTE: per-doc distinct 3-gram shingle sets. MATERIALIZED:
#: the pair joins reference d twice, and inlining would shingle the corpus
#: twice.
_SH_CTE = (f"WITH d AS MATERIALIZED "
           f"(SELECT doc_id, {_SHINGLES} AS sh FROM documents)")

# Brute-force pair oracle, shaped for oracle *cost*: the length filter
# (lossless — J ≤ min/max, identical to the Spark side's _length_compatible)
# prunes pairs before the expensive list_intersect, which is then evaluated
# once per pair in a subquery instead of three times inline.
_JACCARD_PAIRS = (
    f"{_SH_CTE} "
    "SELECT id_a, id_b, CAST(inter AS DOUBLE) / (la + lb - inter) AS jaccard "
    "FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "len(list_intersect(a.sh, b.sh)) AS inter, "
    "len(a.sh) AS la, len(b.sh) AS lb "
    "FROM d a JOIN d b ON a.doc_id < b.doc_id "
    "AND least(len(a.sh), len(b.sh)) >= "
    "ceiling({t} * greatest(len(a.sh), len(b.sh)))) "
    "WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= {t}")


@q("dedup_exact_groups",
   "SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) "
   "AS dup_key, MIN(doc_id) AS keep_id, COUNT(*) AS group_size "
   "FROM documents GROUP BY 1")
def dedup_exact_groups(spark, sf):
    d = table(spark, sf, "documents")
    return dedup.exact_dup_groups(d, "doc_id",
                                  F.md5(TX.normalize(F.col("text"))))


@q("dedup_contamination",
   f"{_SH_CTE}, e AS (SELECT doc_id, unnest(sh) AS shingle FROM d), "
   "b AS (SELECT DISTINCT shingle FROM e WHERE doc_id % 97 = 0) "
   "SELECT e.doc_id, COUNT(*) AS n_hit FROM e JOIN b USING (shingle) "
   "WHERE e.doc_id % 97 <> 0 GROUP BY e.doc_id")
def dedup_contamination(spark, sf):
    """Benchmark decontamination: per training doc, the count of its
    distinct 3-gram shingles that also occur in the 'benchmark' slice
    (doc_id % 97 == 0 stands in for the eval set). The benchmark shingle
    set is broadcast; the corpus side is one shingle pass + groupBy."""
    docs = table(spark, sf, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return dedup.contamination_hits(train, bench, "doc_id", "text", n=3)


@q("dedup_jaccard_pairs", _JACCARD_PAIRS.format(t=0.8))
def dedup_jaccard_pairs(spark, sf):
    """Exact set-similarity join (shared-shingle blocking + AllPairs prefix
    filter); brute-force oracle."""
    d = table(spark, sf, "documents")
    return dedup.jaccard_dup_pairs(d, "doc_id", "text", threshold=0.8)


@q("dedup_minhash_pairs", _JACCARD_PAIRS.format(t=0.8))
def dedup_minhash_pairs(spark, sf):
    """MinHash-LSH candidates + exact verification — same oracle as the
    exact join (per-pair recall 1 − (1 − J²)¹⁶: ~1 − 8e-8 at exactly
    J = 0.8, 1 − 3e-12 from J ≥ 0.9)."""
    d = table(spark, sf, "documents")
    return dedup.minhash_dup_pairs(d, "doc_id", "text", threshold=0.8)


def _simhash_oracle(hd_max: int) -> str:
    """Brute-force SimHash in DuckDB with the identical bit arithmetic."""
    h = sql_hash48("s.sh")
    bit_sums = ", ".join(
        f"SUM(({h} >> {b}) & 1) AS ones_{b}" for b in range(SIMHASH_BITS))
    sig_terms = " + ".join(
        f"(CASE WHEN ones_{b} * 2 > n_el THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS))
    return (
        f"{_SH_CTE}, "
        f"ex AS (SELECT doc_id, unnest(sh) AS sh FROM d), "
        f"counted AS (SELECT s.doc_id, COUNT(*) AS n_el, {bit_sums} "
        f"FROM ex s GROUP BY s.doc_id), "
        f"sig AS (SELECT doc_id, CAST({sig_terms} AS BIGINT) AS simhash "
        f"FROM counted) "
        f"SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        f"bit_count(xor(a.simhash, b.simhash)) AS hamming "
        f"FROM sig a JOIN sig b ON a.doc_id < b.doc_id "
        f"WHERE bit_count(xor(a.simhash, b.simhash)) <= {hd_max}")


@q("dedup_simhash_pairs", _simhash_oracle(8))
def dedup_simhash_pairs(spark, sf):
    """SimHash near-dup pairs, Hamming ≤ 8 (9-segment pigeonhole blocking,
    lossless). Threshold sits in the measured gap of the corpus (true dups
    ≤ 8 bits apart, unrelated docs ≫)."""
    d = table(spark, sf, "documents")
    return dedup.simhash_dup_pairs(d, "doc_id", "text", hd_max=8)


@q("dedup_embedding_pairs",
   "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
   "list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
   "CAST(b.embedding AS DOUBLE[])) AS sim "
   "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
   "WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
   "CAST(b.embedding AS DOUBLE[])) >= 0.4")
def dedup_embedding_pairs(spark, sf):
    """Embedding near-dup: cosine ≥ 0.4 over all pairs — exact, via the
    blocked applyInPandas path (bit-identical to the HOF 'exact' method and
    to DuckDB's DOUBLE[] cosine; equivalence pinned in pytest)."""
    from mura_spark.operators.similarity import embedding_dup_pairs
    e = table(spark, sf, "embeddings")
    return embedding_dup_pairs(e, threshold=0.4, method="blocked")


@q("dedup_embedding_pairs_lsh")  # approximate blocking — rows-only check;
def dedup_embedding_pairs_lsh(spark, sf):
    """The pipeline-default near-dup path: hyperplane-LSH banding then exact
    cosine verification — near-linear candidate generation (the 100 TB
    shape). Approximate recall (pinned vs the exact path in pytest), exact
    precision, so no value oracle: the driver records a rows-only check."""
    from mura_spark.operators.similarity import embedding_dup_pairs
    e = table(spark, sf, "embeddings")
    return embedding_dup_pairs(e, threshold=0.4, method="lsh")


@q("dedup_embedding_pairs_lsh_full",
   "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
   "list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
   "CAST(b.embedding AS DOUBLE[])) AS sim "
   "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
   "WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
   "CAST(b.embedding AS DOUBLE[])) >= 0.4")
def dedup_embedding_pairs_lsh_full(spark, sf):
    """Deterministic driver companion for the LSH near-dup path: the same
    band/explode/equi-join/verify pipeline run in single-bucket mode
    (band_bits=0 → every pair is a candidate), so the output is exactly the
    cosine ≥ 0.4 pair set and hash-checks against the all-pairs oracle.
    Production banding stays recall-pinned in pytest."""
    from mura_spark.operators.similarity import embedding_dup_pairs
    e = table(spark, sf, "embeddings")
    return embedding_dup_pairs(e, threshold=0.4, method="lsh", band_bits=0)


_PAIRS_08 = _JACCARD_PAIRS.format(t=0.8)

#: duplicate clusters: DuckDB recursive transitive closure over the same
#: pair graph, labeled by min reachable id — the SQL-expressible oracle for
#: the Spark min-label-propagation components.
_CLUSTERS_ORACLE = (
    # MATERIALIZED: edges is referenced from the recursive term, and without
    # it DuckDB re-inlines (re-executes) the expensive pair CTE — measured
    # 3× the query cost.
    f"WITH RECURSIVE pairs AS MATERIALIZED ({_PAIRS_08}), "
    "edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs "
    "UNION SELECT id_b, id_a FROM pairs), "
    "reach(src, dst) AS ("
    "  SELECT src, src FROM edges "
    "  UNION SELECT e.src, r.dst FROM edges e JOIN reach r ON e.dst = r.src) "
    "SELECT src AS id, MIN(dst) AS cluster_id FROM reach GROUP BY src")


@q("dedup_clusters", _CLUSTERS_ORACLE)
def dedup_clusters(spark, sf):
    """Near-dup clusters: connected components (min-label) over the exact
    Jaccard ≥ 0.8 pair graph."""
    d = table(spark, sf, "documents")
    pairs = dedup.jaccard_dup_pairs(d, "doc_id", "text", threshold=0.8)
    return dedup.dup_clusters(pairs)


@q("dedup_near_keep_one",
   f"WITH RECURSIVE pairs AS MATERIALIZED ({_PAIRS_08}), "
   "edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs "
   "UNION SELECT id_b, id_a FROM pairs), "
   "reach(src, dst) AS ("
   "  SELECT src, src FROM edges "
   "  UNION SELECT e.src, r.dst FROM edges e JOIN reach r ON e.dst = r.src), "
   "lab AS (SELECT src AS id, MIN(dst) AS cluster_id FROM reach GROUP BY src) "
   "SELECT doc_id, n_chars FROM documents "
   "WHERE doc_id NOT IN (SELECT id FROM lab WHERE id <> cluster_id)")
def dedup_near_keep_one(spark, sf):
    """End-to-end near-dedup: Jaccard ≥ 0.8 pairs → connected components →
    drop every member except each cluster's minimum id (cluster_id IS the
    minimum member, so non-keepers are exactly rows with id ≠ cluster_id);
    singletons pass through untouched via the anti-join."""
    from mura_spark.operators import dedup as DD
    d = table(spark, sf, "documents")
    pairs = DD.jaccard_dup_pairs(d, "doc_id", "text", threshold=0.8)
    clusters = DD.dup_clusters(pairs)
    drop = (clusters.filter(F.col("id") != F.col("cluster_id"))
                    .select(F.col("id").alias("doc_id")))
    return (d.join(drop, "doc_id", "left_anti")
             .select("doc_id", "n_chars"))


@q("dedup_keep_one",
   "SELECT doc_id, n_chars FROM documents WHERE doc_id IN ("
   "SELECT MIN(doc_id) FROM documents "
   "GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))")
def dedup_keep_one(spark, sf):
    """End-to-end exact dedup: keep the minimum-id document per normalized
    content key."""
    d = table(spark, sf, "documents").select("doc_id", "n_chars", "text")
    kept = dedup.exact_dedup(d, "doc_id", F.md5(TX.normalize(F.col("text"))))
    return kept.select("doc_id", "n_chars")


# --------------------------------------------------------------------------
# end-to-end pretraining-prep pipeline: quality gate → near-dedup keep-one
# → per-language stratified sample → corpus stats. One oracled query that
# composes four operator families, pinning that they compose CORRECTLY
# (filters before dedup change the pair graph; sampling after keep-one
# keeps membership deterministic).
# --------------------------------------------------------------------------

_Q_TOKS = sql_tokens("text")
_QUALITY = (
    f"CAST(len(list_distinct({_Q_TOKS})) AS DOUBLE) / len({_Q_TOKS}) >= 0.3 "
    f"AND len({_Q_TOKS}) BETWEEN 20 AND 1000 "
    "AND CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) "
    "AS DOUBLE) / length(text) <= 0.3")
_BUCKET = ("CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) "
           "AS BIGINT) % 1000")

_PIPELINE_ORACLE = (
    "WITH RECURSIVE qd AS MATERIALIZED ("
    f"SELECT doc_id, lang, n_chars, text FROM documents WHERE {_QUALITY}), "
    f"d AS MATERIALIZED (SELECT doc_id, {_SHINGLES} AS sh FROM qd), "
    "pairs AS MATERIALIZED ("
    "SELECT id_a, id_b FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "len(list_intersect(a.sh, b.sh)) AS inter, "
    "len(a.sh) AS la, len(b.sh) AS lb "
    "FROM d a JOIN d b ON a.doc_id < b.doc_id "
    "AND least(len(a.sh), len(b.sh)) >= "
    "ceiling(0.8 * greatest(len(a.sh), len(b.sh)))) "
    "WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8), "
    "edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs "
    "UNION SELECT id_b, id_a FROM pairs), "
    "reach(src, dst) AS ("
    "  SELECT src, src FROM edges "
    "  UNION SELECT e.src, r.dst FROM edges e JOIN reach r ON e.dst = r.src), "
    "lab AS (SELECT src AS id, MIN(dst) AS cluster_id FROM reach "
    "GROUP BY src), "
    "kept AS (SELECT * FROM qd WHERE doc_id NOT IN ("
    "SELECT id FROM lab WHERE id <> cluster_id)), "
    f"samp AS (SELECT * FROM kept WHERE {_BUCKET} < "
    "CASE WHEN lang = 'en' THEN 500 WHEN lang = 'zh' THEN 1000 "
    "ELSE 200 END) "
    f"SELECT lang, COUNT(*) AS n_docs, "
    f"CAST(SUM(len({_Q_TOKS})) AS BIGINT) AS total_tokens, "
    "CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM samp GROUP BY lang")


@q("pipeline_pretrain_prep", _PIPELINE_ORACLE)
def pipeline_pretrain_prep(spark, sf):
    """Full pretraining-prep pipeline as one plan: Gopher-style quality
    gate → exact-Jaccard near-dedup keep-one → per-language stratified
    downsampling → per-language corpus statistics. Every stage is the same
    operator the standalone queries pin; composing them shares one scan
    and lets Catalyst pipeline the quality filter into the shingle
    kernel's input."""
    from mura_spark.operators.sampling import stratified_sample
    d = table(spark, sf, "documents")
    t = TX.tokens(F.col("text"))
    quality = ((TX.distinct_token_ratio(F.col("text")) >= 0.3)
               & F.size(t).between(20, 1000)
               & (TX.digit_ratio(F.col("text")) <= 0.3))
    qd = d.filter(quality).select("doc_id", "lang", "n_chars", "text")
    pairs = dedup.jaccard_dup_pairs(qd, "doc_id", "text", threshold=0.8)
    clusters = dedup.dup_clusters(pairs)
    drop = (clusters.filter(F.col("id") != F.col("cluster_id"))
            .select(F.col("id").alias("doc_id")))
    kept = qd.join(drop, "doc_id", "left_anti")
    samp = stratified_sample(kept, "lang", "doc_id",
                             {"en": 0.5, "zh": 1.0}, default=0.2)
    return samp.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(TX.tokens(F.col("text")))).alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"))


@q("dedup_incremental_new",
   "SELECT n.doc_id, n.source FROM documents n WHERE NOT EXISTS ("
   "SELECT 1 FROM documents s WHERE s.doc_id % 3 = 0 AND "
   "md5(trim(regexp_replace(lower(s.text), '\\s+', ' ', 'g'))) = "
   "md5(trim(regexp_replace(lower(n.text), '\\s+', ' ', 'g'))))")
def dedup_incremental_new(spark, sf):
    """Incremental ingest dedup: new-crawl documents whose normalized
    content hash is absent from the already-ingested corpus (the
    doc_id % 3 == 0 slice stands in for the prior snapshot). Left-anti
    hash join on the content key — the between-crawls complement of
    dedup_exact_groups."""
    docs = table(spark, sf, "documents")
    seen = docs.filter(F.col("doc_id") % 3 == 0)
    key_new = F.md5(TX.normalize(F.col("text")))
    key_seen = F.md5(TX.normalize(F.col("text")))
    return (dedup.dedup_incremental(docs, seen, key_new, key_seen)
            .select("doc_id", "source"))


@q("dedup_incremental_near",
   f"{_SH_CTE} "
   "SELECT id_a, id_b, CAST(inter AS DOUBLE) / (la + lb - inter) AS jaccard "
   "FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
   "len(list_intersect(a.sh, b.sh)) AS inter, "
   "len(a.sh) AS la, len(b.sh) AS lb "
   "FROM d a JOIN d b ON a.doc_id % 3 <> 0 AND b.doc_id % 3 = 0 "
   "AND least(len(a.sh), len(b.sh)) >= "
   "ceiling(0.8 * greatest(len(a.sh), len(b.sh)))) "
   "WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8")
def dedup_incremental_near(spark, sf):
    """Cross-corpus near-dup join: new-crawl documents (doc_id % 3 != 0)
    with a Jaccard ≥ 0.8 near-duplicate in the prior snapshot
    (doc_id % 3 == 0) — catches boilerplate-level edits that exact
    content hashing (dedup_incremental_new) misses. Exact result via
    shared-shingle candidates + candidate-only verification."""
    docs = table(spark, sf, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 3 != 0)
    seen = docs.filter(F.col("doc_id") % 3 == 0)
    return dedup.jaccard_cross_pairs(new, seen, "doc_id", "text",
                                     threshold=0.8, n=3)


_INC_HASH = "md5(trim(regexp_replace(lower({a}.text), '\\s+', ' ', 'g')))"

@q("pipeline_finetune_prep",
   "WITH new AS (SELECT doc_id, lang, n_chars FROM documents n "
   "WHERE NOT EXISTS (SELECT 1 FROM documents s WHERE s.doc_id % 3 = 0 AND "
   f"{_INC_HASH.format(a='s')} = {_INC_HASH.format(a='n')})), "
   "w AS (SELECT * FROM new WHERE "
   "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) "
   "% 1000 < least(greatest(n_chars / 400.0, 0.0), 1.0) * 1000), "
   "k AS (SELECT doc_id, lang, n_chars, ROW_NUMBER() OVER ("
   "PARTITION BY lang ORDER BY "
   "CAST('0x' || substr(md5('7|' || CAST(doc_id AS VARCHAR)), 1, 12) "
   "AS BIGINT), doc_id) AS rn FROM w) "
   "SELECT lang, COUNT(*) AS n_docs, "
   "CAST(SUM(n_chars) AS BIGINT) AS total_chars "
   "FROM k WHERE rn <= 50 GROUP BY lang")
def pipeline_finetune_prep(spark, sf):
    """Fine-tuning-prep pipeline as one plan, chaining the incremental-
    ingest operators end-to-end: drop documents already in the prior
    snapshot (left-anti on content hash) → quality-weighted Bernoulli
    downsampling (keep probability ∝ length) → fixed 50-docs-per-language
    seeded sample → per-language corpus statistics. One scan feeds the
    whole chain; the only shuffles are the anti-join key and the
    per-language window/agg."""
    from mura_spark.operators.sampling import (sample_k_per_group,
                                               weighted_sample)
    docs = table(spark, sf, "documents")
    seen = docs.filter(F.col("doc_id") % 3 == 0)
    key = F.md5(TX.normalize(F.col("text")))
    new = (dedup.dedup_incremental(docs, seen, key, key)
           .select("doc_id", "lang", "n_chars"))
    w = weighted_sample(new, "doc_id",
                        F.col("n_chars").cast("double") / 400.0)
    k = sample_k_per_group(w, ["lang"], "doc_id", 50, seed=7)
    return k.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"))


@q("sample_split_leak_safe",
   f"WITH RECURSIVE pairs AS MATERIALIZED ({_PAIRS_08}), "
   "edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs "
   "UNION SELECT id_b, id_a FROM pairs), "
   "reach(src, dst) AS ("
   "  SELECT src, src FROM edges "
   "  UNION SELECT e.src, r.dst FROM edges e JOIN reach r ON e.dst = r.src), "
   "lab AS (SELECT src AS id, MIN(dst) AS cluster_id FROM reach GROUP BY src) "
   "SELECT doc_id, cluster_key, CASE WHEN hb < 900 THEN 'train' "
   "ELSE 'val' END AS split FROM ("
   "SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_key, "
   "CAST('0x' || substr(md5(CAST(coalesce(l.cluster_id, d.doc_id) "
   "AS VARCHAR)), 1, 12) AS BIGINT) % 1000 AS hb "
   "FROM documents d LEFT JOIN lab l ON d.doc_id = l.id)")
def sample_split_leak_safe(spark, sf):
    """Leakage-safe 90/10 split: near-dup clusters (Jaccard ≥ 0.8
    connected components) hash as a UNIT, so no near-duplicate pair can
    straddle train/val — the eval-contamination mode a row-level split
    invites. Cluster table is output-bound small (AQE broadcast);
    membership is the usual row-local hash predicate
    (operators.sampling.split_by_cluster)."""
    from mura_spark.operators.sampling import split_by_cluster
    d = table(spark, sf, "documents")
    pairs = dedup.jaccard_dup_pairs(d, "doc_id", "text", threshold=0.8)
    clusters = dedup.dup_clusters(pairs)
    return split_by_cluster(d.select("doc_id"), "doc_id", clusters,
                            {"train": 0.9, "val": 0.1})


@q("dedup_editdist_pairs",
   "WITH p AS (SELECT doc_id, substr(text, 1, 128) AS pfx FROM documents "
   "WHERE length(text) >= 128) "
   "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
   "CAST(levenshtein(a.pfx, b.pfx) AS INT) AS dist "
   "FROM p a JOIN p b ON a.doc_id < b.doc_id "
   "WHERE levenshtein(a.pfx, b.pfx) <= 8")
def dedup_editdist_pairs(spark, sf):
    """Character-level near-dup join: document pairs whose 128-char
    prefixes are within Levenshtein distance 8 — exact result via
    lossless PassJoin segment blocking with the 2-segment match
    requirement (operators.editdist; 12-char segments make aligned
    accidental matches rare even in small-vocabulary corpora);
    brute-force DP oracle."""
    from mura_spark.operators.editdist import editdist_pairs
    d = table(spark, sf, "documents")
    return editdist_pairs(d, "doc_id", "text", max_dist=8, prefix_len=128)


@q("dedup_containment_pairs",
   f"{_SH_CTE} "
   "SELECT contained_id, container_id, "
   "CAST(inter AS DOUBLE) / lc AS containment FROM "
   "(SELECT a.doc_id AS contained_id, b.doc_id AS container_id, "
   "len(list_intersect(a.sh, b.sh)) AS inter, len(a.sh) AS lc "
   "FROM d a JOIN d b ON a.doc_id <> b.doc_id) "
   "WHERE CAST(inter AS DOUBLE) / lc >= 0.9")
def dedup_containment_pairs(spark, sf):
    """Asymmetric containment join: (contained, container) pairs where
    ≥ 90% of the contained doc's shingles appear in the container —
    quote/snippet/doc-in-doc detection symmetric Jaccard misses. Exact
    via contained-side-only AllPairs prefix (operators.dedup
    .containment_pairs); brute-force oracle."""
    d = table(spark, sf, "documents")
    return dedup.containment_pairs(d, "doc_id", "text", threshold=0.9)


# ------------------------------------------------------- round-5gg addition

def _snm_oracle() -> str:
    from mura_spark.operators.dedup import sql_sorted_neighborhood_pairs
    key = (f"array_to_string(list_sort(list_distinct({sql_tokens('text')})),"
           f" ' ')")
    return sql_sorted_neighborhood_pairs(
        f"(SELECT doc_id, {key} AS snm_key FROM documents)",
        "doc_id", "snm_key", 3)


@q("dedup_sorted_neighborhood", _snm_oracle())
def dedup_sorted_neighborhood(spark, sf):
    """Sorted-neighborhood duplicate detection (the classic ER blocking
    method the LSH/shingle families complement), run the textbook way:
    sort on a NORMALIZED key — the sorted distinct-token bag, so
    reordered/bag-equal duplicates (which raw-text equality misses
    entirely: this corpus has 21 such groups and zero byte-identical
    ones) land adjacent — compare within a 3-position window, verify
    by key equality. The Spark side's global rank is DISTRIBUTED —
    range-partition + per-partition windows + bounded count offsets,
    never a single-task sort — with candidates from a banded equi-join
    (operators.dedup.sorted_neighborhood_pairs)."""
    from mura_spark.functions import text as TX
    from mura_spark.operators.dedup import sorted_neighborhood_pairs
    d = table(spark, sf, "documents").withColumn(
        "snm_key",
        F.array_join(F.array_sort(F.array_distinct(
            TX.tokens(F.col("text")))), " "))
    return sorted_neighborhood_pairs(d, "doc_id", "snm_key", window=3)


# ------------------------------------------------------- round-6rr addition

_BQ_KEY = (f"array_to_string(list_sort(list_distinct({sql_tokens('text')})),"
           f" ' ')")

_BQ_ORACLE = (
    f"{_SH_CTE}, "
    "t AS (SELECT id_a, id_b FROM "
    "(SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "len(list_intersect(a.sh, b.sh)) AS inter, "
    "len(a.sh) AS la, len(b.sh) AS lb "
    "FROM d a JOIN d b ON a.doc_id < b.doc_id "
    "AND least(len(a.sh), len(b.sh)) >= "
    "ceiling(0.8 * greatest(len(a.sh), len(b.sh)))) "
    "WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8), "
    f"r AS (SELECT doc_id AS id, ROW_NUMBER() OVER "
    f"(ORDER BY {_BQ_KEY}, doc_id) AS rn FROM documents), "
    "bk AS (SELECT id, rn, "
    "CAST(floor(CAST(rn - 1 AS DOUBLE) / 3.0) AS BIGINT) AS bkt FROM r), "
    "c AS (SELECT LEAST(a.id, c2.id) AS id_a, "
    "GREATEST(a.id, c2.id) AS id_b FROM bk a JOIN bk c2 "
    "ON (c2.bkt = a.bkt OR c2.bkt = a.bkt + 1) "
    "AND c2.rn > a.rn AND c2.rn - a.rn <= 3), "
    "m AS (SELECT (SELECT COUNT(*) FROM d) AS n_docs, "
    "(SELECT COUNT(*) FROM t) AS n_true, "
    "(SELECT COUNT(*) FROM c) AS n_cand, "
    "(SELECT COUNT(*) FROM c JOIN t USING (id_a, id_b)) AS n_caught) "
    "SELECT CAST(n_docs AS BIGINT) AS n_docs, "
    "CAST(n_true AS BIGINT) AS n_true, "
    "CAST(n_cand AS BIGINT) AS n_cand, "
    "CAST(n_caught AS BIGINT) AS n_caught, "
    "CASE WHEN n_true > 0 THEN CAST(floor(CAST(n_caught AS DOUBLE) "
    "/ CAST(n_true AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) END "
    "AS completeness_micro, "
    "CAST(floor((1.0 - CAST(n_cand AS DOUBLE) / (CAST(n_docs AS DOUBLE) "
    "* CAST(n_docs - 1 AS DOUBLE) / 2.0)) * 1000000.0 + 0.5) AS BIGINT) "
    "AS reduction_micro FROM m")


@q("dedup_blocking_quality", _BQ_ORACLE)
def dedup_blocking_quality(spark, sf):
    """Blocking-scheme evaluation (the entity-resolution literature's
    reduction ratio + pair completeness): how many of the TRUE Jaccard
    ≥ 0.8 near-dup pairs does sorted-neighborhood blocking (window 3 on
    the sorted-token-bag key) put in the same candidate window, and
    what fraction of the n(n−1)/2 all-pairs space does it avoid? The
    meta-query run before trusting any blocking config at corpus scale
    — both the truth set and the candidate set are exact and
    deterministic, so recall itself is oracle-hashable (unlike the
    MinHash family, whose recall is probabilistic). All counts exact;
    two terminal divisions."""
    from mura_spark.functions import text as TX
    from mura_spark.operators.dedup import (jaccard_dup_pairs,
                                            sorted_neighborhood_pairs)
    d = table(spark, sf, "documents")
    truth = (jaccard_dup_pairs(d, "doc_id", "text", threshold=0.8)
             .select("id_a", "id_b"))
    keyed = d.withColumn(
        "snm_key",
        F.array_join(F.array_sort(F.array_distinct(
            TX.tokens(F.col("text")))), " "))
    cand = (sorted_neighborhood_pairs(keyed, "doc_id", "snm_key",
                                      window=3, verify=False)
            .select(F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b")))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    # one full-outer pair join so the (expensive) truth and candidate
    # subtrees each evaluate exactly ONCE — separate count + intersect
    # aggregates would re-run both pair miners
    j = (truth.withColumn("__t", F.lit(1))
              .join(cand.withColumn("__c", F.lit(1)),
                    ["id_a", "id_b"], "full_outer"))
    m = (n_docs.crossJoin(F.broadcast(j.agg(
        F.coalesce(F.sum("__t"), F.lit(0).cast("bigint"))
         .alias("n_true"),
        F.coalesce(F.sum("__c"), F.lit(0).cast("bigint"))
         .alias("n_cand"),
        F.sum(F.when(F.col("__t").isNotNull()
                     & F.col("__c").isNotNull(), 1)
              .otherwise(0)).alias("n_caught")))))
    comp = (F.floor(F.col("n_caught").cast("double")
                    / F.col("n_true").cast("double")
                    * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    red = (F.floor((F.lit(1.0) - F.col("n_cand").cast("double")
                    / (F.col("n_docs").cast("double")
                       * (F.col("n_docs") - F.lit(1)).cast("double")
                       / F.lit(2.0)))
                   * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    return m.select(
        "n_docs", "n_true", "n_cand", "n_caught",
        F.when(F.col("n_true") > 0, comp).alias("completeness_micro"),
        red.alias("reduction_micro"))


@q("dedup_cluster_cohesion",
   f"WITH RECURSIVE pairs AS MATERIALIZED ({_PAIRS_08}), "
   "edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs "
   "UNION SELECT id_b, id_a FROM pairs), "
   "reach(src, dst) AS ("
   "  SELECT src, src FROM edges "
   "  UNION SELECT e.src, r.dst FROM edges e JOIN reach r "
   "ON e.dst = r.src), "
   "lab AS (SELECT src AS id, MIN(dst) AS cluster_id FROM reach "
   "GROUP BY src), "
   "sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members "
   "FROM lab GROUP BY 1), "
   "dp AS (SELECT l.cluster_id, CAST(COUNT(*) AS BIGINT) AS n_direct "
   "FROM pairs p JOIN lab l ON p.id_a = l.id GROUP BY 1) "
   "SELECT s.cluster_id, s.n_members, "
   "COALESCE(d.n_direct, CAST(0 AS BIGINT)) AS n_direct, "
   "CAST(floor(COALESCE(d.n_direct, CAST(0 AS BIGINT)) "
   "/ (CAST(s.n_members AS DOUBLE) "
   "* CAST(s.n_members - 1 AS DOUBLE) / 2.0) * 1000000.0 + 0.5) "
   "AS BIGINT) AS density_micro "
   "FROM sz s LEFT JOIN dp d USING (cluster_id)")
def dedup_cluster_cohesion(spark, sf):
    """Near-dup cluster quality: per connected component, how close is
    the direct-pair graph to a clique? density = n_direct/(m(m−1)/2)
    — 1.0 means every member pair verified directly; low density
    flags CHAINED clusters (a~b~c with a,c dissimilar), the classic
    transitive-closure over-merge a dedup pipeline must audit before
    keep-one deletion. Exact counts over the already-computed pair
    graph + CC labels; one terminal division per cluster."""
    d = table(spark, sf, "documents")
    # materialize the mined pairs ONCE: they feed both the CC loop and
    # the direct-pair count (same posture as dup_clusters' internal
    # edge materialization; at 100 TB swap for a reliable checkpoint
    # via dup_clusters(checkpoint_dir=...))
    pairs = (dedup.jaccard_dup_pairs(d, "doc_id", "text", threshold=0.8)
                  .localCheckpoint(eager=True))
    lab = dedup.dup_clusters(pairs)
    sz = (lab.groupBy("cluster_id")
             .agg(F.count(F.lit(1)).alias("n_members")))
    dp = (pairs.join(lab.withColumnRenamed("id", "id_a"), "id_a")
               .groupBy("cluster_id")
               .agg(F.count(F.lit(1)).alias("n_direct")))
    nd = F.coalesce(F.col("n_direct"), F.lit(0).cast("bigint"))
    dens = (F.floor(nd / (F.col("n_members").cast("double")
                          * (F.col("n_members") - F.lit(1))
                          .cast("double") / F.lit(2.0))
                    * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    return (sz.join(dp, "cluster_id", "left")
              .select("cluster_id", "n_members",
                      nd.alias("n_direct"), dens.alias("density_micro")))


# ------------------------------------------------------- round-6ww addition

def _minhash_calibration_oracle() -> str:
    from mura_spark.functions.hashing import MERSENNE_P, MINHASH_SEEDS
    h = sql_hash48("s")
    mins = ", ".join(
        f"MIN(({a} * h + {b}) % {MERSENNE_P}) AS m{i}"
        for i, (a, b) in enumerate(MINHASH_SEEDS))
    match = " + ".join(
        f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)"
        for i in range(len(MINHASH_SEEDS)))
    k = len(MINHASH_SEEDS)
    return (
        f"{_SH_CTE}, "
        # the t=0.5 pair miner, inlined as a CTE over the shared d
        "p AS ("
        "SELECT id_a, id_b, CAST(inter AS DOUBLE) / (la + lb - inter) "
        "AS jaccard FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "len(list_intersect(a.sh, b.sh)) AS inter, "
        "len(a.sh) AS la, len(b.sh) AS lb "
        "FROM d a JOIN d b ON a.doc_id < b.doc_id "
        "AND least(len(a.sh), len(b.sh)) >= "
        "ceiling(0.5 * greatest(len(a.sh), len(b.sh)))) "
        "WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.5), "
        "ex AS (SELECT doc_id, unnest(sh) AS s FROM d), "
        f"hh AS (SELECT doc_id, ({h}) % {MERSENNE_P} AS h FROM ex), "
        f"sig AS (SELECT doc_id, {mins} FROM hh GROUP BY 1), "
        "pm AS (SELECT CAST(floor(p.jaccard * 1000000.0 + 0.5) AS BIGINT) "
        f"AS jm, ({match}) AS mt FROM p "
        "JOIN sig a ON p.id_a = a.doc_id "
        "JOIN sig b ON p.id_b = b.doc_id) "
        "SELECT CAST(floor(jm / 100000.0) AS BIGINT) AS bucket, "
        "CAST(COUNT(*) AS BIGINT) AS n_pairs, "
        "CAST(floor(CAST(SUM(jm) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) "
        "AS mean_true_micro, "
        "CAST(floor(CAST(SUM(mt) AS DOUBLE) * 1000000.0 "
        f"/ ({k}.0 * CAST(COUNT(*) AS DOUBLE)) + 0.5) AS BIGINT) "
        "AS mean_est_micro FROM pm GROUP BY 1")


@q("dedup_minhash_calibration", _minhash_calibration_oracle())
def dedup_minhash_calibration(spark, sf):
    """MinHash estimator calibration: bucket true-Jaccard ≥ 0.5 pairs
    by J decile and compare the mean 32-permutation signature-agreement
    estimate against the mean true J — the audit that justifies the LSH
    family's banding math before anyone trusts its candidate
    thresholds. Signatures from the zero-shuffle Arrow kernel (pinned
    identical to the expression form); exact integer agreement counts;
    two terminal divisions per bucket."""
    from mura_spark.functions.hashing import MINHASH_SEEDS
    d = table(spark, sf, "documents")
    pairs = dedup.jaccard_dup_pairs(d, "doc_id", "text", threshold=0.5)
    sigs = dedup.minhash_signatures(d, "doc_id", "text")
    k = len(MINHASH_SEEDS)
    sa = sigs.select(F.col("doc_id").alias("id_a"),
                     *[F.col(f"mh_{i}").alias(f"a{i}") for i in range(k)])
    sb = sigs.select(F.col("doc_id").alias("id_b"),
                     *[F.col(f"mh_{i}").alias(f"b{i}") for i in range(k)])
    mt = None
    for i in range(k):
        term = (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        mt = term if mt is None else mt + term
    jm = F.floor(F.col("jaccard") * F.lit(1000000.0) + F.lit(0.5)) \
          .cast("bigint")
    pm = (pairs.join(sa, "id_a").join(sb, "id_b")
               .select(jm.alias("jm"), mt.alias("mt")))
    nD = F.count(F.lit(1)).cast("double")
    return (pm.groupBy(F.floor(F.col("jm") / F.lit(100000.0))
                        .cast("bigint").alias("bucket"))
              .agg(F.count(F.lit(1)).alias("n_pairs"),
                   F.floor(F.sum("jm").cast("double") / F.count(F.lit(1))
                           + F.lit(0.5)).cast("bigint")
                    .alias("mean_true_micro"),
                   F.floor(F.sum("mt").cast("double") * F.lit(1000000.0)
                           / (F.lit(float(k)) * nD) + F.lit(0.5))
                    .cast("bigint").alias("mean_est_micro")))


@q("pipeline_dedup_savings",
   f"WITH k AS (SELECT doc_id, source, len({_Q_TOKS}) AS toks, "
   "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS ck "
   "FROM documents), "
   "keep AS (SELECT ck, MIN(doc_id) AS kid FROM k GROUP BY 1), "
   "j AS (SELECT k.source, k.toks, "
   "CASE WHEN k.doc_id = keep.kid THEN 1 ELSE 0 END AS iskeep "
   "FROM k JOIN keep ON k.ck = keep.ck) "
   "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
   "CAST(SUM(iskeep) AS BIGINT) AS n_kept, "
   "CAST(SUM(toks) AS BIGINT) AS tokens_total, "
   "CAST(SUM(CASE WHEN iskeep = 1 THEN toks ELSE 0 END) AS BIGINT) "
   "AS tokens_kept, "
   "CAST(floor((1.0 - CAST(SUM(CASE WHEN iskeep = 1 THEN toks "
   "ELSE 0 END) AS DOUBLE) / CAST(SUM(toks) AS DOUBLE)) * 1000000.0 "
   "+ 0.5) AS BIGINT) AS savings_micro "
   "FROM j GROUP BY 1")
def pipeline_dedup_savings(spark, sf):
    """Dedup budget impact: per source, how many training TOKENS does
    exact keep-one deduplication save? — the number that justifies the
    dedup stage's compute bill to whoever owns the training budget.
    One normalized-key groupBy for keepers + one join back; exact
    token counts; one terminal division per source."""
    from mura_spark.functions import text as TXT
    d = table(spark, sf, "documents")
    k = d.select("doc_id", "source",
                 F.size(TXT.tokens(F.col("text"))).alias("toks"),
                 F.md5(TXT.normalize(F.col("text"))).alias("ck"))
    keep = k.groupBy("ck").agg(F.min("doc_id").alias("kid"))
    j = (k.join(keep, "ck")
          .select("source", "toks",
                  (F.col("doc_id") == F.col("kid")).cast("int")
                   .alias("iskeep")))
    kept_toks = F.sum(F.when(F.col("iskeep") == 1, F.col("toks"))
                       .otherwise(0))
    sav = (F.floor((F.lit(1.0) - kept_toks.cast("double")
                    / F.sum("toks").cast("double"))
                   * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    return (j.groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("iskeep").cast("bigint").alias("n_kept"),
                  F.sum("toks").alias("tokens_total"),
                  kept_toks.alias("tokens_kept"),
                  sav.alias("savings_micro")))


@q("sample_negative_pairs",
   "WITH np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_parts FROM part), "
   "pos AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p "
   "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey), "
   "cust AS (SELECT DISTINCT c FROM pos), "
   "cand AS (SELECT cust.c, j, "
   f"({sql_hash48(chr(39) + 'neg|' + chr(39) + ' || CAST(cust.c AS VARCHAR) || ' + chr(39) + '|' + chr(39) + ' || CAST(j AS VARCHAR)')}) "
   "% (SELECT n_parts FROM np) AS p "
   "FROM cust CROSS JOIN (SELECT CAST(i AS INT) AS j "
   "FROM range(0, 5) t(i))), "
   "neg AS (SELECT cand.c, cand.p FROM cand "
   "LEFT JOIN pos ON cand.c = pos.c AND cand.p = pos.p "
   "WHERE pos.c IS NULL), "
   "pp AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n_pos FROM pos "
   "GROUP BY 1), "
   "nn AS (SELECT c, CAST(COUNT(DISTINCT p) AS BIGINT) AS n_neg "
   "FROM neg GROUP BY 1) "
   "SELECT pp.c AS custkey, pp.n_pos, "
   "COALESCE(nn.n_neg, CAST(0 AS BIGINT)) AS n_neg "
   "FROM pp LEFT JOIN nn ON pp.c = nn.c")
def sample_negative_pairs(spark, sf):
    """Deterministic negative sampling for implicit-feedback training
    (customer, part) pairs: 5 hash-generated candidate parts per
    customer, anti-joined against true purchases — the
    recommendation-pipeline step that usually leaks RNG
    nondeterminism into training data; here the MD5 candidate stream
    is reproducible across engines and retries. One interactions
    rollup + one anti-join; candidates never materialize beyond
    5×|customers| rows."""
    from mura_spark.functions.hashing import md5_hash48
    o = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    np_ = table(spark, sf, "part").agg(
        F.count(F.lit(1)).alias("n_parts"))
    pos = (o.join(li, o["o_orderkey"] == li["l_orderkey"])
            .select(F.col("o_custkey").alias("c"),
                    F.col("l_partkey").alias("p")).distinct())
    cust = pos.select("c").distinct()
    j = o.sparkSession.range(0, 5).select(F.col("id").cast("int")
                                          .alias("j"))
    cand = (cust.crossJoin(F.broadcast(j))
                .crossJoin(F.broadcast(np_))
                .select("c", (md5_hash48(
                    F.concat(F.lit("neg|"),
                             F.col("c").cast("string"),
                             F.lit("|"),
                             F.col("j").cast("string")))
                    % F.col("n_parts")).alias("p")))
    neg = cand.join(pos, ["c", "p"], "left_anti")
    pp = pos.groupBy("c").agg(F.count(F.lit(1)).alias("n_pos"))
    nn = neg.groupBy("c").agg(F.countDistinct("p").alias("n_neg"))
    return (pp.join(nn, "c", "left")
              .select(F.col("c").alias("custkey"), "n_pos",
                      F.coalesce("n_neg", F.lit(0).cast("bigint"))
                       .alias("n_neg")))


@q("audit_split_leakage",
   f"WITH sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s, "
   f"CASE WHEN ({sql_hash48('CAST(doc_id AS VARCHAR)')}) % 1000 < 800 "
   "THEN 1 ELSE 0 END AS tr FROM documents), "
   "trn AS (SELECT DISTINCT s FROM sh WHERE tr = 1), "
   "tst AS (SELECT DISTINCT s FROM sh WHERE tr = 0), "
   "m AS (SELECT CAST((SELECT COUNT(*) FROM tst) AS BIGINT) "
   "AS n_test_shingles, "
   "CAST((SELECT COUNT(*) FROM tst JOIN trn USING (s)) AS BIGINT) "
   "AS n_leaked) "
   "SELECT n_test_shingles, n_leaked, "
   "CASE WHEN n_test_shingles > 0 THEN "
   "CAST(floor(CAST(n_leaked AS DOUBLE) "
   "/ CAST(n_test_shingles AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) "
   "END AS leakage_micro FROM m")
def audit_split_leakage(spark, sf):
    """Train/test contamination measurement for the NAIVE hash split:
    what fraction of the test half's distinct 3-gram shingles also
    appear in train? — the number that justifies leak-safe
    (cluster-aware) splitting (sample_split_leak_safe) over row
    hashing whenever near-dups exist. One shingle pass, two distinct
    sets, one semi-join count."""
    from mura_spark.operators.dedup import shingle_sets
    from mura_spark.operators.sampling import hash_bucket
    d = table(spark, sf, "documents")
    sh = (shingle_sets(d, "doc_id", "text")
          .select("doc_id", F.explode("shset").alias("s"),
                  (hash_bucket(F.col("doc_id")) < 800).alias("tr")))
    trn = sh.filter("tr").select("s").distinct()
    tst = sh.filter(~F.col("tr")).select("s").distinct()
    leaked = tst.join(trn, "s").agg(
        F.count(F.lit(1)).alias("n_leaked"))
    m = (tst.agg(F.count(F.lit(1)).alias("n_test_shingles"))
            .crossJoin(F.broadcast(leaked)))
    rate = (F.floor(F.col("n_leaked").cast("double")
                    / F.col("n_test_shingles").cast("double")
                    * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    return m.select("n_test_shingles", "n_leaked",
                    F.when(F.col("n_test_shingles") > 0, rate)
                     .alias("leakage_micro"))
