"""Similarity-search queries over the embeddings table (north-star
extension): brute-force cosine top-k with a DuckDB oracle; the LSH ANN path
is approximate by design and is recall-tested in pytest instead (the driver
records it as a rows-only check).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mura_spark.operators import similarity
from mura_spark.suite.common import registry, table

SPARK_QUERIES, ORACLE_SQL, q = registry()


_K = 10
_NQ = 10  # query vectors: vec_id < 10

_COS = ("list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), "
        "CAST(c.embedding AS DOUBLE[]))")


@q("ann_topk_bruteforce",
   f"SELECT query_id, neighbor_id, rnk AS rank, sim FROM ("
   f"SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS} AS sim, "
   f"ROW_NUMBER() OVER (PARTITION BY q.vec_id "
   f"ORDER BY {_COS} DESC, c.vec_id ASC) AS rnk "
   f"FROM embeddings q JOIN embeddings c ON q.vec_id < {_NQ} "
   f"AND q.embedding IS NOT NULL AND c.embedding IS NOT NULL) "
   f"WHERE rnk <= {_K}")
def ann_topk_bruteforce(spark, sf):
    """Exact cosine top-10 for 10 probe vectors against the full corpus.
    Broadcast probe side; corpus streamed once."""
    e = table(spark, sf, "embeddings")
    queries = (e.filter(F.col("vec_id") < _NQ)
                .select(F.col("vec_id").alias("query_id"), "embedding"))
    return similarity.topk_bruteforce(queries, e, _K)


@q("ann_topk_lsh")  # approximate — rows-only check; recall pinned in pytest
def ann_topk_lsh(spark, sf):
    e = table(spark, sf, "embeddings")
    queries = (e.filter(F.col("vec_id") < _NQ)
                .select(F.col("vec_id").alias("query_id"), "embedding"))
    return similarity.topk_lsh(queries, e, _K)


@q("ann_topk_ivf")  # approximate — rows-only check; recall pinned in pytest
def ann_topk_ivf(spark, sf):
    e = table(spark, sf, "embeddings")
    queries = (e.filter(F.col("vec_id") < _NQ)
                .select(F.col("vec_id").alias("query_id"), "embedding"))
    return similarity.topk_ivf(queries, e, _K)


# Deterministic driver companions for the two approximate ANN paths. Each
# runs the REAL approximate operator in its degenerate-exact configuration
# (LSH: band_bits=0 → one global bucket → exhaustive candidates; IVF:
# n_probe = n_centroids → every inverted list probed), so the band-join /
# centroid-assign machinery is exercised end-to-end while the output is
# provably the exact top-k — hash-checkable against the brute-force oracle.
# The production configurations stay recall-tested in pytest.
@q("ann_topk_lsh_exhaustive",
   f"SELECT query_id, neighbor_id, rnk AS rank, sim FROM ("
   f"SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS} AS sim, "
   f"ROW_NUMBER() OVER (PARTITION BY q.vec_id "
   f"ORDER BY {_COS} DESC, c.vec_id ASC) AS rnk "
   f"FROM embeddings q JOIN embeddings c ON q.vec_id < {_NQ} "
   f"AND q.embedding IS NOT NULL AND c.embedding IS NOT NULL) "
   f"WHERE rnk <= {_K}")
def ann_topk_lsh_exhaustive(spark, sf):
    """topk_lsh in single-bucket mode: every corpus row is a candidate for
    every query, so the result equals exact top-k — the deterministic
    driver row that pins the LSH join/score/rank pipeline."""
    e = table(spark, sf, "embeddings")
    queries = (e.filter(F.col("vec_id") < _NQ)
                .select(F.col("vec_id").alias("query_id"), "embedding"))
    return similarity.topk_lsh(queries, e, _K, n_bands=1, band_bits=0)


@q("ann_topk_ivf_fullprobe",
   f"SELECT query_id, neighbor_id, rnk AS rank, sim FROM ("
   f"SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS} AS sim, "
   f"ROW_NUMBER() OVER (PARTITION BY q.vec_id "
   f"ORDER BY {_COS} DESC, c.vec_id ASC) AS rnk "
   f"FROM embeddings q JOIN embeddings c ON q.vec_id < {_NQ} "
   f"AND q.embedding IS NOT NULL AND c.embedding IS NOT NULL) "
   f"WHERE rnk <= {_K}")
def ann_topk_ivf_fullprobe(spark, sf):
    """topk_ivf probing ALL inverted lists (n_probe = n_centroids): the
    candidate set is the whole corpus regardless of how Lloyd assigned
    cells, so the result equals exact top-k even though centroid refinement
    itself is shuffle-order dependent — the deterministic driver row for
    the IVF seed/refine/assign/join pipeline."""
    e = table(spark, sf, "embeddings")
    queries = (e.filter(F.col("vec_id") < _NQ)
                .select(F.col("vec_id").alias("query_id"), "embedding"))
    return similarity.topk_ivf(queries, e, _K, n_centroids=8, n_probe=8)


# Both engines fold the squared elements left-to-right (Spark F.aggregate
# from 0.0 ≡ DuckDB list_reduce from the first element — 0.0 + s₁ is exact),
# so the norms compare bit-identically.
_SQ_NORM = ("sqrt(list_reduce(list_transform({v}, x -> x * x), "
            "(a, b) -> a + b))")


@q("emb_normalize",
   "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
   "FROM embeddings), "
   f"n AS (SELECT vec_id, v, {_SQ_NORM.format(v='v')} AS norm_before FROM e) "
   "SELECT vec_id, norm_before, "
   "CASE WHEN norm_before = 0 THEN 0.0 ELSE "
   f"{_SQ_NORM.format(v='list_transform(v, x -> x / norm_before)')} "
   "END AS norm_after FROM n")
def emb_normalize(spark, sf):
    """Unit-L2 normalization: per-row HOF arithmetic, zero shuffle — the
    canonical pre-processing step before cosine ANN (post-norm ≈ 1 up to
    float rounding, and bit-identical cross-engine)."""
    from mura_spark.functions import vectors as V
    e = table(spark, sf, "embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        V.norm(emb).alias("norm_before"),
        F.when(V.norm(emb) == 0, F.lit(0.0))
         .otherwise(V.norm(V.normalize_unit(emb))).alias("norm_after"))


@q("emb_quantize_roundtrip",
   "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
   "FROM embeddings), "
   "s AS (SELECT vec_id, v, "
   "list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e), "
   "qq AS (SELECT vec_id, v, scale, "
   "CASE WHEN scale = 0 THEN list_transform(v, x -> 0) "
   "ELSE list_transform(v, x -> greatest(-127, least(127, "
   "CAST(floor(x / scale + 0.5) AS INT)))) END AS q FROM s) "
   "SELECT vec_id, scale, "
   "CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1, "
   "list_max(list_transform(list_zip(q, v), "
   "p -> abs(p[1] * scale - p[2]))) AS max_err FROM qq")
def emb_quantize_roundtrip(spark, sf):
    """Symmetric int8 quantization round-trip: per-vector scale, L1 mass of
    the quantized codes, and max reconstruction error (bounded by scale/2).
    Zero shuffle; runs as one Arrow numpy pass (Spark interprets HOF
    lambdas per element — measured ~8× super-linear at 10× data; the
    kernel is pinned bit-identical to the HOF form in tests). The 4×
    storage cut is what makes shipping embeddings through a 100 TB shuffle
    or into an ANN index affordable."""
    from mura_spark.functions import vectors as V
    e = table(spark, sf, "embeddings")
    return V.quantize_roundtrip_stats(e, "vec_id", "embedding")


@q("emb_label_centroids",
   "WITH ex AS (SELECT label, "
   "unnest(list_zip(CAST(embedding AS DOUBLE[]), "
   "range(0, len(embedding)))) AS z FROM embeddings) "
   "SELECT label, CAST(z[2] AS INT) AS pos, "
   "CAST(SUM(CAST(floor(z[1] * 1e9) AS HUGEINT)) AS DOUBLE) / 1e9 "
   "/ COUNT(*) AS centroid, COUNT(*) AS n FROM ex GROUP BY 1, 2")
def emb_label_centroids(spark, sf):
    """Per-label centroid components via posexplode + one (label, pos)
    groupBy — nano-fixed-point exact component sums (see
    operators.similarity.label_centroids for why not double→decimal:
    float components hit real decimal halfway cases and the engines
    round them differently)."""
    e = table(spark, sf, "embeddings")
    return similarity.label_centroids(e)


_KNN_COS = ("list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), "
            "CAST(c.embedding AS DOUBLE[]))")

@q("emb_knn_classify",
   f"WITH ranked AS (SELECT q.vec_id AS query_id, q.label AS true_label, "
   f"c.label AS nb_label, ROW_NUMBER() OVER (PARTITION BY q.vec_id "
   f"ORDER BY {_KNN_COS} DESC, c.vec_id ASC) AS rnk "
   f"FROM embeddings q JOIN embeddings c "
   f"ON q.vec_id < 50 AND c.vec_id >= 50 "
   f"AND q.embedding IS NOT NULL AND c.embedding IS NOT NULL), "
   "votes AS (SELECT query_id, true_label, nb_label, COUNT(*) AS votes "
   "FROM ranked WHERE rnk <= 10 GROUP BY 1, 2, 3) "
   "SELECT query_id, true_label, nb_label AS pred_label, votes FROM "
   "(SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id "
   "ORDER BY votes DESC, nb_label ASC) AS vr FROM votes) WHERE vr = 1")
def emb_knn_classify(spark, sf):
    """Exact cosine 10-NN majority-vote classification: 50 held-out
    probes against the 450-vector train slice. Broadcast probes, one
    corpus stream, per-partition partial top-k before the ranking window
    — the standard label-propagation / quality-classifier primitive."""
    e = table(spark, sf, "embeddings")
    test = e.filter(F.col("vec_id") < 50)
    train = e.filter(F.col("vec_id") >= 50)
    return similarity.knn_classify(test, train, 10)


def _kmeans_oracle():
    from mura_spark.operators.clustering import sql_kmeans
    return sql_kmeans(k=8, iterations=2)


@q("emb_kmeans_assign", _kmeans_oracle())
def emb_kmeans_assign(spark, sf):
    """Deterministic distributed k-means (k=8, 2 Lloyd iterations,
    k-lowest-id init): cluster assignment + exact fixed-point squared
    distance per vector. Integer-arithmetic design makes an ITERATIVE
    clustering algorithm hash-checkable across engines
    (operators.clustering); per iteration the k-row centroid table
    broadcasts and only component rows shuffle."""
    from mura_spark.operators.clustering import kmeans_assign
    e = table(spark, sf, "embeddings")
    return kmeans_assign(e, "vec_id", "embedding", k=8, iterations=2)


def _pq_oracle():
    from mura_spark.operators.clustering import sql_kmeans_ctes
    c0, f0 = sql_kmeans_ctes(k=8, iterations=2, vec_expr="embedding[1:32]",
                             prefix="p0")
    c1, f1 = sql_kmeans_ctes(k=8, iterations=2, vec_expr="embedding[33:64]",
                             prefix="p1")
    return ("WITH " + ", ".join(c0 + c1)
            + f" SELECT a.vid AS vec_id, a.cluster AS code_0, "
            f"b.cluster AS code_1, a.d + b.d AS qdist "
            f"FROM {f0} a JOIN {f1} b ON a.vid = b.vid")


@q("emb_pq_codes", _pq_oracle())
def emb_pq_codes(spark, sf):
    """Product-quantization encoding (2 sub-spaces × 8 codes, trained by
    the deterministic integer k-means): per-vector code words + total
    distortion, hash-checked end-to-end — codebook training AND encoding
    (operators.clustering.pq_codes)."""
    from mura_spark.operators.clustering import pq_codes
    e = table(spark, sf, "embeddings")
    return pq_codes(e, "vec_id", "embedding", n_subspaces=2, dim=64,
                    k=8, iterations=2)


def _pca_oracle() -> str:
    from mura_spark.operators.pca import sql_top_principal_component
    return sql_top_principal_component("embeddings", "embedding", 64, 3)


@q("emb_top_pc", _pca_oracle())
def emb_top_pc(spark, sf):
    """First principal component of the embedding distribution — the
    anisotropy / rogue-dimension diagnostic and whitening seed. MLlib's
    own tall-skinny shape: Arrow-kernel fixed-point Gramian partials
    (one bounded d²-row shuffle; the corpus never shuffles), driver-side
    quantized power iteration on the 64×64 matrix, every term mirrored
    in the SQL twin (operators.pca.top_principal_component)."""
    from mura_spark.operators.pca import top_principal_component
    e = table(spark, sf, "embeddings")
    return top_principal_component(e, "embedding", dim=64, iterations=3)


def _evr_oracle() -> str:
    from mura_spark.operators.pca import sql_explained_variance
    return sql_explained_variance("embeddings", "embedding", 64, 3)


@q("emb_explained_variance", _evr_oracle())
def emb_explained_variance(spark, sf):
    """Embedding anisotropy summary: top eigenvalue (Rayleigh quotient
    of the power-iterated component), total variance (trace), and the
    explained-variance ratio — the one-number screen for the rogue-
    dimension / anisotropic-cone pathology that degrades cosine
    retrieval. Shares the bounded Gramian plan with emb_top_pc
    (operators.pca.explained_variance)."""
    from mura_spark.operators.pca import explained_variance
    e = table(spark, sf, "embeddings")
    return explained_variance(e, "embedding", dim=64, iterations=3)


def _pca_proj_oracle() -> str:
    from mura_spark.operators.pca import sql_project_top_pc
    return sql_project_top_pc("embeddings", "vec_id", "embedding", 64, 3)


@q("emb_pca_project", _pca_proj_oracle())
def emb_pca_project(spark, sf):
    """PCA as a transform: every vector's signed score along the top
    principal component (mean-centered dot product) — the 1-D axis for
    curriculum ordering, stratified sampling, or tail-clipping along
    the corpus's dominant mode. Fit = the bounded Gramian plan; the
    projection is a zero-shuffle Arrow kernel with the component
    broadcast as a plain array (operators.pca.project_top_pc)."""
    from mura_spark.operators.pca import project_top_pc
    e = table(spark, sf, "embeddings")
    return project_top_pc(e, "vec_id", "embedding", dim=64, iterations=3)


_COS32 = ("list_cosine_similarity(CAST(q.embedding[1:32] AS DOUBLE[]), "
          "CAST(c.embedding[1:32] AS DOUBLE[]))")


_MAT_NQ = 200  # probe panel: all-queries doubles work 25x for the same readout


@q("emb_matryoshka_agreement",
   f"WITH f AS (SELECT query_id, neighbor_id FROM ("
   f"SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
   f"ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {_COS} DESC, "
   f"c.vec_id ASC) AS rnk FROM embeddings q JOIN embeddings c "
   f"ON c.vec_id <> q.vec_id AND q.vec_id < {_MAT_NQ} "
   f"AND q.embedding IS NOT NULL AND c.embedding IS NOT NULL) "
   f"WHERE rnk = 1), "
   f"t AS (SELECT query_id, neighbor_id FROM ("
   f"SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
   f"ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {_COS32} DESC, "
   f"c.vec_id ASC) AS rnk FROM embeddings q JOIN embeddings c "
   f"ON c.vec_id <> q.vec_id AND q.vec_id < {_MAT_NQ} "
   f"AND q.embedding IS NOT NULL AND c.embedding IS NOT NULL) "
   f"WHERE rnk = 1) "
   f"SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, "
   f"CAST(SUM(CASE WHEN f.neighbor_id = t.neighbor_id THEN 1 ELSE 0 END) "
   f"AS BIGINT) AS n_agree, "
   f"CAST(floor(CAST(SUM(CASE WHEN f.neighbor_id = t.neighbor_id "
   f"THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) "
   f"* 1000000.0 + 0.5) AS BIGINT) AS agree_micro "
   f"FROM f JOIN t USING (query_id)")
def emb_matryoshka_agreement(spark, sf):
    """Matryoshka truncation evaluation: for every vector, does the
    exact nearest neighbor under the FIRST-32-DIM prefix agree with the
    full-64-dim neighbor? The standard cost/quality readout before
    shipping truncated embeddings (half the index, how much retrieval
    drift).

    ONE corpus pass scores both metrics per (query, neighbor) pair —
    the broadcast-probe join and the Python-boundary crossing happen
    once instead of once per metric (guide §4.1), and the two ranking
    windows share one partition key, so the pooled candidates shuffle
    once (guide §2.4). Arithmetic is per-metric identical to the former
    two topk_bruteforce passes (same paired-cosine expressions, same
    tie order), and each metric's global top-2 survives the shared
    partial-top-k pool by the subset property — so the picked neighbors,
    and therefore the agreement row, are bit-identical."""
    from pyspark.sql.window import Window

    from mura_spark.functions.quantize import micro
    from mura_spark.functions.vectors import dot, norm
    from mura_spark.operators.similarity import (_drop_null_vectors,
                                                 _paired_cosine,
                                                 _partial_topk_multi)
    from mura_spark.sources.parquet import ensure_min_partitions

    e = _drop_null_vectors(table(spark, sf, "embeddings"), "embedding")
    tr = F.slice("embedding", 1, 32)
    q1 = F.broadcast(
        e.filter(F.col("vec_id") < _MAT_NQ)
         .select(F.col("vec_id").alias("__qid"),
                 F.col("embedding").alias("__qv"),
                 norm(F.col("embedding")).alias("__qn"),
                 tr.alias("__qv32"), norm(tr).alias("__qn32")))
    c = ensure_min_partitions(e).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
        norm(F.col("embedding")).alias("__cn"),
        tr.alias("__cv32"), norm(tr).alias("__cn32"))
    scored = q1.join(c).select(
        F.col("__qid").alias("query_id"), "neighbor_id",
        _paired_cosine(dot(F.col("__qv"), F.col("__cv")),
                       F.col("__qn"), F.col("__cn")).alias("sim_full"),
        _paired_cosine(dot(F.col("__qv32"), F.col("__cv32")),
                       F.col("__qn32"), F.col("__cn32")).alias("sim_tr"))
    pooled = _partial_topk_multi(scored, 2, "query_id",
                                 ["sim_full", "sim_tr"])
    wf = (Window.partitionBy("query_id")
                .orderBy(F.col("sim_full").desc(),
                         F.col("neighbor_id").asc()))
    wt = (Window.partitionBy("query_id")
                .orderBy(F.col("sim_tr").desc(),
                         F.col("neighbor_id").asc()))
    ranked = (pooled.withColumn("rkf", F.row_number().over(wf))
                    .withColumn("rkt", F.row_number().over(wt)))

    # ONE aggregate picks both neighbors (a per-metric filter+groupBy
    # branch pair would re-execute the whole scored join per branch —
    # Catalyst does not reuse the un-exchanged broadcast-join subtree;
    # measured 4 MapInPandas nodes in the branched plan). Ranks are
    # unique per query, so min over the conditional (rank, neighbor)
    # struct IS min_by(neighbor, rank) over the qualifying rows; rows
    # failing the condition contribute NULL, which min skips. The
    # not-null filter reproduces the former inner join's semantics
    # (a query needs a qualifying row under BOTH metrics).
    def qual(rank_col):
        return ((F.col(rank_col) <= 2)
                & (F.col("neighbor_id") != F.col("query_id")))

    j = (ranked.groupBy("query_id")
               .agg(F.min(F.when(qual("rkf"),
                                 F.struct("rkf", "neighbor_id")))
                     .getField("neighbor_id").alias("nb_full"),
                    F.min(F.when(qual("rkt"),
                                 F.struct("rkt", "neighbor_id")))
                     .getField("neighbor_id").alias("nb_tr"))
               .filter(F.col("nb_full").isNotNull()
                       & F.col("nb_tr").isNotNull()))
    agree = F.sum((F.col("nb_full") == F.col("nb_tr")).cast("int")) \
             .cast("bigint")
    return j.agg(F.count(F.lit(1)).alias("n_queries"),
                 agree.alias("n_agree"),
                 micro(agree.cast("double")
                       / F.count(F.lit(1)).cast("double"))
                 .alias("agree_micro"))


def _abtt_oracle() -> str:
    from mura_spark.operators.pca import sql_abtt_residual
    return sql_abtt_residual("embeddings", "vec_id", "embedding", 64, 3)


@q("emb_abtt_residual", _abtt_oracle())
def emb_abtt_residual(spark, sf):
    """All-but-the-top residual energy per vector (‖x−μ‖² minus the
    squared top-component score, by Pythagoras — no second projection
    pass): the ABTT/common-component-removal diagnostic. A tiny
    residual marks a vector dominated by the corpus's common direction.
    Same zero-shuffle Arrow kernel + bounded Gramian fit as
    emb_pca_project (operators.pca.abtt_residual)."""
    from mura_spark.operators.pca import abtt_residual
    e = table(spark, sf, "embeddings")
    return abtt_residual(e, "vec_id", "embedding", dim=64, iterations=3)


@q("emb_hard_negatives",
   f"SELECT query_id, true_label, neg_id, neg_label FROM ("
   "SELECT q.vec_id AS query_id, q.label AS true_label, "
   "c.vec_id AS neg_id, c.label AS neg_label, "
   f"ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {_KNN_COS} DESC, "
   "c.vec_id ASC) AS rnk "
   "FROM embeddings q JOIN embeddings c "
   "ON q.vec_id < 50 AND c.vec_id >= 50 AND q.label <> c.label) "
   "WHERE rnk = 1")
def emb_hard_negatives(spark, sf):
    """Hard-negative mining (contrastive-training batch construction):
    each probe's single most-similar WRONG-label corpus vector — the
    margin-defining negatives a random sampler never finds. Broadcast
    probes, one corpus stream, label filter before any top-k state
    (operators.similarity.hard_negatives)."""
    from mura_spark.operators.similarity import hard_negatives
    e = table(spark, sf, "embeddings")
    return hard_negatives(e.filter(F.col("vec_id") < 50),
                          e.filter(F.col("vec_id") >= 50))


# ------------------------------------------------------- round-6t additions

@q("emb_diversity_mean_cosine",
   "WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
   f"n0 AS (SELECT v, {_SQ_NORM.format(v='v')} AS nrm FROM e), "
   "nz AS (SELECT list_transform(v, x -> x / nrm) AS u FROM n0 "
   "WHERE nrm <> 0), "
   "qq AS (SELECT list_transform(u, x -> CAST(floor(x * 1000000.0 "
   "+ 0.5) AS BIGINT)) AS q FROM nz), "
   "r AS (SELECT q, CAST(list_sum(list_transform(q, x -> x * x)) "
   "AS HUGEINT) AS selfdot FROM qq), "
   "st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs, SUM(selfdot) "
   "AS sd FROM r), "
   "comp AS (SELECT unnest(q) AS x, unnest(range(1, len(q) + 1)) AS d "
   "FROM r), "
   "dims AS (SELECT d, CAST(SUM(x) AS HUGEINT) AS s FROM comp "
   "GROUP BY 1), "
   "s2 AS (SELECT SUM(s * s) AS ss FROM dims) "
   "SELECT n_vecs, CASE WHEN n_vecs > 1 THEN "
   "CAST(ss - sd AS DOUBLE) / (CAST(n_vecs AS DOUBLE) "
   "* CAST(n_vecs - 1 AS DOUBLE)) / 1000000000000.0 END "
   "AS mean_cosine FROM st CROSS JOIN s2")
def emb_diversity_mean_cosine(spark, sf):
    """Exact mean pairwise cosine over ALL embedding pairs in one
    linear pass via the sum-vector identity ‖Σv̂‖² − Σ‖v̂‖² — the corpus
    mode-collapse monitor that never forms a pair join (the O(n²)
    histogram twin is emb_pair_cosine_histogram). Micro-quantized unit
    components make every aggregate exact integer arithmetic
    (operators.similarity.mean_pairwise_cosine)."""
    from mura_spark.operators.similarity import mean_pairwise_cosine
    e = table(spark, sf, "embeddings")
    return mean_pairwise_cosine(e, "embedding")


@q("emb_mutual_nn",
   "WITH best AS (SELECT query_id, neighbor_id, sim FROM ("
   "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
   f"{_COS} AS sim, ROW_NUMBER() OVER (PARTITION BY q.vec_id "
   f"ORDER BY {_COS} DESC, c.vec_id ASC) AS rnk "
   "FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id) "
   "WHERE rnk = 1) "
   "SELECT a.query_id AS id_a, a.neighbor_id AS id_b, a.sim "
   "FROM best a JOIN best b ON a.query_id = b.neighbor_id "
   "AND a.neighbor_id = b.query_id AND a.query_id < a.neighbor_id")
def emb_mutual_nn(spark, sf):
    """Reciprocal best-match pairs over the embedding corpus (b is a's
    top-1 AND a is b's) — the high-precision alignment rule that
    filters out hub vectors; block-pair kernel emits one partial best
    per (vector, block-pair), never O(n²) rows (operators.similarity
    .mutual_nearest_neighbors)."""
    from mura_spark.operators.similarity import mutual_nearest_neighbors
    e = table(spark, sf, "embeddings")
    return mutual_nearest_neighbors(e)


@q("emb_dim_variance",
   "WITH comp AS (SELECT unnest(list_transform(CAST(embedding AS "
   "DOUBLE[]), x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))) AS x, "
   "unnest(range(1, len(embedding) + 1)) AS d FROM embeddings), "
   "m AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n, "
   "SUM(CAST(x AS DECIMAL(38,0))) AS s, "
   "SUM(CAST(x * x AS DECIMAL(38,0))) AS q FROM comp GROUP BY 1) "
   "SELECT CAST(d AS INT) AS dim, n, "
   "CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) AS BIGINT) "
   "AS mean_micro, "
   "CAST(floor(sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE) "
   "- CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / (CAST(n AS DOUBLE) "
   "* CAST(n AS DOUBLE))) + 0.5) AS BIGINT) AS std_micro FROM m")
def emb_dim_variance(spark, sf):
    """Per-dimension mean/std health profile of the embedding space —
    the dead-dimension and bias detector (a dim with std ≈ 0 carries
    no signal; a large |mean| marks the common component ABTT
    removes). Components micro-quantized, moments in DECIMAL(38,0),
    mirrored sqrt; one narrow explode + a 64-group reduction."""
    e = table(spark, sf, "embeddings")
    q = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * 1000000.0 + F.lit(0.5)).cast("bigint"))
    comp = e.select(F.posexplode(q).alias("d0", "x"))
    m = (comp.groupBy((F.col("d0") + 1).cast("int").alias("dim"))
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.col("x").cast("decimal(38,0)")).alias("s"),
                  F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
                   .alias("q")))
    nD, sD, qD = (F.col("n").cast("double"), F.col("s").cast("double"),
                  F.col("q").cast("double"))
    return m.select(
        "dim", "n",
        F.floor(sD / nD + F.lit(0.5)).cast("bigint").alias("mean_micro"),
        F.floor(F.sqrt((nD * qD - sD * sD) / (nD * nD)) + F.lit(0.5))
         .cast("bigint").alias("std_micro"))


def _triplet_oracle() -> str:
    cos_ap = ("list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
              "CAST(p.embedding AS DOUBLE[]))")
    cos_an = ("list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
              "CAST(ng.embedding AS DOUBLE[]))")
    return (
        "WITH lc AS (SELECT CAST(COUNT(DISTINCT label) AS INT) AS nl "
        "FROM embeddings), "
        "r AS (SELECT vec_id, label, embedding, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) "
        "AS BIGINT) AS rn, CAST(COUNT(*) OVER (PARTITION BY label) "
        "AS BIGINT) AS cnt FROM embeddings), "
        "anch AS (SELECT a.vec_id AS aid, a.label AS albl, "
        "a.embedding, a.rn, p.vec_id AS pid FROM r a JOIN r p "
        "ON p.label = a.label AND p.rn = a.rn + 1), "
        "trip AS (SELECT anch.aid, anch.pid, ng.vec_id AS nid, "
        "anch.embedding AS aemb FROM anch CROSS JOIN lc "
        "JOIN r ng ON ng.label = (anch.albl + 1) % lc.nl "
        "AND ng.rn = (anch.rn - 1) % ng.cnt + 1) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_triplets, "
        "CAST(SUM(CASE WHEN cap > can THEN 2 WHEN cap = can THEN 1 "
        "ELSE 0 END) AS BIGINT) AS wins2, "
        "CAST(floor(CAST(SUM(CASE WHEN cap > can THEN 2 "
        "WHEN cap = can THEN 1 ELSE 0 END) AS DOUBLE) "
        "/ (2.0 * CAST(COUNT(*) AS DOUBLE)) * 1000000.0 + 0.5) "
        "AS BIGINT) AS acc_micro FROM (SELECT t.aid, "
        f"{cos_ap.replace('a.embedding', 't.aemb')} AS cap, "
        f"{cos_an.replace('a.embedding', 't.aemb')} AS can "
        "FROM trip t JOIN embeddings p ON p.vec_id = t.pid "
        "JOIN embeddings ng ON ng.vec_id = t.nid)")


@q("emb_triplet_accuracy", _triplet_oracle())
def emb_triplet_accuracy(spark, sf):
    """Triplet accuracy of the embedding space: over deterministic
    (anchor, next-same-label, rank-matched-next-label) triplets, how
    often is the anchor closer to its positive than its negative
    (ties half-credit)? The metric every contrastive training loop
    reports, built without randomness so it oracle-hashes. Linear:
    each anchor joins exactly one positive and one negative."""
    from pyspark.sql import Window
    from mura_spark.functions.vectors import cosine
    e = table(spark, sf, "embeddings")
    nl = e.agg(F.count_distinct("label").cast("int").alias("nl"))
    wr = Window.partitionBy("label").orderBy("vec_id")
    r = e.select("vec_id", "label", "embedding",
                 F.row_number().over(wr).cast("bigint").alias("rn"),
                 F.count(F.lit(1)).over(Window.partitionBy("label"))
                  .cast("bigint").alias("cnt"))
    a = r.select(F.col("vec_id").alias("aid"),
                 F.col("label").alias("albl"),
                 F.col("embedding").alias("aemb"), "rn")
    p = r.select(F.col("label").alias("albl"),
                 (F.col("rn") - 1).alias("rn"),
                 F.col("vec_id").alias("pid"),
                 F.col("embedding").alias("pemb"))
    anch = a.join(p, ["albl", "rn"])
    ng = r.select(F.col("label").alias("nlbl"),
                  F.col("rn").alias("nrn"), F.col("cnt").alias("ncnt"),
                  F.col("vec_id").alias("nid"),
                  F.col("embedding").alias("nemb"))
    trip = (anch.crossJoin(F.broadcast(nl))
                .join(ng, ((F.col("nlbl")
                            == (F.col("albl") + 1) % F.col("nl"))
                           & (F.col("nrn") == (F.col("rn") - 1)
                              % F.col("ncnt") + 1))))
    cap = cosine(F.col("aemb"), F.col("pemb"))
    can = cosine(F.col("aemb"), F.col("nemb"))
    scored = trip.select(
        F.when(cap > can, 2).when(cap == can, 1).otherwise(0)
         .alias("__w"))
    return scored.agg(
        F.count(F.lit(1)).alias("n_triplets"),
        F.sum("__w").cast("bigint").alias("wins2"),
        F.floor(F.sum("__w").cast("double")
                / (F.lit(2.0) * F.count(F.lit(1)).cast("double"))
                * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
         .alias("acc_micro"))


# ------------------------------------------------------- round-6tt addition

def _silhouette_oracle() -> str:
    from mura_spark.operators.clustering import sql_kmeans_ctes
    parts, final = sql_kmeans_ctes(k=8, iterations=2)
    # `s2` (the final-round point x centroid distance frame) is already
    # among the CTEs; rank it for nearest / nearest-other
    scored = final.replace("a", "s")  # a2 -> s2
    extra = [
        f"rk AS (SELECT vid, cluster, d, ROW_NUMBER() OVER "
        f"(PARTITION BY vid ORDER BY d, cluster) AS rn FROM {scored})",
        "own AS (SELECT vid, cluster AS ca, d AS da FROM rk WHERE rn = 1)",
        f"oth AS (SELECT s.vid, MIN(s.d) AS db FROM {scored} s "
        "JOIN own o ON s.vid = o.vid AND s.cluster <> o.ca GROUP BY 1)",
        "sil AS (SELECT o.ca AS cluster, "
        "CASE WHEN greatest(sqrt(CAST(o.da AS DOUBLE)), "
        "sqrt(CAST(t.db AS DOUBLE))) > 0 THEN "
        "CAST(floor((sqrt(CAST(t.db AS DOUBLE)) "
        "- sqrt(CAST(o.da AS DOUBLE))) "
        "/ greatest(sqrt(CAST(o.da AS DOUBLE)), "
        "sqrt(CAST(t.db AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END AS sm "
        "FROM own o JOIN oth t ON o.vid = t.vid)",
    ]
    return ("WITH " + ", ".join(parts + extra)
            + " SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_points, "
            "CAST(floor(CAST(SUM(sm) AS DOUBLE) / COUNT(*) + 0.5) "
            "AS BIGINT) AS mean_silhouette_micro FROM sil GROUP BY 1")


@q("emb_silhouette", _silhouette_oracle())
def emb_silhouette(spark, sf):
    """Clustering-quality readout for the deterministic k-means:
    per-cluster simplified silhouette (distance to own centroid vs
    nearest other centroid, (b−a)/max(a,b)) — the O(n·k) score every
    clustering pipeline reports where the O(n²) classic silhouette is
    unpayable. Exact fixed-point distances; per-row micro-floor before
    the exact-integer mean (operators.clustering.kmeans_silhouette)."""
    from mura_spark.operators.clustering import kmeans_silhouette
    e = table(spark, sf, "embeddings")
    return kmeans_silhouette(e, "vec_id", "embedding", k=8, iterations=2)


@q("emb_centroid_drift",
   "WITH q AS (SELECT vec_id % 2 AS h, "
   "unnest(list_zip(list_transform(CAST(embedding AS DOUBLE[]), "
   "x -> CAST(floor(x * 1000000.0) AS BIGINT)), "
   "range(0, len(embedding)))) AS z FROM embeddings), "
   "c AS (SELECT CAST(z[2] AS INT) AS pos, "
   "SUM(CASE WHEN h = 0 THEN z[1] ELSE 0 END) AS sa, "
   "SUM(CASE WHEN h = 1 THEN z[1] ELSE 0 END) AS sb FROM q GROUP BY 1), "
   "n AS (SELECT CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) "
   "AS BIGINT) AS n_a, "
   "CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) "
   "AS n_b FROM embeddings), "
   "m AS (SELECT CAST(SUM(CAST(sa AS DECIMAL(38,0)) "
   "* CAST(sb AS DECIMAL(38,0))) AS DOUBLE) AS dot, "
   "CAST(SUM(CAST(sa AS DECIMAL(38,0)) * CAST(sa AS DECIMAL(38,0))) "
   "AS DOUBLE) AS naa, "
   "CAST(SUM(CAST(sb AS DECIMAL(38,0)) * CAST(sb AS DECIMAL(38,0))) "
   "AS DOUBLE) AS nbb FROM c) "
   "SELECT n_a, n_b, "
   "CASE WHEN naa > 0 AND nbb > 0 THEN "
   "CAST(floor(dot / (sqrt(naa) * sqrt(nbb)) * 1000000.0 + 0.5) "
   "AS BIGINT) END AS cos_micro FROM m CROSS JOIN n")
def emb_centroid_drift(spark, sf):
    """Embedding-space drift monitor: cosine between the mean vectors
    of two corpus halves (vec_id parity standing in for before/after
    snapshots) — the cheap whole-space check run before re-tuning ANN
    indexes or thresholds after a model/data refresh. Cosine of means
    equals cosine of SUMS (scale-invariance), so the whole statistic
    reduces to exact fixed-point component sums (one 2×dim-cell
    rollup) and a single mirrored double expression."""
    from mura_spark.operators.clustering import quantize_vectors
    e = table(spark, sf, "embeddings")
    q = (quantize_vectors(e, "vec_id", "embedding")
         .select((F.col("__vid") % 2).alias("h"),
                 F.posexplode("__v").alias("pos", "x")))
    c = q.groupBy("pos").agg(
        F.sum(F.when(F.col("h") == 0, F.col("x")).otherwise(0))
         .alias("sa"),
        F.sum(F.when(F.col("h") == 1, F.col("x")).otherwise(0))
         .alias("sb"))
    n = e.agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
         .alias("n_a"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
         .alias("n_b"))
    d38 = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    m = c.agg(F.sum(d38("sa") * d38("sb")).cast("double").alias("dot"),
              F.sum(d38("sa") * d38("sa")).cast("double").alias("naa"),
              F.sum(d38("sb") * d38("sb")).cast("double").alias("nbb"))
    cosm = (F.floor(F.col("dot") / (F.sqrt("naa") * F.sqrt("nbb"))
                    * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    return (m.crossJoin(F.broadcast(n))
             .select("n_a", "n_b",
                     F.when((F.col("naa") > 0) & (F.col("nbb") > 0),
                            cosm).alias("cos_micro")))


# ------------------------------------------------------- round-6jjj addition

def _ivf_recall_oracle() -> str:
    from mura_spark.operators.clustering import sql_kmeans_ctes
    parts, final = sql_kmeans_ctes(k=8, iterations=2)
    cos = ("list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), "
           "CAST(ce.embedding AS DOUBLE[]))")
    extra = [
        f"qa AS (SELECT vid AS qid, cluster FROM {final} "
        f"WHERE vid < {_NQ})",
        f"ivp AS (SELECT qa.qid, c2.vid AS nid FROM qa "
        f"JOIN {final} c2 ON qa.cluster = c2.cluster)",
        "ivs AS (SELECT p.qid, p.nid, ROW_NUMBER() OVER "
        "(PARTITION BY p.qid ORDER BY "
        f"{cos} DESC, p.nid ASC) AS rnk "
        "FROM ivp p JOIN embeddings qe ON qe.vec_id = p.qid "
        "JOIN embeddings ce ON ce.vec_id = p.nid)",
        f"it AS (SELECT qid, nid FROM ivs WHERE rnk <= {_K})",
        "ets AS (SELECT qe.vec_id AS qid, ce.vec_id AS nid, "
        "ROW_NUMBER() OVER (PARTITION BY qe.vec_id ORDER BY "
        f"{cos} DESC, ce.vec_id ASC) AS rnk "
        f"FROM embeddings qe JOIN embeddings ce "
        f"ON qe.vec_id < {_NQ})",
        f"et AS (SELECT qid, nid FROM ets WHERE rnk <= {_K})",
        "nc AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_candidates "
        "FROM ivp GROUP BY 1)",
        "h AS (SELECT et.qid, CAST(COUNT(it.nid) AS BIGINT) AS n_hits "
        "FROM et LEFT JOIN it ON et.qid = it.qid AND et.nid = it.nid "
        "GROUP BY 1)",
    ]
    return ("WITH " + ", ".join(parts + extra)
            + " SELECT h.qid AS query_id, nc.n_candidates, h.n_hits, "
            f"CAST(floor(CAST(h.n_hits AS DOUBLE) / {_K}.0 * 1000000.0 "
            "+ 0.5) AS BIGINT) AS recall_micro "
            "FROM h JOIN nc ON h.qid = nc.qid")


@q("ann_ivf_recall_at10", _ivf_recall_oracle())
def ann_ivf_recall_at10(spark, sf):
    """EXACTLY-measured ANN quality: recall@10 of a probe-1 IVF built
    on the deterministic integer k-means (each query searches only its
    own centroid's inverted list) against the brute-force truth — the
    approximate family's quality metric promoted from a pytest
    envelope to a hash-checked driver row (possible because every
    ingredient — assignment, cosine, tie-break — is deterministic on
    both engines). Recall audits run on a probe sample at 100 TB; the
    candidate generation itself never leaves the cluster-mates
    equi-join."""
    from mura_spark.functions.vectors import cosine
    from mura_spark.operators.clustering import kmeans_assign
    from pyspark.sql import Window
    e = table(spark, sf, "embeddings")
    assign = kmeans_assign(e, "vec_id", "embedding",
                           k=8, iterations=2).select("vec_id", "cluster")
    emb = e.select("vec_id", "embedding")
    qa = (assign.filter(F.col("vec_id") < _NQ)
                .select(F.col("vec_id").alias("qid"), "cluster"))
    ivp = (qa.join(assign.select(F.col("vec_id").alias("nid"),
                                 "cluster"), "cluster")
             .select("qid", "nid"))
    withv = (ivp.join(emb.select(F.col("vec_id").alias("qid"),
                                 F.col("embedding").alias("qe")), "qid")
                .join(emb.select(F.col("vec_id").alias("nid"),
                                 F.col("embedding").alias("ce")), "nid"))
    wq = Window.partitionBy("qid")
    ivs = withv.select(
        "qid", "nid",
        F.row_number().over(
            wq.orderBy(F.desc(cosine(F.col("qe"), F.col("ce"))),
                       F.asc("nid"))).alias("rnk"))
    it = ivs.filter(F.col("rnk") <= _K).select("qid", "nid")
    qs = (e.filter(F.col("vec_id") < _NQ)
           .select(F.col("vec_id").alias("qid"),
                   F.col("embedding").alias("qe")))
    ets = (emb.select(F.col("vec_id").alias("nid"),
                      F.col("embedding").alias("ce"))
              .crossJoin(F.broadcast(qs))
             .select("qid", "nid",
                     F.row_number().over(
                         wq.orderBy(F.desc(cosine(F.col("qe"),
                                                  F.col("ce"))),
                                    F.asc("nid"))).alias("rnk")))
    et = ets.filter(F.col("rnk") <= _K).select("qid", "nid")
    nc = ivp.groupBy("qid").agg(F.count(F.lit(1)).alias("n_candidates"))
    h = (et.alias("e").join(it.alias("i"),
                            (F.col("e.qid") == F.col("i.qid"))
                            & (F.col("e.nid") == F.col("i.nid")),
                            "left")
           .groupBy(F.col("e.qid").alias("query_id"))
           .agg(F.count(F.col("i.nid")).alias("n_hits")))
    rec = (F.floor(F.col("n_hits").cast("double") / F.lit(float(_K))
                   * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    return (h.join(nc.withColumnRenamed("qid", "query_id"), "query_id")
             .select("query_id", "n_candidates", "n_hits",
                     rec.alias("recall_micro")))


def _pq_recall_oracle() -> str:
    from mura_spark.operators.clustering import SCALE, sql_kmeans_ctes
    c0, f0 = sql_kmeans_ctes(k=8, iterations=2, vec_expr="embedding[1:32]",
                             prefix="p0")
    c1, f1 = sql_kmeans_ctes(k=8, iterations=2,
                             vec_expr="embedding[33:64]", prefix="p1")
    sq = ("CAST(list_sum(list_transform(list_zip({a}, {b}), "
          "p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)")
    extra = [
        # full-vector quantized frame for the exact-L2 truth
        f"fq AS (SELECT vec_id AS vid, "
        f"list_transform(CAST(embedding AS DOUBLE[]), "
        f"x -> CAST(floor(x * {SCALE}) AS BIGINT)) AS v "
        f"FROM embeddings WHERE embedding IS NOT NULL)",
        # ADC: query subvectors vs each candidate's CODEBOOK entry
        f"adc AS (SELECT q0.vid AS qid, a0.vid AS nid, "
        f"{sq.format(a='q0.v', b='cc0.v')} "
        f"+ {sq.format(a='q1.v', b='cc1.v')} AS d "
        f"FROM p0q q0 JOIN p1q q1 ON q0.vid = q1.vid "
        f"AND q0.vid < {_NQ} "
        f"JOIN {f0} a0 ON TRUE JOIN {f1} a1 ON a1.vid = a0.vid "
        f"JOIN p0c1 cc0 ON cc0.cluster = a0.cluster "
        f"JOIN p1c1 cc1 ON cc1.cluster = a1.cluster)",
        "pqs AS (SELECT qid, nid, ROW_NUMBER() OVER "
        "(PARTITION BY qid ORDER BY d ASC, nid ASC) AS rnk FROM adc)",
        f"pt AS (SELECT qid, nid FROM pqs WHERE rnk <= {_K})",
        f"exs AS (SELECT q.vid AS qid, c.vid AS nid, "
        f"ROW_NUMBER() OVER (PARTITION BY q.vid ORDER BY "
        f"{sq.format(a='q.v', b='c.v')} ASC, c.vid ASC) AS rnk "
        f"FROM fq q JOIN fq c ON q.vid < {_NQ})",
        f"et AS (SELECT qid, nid FROM exs WHERE rnk <= {_K})",
        "h AS (SELECT et.qid, CAST(COUNT(pt.nid) AS BIGINT) AS n_hits "
        "FROM et LEFT JOIN pt ON et.qid = pt.qid AND et.nid = pt.nid "
        "GROUP BY 1)",
    ]
    return ("WITH " + ", ".join(c0 + c1 + extra)
            + " SELECT qid AS query_id, n_hits, "
            f"CAST(floor(CAST(n_hits AS DOUBLE) / {_K}.0 * 1000000.0 "
            "+ 0.5) AS BIGINT) AS recall_micro FROM h")


@q("ann_pq_adc_recall_at10", _pq_recall_oracle())
def ann_pq_adc_recall_at10(spark, sf):
    """Product-quantization retrieval quality, exactly measured:
    recall@10 of asymmetric-distance scoring (query subvectors against
    each candidate's CODEBOOK reconstruction, 2×8 integer codebooks)
    vs the exact fixed-point L2 truth — the compression/recall trade
    every vector store quotes, as a hash-checked driver row (integer
    distances and tie-breaks on both engines). The codebook is k·dim
    integers (broadcast); ADC itself never touches full candidate
    vectors — the 100 TB read-saving that justifies PQ."""
    from pyspark.sql import Window
    from mura_spark.operators.clustering import (_sqdist, kmeans_assign,
                                                 kmeans_centroids,
                                                 quantize_vectors)
    e = table(spark, sf, "embeddings")
    sub = lambda lo: e.select("vec_id", F.slice(  # noqa: E731
        "embedding", lo, 32).alias("embedding"))
    s0, s1 = sub(1), sub(33)
    # train each subspace codebook ONCE and assign against it —
    # kmeans_assign(centroids=...) is documented exact reuse (k-means
    # here is deterministic), so this halves the Lloyd subtrees (4 -> 2)
    # without touching a single distance or tie-break
    cb0 = kmeans_centroids(s0, "vec_id", "embedding", 8, 2)
    cb1 = kmeans_centroids(s1, "vec_id", "embedding", 8, 2)
    a0 = kmeans_assign(s0, "vec_id", "embedding", 8, 2, centroids=cb0) \
        .select(F.col("vec_id").alias("nid"),
                F.col("cluster").alias("c0"))
    a1 = kmeans_assign(s1, "vec_id", "embedding", 8, 2, centroids=cb1) \
        .select(F.col("vec_id").alias("nid"),
                F.col("cluster").alias("c1"))
    cc0 = cb0.select(F.col("cluster").alias("c0"),
                     F.col("__c").alias("v0"))
    cc1 = cb1.select(F.col("cluster").alias("c1"),
                     F.col("__c").alias("v1"))
    q0 = (quantize_vectors(s0, "vec_id", "embedding")
          .filter(F.col("__vid") < _NQ)
          .select(F.col("__vid").alias("qid"), F.col("__v").alias("q0")))
    q1 = (quantize_vectors(s1, "vec_id", "embedding")
          .filter(F.col("__vid") < _NQ)
          .select(F.col("__vid").alias("qid"), F.col("__v").alias("q1")))
    adc = (a0.join(a1, "nid")
             .crossJoin(F.broadcast(q0.join(q1, "qid")))
             .join(F.broadcast(cc0), "c0").join(F.broadcast(cc1), "c1")
             .select("qid", "nid",
                     (_sqdist(F.col("q0"), F.col("v0"))
                      + _sqdist(F.col("q1"), F.col("v1"))).alias("d")))
    wq = Window.partitionBy("qid")
    pt = (adc.select("qid", "nid",
                     F.row_number().over(
                         wq.orderBy(F.asc("d"), F.asc("nid")))
                      .alias("rnk"))
             .filter(F.col("rnk") <= _K).select("qid", "nid"))
    fq = quantize_vectors(e, "vec_id", "embedding")
    exs = (fq.select(F.col("__vid").alias("nid"),
                     F.col("__v").alias("cv"))
             .crossJoin(F.broadcast(
                 fq.filter(F.col("__vid") < _NQ)
                   .select(F.col("__vid").alias("qid"),
                           F.col("__v").alias("qv"))))
             .select("qid", "nid",
                     F.row_number().over(
                         wq.orderBy(F.asc(_sqdist(F.col("qv"),
                                                  F.col("cv"))),
                                    F.asc("nid"))).alias("rnk")))
    et = exs.filter(F.col("rnk") <= _K).select("qid", "nid")
    h = (et.alias("e").join(pt.alias("p"),
                            (F.col("e.qid") == F.col("p.qid"))
                            & (F.col("e.nid") == F.col("p.nid")),
                            "left")
           .groupBy(F.col("e.qid").alias("query_id"))
           .agg(F.count(F.col("p.nid")).alias("n_hits")))
    rec = (F.floor(F.col("n_hits").cast("double") / F.lit(float(_K))
                   * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"))
    return h.select("query_id", "n_hits", rec.alias("recall_micro"))


def _cluster_balance_oracle() -> str:
    from mura_spark.operators.clustering import sql_kmeans_ctes
    parts, final = sql_kmeans_ctes(k=8, iterations=2)
    extra = [
        f"cs AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS m "
        f"FROM {final} GROUP BY 1)",
        "tt AS (SELECT CAST(SUM(m) AS BIGINT) AS n, "
        "CAST(COUNT(*) AS BIGINT) AS k_used FROM cs)",
        # per-cluster -p·ln p, micro-quantized BEFORE the sum
        "ent AS (SELECT CAST(SUM(CAST(floor(-(CAST(m AS DOUBLE) "
        "/ CAST(tt.n AS DOUBLE)) * ln(CAST(m AS DOUBLE) "
        "/ CAST(tt.n AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)) "
        "AS BIGINT) AS h, MAX(m) AS mx FROM cs CROSS JOIN tt "
        "GROUP BY tt.n)",
    ]
    return ("WITH " + ", ".join(parts + extra)
            + " SELECT tt.k_used, tt.n AS n_vectors, ent.h "
            "AS entropy_micro, "
            "CAST(floor(CAST(ent.mx AS DOUBLE) / CAST(tt.n AS DOUBLE) "
            "* 1000000.0 + 0.5) AS BIGINT) AS max_share_micro "
            "FROM tt CROSS JOIN ent")


@q("emb_cluster_balance", _cluster_balance_oracle())
def emb_cluster_balance(spark, sf):
    """Clustering-health balance check: size entropy and
    largest-cluster share of the deterministic k-means assignment —
    the collapsed-cluster detector (one giant cluster = the index
    degenerates to brute force; many empty ones = wasted codebook).
    Per-cluster −p·ln p micro-quantized before the exact sum; shares
    are one terminal division."""
    from mura_spark.operators.clustering import kmeans_assign
    e = table(spark, sf, "embeddings")
    cs = (kmeans_assign(e, "vec_id", "embedding", 8, 2)
          .groupBy("cluster").agg(F.count(F.lit(1)).alias("m")))
    tt = cs.agg(F.sum("m").alias("n"),
                F.count(F.lit(1)).alias("k_used"))
    p = F.col("m").cast("double") / F.col("n").cast("double")
    hterm = (F.floor(-p * F.log(p) * F.lit(1000000.0) + F.lit(0.5))
              .cast("bigint"))
    ent = (cs.crossJoin(F.broadcast(tt))
             .groupBy("n")
             .agg(F.sum(hterm).alias("h"), F.max("m").alias("mx")))
    share = (F.floor(F.col("mx").cast("double")
                     / F.col("n").cast("double") * F.lit(1000000.0)
                     + F.lit(0.5)).cast("bigint"))
    return (tt.crossJoin(F.broadcast(ent.drop("n")))
              .select("k_used", F.col("n").alias("n_vectors"),
                      F.col("h").alias("entropy_micro"),
                      share.alias("max_share_micro")))
