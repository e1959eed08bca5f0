"""Top-principal-component extraction over an embedding column —
distributed exact-moment Gramian + bounded driver-side power iteration.

North-star extension (embedding analytics): the dominant PCA direction
is the workhorse diagnostic for embedding-space health (anisotropy /
"rogue dimension" detection, whitening preconditioners, ABTT-style
common-component removal) and the axis most worth plotting first.

Architecture is the standard one for tall-skinny PCA at scale — the one
Spark MLlib's ``computePrincipalComponents`` itself uses: the d×d
second-moment (Gramian) matrix is reduced DISTRIBUTED (here: an
Arrow-batched per-partition kernel emitting d² fixed-point partial sums,
one bounded groupBy — the corpus never shuffles), then the tiny d×d
eigenproblem is solved on the driver (d² doubles ≈ 32 KB at d = 64; the
same bounded-collect posture as similarity.py's IVF centroid reduce).
Power iteration with a fixed round count stands in for a full
eigensolver so the arithmetic is replayable in SQL.

Cross-engine determinism (oracle-hashable):
- per-row second moments quantize ``⌊xᵢ·xⱼ·10⁹⌋`` to int64 BEFORE any
  summation — integer partial sums are order-independent, and the
  double multiply + floor is IEEE-identical in numpy, Spark, and DuckDB
  (a double→DECIMAL cast is NOT — see similarity.label_centroids);
- the power iteration re-quantizes every matrix-vector term
  ``⌊cov·v·10¹²⌋`` and every norm term ``⌊y²·10¹²⌋`` the same way, so
  the 64-term sums are exact integers on both engines;
- the sign convention (component with the largest |loading| made
  positive, ties to the lowest dimension) pins the eigenvector's
  otherwise-arbitrary orientation.

Reference scoping: the reference engine has no vector surface at all
(its only types are the scalar Arrow primitives,
/root/reference/src/planner/queryplanner.rs:150-166); this module is
pure extension territory per SURVEY.md §7.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixed-point scales: 1e9 for raw-moment terms (|x| ≲ 30 stays exact in
#: double·scale), 1e12 for unit-scale iteration terms.
_MOM_FP = 1e9
_IT_FP = 1e12


def _moment_partials(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Per-partition fixed-point Gramian partials: rows ``(i, j, q, n)``
    with j ≥ 0 second moments Σ⌊xᵢxⱼ·10⁹⌋, j = −1 first moments
    Σ⌊xᵢ·10⁹⌋, and one (−1, −1, 0, row-count) row per partition.
    Emits d² + d + 1 rows per partition — the only shuffle downstream is
    over those bounded partials."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        acc2 = np.zeros((dim, dim), dtype=np.int64)
        acc1 = np.zeros(dim, dtype=np.int64)
        cnt = 0
        for pdf in batches:
            vecs = [v for v in pdf[vec_col] if v is not None]
            for lo in range(0, len(vecs), 512):
                x = np.stack(vecs[lo:lo + 512]).astype(np.float64)
                acc2 += np.floor(
                    (x[:, :, None] * x[:, None, :]) * _MOM_FP
                ).astype(np.int64).sum(axis=0)
                acc1 += np.floor(x * _MOM_FP).astype(np.int64).sum(axis=0)
                cnt += x.shape[0]
        ii, jj = np.meshgrid(np.arange(dim), np.arange(dim), indexing="ij")
        yield pd.DataFrame({
            "i": np.concatenate([ii.ravel(), np.arange(dim), [-1]]),
            "j": np.concatenate([jj.ravel(), np.full(dim, -1), [-1]]),
            "q": np.concatenate([acc2.ravel(), acc1, [0]]),
            "n": np.concatenate([np.zeros(dim * dim + dim, np.int64),
                                 [cnt]]),
        })

    return df.select(vec_col).mapInPandas(
        kernel, schema="i int, j int, q long, n long")


def top_principal_component(df: DataFrame, vec_col: str = "embedding",
                            dim: int = 64,
                            iterations: int = 3) -> DataFrame:
    """First principal component of the ``vec_col`` distribution:
    ``(dim: int, loading_micro: bigint)`` — one row per dimension, the
    unit eigenvector of the covariance matrix after ``iterations``
    deterministic power-iteration rounds from the all-ones start,
    sign-normalized and micro-floored.

    The distributed part reduces the corpus to d²+d+1 exact fixed-point
    sums (:func:`_moment_partials`); the driver then replays the
    quantized iteration on the 64×64 matrix — bounded work, mirrored
    term-for-term by :func:`sql_top_principal_component`.
    """
    spark = df.sparkSession
    schema = "dim int, loading_micro long"
    cov, _ = _covariance(df, vec_col, dim)
    if cov is None:  # empty input: 0 rows (the twin's CTEs are empty too)
        return spark.createDataFrame([], schema)
    v, _ = _power_vector(cov, dim, iterations)
    rows = [(i, None if v is None
             else int(math.floor(v[i] * 1e6 + 0.5))) for i in range(dim)]
    return spark.createDataFrame(rows, schema)


def _covariance(df: DataFrame, vec_col: str, dim: int):
    """Distributed exact-moment (covariance matrix, mean vector) as
    float64 ndarrays (the bounded d²-row collect shared by the PCA
    diagnostics)."""
    import numpy as np

    parts = (_moment_partials(df.filter(F.col(vec_col).isNotNull()),
                              vec_col, dim)
             .groupBy("i", "j")
             .agg(F.sum("q").alias("q"), F.sum("n").alias("n"))
             .collect())  # bounded: d² + d + 1 rows
    s2 = np.zeros((dim, dim), dtype=np.int64)
    s1 = np.zeros(dim, dtype=np.int64)
    n = 0
    for r in parts:
        if r["i"] < 0:
            n = r["n"]
        elif r["j"] < 0:
            s1[r["i"]] = r["q"]
        else:
            s2[r["i"], r["j"]] = r["q"]
    if n == 0:
        return None, None  # empty / all-NULL input
    n_d = float(n)
    mean = (s1.astype(np.float64) / _MOM_FP) / n_d
    cov = (s2.astype(np.float64) / _MOM_FP) / n_d \
        - mean[:, None] * mean[None, :]
    return cov, mean


def _power_vector(cov, dim: int, iterations: int):
    """Quantized power iteration (the SQL-replayable arithmetic):
    returns (sign-normalized unit eigenvector estimate, cov)."""
    import numpy as np

    v = np.ones(dim, dtype=np.float64)
    for _ in range(iterations):
        yq = np.floor((cov * v[None, :]) * _IT_FP) \
               .astype(np.int64).sum(axis=1)
        y = yq.astype(np.float64) / _IT_FP
        nq = np.floor((y * y) * _IT_FP).astype(np.int64).sum()
        if nq == 0:
            # zero-variance corpus: no principal direction exists.
            # NULL loadings (the suite's degenerate convention) — the
            # SQL twin's nrm > 0 guard propagates the same NULLs.
            return None, cov
        v = y / math.sqrt(nq / _IT_FP)
    lead = min(range(dim), key=lambda i: (-abs(v[i]), i))
    if v[lead] < 0.0:
        v = v * -1.0
    return v, cov


def explained_variance(df: DataFrame, vec_col: str = "embedding",
                       dim: int = 64, iterations: int = 3) -> DataFrame:
    """Anisotropy summary of the embedding distribution: one row
    ``(lambda1_micro, trace_micro, evr_micro)`` — the top eigenvalue
    (Rayleigh quotient vᵀCv of the power-iterated component), the total
    variance (trace of C), and their ratio. A high ratio is the classic
    "rogue dimension / anisotropic cone" smell that motivates whitening
    or common-component removal before cosine retrieval.

    Same bounded plan as :func:`top_principal_component`; every sum
    re-quantizes per term so the SQL twin replays it exactly.
    """
    import numpy as np

    spark = df.sparkSession
    schema = "lambda1_micro long, trace_micro long, evr_micro long"
    cov, _ = _covariance(df, vec_col, dim)
    if cov is None:  # empty input: one all-NULL row (aggregates over
        # the twin's empty CTEs also emit one NULL row)
        return spark.createDataFrame([(None, None, None)], schema)
    v, cov = _power_vector(cov, dim, iterations)
    tr_q = np.floor(np.diag(cov) * _IT_FP).astype(np.int64).sum()
    tr = float(tr_q) / _IT_FP
    if v is None:  # zero variance: trace is a valid 0, the rest NULL
        return spark.createDataFrame(
            [(None, int(math.floor(tr * 1e6 + 0.5)), None)], schema)
    lam_q = np.floor(((v[:, None] * cov) * v[None, :]) * _IT_FP) \
              .astype(np.int64).sum()
    lam = float(lam_q) / _IT_FP
    row = (int(math.floor(lam * 1e6 + 0.5)),
           int(math.floor(tr * 1e6 + 0.5)),
           int(math.floor(lam / tr * 1e6 + 0.5)))
    return spark.createDataFrame([row], schema)


def sql_top_principal_component(table: str = "embeddings",
                                vec_col: str = "embedding",
                                dim: int = 64,
                                iterations: int = 3) -> str:
    """DuckDB twin of :func:`top_principal_component` — identical
    quantize-then-sum arithmetic, iterations unrolled as CTEs."""
    ctes, prev = _pca_ctes(table, vec_col, dim, iterations)
    ctes.append(f"mx AS (SELECT v FROM {prev} "
                f"ORDER BY abs(v) DESC, i ASC LIMIT 1)")
    return ("WITH " + ", ".join(ctes)
            + f" SELECT CAST({prev}.i - 1 AS INT) AS dim, "
            f"CAST(floor({prev}.v * (CASE WHEN mx.v < 0.0 THEN -1.0 "
            f"ELSE 1.0 END) * 1000000.0 + 0.5) AS BIGINT) "
            f"AS loading_micro FROM {prev} CROSS JOIN mx")


def sql_explained_variance(table: str = "embeddings",
                           vec_col: str = "embedding",
                           dim: int = 64, iterations: int = 3) -> str:
    """DuckDB twin of :func:`explained_variance` — the PCA CTE chain
    plus per-term-quantized Rayleigh quotient and trace. The sign flip
    cancels exactly inside vᵢ·cᵢⱼ·vⱼ, so no mx CTE is needed."""
    it = f"{_IT_FP:.1f}"
    ctes, prev = _pca_ctes(table, vec_col, dim, iterations)
    ctes.append(
        f"lam AS (SELECT SUM(CAST(floor(((a.v * cov.c) * b.v) * {it}) "
        f"AS BIGINT)) / {it} AS l FROM cov "
        f"JOIN {prev} a ON a.i = cov.i "
        f"JOIN {prev} b ON b.i = cov.j)")
    ctes.append(
        f"tr AS (SELECT SUM(CAST(floor(c * {it}) AS BIGINT)) / {it} "
        f"AS t FROM cov WHERE i = j)")
    return ("WITH " + ", ".join(ctes)
            + " SELECT CAST(floor(l * 1000000.0 + 0.5) AS BIGINT) "
            "AS lambda1_micro, "
            "CAST(floor(t * 1000000.0 + 0.5) AS BIGINT) AS trace_micro, "
            "CAST(floor(l / t * 1000000.0 + 0.5) AS BIGINT) AS evr_micro "
            "FROM lam CROSS JOIN tr")


def _pca_ctes(table: str, vec_col: str, dim: int,
              iterations: int) -> tuple[list[str], str]:
    """Shared CTE chain: fixed-point moments → covariance → unrolled
    quantized power iteration. Returns (ctes, final v-CTE name)."""
    mom = f"{_MOM_FP:.1f}"
    it = f"{_IT_FP:.1f}"
    ctes = [
        f"d AS (SELECT range AS i FROM range(1, {dim + 1}))",
        f"nn AS (SELECT COUNT(*) AS n FROM {table} "
        f"WHERE {vec_col} IS NOT NULL)",
        f"mom AS (SELECT di.i AS i, dj.i AS j, "
        f"SUM(CAST(floor((CAST(e.{vec_col}[di.i] AS DOUBLE) "
        f"* CAST(e.{vec_col}[dj.i] AS DOUBLE)) * {mom}) AS BIGINT)) AS q "
        f"FROM {table} e CROSS JOIN d di CROSS JOIN d dj "
        f"WHERE e.{vec_col} IS NOT NULL GROUP BY 1, 2)",
        f"mn AS (SELECT di.i AS i, "
        f"SUM(CAST(floor(CAST(e.{vec_col}[di.i] AS DOUBLE) * {mom}) "
        f"AS BIGINT)) AS q FROM {table} e CROSS JOIN d di "
        f"WHERE e.{vec_col} IS NOT NULL GROUP BY 1)",
        f"cov AS (SELECT m.i, m.j, "
        f"CAST(m.q AS DOUBLE) / {mom} / CAST(nn.n AS DOUBLE) "
        f"- (CAST(a.q AS DOUBLE) / {mom} / CAST(nn.n AS DOUBLE)) "
        f"* (CAST(b.q AS DOUBLE) / {mom} / CAST(nn.n AS DOUBLE)) AS c "
        f"FROM mom m JOIN mn a ON a.i = m.i JOIN mn b ON b.i = m.j "
        f"CROSS JOIN nn)",
    ]
    prev = None
    for r in range(1, iterations + 1):
        vterm = "1.0" if prev is None else f"{prev}.v"
        join = "" if prev is None else f" JOIN {prev} ON {prev}.i = cov.j"
        ctes.append(
            f"y{r} AS (SELECT cov.i, "
            f"SUM(CAST(floor((cov.c * {vterm}) * {it}) AS BIGINT)) "
            f"/ {it} AS y FROM cov{join} GROUP BY cov.i)")
        ctes.append(
            f"n{r} AS (SELECT sqrt(SUM(CAST(floor((y * y) * {it}) "
            f"AS BIGINT)) / {it}) AS nrm FROM y{r})")
        ctes.append(
            f"v{r} AS (SELECT i, CASE WHEN nrm > 0.0 THEN y / nrm END "
            f"AS v FROM y{r} CROSS JOIN n{r})")
        prev = f"v{r}"
    return ctes, prev


def project_top_pc(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", dim: int = 64,
                   iterations: int = 3) -> DataFrame:
    """PCA as a TRANSFORM: each vector's signed score along the top
    principal component, ``(id_col, pc1_micro)`` with
    score = Σᵢ vᵢ·(xᵢ − μᵢ) — the 1-D curriculum/stratification axis
    (sort by pc1 to sample along the corpus's dominant mode, or clip
    its tails as outliers).

    The component fit is the bounded Gramian + driver iteration
    (:func:`top_principal_component`); the projection itself is a
    narrow Arrow-kernel map with v and μ broadcast as plain arrays —
    zero shuffle, scan-bound at any scale. Per-term ``⌊·10⁹⌋``
    quantization keeps the 64-term row sum exact on both engines.
    """
    import numpy as np
    import pandas as pd

    cov, mean = _covariance(df, vec_col, dim)
    v = None if cov is None else _power_vector(cov, dim, iterations)[0]

    def kernel(batches):
        for pdf in batches:
            keep = pdf[vec_col].notna()
            if v is None:  # zero-variance corpus: NULL scores (the
                # twin's NULL component terms propagate the same way)
                yield pd.DataFrame({
                    id_col: pdf.loc[keep, id_col],
                    "pc1_micro": pd.array([None] * int(keep.sum()),
                                          dtype=pd.Int64Dtype()),
                })
                continue
            x = np.stack(pdf.loc[keep, vec_col]).astype(np.float64) \
                if keep.any() else np.zeros((0, dim))
            q = np.floor((v[None, :] * (x - mean[None, :])) * _MOM_FP) \
                  .astype(np.int64).sum(axis=1)
            score = q.astype(np.float64) / _MOM_FP
            yield pd.DataFrame({
                id_col: pdf.loc[keep, id_col],
                "pc1_micro": np.floor(score * 1e6 + 0.5).astype(np.int64),
            })

    return df.select(id_col, vec_col).mapInPandas(
        kernel, schema=f"{id_col} long, pc1_micro long")


def _signed_component_ctes(ctes: list[str], prev: str) -> None:
    """Append the sign-flipped component (vf) and mean (mu) CTEs shared
    by the projection and residual twins — ONE definition so the sign
    convention / mean quantization cannot drift between them."""
    mom = f"{_MOM_FP:.1f}"
    ctes.append(f"mx AS (SELECT v FROM {prev} "
                f"ORDER BY abs(v) DESC, i ASC LIMIT 1)")
    ctes.append(f"vf AS (SELECT {prev}.i, {prev}.v * (CASE WHEN mx.v "
                f"< 0.0 THEN -1.0 ELSE 1.0 END) AS v "
                f"FROM {prev} CROSS JOIN mx)")
    ctes.append(f"mu AS (SELECT i, CAST(q AS DOUBLE) / {mom} "
                f"/ CAST(nn.n AS DOUBLE) AS m FROM mn CROSS JOIN nn)")


def sql_project_top_pc(table: str = "embeddings", id_col: str = "vec_id",
                       vec_col: str = "embedding", dim: int = 64,
                       iterations: int = 3) -> str:
    """DuckDB twin of :func:`project_top_pc` — the PCA CTE chain plus a
    sign-flipped component relation and a per-term-quantized row dot
    product against the mean-centered vector."""
    mom = f"{_MOM_FP:.1f}"
    ctes, prev = _pca_ctes(table, vec_col, dim, iterations)
    _signed_component_ctes(ctes, prev)
    return ("WITH " + ", ".join(ctes)
            + f" SELECT e.{id_col}, CAST(floor("
            f"SUM(CAST(floor((vf.v * (CAST(e.{vec_col}[vf.i] AS DOUBLE) "
            f"- mu.m)) * {mom}) AS BIGINT)) / {mom} "
            f"* 1000000.0 + 0.5) AS BIGINT) AS pc1_micro "
            f"FROM {table} e CROSS JOIN vf JOIN mu ON mu.i = vf.i "
            f"WHERE e.{vec_col} IS NOT NULL GROUP BY e.{id_col}")


def abtt_residual(df: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding", dim: int = 64,
                  iterations: int = 3) -> DataFrame:
    """All-but-the-top residual energy: per vector, the squared L2 norm
    REMAINING after removing the mean and the top principal component —
    ``(id_col, resid2_micro)``. The post-processing diagnostic behind
    ABTT/common-component removal: a tiny residual means the vector is
    almost entirely the corpus's common direction (near-useless for
    cosine retrieval until the component is stripped).

    By Pythagoras the residual needs no second projection pass:
    ‖x−μ‖² − (v·(x−μ))², with the centered norm quantized per term
    exactly like the projection — the same zero-shuffle Arrow kernel,
    mirrored by :func:`sql_abtt_residual`.
    """
    import numpy as np
    import pandas as pd

    cov, mean = _covariance(df, vec_col, dim)
    v = None if cov is None else _power_vector(cov, dim, iterations)[0]

    def kernel(batches):
        for pdf in batches:
            keep = pdf[vec_col].notna()
            if v is None:
                yield pd.DataFrame({
                    id_col: pdf.loc[keep, id_col],
                    "resid2_micro": pd.array([None] * int(keep.sum()),
                                             dtype=pd.Int64Dtype()),
                })
                continue
            x = np.stack(pdf.loc[keep, vec_col]).astype(np.float64) \
                if keep.any() else np.zeros((0, dim))
            d = x - mean[None, :]
            c2 = np.floor((d * d) * _MOM_FP) \
                   .astype(np.int64).sum(axis=1) \
                   .astype(np.float64) / _MOM_FP
            sq = np.floor((v[None, :] * d) * _MOM_FP) \
                   .astype(np.int64).sum(axis=1) \
                   .astype(np.float64) / _MOM_FP
            resid2 = c2 - sq * sq
            yield pd.DataFrame({
                id_col: pdf.loc[keep, id_col],
                "resid2_micro": np.floor(resid2 * 1e6 + 0.5)
                                  .astype(np.int64),
            })

    return df.select(id_col, vec_col).mapInPandas(
        kernel, schema=f"{id_col} long, resid2_micro long")


def sql_abtt_residual(table: str = "embeddings", id_col: str = "vec_id",
                      vec_col: str = "embedding", dim: int = 64,
                      iterations: int = 3) -> str:
    """DuckDB twin of :func:`abtt_residual` — the projection CTE chain
    plus the per-term-quantized centered norm."""
    mom = f"{_MOM_FP:.1f}"
    ctes, prev = _pca_ctes(table, vec_col, dim, iterations)
    _signed_component_ctes(ctes, prev)
    ctes.append(
        f"rows_ AS (SELECT e.{id_col} AS rid, "
        f"SUM(CAST(floor(((CAST(e.{vec_col}[vf.i] AS DOUBLE) - mu.m) "
        f"* (CAST(e.{vec_col}[vf.i] AS DOUBLE) - mu.m)) * {mom}) "
        f"AS BIGINT)) / {mom} AS c2, "
        f"SUM(CAST(floor((vf.v * (CAST(e.{vec_col}[vf.i] AS DOUBLE) "
        f"- mu.m)) * {mom}) AS BIGINT)) / {mom} AS sq "
        f"FROM {table} e CROSS JOIN vf JOIN mu ON mu.i = vf.i "
        f"WHERE e.{vec_col} IS NOT NULL GROUP BY e.{id_col})")
    return ("WITH " + ", ".join(ctes)
            + f" SELECT rid AS {id_col}, "
            "CAST(floor((c2 - sq * sq) * 1000000.0 + 0.5) AS BIGINT) "
            "AS resid2_micro FROM rows_")
