"""Named-function registry: the executable form of the reference's
``ScalarFunction { name, args, return_type }`` shell
(``/root/reference/src/planner/logicalplan.rs:63-71``), which names zero
concrete functions. Here the library functions register into the Spark
session by name, so SQL text can call them (completing SURVEY.md §3 entry
points 1-2 for function calls).

Expression-backed functions register as **SQL UDFs** (``CREATE TEMPORARY
FUNCTION ... RETURN <expr>``, Spark ≥ 4.0): the body inlines into the
caller's plan and stays inside whole-stage codegen — no Python in the row
path. Only ``mura_shingles`` routes through the Arrow-batched kernel (same
rationale as the dedup pipeline: the HOF expression is the slow path).
SQL-rendering ≡ Column-expression equivalence is pinned in
tests/test_expressions.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession

from mura_spark.functions.text import LANG_STOPWORDS

#: Spark-SQL rendering of functions.text.tokens (kept in lockstep with the
#: Column form and the DuckDB rendering in suite/common.py).
_TOKS = r"split(trim(regexp_replace(lower(t), '\\s+', ' ')), ' ')"


def _stop_count(words: list[str]) -> str:
    arr = "array(" + ", ".join(f"'{w}'" for w in words) + ")"
    return f"size(filter({_TOKS}, x -> array_contains({arr}, x)))"


def _lang_id_sql() -> str:
    scores = {lang: _stop_count(words)
              for lang, words in LANG_STOPWORDS.items()}
    m = "greatest(" + ", ".join(scores.values()) + ")"
    expr = "'und'"
    for lang in sorted(scores, reverse=True):  # earliest code wins ties
        expr = (f"CASE WHEN {m} > 0 AND {scores[lang]} = {m} "
                f"THEN '{lang}' ELSE {expr} END")
    return expr


_DOT = ("aggregate(zip_with(a, b, (x, y) -> cast(x AS double) * "
        "cast(y AS double)), cast(0.0 AS double), (acc, v) -> acc + v)")
_NA = ("sqrt(aggregate(zip_with(a, a, (x, y) -> cast(x AS double) * "
       "cast(y AS double)), cast(0.0 AS double), (acc, v) -> acc + v))")
_NB = ("sqrt(aggregate(zip_with(b, b, (x, y) -> cast(x AS double) * "
       "cast(y AS double)), cast(0.0 AS double), (acc, v) -> acc + v))")

#: name → (argument list, return type, body expression)
SQL_FUNCTIONS: dict[str, tuple[str, str, str]] = {
    "mura_token_count": ("t STRING", "INT", f"size({_TOKS})"),
    "mura_bpe_count": (
        "t STRING", "INT",
        r"size(regexp_extract_all(lower(t), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0))"),
    "mura_fingerprint": (
        "t STRING", "STRING",
        f"md5(concat_ws(' ', array_sort(array_distinct({_TOKS}))))"),
    "mura_content_hash": (
        "t STRING", "BIGINT",
        r"cast(conv(substr(md5(trim(regexp_replace(lower(t), '\\s+', ' ')))"
        r", 1, 12), 16, 10) AS BIGINT)"),
    "mura_lang_id": ("t STRING", "STRING", _lang_id_sql()),
    "mura_cosine": (
        "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>", "DOUBLE",
        f"least(greatest(CASE WHEN {_NA} * {_NB} = 0 THEN 0.0 "
        f"ELSE {_DOT} / ({_NA} * {_NB}) END, -1.0), 1.0)"),
    # seeded portable shuffle key (operators.sampling.shuffle_key): SQL
    # users get the same reproducible training-order permutation.
    "mura_shuffle_key": (
        "k STRING, seed INT", "BIGINT",
        "cast(conv(substr(md5(concat(cast(seed AS STRING), '|', k)), 1, 12)"
        ", 16, 10) AS BIGINT)"),
}


def register_all(spark: SparkSession) -> list[str]:
    """Register every named engine function; returns the registered names."""
    from mura_spark.functions.text import shingle_text_udf

    names = []
    for name, (args, ret, body) in SQL_FUNCTIONS.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({args}) "
                  f"RETURNS {ret} RETURN {body}")
        names.append(name)
    spark.udf.register("mura_shingles", shingle_text_udf(3))
    names.append("mura_shingles")
    spark.udf.register("mura_gmean", _gmean_udf())
    names.append("mura_gmean")
    spark.udtf.register("mura_ngrams", _ngrams_udtf())
    names.append("mura_ngrams")
    return names


def _gmean_udf():
    """Arrow-batched grouped-aggregate UDAF (the executable analog of the
    reference's AggregateFunction shell, logicalplan.rs:72-80, which
    rejects at typing): geometric mean exp(mean(ln x)) of a positive
    series. Series→scalar signature ⇒ GROUPED_AGG eval type; usable from
    both the Column API and SQL GROUP BY once registered."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    def _gmean(v: pd.Series) -> float:
        return float(np.exp(np.log(v.astype("float64")).mean()))

    return pandas_udf(_gmean, "double")


def _ngrams_udtf():
    """Python UDTF (table function — the third shell §2.3 names):
    (pos, ngram) rows of word n-grams, for LATERAL joins in SQL. Row-based
    Python is the slow path by design — the vectorized pipeline form is
    functions.text.shingles / the Arrow shingle kernel; this exists for
    SQL-surface completeness, not the 100 TB hot path."""
    from pyspark.sql.functions import udtf

    import re
    ws = re.compile(r"[ \t\n\x0b\f\r]+")  # compiled once per executor

    @udtf(returnType="pos int, ngram string")
    class MuraNgrams:
        def eval(self, text: str, n: int):
            # same windowing contract as shingle_list/shingles:
            # max(len-n+1, 1) — a document SHORTER than n yields its
            # full text as ONE gram, never zero rows (a SQL LATERAL
            # pipeline must count the same grams as the kernel path);
            # tokenization mirrors normalize() (explicit ASCII
            # whitespace class, not str.split's any-Unicode-space)
            if text is None:
                return  # LATERAL over NULL input joins to no rows
            norm = ws.sub(" ", text.lower()).strip(" ")
            toks = norm.split(" ")
            for i in range(max(len(toks) - n + 1, 1)):
                yield i, " ".join(toks[i:i + n])

    return MuraNgrams
