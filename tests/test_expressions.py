"""Expression-surface tests: the reference's Operator enum, null tests,
casts, and type tables (SURVEY.md §1.3/§2.2)."""

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from mura_spark import expressions as E


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [(1, 10.0, "x", None), (2, 20.0, "y", "v"), (3, None, "x", "w")],
        T.StructType([
            T.StructField("k", T.IntegerType()),
            T.StructField("v", T.DoubleType()),
            T.StructField("s", T.StringType()),
            T.StructField("n", T.StringType()),
        ]))


@pytest.mark.parametrize("op,rhs,expected", [
    ("Eq", 2, [2]), ("NotEq", 2, [1, 3]), ("Lt", 3, [1, 2]),
    ("LtEq", 2, [1, 2]), ("Gt", 1, [2, 3]), ("GtEq", 2, [2, 3]),
])
def test_comparison_operators(df, op, rhs, expected):
    out = df.filter(E.binary_expr(E.col("k"), op, E.lit(rhs)))
    assert sorted(r.k for r in out.collect()) == expected


def test_and_or_not(df):
    cond = E.binary_expr(
        E.binary_expr(E.col("k"), "Gt", E.lit(1)), "And",
        E.binary_expr(E.col("s"), "Eq", E.lit("x")))
    assert [r.k for r in df.filter(cond).collect()] == [3]
    cond_or = E.binary_expr(
        E.binary_expr(E.col("k"), "Eq", E.lit(1)), "Or",
        E.binary_expr(E.col("k"), "Eq", E.lit(3)))
    assert sorted(r.k for r in df.filter(cond_or).collect()) == [1, 3]
    assert sorted(r.k for r in df.filter(E.not_(cond_or)).collect()) == [2]


def test_null_semantics_three_valued(df):
    """NULL comparisons are UNKNOWN → filtered (SQL three-valued logic,
    SURVEY.md §5 item 4)."""
    assert sorted(r.k for r in
                  df.filter(E.binary_expr(E.col("v"), "Gt", E.lit(5))).collect()
                  ) == [1, 2]  # k=3 has v NULL → excluded
    assert [r.k for r in df.filter(E.is_null(E.col("v"))).collect()] == [3]
    assert sorted(r.k for r in
                  df.filter(E.is_not_null(E.col("n"))).collect()) == [2, 3]


def test_cast_ddl_types(df):
    out = df.select(
        E.cast(E.col("k"), "BIGINT").alias("b"),
        E.cast(E.col("k"), "VARCHAR(10)").alias("s2"),
        E.cast(E.col("v"), "INT").alias("i"))
    row = out.filter(F.col("b") == 2).first()
    assert row.b == 2 and row.s2 == "2" and row.i == 20
    assert dict(out.dtypes) == {"b": "bigint", "s2": "string", "i": "int"}


def test_ddl_type_table():
    assert E.ddl_type("SMALLINT") == T.ShortType()
    assert E.ddl_type("double") == T.DoubleType()
    assert E.ddl_type("CHAR(4)") == T.StringType()
    assert E.ddl_type("TIMESTAMP") == T.TimestampType()
    assert E.ddl_type("decimal(12,3)") == T.DecimalType(12, 3)
    with pytest.raises(ValueError):
        E.ddl_type("NOT_A_TYPE")


def test_unsigned_widening_table():
    assert E.SCALAR_TYPES["UInt8"] == T.ShortType()
    assert E.SCALAR_TYPES["UInt16"] == T.IntegerType()
    assert E.SCALAR_TYPES["UInt32"] == T.LongType()
    assert E.SCALAR_TYPES["UInt64"] == T.DecimalType(20, 0)


def test_unknown_operator_rejected(df):
    with pytest.raises(ValueError, match="Plus"):
        E.binary_expr(E.col("k"), "Plus", E.lit(1))


def test_scalar_function_dispatch(df):
    out = df.select(E.scalar_function("upper", E.col("s")).alias("u"))
    assert sorted(r.u for r in out.collect()) == ["X", "X", "Y"]


def test_positional_column(df):
    assert E.col_index(df, 2)._jc.toString().endswith("s")


def test_registered_sql_functions_match_column_forms(spark, sf_dir):
    """SQL-UDF renderings must equal the Column-expression library
    value-for-value on the real corpus (SURVEY §2.2 #10 surface)."""
    from pyspark.sql import functions as F

    from mura_spark.functions import text as TX
    from mura_spark.functions.registry import register_all
    from mura_spark.functions.vectors import cosine
    from mura_spark.suite.common import table

    names = register_all(spark)
    assert "mura_lang_id" in names

    d = table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("reg_docs")
    got = spark.sql(
        "SELECT doc_id, mura_token_count(text) AS tc, mura_bpe_count(text) "
        "AS bc, mura_fingerprint(text) AS fp, mura_content_hash(text) AS ch, "
        "mura_lang_id(text) AS lid, size(mura_shingles(text)) AS nsh "
        "FROM reg_docs")
    want = d.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("tc"),
        TX.bpe_ish_token_count(F.col("text")).alias("bc"),
        TX.fingerprint(F.col("text")).alias("fp"),
        TX.rolling_hash(F.col("text")).alias("ch"),
        TX.lang_id(F.col("text")).alias("lid"),
        F.size(TX.shingles(TX.tokens(F.col("text")), 3)).alias("nsh"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    e = table(spark, sf_dir, "embeddings").limit(50)
    e.createOrReplaceTempView("reg_emb")
    got_c = spark.sql(
        "SELECT a.vec_id AS ia, b.vec_id AS ib, "
        "mura_cosine(cast(a.embedding AS array<double>), "
        "cast(b.embedding AS array<double>)) AS sim "
        "FROM reg_emb a JOIN reg_emb b ON a.vec_id < b.vec_id")
    want_c = (e.alias("a").join(e.alias("b"),
                                F.col("a.vec_id") < F.col("b.vec_id"))
              .select(F.col("a.vec_id").alias("ia"),
                      F.col("b.vec_id").alias("ib"),
                      cosine(F.col("a.embedding"),
                             F.col("b.embedding")).alias("sim")))
    assert (sorted(map(tuple, got_c.collect()))
            == sorted(map(tuple, want_c.collect())))


def test_mura_shuffle_key_matches_column_form(spark, sf_dir):
    from pyspark.sql import functions as F

    from mura_spark.functions.registry import register_all
    from mura_spark.operators.sampling import shuffle_key
    from mura_spark.suite.common import table

    register_all(spark)
    d = table(spark, sf_dir, "documents").select("doc_id")
    d.createOrReplaceTempView("reg_shuf")
    got = spark.sql("SELECT doc_id, mura_shuffle_key(cast(doc_id AS STRING),"
                    " 42) AS k FROM reg_shuf")
    want = d.select("doc_id", shuffle_key(F.col("doc_id"), 42).alias("k"))
    assert (sorted(map(tuple, got.collect()))
            == sorted(map(tuple, want.collect())))


def test_mura_session_construction_emits_no_user_warning(spark):
    """Building a session registers every named function; none of them
    may go through an API that warns on each registration (the grouped
    UDAF's eval type comes from its type hints, not PandasUDFType)."""
    import warnings

    from mura_spark.session import MuraSession
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        MuraSession(spark)
    assert [str(w.message) for w in caught
            if issubclass(w.category, UserWarning)] == []


def test_registered_udaf_and_udtf(spark, sf_dir):
    """The named UDAF (mura_gmean) and UDTF (mura_ngrams) work from SQL:
    gmean equals the numpy reference per group; the lateral UDTF emits
    exactly the adjacent n-grams of each document."""
    import numpy as np

    from mura_spark.functions.registry import register_all
    from mura_spark.suite.common import table
    names = register_all(spark)
    assert "mura_gmean" in names and "mura_ngrams" in names

    ev = table(spark, sf_dir, "events").filter(F.col("value") > 0)
    ev.createOrReplaceTempView("ev_pos_t")
    got = {r["event_type"]: r["g"] for r in spark.sql(
        "SELECT event_type, mura_gmean(CAST(value AS DOUBLE)) AS g "
        "FROM ev_pos_t GROUP BY event_type").collect()}
    rows = ev.select("event_type", "value").collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r["value"])
    for t, vals in by_type.items():
        want = float(np.exp(np.log(np.array(vals, dtype="float64")).mean()))
        assert got[t] == pytest.approx(want, rel=1e-12)

    doc = spark.createDataFrame([(1, "A b  c")], "doc_id long, text string")
    doc.createOrReplaceTempView("one_doc_t")
    out = spark.sql("SELECT t.pos, t.ngram FROM one_doc_t d, "
                    "LATERAL mura_ngrams(d.text, 2) t").collect()
    assert sorted((r["pos"], r["ngram"]) for r in out) == \
        [(0, "a b"), (1, "b c")]
