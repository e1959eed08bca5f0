"""Regression pins for the round-7 self-review findings.

Each test here reproduces a bug the review found in the round-7
additions and asserts the fix:

- ``build_blooms`` ran over pandas batches, where int64-with-nulls
  coerces to float64: a single NULL in a bloom-tracked int column
  crashed every subsequent commit, and values past 2^53 would have
  hashed rounded (false negatives = wrong pruning).
- The streaming sink stamped replay protection under a SHARED default
  key, so a second query (or a fresh-checkpoint restart) delivering a
  matching batchId was silently skipped — data loss. The sink now keys
  its ``txns`` mark on Spark's persistent query id; its replay tests
  live in tests/test_table_stream.py.
- ``changes_feed`` ignored the ``clone`` action, so the feed of a
  cloned table was silently empty; clones also inherited the source's
  txn marks, making the clone skip its own first batches.
- A legal multi-scan BASELINE JPEG (T.81 allows per-component
  sequential scans) crashed with KeyError instead of routing to the
  PIL fallback via NotImplementedError.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mura_spark.sources.table_format import MuraTable


def _df(spark, rows, schema="k long, m int, val string"):
    return spark.createDataFrame(rows, schema)


@pytest.fixture()
def registered(spark):
    from mura_spark.sources.table_stream import register
    register(spark)
    return spark


# ------------------------------------------------------- bloom + NULLs


def test_bloom_column_tolerates_nulls_and_huge_ints(spark, tmp_path):
    path = str(tmp_path / "t")
    big = (1 << 60) + 7  # past float64's 2^53 integer exactness
    df = _df(spark, [(big, 1, "a"), (None, 1, "b"), (5, 2, "c")],
             "k long, m int, val string")
    t = MuraTable.create(spark, path, df, bloom_cols=["k"])
    # a NULL in the bloom column must not break subsequent commits
    t.append(_df(spark, [(None, 3, "d"), (9, 3, "e")],
                 "k long, m int, val string"))
    m = t._manifest()
    assert all(f in m.get("blooms", {}) for f in m["files"])
    # the huge int must be found exactly (float64 coercion would have
    # hashed a rounded value -> unsound pruning)
    hit = t.read(lookup={"k": big}).where(F.col("k") == big)
    assert hit.count() == 1
    assert t.read(lookup={"k": big + 1}).where(
        F.col("k") == big + 1).count() == 0


# -------------------------------------------------------------- clones


def test_clone_drops_ingest_identities(spark, tmp_path):
    src = MuraTable.create(spark, str(tmp_path / "src"),
                           _df(spark, [(1, 1, "a")]))
    src.append(_df(spark, [(2, 2, "b")]), txn=("app", 7))
    dest = src.clone(str(tmp_path / "dst"))
    assert "txns" not in dest._manifest()
    # the clone accepts the txn ids the source already consumed
    dest.append(_df(spark, [(3, 3, "c")]), txn=("app", 1))
    assert dest.row_count() == 3


def test_changes_feed_covers_clone_snapshot(spark, tmp_path):
    src = MuraTable.create(spark, str(tmp_path / "src"),
                           _df(spark, [(1, 1, "a"), (2, 2, "b")]))
    dest = src.clone(str(tmp_path / "dst"))
    feed = dest.changes_feed(0)
    got = sorted((r.k, r._change_type, r._commit_version)
                 for r in feed.collect())
    assert got == [(1, "insert", 1), (2, "insert", 1)]


def test_cdf_stream_reader_covers_clone(registered, tmp_path):
    spark = registered
    src = MuraTable.create(spark, str(tmp_path / "src"),
                           _df(spark, [(1, 1, "a")]))
    src.clone(str(tmp_path / "dst"))
    out = str(tmp_path / "feed")
    (spark.readStream.format("mura_table")
     .option("path", str(tmp_path / "dst"))
     .option("readChangeFeed", "true").load()
     .writeStream.format("parquet").option("path", out)
     .option("checkpointLocation", str(tmp_path / "ckpt"))
     .trigger(availableNow=True).start().awaitTermination(120))
    assert [(r.k, r._change_type) for r in spark.read.parquet(out)
            .collect()] == [(1, "insert")]


# ----------------------------- adversarial pass on this session's fixes


def test_sql_rewrite_handles_backslash_escaped_literals(spark, tmp_path):
    from mura_spark import MuraSession
    ms = MuraSession(spark)
    MuraTable.create(spark, str(tmp_path / "t"),
                     _df(spark, [(1, 1, "a")]))
    ms.create_external_table("bs_t", str(tmp_path / "t"),
                             file_type="mura")
    got = ms.sql(
        "SELECT 'don\\'t read bs_t VERSION AS OF 1 twice' AS msg"
    ).first()
    assert got.msg == "don't read bs_t VERSION AS OF 1 twice"


def test_stream_sink_refuses_mid_stream_constraint(registered, tmp_path):
    from mura_spark.sources.table_stream import _TableStreamWriter
    spark = registered
    dst = str(tmp_path / "dst")
    t = MuraTable.create(spark, dst, _df(spark, [(1, 1, "a")]))
    from pyspark.sql.types import _parse_datatype_string
    w = _TableStreamWriter(
        _parse_datatype_string("k long, m int, val string"),
        {"path": dst, "checkpointlocation": str(tmp_path / "ck")})
    t.add_constraint("k_pos", "k > 0")
    with pytest.raises(ValueError, match="added to .* while this"):
        w.commit([], 0)


def test_conformal_empty_calibration_matches_oracle(spark, tmp_path):
    """All documents landing in the evaluation half (empty calibration)
    must yield ONE row with the cover-everything convention in BOTH
    engines — the Spark side used to emit zero rows."""
    import duckdb
    from mura_spark.operators.sampling import hash_bucket
    # find doc ids whose hash bucket is >= 500 (evaluation half)
    cand = spark.range(0, 400).select(
        F.col("id"), hash_bucket(F.col("id")).alias("b"))
    ids = [r.id for r in cand.where("b >= 500").limit(12).collect()]
    assert len(ids) >= 8
    rows = [(int(i), "some plain text for scoring here", "en", "s", 33)
            for i in ids]
    out = str(tmp_path / "mini")
    (spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
        .coalesce(1).write.parquet(f"{out}/documents.parquet"))
    from mura_spark.suite import ORACLE_SQL, SPARK_QUERIES
    got = SPARK_QUERIES["text_conformal_threshold"](spark, out).collect()
    assert len(got) == 1
    r = got[0]
    assert r.threshold_nc is None
    assert r.n_test == len(ids) and r.n_covered == len(ids)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{out}/documents.parquet/*.parquet'")
    exp = con.execute(ORACLE_SQL["text_conformal_threshold"]).fetchall()
    assert len(exp) == 1
    assert (r.n_test, r.n_covered) == (exp[0][3], exp[0][4])


# ------------------------------- core-library audit (pass 7) findings


def test_text_ratios_null_on_empty_text(spark):
    """One empty document must not abort a corpus-wide quality scan
    under ANSI (DIVIDE_BY_ZERO); NULL matches the oracle's 0/0."""
    from mura_spark.functions.text import digit_ratio, punct_ratio
    df = spark.createDataFrame([("",), ("a1b!",)], "text string")
    rows = df.select(punct_ratio(F.col("text")).alias("p"),
                     digit_ratio(F.col("text")).alias("d")).collect()
    assert rows[0].p is None and rows[0].d is None
    assert rows[1].p == 0.25 and rows[1].d == 0.25


def test_skyline_ignores_null_coordinates(spark):
    from mura_spark.operators.skyline import skyline_min_max
    df = spark.createDataFrame(
        [(1, None, 100.0), (2, 0.0, 50.0), (3, 5.0, 200.0)],
        "id long, x double, y double")
    got = sorted((r.x, r.y) for r in
                 skyline_min_max(df, "x", "y").collect())
    # (0.0, 50) is a genuine Pareto point; the NULL-x cell must
    # neither dominate it nor appear in the output
    assert got == [(0.0, 50.0), (5.0, 200.0)]


def test_catalog_fixes_ns_timestamps_in_partitioned_dirs(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from mura_spark import MuraSession
    base = tmp_path / "t" / "part=a"
    base.mkdir(parents=True)
    tbl = pa.table({"ts": pa.array([1_700_000_000_000_000_000],
                                   type=pa.timestamp("ns")),
                    "v": pa.array([1])})
    pq.write_table(tbl, str(base / "f.parquet"))
    ms = MuraSession(spark)
    ms.create_external_table("nspart_t", str(tmp_path / "t"))
    row = ms.sql("SELECT ts FROM nspart_t").first()
    import datetime
    assert isinstance(row.ts, datetime.datetime)  # not a raw nano long


def test_mura_ngrams_udtf_matches_kernel_contract(spark):
    from mura_spark.functions.registry import register_all
    register_all(spark)
    # shorter than n -> the full text as ONE gram, like shingle_list
    rows = spark.sql("SELECT * FROM mura_ngrams('hello', 3)").collect()
    assert [(r.pos, r.ngram) for r in rows] == [(0, "hello")]
    rows = spark.sql(
        "SELECT * FROM mura_ngrams('A  b\tc d', 3)").collect()
    assert [r.ngram for r in rows] == ["a b c", "b c d"]


def test_col_index_is_ordinal(spark):
    from mura_spark.expressions import col_index
    df = spark.createDataFrame([(1, 2)], ["x", "a.b"])
    # a name-parsing resolution would read `a`.`b` as struct access
    assert df.select(col_index(df, 1).alias("v")).first().v == 2


def test_pq_adc_scores_against_assignment_codebook(spark):
    """adist must measure to the c_{N-1} codebook the codes were
    assigned under, so a vector equal to its centroid has adist 0."""
    from mura_spark.operators.clustering import (kmeans_assign,
                                                 kmeans_centroids,
                                                 pq_topk_adc)
    import random
    rng = random.Random(3)
    rows = [(i, [rng.uniform(0, 1) for _ in range(8)])
            for i in range(40)]
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<double>")
    out = pq_topk_adc(emb.limit(3).withColumnRenamed(
                          "vec_id", "query_id"),
                      emb, 5, n_subspaces=2, dim=8, n_codes=4,
                      iterations=2)
    got = out.collect()
    assert {r.query_id for r in got} == {0, 1, 2}
    # cross-check one subspace: the LUT distance of a corpus row to
    # its own code's centroid equals kmeans_assign's reported dist
    sub = emb.select("vec_id", F.slice("embedding", 1, 4)
                     .alias("embedding"))
    a = kmeans_assign(sub, "vec_id", "embedding", 4, 2)
    c = kmeans_centroids(sub, "vec_id", "embedding", 4, 2)
    from mura_spark.operators.clustering import (_sqdist,
                                                 quantize_vectors)
    q = quantize_vectors(sub, "vec_id", "embedding")
    j = (a.join(q, a["vec_id"] == q["__vid"])
          .join(c, "cluster")
          .select("dist", _sqdist(F.col("__v"), F.col("__c"))
                  .alias("lut_d")))
    assert all(r.dist == r.lut_d for r in j.collect())


# ------------------------------------------------- jpeg multi-scan guard


def _single_component_sos(payload: bytes) -> bytes:
    """Rewrite the SOS segment of a 3-component baseline JPEG to claim
    only its first component — the shape of a (legal) multi-scan file's
    first scan."""
    i = payload.find(b"\xff\xda")
    assert i > 0
    ln = int.from_bytes(payload[i + 2:i + 4], "big")
    seg = payload[i + 4:i + 2 + ln]
    ns = seg[0]
    assert ns == 3
    first = seg[1:3]
    tail = seg[1 + 2 * ns:]  # ss, se, ahal
    new = bytes([1]) + first + tail
    return (payload[:i + 2] + (len(new) + 2).to_bytes(2, "big")
            + new + payload[i + 2 + ln:])


def test_multi_scan_baseline_raises_not_implemented():
    from mura_spark.multimodal.jpeg import decode_jpeg, encode_jpeg
    rgb = np.zeros((8, 8, 3), dtype=np.uint8)
    rgb[:, :, 0] = 200
    payload = _single_component_sos(encode_jpeg(rgb))
    with pytest.raises(NotImplementedError, match="multi-scan"):
        decode_jpeg(payload)


def test_grayscale_sampling_factors_ignored():
    """T.81: a single-component scan is non-interleaved — a grayscale
    SOF0 declaring h=v=2 (legal; e.g. a color transcode that kept its
    sampling factors) must decode like h=v=1, not as 2x2 MCU groups
    the stream never encoded."""
    from mura_spark.multimodal.jpeg import decode_jpeg, encode_jpeg
    rng = np.random.RandomState(7)
    gray = rng.randint(0, 256, (20, 12)).astype(np.uint8)  # not %16
    payload = bytearray(encode_jpeg(gray, quality=95))
    i = bytes(payload).find(b"\xff\xc0")
    assert i > 0 and payload[i + 11] == 0x11
    base = decode_jpeg(bytes(payload))
    payload[i + 11] = 0x22  # claim h=v=2 on the only component
    assert np.array_equal(decode_jpeg(bytes(payload)), base)


# ------------------------------------------- RGB normalization (alpha)


def test_ahash_ignores_alpha_and_16bit_scales(spark):
    from mura_spark.multimodal.binary_ops import (ahash64, encode_ppm,
                                                  to_rgb8)
    from mura_spark.multimodal.png import encode_png
    rng = np.random.RandomState(3)
    rgb = rng.randint(0, 256, (8, 8, 3)).astype(np.uint8)
    rgba = np.dstack([rgb, rng.randint(0, 256, (8, 8)).astype(np.uint8)])
    df = spark.createDataFrame(
        [(1, bytearray(encode_ppm(rgb))),
         (2, bytearray(encode_png(rgba)))],
        "id long, content binary")
    got = {r.id: (r.lo, r.hi) for r in ahash64(df).collect()}
    # identical RGB values -> identical hash, varying alpha or not
    assert got[1] == got[2]
    # 16-bit scales by high byte, never wraps mod 256
    big = np.full((2, 2, 3), 0xFF00, dtype=np.uint16)
    assert to_rgb8(big).tolist() == np.full((2, 2, 3), 0xFF,
                                            dtype=np.uint8).tolist()


def test_resize_image_handles_rgba_and_16bit():
    from mura_spark.multimodal.binary_ops import decode_image, resize_image
    from mura_spark.multimodal.png import encode_png
    rng = np.random.RandomState(5)
    rgba = rng.randint(0, 256, (6, 4, 4)).astype(np.uint8)
    out = decode_image(resize_image(encode_png(rgba), 2, 3))
    assert out.shape == (3, 2, 3)
    grad16 = (np.arange(6 * 4 * 3, dtype=np.uint16)
              .reshape(6, 4, 3) * 600)
    out16 = decode_image(resize_image(encode_png(grad16), 4, 6))
    # high-byte scaling: monotone gradient stays monotone (a uint8
    # wrap would sawtooth)
    flat = out16.astype(int).sum(axis=2).reshape(-1)
    assert (np.diff(flat) >= 0).all()


# --------------------------------------------------- bpe pretokenizer


def test_bpe_pretokenizers_agree_on_edge_chars(spark):
    from mura_spark.operators.bpe import _pretokenize_py, pretokenize
    cases = ["foo_bar __init__", "x½y Ⅷ 12", "a b",
             "café-naïve", "3.14_15"]
    df = spark.createDataFrame([(c,) for c in cases], "text string")
    jvm = [r[0] for r in
           df.select(pretokenize(F.lower(F.col("text")))).collect()]
    for c, j in zip(cases, jvm):
        assert _pretokenize_py(c.lower()) == j, c
    # '_' is punctuation on both sides (stdlib \w would swallow it)
    assert _pretokenize_py("foo_bar") == ["foo", "_", "bar"]


def test_bpe_encode_counts_underscore_corpus(spark):
    from mura_spark.operators.bpe import bpe_encode, train_bpe
    df = spark.createDataFrame(
        [(i, "snake_case_name other words here") for i in range(30)],
        "doc_id long, text string")
    merges = train_bpe(df, num_merges=20)
    enc = bpe_encode(df, merges, tokens_out=True).first()
    # the '_' tokens survive encode (pre-fix they were silently
    # dropped) and detokenize reconstructs every pre-token
    from mura_spark.operators.bpe import detokenize
    assert "_" in "".join(enc.tokens)
    assert detokenize(list(enc.tokens)) \
        == "snake _ case _ name other words here"
    assert enc.n_tokens == len(enc.tokens)


# --------------------------------------- mixture plan absent stratum


def test_mixture_plan_absent_stratum_matches_oracle(spark, tmp_path):
    """A weighted language absent from the corpus must force T = 0 (the
    operator's documented infeasible semantics) in BOTH engines — the
    oracle used to re-plan over the present strata only."""
    import duckdb
    rows = [(i, "text " * 5, ["en", "zh", "de", "fr"][i % 4], "s", 25)
            for i in range(40)]  # no 'es' documents
    out = str(tmp_path / "mini")
    (spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
        .coalesce(1).write.parquet(f"{out}/documents.parquet"))
    from mura_spark.suite import ORACLE_SQL, SPARK_QUERIES
    got = {r.lang: r for r in
           SPARK_QUERIES["sample_mixture_plan"](spark, out).collect()}
    assert set(got) == {"en", "zh", "de", "fr", "es"}
    assert all(r.bucket_threshold == 0 and r.n_expected == 0
               for r in got.values())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{out}/documents.parquet/*.parquet'")
    exp = {r[0]: r for r in
           con.execute(ORACLE_SQL["sample_mixture_plan"]).fetchall()}
    assert set(exp) == set(got)
    for lang, r in got.items():
        assert (r.n_total, r.bucket_threshold, r.n_expected) \
            == (exp[lang][1], exp[lang][3], exp[lang][4])
    # and the apply step keeps nothing under an infeasible plan
    assert SPARK_QUERIES["sample_mixture_apply"](spark, out).count() == 0
    assert con.execute(ORACLE_SQL["sample_mixture_apply"]) \
              .fetchall() == []


# ----------------------------------------------- asof NULL semantics


def test_asof_join_never_matches_null_timestamps(spark):
    from mura_spark.operators.asof import asof_join
    left = spark.createDataFrame(
        [(1, "A", "2024-01-01 00:05:00")],
        "lid long, k string, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(101, "A", None, 9.0), (102, "A", "2024-01-01 00:10:00", 8.0),
         (103, None, "2024-01-01 00:01:00", 7.0)],
        "rid long, k string, ts string, v double").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    r = asof_join(left, right, on="ts", by="k", tiebreak="rid",
                  value_cols=["v"]).first()
    # NULL-ts and NULL-key right rows can never satisfy the predicate:
    # the only in-group right row is at 00:10 (> left ts) -> no match
    assert r.rid_matched is None and r.v_matched is None


# ------------------------------------------- LOO encoding NULL labels


def test_target_encode_loo_counts_nonnull_labels(spark):
    from mura_spark.operators.features import target_encode_loo
    df = spark.createDataFrame(
        [(1, "g", 10.0), (2, "g", None), (3, "h", 4.0), (4, "h", 6.0)],
        "id long, g string, y double")
    got = {r.id: r.loo for r in
           target_encode_loo(df, ["g"], "y", "loo").collect()}
    # id=1: the only OTHER label in g is NULL -> no evidence -> NULL
    # (the row-count denominator would fabricate (10-10)/(2-1) = 0.0)
    assert got[1] is None
    # id=2 (NULL label): full mean over labeled rows of its group
    assert got[2] == 10.0
    assert got[3] == 6.0 and got[4] == 4.0


# --------------------------------------------- RAKE phrase delimiters


def test_rake_punctuation_delimits_phrases(spark):
    from mura_spark.operators.keywords import rake_keywords
    df = spark.createDataFrame(
        [(1, "big dog. the cat"), (2, "big dog. the cat")],
        "doc_id long, text string")
    got = {r.phrase for r in
           rake_keywords(df, "doc_id", "text", ["the"], k=10).collect()}
    # the sentence boundary splits the phrase and strips the dot:
    # candidates are 'big dog' and 'cat' — never 'big dog.' / a
    # sentence-spanning phrase
    assert got == {"big dog", "cat"}


def test_sql_rewrite_ignores_string_literals(spark, tmp_path):
    from mura_spark import MuraSession
    ms = MuraSession(spark)
    path = str(tmp_path / "t")
    MuraTable.create(spark, path, _df(spark, [(1, 1, "a")]))
    ms.create_external_table("lit_t", path, file_type="mura")
    got = ms.sql("SELECT 'lit_t VERSION AS OF 1' AS note").first()
    assert got.note == "lit_t VERSION AS OF 1"
    got = ms.sql("SELECT x AS a FROM (SELECT 'table_changes"
                 "(''lit_t'', 1)' AS x)").first()
    assert got.a == "table_changes('lit_t', 1)"
    # the real constructs still rewrite
    assert ms.sql("SELECT k FROM lit_t VERSION AS OF 1").count() == 1


def test_sql_rewrite_ignores_double_quoted_literals(spark, tmp_path):
    # Spark's default parser (spark.sql.ansi.doubleQuotedIdentifiers
    # off) treats "..." as a STRING literal, so the guard must protect
    # double-quoted spans exactly like single-quoted ones
    from mura_spark import MuraSession
    ms = MuraSession(spark)
    path = str(tmp_path / "t")
    MuraTable.create(spark, path, _df(spark, [(1, 1, "a")]))
    ms.create_external_table("dq_t", path, file_type="mura")
    got = ms.sql('SELECT "dq_t VERSION AS OF 1" AS note').first()
    assert got.note == "dq_t VERSION AS OF 1"
    # escaped quotes inside the literal must not break the span
    got = ms.sql('SELECT "a\\" dq_t VERSION AS OF 1" AS note').first()
    assert got.note == 'a" dq_t VERSION AS OF 1'
    # and no side-effect temp view was registered by the guard path
    assert not any(v.name.startswith("dq_t__v")
                   for v in spark.catalog.listTables())
    assert ms.sql("SELECT k FROM dq_t VERSION AS OF 1").count() == 1
