"""Machine-checked scaling law for the pair-mining dedup family.

BASELINE.md's 10x/30x/100x replication probes support the claim that
``dedup_jaccard_pairs`` (exact-Jaccard AllPairs) is *output-bound*:
candidate generation is near-linear in documents, so runtime tracks the
true duplicate-pair count (which grows ~K^2 per clone group under K-fold
replication), not the input size. Those probes lived as prose; this test
asserts the law mechanically so a scaling regression fails pytest, not a
human reader:

    sec/Mpair at K=30 must be flat-to-falling vs K=30/3 (slack 1.6x for
    local-mode timing noise), while the pair output itself grows ~(30/10)^2.

The corpus comes from ``scripts/scale_laws.replicate`` (the K=10/100
``pair_mining`` law's helper): replica i shifts doc_id by
``i * (max_id + 1)``, giving every base document K-1 exact clones — the
worst case for pair mining. The run writes its ``SCALELAW.json`` record
(timings, pair counts, law ratio) under the test's tmp dir.
"""

from __future__ import annotations

import json

from scripts.scale_laws import TABLE_KEYS, min_of_2, replicate

PROBE_SF = "/root/testdata/sf0.01"
SCALES = [10, 30]
QUERY = "dedup_jaccard_pairs"


def _build(spark, k, out_dir):
    (replicate(spark, PROBE_SF, "documents", k)
        .write.mode("overwrite").parquet(f"{out_dir}/documents.parquet"))


def _run(spark, sf_dir):
    from mura_spark.suite import SPARK_QUERIES
    pairs = SPARK_QUERIES[QUERY](spark, sf_dir).count()
    best = min_of_2(lambda _: SPARK_QUERIES[QUERY](spark, sf_dir)
                    .write.mode("overwrite").format("noop").save())
    return best, pairs


def test_pair_mining_is_output_bound(spark, tmp_path):
    probe = {}
    for k in SCALES:
        out = str(tmp_path / f"k{k}")
        _build(spark, k, out)
        sec, pairs = _run(spark, out)
        probe[k] = {"sec": round(sec, 3), "pairs": pairs,
                    "sec_per_mpair": round(sec / (pairs / 1e6), 3)}
    lo, hi = (probe[k] for k in SCALES)
    growth = SCALES[1] / SCALES[0]

    # clone groups of size K yield C(K,2) intra-group pairs: the pair
    # output must grow ~quadratically (sanity that the corpus replicated)
    assert hi["pairs"] > lo["pairs"] * growth * 2

    # THE LAW: seconds per million output pairs flat-to-falling as K
    # grows. 1.6x slack covers local-mode scheduling noise at this size;
    # a super-linear candidate-generation regression (e.g. a lost prefix
    # filter turning the join all-pairs) blows past it by integer factors.
    law_ratio = hi["sec_per_mpair"] / lo["sec_per_mpair"]
    artifact = {"query": QUERY, "probe_sf": PROBE_SF,
                "scales": {str(k): probe[k] for k in SCALES},
                "law_ratio_k30_vs_k10": round(law_ratio, 3),
                "law_holds": law_ratio <= 1.6}
    with open(tmp_path / "SCALELAW.json", "w") as fh:
        json.dump(artifact, fh, indent=1)
    assert law_ratio <= 1.6, (
        f"pair mining no longer output-bound: sec/Mpair rose "
        f"{law_ratio:.2f}x from K={SCALES[0]} to K={SCALES[1]} "
        f"({lo} -> {hi})")


def test_replicate_offsets_keys_per_domain(spark, sf_dir):
    """k key-offset replicas: every table grows exactly k times, every
    owned key stays unique, and a foreign-key join grows exactly k times
    (no row joins across replicas)."""
    from pyspark.sql import functions as F

    from mura_spark.suite.common import table

    k = 3
    reps = {t: replicate(spark, sf_dir, t, k).cache() for t in TABLE_KEYS}
    for t, rep in reps.items():
        assert rep.count() == k * table(spark, sf_dir, t).count(), t
    for t, keys in TABLE_KEYS.items():
        for col, domain in keys:
            if domain == t:
                assert (reps[t].select(col).distinct().count()
                        == reps[t].count()), (t, col)
    li, od = reps["lineitem"], reps["orders"]
    joined = li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
    base = table(spark, sf_dir, "lineitem").join(
        table(spark, sf_dir, "orders"),
        F.col("l_orderkey") == F.col("o_orderkey"))
    assert joined.count() == k * base.count() > 0
    for rep in reps.values():
        rep.unpersist()
