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

Replication matches scripts/scale_check.py: replica i shifts doc_id by
``i * (max_id + 1)``, giving every base document K-1 exact clones — the
worst case for pair mining. The run writes its ``SCALELAW.json`` record
(timings, pair counts, law ratio) under the test's tmp dir, never over
the committed artifact.
"""

from __future__ import annotations

import json
import time

PROBE_SF = "/root/testdata/sf0.01"
SCALES = [10, 30]
QUERY = "dedup_jaccard_pairs"


def _build(spark, k, out_dir):
    from pyspark.sql import functions as F

    from mura_spark.suite.common import table
    docs = table(spark, PROBE_SF, "documents")
    base = docs.agg(F.max("doc_id")).first()[0] + 1
    rep = (docs.crossJoin(spark.range(k).select(F.col("id").alias("__r")))
               .withColumn("doc_id", F.col("doc_id") + F.col("__r") * base)
               .drop("__r"))
    rep.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")


def _run(spark, sf_dir):
    from mura_spark.suite import SPARK_QUERIES
    pairs = SPARK_QUERIES[QUERY](spark, sf_dir).count()
    best = None
    for _ in range(2):  # min-of-2: absorb one-off JIT/GC stalls
        t0 = time.time()
        (SPARK_QUERIES[QUERY](spark, sf_dir)
         .write.mode("overwrite").format("noop").save())
        el = time.time() - t0
        best = el if best is None else min(best, el)
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
