"""Source/sink tests: CSV/JSONL roundtrips and the bucketed-join
no-shuffle guarantee."""

import pytest
from pyspark.sql import functions as F

from mura_spark.sources import bucketing, text_formats
from mura_spark.suite.common import table


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return table(spark, sf_dir, "orders")


def test_csv_roundtrip(spark, orders, tmp_path):
    path = str(tmp_path / "orders_csv")
    sub = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    text_formats.write_csv(sub, path)
    back = text_formats.scan_csv(spark, path, schema=sub.schema)
    assert back.count() == sub.count()
    got = {r.o_orderkey: (r.o_orderstatus, r.o_totalprice)
           for r in back.collect()}
    want = {r.o_orderkey: (r.o_orderstatus, r.o_totalprice)
            for r in sub.collect()}
    assert got == want


def test_orc_roundtrip(spark, orders, tmp_path):
    path = str(tmp_path / "orders_orc")
    sub = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    text_formats.write_orc(sub, path)
    back = text_formats.scan_orc(spark, path, schema=sub.schema)
    got = {r.o_orderkey: (r.o_orderstatus, r.o_totalprice)
           for r in back.collect()}
    want = {r.o_orderkey: (r.o_orderstatus, r.o_totalprice)
            for r in sub.collect()}
    assert got == want


def test_jsonl_roundtrip_preserves_timestamps(spark, orders, tmp_path):
    path = str(tmp_path / "orders_jsonl")
    sub = orders.select("o_orderkey", "o_orderdate", "o_totalprice")
    text_formats.write_jsonl(sub, path)
    back = text_formats.scan_jsonl(spark, path, schema=sub.schema)
    assert (sorted(map(tuple, back.collect()))
            == sorted(map(tuple, sub.collect())))


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Same-bucketed tables must sort-merge join with zero Exchange."""
    import shutil
    import urllib.parse
    warehouse = urllib.parse.urlparse(
        spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice")
    bucketing.write_bucketed(
        orders.withColumnRenamed("o_orderkey", "key"),
        "b_orders", ["key"], 8, sort_cols=["key"], mode="overwrite")
    bucketing.write_bucketed(
        li.withColumnRenamed("l_orderkey", "key"),
        "b_lineitem", ["key"], 8, sort_cols=["key"], mode="overwrite")
    # disable auto-broadcast: at test scale the dim fits a broadcast, which
    # would mask the property under test (the at-scale SMJ path)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketing.bucketed_join(spark, "b_orders", "b_lineitem",
                                         ["key"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # and it actually computes
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_write_sorted_produces_disjoint_file_ranges(spark, sf_dir, tmp_path):
    """Range-partitioned sorted output: per-file min/max stats must be
    (near-)disjoint so range predicates can skip files, and a range scan
    over the layout must read fewer rows than the file holds."""
    import glob

    import pyarrow.parquet as pq

    from mura_spark.sources.parquet import write_sorted

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate",
                                                 "l_quantity")
    path = str(tmp_path / "li_sorted")
    write_sorted(li, path, ["l_shipdate"], n_files=8, mode="overwrite")

    ranges = []
    for f in glob.glob(f"{path}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        col_idx = [md.schema.column(i).name
                   for i in range(md.num_columns)].index("l_shipdate")
        stats = md.row_group(0).column(col_idx).statistics
        ranges.append((stats.min, stats.max))
    ranges.sort()
    assert len(ranges) >= 4
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint file ranges

    # round-trip correctness
    back = spark.read.parquet(path)
    assert back.count() == li.count()


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitioned layout: a filter on the partition column must
    appear as a PartitionFilter (directory pruning — at scale this is the
    difference between scanning one partition and the whole lake), and the
    pruned scan must read only the matching partition's rows."""
    from pyspark.sql import functions as F

    from mura_spark.sources import parquet as P
    from mura_spark.suite.common import table

    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    path = str(tmp_path / "events_part")
    P.write(ev, path, partition_by=["event_type"])

    scan = P.scan(spark, path).filter(F.col("event_type") == "click")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters")[1][:200]
    want = ev.filter(F.col("event_type") == "click").count()
    assert scan.count() == want


def test_write_zorder_clusters_both_columns(spark, sf_dir, tmp_path):
    """Z-order layout: per-file min/max spans must be tight for BOTH
    z-ordered columns, where a linear sort only serves its leading column.
    Verified by comparing the summed per-file span of the SECOND column
    under z-order vs under a linear sort on the first column."""
    import glob

    import pyarrow.parquet as pq

    from mura_spark.sources.parquet import write_sorted, write_zorder

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity")
    zpath, spath = str(tmp_path / "li_z"), str(tmp_path / "li_lin")
    write_zorder(li, zpath, ["l_orderkey", "l_partkey"], bits=6,
                 n_files=8, mode="overwrite")
    write_sorted(li, spath, ["l_orderkey"], n_files=8, mode="overwrite")

    def spans(path, col):
        out = []
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = [md.schema.column(i).name
                   for i in range(md.num_columns)].index(col)
            st = md.row_group(0).column(idx).statistics
            out.append(st.max - st.min)
        return out

    z_spans = spans(zpath, "l_partkey")
    lin_spans = spans(spath, "l_partkey")
    assert len(z_spans) >= 4
    # z-order must cluster the second dimension ~2× better than the
    # linear layout (which leaves it at ≈ full-domain span per file)
    assert sum(z_spans) / len(z_spans) < 0.6 * sum(lin_spans) / len(lin_spans)
    # and the first dimension must still be well-clustered too
    z1 = spans(zpath, "l_orderkey")
    full = (li.agg(F.max("l_orderkey") - F.min("l_orderkey")).first()[0])
    assert sum(z1) / len(z1) < 0.8 * full
    # round-trip correctness
    assert spark.read.parquet(zpath).count() == li.count()
    # degenerate input rejected
    with pytest.raises(ValueError):
        write_zorder(li, str(tmp_path / "nope"), ["l_orderkey"])


def test_approx_row_count_uses_footers(spark, sf_dir):
    """File-backed plans answer from parquet footer metadata (exact for an
    unfiltered scan); non-file plans fall back to count()."""
    from mura_spark.sources.parquet import approx_row_count

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert approx_row_count(df) == df.count()
    # filters don't shrink the footer estimate (upper bound, by design)
    filtered = df.filter("doc_id < 10")
    assert approx_row_count(filtered) >= filtered.count()
    mem = spark.createDataFrame([(1,), (2,)], ["a"])
    assert approx_row_count(mem) == 2


def test_ensure_min_partitions_file_estimate(spark, sf_dir):
    """The partition guard widens a single-file scan without materializing
    .rdd, and leaves wide plans untouched."""
    from pyspark.sql import functions as F

    from mura_spark.sources.parquet import ensure_min_partitions

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    widened = ensure_min_partitions(df, target=8)
    assert widened.rdd.getNumPartitions() >= 8
    assert widened.count() == df.count()
    agg = df.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    assert ensure_min_partitions(agg, target=8) is agg


def test_dynamic_partition_pruning_on_dim_join(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: a join whose dim side is filtered must
    prune the partitioned fact side at RUNTIME (the fact filter is on the
    join key, not a literal). At scale this is the star-join saver: the
    fact scan reads only the partitions the surviving dim keys name. The
    plan must carry a dynamicpruning subquery in the fact scan's
    PartitionFilters, and the result must equal the unpartitioned join."""
    from mura_spark.sources import parquet as P
    from mura_spark.suite.common import table

    ev = table(spark, sf_dir, "events").select("event_id", "event_type")
    path = str(tmp_path / "events_dpp")
    P.write(ev, path, partition_by=["event_type"])

    # two DPP preconditions worth pinning because both fail silently:
    # the dim must be a real relation with known (small) stats — an
    # in-memory LogicalRDD has unknown size and the benefit heuristic
    # declines — and the dim filter must be "likely selective" (a
    # comparison/IN/LIKE; a bare boolean column is not)
    dim_path = str(tmp_path / "event_dim")
    spark.createDataFrame(
        [("click", "keep"), ("view", "keep"), ("purchase", "drop"),
         ("signup", "drop"), ("error", "drop")],
        "event_type string, category string").write.parquet(dim_path)
    dim = spark.read.parquet(dim_path)
    fact = P.scan(spark, path)
    joined = (fact.join(dim.filter(F.col("category") == "keep"),
                        "event_type")
              .groupBy("event_type").agg(F.count("*").alias("n")))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    got = {r["event_type"]: r["n"] for r in joined.collect()}
    want = {r["event_type"]: r["n"]
            for r in ev.filter(F.col("event_type").isin("click", "view"))
            .groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    assert got == want


def test_merge_schema_reads_union_of_batch_schemas(spark, sf_dir, tmp_path):
    """Schema evolution: two hive batches with different column sets read
    back as the union schema, nulls where a batch lacks the column, and
    the batch directory inferred as a partition column."""
    from mura_spark.suite.common import table

    p = table(spark, sf_dir, "part")
    path = str(tmp_path / "evolve")
    (p.select("p_partkey", "p_name")
      .write.parquet(path + "/batch=1"))
    (p.select("p_partkey", "p_retailprice")
      .write.parquet(path + "/batch=2"))
    merged = (spark.read.option("mergeSchema", "true")
              .option("basePath", path).parquet(path))
    assert {"p_partkey", "p_name", "p_retailprice", "batch"} == \
        set(merged.columns)
    n = p.count()
    assert merged.count() == 2 * n
    assert merged.filter((F.col("batch") == 1)
                         & F.col("p_retailprice").isNull()).count() == n
    assert merged.filter((F.col("batch") == 2)
                         & F.col("p_name").isNull()).count() == n


def test_jsonl_permissive_quarantines_corrupt_rows(spark, tmp_path):
    """Malformed JSONL lines must not fail the scan: good rows parse,
    bad lines land whole in _corrupt_record with data columns NULL."""
    from mura_spark.sources.text_formats import scan_jsonl_permissive
    p = tmp_path / "dirty"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"id": 1, "v": 2.5}\n'
        'not json at all\n'
        '{"id": 2, "v": 7.0}\n'
        '{"id": 3, "v": "}\n')
    df = scan_jsonl_permissive(spark, str(p), "id INT, v DOUBLE")
    rows = df.collect()
    good = {(r.id, r.v) for r in rows if r._corrupt_record is None}
    bad = [r for r in rows if r._corrupt_record is not None]
    assert good == {(1, 2.5), (2, 7.0)}
    assert len(bad) == 2
    assert all(r.id is None and r.v is None for r in bad)
    assert any("not json" in r._corrupt_record for r in bad)
