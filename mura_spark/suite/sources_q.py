"""Source/sink and skew-tool queries with value oracles.

CSV/JSONL round-trips pin the text-format readers/writers against the
parquet ground truth the oracle reads; the salted-join query pins the skew
tool's result equivalence end-to-end (salting must never change the
answer). Round-trip scratch space lives under /tmp — rewritten
(mode=overwrite) every run, so re-execution is idempotent.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mura_spark.operators.skew import salted_join
from mura_spark.sources import text_formats as TF
from mura_spark.suite.common import registry, sql_dsum, table

SPARK_QUERIES, ORACLE_SQL, q = registry()


@q("csv_roundtrip", "SELECT n_nationkey, n_name, n_regionkey FROM nation")
def csv_roundtrip(spark, sf):
    """nation → CSV (quoted text columns) → scan with explicit schema.
    Comments are dropped before writing: free-text columns exercise CSV
    quoting in pytest; the oracle pin here is the typed-column round-trip."""
    src = (table(spark, sf, "nation")
           .select("n_nationkey", "n_name", "n_regionkey"))
    path = "/tmp/mura_suite_csv_nation"
    TF.write_csv(src, path, mode="overwrite")
    return TF.scan_csv(spark, path,
                       schema="n_nationkey bigint, n_name string, "
                              "n_regionkey bigint")


@q("jsonl_roundtrip",
   "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier")
def jsonl_roundtrip(spark, sf):
    """supplier → JSON-lines → scan with explicit schema. Doubles survive
    exactly: the writer emits shortest-round-trip literals."""
    src = (table(spark, sf, "supplier")
           .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
    path = "/tmp/mura_suite_jsonl_supplier"
    TF.write_jsonl(src, path, mode="overwrite")
    return TF.scan_jsonl(spark, path,
                         schema="s_suppkey bigint, s_name string, "
                                "s_nationkey bigint, s_acctbal double")


@q("orc_roundtrip",
   "SELECT p_partkey, p_name, p_size, p_retailprice FROM part")
def orc_roundtrip(spark, sf):
    """part → ORC → scan with explicit schema: pins the built-in columnar
    ORC reader/writer (same pushdown/pruning class as Parquet) against the
    parquet ground truth."""
    src = (table(spark, sf, "part")
           .select("p_partkey", "p_name", "p_size", "p_retailprice"))
    path = "/tmp/mura_suite_orc_part"
    TF.write_orc(src, path, mode="overwrite")
    return TF.scan_orc(spark, path,
                       schema="p_partkey bigint, p_name string, "
                              "p_size int, p_retailprice double")


@q("skew_salted_supplier_revenue",
   "SELECT s_name, COUNT(*) AS n_items, "
   f"{sql_dsum('l_extendedprice')} AS revenue "
   "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY s_name")
def skew_salted_supplier_revenue(spark, sf):
    """Supplier revenue through the salted join (big lineitem side scattered
    over 8 sub-keys, small supplier side replicated): the oracle is the
    plain join — salting must be invisible in the result."""
    li = table(spark, sf, "lineitem").select("l_suppkey", "l_extendedprice")
    supp = (table(spark, sf, "supplier")
            .select(F.col("s_suppkey").alias("l_suppkey"), "s_name"))
    joined = salted_join(li, supp, on="l_suppkey", n_salts=8)
    return (joined.groupBy("s_name")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                  .cast("double").alias("revenue")))


@q("parquet_partitioned_prune",
   "SELECT event_type, COUNT(*) AS n_events, MIN(event_id) AS min_id, "
   "MAX(event_id) AS max_id FROM events "
   "WHERE event_type IN ('click', 'purchase') GROUP BY event_type")
def parquet_partitioned_prune(spark, sf):
    """events → hive-partitioned parquet (PARTITIONED BY event_type) →
    scan with a partition-key filter. The filter never touches row data:
    it prunes whole directories at planning time (pytest asserts the
    pruned PartitionFilters scan; tests/test_sources.py also pins dynamic
    partition pruning through a dim-side join on this layout). The oracle
    is the same aggregate over the unpartitioned ground truth — the
    layout must be invisible in the result."""
    from mura_spark.sources.parquet import write
    ev = table(spark, sf, "events").select("event_id", "event_type")
    path = "/tmp/mura_suite_part_events"
    write(ev, path, mode="overwrite", partition_by=["event_type"])
    back = spark.read.parquet(path)
    return (back.filter(F.col("event_type").isin("click", "purchase"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("event_id").alias("min_id"),
                 F.max("event_id").alias("max_id")))


@q("parquet_schema_evolution",
   "SELECT p_partkey, p_name, CAST(NULL AS DOUBLE) AS p_retailprice, "
   "1 AS batch FROM part "
   "UNION ALL SELECT p_partkey, CAST(NULL AS VARCHAR), p_retailprice, "
   "2 AS batch FROM part")
def parquet_schema_evolution(spark, sf):
    """Schema evolution across ingest batches: batch 1 writes
    (p_partkey, p_name), batch 2 writes (p_partkey, p_retailprice) to the
    same hive layout; a mergeSchema scan reads the union schema with
    NULLs where a batch lacks the column and `batch` inferred as a
    partition column. Footer-merge cost is per-FILE schema reconciliation
    (bounded), not data movement — columns absent from a batch are never
    materialized, just planned as nulls."""
    p = table(spark, sf, "part")
    path = "/tmp/mura_suite_evolve_part"
    (p.select("p_partkey", "p_name")
      .write.mode("overwrite").parquet(path + "/batch=1"))
    (p.select("p_partkey", "p_retailprice")
      .write.mode("overwrite").parquet(path + "/batch=2"))
    return (spark.read.option("mergeSchema", "true")
            .option("basePath", path).parquet(path)
            .select("p_partkey", "p_name", "p_retailprice", "batch"))


# ------------------------------------------------------- round-6u additions

@q("source_python_datasource",
   "SELECT CAST(i % 8 AS INT) AS shard, CAST(COUNT(*) AS BIGINT) AS n, "
   "CAST(SUM((i * 2654435761) % 997) AS BIGINT) AS sum_value, "
   "CAST(MIN(i) AS BIGINT) AS min_id, CAST(MAX(i) AS BIGINT) AS max_id "
   "FROM range(10000) t(i) GROUP BY 1")
def source_python_datasource(spark, sf):
    """Custom Python DataSource (the Spark 4 plugin API): read the
    deterministic `mura_synth` generator source — S executor-local
    stripes, zero input I/O — and roll it up per stripe. The oracle
    regenerates the identical table from range(), pinning the plugin's
    partition planning AND its row function (sources.pyds)."""
    from mura_spark.sources import pyds
    pyds.register(spark)
    df = (spark.read.format("mura_synth")
               .option("n", 10000).option("shards", 8).load())
    return (df.groupBy("shard")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum("value").alias("sum_value"),
                   F.min("id").alias("min_id"),
                   F.max("id").alias("max_id")))


@q("source_file_lineage",
   # NULL partition values land in the hive default-partition segment
   # on disk — the path-parsed audit sees that token, not a NULL
   "SELECT COALESCE(lang, '__HIVE_DEFAULT_PARTITION__') AS lang, "
   "CAST(COUNT(*) AS BIGINT) AS n_rows, "
   "CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources "
   "FROM documents GROUP BY 1")
def source_file_lineage(spark, sf):
    """Row-provenance audit via the hidden `_metadata` struct: write
    documents partitioned by lang, then account for every row by the
    PHYSICAL file it landed in — `_metadata.file_path` is scan-time
    metadata (no extra I/O), and the partition value parsed from the
    path must reconcile with the logical rollup, which is exactly what
    the oracle pins. The per-file accounting a 100 TB ingest uses to
    localize a bad file without re-reading the fleet."""
    d = table(spark, sf, "documents").select("doc_id", "text", "lang",
                                             "source")
    path = "/tmp/mura_suite_lineage_docs"
    (d.write.mode("overwrite").partitionBy("lang").parquet(path))
    back = spark.read.parquet(path)
    return (back.select(
                F.regexp_extract(F.col("_metadata.file_path"),
                                 r"lang=([^/]+)/", 1).alias("lang"),
                "source")
                .groupBy("lang")
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.count_distinct("source").alias("n_sources")))


@q("xml_roundtrip",
   "SELECT s_suppkey, s_name, s_acctbal FROM supplier")
def xml_roundtrip(spark, sf):
    """supplier → native XML (Spark 4 built-in, the merged spark-xml) →
    scan with explicit schema. Typed columns round-trip exactly
    (doubles as shortest-round-trip literals); the oracle is the
    source table (sources.text_formats.scan_xml/write_xml)."""
    src = (table(spark, sf, "supplier")
           .select("s_suppkey", "s_name", "s_acctbal"))
    path = "/tmp/mura_suite_xml_supplier"
    TF.write_xml(src, path, mode="overwrite")
    return TF.scan_xml(spark, path,
                       schema="s_suppkey bigint, s_name string, "
                              "s_acctbal double")


# ------------------------------------------------------- round-6ddd addition

@q("csv_malformed_recovery",
   "SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nation) AS n_clean, "
   "CAST(3 AS BIGINT) AS n_corrupt, "
   "(SELECT CAST(SUM(n_nationkey) AS BIGINT) FROM nation) AS key_sum")
def csv_malformed_recovery(spark, sf):
    """Malformed-input recovery: a CSV feed with 3 corrupt lines read
    in PERMISSIVE mode with ``columnNameOfCorruptRecord`` — the clean
    rows flow through, the damage is COUNTED instead of killing the
    job (the posture a 100 TB ingest must take: DROPMALFORMED hides
    loss, FAILFAST loses the night). Oracle pins clean-row count +
    key sum against the source table and the injected-corruption
    count as a literal.

    Spark caveat this query deliberately pins: the CSV corrupt flag
    is COLUMN-PRUNING-DEPENDENT — a wrong-arity line whose
    *referenced* fields parse fine is NOT flagged when the query
    touches only those fields. Every injected corruption therefore
    damages the typed key column itself, making the flag
    pruning-invariant."""
    src = (table(spark, sf, "nation")
           .select("n_nationkey", "n_name", "n_regionkey"))
    path = "/tmp/mura_suite_csv_malformed"
    TF.write_csv(src, path, mode="overwrite")
    # deterministic corruption: its own part file; first line is a
    # header (every file's line 1 is skipped under header=true)
    with open(f"{path}/part-junk.csv", "w") as fh:
        fh.write("n_nationkey,n_name,n_regionkey\n")
        fh.write("not_a_number,BROKEN,also_bad\n")
        fh.write("bad_key,TOO,0,MANY,FIELDS\n")
        fh.write("NaN-key,\"unterminated,2\n")
    df = TF.scan_csv(
        spark, path,
        schema="n_nationkey bigint, n_name string, n_regionkey bigint, "
               "_corrupt_record string",
        mode="PERMISSIVE", columnNameOfCorruptRecord="_corrupt_record")
    bad = F.col("_corrupt_record").isNotNull()
    return df.agg(
        F.sum(F.when(~bad, 1).otherwise(0)).alias("n_clean"),
        F.sum(F.when(bad, 1).otherwise(0)).alias("n_corrupt"),
        F.sum(F.when(~bad, F.col("n_nationkey"))).alias("key_sum"))


@q("jsonl_malformed_recovery",
   "SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier) AS n_clean, "
   "CAST(3 AS BIGINT) AS n_corrupt, "
   "(SELECT CAST(SUM(s_suppkey) AS BIGINT) FROM supplier) AS key_sum")
def jsonl_malformed_recovery(spark, sf):
    """The JSON-lines twin of csv_malformed_recovery — JSONL is the
    de-facto LLM-corpus interchange format, and a crawler feed always
    contains truncated/garbage lines. PERMISSIVE scan with
    ``columnNameOfCorruptRecord``: clean objects parse, damage is
    counted. Oracle pins clean count + key sum to the source table."""
    src = (table(spark, sf, "supplier")
           .select("s_suppkey", "s_name", "s_nationkey"))
    path = "/tmp/mura_suite_jsonl_malformed"
    TF.write_jsonl(src, path, mode="overwrite")
    with open(f"{path}/part-junk.json", "w") as fh:
        fh.write('{"s_suppkey": "not_a_number", "s_name": 5}\n')
        fh.write('{"s_suppkey": 1, "s_name": "TRUNCAT\n')
        fh.write('garbage line, not json at all\n')
    df = TF.scan_jsonl(
        spark, path,
        schema="s_suppkey bigint, s_name string, s_nationkey bigint, "
               "_corrupt_record string",
        mode="PERMISSIVE", columnNameOfCorruptRecord="_corrupt_record")
    bad = F.col("_corrupt_record").isNotNull()
    return df.agg(
        F.sum(F.when(~bad, 1).otherwise(0)).alias("n_clean"),
        F.sum(F.when(bad, 1).otherwise(0)).alias("n_corrupt"),
        F.sum(F.when(~bad, F.col("s_suppkey"))).alias("key_sum"))


@q("source_compaction_report",
   "SELECT CAST(64 AS BIGINT) AS n_files_before, "
   "CAST(ceil(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) "
   "/ 200.0) AS BIGINT) AS n_files_after, "
   "(SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_rows")
def source_compaction_report(spark, sf):
    """Small-files compaction — THE operational disease of long-lived
    100 TB tables (every tiny file is a task, a footer fetch, a
    NameNode entry): write the corpus as 64 shards, compact via
    coalesced write with ``maxRecordsPerFile``, and report
    before/after file counts from ``_metadata`` introspection (never
    a filesystem listing). File counts are deterministic: after =
    ⌈rows / 200⌉ by construction."""
    d = table(spark, sf, "documents")
    frag = "/tmp/mura_suite_compact_frag"
    comp = "/tmp/mura_suite_compact_out"
    d.repartition(64).write.mode("overwrite").parquet(frag)
    (spark.read.parquet(frag).coalesce(1)
        .write.mode("overwrite").option("maxRecordsPerFile", 200)
        .parquet(comp))
    nf = lambda p: (spark.read.format("parquet").load(p)  # noqa: E731
                    .select(F.col("_metadata.file_path").alias("fp"))
                    .agg(F.countDistinct("fp").alias("n")))
    before = nf(frag).select(F.col("n").alias("n_files_before"))
    after = nf(comp).select(F.col("n").alias("n_files_after"))
    rows = spark.read.parquet(comp).agg(
        F.count(F.lit(1)).alias("n_rows"))
    return (before.crossJoin(F.broadcast(after))
                  .crossJoin(F.broadcast(rows)))


# ------------------------------------------------------- round-8a addition

@q("table_time_travel_roundtrip",
   "SELECT 'v0' AS snapshot, CAST(COUNT(*) AS BIGINT) AS n_orders, "
   "CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) "
   "AS n_f_orders, "
   f"{sql_dsum('o_totalprice')} AS total_price FROM orders "
   "UNION ALL "
   "SELECT 'head' AS snapshot, CAST(COUNT(*) AS BIGINT) AS n_orders, "
   "CAST(0 AS BIGINT) AS n_f_orders, "
   f"{sql_dsum('o_totalprice')} AS total_price FROM orders "
   "WHERE o_orderstatus <> 'F'")
def table_time_travel_roundtrip(spark, sf):
    """Versioned-table (MuraTable) time travel under DML — the executed
    descendant of mura's declared-but-unwired CreateTable IR
    (reference ``src/planner/logicalplan.rs:260-272``): create a table
    from ``orders``, copy-on-write DELETE the 'F' slice, then read the
    pre-DELETE snapshot (version 1 — create's commit) beside the head
    and roll both up ('v0' in the output is a label, not a version id).
    The oracle replays the two logical snapshots straight off the
    parquet ground truth — the table format's commit log, manifest
    file-listing, and COW rewrite must all be invisible in the result.
    Scratch table is rebuilt per run (idempotent, like every /tmp
    round-trip in this module); commits are O(touched files), reads
    are O(manifest). The table partitions on o_orderstatus, so the
    DELETE's pruned match scan touches only the 'F' partition's files
    and every other partition rides by reference — the exact shape
    that keeps this pipeline O(touched-partition) at 100 TB."""
    import os
    import shutil

    from mura_spark.sources.table_format import MuraTable
    src = (table(spark, sf, "orders")
           .select("o_orderkey", "o_orderstatus", "o_totalprice"))
    # per-sf scratch: concurrent sweeps at different scale factors
    # must not corrupt each other's versioned table
    path = ("/tmp/mura_suite_table_tt_"
            + os.path.basename(os.path.normpath(sf)))
    shutil.rmtree(path, ignore_errors=True)
    t = MuraTable.create(spark, path, src,
                         partition_cols=["o_orderstatus"])
    t.delete_where(F.col("o_orderstatus") == "F")
    snap = lambda df, name, f_expr: (  # noqa: E731
        df.agg(F.count(F.lit(1)).alias("n_orders"),
               f_expr.alias("n_f_orders"),
               F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double").alias("total_price"))
          .select(F.lit(name).alias("snapshot"), "n_orders",
                  "n_f_orders", "total_price"))
    v0 = snap(t.read(version=1), "v0",  # create commits as version 1
              F.sum(F.when(F.col("o_orderstatus") == "F", 1)
                     .otherwise(0)))
    head = snap(t.read(), "head", F.lit(0).cast("bigint"))
    return v0.unionAll(head)


# ------------------------------------------------------- round-9a addition

_CDF_ROLLUP = ("CAST(COUNT(*) AS BIGINT) AS n_rows, "
               + sql_dsum("o_totalprice") + " AS total_price")

@q("table_changes_replay",
   "WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice "
   "FROM orders), "
   "v1r AS (SELECT * FROM base WHERE o_orderkey % 3 <> 0), "
   "insr AS (SELECT * FROM base WHERE o_orderkey % 3 = 0), "
   "delr AS (SELECT * FROM base WHERE o_orderstatus = 'F'), "
   "prer AS (SELECT * FROM base WHERE o_orderstatus = 'P'), "
   "postr AS (SELECT o_orderkey, o_orderstatus, "
   "o_totalprice + 1.0 AS o_totalprice FROM prer), "
   "headr AS (SELECT o_orderkey, o_orderstatus, "
   "CASE WHEN o_orderstatus = 'P' THEN o_totalprice + 1.0 "
   "ELSE o_totalprice END AS o_totalprice FROM base "
   "WHERE o_orderstatus <> 'F') "
   f"SELECT 'v1' AS label, {_CDF_ROLLUP} FROM v1r "
   f"UNION ALL SELECT 'ct:insert', {_CDF_ROLLUP} FROM insr "
   f"UNION ALL SELECT 'ct:delete', {_CDF_ROLLUP} FROM delr "
   f"UNION ALL SELECT 'ct:update_preimage', {_CDF_ROLLUP} FROM prer "
   f"UNION ALL SELECT 'ct:update_postimage', {_CDF_ROLLUP} FROM postr "
   f"UNION ALL SELECT 'head', {_CDF_ROLLUP} FROM headr "
   f"UNION ALL SELECT 'replay', {_CDF_ROLLUP} FROM headr")
def table_changes_replay(spark, sf):
    """Row-level Change Data Feed replay — the Delta-CDF contract on a
    MuraTable (the versioned-table descendant of mura's CreateTable
    IR, reference ``src/planner/logicalplan.rs:260-272``): create with
    ``cdf=True`` from a 2/3 slice of orders, then a mixed DML batch —
    append the remaining third, COW DELETE the 'F' slice, UPDATE the
    'P' slice (+$1) — and read the feed back through the SQL
    ``table_changes('t', 1)`` TVF. The result pins (a) each
    _change_type's row count and value mass, and (b) the CDF's core
    algebraic promise: v1 + inserts + postimages − preimages − deletes
    == head, computed entirely in exact DECIMAL before the terminal
    double cast ('replay' row) next to the directly-read 'head' row.
    The oracle replays the same logical deltas straight off the
    parquet ground truth, so the sidecar write path, the manifest
    file-diff path (the insert feed), and the TVF rewrite must all be
    value-invisible. Feed cost is O(changed rows), never a table scan:
    insert feeds are manifest file diffs, DML feeds read only the
    sidecar files of their commits."""
    import os
    import shutil

    from mura_spark.session import MuraSession
    from mura_spark.sources.table_format import MuraTable
    src = (table(spark, sf, "orders")
           .select("o_orderkey", "o_orderstatus", "o_totalprice"))
    # per-sf scratch: two sweeps at different scale factors (or the
    # driver + a local sweep) must not corrupt each other's table
    path = ("/tmp/mura_suite_table_cdf_"
            + os.path.basename(os.path.normpath(sf)))
    shutil.rmtree(path, ignore_errors=True)
    t = MuraTable.create(spark, path,
                         src.filter(F.col("o_orderkey") % 3 != 0),
                         cdf=True)
    t.append(src.filter(F.col("o_orderkey") % 3 == 0))
    t.delete_where(F.col("o_orderstatus") == "F")
    t.update_where(F.col("o_orderstatus") == "P",
                   {"o_totalprice": "o_totalprice + 1.0"})
    ms = MuraSession(spark)
    ms.create_external_table("cdf_orders", path, file_type="mura")
    feed = ms.sql("SELECT _change_type AS ct, o_totalprice "
                  "FROM table_changes('cdf_orders', 1)")
    ms.catalog.drop("cdf_orders")
    dec = "SUM(CAST(o_totalprice AS DECIMAL(18,2)))"
    return spark.sql(
        f"WITH v1 AS (SELECT COUNT(*) AS n, {dec} AS s "
        "FROM {v1}), "
        f"f AS (SELECT ct, COUNT(*) AS n, {dec} AS s "
        "FROM {feed} GROUP BY ct), "
        "d AS (SELECT SUM(CASE WHEN ct IN ('insert', "
        "'update_postimage') THEN n ELSE -n END) AS dn, "
        "SUM(CASE WHEN ct IN ('insert', 'update_postimage') "
        "THEN s ELSE -s END) AS ds FROM f), "
        f"h AS (SELECT COUNT(*) AS n, {dec} AS s FROM {{head}}) "
        "SELECT 'v1' AS label, CAST(n AS BIGINT) AS n_rows, "
        "CAST(s AS DOUBLE) AS total_price FROM v1 "
        "UNION ALL SELECT CONCAT('ct:', ct), CAST(n AS BIGINT), "
        "CAST(s AS DOUBLE) FROM f "
        "UNION ALL SELECT 'head', CAST(n AS BIGINT), "
        "CAST(s AS DOUBLE) FROM h "
        "UNION ALL SELECT 'replay', CAST(v1.n + d.dn AS BIGINT), "
        "CAST(v1.s + d.ds AS DOUBLE) FROM v1 CROSS JOIN d",
        feed=feed, v1=t.read(version=1), head=t.read())


# ------------------------------------------------------- round-9b addition

@q("table_stream_sink_roundtrip",
   "SELECT 'pass1' AS label, CAST(COUNT(*) AS BIGINT) AS n_rows, "
   + sql_dsum("o_totalprice") + " AS total_price FROM orders "
   "WHERE o_orderkey % 2 = 0 "
   "UNION ALL "
   "SELECT 'head' AS label, CAST(COUNT(*) AS BIGINT) AS n_rows, "
   + sql_dsum("o_totalprice") + " AS total_price FROM orders")
def table_stream_sink_roundtrip(spark, sf):
    """Structured-Streaming sink path of the versioned-table format,
    end to end: a mura_table→mura_table stream (readStream over the
    source table's commit log, writeStream through the Arrow sink that
    publishes one ``stream_append`` commit per micro-batch) run three
    times with ``availableNow`` — first landing the even-key half of
    orders, then the odd-key delta after an append to the source, then
    a no-new-data pass that must commit NOTHING (exactly-once: the
    checkpoint offset log + the sink's ``stream:<query id>`` txn mark,
    keyed on Spark's persistent query id, make redelivery
    idempotent). 'pass1' reads the post-first-pass snapshot by version
    (time travel over stream-landed commits); 'head' reads the final
    table — duplicate or lost rows in any pass would shift either
    rollup off the parquet ground truth the oracle reads. Executors
    write data files directly (no driver data path); the driver
    appends file references only, so a 1000-executor stream commits
    O(files) metadata per batch."""
    import os
    import shutil

    from mura_spark.sources.table_format import MuraTable
    from mura_spark.sources.table_stream import register
    register(spark)
    # per-sf scratch (same reason as table_changes_replay above)
    root = ("/tmp/mura_suite_stream_sink_"
            + os.path.basename(os.path.normpath(sf)))
    shutil.rmtree(root, ignore_errors=True)
    src_path, dst_path, ckpt = (f"{root}/src", f"{root}/dst",
                                f"{root}/ckpt")
    src = (table(spark, sf, "orders")
           .select("o_orderkey", "o_orderstatus", "o_totalprice"))
    t_src = MuraTable.create(spark, src_path,
                             src.filter(F.col("o_orderkey") % 2 == 0))
    MuraTable.create(spark, dst_path, src.limit(0))

    def run_pass():
        qr = (spark.readStream.format("mura_table")
              .option("path", src_path).load()
              .writeStream.format("mura_table")
              .option("path", dst_path)
              .option("checkpointLocation", ckpt)
              .trigger(availableNow=True).start())
        if not qr.awaitTermination(300):
            qr.stop()
            raise TimeoutError(
                "stream sink pass did not finish within 300s; "
                "stopping instead of reading a half-landed table")

    run_pass()
    dst = MuraTable.load(spark, dst_path)
    v_pass1 = dst._manifest()["version"]
    t_src.append(src.filter(F.col("o_orderkey") % 2 != 0))
    run_pass()
    run_pass()  # no new offsets: must be a zero-commit no-op
    rollup = lambda df, name: (  # noqa: E731
        df.agg(F.count(F.lit(1)).alias("n_rows"),
               F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double").alias("total_price"))
          .select(F.lit(name).alias("label"), "n_rows", "total_price"))
    return rollup(dst.read(version=v_pass1), "pass1") \
        .unionAll(rollup(dst.read(), "head"))


# ------------------------------------------------------ round-10 additions

@q("view_incremental_refresh",
   "WITH base AS (SELECT o_orderkey, o_orderstatus, o_orderpriority, "
   "CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders), "
   "final AS (SELECT o_orderpriority, "
   "CASE WHEN o_orderstatus = 'P' "
   "THEN CAST(p + 1.00 AS DECIMAL(18,2)) ELSE p END AS p "
   "FROM base WHERE o_orderstatus <> 'F') "
   "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders, "
   "CAST(SUM(p) AS DOUBLE) AS total_price, "
   "'incremental' AS refresh_append, 'incremental' AS refresh_dml "
   "FROM final GROUP BY o_orderpriority")
def view_incremental_refresh(spark, sf):
    """IncrementalAggView end to end — the O(delta) materialized
    rollup over a versioned table (the maintenance layer above mura's
    CreateTable IR, reference ``src/planner/logicalplan.rs:260-272``):
    create a cdf-enabled source from a 2/3 slice of orders, build the
    view (groupBy o_orderpriority: count + exact-decimal sum), then
    drive BOTH incremental paths — (1) append the remaining third and
    refresh (manifest file-diff: reads only the new files, no table
    scan), (2) COW DELETE the 'F' slice + UPDATE the 'P' slice (+$1)
    and refresh again (row-level CDF retraction: deletes/preimages
    subtract, inserts/postimages add — legal because both aggregates
    are subtractable). The result carries each refresh's mode as a
    literal column pinned to 'incremental' in the oracle, so ANY
    silent downgrade to a full recompute hash-mismatches; the values
    themselves must equal DuckDB's from-scratch rollup of the same
    logical end state. A day's ingest into a 100 TB table refreshes
    at the cost of the day's files — this query is that contract."""
    import os
    import shutil

    from mura_spark.sources.incremental_view import IncrementalAggView
    from mura_spark.sources.table_format import MuraTable
    base = (table(spark, sf, "orders")
            .select("o_orderkey", "o_orderstatus", "o_orderpriority",
                    F.col("o_totalprice").cast("decimal(18,2)")
                     .alias("p")))
    root = ("/tmp/mura_suite_view_refresh_"
            + os.path.basename(os.path.normpath(sf)))
    shutil.rmtree(root, ignore_errors=True)
    src = MuraTable.create(spark, f"{root}/src",
                           base.filter(F.col("o_orderkey") % 3 != 0),
                           cdf=True)
    view = IncrementalAggView.create(
        spark, f"{root}/view", src, keys=["o_orderpriority"],
        aggs={"n_orders": ("count", "o_orderkey"),
              "total_price": ("sum", "p")})
    src.append(base.filter(F.col("o_orderkey") % 3 == 0))
    r1 = view.refresh()  # append-only: manifest file-diff path
    src.delete_where(F.col("o_orderstatus") == "F")
    src.update_where(F.col("o_orderstatus") == "P",
                     {"p": "CAST(p + 1.00 AS DECIMAL(18,2))"})
    r2 = view.refresh()  # DML: row-level CDF retraction path
    return view.read().select(
        "o_orderpriority",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("total_price").cast("double").alias("total_price"),
        F.lit(r1.mode).alias("refresh_append"),
        F.lit(r2.mode).alias("refresh_dml"))


@q("merge_upsert_sql",
   "WITH base AS (SELECT o_orderkey, o_orderstatus, "
   "CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders), "
   "final AS ("
   "SELECT o_orderstatus, p FROM base "
   "WHERE o_orderkey % 3 <> 0 AND o_orderkey % 2 <> 0 "
   "UNION ALL SELECT o_orderstatus, CAST(p + 10.00 AS DECIMAL(18,2)) "
   "FROM base WHERE o_orderkey % 2 = 0) "
   "SELECT 'st:' || o_orderstatus AS label, "
   "CAST(COUNT(*) AS BIGINT) AS n_rows, "
   "CAST(SUM(p) AS DOUBLE) AS total_price FROM final GROUP BY 1 "
   "UNION ALL SELECT 'stat:version', CAST(2 AS BIGINT), "
   "CAST(NULL AS DOUBLE) "
   "UNION ALL SELECT 'stat:updated', (SELECT CAST(COUNT(*) AS BIGINT) "
   "FROM base WHERE o_orderkey % 3 <> 0 AND o_orderkey % 2 = 0), "
   "CAST(NULL AS DOUBLE) "
   "UNION ALL SELECT 'stat:deleted', CAST(0 AS BIGINT), "
   "CAST(NULL AS DOUBLE) "
   "UNION ALL SELECT 'stat:inserted', (SELECT CAST(COUNT(*) AS BIGINT) "
   "FROM base WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 = 0), "
   "CAST(NULL AS DOUBLE)")
def merge_upsert_sql(spark, sf):
    """SQL ``MERGE INTO`` through the session's statement table
    (``MuraSession.sql`` — the upsert verb mura's CreateTable
    IR implies but never wired, reference
    ``src/planner/logicalplan.rs:260-272``): register a versioned
    table holding the 2/3 o_orderkey slice of orders, MERGE the
    even-key half (prices bumped +$10) with ``WHEN MATCHED THEN
    UPDATE SET * WHEN NOT MATCHED THEN INSERT *``, then read the
    merged table back. The result pins (a) the per-status rollup of
    the merged relation against DuckDB computing the same upsert in
    set algebra, and (b) the router's stats row — version stamp and
    exact updated/deleted/inserted counts, which would shift if the
    matched/not-matched split ever misclassified a row. The merge
    underneath is a partition-pruned COW join (O(touched files)),
    never a table rewrite."""
    import os
    import shutil

    from mura_spark.session import MuraSession
    from mura_spark.sources.table_format import MuraTable
    base = (table(spark, sf, "orders")
            .select("o_orderkey", "o_orderstatus",
                    F.col("o_totalprice").cast("decimal(18,2)")
                     .alias("p")))
    path = ("/tmp/mura_suite_merge_upsert_"
            + os.path.basename(os.path.normpath(sf)))
    shutil.rmtree(path, ignore_errors=True)
    MuraTable.create(spark, path,
                     base.filter(F.col("o_orderkey") % 3 != 0))
    ms = MuraSession(spark)
    ms.create_external_table("merge_orders", path, file_type="mura")
    ms.catalog.register_dataframe(
        "merge_updates",
        base.filter(F.col("o_orderkey") % 2 == 0)
            .withColumn("p", (F.col("p") + F.lit(10.00))
                        .cast("decimal(18,2)")))
    stats = ms.sql(
        "MERGE INTO merge_orders AS t USING merge_updates AS s "
        "ON t.o_orderkey = s.o_orderkey "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *")
    ms.catalog.drop("merge_orders")
    ms.catalog.drop("merge_updates")
    rollup = (MuraTable.load(spark, path).read()
              .groupBy("o_orderstatus")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                   F.sum("p").cast("double").alias("total_price"))
              .select(F.concat(F.lit("st:"), "o_orderstatus")
                      .alias("label"), "n_rows", "total_price"))
    nul = F.lit(None).cast("double").alias("total_price")
    statrows = None
    for lbl, c in [("stat:version", "version"),
                   ("stat:updated", "rows_updated"),
                   ("stat:deleted", "rows_deleted"),
                   ("stat:inserted", "rows_inserted")]:
        row = stats.select(F.lit(lbl).alias("label"),
                           F.col(c).cast("bigint").alias("n_rows"),
                           nul)
        statrows = row if statrows is None else statrows.unionAll(row)
    return rollup.unionAll(statrows)


@q("table_constraints_gate",
   "WITH sel AS (SELECT l_quantity FROM lineitem "
   "WHERE l_orderkey % 4 IN (1, 2)) "
   "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, "
   "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
   "CAST(2 AS BIGINT) AS version, CAST(1 AS INT) AS n_constraints, "
   "CAST(1 AS INT) AS bad_append_rejected, "
   "CAST(1 AS INT) AS bad_constraint_refused FROM sel")
def table_constraints_gate(spark, sf):
    """CHECK constraints as write-time data-quality gates (the Delta
    CHECK contract on the versioned descendant of mura's CreateTable
    IR, reference ``src/planner/logicalplan.rs:260-272``): create with
    ``CHECK (l_quantity > 0)`` from one lineitem slice, append a
    clean slice (passes — NULL quantities pass too, the SQL rule),
    then (a) attempt a violating append, which must fail the job
    executor-side WITHOUT publishing (version and rollup stand), and
    (b) attempt to ADD a constraint existing rows already violate,
    which must refuse after its one validation scan. The result pins
    the surviving table's exact rollup + version + constraint count
    against the parquet ground truth, plus both rejection flags — a
    constraint gate that silently let either write through would
    shift the rollup or the version."""
    import os
    import shutil

    from mura_spark.sources.table_format import MuraTable
    li = (table(spark, sf, "lineitem")
          .select("l_orderkey", "l_linenumber",
                  F.col("l_quantity").cast("decimal(18,2)")
                   .alias("l_quantity"),
                  F.col("l_extendedprice").cast("decimal(18,2)")
                   .alias("l_extendedprice")))
    path = ("/tmp/mura_suite_constraints_"
            + os.path.basename(os.path.normpath(sf)))
    shutil.rmtree(path, ignore_errors=True)
    t = MuraTable.create(
        spark, path, li.filter(F.col("l_orderkey") % 4 == 1),
        constraints={"qty_positive": "l_quantity > 0"})
    t.append(li.filter(F.col("l_orderkey") % 4 == 2))
    bad_append = 0
    try:
        t.append(li.filter(F.col("l_orderkey") % 4 == 2).limit(50)
                   .withColumn("l_quantity",
                               F.lit(-5).cast("decimal(18,2)")))
    except Exception as e:  # noqa: BLE001 — the gate marker is the pin
        bad_append = int("[mura constraint]" in str(e))
    bad_add = 0
    try:
        t.add_constraint("price_floor", "l_extendedprice > 1000000.0")
    except ValueError as e:
        bad_add = int("existing row violates" in str(e))
    return (t.read()
             .agg(F.count(F.lit(1)).alias("n_rows"),
                  F.sum("l_quantity").cast("double").alias("sum_qty"))
             .select("n_rows", "sum_qty",
                     F.lit(t._manifest()["version"]).cast("bigint")
                      .alias("version"),
                     F.lit(len(t.constraints())).cast("int")
                      .alias("n_constraints"),
                     F.lit(bad_append).cast("int")
                      .alias("bad_append_rejected"),
                     F.lit(bad_add).cast("int")
                      .alias("bad_constraint_refused")))


@q("table_clone_divergence",
   "WITH base AS (SELECT p_partkey, p_size, "
   "CAST(p_retailprice AS DECIMAL(18,2)) AS p FROM part), "
   "src_head AS (SELECT p FROM base WHERE p_size >= 10), "
   "clone_head AS (SELECT CASE WHEN p_size > 40 "
   "THEN CAST(p + 5.00 AS DECIMAL(18,2)) ELSE p END AS p FROM base), "
   "clone_v1 AS (SELECT p FROM base) "
   "SELECT 'src_head' AS label, CAST(COUNT(*) AS BIGINT) AS n_rows, "
   "CAST(SUM(p) AS DOUBLE) AS total_price FROM src_head "
   "UNION ALL SELECT 'clone_head', CAST(COUNT(*) AS BIGINT), "
   "CAST(SUM(p) AS DOUBLE) FROM clone_head "
   "UNION ALL SELECT 'clone_v1', CAST(COUNT(*) AS BIGINT), "
   "CAST(SUM(p) AS DOUBLE) FROM clone_v1")
def table_clone_divergence(spark, sf):
    """Zero-copy CLONE independence (Delta shallow-clone semantics via
    hard links — the dev-branch workflow): build a two-commit source
    from part, clone it, then mutate BOTH sides — COW DELETE small
    parts on the source, COW UPDATE (+$5 on large parts) on the clone.
    The result pins three rollups against parquet ground truth: the
    source head (delete applied, clone's update invisible), the clone
    head (update applied, source's delete invisible), and the clone's
    version 1 (the clone's own time travel still reaches the shared
    snapshot). Any sharing leak — a clone commit touching source
    manifests, or a COW rewrite mutating a hard-linked file in place
    instead of writing a new one — shifts a rollup. No bytes move at
    clone time (O(files) metadata), so branching a 100 TB table is
    free."""
    import os
    import shutil

    from mura_spark.sources.table_format import MuraTable
    p = (table(spark, sf, "part")
         .select("p_partkey", "p_size",
                 F.col("p_retailprice").cast("decimal(18,2)")
                  .alias("p")))
    root = ("/tmp/mura_suite_clone_"
            + os.path.basename(os.path.normpath(sf)))
    shutil.rmtree(root, ignore_errors=True)
    src = MuraTable.create(spark, f"{root}/src",
                           p.filter(F.col("p_partkey") % 2 == 0))
    src.append(p.filter(F.col("p_partkey") % 2 == 1))
    clone = src.clone(f"{root}/clone")
    src.delete_where(F.col("p_size") < 10)
    clone.update_where(F.col("p_size") > 40,
                       {"p": "CAST(p + 5.00 AS DECIMAL(18,2))"})
    rollup = lambda df, name: (  # noqa: E731
        df.agg(F.count(F.lit(1)).alias("n_rows"),
               F.sum("p").cast("double").alias("total_price"))
          .select(F.lit(name).alias("label"), "n_rows", "total_price"))
    return (rollup(src.read(), "src_head")
            .unionAll(rollup(clone.read(), "clone_head"))
            .unionAll(rollup(clone.read(version=1), "clone_v1")))


@q("table_lifecycle_maintenance",
   "WITH base AS (SELECT c_custkey, "
   "CAST(c_acctbal AS DECIMAL(18,2)) AS bal FROM customer), "
   "tagged AS (SELECT bal FROM base WHERE c_custkey % 3 IN (0, 1)) "
   "SELECT 'head' AS label, CAST(COUNT(*) AS BIGINT) AS n_rows, "
   "CAST(SUM(bal) AS DOUBLE) AS total_bal, CAST(6 AS BIGINT) "
   "AS version, CAST(1 AS INT) AS vacuum_reclaimed FROM base "
   "UNION ALL SELECT 'tagged', CAST(COUNT(*) AS BIGINT), "
   "CAST(SUM(bal) AS DOUBLE), CAST(6 AS BIGINT), CAST(1 AS INT) "
   "FROM tagged")
def table_lifecycle_maintenance(spark, sf):
    """The versioned table's maintenance lifecycle in one pinned
    sequence — compact, tag, restore, vacuum (the operational verbs
    above mura's CreateTable IR, reference
    ``src/planner/logicalplan.rs:260-272``): build customer in three
    commits (small files), TAG the two-commit snapshot, COMPACT the
    full table (layout-only: the rollup must not move), then simulate
    an incident (+$1000 on every balance) and RESTORE the pre-incident
    version (a metadata commit referencing the compacted files — no
    data copied), and finally VACUUM down to 2 retained versions. The
    result pins: the head rollup == the ORIGINAL parquet ground truth
    (compact changed nothing, restore undid the incident), the tagged
    snapshot still readable AFTER vacuum with its exact two-slice
    rollup (tag retention is GC's hard promise), the version counter
    (create+append+append+compact+update+restore = 6), and that
    vacuum actually reclaimed files (the incident's COW rewrite and
    the pre-compact third append become unreferenced). At 100 TB:
    compact bounds manifest growth, restore is O(1) metadata, vacuum
    is the only byte-deleting operation and tags carve reproducible
    training snapshots out of its retention window."""
    import os
    import shutil

    from mura_spark.sources.table_format import MuraTable
    c = (table(spark, sf, "customer")
         .select("c_custkey",
                 F.col("c_acctbal").cast("decimal(18,2)").alias("bal")))
    path = ("/tmp/mura_suite_lifecycle_"
            + os.path.basename(os.path.normpath(sf)))
    shutil.rmtree(path, ignore_errors=True)
    t = MuraTable.create(spark, path,
                         c.filter(F.col("c_custkey") % 3 == 0))
    t.append(c.filter(F.col("c_custkey") % 3 == 1))          # v2
    t.tag("baseline", version=2)
    t.append(c.filter(F.col("c_custkey") % 3 == 2))          # v3
    t.compact(target_files=2)                                # v4
    t.update_where(F.lit(True),                              # v5
                   {"bal": "CAST(bal + 1000.00 AS DECIMAL(18,2))"})
    t.restore(4)                                             # v6
    reclaimed = t.vacuum(retain_versions=2)
    version = t._manifest()["version"]
    rollup = lambda df, name: (  # noqa: E731
        df.agg(F.count(F.lit(1)).alias("n_rows"),
               F.sum("bal").cast("double").alias("total_bal"))
          .select(F.lit(name).alias("label"), "n_rows", "total_bal",
                  F.lit(version).cast("bigint").alias("version"),
                  F.lit(int(reclaimed > 0)).cast("int")
                   .alias("vacuum_reclaimed")))
    return (rollup(t.read(), "head")
            .unionAll(rollup(t.read(tag="baseline"), "tagged")))


@q("table_bloom_lookup_skipping",
   "WITH o AS (SELECT o_orderkey, o_custkey, "
   "CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders), "
   "mid AS (SELECT (MIN(o_custkey) + MAX(o_custkey)) // 2 AS m FROM o), "
   "spread AS (SELECT o_custkey, "
   "COUNT(DISTINCT o_orderkey % 4) AS ns FROM o GROUP BY 1), "
   "best AS (SELECT MIN(ns) AS mn FROM spread), "
   "needle AS (SELECT COALESCE("
   "(SELECT MAX(o_custkey) FROM spread, best, mid "
   "WHERE ns = mn AND o_custkey <= m), "
   "(SELECT MIN(o_custkey) FROM spread, best WHERE ns = mn)) AS k) "
   "SELECT CAST(n.k AS BIGINT) AS needle_custkey, "
   "CAST(COUNT(*) AS BIGINT) AS n_rows, "
   "CAST(SUM(o.price) AS DOUBLE) AS total_price, "
   "CAST(4 AS INT) AS files_total, "
   "CAST(1 AS INT) AS pruned_by_bloom, "
   "CAST(1 AS INT) AS bloom_beats_minmax "
   "FROM o, needle n WHERE o.o_custkey = n.k GROUP BY 1")
def table_bloom_lookup_skipping(spark, sf):
    """Per-file bloom-filter equality pruning — the needle-in-100 TB
    read path on the versioned descendant of mura's CreateTable IR
    (reference ``src/planner/logicalplan.rs:260-272``): write orders
    as FOUR one-file commits sliced by ``o_orderkey % 4`` with a
    bloom filter tracked on ``o_custkey`` (high-NDV, UNCLUSTERED —
    every file's min/max spans nearly the full custkey range, so
    footer stats alone cannot prune an equality probe). The needle is
    chosen deterministically on BOTH engines as a custkey touching
    the FEWEST slices (preferring the largest such key at or below
    the key-range midpoint, else the smallest), so at least one file
    holds no row for it. The result pins the
    lookup-read's rollup against raw-parquet ground truth (bloom
    pruning must never drop the true file) plus two audited flags:
    the manifest-level lookup pruned at least one file, and it pruned
    STRICTLY more than min/max range skipping alone — the bloom
    earning its 16 KiB. At 100 TB the lookup answers from driver-side
    manifest metadata before the engine lists or opens anything."""
    import os
    import shutil

    from mura_spark.sources.table_format import MuraTable
    o = (table(spark, sf, "orders")
         .select("o_orderkey", "o_custkey",
                 F.col("o_totalprice").cast("decimal(18,2)")
                  .alias("price")))
    # Needle selection in ONE driver action (was three): the key-range
    # midpoint can be computed over `spread` instead of `o` (the groupBy
    # key set contains every distinct custkey, and min/max ignore NULLs
    # identically), so the global (mn, mid) row rides a broadcast
    # cross-join back onto spread and one collect picks the needle.
    # Exchange reuse dedupes the shared spread subtree within the action.
    # Needle value identical to the three-action form by construction.
    spread = (o.groupBy("o_custkey")
               .agg(F.countDistinct(F.col("o_orderkey") % 4)
                     .alias("ns")))
    glob = spread.agg(
        F.min("ns").alias("mn"),
        F.floor((F.min("o_custkey") + F.max("o_custkey")) / 2).alias("m"))
    cand = (spread.crossJoin(F.broadcast(glob))
                  .filter(F.col("ns") == F.col("mn"))
                  .agg(F.max(F.when(F.col("o_custkey") <= F.col("m"),
                                    F.col("o_custkey"))).alias("a"),
                       F.min("o_custkey").alias("b")).collect()[0])
    needle = cand["a"] if cand["a"] is not None else cand["b"]
    # NULL-safe slice routing: a NULL orderkey still lands in a file
    # (slice 0) so the table holds every source row. repartition(1)
    # pins a one-file-per-commit layout so the pruning-audit flags are
    # deterministic — production commits write many files, and both
    # bloom and min/max pruning are per-file regardless of layout.
    slice_of = F.coalesce(F.col("o_orderkey") % 4, F.lit(0))
    path = ("/tmp/mura_suite_bloom_"
            + os.path.basename(os.path.normpath(sf)))
    shutil.rmtree(path, ignore_errors=True)
    t = MuraTable.create(spark, path,
                         o.filter(slice_of == 0).repartition(1),
                         bloom_cols=["o_custkey"])
    for i in (1, 2, 3):
        t.append(o.filter(slice_of == i).repartition(1))
    m = t._manifest()
    files = m["files"]
    range_surv = [f for f in files if MuraTable._file_survives(
        m.get("stats", {}).get(f), {"o_custkey": (needle, needle)})]
    look_surv = [f for f in files if MuraTable._file_survives_lookup(
        m, f, {"o_custkey": needle})]
    return (t.read(lookup={"o_custkey": needle})
             .filter(F.col("o_custkey") == needle)
             .agg(F.count(F.lit(1)).alias("n_rows"),
                  F.sum("price").cast("double").alias("total_price"))
             .select(F.lit(needle).cast("bigint")
                      .alias("needle_custkey"),
                     "n_rows", "total_price",
                     F.lit(len(files)).cast("int").alias("files_total"),
                     F.lit(int(len(look_surv) < len(files)))
                      .cast("int").alias("pruned_by_bloom"),
                     F.lit(int(len(look_surv) < len(range_surv)))
                      .cast("int").alias("bloom_beats_minmax")))


@q("table_schema_evolution",
   "WITH li AS (SELECT CAST(l_quantity AS DECIMAL(18,2)) AS qty, "
   "CAST(l_discount AS DECIMAL(18,2)) AS disc, "
   "COALESCE(l_orderkey % 3, 0) AS s FROM lineitem), "
   "evolved AS (SELECT qty, CASE WHEN s = 1 THEN disc END AS disc "
   "FROM li) "
   "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, "
   "CAST(SUM(qty) AS DOUBLE) AS sum_qty, "
   "CAST(SUM(CASE WHEN disc IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
   "AS n_null_disc, CAST(SUM(disc) AS DOUBLE) AS sum_disc, "
   "CAST(3 AS BIGINT) AS version, CAST(3 AS INT) AS n_cols, "
   "CAST(1 AS INT) AS unmerged_refused, "
   "CAST(1 AS INT) AS type_change_refused FROM evolved")
def table_schema_evolution(spark, sf):
    """ADD-COLUMN schema evolution (the Delta mergeSchema rule on the
    versioned descendant of mura's CreateTable IR, reference
    ``src/planner/logicalplan.rs:260-272``): create lineitem with
    (l_orderkey, qty), evolve by appending a slice that CARRIES a new
    ``disc`` column under ``merge_schema=True``, then append a third
    slice that fills ``disc`` with typed NULL (post-evolution frames
    must carry every table column). Files written before the
    evolution read the new column as typed NULL — the head rollup
    pins exactly which rows carry a discount against raw-parquet
    ground truth. Two gate refusals ride as pinned flags: a new
    column WITHOUT merge_schema must refuse, and a type-changed
    column must refuse even WITH it (evolution is add-only). Both
    refusals happen in schema validation BEFORE any file is written,
    so the version counter (create + 2 surviving appends = 3) is
    itself a pin that failed commits published nothing. At 100 TB an
    evolution rewrites zero bytes — old files are reinterpreted, not
    migrated."""
    import os
    import shutil

    from mura_spark.sources.table_format import MuraTable
    li = (table(spark, sf, "lineitem")
          .select("l_orderkey",
                  F.col("l_quantity").cast("decimal(18,2)")
                   .alias("qty"),
                  F.col("l_discount").cast("decimal(18,2)")
                   .alias("disc"),
                  F.coalesce(F.col("l_orderkey") % 3, F.lit(0))
                   .alias("s")))
    path = ("/tmp/mura_suite_evolve_"
            + os.path.basename(os.path.normpath(sf)))
    shutil.rmtree(path, ignore_errors=True)
    t = MuraTable.create(spark, path,
                         li.filter(F.col("s") == 0)
                           .select("l_orderkey", "qty"))
    unmerged_refused = 0
    try:
        t.append(li.filter(F.col("s") == 1)
                   .select("l_orderkey", "qty", "disc"))
    except ValueError as e:
        unmerged_refused = int("merge_schema" in str(e))
    t.append(li.filter(F.col("s") == 1)                     # v2
               .select("l_orderkey", "qty", "disc"),
             merge_schema=True)
    type_change_refused = 0
    try:
        t.append(li.filter(F.col("s") == 2)
                   .select("l_orderkey",
                           F.col("qty").cast("double").alias("qty"),
                           "disc"),
                 merge_schema=True)
    except ValueError as e:
        type_change_refused = int("type changes are not supported"
                                  in str(e))
    t.append(li.filter(F.col("s") == 2)                     # v3
               .select("l_orderkey", "qty",
                       F.lit(None).cast("decimal(18,2)")
                        .alias("disc")))
    head = t.read()
    return (head.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("qty").cast("double").alias("sum_qty"),
                F.sum(F.when(F.col("disc").isNull(), 1).otherwise(0))
                 .cast("bigint").alias("n_null_disc"),
                F.sum("disc").cast("double").alias("sum_disc"))
            .select("n_rows", "sum_qty", "n_null_disc", "sum_disc",
                    F.lit(t._manifest()["version"]).cast("bigint")
                     .alias("version"),
                    F.lit(len(head.columns)).cast("int")
                     .alias("n_cols"),
                    F.lit(unmerged_refused).cast("int")
                     .alias("unmerged_refused"),
                    F.lit(type_change_refused).cast("int")
                     .alias("type_change_refused")))


@q("table_txn_idempotent_writes",
   "WITH base AS (SELECT c_custkey, "
   "CAST(c_acctbal AS DECIMAL(18,2)) AS bal, "
   "c_custkey % 4 AS s FROM customer) "
   "SELECT 'head' AS label, CAST(COUNT(*) AS BIGINT) AS n_rows, "
   "CAST(SUM(bal) AS DOUBLE) AS total_bal, CAST(4 AS BIGINT) "
   "AS version, CAST(2 AS INT) AS n_replays_skipped "
   "FROM base WHERE s IN (0, 2, 3) "
   "UNION ALL SELECT 'pre_overwrite', CAST(COUNT(*) AS BIGINT), "
   "CAST(SUM(bal) AS DOUBLE), CAST(4 AS BIGINT), CAST(2 AS INT) "
   "FROM base WHERE s IN (0, 1)")
def table_txn_idempotent_writes(spark, sf):
    """Idempotent transactional writes — the blind-retry exactly-once
    contract for BATCH pipelines (Delta's txnAppId/txnVersion on the
    versioned descendant of mura's CreateTable IR, reference
    ``src/planner/logicalplan.rs:260-272``; the streaming sink row
    pins the same promise for streams): every commit carries the
    application's own monotonic version, and a commit stamped at or
    below the app's recorded high-water mark is a REPLAY that must
    commit NOTHING. The sequence: create (v1), append slice 1 as
    txn('etl', 1) (v2), REPLAY txn('etl', 1) with different data —
    skipped; overwrite with slices 2+3 as txn('etl', 2) (v3), REPLAY
    txn('etl', 2) — skipped; append slice 0 as txn('etl', 3) (v4).
    The result pins the head rollup (slices 0, 2, 3 — each exactly
    once: a replay that slipped through would double rows), the
    pre-overwrite snapshot via time travel (slices 0, 1), the version
    counter (4 — skipped replays are not commits), and the two
    skip flags. At 100 TB this is what makes a failed orchestrator
    retry safe without any external dedup bookkeeping."""
    import os
    import shutil

    from mura_spark.sources.table_format import MuraTable
    c = (table(spark, sf, "customer")
         .select("c_custkey",
                 F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
                 (F.col("c_custkey") % 4).alias("s")))
    path = ("/tmp/mura_suite_txn_"
            + os.path.basename(os.path.normpath(sf)))
    shutil.rmtree(path, ignore_errors=True)
    t = MuraTable.create(spark, path, c.filter(F.col("s") == 0))
    v2 = t.append(c.filter(F.col("s") == 1), txn=("etl", 1))
    replay_a = t.append(c.filter(F.col("s") == 2), txn=("etl", 1))
    skip_append = int(replay_a == v2)
    v3 = t.overwrite(c.filter(F.col("s").isin(2, 3)), txn=("etl", 2))
    replay_o = t.overwrite(c.filter(F.col("s") == 0), txn=("etl", 2))
    skip_overwrite = int(replay_o == v3)
    t.append(c.filter(F.col("s") == 0), txn=("etl", 3))      # v4
    version = t._manifest()["version"]
    n_skipped = skip_append + skip_overwrite
    rollup = lambda df, name: (  # noqa: E731
        df.agg(F.count(F.lit(1)).alias("n_rows"),
               F.sum("bal").cast("double").alias("total_bal"))
          .select(F.lit(name).alias("label"), "n_rows", "total_bal",
                  F.lit(version).cast("bigint").alias("version"),
                  F.lit(n_skipped).cast("int")
                   .alias("n_replays_skipped")))
    return (rollup(t.read().drop("s"), "head")
            .unionAll(rollup(t.read(version=2).drop("s"),
                             "pre_overwrite")))


@q("source_federated_join",
   "SELECT r.r_name, CAST(COUNT(DISTINCT n.n_nationkey) AS BIGINT) "
   "AS n_nations, CAST(COUNT(*) AS BIGINT) AS n_suppliers, "
   "CAST(SUM(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) "
   "AS total_acctbal "
   "FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey "
   "JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY 1")
def source_federated_join(spark, sf):
    """Federated multi-format join: supplier from JSONL ⋈ nation from
    CSV ⋈ region from Parquet, one rollup — the every-warehouse
    reality where reference data lives in whatever format its owner
    exports. The two text scans are leaf-size (broadcast); only the
    parquet fact side would scale, and conversion-to-parquet is the
    documented fast path (sources.text_formats.to_parquet)."""
    sup = table(spark, sf, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    jp = "/tmp/mura_suite_fed_supplier"
    TF.write_jsonl(sup, jp, mode="overwrite")
    s = TF.scan_jsonl(spark, jp,
                      schema="s_suppkey bigint, s_name string, "
                             "s_nationkey bigint, s_acctbal double")
    nat = table(spark, sf, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    cp = "/tmp/mura_suite_fed_nation"
    TF.write_csv(nat, cp, mode="overwrite")
    n = TF.scan_csv(spark, cp,
                    schema="n_nationkey bigint, n_name string, "
                           "n_regionkey bigint")
    r = table(spark, sf, "region")
    return (s.join(F.broadcast(n),
                   s["s_nationkey"] == n["n_nationkey"])
             .join(F.broadcast(r),
                   n["n_regionkey"] == r["r_regionkey"])
             .groupBy("r_name")
             .agg(F.countDistinct("n_nationkey").alias("n_nations"),
                  F.count(F.lit(1)).alias("n_suppliers"),
                  F.sum(F.col("s_acctbal").cast("decimal(18,2)"))
                   .cast("double").alias("total_acctbal")))
