"""Catalog tests — external table registration + the ns-timestamp fix
(the part of the reference that was left broken: its catalog is always
empty, src/main.rs:41, so SELECT panics)."""

import pyspark.sql.types as T
import pytest

from mura_spark.catalog import Catalog, register_sf_dir


@pytest.fixture()
def catalog(spark):
    return Catalog(spark)


def test_register_and_query(catalog, spark, sf_dir):
    info = catalog.create_external_table("cat_nation", f"{sf_dir}/nation.parquet")
    assert info.file_type == "parquet"
    assert catalog.fetch_table_info("cat_nation") is not None
    assert spark.sql("SELECT count(*) AS n FROM cat_nation").first().n == 25


def test_explicit_schema_read(catalog, spark, sf_dir):
    schema = T.StructType([
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ])
    catalog.create_external_table("cat_region", f"{sf_dir}/region.parquet",
                                  schema=schema)
    assert catalog.table("cat_region").schema == schema


def test_missing_table(catalog):
    assert catalog.fetch_table_info("ghost") is None
    with pytest.raises(KeyError):
        catalog.table("ghost")


def test_unsupported_file_type(catalog):
    with pytest.raises(ValueError, match="avro"):
        catalog.create_external_table("x", "/tmp/x", file_type="avro")


def test_register_dataframe(catalog, spark):
    df = spark.range(3)
    catalog.register_dataframe("cat_mem", df)
    assert spark.table("cat_mem").count() == 3
    catalog.drop("cat_mem")
    assert catalog.fetch_table_info("cat_mem") is None


def test_ns_timestamp_events(catalog, sf_dir):
    """events.parquet stores TIMESTAMP(NANOS); the catalog must surface a
    proper µs timestamp column (truncated, matching DuckDB's read)."""
    catalog.create_external_table("cat_events", f"{sf_dir}/events.parquet")
    schema = dict(catalog.table("cat_events").dtypes)
    assert schema["ts"] == "timestamp"
    import duckdb
    expected = duckdb.sql(
        f"SELECT max(ts) FROM '{sf_dir}/events.parquet'").fetchone()[0]
    got = catalog.table("cat_events").agg({"ts": "max"}).first()[0]
    assert got == expected


def test_register_sf_dir(spark, sf_dir):
    names = register_sf_dir(spark, sf_dir, names=["region", "nation"])
    assert names == ["nation", "region"]
    assert spark.table("region").count() == 5


def test_reference_ddl_dialect_on_reference_sample(session, tmp_path):
    """The reference's documented DDL (CREATE EXTERNAL TABLE ... STORED AS
    PARQUET LOCATION, src/parser/mod.rs:26-28) must work against a
    sample shaped like its userdata1.parquet, including null handling
    (the sample contains nulls)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F
    path = str(tmp_path / "userdata1.parquet")
    pq.write_table(pa.table({
        "id": pa.array(range(1, 1001), pa.int32()),
        "first_name": [None if i % 50 == 0 else f"name{i}"
                       for i in range(1000)],
        "salary": [None if i % 13 == 0 else 1000.0 + i
                   for i in range(1000)]}), path)
    session.sql("DROP TABLE IF EXISTS userdata")
    session.sql(
        "CREATE EXTERNAL TABLE userdata STORED AS PARQUET "
        f"LOCATION '{path}'")
    df = session.sql("SELECT id, first_name, salary FROM userdata")
    assert df.count() == 1000
    n_null = session.sql(
        "SELECT count(*) AS n FROM userdata WHERE salary IS NULL").first().n
    assert n_null > 0
    assert (df.filter(F.col("salary").isNull()).count() == n_null)
    session.sql("DROP TABLE IF EXISTS userdata")


def test_insert_into_external_table_roundtrip(session, spark, tmp_path):
    """INSERT INTO over an external parquet table: appended rows must be
    visible on re-read — the write half of the catalog lifecycle the
    reference never reached (its catalog stayed empty, src/main.rs:41)."""
    import pyspark.sql.functions as F
    src = str(tmp_path / "t.parquet")
    spark.range(3).select(F.col("id").alias("k")).write.parquet(src)
    session.create_external_table("ins_t", src)
    session.sql("INSERT INTO ins_t SELECT 99 AS k")
    got = sorted(r.k for r in session.sql("SELECT k FROM ins_t").collect())
    assert got == [0, 1, 2, 99]


def test_create_view_over_external_table(session, spark, tmp_path):
    import pyspark.sql.functions as F
    src = str(tmp_path / "v.parquet")
    spark.range(10).select(F.col("id").alias("k")).write.parquet(src)
    session.create_external_table("view_base", src)
    session.sql("CREATE OR REPLACE TEMP VIEW big_k AS "
                "SELECT k FROM view_base WHERE k >= 7")
    assert session.sql("SELECT COUNT(*) AS n FROM big_k").first().n == 3
