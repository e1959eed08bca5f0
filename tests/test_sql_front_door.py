"""``MuraSession.sql``'s front door: every routed statement, time travel
and ``table_changes`` resolve registered names the way Spark resolves
the temp view (case-insensitively), and no query leaves a view behind."""

from __future__ import annotations

import pytest

from mura_spark.sources.table_format import MuraTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, val string")


def _views(spark):
    return sorted(t.name for t in spark.catalog.listTables())


def test_every_statement_resolves_a_mixed_case_name(spark, tmp_path):
    from mura_spark.session import MuraSession
    ms = MuraSession(spark)
    path = str(tmp_path / "t")
    t = MuraTable.create(spark, path, _df(spark, [(1, "a"), (2, "b"),
                                                   (3, "c")]), cdf=True)
    t.tag("gold")
    t.append(_df(spark, [(4, "d")]))  # version 2
    ms.create_external_table("Orders", path, file_type="mura")
    ms.catalog.register_dataframe(
        "fd_src", _df(spark, [(3, "C"), (5, "e")]))
    assert ms.catalog.tables() == ["Orders", "fd_src"]

    reads = [
        ("SELECT count(*) AS n FROM orders VERSION AS OF 1", {"n": 3}),
        ("SELECT count(*) AS n FROM orders FOR TAG 'gold'", {"n": 3}),
        ("SELECT count(*) AS n FROM table_changes('orders', 1)", {"n": 1}),
        ("SELECT '{x}' AS s FROM orders VERSION AS OF 1 LIMIT 1",
         {"s": "{x}"}),
        ("SELECT cur.k FROM orders cur LEFT ANTI JOIN "
         "ORDERS VERSION AS OF 1 old ON cur.k = old.k", {"k": 4}),
    ]
    before = _views(spark)
    for sql, want in reads:
        row = ms.sql(sql).first()
        assert {c: row[c] for c in want} == want, sql
    assert _views(spark) == before
    assert ms.table_at("orders", 1).count() == 3
    assert ms.table_at("ORDERS", "gold").count() == 3

    clone = str(tmp_path / "dev")
    statements = [
        ("DELETE FROM orders WHERE k = 1",
         {"version": 3, "rows_affected": 1}),
        ("UPDATE orders SET val = 'z' WHERE k = 2",
         {"version": 4, "rows_affected": 1}),
        ("MERGE INTO orders USING fd_src ON orders.k = fd_src.k "
         "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
         {"version": 5, "rows_updated": 1, "rows_inserted": 1}),
        ("SELECT count(*) AS n FROM Orders", {"n": 4}),
        ("ALTER TABLE orders ADD CONSTRAINT k_pos CHECK (k > 0)",
         {"version": 6, "constraint": "k_pos"}),
        ("ALTER TABLE orders DROP CONSTRAINT k_pos",
         {"version": 7, "constraint": "k_pos"}),
        ("DESCRIBE HISTORY orders", {"version": 1, "action": "create"}),
        ("RESTORE TABLE orders TO VERSION AS OF 2",
         {"version": 8, "restored_from": 2}),
        ("SELECT count(*) AS n FROM orders WHERE k = 1", {"n": 1}),
        (f"CREATE TABLE orders_dev CLONE orders VERSION AS OF 5 "
         f"LOCATION '{clone}'", {"table": "orders_dev", "rows": 4}),
        ("OPTIMIZE orders", {"version": 9, "files": 1}),
        ("VACUUM orders RETAIN 1 VERSIONS", {}),
    ]
    for sql, want in statements:
        row = ms.sql(sql).first()
        assert {c: row[c] for c in want} == want, sql
    assert ms.table("orders_dev").count() == 4
    # VACUUM ran on the table: version 2 is gone, the tagged one kept
    with pytest.raises(ValueError):
        ms.table_at("orders", 2)
    assert ms.table_at("orders", "gold").count() == 3
    assert sorted(ms.table("Orders").collect()) == sorted(
        ms.table_at("orders", 9).collect())


def test_sql_reads_the_head_after_every_commit_path(spark, tmp_path,
                                                    monkeypatch):
    """A registered mura name re-binds at its head on lookup, whoever
    committed: the API (with a schema change), the stream sink, a view
    refresh, or another session. A SQL DELETE lists the table's log
    twice (the lookup and the commit) and reads the table once."""
    from mura_spark.session import MuraSession
    from mura_spark.sources.incremental_view import IncrementalAggView
    from mura_spark.sources.table_stream import register
    register(spark)
    ms = MuraSession(spark)
    path, view_path = str(tmp_path / "t"), str(tmp_path / "v")
    t = MuraTable.create(spark, path, _df(spark, [(1, "a"), (2, "b")]))
    view_src = MuraTable.create(spark, str(tmp_path / "vs"),
                                _df(spark, [(1, "a")]))
    view = IncrementalAggView.create(spark, view_path, view_src,
                                     keys=["val"],
                                     aggs={"n": ("count", "k")})
    ms.create_external_table("hb_t", path, file_type="mura")
    ms.create_external_table("hb_v", view_path, file_type="mura")

    def sees_head(name, location):
        head = MuraTable.load(spark, location).read()
        assert ms.sql(f"SELECT count(*) AS n FROM {name}").first().n \
            == head.count()
        assert sorted(ms.catalog.table(name).collect()) \
            == sorted(head.collect())
        assert ms.catalog.fetch_table_info(name) == head.schema

    wide = "k long, val string, extra string"
    t.append(spark.createDataFrame([(3, "c", "x")], wide),
             merge_schema=True)
    sees_head("hb_t", path)
    assert "extra" in ms.catalog.table("hb_t").columns

    src = str(tmp_path / "src")
    MuraTable.create(spark, src, spark.createDataFrame([(4, "d", "y")],
                                                       wide))
    assert (spark.readStream.format("mura_table").option("path", src)
            .load().writeStream.format("mura_table").option("path", path)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True).start().awaitTermination(120))
    sees_head("hb_t", path)

    view_src.append(_df(spark, [(2, "b")]))
    assert view.refresh().mode != "noop"
    sees_head("hb_v", view_path)

    other = MuraSession(spark.newSession())
    other.create_external_table("hb_t", path, file_type="mura")
    other.sql("DELETE FROM hb_t WHERE k = 1")
    sees_head("hb_t", path)

    calls = []
    versions, read = MuraTable._versions, MuraTable.read
    monkeypatch.setattr(MuraTable, "_versions", lambda self:
                        calls.append("_versions") or versions(self))
    monkeypatch.setattr(MuraTable, "read", lambda self, *a, **kw:
                        calls.append("read") or read(self, *a, **kw))
    ms.sql("DELETE FROM hb_t WHERE k = 2")
    assert sorted(calls) == ["_versions", "_versions", "read"]
    monkeypatch.undo()
    sees_head("hb_t", path)


def test_sql_frames_reuse_the_lookup_of_sql(spark, tmp_path, monkeypatch):
    """A ``t VERSION AS OF n`` frame takes the catalog entry ``sql``
    bound and opens manifest n directly: the log is listed once, by
    that lookup. ``table_changes('t', n)`` lists it once more, for the
    feed's head version."""
    from mura_spark.session import MuraSession
    ms = MuraSession(spark)
    path = str(tmp_path / "t")
    t = MuraTable.create(spark, path,
                         _df(spark, [(k, "a") for k in range(10)]))
    t.append(_df(spark, [(10, "b")]))
    ms.create_external_table("lc_t", path, file_type="mura")
    calls = []
    versions = MuraTable._versions
    monkeypatch.setattr(MuraTable, "_versions", lambda self:
                        calls.append("_versions") or versions(self))
    assert ms.sql("SELECT count(*) AS n FROM lc_t VERSION AS OF 1") \
        .first().n == 10
    assert calls == ["_versions"]
    calls.clear()
    assert ms.sql("SELECT count(*) AS n FROM table_changes('lc_t', 1)") \
        .first().n == 1
    assert calls == ["_versions", "_versions"]
