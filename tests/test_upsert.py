"""DB upsert sink (A7) semantics: idempotence and last-write-wins
(SURVEY §5.3.3 — apply batch twice ⇒ same table state)."""

from __future__ import annotations

import datetime as dt
import functools
import sqlite3
from decimal import Decimal

from upc_sku_data_loader_spark.sources.db import db_sink_upsert, db_source, upsert_sql


def _table_state(path: str) -> list[tuple]:
    conn = sqlite3.connect(path)
    try:
        return sorted(conn.execute("SELECT * FROM t").fetchall())
    finally:
        conn.close()


def test_upsert_idempotent_and_updates(spark, tmp_path):
    db = str(tmp_path / "t.sqlite")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT, x REAL)")
    conn.commit()
    conn.close()
    factory = functools.partial(sqlite3.connect, db, timeout=60.0)

    batch1 = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5)], "k bigint, v string, x double"
    )
    sink = functools.partial(
        db_sink_upsert, conn_factory=factory, table="t", key_cols=["k"],
        dialect="sqlite", max_connections=2,
    )
    assert sink(batch1) == 3
    state1 = _table_state(db)
    assert sink(batch1) == 3  # replay the same batch (simulates a task retry)
    assert _table_state(db) == state1

    assert sink(spark.createDataFrame([(2, "B", 9.0), (4, "d", 4.5)], batch1.schema)) == 2
    assert _table_state(db) == [
        (1, "a", 1.5), (2, "B", 9.0), (3, "c", 3.5), (4, "d", 4.5)
    ]

    got = db_source(spark, factory, "SELECT k, v, x FROM t", "k bigint, v string, x double")
    assert got.count() == 4


def test_upsert_arrow_values_match_row_path(spark, tmp_path):
    """The Arrow writer stores what the old per-``Row`` writer stored:
    NULLs, booleans, zone-aware and naive timestamps, decimals, dates."""

    def decimal_conn(path: str) -> sqlite3.Connection:  # local: ships by value
        sqlite3.register_adapter(Decimal, str)  # sqlite binds no Decimal natively
        return sqlite3.connect(path, timeout=60.0)

    df = spark.createDataFrame(
        [
            (1, True, dt.datetime(2024, 3, 9, 12, 30, 45, 123456),
             dt.datetime(2024, 3, 9, 1, 2, 3), Decimal("12.34"), dt.date(2024, 3, 9), "a"),
            (2, None, None, None, None, None, None),
            (3, False, dt.datetime(1969, 12, 31, 23, 59, 59),
             dt.datetime(1900, 1, 1), Decimal("-0.01"), dt.date(1970, 1, 1), "ü"),
        ],
        "k bigint, flag boolean, ts timestamp, ntz timestamp_ntz, "
        "amt decimal(10,2), d date, s string",
    ).repartition(2)
    rows_db, arrow_db = str(tmp_path / "rows.sqlite"), str(tmp_path / "arrow.sqlite")
    for path in (rows_db, arrow_db):
        conn = decimal_conn(path)
        conn.execute("CREATE TABLE t (k INTEGER PRIMARY KEY, flag, ts, ntz, amt, d, s)")
        if path == rows_db:  # the old writer: one tuple of Row fields per row
            sql = upsert_sql("sqlite", "t", df.columns, ["k"])
            conn.executemany(sql, [tuple(r[c] for c in df.columns) for r in df.collect()])
        conn.commit()
        conn.close()
    factory = functools.partial(decimal_conn, arrow_db)
    assert db_sink_upsert(df, conn_factory=factory, table="t", key_cols=["k"]) == 3

    def state(path: str) -> list[tuple]:
        conn = sqlite3.connect(path)
        try:
            return conn.execute("SELECT *, typeof(ts), typeof(amt) FROM t ORDER BY k").fetchall()
        finally:
            conn.close()

    assert state(arrow_db) == state(rows_db)
    assert state(arrow_db)[0][1:3] == (1, "2024-03-09 12:30:45.123456")


def test_upsert_sql_dialects():
    sql = upsert_sql("mysql", "prod", ["upc", "sku", "price"], ["upc"])
    assert "ON DUPLICATE KEY UPDATE" in sql and "sku=VALUES(sku)" in sql
    sql = upsert_sql("postgres", "prod", ["upc", "sku"], ["upc"])
    assert "ON CONFLICT (upc) DO UPDATE" in sql
    sql = upsert_sql("sqlite", "prod", ["upc", "sku"], ["upc"])
    assert "ON CONFLICT(upc) DO UPDATE" in sql and "excluded.sku" in sql
