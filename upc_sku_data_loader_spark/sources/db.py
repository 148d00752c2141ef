"""Relational DB source/sink (SURVEY §2 A5-A7; reference file:line n/a —
empty tree §0.1; [D] BASELINE.json:7 "DataFrame write to JDBC sink").

The reference's load step is "insert rows into MySQL, upsert by UPC".
Spark has no MERGE mode on ``df.write.jdbc``, so the idempotent upsert
is a ``mapInArrow`` writer executing batched
``INSERT … ON CONFLICT/ON DUPLICATE KEY UPDATE`` through any DB-API
driver.  This machine has no MySQL server and no JDBC jar (SURVEY §7
Phase 4 risk), so:

- the **upsert writer** is dialect-pluggable and fully exercised against
  sqlite (stdlib) — same code path a mysql-connector would take;
- the **jdbc_* wrappers** ship the ``spark.read/write.jdbc`` call
  shape for real clusters but cannot run here (flagged, not hidden).

The writer is a Dataset action: each partition yields its row count and
one ``collect()`` runs them, so ``Observation`` metrics on the written
DataFrame are reported when the write completes (``rdd.foreachPartition``
reports none) — the ETL audit (pipelines/etl.py) rides the write.

Scale notes: one connection per partition (NOT per row); Arrow columns
become DB-API tuples in batches of ``batch_size`` via ``executemany``;
idempotent by primary key so Spark task retries are safe (at-least-once
execution → exactly-once state).
Partition count bounds DB connection fan-in — ``coalesce`` before
writing to stay under the server's connection budget.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

#: connection_factory() -> DB-API connection (e.g. functools.partial(sqlite3.connect, path))
ConnFactory = Callable[[], Any]


def upsert_sql(dialect: str, table: str, cols: list[str], key_cols: list[str]) -> str:
    """Dialect-specific idempotent upsert statement with ? / %s params."""
    collist = ", ".join(cols)
    non_key = [c for c in cols if c not in key_cols]
    if dialect == "sqlite":
        ph = ", ".join("?" for _ in cols)
        sets = ", ".join(f"{c}=excluded.{c}" for c in non_key)
        keys = ", ".join(key_cols)
        return (
            f"INSERT INTO {table} ({collist}) VALUES ({ph}) "
            f"ON CONFLICT({keys}) DO UPDATE SET {sets}"
        )
    if dialect == "mysql":
        ph = ", ".join("%s" for _ in cols)
        sets = ", ".join(f"{c}=VALUES({c})" for c in non_key)
        return (
            f"INSERT INTO {table} ({collist}) VALUES ({ph}) "
            f"ON DUPLICATE KEY UPDATE {sets}"
        )
    if dialect == "postgres":
        ph = ", ".join("%s" for _ in cols)
        sets = ", ".join(f"{c}=EXCLUDED.{c}" for c in non_key)
        keys = ", ".join(key_cols)
        return (
            f"INSERT INTO {table} ({collist}) VALUES ({ph}) "
            f"ON CONFLICT ({keys}) DO UPDATE SET {sets}"
        )
    raise ValueError(f"unknown dialect {dialect!r}")


def _py_values(col: pa.Array) -> list:
    """An Arrow column as the Python values ``Row`` fields carry: a
    zone-aware timestamp becomes a naive local datetime, as Spark's
    ``TimestampType.fromInternal`` makes it; every other type converts as is."""
    if pa.types.is_timestamp(col.type) and col.type.tz is not None:
        return [v and v.astimezone().replace(tzinfo=None) for v in col.to_pylist()]
    return col.to_pylist()


def db_sink_upsert(
    df: DataFrame,
    conn_factory: ConnFactory,
    table: str,
    key_cols: list[str],
    dialect: str = "sqlite",
    batch_size: int = 1000,
    max_connections: int = 8,
) -> int:
    """A7: idempotent upsert of ``df`` keyed by ``key_cols``; returns the
    number of rows written.

    Safe under Spark task retries (re-running a partition rewrites the
    same final state).  ``max_connections`` caps DB fan-in.
    """
    cols = df.columns
    sql = upsert_sql(dialect, table, cols, key_cols)

    def write_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        written = 0
        conn = conn_factory()
        try:
            cur = conn.cursor()
            for rb in batches:
                rows = list(zip(*(_py_values(rb.column(c)) for c in cols)))
                for i in range(0, len(rows), batch_size):
                    cur.executemany(sql, rows[i : i + batch_size])
                    conn.commit()
                written += len(rows)
        finally:
            conn.close()
        yield pa.RecordBatch.from_pydict({"rows": [written]})

    counts = df.coalesce(max_connections).mapInArrow(write_partition, "rows long")
    return sum(r["rows"] for r in counts.collect())


def db_source(
    spark: SparkSession, conn_factory: ConnFactory, sql: str, schema: str
) -> DataFrame:
    """A5 (DB-API fallback): read a query result into a DataFrame.

    Driver-side fetch → ``createDataFrame`` — right for small worklists
    and existing-key snapshots.  For large tables on a cluster, use
    ``jdbc_source`` (partitioned parallel read) instead.
    """
    conn = conn_factory()
    try:
        cur = conn.cursor()
        cur.execute(sql)
        rows = cur.fetchall()
    finally:
        conn.close()
    return spark.createDataFrame(rows, schema=schema)


def jdbc_source(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str],
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """A5: partitioned parallel JDBC read.  Locally exercised against
    the embedded Derby driver on Spark's own classpath (see
    plans/sources_sinks.py:a6_jdbc_sink_append); on a cluster, point
    the URL + driver at MySQL/Postgres."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in properties.items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()


def jdbc_sink_append(
    df: DataFrame, url: str, table: str, properties: dict[str, str]
) -> None:
    """A6: bulk append via Spark's JDBC writer.  Exercised for real
    against embedded Derby (driver ships on Spark's classpath) by the
    a6_jdbc_sink_append registry entry; one connection per DataFrame
    partition, batched inserts."""
    df.write.mode("append").format("jdbc").option("url", url).option(
        "dbtable", table
    ).options(**properties).save()
