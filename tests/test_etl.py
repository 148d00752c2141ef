"""The reference's whole load (pipelines/etl.load_upcs): the audit it
returns, the Spark jobs it launches, and a sink that fails mid-load and
is then replayed (SURVEY §3.2 step 5, load accounting)."""

from __future__ import annotations

import functools
import json
import sqlite3

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from upc_sku_data_loader_spark.pipelines.etl import load_upcs
from upc_sku_data_loader_spark.sources.rest_api import fake_transport

DDL = (
    "CREATE TABLE products (upc TEXT PRIMARY KEY, sku TEXT, brand TEXT, "
    "price REAL, in_stock INTEGER)"
)
A, B, C, D = "0036000291452", "0012345678905", "0042100005264", "0070847811169"
SEED = "0999999999999"  # in the target, never in the worklist

#: name -> (raw worklist, existing keys, expected audit, keys the load adds)
CASES = {
    # four raw formats, NULLs, duplicates in another format, existing keys
    "messy": (
        ["0360-00291452", "  012345678905 ", "042100005264", D, None, A, None, "0123-45678905"],
        [C, SEED],
        {"worklist_rows": 8, "delta_rows": 3, "skipped_existing": 1},
        [A, B, D],
    ),
    "empty": ([], [SEED], {"worklist_rows": 0, "delta_rows": 0, "skipped_existing": 0}, []),
    "all_existing": (
        ["0360-00291452", "036000291452", C],
        [A, C, SEED],
        {"worklist_rows": 3, "delta_rows": 0, "skipped_existing": 2},
        [],
    ),
    # no valid key: the stage after the raw-row observation runs empty
    "all_null": ([None, None], [SEED], {"worklist_rows": 2, "delta_rows": 0, "skipped_existing": 0}, []),
}


def _payload(upc: str) -> tuple:
    """The sqlite row ``fake_transport`` yields for ``upc``."""
    r = json.loads(fake_transport(f"http://x/p?upcs={upc}"))
    return (r["upc"], r["sku"], r["brand"], r["price"], int(r["in_stock"]))


def _seeded(key: str) -> tuple:
    return (key, "OLD", "Brand#old", 1.0, 0)


def _inputs(spark, tmp_path, raw: list, existing: list[str]):
    """Parquet worklist + existing keys (as the load reads them in
    production) and a target pre-seeded with the existing keys."""
    pq.write_table(pa.table({"upc_raw": pa.array(raw, pa.string())}), tmp_path / "w.parquet")
    pq.write_table(pa.table({"upc": pa.array(existing, pa.string())}), tmp_path / "e.parquet")
    db = str(tmp_path / "target.sqlite")
    conn = sqlite3.connect(db)
    conn.execute(DDL)
    conn.executemany("INSERT INTO products VALUES (?, ?, ?, ?, ?)", [_seeded(k) for k in existing])
    conn.commit()
    conn.close()
    worklist = spark.read.parquet(str(tmp_path / "w.parquet"))
    keys = spark.read.parquet(str(tmp_path / "e.parquet"))
    return worklist, keys, db


def _target(db: str) -> list[tuple]:
    conn = sqlite3.connect(db)
    try:
        return sorted(conn.execute("SELECT * FROM products").fetchall())
    finally:
        conn.close()


@pytest.mark.parametrize("case", list(CASES))
def test_load_upcs_audit_and_job_count(spark, tmp_path, case):
    raw, existing, want_audit, added = CASES[case]
    worklist, keys, db = _inputs(spark, tmp_path, raw, existing)
    sc = spark.sparkContext
    rules = spark.conf.get("spark.sql.adaptive.optimizer.excludedRules", None)
    group = f"test-etl-{case}"
    sc.setJobGroup(group, group)
    try:
        audit = load_upcs(worklist, keys, functools.partial(sqlite3.connect, db, timeout=60))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert audit == want_audit
    assert _target(db) == sorted([_seeded(k) for k in existing] + [_payload(k) for k in added])
    # the load is one action: no audit count() or page-sizing pass
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
    assert spark.conf.get("spark.sql.adaptive.optimizer.excludedRules", None) == rules


def test_load_upcs_sink_failure_then_idempotent_replay(spark, tmp_path):
    """A sink that fails mid-load makes the load raise, leaks no cached
    blocks, and a replay with a working sink yields the reference state."""

    def flaky_conn(path: str):  # local: ships to the workers by value
        class Cursor:
            def __init__(self, cur):
                self.cur, self.calls = cur, 0

            def executemany(self, sql, rows):
                self.calls += 1
                if self.calls > 1:
                    raise sqlite3.OperationalError("injected sink failure")
                self.cur.executemany(sql, rows)

        class Conn:
            def __init__(self):
                self.conn = sqlite3.connect(path, timeout=60)

            def cursor(self):
                return Cursor(self.conn.cursor())

            def commit(self):
                self.conn.commit()

            def close(self):
                self.conn.close()

        return Conn()

    # 5000 new keys over at most 4 writer partitions: some partition
    # holds more than one 1000-row batch, so its second batch fails
    new = [f"{i:013d}" for i in range(10**12, 10**12 + 5000)]
    existing = [new[0], SEED]
    worklist, keys, db = _inputs(spark, tmp_path, new + [None, new[1]], existing)
    want = sorted([_seeded(k) for k in existing] + [_payload(k) for k in new[1:]])
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo
    cached_before = {info.id() for info in storage()}

    with pytest.raises(Exception, match="injected sink failure"):
        load_upcs(worklist, keys, functools.partial(flaky_conn, db))
    assert {info.id() for info in storage()} <= cached_before
    assert len(existing) < len(_target(db)) < len(want)  # partly written

    audit = load_upcs(worklist, keys, functools.partial(sqlite3.connect, db, timeout=60))
    assert audit == {"worklist_rows": 5002, "delta_rows": 4999, "skipped_existing": 1}
    assert _target(db) == want
