"""Tests of the benchmark itself: seeded generators, a tiny traced smoke
of every workload, corrupted results, and the no-engine failure mode.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path[:0] = [str(HERE)]

import gen  # noqa: E402
import run  # noqa: E402

TINY = {
    "upc_load": {"rows": 2000},
    "near_dup": {"docs": 120},
}

#: A per-layer metric each workload must move, proving its layer is traced.
LAYER = {
    "upc_load": ("etl.jobs", "rest_api.pages", "db.rows_written", "etl.invalid_rows"),
    "near_dup": ("dedup.candidates", "dedup.pairs", "dedup.clusters", "plans.build_jobs",
                 "dedup.base_s", "catalyst.plan_s", "exec.tasks"),
}

#: A span around lazy engine work that must run its Spark jobs inside it.
EAGER_SPAN = {"upc_load": "db.upsert", "near_dup": "dedup.shingle_base"}


WORK = HERE / ".work" / f"test-{os.getpid()}"


@pytest.fixture
def tmp_path(request):
    """A fresh directory inside the benchmark's own work tree."""
    path = WORK / request.node.name.replace("[", "-").replace("]", "")
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


@pytest.fixture(scope="module")
def spark():
    run._prepare_env(WORK)
    from upc_sku_data_loader_spark.session import get_spark

    session = get_spark(app_name="perfbench-test")
    yield session
    run._stop(session)
    shutil.rmtree(WORK, ignore_errors=True)


def _run(spark, workload: str, tmp_path: Path) -> tuple[run.Runner, dict]:
    runner = run.Runner(workload, 7, 0, True, tmp_path, size=TINY[workload], spark=spark)
    return runner, runner.run()


def test_generators_are_seeded_and_report_shares(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    shares, ref = gen.upc_inputs(a, 3, 4000)
    _, ref2 = gen.upc_inputs(b, 3, 4000)
    assert ref == ref2
    for key, want in (("dup_share", 0.3), ("existing_share", 0.2), ("invalid_share", 0.05)):
        assert shares[key] == pytest.approx(want, abs=0.005)
    assert sum(shares[f"format_{f}"] for f in ("dashed", "padded", "bare12", "bare13")) == pytest.approx(1)
    s1, p1 = gen.documents(a / "d.parquet", 3, 200)
    s2, p2 = gen.documents(b / "d.parquet", 3, 200)
    assert (a / "d.parquet").read_bytes() == (b / "d.parquet").read_bytes()
    assert p1 == p2 and s1["near_dup_share"] == pytest.approx(0.2)


@pytest.mark.parametrize("workload", ["upc_load", "near_dup"])
def test_smoke_reports_every_metric(spark, workload, tmp_path):
    runner, res = _run(spark, workload, tmp_path)
    assert runner.errors == [] and res["error_rate"] == 0
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for trace, table in ((False, spec["end_to_end"]), (True, spec["per_layer"])):
        metrics = run.result_metrics(res, trace)
        assert list(metrics) == [m["name"] for m in table]
        for m in table:
            got = metrics[m["name"]]
            assert got["unit"] == m["unit"]
            if m["name"] != "trace.overhead_s":  # traced minus untraced: may be < 0
                assert got["value"] >= 0, m["name"]
    for name in LAYER[workload]:
        assert res["per_layer"][name] > 0, name
    spans = [s for s in runner.tracer.spans if s["name"] == EAGER_SPAN[workload]]
    assert spans and all(runner.tracer.job_stats([s])["jobs"] > 0 for s in spans)
    assert res["timed"]["pass_s"] > 0 and res["setup"]["setup_s"] > 0


def test_corrupted_registry_result_raises_error_rate(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F
    from upc_sku_data_loader_spark.registry import QUERIES

    k20 = QUERIES["k20_dedup_clusters"]
    monkeypatch.setitem(  # every doc its own keeper
        QUERIES,
        "k20_dedup_clusters",
        lambda s, d: k20(s, d).withColumn("cluster_keeper", F.col("doc_id")),
    )
    runner, res = _run(spark, "near_dup", tmp_path)
    assert res["error_rate"] > 0  # only the collected warm-up pass is checkable
    assert runner.errors and all("clustered docs" in e for e in runner.errors)


def test_corrupted_upsert_raises_error_rate(spark, tmp_path, monkeypatch):
    import workloads
    from upc_sku_data_loader_spark.sources.rest_api import fake_transport

    def shifted(url, headers=None):  # every price one cent off
        lines = fake_transport(url, headers).splitlines()
        return "\n".join(json.dumps(dict(r, price=r["price"] + 0.01)) for r in map(json.loads, lines))

    monkeypatch.setattr(workloads.UpcLoad, "transport", staticmethod(shifted))
    runner, res = _run(spark, "upc_load", tmp_path)
    assert res["error_rate"] == 1.0
    assert all("target rows differ" in e for e in runner.errors)


def test_fails_without_the_engine(tmp_path):
    """Only BENCHMARK.json and the benchmark's files: exit != 0, no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "upc_load", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=170,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
