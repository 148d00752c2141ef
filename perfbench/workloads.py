"""The benchmark's workloads and their correctness checks.

A workload generates its inputs from the seed, then runs passes of
*jobs*.  ``execute`` is the timed part of a job; ``prepare`` and
``verify`` run outside the timed region.  The program receives only the
generated inputs (parquet files and a sqlite target).

* ``upc_load`` — ``pipelines.etl.load_upcs`` over a messy generated
  worklist into a pre-seeded sqlite target.  The only workload that
  writes; never calls ``catalog`` or ``operators.dedup``.
* ``near_dup`` — k20 (which runs k2's pair pipeline, then resolves
  clusters) on a generated corpus shaped like the fixture documents, with
  planted near-duplicates.
  Stresses ``operators.dedup`` (eager build-time probes, driver
  kernels); no joins of the analytic kind, REST or DB code.
"""

from __future__ import annotations

import functools
import shutil
import sqlite3
import time
from contextlib import nullcontext
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from upc_sku_data_loader_spark import catalog, plans  # noqa: F401  (fills the registry)
from upc_sku_data_loader_spark.functions.upc import upc_normalize
from upc_sku_data_loader_spark.operators import dedup
from upc_sku_data_loader_spark.pipelines import etl
from upc_sku_data_loader_spark.registry import QUERIES
from upc_sku_data_loader_spark.sources import db as db_mod
from upc_sku_data_loader_spark.sources import rest_api

import gen
from spans import Tracer


class Workload:
    """Base: ``jobs`` run once per pass; subclasses fill in the hooks."""

    name = ""
    jobs: tuple[str, ...] = ()
    #: Untimed passes before the timed ones: the first is collected and
    #: checked, the rest let the JVM's tiered compilers catch up with the
    #: cold pass.  They keep improving for about five passes, more than a
    #: run can afford: it has to stay near 50-60 s (4-core host) so that
    #: a set of a few dozen runs fits in an hour.
    warmup_passes = 2

    def __init__(self, spark: SparkSession, tracer: Tracer, seed: int, size: dict) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.size = size
        self.dir: Path | None = None
        self.shares: dict = {}
        self.traced = False
        self.layer: dict[str, float] = {}  # per-pass counts from the traced layers
        self.probe = False  # run the count probes (first traced pass)
        self._probes: list = []

    # hooks ------------------------------------------------------------------
    def generate(self, out: Path) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        """Touch every generated input once (part of set-up)."""

    def order(self, pass_no: int) -> list[str]:
        return list(self.jobs)

    def prepare(self, job: str) -> None:
        """Untimed per-job set-up."""

    def execute(self, job: str, collect: bool):
        raise NotImplementedError

    def verify(self, job: str, result) -> str | None:
        """None if ``result`` is correct, else what is wrong."""
        return None

    def patches(self) -> list[tuple]:
        """(function, span name, after-hook) for the traced passes."""
        return []

    def run_probes(self) -> None:
        for fn in self._probes:
            fn()
        self._probes.clear()

    # shared helpers ----------------------------------------------------------
    def _span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.traced else nullcontext()

    def _add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0) + value


class RegistryWorkload(Workload):
    """Jobs are registry queries: build the plan, consume it with the noop
    sink (timed passes) or collect it (the checked warm-up pass)."""

    def execute(self, job: str, collect: bool):
        with self._span("plans.build", query=job):
            df = QUERIES[job](self.spark, str(self.dir))
        if self.traced:
            with self._span("catalyst.plan", query=job):
                df._jdf.queryExecution().executedPlan()
        if collect:
            return df.toPandas()
        with self._span("exec.sink", query=job):
            df.write.format("noop").mode("overwrite").save()
        return None

    def _probe_count(self, key: str, df: DataFrame, fn=None) -> None:
        if self.probe:
            self._probes.append(lambda: self._add(key, (fn or DataFrame.count)(df)))


# --- upc_load -----------------------------------------------------------------


def fake_payload(upc: str) -> tuple:
    """The product record ``rest_api.fake_transport`` serves for ``upc``,
    as the sqlite row (upc, sku, brand, price, in_stock)."""
    d = int(upc)
    return (upc, f"SKU-{upc}", f"Brand#{d % 25 + 1}", (d % 100000) / 100.0, int(d % 2 == 0))


def reference_load(raw: list[str | None], existing: list[str], seeded: list[tuple]):
    """Pure-Python reference of ``load_upcs`` with the fake transport:
    (audit, final target rows sorted by key)."""
    keys = []
    for r in raw:
        if r is None:
            continue
        digits = "".join(c for c in r if c in "0123456789")
        keys.append(digits[:13].rjust(13, "0"))
    distinct = set(keys)
    delta = distinct - set(existing)
    audit = {
        "worklist_rows": len(raw),
        "delta_rows": len(delta),
        "skipped_existing": len(distinct) - len(delta),
    }
    rows = list(seeded) + [fake_payload(k) for k in delta]
    return audit, sorted(rows)


class UpcLoad(Workload):
    name = "upc_load"
    jobs = ("load_upcs",)
    transport = staticmethod(rest_api.fake_transport)

    def generate(self, out: Path) -> None:
        self.shares, ref = gen.upc_inputs(out, self.seed, self.size["rows"])
        self.expected = reference_load(ref["raw"], ref["existing"], ref["seeded"])
        self.n_seeded = len(ref["seeded"])
        self.dir = out

    def warm(self) -> None:
        self.spark.read.parquet(str(self.dir / "worklist.parquet")).count()
        self.spark.read.parquet(str(self.dir / "existing.parquet")).count()

    def prepare(self, job: str) -> None:
        """A fresh copy of the pre-seeded target; the input DataFrames are
        created here so their schema reads stay out of the timed region."""
        self.target = self.dir / "pass.db"
        shutil.copyfile(self.dir / "target.db", self.target)
        self.inputs = [
            self.spark.read.parquet(str(self.dir / f)) for f in ("worklist.parquet", "existing.parquet")
        ]

    def execute(self, job: str, collect: bool):
        worklist, existing = self.inputs
        conn = functools.partial(sqlite3.connect, str(self.target), timeout=120)
        transport = self._counting_transport() if self.traced else self.transport
        with self._span("etl.load_upcs"):
            audit = etl.load_upcs(worklist, existing, conn, transport=transport)
        if self.traced:
            self._etl_counts(worklist, audit)
        return audit

    def verify(self, job: str, audit) -> str | None:
        con = sqlite3.connect(self.target)
        try:
            rows = sorted(con.execute("SELECT * FROM products").fetchall())
        finally:
            con.close()
        if self.traced:
            self._add("db.rows_written", len(rows) - self.n_seeded)
        want_audit, want_rows = self.expected
        if audit != want_audit:
            return f"audit {audit} != {want_audit}"
        if rows != want_rows:
            bad = next((a, b) for a, b in zip(rows + [None], want_rows + [None]) if a != b)
            return f"target rows differ ({len(rows)} vs {len(want_rows)}): {bad}"
        return None

    # traced-layer counters -------------------------------------------------
    def _counting_transport(self):
        """``self.transport`` that counts pages, UPCs, records and its own
        time through accumulators (it runs in the Python workers)."""
        sc = self.spark.sparkContext
        acc = {k: sc.accumulator(0) for k in ("pages", "upcs", "records")}
        acc_t = sc.accumulator(0.0)
        self._rest_acc = (acc, acc_t)
        inner = self.transport

        def transport(url, headers=None):
            t0 = time.perf_counter()
            body = inner(url, headers)
            acc_t.add(time.perf_counter() - t0)
            acc["pages"].add(1)
            acc["upcs"].add(url.count(",") + 1)
            acc["records"].add(sum(1 for line in body.splitlines() if line))
            return body

        return transport

    def _etl_counts(self, worklist: DataFrame, audit: dict) -> None:
        acc, acc_t = self._rest_acc
        self._add("rest_api.pages", acc["pages"].value)
        self._add("rest_api.upcs_requested", acc["upcs"].value)
        self._add("rest_api.records", acc["records"].value)
        self._add("rest_api.transport_s", acc_t.value)
        self._add("etl.existing_rows", audit["skipped_existing"])
        self._add("etl.delta_rows", audit["delta_rows"])
        if not self.probe:
            return

        def probe() -> None:
            u = upc_normalize(F.col("upc_raw"), width=13)
            valid, distinct = worklist.select(
                F.count(F.when(F.length(u) == 13, 1)),
                F.countDistinct(F.when(F.length(u) == 13, u)),
            ).first()
            self._add("etl.invalid_rows", audit["worklist_rows"] - valid)
            self._add("etl.duplicate_rows", valid - distinct)

        self._probes.append(probe)

    def patches(self) -> list[tuple]:
        return [
            (rest_api.fetch_products, "rest_api.fetch_products", None),
            (db_mod.db_sink_upsert, "db.upsert", None),
        ]


# --- near_dup -----------------------------------------------------------------


def token_shingles(text: str, k: int = 3) -> set[str]:
    """``operators.dedup.shingles`` in Python: distinct k-token shingles,
    or the whole text when it has fewer than k tokens."""
    t = text.split(" ")
    if len(t) < k:
        return {" ".join(t)}
    return {" ".join(t[i : i + k]) for i in range(len(t) - k + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def similar_pairs(sets: dict[int, set], threshold: float) -> list[tuple[int, int]]:
    """Every pair (a < b) whose exact Jaccard is >= ``threshold``, by
    counting shared elements through an inverted index.  The cost is the
    sum of squared index-list lengths: 30 words give 27 000 possible
    3-token shingles, so a list holds about docs × 54 / 27 000 docs."""
    index: dict = {}
    for doc, elems in sets.items():
        for e in elems:
            index.setdefault(e, []).append(doc)
    inter: dict[tuple[int, int], int] = {}
    for docs in index.values():
        docs.sort()
        for i, a in enumerate(docs):
            for b in docs[i + 1 :]:
                inter[(a, b)] = inter.get((a, b), 0) + 1
    return [
        (a, b)
        for (a, b), n in inter.items()
        if n / (len(sets[a]) + len(sets[b]) - n) >= threshold
    ]


def components(pairs) -> dict[int, int]:
    """Union-find: node -> smallest id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


class NearDup(RegistryWorkload):
    name = "near_dup"
    # k20 runs the whole k2 pair pipeline (shingle_base, LSH + prefix
    # candidates, CSR verify) before its union-find, so k2 adds no layer
    jobs = ("k20_dedup_clusters",)
    # one more than the default: with two untimed passes the first timed
    # pass read 5.1-6.5 s, with three 4.7-5.5 s (interleaved runs, steal
    # under 3 %)
    warmup_passes = 3

    def generate(self, out: Path) -> None:
        out.mkdir(parents=True, exist_ok=True)
        self.shares, self.planted = gen.documents(
            out / "documents.parquet", self.seed, self.size["docs"]
        )
        docs = pq.read_table(out / "documents.parquet").to_pydict()
        self.text = dict(zip(docs["doc_id"], docs["text"]))
        self.shares["planted_k2_eligible"] = round(
            sum(
                jaccard(token_shingles(self.text[a]), token_shingles(self.text[b])) >= 0.5
                for a, b in self.planted
            )
            / max(1, len(self.planted)),
            4,
        )
        self.dir = out

    def warm(self) -> None:
        catalog.load(self.spark, str(self.dir), "documents").count()

    def verify(self, job: str, pdf) -> str | None:
        """Clusters equal the connected components of every pair with
        exact token-shingle Jaccard >= 0.5, which include the planted
        near-duplicates that clear the threshold."""
        if pdf is None:
            return None
        sets = {i: token_shingles(t) for i, t in self.text.items()}
        want = components(similar_pairs(sets, 0.5))
        got = dict(zip(pdf["doc_id"].tolist(), pdf["cluster_keeper"].tolist()))
        if got == want:
            return None
        bad = sorted(set(got.items()) ^ set(want.items()))[:3]
        return f"{len(got)} clustered docs vs {len(want)} expected, e.g. {bad}"

    def patches(self) -> list[tuple]:
        def candidates(out, args):
            self._probe_count(
                "dedup.candidates", args[0], lambda c: c.select("a", "b").distinct().count()
            )

        def pairs(out, args):
            self._probe_count("dedup.pairs", out)

        def base(out, args):
            out.count()  # runs the persisted scan here, not in the first reader

        def clusters(out, args):
            self._probe_count(
                "dedup.clusters", out, lambda c: c.select("cluster_keeper").distinct().count()
            )

        return [
            (catalog.load, "catalog.load", None),
            (dedup.shingle_base, "dedup.shingle_base", base),
            (dedup.verified_near_dup_pairs, "dedup.verified_near_dup_pairs", pairs),
            (dedup.verify_jaccard_from_base, "dedup.verify_jaccard_from_base", candidates),
            (dedup.dedup_clusters, "dedup.dedup_clusters", clusters),
        ]


WORKLOADS = {w.name: w for w in (UpcLoad, NearDup)}

#: Input sizes.  Chosen so one warm pass takes a few seconds on a 4-core
#: host: every workload is dominated by per-job fixed costs (job launch,
#: planning, Python-worker round trips), which is what the layers measure.
SIZES = {
    "upc_load": {"rows": 30_000},
    "near_dup": {"docs": 500},
}
