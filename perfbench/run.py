"""Seeded end-to-end benchmark of the engine.

    python3 perfbench/run.py --workload {upc_load,near_dup}
                             --seed N --seconds S --trace {0,1}

One process, one warm ``local[nproc]`` session, one client running
passes back to back (closed loop).  A run:

1. set-up: starts the session, warms the Python worker pool, then
   generates the workload's inputs from ``--seed`` and warms them three
   times (``setup_s`` counts the median of the three);
2. untimed warm-up passes; the first one's outputs are collected and
   checked (``workloads.py`` holds the checks);
3. timed passes for ``--seconds`` (at least one), each consuming its
   plans with the noop sink; upc_load checks every pass's target table.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics derived from
the spans (written as JSON lines under ``perfbench/.work/spans/``) and
the tracing overhead.  The last stdout line is the result JSON; before
it come a readable report (every metric with its unit, the error rate,
the cache leak, the host's load and steal) and one line per failed job.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3


def _prepare_env(work: Path) -> None:
    """Keep every file the run writes inside ``work`` and let the Python
    workers import the engine from this checkout.  The JVM keeps the
    engine's own settings (compiler, heap)."""
    for sub in ("tmp", "local", "scratch", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    env = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SCRATCH": str(work / "scratch"),
        "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
        # every JVM, spark-submit's launcher included
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Dderby.system.home={work / 'scratch'}'"
            " --conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path[:0] = [str(ROOT), str(HERE)]


def _reset_peak_rss() -> None:
    try:
        Path("/proc/self/clear_refs").write_text("5")
    except OSError:
        pass  # the peak then covers set-up as well


def _peak_rss_mb() -> float:
    for line in Path("/proc/self/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, the JVM
    and every process under the JVM (the Python workers), reaped ones
    included.  Time the host steals from the machine is not in it."""
    from pyspark import SparkContext

    tick = os.sysconf("SC_CLK_TCK")
    total = sum(os.times()[:2])
    proc = getattr(SparkContext._gateway, "proc", None)
    todo = [proc.pid] if proc is not None else []
    while todo:
        pid = todo.pop()
        try:
            fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
            threads = list(Path(f"/proc/{pid}/task").iterdir())
        except OSError:
            continue  # exited meanwhile; its time is in its parent's cutime
        total += sum(int(f) for f in fields[11:15]) / tick
        for t in threads:
            try:
                todo.extend(int(c) for c in (t / "children").read_text().split())
            except OSError:
                pass  # the thread ended
    return total


def _collect_garbage(sc) -> None:
    """Drop the last pass's Python and JVM garbage before the next pass, so
    Spark's ContextCleaner does not free it in the middle of a timed pass."""
    gc.collect()
    sc._jvm.System.gc()


def _cached_mb(sc) -> float:
    """Memory + disk held by persisted RDDs and DataFrames."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1024.0**2


def _stop(spark) -> None:
    """Stop the session, then the JVM (and with it the Python workers),
    and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: Path,
                 size: dict | None = None, spark=None):
        from workloads import SIZES, WORKLOADS

        self.name, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.size = size or SIZES[workload]
        self.cls = WORKLOADS[workload]
        self.spark = spark
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # --- set-up ------------------------------------------------------------
    def setup(self) -> dict:
        from spans import Tracer
        from upc_sku_data_loader_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is None:
            self.spark = get_spark(app_name="perfbench")
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        self.tracer = Tracer(sc)
        start_s = time.perf_counter() - t0
        with self.tracer.span("session.warm") as warm:
            self.spark.range(64).repartition(sc.defaultParallelism * 2).mapInPandas(
                lambda it: it, "id long"
            ).count()
        self.wl = self.cls(self.spark, self.tracer, self.seed, self.size)
        reps = []
        for r in range(SETUP_REPS):
            out = self.work / f"inputs{r}"
            out.mkdir(parents=True)
            with self.tracer.span("setup.inputs", rep=r) as rec:
                self.wl.generate(out)
                self.wl.warm()
            reps.append(rec["end"] - rec["start"])
            if r:
                shutil.rmtree(self.work / f"inputs{r - 1}")
        warm_s = warm["end"] - warm["start"]
        inputs_s = statistics.median(reps)
        return {
            "setup_s": start_s + warm_s + inputs_s,
            "session.start_s": start_s,
            "session.warm_s": warm_s,
            "setup.inputs_s": inputs_s,
        }

    # --- passes ------------------------------------------------------------
    def run_pass(self, pass_no: int, collect: bool = False, traced: bool = False) -> float:
        """Run every job once; returns the summed timed (execute) seconds."""
        wl, tracer = self.wl, self.tracer
        wl.traced = traced
        tracer.pass_id = pass_no
        if traced:
            for fn, span, after in wl.patches():
                tracer.patch(fn, span, after)
        elapsed = 0.0
        try:
            for job in wl.order(pass_no):
                tracer.job = job
                wl.prepare(job)
                rec, result, err = None, None, None
                t0 = time.perf_counter()
                try:
                    with tracer.span("job", query=job) as rec:
                        result = wl.execute(job, collect)
                except Exception as e:  # a failed job counts against error_rate
                    err = f"{type(e).__name__}: {str(e)[:300]}"
                elapsed += time.perf_counter() - t0
                if err is None:
                    err = wl.verify(job, result)
                result = None
                if err is None and tracer.job_stats(tracer.subtree(rec))["tasks_failed"]:
                    err = "Spark task failures"
                self.attempted += 1
                if err is not None:
                    self.failed += 1
                    self.errors.append(f"pass {pass_no} {job}: {err}")
        finally:
            tracer.unpatch()
            wl.traced = False
        return elapsed

    def layer_metrics(self, pass_no: int, pass_s: float) -> dict:
        """Per-layer numbers of one traced pass, from its spans."""
        spans = [s for s in self.tracer.spans if s["pass"] == pass_no]

        def named(name):
            return [s for s in spans if s["name"] == name]

        def dur(*names):
            return sum(s["end"] - s["start"] for n in names for s in named(n))

        def jobs(name, tree=False):
            sel = named(name)
            if tree:
                sel = [t for s in sel for t in self.tracer.subtree(s)]
            return self.tracer.job_stats(sel)["jobs"]

        stats = self.tracer.job_stats(spans)
        m = {
            "trace.pass_s": pass_s,
            "catalog.load_s": dur("catalog.load"),
            "catalog.loads": len(named("catalog.load")),
            "catalog.jobs": jobs("catalog.load"),
            "plans.build_s": dur("plans.build"),
            "plans.build_jobs": jobs("plans.build", tree=True),
            "catalyst.plan_s": dur("catalyst.plan"),
            "exec.sink_s": dur("exec.sink", "db.upsert"),
            "exec.jobs": stats["jobs"],
            "exec.stages": stats["stages"],
            "exec.tasks": stats["tasks"],
            "exec.tasks_failed": stats["tasks_failed"],
            "dedup.base_s": dur("dedup.shingle_base"),
            "dedup.verify_s": dur("dedup.verified_near_dup_pairs"),
            "dedup.clusters_s": dur("dedup.dedup_clusters"),
            "etl.load_s": dur("etl.load_upcs"),
            "etl.jobs": jobs("etl.load_upcs", tree=True),
            "rest_api.fetch_s": dur("rest_api.fetch_products"),
            "db.upsert_s": dur("db.upsert"),
        }
        m.update(self.wl.layer)
        self.wl.layer = {}
        return m

    def timed_passes(self) -> dict:
        """Passes back to back for ``seconds``; untraced only, or
        alternating untraced/traced with ``trace``."""
        sc = self.spark.sparkContext
        _collect_garbage(sc)
        base_mb = _cached_mb(sc)
        leak_mb = 0.0
        untraced, traced, layers, cpus = [], [], [], []
        _reset_peak_rss()
        t_end = time.perf_counter() + self.seconds
        pass_no = self.wl.warmup_passes
        while True:
            is_traced = self.trace and (pass_no - self.wl.warmup_passes) % 2 == 1
            self.wl.probe = is_traced and not traced
            c0 = _cpu_s()
            s = self.run_pass(pass_no, traced=is_traced)
            cpu = _cpu_s() - c0
            if is_traced:
                self.wl.run_probes()
                traced.append(s)
                layers.append(self.layer_metrics(pass_no, s))
            else:
                untraced.append(s)
                cpus.append(cpu)
            _collect_garbage(sc)
            leak_mb = max(leak_mb, _cached_mb(sc) - base_mb)
            pass_no += 1
            if time.perf_counter() >= t_end and (traced or not self.trace):
                break
        return {
            "pass_s": statistics.median(untraced),
            "untraced_s": untraced,
            "cpu_s": cpus,
            "passes": len(untraced) + len(traced),
            "cache_leak_mb": max(0.0, leak_mb),
            "driver_rss_peak_mb": _peak_rss_mb(),
            "layers": layers,
        }

    def run(self) -> dict:
        from bench import _cpu_ticks

        load0 = [round(v, 2) for v in os.getloadavg()]
        steal0, total0 = _cpu_ticks()
        t0 = time.perf_counter()
        setup = self.setup()
        t1 = time.perf_counter()
        self.run_pass(0, collect=True)  # outputs checked
        t2 = time.perf_counter()
        self.warmup_s = []
        for pass_no in range(1, self.wl.warmup_passes):
            _collect_garbage(self.spark.sparkContext)
            self.warmup_s.append(self.run_pass(pass_no))
        t3 = time.perf_counter()
        timed = self.timed_passes()
        self.phases = {"setup": t1 - t0, "checked": t2 - t1, "warmup": t3 - t2,
                       "timed": time.perf_counter() - t3}
        steal1, total1 = _cpu_ticks()
        out = {
            "setup": setup,
            "timed": timed,
            "error_rate": self.failed / max(1, self.attempted),
            "loadavg": load0,
            "steal_pct": round(100.0 * (steal1 - steal0) / max(1, total1 - total0), 2),
            "shares": self.wl.shares,
        }
        if self.trace:
            out["per_layer"] = self.per_layer(setup, timed, out["error_rate"])
        return out

    def per_layer(self, setup: dict, timed: dict, error_rate: float) -> dict:
        layers = timed["layers"]
        keys = {k for m in layers for k in m}
        med = {k: statistics.median([m[k] for m in layers if k in m]) for k in keys}

        def ratio(a, b):
            return med.get(a, 0) / med[b] if med.get(b) else 0.0

        med.update(
            {k: setup[k] for k in ("session.start_s", "session.warm_s", "setup.inputs_s")}
        )
        med["trace.overhead_s"] = med["trace.pass_s"] - timed["pass_s"]
        med["dedup.pair_yield"] = ratio("dedup.pairs", "dedup.candidates")
        med["rest_api.yield"] = ratio("rest_api.records", "rest_api.upcs_requested")
        med["db.rows_per_s"] = ratio("db.rows_written", "db.upsert_s")
        med["run.error_rate"] = error_rate
        med["storage.cache_leak_mb"] = timed["cache_leak_mb"]
        med["pass.cpu_s"] = statistics.median(timed["cpu_s"])
        return med


def result_metrics(res: dict, trace: bool) -> dict:
    """The metrics BENCHMARK.json names for this mode, each with its unit:
    end-to-end untraced, per-layer traced (0 for a layer the workload
    does not call)."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    table = spec["per_layer" if trace else "end_to_end"]
    if trace:
        values = {m["name"]: 0.0 for m in table} | res["per_layer"]
    else:
        values = {
            "setup_s": res["setup"]["setup_s"],
            "pass_s": res["timed"]["pass_s"],
            "driver_rss_peak_mb": res["timed"]["driver_rss_peak_mb"],
        }
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in table}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("upc_load", "near_dup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _prepare_env(work)
    runner = None
    try:
        runner = Runner(args.workload, args.seed, args.seconds, bool(args.trace), work)
        res = runner.run()
        if args.trace:
            spans_path = HERE / ".work" / "spans" / f"{args.workload}-seed{args.seed}.jsonl"
            runner.tracer.write_jsonl(spans_path)
    finally:
        t_stop = time.perf_counter()
        if runner is not None and runner.spark is not None:
            _stop(runner.spark)
        shutil.rmtree(work, ignore_errors=True)
    runner.phases["stop"] = time.perf_counter() - t_stop

    timed = res["timed"]
    metrics = result_metrics(res, bool(args.trace))
    report = " ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items())
    print(
        f"# {args.workload} seed={args.seed} trace={args.trace}: {report}"
        f" error_rate={res['error_rate']:.4g} ratio"
        f" cache_leak_mb={timed['cache_leak_mb']:.4g} MB passes={timed['passes']}"
        f" warmup_times={[round(t, 3) for t in runner.warmup_s]}"
        f" pass_times={[round(t, 3) for t in timed['untraced_s']]}"
        f" cpu_times={[round(t, 3) for t in timed['cpu_s']]}"
        f" setup={json.dumps({k: round(v, 3) for k, v in res['setup'].items()})}"
        f" phases={json.dumps({k: round(v, 2) for k, v in runner.phases.items()})}"
        f" loadavg={res['loadavg']} steal_pct={res['steal_pct']}"
        f" inputs={json.dumps(res['shares'])}"
        + (f" spans={spans_path.relative_to(ROOT)}" if args.trace else "")
    )
    for e in runner.errors:
        print(f"# error: {e}")
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
