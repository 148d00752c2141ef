"""Spans and Spark job counts around calls into the engine's modules.

Spans are recorded from the benchmark's side: a span wraps a call into a
module's public function, either at the benchmark's own call site or by
patching every module attribute bound to that function (``plans.*`` and
``pipelines.etl`` import their helpers by name).  Each span opens a Spark
job group, so ``statusTracker`` attributes every job to the innermost
span that launched it.  Spans stay in memory and are written as JSON
lines when the run ends.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from pathlib import Path

from pyspark import SparkContext


class Tracer:
    """Records spans (name, start, end, parent, pass, job) and the Spark
    jobs each span launched."""

    def __init__(self, sc: SparkContext) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, Callable]] = []
        self.pass_id: int | None = None
        self.job: str | None = None

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "pass": self.pass_id,
            "job": self.job,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"perfbench-{rec['id']}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def patch(self, fn: Callable, name: str, after: Callable | None = None) -> None:
        """Run ``fn`` inside a span named ``name`` wherever the engine's
        loaded modules bound it; ``after(result, args)`` runs inside the
        span, to record counts or force lazy work into it."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                if after is not None:
                    after(out, args)
            return out

        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("upc_sku_data_loader_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, traced)
                    self._patched.append((mod, attr, fn))

    def unpatch(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    # --- Spark job accounting ----------------------------------------------

    def job_stats(self, spans: list[dict]) -> dict[str, int]:
        """Jobs, executed stages, tasks and failed tasks launched inside
        ``spans`` (each span's own group, not its children's)."""
        st = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0}
        for rec in spans:
            for jid in st.getJobIdsForGroup(f"perfbench-{rec['id']}"):
                job = st.getJobInfo(jid)
                if job is None:
                    continue
                out["jobs"] += 1
                for sid in job.stageIds:
                    stage = st.getStageInfo(sid)
                    if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                        continue  # skipped: its shuffle output was reused
                    out["stages"] += 1
                    out["tasks"] += stage.numCompletedTasks
                    out["tasks_failed"] += stage.numFailedTasks
        return out

    def subtree(self, rec: dict) -> list[dict]:
        """``rec`` and every span nested in it."""
        ids = {rec["id"]}
        out = [rec]
        for s in self.spans[rec["id"] + 1 :]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    # --- output ------------------------------------------------------------

    def write_jsonl(self, path: Path) -> None:
        """One line per span, with its self time: its duration minus the
        part of it that its child spans cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        t0 = self.spans[0]["start"] if self.spans else 0.0
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in self.spans:
                dur = s["end"] - s["start"]
                line = {k: v for k, v in s.items() if k not in ("start", "end")}
                line.update(
                    start=round(s["start"] - t0, 6),
                    end=round(s["end"] - t0, 6),
                    dur_s=round(dur, 6),
                    self_s=round(dur - child_time.get(s["id"], 0.0), 6),
                )
                f.write(json.dumps(line) + "\n")
