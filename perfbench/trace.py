"""Spans and Spark status-store counters for the traced run.

A span records (id, parent, op id, name, start, end) plus counters.  Spans
are kept in memory and written once, when the run ends.  Stage counters
come from Spark's status store over the UI's REST API (the approach of
``bench.py``'s ``exec_metrics_since``), so a traced run starts its session
with ``SPARK_UI=true``; timed runs leave the UI off and record no spans.
"""

from __future__ import annotations

import contextlib
import json
import sys
import time
import urllib.request

#: stage fields summed per span; REST StageData names
_STAGE_FIELDS = {
    "numCompleteTasks": "tasks",
    "inputRecords": "input_rows",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_mem_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
    "executorCpuTime": "task_cpu_ns",
    "jvmGcTime": "gc_ms",
}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    # -- Spark status store -------------------------------------------------
    def _rest(self, what: str) -> list:
        sc = self.spark.sparkContext
        base = sc.uiWebUrl
        if not base:
            raise RuntimeError("traced run needs the Spark UI (SPARK_UI=true)")
        url = f"{base}/api/v1/applications/{sc.applicationId}/{what}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def _drain(self) -> None:
        # stage-completed events reach the status store asynchronously
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(highest stage id, highest job id) seen so far."""
        self._drain()
        stages = self._rest("stages")
        jobs = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return (
            max((s["stageId"] for s in stages), default=-1),
            max(jobs, default=-1),
        )

    def counters_since(self, mark: tuple[int, int]) -> dict:
        self._drain()
        stage_mark, job_mark = mark
        done = [
            s
            for s in self._rest("stages?status=complete")
            if s["stageId"] > stage_mark
        ]
        out = {v: 0 for v in _STAGE_FIELDS.values()}
        for s in done:
            for k, v in _STAGE_FIELDS.items():
                out[v] += s.get(k, 0)
        out["stages"] = len(done)
        jobs = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        out["jobs"] = sum(1 for j in jobs if j > job_mark)
        return out

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, op_id: int | None = None, exec_counters: bool = False):
        """Record a span; with ``exec_counters`` attach the stage counters
        of the Spark work that completed inside it.  Yields the span dict
        so callers can add their own counts."""
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "op": op_id,
            "name": name,
        }
        self.spans.append(rec)
        mark = self.mark() if exec_counters else None
        self._stack.append(rec["id"])
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if mark is not None:
                rec["exec"] = self.counters_since(mark)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # -- aggregation -----------------------------------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dur(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]


def log_round(k: int, names: list[str], samples: list[float]) -> None:
    """One progress line per round (round 0: the warm-up), on stderr."""
    print(
        f"perfbench: round {k}: {sum(samples):.2f} s, "
        + " ".join(f"{n}={t:.2f}" for n, t in zip(names, samples)),
        file=sys.stderr,
        flush=True,
    )


def exec_per_op(spans: list[dict], n_ops: int) -> dict:
    """The ``exec.*`` counters of ``spans`` summed, per op."""
    ex: dict[str, float] = {}
    for s in spans:
        for k, v in s.get("exec", {}).items():
            ex[k] = ex.get(k, 0) + v
    n = max(n_ops, 1)
    return {
        "exec.stages": ex.get("stages", 0) / n,
        "exec.tasks": ex.get("tasks", 0) / n,
        "exec.input_rows": ex.get("input_rows", 0) / n,
        "exec.shuffle_write_mb": ex.get("shuffle_write_bytes", 0) / n / 1e6,
        "exec.spill_mb": (ex.get("spill_mem_bytes", 0) + ex.get("spill_disk_bytes", 0)) / n / 1e6,
        "exec.task_cpu_s": ex.get("task_cpu_ns", 0) / n / 1e9,
        "exec.gc_s": ex.get("gc_ms", 0) / n / 1e3,
    }
