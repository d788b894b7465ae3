"""The ``olap`` and ``llm_curation`` workloads: registry entries run one at
a time by a single closed-loop client, each materialized through a
``noop`` write, in a seeded shuffle per round."""

from __future__ import annotations

import contextlib
import random
import statistics
import sys
import time
import traceback

from perfbench.canon import frame_hash
from perfbench.trace import exec_per_op, log_round

#: operator module each curation entry is built on (span name prefix)
MODULE_OF = {
    "minhash_lsh_pairs": "dedup",
    "embedding_topk": "similarity",
    "winnowing_fps": "text",
    "tfidf_top_terms": "text",
}
MODULES = ("dedup", "similarity", "text")


class QueryWorkload:
    #: seconds one warm round takes on the reference host (4 vCPUs); a run
    #: of ``--seconds S`` does round(S / ROUND_S) rounds, so that every run
    #: of one commit does the same work
    ROUND_S = 5.0

    def __init__(self, spark, info: dict, seed: int):
        from hadoop_20_spark.queries import REGISTRY

        self.spark = spark
        self.fx = info["dir"]
        self.ops = list(info["ops"])
        self.oracle = info["oracle"]
        self.table_rows = {t: s["rows"] for t, s in info["tables"].items()}
        self.fns = {name: REGISTRY[name].fn for name in self.ops}
        self.rng = random.Random(seed)
        self.op_tables: dict[str, set] = {name: set() for name in self.ops}
        self.mismatches: list[str] = []
        self._current = None
        self._op_id = 0

    # -- catalog hook --------------------------------------------------------
    @contextlib.contextmanager
    def catalog_hook(self, tracer):
        """Wrap ``catalog.load_table`` wherever the program imported it, to
        learn which tables each op reads and, when tracing, to time each
        load.  Installed for the warm-up and the traced loop only."""
        from hadoop_20_spark import catalog

        real = catalog.load_table

        def load_table(spark, name, sf_dir=None):
            if self._current is not None:
                self.op_tables[self._current].add(name)
            with tracer.span("catalog.load_table", self._op_id):
                return real(spark, name, sf_dir)

        patched = [
            m
            for m in list(sys.modules.values())
            if getattr(m, "load_table", None) is real
        ]
        for m in patched:
            m.load_table = load_table
        try:
            yield
        finally:
            for m in patched:
                m.load_table = real

    def op_rows(self, name: str) -> int:
        return sum(self.table_rows.get(t, 0) for t in self.op_tables[name])

    # -- phases --------------------------------------------------------------
    def _check(self, name: str) -> float:
        """Collect the op's answer and compare its canonical hash with the
        DuckDB oracle's; returns the seconds spent hashing."""
        pdf = self.fns[name](self.spark, self.fx).toPandas()
        t = time.perf_counter()
        got = frame_hash(pdf)
        if got != self.oracle[name]:
            self.mismatches.append(f"{name}: got {got}, want {self.oracle[name]}")
        self.spark.catalog.clearCache()
        return time.perf_counter() - t

    def warmup(self, tracer) -> float:
        """Run every op twice before timing: once cold, with its answer
        checked, and once more through the timed shape, because the second
        round still runs about a quarter slower than the rounds after it.
        Returns the seconds spent hashing answers, which are the
        benchmark's own."""
        check_s = 0.0
        with self.catalog_hook(tracer):
            for name in self.ops:
                self._current = name
                check_s += self._check(name)
        self._current = None
        for name in self.ops:
            self._one(name, tracer)
            self.spark.catalog.clearCache()
        return check_s

    def verify(self) -> None:
        """Check, after the timed loop, the answer of one op drawn by seed."""
        self._check(self.rng.choice(self.ops))

    def stop(self) -> None:
        pass

    def run(self, rounds: int, tracer) -> dict:
        """Closed loop of ``rounds`` whole rounds, every op once per round."""
        samples: list[float] = []
        rate_rows: list[int] = []
        rate_s: list[float] = []
        attempted = failed = 0
        hook = self.catalog_hook(tracer) if tracer.enabled else contextlib.nullcontext()
        with hook:
            t_start = time.perf_counter()
            for k in range(1, rounds + 1):
                order = list(self.ops)
                self.rng.shuffle(order)
                t_round, rows = time.perf_counter(), 0
                for name in order:
                    self._op_id += 1
                    attempted += 1
                    t0 = time.perf_counter()
                    try:
                        self._one(name, tracer)
                    except Exception:  # noqa: BLE001
                        traceback.print_exc()
                        failed += 1
                    samples.append(time.perf_counter() - t0)
                    rows += self.op_rows(name)
                    self.spark.catalog.clearCache()
                rate_rows.append(rows)
                rate_s.append(time.perf_counter() - t_round)
                log_round(k, order, samples[-len(order):])
            wall = time.perf_counter() - t_start
        return {
            "samples": samples,
            "wall_s": wall,
            "rate_rows": rate_rows,
            "rate_s": rate_s,
            "attempted": attempted,
            "failed": failed,
        }

    def _one(self, name: str, tracer) -> None:
        op = self._op_id
        module = MODULE_OF.get(name)
        with tracer.span("op", op) as rec:
            rec["entry"] = name
            mod_span = tracer.span(f"{module}.run", op) if module else contextlib.nullcontext()
            with mod_span:
                with tracer.span("queries.build", op, exec_counters=True):
                    df = self.fns[name](self.spark, self.fx)
                if tracer.enabled:
                    with tracer.span("plans.plan", op):
                        df._jdf.queryExecution().executedPlan()
                with tracer.span("exec.run", op, exec_counters=True):
                    df.write.format("noop").mode("overwrite").save()


def layer_metrics(tracer) -> dict:
    """Per-layer numbers of one traced query loop, per op unless noted."""
    ops = tracer.named("op")
    n = max(len(ops), 1)
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    loads = tracer.dur("catalog.load_table")
    builds = tracer.named("queries.build")
    runs = tracer.named("exec.run")
    out = {
        "catalog.load_s": sum(loads) / n,
        "catalog.loads_per_op": len(loads) / n,
        "queries.build_s": med(tracer.dur("queries.build")),
        "queries.eager_jobs": sum(s["exec"]["jobs"] for s in builds) / n,
        "plans.plan_s": med(tracer.dur("plans.plan")),
        "exec.run_s": med(tracer.dur("exec.run")),
        **exec_per_op(builds + runs, n),
    }
    # spans over the entries each operator module builds, with the task
    # CPU of the Spark work inside them
    by_op = {}
    for s in builds + runs:
        by_op[s["op"]] = by_op.get(s["op"], 0) + s["exec"]["task_cpu_ns"]
    for m in MODULES:
        spans = tracer.named(f"{m}.run")
        k = max(len(spans), 1)
        out[f"{m}.run_s"] = sum(s["end"] - s["start"] for s in spans) / k
        out[f"{m}.task_cpu_s"] = sum(by_op.get(s["op"], 0) for s in spans) / k / 1e9
    return out
