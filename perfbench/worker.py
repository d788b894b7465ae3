"""The measured process: one SparkSession, one workload, one closed-loop
client.  Started by ``perfbench/run.py``, which owns the clock for
``setup_s`` and samples this process tree's memory.

Usage (from the repository root, normally through run.py):
    python3 -m perfbench.worker <job.json>
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

T_START = time.time()
#: ``rows_per_s`` is a median over rounds: at least four of them
MIN_ROUNDS = 4


def _workload(spark, job: dict):
    if job["workload"] == "ingest":
        from perfbench.ingest import IngestWorkload

        return IngestWorkload(spark, job["fixture"], job["seed"], job["work"])
    from perfbench.queries import QueryWorkload

    return QueryWorkload(spark, job["fixture"], job["seed"])


def _layer_metrics(job: dict, wl, tracer) -> dict:
    from perfbench import ingest, queries

    zero = {k: 0.0 for k in job["per_layer"]}
    if job["workload"] == "ingest":
        return {**zero, **ingest.layer_metrics(wl, tracer)}
    return {**zero, **queries.layer_metrics(tracer)}


def main(job_path: str) -> int:
    with open(job_path) as f:
        job = json.load(f)
    sys.path.insert(0, os.getcwd())

    from hadoop_20_spark.session import get_spark

    from perfbench.trace import Tracer

    spark = get_spark("perfbench", master=f"local[{os.cpu_count()}]")
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.time()
    wl = _workload(spark, job)
    off = Tracer(spark, enabled=False)
    check_s = wl.warmup(off)
    t_warm = time.time() - check_s
    print(
        f"perfbench: session up {t_session - T_START:.2f} s after the worker started, "
        f"warm-up {t_warm - t_session:.2f} s",
        file=sys.stderr,
        flush=True,
    )

    rounds = max(MIN_ROUNDS, round(job["seconds"] / wl.ROUND_S))
    out = {"t_session": t_session, "t_warm": t_warm}
    if job["trace"]:
        # the rounds run once untraced, then once traced: the p50 ratio of
        # the two is the tracing overhead
        plain = wl.run(rounds, off)
        tracer = Tracer(spark, enabled=True)
        res = wl.run(rounds, tracer)
        layer = _layer_metrics(job, wl, tracer)
        layer["trace.overhead"] = statistics.median(res["samples"]) / statistics.median(
            plain["samples"]
        )
        tracer.dump(job["trace_out"])
        out["per_layer"] = layer
        out["spans"] = len(tracer.spans)
        out["traced_ops"] = len(tracer.named("op"))
        # the result counts both halves: numbers add, sample lists join
        res = {k: plain[k] + res[k] for k in res}
    else:
        res = wl.run(rounds, off)
    out["run"] = res
    # the memory metric covers set-up and the timed loop, not the checks
    open(job["timed_done"], "w").close()
    if job["workload"] == "ingest":
        out["stored_bytes"] = wl.stored_bytes()
        out["ingested_bytes"] = wl.user_bytes
    wl.verify()
    out["mismatches"] = wl.mismatches
    wl.stop()
    with open(job["result"], "w") as f:
        json.dump(out, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
