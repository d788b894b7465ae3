"""Benchmark of the hadoop_20_spark engine: one seeded workload per run.

    python3 perfbench/run.py --workload {olap,llm_curation,ingest} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root.  The run builds (or reuses) the seed's
inputs, starts the measured process (``perfbench/worker.py``: one
SparkSession on ``local[<cores>]`` driven by one closed-loop client),
samples that process tree's memory, checks every answer, and prints a
report whose last line is one JSON object.  ``--trace 0`` reports the
end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` runs the timed
rounds once untraced and once traced and reports the per-layer metrics, with
the spans written to ``.perfbench/traces/``.  Everything the run writes
stays under ``.perfbench/`` in the working directory.  Exits non-zero,
without a result line, if the program is missing, and non-zero, after the
result line, if any answer is wrong or any op failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

WORKLOADS = ("olap", "llm_curation", "ingest")
#: whole-run limit; the measured process is killed past it
DEADLINE_S = 170.0
#: memory sampling period: reading a process's smaps takes its address
#: space lock for a moment, so the sampling stays sparse
RSS_PERIOD_S = 1.0
#: heap of the measured JVM, fixed in size and touched at start.  A heap
#: left to grow (the program's default may reach 16 GB) grows or not with
#: GC timing, which made peak memory vary by half between runs; heap use
#: shows in ``exec.gc_s`` instead.
DRIVER_MEM = "1g"


def _group_pss_bytes(pgid: int) -> int:
    """Proportional resident memory of every process in the group: the
    Python driver, the JVM and the processes they fork.  PSS, not RSS:
    a child the JVM has forked but not yet exec'd shares all of the JVM's
    pages, and summing RSS counted them twice (+1.5 GB in one sample of
    five)."""
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                # fields after the command name; pgrp is the third
                if int(f.read().rsplit(")", 1)[1].split()[2]) != pgid:
                    continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def _stop_group(pgid: int) -> None:
    """Kill what is left of the measured process group and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 5
        while time.time() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _fixture(root: str, cache: str, workload: str, seed: int) -> dict:
    from perfbench import fixtures

    if workload == "ingest":
        return fixtures.ingest_fixture(cache, seed)
    return fixtures.query_fixture(root, cache, workload, seed)


def _describe_inputs(workload: str, fx: dict) -> list[str]:
    if workload == "ingest":
        b = fx["batches"]
        return [
            f"input base_load: {b[0]['rows']} rows, {b[0]['bytes']} bytes",
            f"input batch: {b[1]['rows']} rows, ~{b[1]['bytes']} bytes each, one per round",
        ]
    return [
        f"input {t}: {s['rows']} rows, {s['bytes']} bytes"
        for t, s in sorted(fx["tables"].items())
    ]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_begin = time.time()

    root = os.getcwd()
    needed = ("hadoop_20_spark/__init__.py", "tools/gen_fixture.py", "tools/oracle_check.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: not a checkout of the program, missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, root)

    work = os.path.join(root, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(work, "traces"), exist_ok=True)
    try:
        fx = _fixture(root, os.path.join(work, "fixtures"), args.workload, args.seed)
        job = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": bool(args.trace),
            "fixture": fx,
            "work": os.path.join(run_dir, "data"),
            "result": os.path.join(run_dir, "result.json"),
            "timed_done": os.path.join(run_dir, "timed_done"),
            "trace_out": os.path.join(work, "traces", f"{args.workload}-s{args.seed}.json"),
            "per_layer": [m["name"] for m in spec["per_layer"]],
        }
        job_path = os.path.join(run_dir, "job.json")
        with open(job_path, "w") as f:
            json.dump(job, f)
        tmp = os.path.join(run_dir, "tmp")
        env = dict(
            os.environ,
            SPARK_DRIVER_MEM=DRIVER_MEM,
            SPARK_GRAFT_CPUS=str(os.cpu_count()),
            SPARK_UI="true" if args.trace else "false",
            SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
            SPARK_WAREHOUSE=os.path.join(run_dir, "warehouse"),
            TMPDIR=tmp,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            PYSPARK_SUBMIT_ARGS=(
                f'--driver-java-options "-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch" pyspark-shell'
            ),
            PYSPARK_PYTHON=sys.executable,
        )
        t_spawn = time.time()
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", job_path],
            cwd=root,
            env=env,
            stdout=sys.stderr,
            start_new_session=True,
        )
        peak = 0
        try:
            while proc.poll() is None:
                if not os.path.exists(job["timed_done"]):
                    peak = max(peak, _group_pss_bytes(proc.pid))
                if time.time() - t_begin > DEADLINE_S:
                    print("perfbench: run over its deadline, stopped", file=sys.stderr)
                    return 3
                time.sleep(RSS_PERIOD_S)
        finally:
            _stop_group(proc.pid)
        if proc.returncode != 0:
            print(f"perfbench: measured process exited {proc.returncode}", file=sys.stderr)
            return 4
        with open(job["result"]) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    run = res["run"]
    samples = run["samples"]
    # median over the rounds of a round's rows per second: on the query
    # workloads, input rows over the round's time; on ingest, appended rows
    # over the time of the append's write calls
    rows_per_s = statistics.median(n / t for n, t in zip(run["rate_rows"], run["rate_s"]))
    e2e = {
        "setup_s": res["t_warm"] - t_spawn,
        "op_s.p50": statistics.median(samples),
        "rows_per_s": rows_per_s,
        "peak_rss_mb": peak / 1e6,
    }
    failed = run["failed"] + len(res["mismatches"])
    attempted = run["attempted"]

    lines = [f"workload {args.workload} seed {args.seed} trace {args.trace}"]
    lines += _describe_inputs(args.workload, fx)
    lines.append(f"timed: {len(samples)} ops in {run['wall_s']:.2f} s")
    lines.append(f"error_rate: {failed / attempted:.4f} ({failed}/{attempted})")
    for m in res["mismatches"]:
        lines.append(f"MISMATCH {m}")
    if args.workload == "ingest":
        write_s = sum(run["rate_s"])
        lines.append(
            f"write_mb_s: {run['user_bytes'] / 1e6 / write_s:.4f} MB/s "
            f"({run['user_bytes']} user bytes in {write_s:.2f} s of write calls)"
        )
        lines.append(
            f"stored_bytes_per_user_byte: {res['stored_bytes'] / res['ingested_bytes']:.3f}"
        )
    counts = {"op_s.p50": len(samples), "rows_per_s": len(run["rate_s"])}
    if args.trace:
        counts = {m["name"]: res["traced_ops"] for m in spec["per_layer"]}
        counts.update({"session.start_s": 1, "session.warmup_s": 1})
        layer = res["per_layer"]
        layer["session.start_s"] = res["t_session"] - t_spawn
        layer["session.warmup_s"] = res["t_warm"] - res["t_session"]
        metrics = {
            m["name"]: {"value": layer[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]
        }
        lines.append(f"trace: {res['spans']} spans -> {job['trace_out']}")
    else:
        metrics = {
            m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]
        }
    for name, m in metrics.items():
        n = counts.get(name, 1)
        lines.append(f"metric {name} = {m['value']:.6g} {m['unit']} (n={n})")
    print("\n".join(lines))
    correct = not res["mismatches"]
    print(
        json.dumps(
            {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0 if correct and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
