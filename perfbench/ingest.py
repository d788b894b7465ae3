"""The ``ingest`` workload: writes beside the reads that depend on them.

Each round appends one seeded event batch and then serves reads from what
the writes left:

1. the batch file lands in the stream source directory and the streaming
   idempotent sink (``streaming.foreach_batch_idempotent_sink``) writes it
   to ``landing/day=<d>``;
2. ``sources.write_demux`` routes the batch by event type;
3. ``layout.optimize_incremental`` merges it into the Z-order table;
4. ``sources.compact_small_files`` rewrites the Z-order table's small files
   into the flat serving table;
5. ``layout.write_bloom_sidecar`` indexes the serving table by event id;

then point lookups (``layout.bloom_lookup_files`` plus a read of the
passing files) and range scans over the clustered dimensions.  Every read
is checked against the rows the benchmark generated.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

from perfbench.trace import exec_per_op, log_round

DIMS = ["user_id", "value_cents"]
#: 2^2 Z-order cells: a batch touches every cell, so each append rewrites
#: four partition directories
FILE_BITS = 2
#: one round is one append, then reads of what it left.  The read mix is
#: fixed: a lookup of a written key also reads the file it finds and is the
#: slow read, a scan the fast one, and two to one keeps the median read
#: inside the slow mode.  Lookups of keys never written are fast, so they
#: run in the warm-up only; drawn at random in the timed reads, their share
#: moved the median from one mode to the other.
LOOKUPS_PER_ROUND = 2
SCANS_PER_ROUND = 1
#: the base load and two appends: after only one warm append, the timed
#: ``optimize_incremental`` calls still got faster round by round (by about
#: a quarter over four rounds: JVM warm-up), at a pace that varied by run
WARM_APPENDS = 3


def _du(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, Spark's bookkeeping files excluded."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class IngestWorkload:
    #: seconds one warm round takes on the reference host (4 vCPUs)
    ROUND_S = 6.0

    def __init__(self, spark, info: dict, seed: int, work: str):
        self.spark = spark
        self.info = info
        self.rng = random.Random(seed)
        self.d = {
            k: os.path.join(work, k)
            for k in ("stage", "src", "landing", "demux", "zt", "flat", "ckpt")
        }
        for k in ("stage", "src"):
            os.makedirs(self.d[k], exist_ok=True)
        self.day = 0
        self._op_id = 0
        self.bounds = None
        self.query = None
        self.seen_batches = -1
        self.batch_ms: list[float] = []
        # what has been ingested, indexed by event id (ids are dense)
        self.users = np.zeros(0, np.int64)
        self.cents = np.zeros(0, np.int64)
        self.user_bytes = 0
        self.mismatches: list[str] = []
        self.layer = {
            "rewritten_bytes": 0,
            "appended_bytes": 0,
            "sources_bytes": 0,
            "sources_files": 0,
            "passing_files": 0,
            "lookups": 0,
            "rows_scanned": 0,
            "rows_returned": 0,
        }

    # -- setup ---------------------------------------------------------------
    def _start_stream(self) -> None:
        from pyspark.sql.types import (
            IntegerType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        from hadoop_20_spark import streaming

        schema = StructType(
            [
                StructField("event_id", LongType()),
                StructField("day", IntegerType()),
                StructField("user_id", LongType()),
                StructField("event_type", StringType()),
                StructField("value_cents", LongType()),
                StructField("props", StringType()),
            ]
        )
        src = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.d["src"])
        )
        self.query = (
            streaming.foreach_batch_idempotent_sink(src, self.d["landing"], "day")
            .option("checkpointLocation", self.d["ckpt"])
            .start()
        )

    def _stage(self, day: int) -> str:
        """Copy the day's batch next to the source directory (untimed), so
        handing it to the stream is one rename."""
        name = f"batch_{day:03d}.parquet"
        shutil.copy(os.path.join(self.info["dir"], name), os.path.join(self.d["stage"], name))
        return name

    def _expect(self, day: int) -> None:
        t = pq.read_table(os.path.join(self.info["dir"], f"batch_{day:03d}.parquet"))
        ids = t["event_id"].to_numpy()
        n0 = len(self.users)
        order = np.argsort(ids)
        if ids[order[0]] != n0 or ids[order[-1]] != n0 + len(ids) - 1:
            raise ValueError("fixture event ids are not dense")
        self.users = np.concatenate([self.users, t["user_id"].to_numpy()[order]])
        self.cents = np.concatenate([self.cents, t["value_cents"].to_numpy()[order]])

    # -- one round -------------------------------------------------------------
    def ingest(self, tracer) -> dict:
        """Append the next batch through every write step; returns the
        seconds spent in each write call."""
        from hadoop_20_spark import sources
        from hadoop_20_spark.operators import layout

        day = self.day
        name = self._stage(day)
        meta = self.info["batches"][day]
        spent = {}
        op = f"day{day}"

        t = time.perf_counter()
        with tracer.span("streaming.append", op, exec_counters=True):
            os.rename(os.path.join(self.d["stage"], name), os.path.join(self.d["src"], name))
            self.query.processAllAvailable()
        spent["stream"] = time.perf_counter() - t
        batch = self.spark.read.parquet(os.path.join(self.d["landing"], f"day={day}"))

        t = time.perf_counter()
        demux_dir = os.path.join(self.d["demux"], f"day={day}")
        with tracer.span("sources.write_demux", op, exec_counters=True):
            sources.write_demux(batch, demux_dir, "event_type")
        spent["demux"] = time.perf_counter() - t

        t = time.perf_counter()
        with tracer.span("layout.optimize_incremental", op, exec_counters=True):
            if self.bounds is None:
                self.bounds = layout.write_clustered_partitioned(
                    batch, DIMS, self.d["zt"], file_bits=FILE_BITS
                )
                affected = None
            else:
                affected = layout.optimize_incremental(
                    self.spark, self.d["zt"], batch, DIMS, self.bounds, file_bits=FILE_BITS
                )["affected"]
        spent["optimize"] = time.perf_counter() - t

        t = time.perf_counter()
        with tracer.span("sources.compact_small_files", op, exec_counters=True):
            sources.compact_small_files(self.spark, self.d["zt"], self.d["flat"], target_file_mb=1)
        spent["compact"] = time.perf_counter() - t

        t = time.perf_counter()
        with tracer.span("layout.write_bloom_sidecar", op, exec_counters=True):
            layout.write_bloom_sidecar(self.spark, self.d["flat"], "event_id")
        spent["bloom"] = time.perf_counter() - t

        self._after_ingest(day, meta, affected, demux_dir, tracer)
        return spent

    def _after_ingest(self, day, meta, affected, demux_dir, tracer) -> None:
        """Untimed bookkeeping: expected rows, streaming progress and, when
        tracing, bytes written per layer."""
        self._expect(day)
        self.user_bytes += meta["bytes"]
        self.day += 1
        for p in self.query.recentProgress:
            if p["batchId"] > self.seen_batches and p.get("numInputRows", 0) > 0:
                self.batch_ms.append(float(p["durationMs"]["triggerExecution"]))
                self.seen_batches = p["batchId"]
        if tracer.enabled:
            b_demux, f_demux = _du(demux_dir)
            b_flat, f_flat = _du(self.d["flat"])
            self.layer["sources_bytes"] += b_demux + b_flat
            self.layer["sources_files"] += f_demux + f_flat
            if affected is not None:
                self.layer["rewritten_bytes"] += sum(
                    _du(os.path.join(self.d["zt"], f"zorder_file={k}"))[0] for k in affected
                )
                self.layer["appended_bytes"] += meta["bytes"]

    def _lookup(self, tracer, op: int, present: bool = True) -> None:
        from pyspark.sql import functions as F

        from hadoop_20_spark.operators import layout

        n = len(self.users)
        key = self.rng.randrange(n) if present else n + self.rng.randrange(n)
        with tracer.span("layout.bloom_lookup_files", op):
            passing, _total = layout.bloom_lookup_files(self.spark, self.d["flat"], key)
        rows = []
        if passing:
            with tracer.span("exec.read", op, exec_counters=True) as rec:
                rows = (
                    self.spark.read.parquet(*passing)
                    .filter(F.col("event_id") == key)
                    .select("event_id", "user_id", "value_cents")
                    .collect()
                )
            self.layer["rows_scanned"] += rec.get("exec", {}).get("input_rows", 0)
        self.layer["passing_files"] += len(passing)
        self.layer["lookups"] += 1
        self.layer["rows_returned"] += len(rows)
        want = [] if key >= n else [(key, int(self.users[key]), int(self.cents[key]))]
        got = [(r["event_id"], r["user_id"], r["value_cents"]) for r in rows]
        if got != want:
            self.mismatches.append(f"lookup {key}: got {got}, want {want}")

    def _scan(self, tracer, op: int) -> None:
        from pyspark.sql import functions as F

        u0 = self.rng.randrange(0, 50_000)
        c0 = self.rng.randrange(0, 20_000)
        u1, c1 = u0 + 5_000, c0 + 2_000
        with tracer.span("exec.read", op, exec_counters=True) as rec:
            r = (
                self.spark.read.parquet(self.d["flat"])
                .filter(F.col("user_id").between(u0, u1) & F.col("value_cents").between(c0, c1))
                .agg(F.count(F.lit(1)).alias("n"), F.sum("value_cents").alias("s"))
                .first()
            )
        self.layer["rows_scanned"] += rec.get("exec", {}).get("input_rows", 0)
        sel = (self.users >= u0) & (self.users <= u1) & (self.cents >= c0) & (self.cents <= c1)
        want = (int(sel.sum()), int(self.cents[sel].sum()))
        got = (int(r["n"]), int(r["s"] or 0))
        self.layer["rows_returned"] += got[0]
        if got != want:
            self.mismatches.append(f"scan {u0}-{u1}/{c0}-{c1}: got {got}, want {want}")

    def reads(self, tracer, samples: list, failed: list, kinds=None) -> None:
        if kinds is None:
            kinds = ["lookup"] * LOOKUPS_PER_ROUND + ["scan"] * SCANS_PER_ROUND
            self.rng.shuffle(kinds)
        for kind in kinds:
            self._op_id += 1
            t = time.perf_counter()
            try:
                with tracer.span("op", self._op_id) as rec:
                    rec["kind"] = kind
                    if kind == "scan":
                        self._scan(tracer, self._op_id)
                    else:
                        self._lookup(tracer, self._op_id, present=kind == "lookup")
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                failed.append(kind)
            samples.append(time.perf_counter() - t)

    # -- phases --------------------------------------------------------------
    def warmup(self, tracer) -> float:
        """Base load and appends, then a lookup of a written key, a lookup
        of a key never written and a scan, so every write and read shape
        has run before timing.
        Reads are checked with numpy as they arrive, too cheap to subtract
        from set-up: returns 0."""
        failed: list[str] = []
        t = time.perf_counter()
        self._start_stream()
        steps = {"stream_start": time.perf_counter() - t}
        for k in range(WARM_APPENDS):
            for name, dt in self.ingest(tracer).items():
                steps[f"{name}{k}"] = dt
        t = time.perf_counter()
        self.reads(tracer, [], failed, kinds=["lookup", "miss", "scan"])
        steps["reads"] = time.perf_counter() - t
        log_round(0, list(steps), list(steps.values()))
        if failed:
            raise RuntimeError(f"warm-up reads failed: {failed}")
        return 0.0

    def run(self, rounds: int, tracer) -> dict:
        """Closed loop of ``rounds`` rounds: an append, then reads.
        The per-layer tallies start afresh, so they describe this loop."""
        self.batch_ms = []
        self.layer = dict.fromkeys(self.layer, 0)
        samples: list[float] = []
        failed: list[str] = []
        rate_s: list[float] = []
        rate_rows: list[int] = []
        user_bytes = 0
        t_start = time.perf_counter()
        for k in range(1, rounds + 1):
            if self.day >= len(self.info["batches"]):
                raise RuntimeError("ingest fixture ran out of batches")
            batch = self.info["batches"][self.day]
            user_bytes += batch["bytes"]
            spent = self.ingest(tracer)
            rate_s.append(sum(spent.values()))
            rate_rows.append(batch["rows"])
            n0 = len(samples)
            self.reads(tracer, samples, failed)
            reads = samples[n0:]
            log_round(k, [*spent, *["read"] * len(reads)], [*spent.values(), *reads])
        return {
            "samples": samples,
            "wall_s": time.perf_counter() - t_start,
            "user_bytes": user_bytes,
            "rate_rows": rate_rows,
            "rate_s": rate_s,
            "attempted": len(samples),
            "failed": len(failed),
        }

    def verify(self) -> None:
        """Every tree the writes left holds exactly the ingested rows."""
        from pyspark.sql import functions as F

        want = (len(self.users), int(self.cents.sum()))
        for tree in ("landing", "demux", "zt", "flat"):
            r = (
                self.spark.read.parquet(self.d[tree])
                .agg(F.count(F.lit(1)).alias("n"), F.sum("value_cents").alias("s"))
                .first()
            )
            got = (int(r["n"]), int(r["s"] or 0))
            if got != want:
                self.mismatches.append(f"{tree}: got {got}, want {want}")

    def stored_bytes(self) -> int:
        from hadoop_20_spark import sources

        trees = ("landing", "demux", "zt", "flat")
        paths = [self.d[t] for t in trees] + [self.d["flat"] + "_bloom"]
        return sum(sources.fs_du_bytes(self.spark, p) for p in paths)

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()


def layer_metrics(wl: IngestWorkload, tracer) -> dict:
    """Per-layer numbers of one traced ingest loop, per round unless noted."""
    rounds = max(len(tracer.named("layout.optimize_incremental")), 1)
    src = tracer.dur("sources.write_demux") + tracer.dur("sources.compact_small_files")
    ms = sorted(wl.batch_ms)
    pct = lambda q: statistics.quantiles(ms, n=10)[q] if len(ms) >= 2 else (ms[0] if ms else 0.0)  # noqa: E731
    L = wl.layer
    reads = tracer.named("exec.read")
    n_reads = len(tracer.named("op"))
    return {
        "sources.write_s": sum(src) / rounds,
        "sources.bytes_written": L["sources_bytes"] / rounds,
        "sources.files_written": L["sources_files"] / rounds,
        "sources.stored_bytes_per_user_byte": wl.stored_bytes() / wl.user_bytes,
        "layout.optimize_s": sum(tracer.dur("layout.optimize_incremental")) / rounds,
        "layout.bytes_rewritten_per_byte_appended": L["rewritten_bytes"] / max(L["appended_bytes"], 1),
        "layout.files_read_per_lookup": L["passing_files"] / max(L["lookups"], 1),
        "layout.rows_scanned_per_row_returned": L["rows_scanned"] / max(L["rows_returned"], 1),
        "streaming.batch_ms.p50": statistics.median(ms) if ms else 0.0,
        "streaming.batch_ms.p90": pct(8),
        "streaming.batches": float(len(ms)),
        "exec.run_s": statistics.median(tracer.dur("exec.read")) if reads else 0.0,
        **exec_per_op(reads, n_reads),
    }
