"""Seeded inputs for the benchmark workloads, built once per seed and cached.

The ``olap`` and ``llm_curation`` tables come from the repository's own
generator (``tools/gen_fixture.py``).  Its random streams are keyed by table
name only, so the seed is supplied around it: a private copy of the module
is loaded and its ``_rng`` replaced by one keyed by (seed, table).
The ``ingest`` batches are event rows drawn here with numpy.

Everything in this module is the benchmark's own cost: it runs in the
parent process, before the measured process starts, and never counts in
``setup_s``.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: registry entries per query workload, in their canonical order
OLAP_OPS = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q8_market_share",
    "q18_large_orders",
    "q21_sole_blame",
)
CURATION_OPS = (
    "minhash_lsh_pairs",
    "embedding_topk",
    "winnowing_fps",
    "tfidf_top_terms",
)
OLAP_TABLES = ("region", "nation", "supplier", "customer", "part", "orders", "lineitem")
CURATION_TABLES = ("documents", "embeddings")
#: row counts as a multiple of sf0.1's (1 = 600k lineitem rows, 5k documents)
OLAP_SCALE = 0.1
CURATION_SCALE = 0.5

#: ingest batch shape: one base load (ingested during warm-up) plus
#: appended batches, one per timed round
INGEST_BASE_ROWS = 40_000
INGEST_BATCH_ROWS = 10_000
INGEST_MAX_BATCHES = 40
INGEST_USERS = 50_000
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

FORMAT_VERSION = 2


class _Scale(float):
    """A multiplier the generator can take below 1: it computes each row
    count as ``<sf0.1 count> * mult`` and needs an int back."""

    def __rmul__(self, other):
        return max(1, round(other * float(self)))

    __mul__ = __rmul__


def _seed_int(seed: int, name: str) -> int:
    h = hashlib.md5(f"perfbench:{seed}:{name}".encode()).hexdigest()
    return int(h[:15], 16)


def _load_generator(root: str):
    path = os.path.join(root, "tools", "gen_fixture.py")
    spec = importlib.util.spec_from_file_location("perfbench_gen_fixture", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def table_stats(fx_dir: str, tables) -> dict:
    """Rows and on-disk bytes of each parquet table under ``fx_dir``."""
    out = {}
    for t in tables:
        p = os.path.join(fx_dir, f"{t}.parquet")
        out[t] = {"rows": pq.read_metadata(p).num_rows, "bytes": os.path.getsize(p)}
    return out


def _oracle_hashes(root: str, fx_dir: str, ops) -> dict:
    """Canonical DuckDB answer of each op's registry oracle SQL."""
    import duckdb

    from perfbench.canon import frame_hash

    if root not in sys.path:
        sys.path.insert(0, root)
    from hadoop_20_spark.catalog import TABLES, table_path
    from hadoop_20_spark.queries import REGISTRY

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for t in TABLES:
            p = table_path(fx_dir, t)
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for name in ops:
            sql = REGISTRY[name].oracle
            if sql is None:
                raise ValueError(f"{name} has no oracle SQL to check its answer against")
            out[name] = frame_hash(con.execute(sql).df())
        return out
    finally:
        con.close()


def _write_atomically(final_dir: str, build) -> None:
    tmp = final_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    shutil.rmtree(final_dir, ignore_errors=True)
    os.rename(tmp, final_dir)


def query_fixture(root: str, cache: str, workload: str, seed: int) -> dict:
    """Seeded tables plus oracle hashes for ``olap`` or ``llm_curation``."""
    tables, scale, ops = {
        "olap": (OLAP_TABLES, OLAP_SCALE, OLAP_OPS),
        "llm_curation": (CURATION_TABLES, CURATION_SCALE, CURATION_OPS),
    }[workload]
    fx_dir = os.path.join(cache, f"{workload}-v{FORMAT_VERSION}-s{seed}")
    info_path = os.path.join(fx_dir, "perfbench.json")
    if not os.path.exists(info_path):

        def build(tmp: str) -> None:
            gen = _load_generator(root)
            gen._rng = lambda name: np.random.default_rng(_seed_int(seed, name))
            with contextlib.redirect_stdout(sys.stderr):
                gen.gen(tmp, _Scale(scale), only=set(tables))
            info = {
                "workload": workload,
                "seed": seed,
                "ops": list(ops),
                "tables": table_stats(tmp, tables),
                "oracle": _oracle_hashes(root, tmp, ops),
            }
            with open(os.path.join(tmp, "perfbench.json"), "w") as f:
                json.dump(info, f, indent=1)

        _write_atomically(fx_dir, build)
    with open(info_path) as f:
        info = json.load(f)
    info["dir"] = fx_dir
    return info


EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("day", pa.int32()),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value_cents", pa.int64()),
        ("props", pa.string()),
    ]
)


def _event_batch(rng: np.random.Generator, day: int, first_id: int, n: int) -> pa.Table:
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    # a seeded shuffle so event ids are not clustered within a file
    rng.shuffle(ids)
    # skewed users (a few heavy users) and long-tailed values, like click logs
    users = (rng.zipf(1.3, n) - 1) % INGEST_USERS
    kinds = np.array(EVENT_TYPES)[rng.choice(len(EVENT_TYPES), n, p=[0.4, 0.05, 0.1, 0.05, 0.4])]
    cents = np.round(rng.exponential(5_000.0, n)).astype(np.int64)
    props = [f'{{"k":{k}}}' for k in rng.integers(0, 100, n)]
    return pa.table(
        {
            "event_id": ids,
            "day": np.full(n, day, dtype=np.int32),
            "user_id": users.astype(np.int64),
            "event_type": kinds,
            "value_cents": cents,
            "props": props,
        },
        schema=EVENT_SCHEMA,
    )


def ingest_fixture(cache: str, seed: int) -> dict:
    """Seeded event batches: ``batch_000`` is the base load, the rest are
    appends.  Each is one parquet file, the unit the stream source sees."""
    fx_dir = os.path.join(cache, f"ingest-v{FORMAT_VERSION}-s{seed}")
    info_path = os.path.join(fx_dir, "perfbench.json")
    if not os.path.exists(info_path):

        def build(tmp: str) -> None:
            rng = np.random.default_rng(_seed_int(seed, "ingest"))
            batches = []
            first = 0
            for day in range(INGEST_MAX_BATCHES + 1):
                n = INGEST_BASE_ROWS if day == 0 else INGEST_BATCH_ROWS
                path = os.path.join(tmp, f"batch_{day:03d}.parquet")
                pq.write_table(_event_batch(rng, day, first, n), path)
                batches.append({"rows": n, "bytes": os.path.getsize(path)})
                first += n
            info = {"workload": "ingest", "seed": seed, "batches": batches}
            with open(os.path.join(tmp, "perfbench.json"), "w") as f:
                json.dump(info, f, indent=1)

        _write_atomically(fx_dir, build)
    with open(info_path) as f:
        info = json.load(f)
    info["dir"] = fx_dir
    return info
