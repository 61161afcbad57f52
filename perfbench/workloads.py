"""The benchmark's workloads, their datasets, sinks and output checks.

Each workload is a fixed list of registered queries (``queries.QUERIES``)
run closed-loop by one client thread: the next query is built only after
the previous one's result reached its sink. The workloads are chosen so
one layer group does most of the work in each (see README.md).
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import sys
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))

# A byte-for-byte copy of the engine's sf0.01 reference tables (the
# TPC-H-ish star schema plus events, documents and embeddings that the
# oracle tests run on), kept here because a run reads nothing outside
# its checkout. Workloads run on key-shifted scale-ups of it made by
# scripts/make_scaled_fixtures.py.
BASE_DIR = os.path.join(HERE, "data", "sf0.01")
BASE_ROWS = {
    "customer": 1500, "documents": 500, "embeddings": 500, "events": 10000,
    "lineitem": 60000, "nation": 25, "orders": 15000, "part": 2000, "region": 5,
    "supplier": 100,
}


@dataclass(frozen=True)
class Write:
    """How a query's result is written: ``sources.<fn>(df, path, **kw)``."""

    fn: str
    kwargs: dict = field(default_factory=dict)


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    scale: int  # copies of the sf0.01 base data the workload runs on
    writes: dict[str, Write] = field(default_factory=dict)


# Timed passes in a run of REF_SECONDS (BENCHMARK.json's run_seconds);
# other --seconds scale the count. Four passes took 17-38 s on a 4-core
# host, which keeps a full evaluation of both workloads inside its budget.
REF_SECONDS = 25
TIMED_PASSES = 4

# Two workloads, not one per layer group: every run pays a JVM start and a
# cold check pass (20-30 s) before it times anything, and a full evaluation
# (22 runs per workload plus 4) must finish within 3420 s, which leaves too
# little timed work per run at three or more workloads for steady figures.
# Each workload keeps the other's layers nearly idle: no Python runs in
# relational_etl, and llm_kmeans scans and shuffles little.
WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in [
        Workload(
            "relational_etl",
            # An odd number of queries puts the median latency among one
            # query's samples, not between two queries' (five-seed p50
            # spread: 14% with four queries, 2% with five).
            (
                "q01_pricing_summary",
                "q03_shipping_priority",
                "q21_waiting_orders",
                "q_total_order_sort",
                "q_stream_hourly",
            ),
            12,
            writes={
                "q_stream_hourly": Write("write_partitioned", {"partition_cols": ["event_type"]}),
            },
        ),
        Workload(
            "llm_kmeans",
            (
                "q_pii_redact",
                "q_dedup_minhash",
                "q_ann_topk",
                "q_kmeans",
                "q_matmul_gram",
                "q_hybrid_token_stats",
                "q_pipes_native_wordcount",
            ),
            8,
        ),
    ]
}


# -- dataset ----------------------------------------------------------------
def ensure_dataset(cache: str, factor: int) -> str:
    """Build (once) the ``factor``-fold scale-up of the base data, check
    base and scale-up by row counts and return the scale-up's directory."""
    if _row_counts(BASE_DIR) != BASE_ROWS:
        raise RuntimeError(f"{BASE_DIR}: row counts differ from {BASE_ROWS}")
    # region and nation are fixed dimensions; every other table scales
    want = {t: n if t in ("region", "nation") else n * factor for t, n in BASE_ROWS.items()}
    scaled = os.path.join(cache, f"data-sf0.01-x{factor}")
    if os.path.isdir(scaled) and _row_counts(scaled) == want:
        return scaled
    sys.path.insert(0, os.path.join(os.path.dirname(HERE), "scripts"))
    import make_scaled_fixtures

    tmp = scaled + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    with contextlib.redirect_stdout(sys.stderr):
        make_scaled_fixtures.scale(BASE_DIR, tmp, factor)
    if _row_counts(tmp) != want:
        raise RuntimeError(f"{tmp}: row counts differ from {want}")
    shutil.rmtree(scaled, ignore_errors=True)
    os.rename(tmp, scaled)
    return scaled


def _row_counts(path: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {
        f.removesuffix(".parquet"): pq.read_metadata(os.path.join(path, f)).num_rows
        for f in sorted(os.listdir(path))
        if f.endswith(".parquet")
    }


def dataset_sizes(path: str) -> dict:
    rows = _row_counts(path)
    size = sum(os.path.getsize(os.path.join(path, f"{t}.parquet")) for t in rows)
    return {"rows": rows, "bytes": size}


# -- oracle answers -----------------------------------------------------------
def oracle_frames(names, data_dir: str, cache: str) -> dict:
    """DuckDB oracle result per query, cached on disk by (dataset, SQL)."""
    import pickle

    from hadoop_gpu_spark.queries import ORACLES

    out, con = {}, None
    os.makedirs(cache, exist_ok=True)
    for name in names:
        sql = ORACLES[name]
        key = hashlib.sha1(f"{data_dir}\0{sql}".encode()).hexdigest()[:16]
        path = os.path.join(cache, f"{name}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                out[name] = pickle.load(f)
            continue
        if con is None:
            from tests.oracle import duckdb_con

            con = duckdb_con(data_dir)
        out[name] = con.sql(sql).df()
        with open(path, "wb") as f:
            pickle.dump(out[name], f)
    if con is not None:
        con.close()
    return out


def written_rows(path: str) -> int:
    """Row count of a parquet output directory, from file footers."""
    import pyarrow.parquet as pq

    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.read_metadata(os.path.join(dirpath, f)).num_rows
    return total
