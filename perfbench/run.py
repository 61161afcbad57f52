"""Layer-isolating benchmark for hadoop_gpu_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One client thread runs the workload's
queries closed-loop on ``local[nproc]``. Set-up is the session start and
an untimed warm-up pass that checks every result against its DuckDB
oracle. Then come whole passes over the query list, a fixed number
scaled to ``--seconds``, each in an order permuted by the seed. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics and the tracing overhead,
measured against untraced passes of the same run. The line before it is
the full run record.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
# counters also kept per query (last traced pass) to attribute a layer's
# work inside a workload
QUERY_COUNTERS = ("jobs", "exec.shuffle_write_bytes", "python.bytes_sent", "sources.scan_bytes",
                  "sources.write_bytes")


def machine_calib() -> dict:
    """Fixed CPU probe (min of 3): md5 over 32 MiB and a 512^2 matmul."""
    import numpy as np

    blk = b"\x5a" * 65536
    md5_t, mm_t = [], []
    a = np.arange(512 * 512, dtype=np.float64).reshape(512, 512) % 7.0
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.md5()
        for _ in range(512):
            h.update(blk)
        md5_t.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        a @ a
        mm_t.append(time.perf_counter() - t0)
    return {"md5_32mib_s": min(md5_t), "matmul_512_s": min(mm_t)}


def host_cpu_s() -> dict[str, float]:
    """Host-wide CPU seconds so far from /proc/stat: busy, idle and steal
    (time the hypervisor ran someone else on this VM's vCPUs)."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    user, nice, system, idle, iowait, irq, softirq, steal = t
    return {"busy_s": (user + nice + system + irq + softirq) / hz,
            "idle_s": (idle + iowait) / hz, "steal_s": steal / hz}


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tail(latencies: list[float]) -> tuple[float, float]:
    """Latency at the highest percentile with >= 10 samples beyond it;
    returns (value, percentile). Below 22 samples no rank above the
    median has 10 samples beyond it, and the median itself is returned
    with percentile 50."""
    xs = sorted(latencies)
    n = len(xs)
    med = statistics.median(xs)
    if n <= 10 or xs[n - 11] <= med:
        return med, 50.0
    return xs[n - 11], 100.0 * (n - 10) / n


def configure_env(nproc: int) -> None:
    """Hermetic environment: workers import the engine from any cwd, every
    scratch path stays inside the checkout, the session sizes to nproc."""
    for d in ("tmp", "spark-local", "warehouse", "out", "traces"):
        os.makedirs(os.path.join(CACHE, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["TMPDIR"] = os.path.join(CACHE, "tmp")
    # no /tmp/hsperfdata_* files from the launcher or the Spark JVM
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if o
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    sys.path.insert(0, ROOT)


def spark_conf() -> dict[str, str]:
    tmp = os.path.join(CACHE, "tmp")
    # The whole 2 GB heap is committed and touched at JVM start. Left to
    # grow on demand, the heap's first touches of fresh pages cost 0.5-3 s
    # of hypervisor steal in the first timed passes on a virtual machine,
    # and G1's resizing made the peak RSS vary by 30% between runs.
    heap = f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
    # The JIT stops at its first tier (C1). Whole-stage codegen loads new
    # classes on every pass, so with C2 the compiler threads used about as
    # much CPU as the tasks for the whole run, pass times were still
    # falling after ten passes (by a third in all), and q21 ran at about
    # 1.3 s in some JVMs and 2.3 s in others. With C1 the timed passes of
    # a run stay within about 10% of each other from the first one on.
    # C1-only mode shrinks the code cache to 48 MB by default, which
    # filled after seven passes and slowed the next by 30%; 240 MB is the
    # tiered default.
    jit = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} {heap} {jit}",
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
        "spark.local.dir": os.path.join(CACHE, "spark-local"),
        # keep every job/stage/SQL execution of a run in the status stores
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


class Runner:
    """One closed-loop client over one workload."""

    def __init__(self, spark, workload, data_dir: str, oracles: dict, seed: int):
        self.spark = spark
        self.wl = workload
        self.data_dir = data_dir
        self.oracles = oracles
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.failures: list[dict] = []
        self.check_s: dict[str, float] = {}
        self.expected_rows = {q: len(oracles[q]) for q in workload.queries}

    def order(self, pass_no: int) -> list[str]:
        qs = list(self.wl.queries)
        random.Random(f"{self.seed}:{pass_no}").shuffle(qs)
        return qs

    def _out_path(self, q: str) -> str:
        return os.path.join(CACHE, "out", self.wl.name, q)

    def sink(self, q: str, df) -> None:
        write = self.wl.writes.get(q)
        if write is None:
            df.write.format("noop").mode("overwrite").save()
        else:
            from hadoop_gpu_spark import sources

            getattr(sources, write.fn)(df, self._out_path(q), **write.kwargs)

    def _fail(self, q: str, phase: str, why: str) -> None:
        self.failed += 1
        self.failures.append({"query": q, "phase": phase, "error": why[-2000:]})
        print(f"[perfbench] {phase} {q} failed: {why[-2000:]}", file=sys.stderr)

    def _check_written(self, q: str, phase: str) -> None:
        if q in self.wl.writes:
            from workloads import written_rows

            got = written_rows(self._out_path(q))
            if got != self.expected_rows[q]:
                self._fail(q, phase, f"wrote {got} rows, expected {self.expected_rows[q]}")

    def check_pass(self) -> float:
        """Warm-up pass: every query once in registry order, so every run
        trains the JIT on the same sequence; each result is compared with
        its oracle and written files are read back. Returns the seconds
        spent comparing, which set-up time excludes."""
        from tests.oracle import compare_frames

        from hadoop_gpu_spark.queries import QUERIES

        compare_s = 0.0
        for q in self.wl.queries:
            self.attempted += 1
            t_q = time.perf_counter()
            try:
                df = QUERIES[q](self.spark, self.data_dir)
                pdf = df.toPandas()
                t0 = time.perf_counter()
                errs = compare_frames(pdf, self.oracles[q].copy())
                compare_s += time.perf_counter() - t0
                if errs:
                    self._fail(q, "check", "; ".join(errs[:3]))
                    continue
                if q in self.wl.writes:
                    self.sink(q, df)
                    t0 = time.perf_counter()
                    self._check_written(q, "check")
                    compare_s += time.perf_counter() - t0
            except Exception:
                self._fail(q, "check", traceback.format_exc())
            self.check_s[q] = time.perf_counter() - t_q
        return compare_s

    def run_query(self, q: str, tracer=None) -> tuple[float, float] | None:
        """Build and sink one query; return (build_s, exec_s) or None."""
        from hadoop_gpu_spark.queries import QUERIES

        self.attempted += 1
        try:
            t0 = time.perf_counter()
            if tracer is None:
                df = QUERIES[q](self.spark, self.data_dir)
                t1 = time.perf_counter()
                self.sink(q, df)
            else:
                with tracer.span(q, "queries.build"):
                    df = QUERIES[q](self.spark, self.data_dir)
                t1 = time.perf_counter()
                with tracer.span(q, "queries.exec"):
                    self.sink(q, df)
            t2 = time.perf_counter()
        except Exception:
            self._fail(q, "timed", traceback.format_exc())
            return None
        before = self.failed
        self._check_written(q, "timed")
        return None if self.failed > before else (t1 - t0, t2 - t1)


def stream_counters(queries) -> dict[str, float]:
    """Micro-batch counters from the progress of finished streaming queries."""
    out = {"streaming.batches": 0.0, "streaming.batch_s": 0.0, "streaming.state_commit_s": 0.0,
           "streaming.state_rows": 0.0}
    from hadoop_gpu_spark.streaming import progress_dicts

    for sq in queries:
        progress = progress_dicts(sq)
        for p in progress:
            out["streaming.batches"] += 1
            out["streaming.batch_s"] += p.get("durationMs", {}).get("triggerExecution", 0) / 1000.0
            for op in p.get("stateOperators", []):
                out["streaming.state_commit_s"] += op.get("commitTimeMs", 0) / 1000.0
        if progress:
            out["streaming.state_rows"] += sum(
                op.get("numRowsTotal", 0) for op in progress[-1].get("stateOperators", [])
            )
    return out


def layer_metrics(tracer, spans, stats_delta, streams, hybrid_ops, stats, pass_s, nproc, build_s, exec_s):
    """Per-layer counters of one traced pass."""
    own = tracer.self_times(spans)
    kmeans_ids = tracer.subtree_ids(spans, "ml.kmeans")
    d = stats_delta
    m = {
        "tables.load_s": own.get("tables", 0.0),
        "queries.build_s": build_s,
        "queries.exec_s": exec_s,
        "sources.scan_rows": d.get("sources.scan_rows", 0.0),
        "sources.scan_bytes": d.get("sources.scan_bytes", 0.0),
        "sources.scan_s": d.get("sources.scan_s", 0.0),
        "sources.write_s": float(sum(
            s.end - s.start for s in spans if s.layer == "sources" and s.name.startswith("write")
        )),
        "sources.write_bytes": d.get("sources.write_bytes", 0.0),
        "operators.call_s": own.get("operators", 0.0),
        "operators.shuffle_write_bytes": d["exec.shuffle_write_bytes"],
        "operators.shuffle_read_bytes": d["exec.shuffle_read_bytes"],
        "operators.shuffle_fetch_wait_s": d["stage.fetch_wait_ms"] / 1000.0,
        "operators.spill_bytes": d["stage.spill_disk_bytes"],
        "operators.sort_s": d.get("operators.sort_s", 0.0),
        "operators.agg_build_s": d.get("operators.agg_build_s", 0.0),
        "operators.pipes.call_s": own.get("operators.pipes", 0.0),
        "functions.call_s": own.get("functions", 0.0),
        "dedup.call_s": own.get("dedup", 0.0),
        "similarity.call_s": own.get("similarity", 0.0),
        "python.rows_sent": d.get("python.rows_sent", 0.0),
        "python.bytes_sent": d.get("python.bytes_sent", 0.0),
        "python.bytes_received": d.get("python.bytes_received", 0.0),
        "python.worker_run_s": d.get("python.worker_run_s", 0.0),
        "ml.kmeans.call_s": own.get("ml.kmeans", 0.0),
        "ml.kmeans.jobs": float(sum(stats.jobs_in_group(tracer.group_id(i)) for i in kmeans_ids)),
        "ml.matmul.call_s": own.get("ml.matmul", 0.0),
        "hybrid.call_s": own.get("hybrid", 0.0),
        "hybrid.cpu_batches": float(sum(op._acc["cpu_n"].value for op in hybrid_ops if hasattr(op, "_acc"))),
        "hybrid.gpu_batches": float(sum(op._acc["gpu_n"].value for op in hybrid_ops if hasattr(op, "_acc"))),
        "hybrid.alpha": max((op.alpha for op in hybrid_ops), default=0.0),
        "streaming.call_s": own.get("streaming", 0.0),
        "streaming.state_rows_updated": d.get("streaming.state_rows_updated", 0.0),
        "scheduler.jobs": float(d["jobs"]),
        "scheduler.tasks": d["exec.tasks"],
        "scheduler.tasks_failed": d["exec.tasks_failed"],
        "scheduler.executor_run_s": d["exec.run_ms"] / 1000.0,
        "scheduler.executor_cpu_s": d["stage.cpu_ns"] / 1e9,
        "scheduler.gc_s": d["exec.gc_ms"] / 1000.0,
        "scheduler.busy_share": d["exec.run_ms"] / 1000.0 / (pass_s * nproc),
    }
    m.update(stream_counters(streams))
    return m


def add(into: dict, d: dict) -> None:
    for k, v in d.items():
        into[k] = into.get(k, 0.0) + v


def timed_phase(runner: Runner, seconds: float, trace: bool, run_id: str, nproc: int) -> dict:
    """A fixed number of whole passes, ``TIMED_PASSES`` scaled by
    ``seconds / REF_SECONDS``, so every run of a workload does the same
    work. With tracing, the count is rounded to whole groups of four,
    ordered untraced, traced, traced, untraced, so both kinds sit at the
    same mean position on the warm-up curve."""
    from sparkstats import SparkStats
    from tracer import Tracer
    from workloads import REF_SECONDS, TIMED_PASSES

    streams, hybrid_ops = [], []
    tracer = stats = None
    if trace:
        tracer = Tracer(runner.spark, run_id, hooks={
            "hadoop_gpu_spark.streaming.start_skipping_empty_batches": lambda a, r: streams.append(r),
            "hadoop_gpu_spark.hybrid.run_hybrid": lambda a, r: hybrid_ops.append(a[0]),
        })
        stats = SparkStats(runner.spark)
    passes = {"untraced": [], "traced": []}
    host_cpu = []
    latencies, per_query, layers, per_query_counters = [], {}, [], {}
    n_passes = max(2, round(TIMED_PASSES * seconds / REF_SECONDS))
    if trace:
        n_passes = 4 * max(1, round(n_passes / 4))
    for p in range(n_passes):
        traced = trace and p % 4 in (1, 2)
        if traced:
            tracer.install()
            first_span = len(tracer.spans)
            stats.delta()
            streams.clear()
            hybrid_ops.clear()
            pass_stats: dict = {}
        harvest_s = build_s = exec_s = 0.0
        cpu0 = host_cpu_s()
        t_pass = time.perf_counter()
        for q in runner.order(p):
            r = runner.run_query(q, tracer if traced else None)
            if r is not None:
                latencies.append(sum(r))
                per_query.setdefault(q, []).append(sum(r))
                build_s += r[0]
                exec_s += r[1]
            if traced:
                t0 = time.perf_counter()
                d = stats.delta()
                add(pass_stats, d)
                per_query_counters[q] = {k: d.get(k, 0.0) for k in QUERY_COUNTERS}
                harvest_s += time.perf_counter() - t0
        pass_s = time.perf_counter() - t_pass - harvest_s
        passes["traced" if traced else "untraced"].append(pass_s)
        cpu1 = host_cpu_s()
        host_cpu.append({k: round(cpu1[k] - cpu0[k], 2) for k in cpu0})
        if traced:
            tracer.uninstall()
            spans = tracer.spans[first_span:]
            layers.append(layer_metrics(tracer, spans, pass_stats, streams, hybrid_ops, stats,
                                        pass_s, nproc, build_s, exec_s))
    if tracer is not None:
        tracer.write(os.path.join(CACHE, "traces", f"{run_id}.jsonl"))
    return {"passes": passes, "host_cpu": host_cpu, "latencies": latencies, "per_query": per_query,
            "layers": layers, "per_query_counters": per_query_counters}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hadoop_gpu_spark", "queries.py")):
        print("perfbench: run from a checkout of the repository (hadoop_gpu_spark/ not found)",
              file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    configure_env(nproc)
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = W.WORKLOADS[args.workload]
    t0 = time.perf_counter()
    data_dir = W.ensure_dataset(CACHE, wl.scale)
    oracles = W.oracle_frames(wl.queries, data_dir, os.path.join(CACHE, "oracle"))
    fixture_s = time.perf_counter() - t0
    calib = machine_calib()
    load1 = os.getloadavg()[0]
    # A checkout's first run builds the data and oracle answers in this
    # process; reset its peak RSS so peak_rss_mb counts from session start.
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")
    run_id = f"{wl.name}-{args.seed}-{os.getpid()}"

    from hadoop_gpu_spark import get_spark

    t_setup = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{wl.name}", shuffle_partitions=nproc, extra_conf=spark_conf())
    session_start_s = time.perf_counter() - t_setup
    try:
        runner = Runner(spark, wl, data_dir, oracles, args.seed)
        compare_s = runner.check_pass()
        setup_s = time.perf_counter() - t_setup - compare_s
        check_failed = runner.failed
        res = timed_phase(runner, args.seconds, bool(args.trace), run_id, nproc)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    finally:
        stop_spark(spark)

    lat = res["latencies"]
    untraced = res["passes"]["untraced"]
    tail_s, tail_pct = tail(lat) if lat else (0.0, 0.0)
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(untraced), "s"),
        "query_p50_s": (statistics.median(lat) if lat else 0.0, "s"),
        "query_tail_s": (tail_s, "s"),
        "success_frac": (1.0 - runner.failed / runner.attempted, "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "queries": list(wl.queries), "dataset": W.dataset_sizes(data_dir),
        "nproc": nproc, "loadavg_1m": load1, "machine_calib": calib,
        "fixture_s": fixture_s, "session_start_s": session_start_s,
        "failed_frac": runner.failed / runner.attempted, "check_failed": check_failed,
        "failures": runner.failures, "check_pass_s": runner.check_s,
        "samples": len(lat), "tail_percentile": tail_pct,
        "passes": res["passes"], "host_cpu_per_pass": res["host_cpu"],
        "per_query_median_s": {q: statistics.median(v) for q, v in res["per_query"].items()},
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
    }
    if args.trace:
        layers = {k: statistics.median(p[k] for p in res["layers"]) for k in res["layers"][0]}
        layers["session.start_s"] = session_start_s
        traced_pass = statistics.median(res["passes"]["traced"])
        layers["trace.pass_s_untraced"] = statistics.median(untraced)
        layers["trace.pass_s_traced"] = traced_pass
        layers["trace.overhead_frac"] = traced_pass / statistics.median(untraced) - 1.0
        units = per_layer_units()
        metrics = {k: {"value": layers[k], "unit": units[k]} for k in units}
        record["per_layer"] = layers
        record["per_query_counters_last_traced_pass"] = res["per_query_counters"]
        record["trace_note"] = (
            "call spans cover plan construction and eager actions only; deferred "
            "work is in queries.exec_s and the SQL-metric counters"
        )
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def stop_spark(spark) -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
