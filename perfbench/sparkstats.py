"""Spark-side counters read from outside through py4j.

Three sources, all live with ``spark.ui.enabled=false``:

- the application status store's executor summaries (task time, GC time,
  task counts, shuffle bytes), diffed around each query;
- its stage records (CPU time, fetch wait, spill), read newest-first until
  the last stage already seen;
- the SQL status store's final (post-AQE) plan graph of every SQL execution
  a query ran, whose node metrics are bucketed by node type into the layer
  that owns the operator.
"""

from __future__ import annotations

import re
from collections import defaultdict

_EXECUTOR_FIELDS = {
    "run_ms": "totalDuration",
    "gc_ms": "totalGCTime",
    "tasks": "totalTasks",
    "tasks_failed": "failedTasks",
    "shuffle_read_bytes": "totalShuffleRead",
    "shuffle_write_bytes": "totalShuffleWrite",
}
_STAGE_FIELDS = {
    "cpu_ns": "executorCpuTime",
    "fetch_wait_ms": "shuffleFetchWaitTime",
    "spill_disk_bytes": "diskBytesSpilled",
}

_NODE_RE = re.compile(r'^\s*(\d+) \[id="node\d+" labelType="html" label="((?:[^"\\]|\\.)*)"', re.M)
_EDGE_RE = re.compile(r"^\s*(\d+)->(\d+);", re.M)
_NAME_RE = re.compile(r"<b>(.*?)</b>")
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PYTHON_NODE_RE = re.compile(r"Python|InPandas|InArrow")
_STATE_NODE_RE = re.compile(r"StateStore|Streaming|WithState")
_WRITE_NODE_RE = re.compile(r"InsertInto|WriteFiles")


def parse_metric(text: str) -> float | None:
    """Parse a formatted SQL metric value ("1,500", "35.8 KiB", "1.2 s",
    optionally followed by " (min, med, max ...)") to rows, bytes or
    seconds."""
    parts = text.split(" (", 1)[0].split()
    try:
        value = float(parts[0].replace(",", ""))
    except (IndexError, ValueError):
        return None
    if len(parts) > 1:
        unit = parts[1]
        value *= _SIZE_UNITS.get(unit) or _TIME_UNITS.get(unit, 1.0)
    return value


_MULTI_TASK = " total (min, med, max"


def parse_plan_dot(dot: str) -> tuple[dict[int, tuple[str, dict[str, float]]], list[tuple[int, int]]]:
    """Nodes ``{id: (name, {metric: value})}`` and child->parent edges of a
    plan graph rendered by ``SparkPlanGraph.makeDotFile``. A metric is
    either "name: value" or, when several tasks reported it,
    "name total (min, med, max ...)" followed by the value line."""
    nodes = {}
    for m in _NODE_RE.finditer(dot):
        label = m.group(2)
        name_m = _NAME_RE.search(label)
        name = name_m.group(1).strip() if name_m else ""
        items = [i for i in label.split("<br>") if i and "<b>" not in i]
        metrics = {}
        k = 0
        while k < len(items):
            item = items[k]
            if _MULTI_TASK in item and k + 1 < len(items):
                key, val = item.split(_MULTI_TASK, 1)[0], items[k + 1]
                k += 2
            else:
                key, _, val = item.partition(": ")
                k += 1
            v = parse_metric(val)
            if v is not None:
                metrics[key.strip()] = v
        nodes[int(m.group(1))] = (name, metrics)
    edges = [(int(a), int(b)) for a, b in _EDGE_RE.findall(dot)]
    return nodes, edges


def bucket_plan(nodes, edges) -> dict[str, float]:
    """Fold one plan's node metrics into layer counters."""
    out: dict[str, float] = defaultdict(float)
    children = defaultdict(list)
    for child, parent in edges:
        children[parent].append(child)

    def rows_into(node_id: int) -> float:
        # rows entering a node: the nearest descendants that count rows
        total = 0.0
        for c in children.get(node_id, ()):
            name, m = nodes.get(c, ("", {}))
            total += m["number of output rows"] if "number of output rows" in m else rows_into(c)
        return total

    for nid, (name, m) in nodes.items():
        if name.startswith("Scan"):
            out["sources.scan_rows"] += m.get("number of output rows", 0.0)
            out["sources.scan_bytes"] += m.get("size of files read", 0.0)
            out["sources.scan_s"] += m.get("scan time", 0.0)
        elif _PYTHON_NODE_RE.search(name):
            out["python.rows_sent"] += rows_into(nid)
            out["python.bytes_sent"] += m.get("data sent to Python workers", 0.0)
            out["python.bytes_received"] += m.get("data returned from Python workers", 0.0)
            out["python.worker_run_s"] += m.get("time to run Python workers", 0.0)
        elif _STATE_NODE_RE.search(name):
            out["streaming.state_rows_updated"] += m.get("number of updated state rows", 0.0)
        elif _WRITE_NODE_RE.search(name):
            out["sources.write_bytes"] += m.get("written output", 0.0)
        else:
            out["operators.sort_s"] += m.get("sort time", 0.0)
            out["operators.agg_build_s"] += m.get("time in aggregation build", 0.0)
    return dict(out)


class SparkStats:
    """Snapshots of the status stores; ``delta()`` returns what changed
    since the previous call."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._stage_cls = sc._gateway.jvm.java.lang.Class.forName("org.apache.spark.status.StageDataWrapper")
        self._tracker = sc.statusTracker()
        self._exec = self._executor_totals()
        self._last_stage = self._stages_since(-1)[1]
        self._sql_count = self._sql.executionsCount()
        self._jobs = self._store.jobsList(None).size()

    def _executor_totals(self) -> dict[str, float]:
        tot = dict.fromkeys(_EXECUTOR_FIELDS, 0.0)
        seq = self._store.executorList(False)
        for i in range(seq.size()):
            e = seq.apply(i)
            for key, getter in _EXECUTOR_FIELDS.items():
                tot[key] += getattr(e, getter)()
        return tot

    def _stages_since(self, last: int) -> tuple[dict[str, float], int]:
        tot = dict.fromkeys(_STAGE_FIELDS, 0.0)
        newest = last
        it = self._store.store().view(self._stage_cls).reverse().closeableIterator()
        try:
            while it.hasNext():
                s = it.next().info()
                sid = s.stageId()
                if sid <= last:
                    break
                newest = max(newest, sid)
                for key, getter in _STAGE_FIELDS.items():
                    tot[key] += getattr(s, getter)()
        finally:
            it.close()
        return tot, newest

    def jobs_in_group(self, group: str) -> int:
        return len(self._tracker.getJobIdsForGroup(group))

    def delta(self) -> dict[str, float]:
        """Counters accumulated since the last call (listener bus drained
        first, so every finished task is in the store)."""
        self._jsc.listenerBus().waitUntilEmpty()
        exe = self._executor_totals()
        d = {f"exec.{k}": exe[k] - self._exec[k] for k in exe}
        self._exec = exe
        stages, self._last_stage = self._stages_since(self._last_stage)
        d.update({f"stage.{k}": v for k, v in stages.items()})
        jobs = self._store.jobsList(None).size()
        d["jobs"], self._jobs = jobs - self._jobs, jobs
        n = self._sql.executionsCount()
        plans: dict[str, float] = defaultdict(float)
        if n > self._sql_count:
            execs = self._sql.executionsList(self._sql_count, n - self._sql_count)
            for i in range(execs.size()):
                eid = execs.apply(i).executionId()
                dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
                for k, v in bucket_plan(*parse_plan_dot(dot)).items():
                    plans[k] += v
        self._sql_count = n
        d.update(plans)
        return d
