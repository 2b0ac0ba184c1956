"""Spans and Spark counters for the traced run.

Spans are recorded from the benchmark's own code around each call into
a package layer (session, sources, functions, pipeline, plans,
streaming);
nothing inside the package is instrumented. Counters come from Spark's
UI REST API, which the traced run switches on through ``get_spark``'s
``extra_conf``. Everything is kept in memory and fetched or written
once, after the timed phase.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
import urllib.request

# Extra session settings for the traced run only: the UI store is the
# counter source, and it must keep every job, stage and SQL execution
# of the run.
TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


class Tracer:
    """Span recorder. Disabled, ``span`` is a bare ``yield``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, op: str, start: float, end: float, parent: int | None = None) -> None:
        """Record a span measured elsewhere (a streaming micro-batch)."""
        if self.enabled:
            self.spans.append({"name": name, "start": start, "end": end, "parent": parent, "op": op})

    def index(self, name: str, op: str) -> int | None:
        for i in range(len(self.spans) - 1, -1, -1):
            if self.spans[i]["name"] == name and self.spans[i]["op"] == op:
                return i
        return None


_UNITS_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9, "us": 1e-6}
_UNITS_B = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TOTAL = re.compile(r"^\s*([0-9.,]+)\s*([A-Za-z]+)?")


def metric_value(raw: str) -> float:
    """Numeric total of a SQL node metric as the UI prints it: a plain
    count ('1,234'), or a total with unit ('3.6 s', '9.3 KiB'), possibly
    on the second line after a 'total (min, med, max ...)' header."""
    lines = str(raw).split("\n")
    text = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = _TOTAL.match(text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _UNITS_S:
        return num * _UNITS_S[unit]
    if unit in _UNITS_B:
        return num * _UNITS_B[unit]
    return num


class SparkCounters:
    """Reads jobs, stages and SQL executions from the UI REST API and
    attributes them to benchmark operations by id range: operations run
    one at a time, so every job and execution started between two
    ``mark`` calls belongs to the operation in between. A mark named
    ``<op>.<part>`` starts a part of ``<op>``: it keeps counters of its
    own, and they also count towards ``<op>``."""

    def __init__(self, spark):
        self.ui = spark.sparkContext.uiWebUrl
        self.app = self._get("/applications")[0]["id"]
        self.marks: list[tuple[str, int, int]] = []  # (op, first job id, first execution id)

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.ui}/api/v1{path}", timeout=30) as r:
            return json.load(r)

    def _next_ids(self) -> tuple[int, int]:
        jobs = self._get(f"/applications/{self.app}/jobs")
        execs = self._get(f"/applications/{self.app}/sql?offset=0&length=100000&details=false")
        return (
            max((j["jobId"] for j in jobs), default=-1) + 1,
            max((e["id"] for e in execs), default=-1) + 1,
        )

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until the listener bus has delivered every job end."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            jobs = self._get(f"/applications/{self.app}/jobs?status=running")
            if not jobs:
                return
            time.sleep(0.1)

    def mark(self, op: str) -> None:
        self.settle()
        job, ex = self._next_ids()
        self.marks.append((op, job, ex))

    def collect(self, cores: int, walls: dict[str, float]) -> dict[str, dict]:
        """Per-operation counters for every op between marks. ``walls``
        gives each op's wall time, for the scheduling-overhead split."""
        self.settle()
        end_job, end_ex = self._next_ids()
        bounds = self.marks + [("__end__", end_job, end_ex)]
        jobs = self._get(f"/applications/{self.app}/jobs")
        stages: dict[int, list[dict]] = {}
        for st in self._get(f"/applications/{self.app}/stages"):
            if st["status"] in ("COMPLETE", "FAILED"):
                stages.setdefault(st["stageId"], []).append(st)
        execs = self._get(
            f"/applications/{self.app}/sql?offset=0&length=100000&details=true&planDescription=true"
        )
        out: dict[str, dict] = {}
        for (op, j0, e0), (_n, j1, e1) in zip(bounds, bounds[1:]):
            if op.startswith("__"):
                continue
            c = out.setdefault(op, _empty())
            for j in jobs:
                if not j0 <= j["jobId"] < j1:
                    continue
                c["jobs"] += 1
                # skipped stages never ran; a stage shared by jobs counts once
                for st in (st for sid in j["stageIds"] for st in stages.pop(sid, [])):
                    c["stages"] += 1
                    c["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                    c["failed_tasks"] += st["numFailedTasks"]
                    c["task_run_s"] += st["executorRunTime"] / 1e3
                    c["task_cpu_s"] += st["executorCpuTime"] / 1e9
                    c["gc_s"] += st["jvmGcTime"] / 1e3
                    c["shuffle_read_bytes"] += st["shuffleReadBytes"]
                    c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                    c["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            for e in execs:
                if e0 <= e["id"] < e1:
                    c["sql_executions"] += 1
                    _add_nodes(c, e)
        for op in [op for op in out if "." in op]:
            parent = out.get(op.split(".", 1)[0])
            if parent is not None:
                _merge(parent, out[op])
        for op, c in out.items():
            wall = walls.get(op, 0.0)
            c["wall_s"] = wall
            c["sched_overhead_s"] = wall - c["task_run_s"] / cores
            c["core_busy_ratio"] = c["task_run_s"] / (wall * cores) if wall else 0.0
        for c in out.values():
            del c["_seen"]
        return out


def _empty() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, "task_run_s": 0.0,
        "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
        "spill_bytes": 0, "sql_executions": 0, "scan_rows": {},
        "python": {},  # node name -> {"run_s", "init_s", "rows"}
        "_seen": set(),
    }


def _merge(into: dict, part: dict) -> None:
    for k, v in part.items():
        if k == "scan_rows":
            for t, n in v.items():
                into[k][t] = into[k].get(t, 0) + n
        elif k == "python":
            for kind, fields in v.items():
                p = into[k].setdefault(kind, {"run_s": 0.0, "init_s": 0.0, "rows": 0})
                for f, x in fields.items():
                    p[f] += x
        elif k == "_seen":
            into[k] |= v
        else:
            into[k] += v


_LOCATION = re.compile(r"Location: \w+\(?\d* ?\w*\)?\[file:([^\],]+)")


def _add_nodes(c: dict, e: dict) -> None:
    """Scan rows per input path and Python-worker time per node kind.
    Scan nodes carry no path, so they are paired in order with the
    FileScan locations of the plan text (both list the plan pre-order).
    A cached relation's subtree reappears, with the same accumulators,
    under every scan of the cache; such repeats are counted once."""
    locations = _LOCATION.findall(e.get("planDescription", ""))
    scans = [n for n in e["nodes"] if n["nodeName"].startswith("Scan parquet")]
    names = [_table_name(loc) for loc in locations]
    if len(names) != len(scans):
        names = ["unattributed"] * len(scans)
    for name, node in zip(names, scans):
        if _seen(c, node):
            continue
        rows = _node_metric(node, "number of output rows")
        c["scan_rows"][name] = c["scan_rows"].get(name, 0) + rows
    for node in e["nodes"]:
        kind = node["nodeName"]
        if kind not in ("ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas"):
            continue
        if _seen(c, node):
            continue
        p = c["python"].setdefault(kind, {"run_s": 0.0, "init_s": 0.0, "rows": 0})
        p["run_s"] += _node_metric(node, "time to run Python workers")
        p["init_s"] += _node_metric(node, "time to initialize Python workers")
        p["rows"] += _node_metric(node, "number of output rows")


def _table_name(location: str) -> str:
    """'.../news.parquet' -> 'news'; a stream drop file '.../drop/part-00012.parquet' -> 'drop'."""
    parts = location.rstrip("/").split("/")
    name = parts[-1].split(".")[0]
    return parts[-2] if name.startswith("part-") and len(parts) > 1 else name


def _seen(c: dict, node: dict) -> bool:
    key = (node["nodeName"], tuple((m["name"], m["value"]) for m in node.get("metrics", [])))
    if key in c["_seen"]:
        return True
    c["_seen"].add(key)
    return False


def _node_metric(node: dict, name: str) -> float:
    for m in node.get("metrics", []):
        if m["name"] == name:
            return metric_value(m["value"])
    return 0.0
