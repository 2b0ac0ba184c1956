"""Physical-plan shape fingerprints — the mechanical half of the
PLANS.md snapshot discipline.

A fingerprint is the count of structurally meaningful operator nodes
in a query's initial physical plan (pre-AQE-execution, so it is
deterministic given the session confs and input file sizes): shuffles,
broadcasts, join strategies, sorts, windows, fan-outs, Arrow batch
ops, aggregates. A silent optimizer regression — a new shuffle, a
broadcast that fell back to sort-merge, a window that gained a global
sort — changes these counts and fails the pinned-fingerprint test
instead of waiting for a judge read; an INTENTIONAL plan change
regenerates the committed fingerprints in the same commit
(``python tools/dump_plans.py``).

Node-name counting is robust to the details that legitimately vary
(partition counts, expr ids, statistics); it is deliberately blind to
them.
"""

from __future__ import annotations

import re

#: node names worth pinning — strategy-relevant operators only.
TRACKED = (
    "Exchange",
    "BroadcastExchange",
    "Sort",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "Window",
    "Generate",
    "MapInPandas",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "Expand",
)

_NODE_RE = re.compile(r"^[\s+:*-]*(?:\((\d+)\)\s*)?([A-Za-z]+)")


def plan_fingerprint(df) -> dict[str, int]:
    """Count TRACKED node names in the initial executed plan, plus the
    single-partition-exchange count (``exchange_single``) — a NEW
    SinglePartition exchange is exactly the serialization regression
    the packing family guards against."""
    s = df._jdf.queryExecution().executedPlan().toString()
    counts: dict[str, int] = {}
    for line in s.splitlines():
        m = _NODE_RE.match(line)
        if not m:
            continue
        name = m.group(2)
        if name in TRACKED:
            counts[name] = counts.get(name, 0) + 1
    single = s.count("Exchange SinglePartition")
    if single:
        counts["exchange_single"] = single
    return counts


def query_profile(rec) -> dict:
    """The pinned part of a :class:`measure.Record`: SQL executions and
    scan rows per table. Jobs stay out: under AQE their count can depend
    on the core count."""
    return {"sql_executions": rec.sql_executions, "scan_rows": rec.scan_rows}
