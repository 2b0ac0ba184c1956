"""The one way to measure a query: :func:`measured` times a block and
records what the Spark context ran inside it.

The counters come from the SQL status store, which Spark keeps with the
UI disabled: every SQL execution the block started (checkpoint
materializations included), the rows each ``Scan parquet`` node output,
named by the table path in the node's own ``Location``, and the jobs
the scheduler accepted. Dividing a table's scan rows by its row count
(read from the parquet footers, not by a Spark job) gives the query's
corpus-pass multiplicity: a value above the algorithm's pass count
means a subtree executed more than once.
"""

from __future__ import annotations

import os
import re
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

# FileSourceScanExec prints its root paths whole up to the first one
_LOCATION = re.compile(r"Location: \w+\(\d+ paths\)\[(?:file:)?([^,\]]+)")


@dataclass
class Record:
    """What one measured block cost. ``jobs`` counts every job the
    context accepted during the block (parquet schema inference runs
    one per table read); ``scan_rows`` and ``multiplicity`` are keyed
    by table name (the scanned path's base name)."""

    wall_s: float = 0.0
    jobs: int = 0
    sql_executions: int = 0
    scan_rows: dict[str, int] = field(default_factory=dict)
    multiplicity: dict[str, float] = field(default_factory=dict)


def _last_execution_id(store) -> int:
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


def _table_rows(path: str) -> int | None:
    if not os.path.exists(path):
        return None
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()


def _scans(spark, store, eid: int) -> Iterator[tuple[str, int]]:
    """(scanned path, output rows) for each parquet scan of one execution."""
    live = spark.sparkContext._jvm.org.apache.spark.util.AccumulatorContext
    metrics = store.executionMetrics(eid)
    nodes = store.planGraph(eid).allNodes()
    for i in range(nodes.size()):
        node = nodes.apply(i)
        if not node.name().startswith("Scan parquet"):
            continue
        m = _LOCATION.search(node.desc())
        ms = node.metrics()
        for j in range(ms.size()):
            if ms.apply(j).name() != "number of output rows":
                continue
            acc_id = ms.apply(j).accumulatorId()
            value = metrics.get(acc_id)
            if value.isDefined():
                rows = int(value.get().replace(",", ""))
            else:
                # a lazy checkpoint's scan runs inside a later execution,
                # whose store entry does not carry this node's metrics;
                # the driver's copy of the accumulator does, while the
                # checkpointed plan is alive
                acc = live.get(acc_id)
                rows = acc.get().value() if acc.isDefined() else 0
            yield (m.group(1) if m else "?"), rows


@contextmanager
def measured(spark: SparkSession) -> Iterator[Record]:
    """Time the block and fill the yielded :class:`Record` on exit.

    The counters are read after ``wall_s`` is stamped, so reading them
    is not part of the timed span. Executions are matched by id, so the
    block should be the only thing running on the context. Wrap it in
    a :func:`session.released` scope when it materializes frames: the
    scope keeps the plans whose metrics count a lazy checkpoint's scans
    alive until the counters are read."""
    jsc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()
    bus = jsc.listenerBus()
    bus.waitUntilEmpty()
    first_eid = _last_execution_id(store) + 1
    jobs0 = jsc.dagScheduler().numTotalJobs()
    rec = Record()
    t0 = time.perf_counter()
    yield rec
    rec.wall_s = time.perf_counter() - t0
    rec.jobs = jsc.dagScheduler().numTotalJobs() - jobs0
    bus.waitUntilEmpty()
    for eid in range(first_eid, _last_execution_id(store) + 1):
        if store.execution(eid).isDefined():
            rec.sql_executions += 1
            for path, rows in _scans(spark, store, eid):
                table = os.path.basename(path.rstrip("/")).removesuffix(".parquet")
                rec.scan_rows[table] = rec.scan_rows.get(table, 0) + rows
                total = _table_rows(path)
                if total:
                    rec.multiplicity[table] = round(rec.scan_rows[table] / total, 3)
