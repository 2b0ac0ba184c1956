"""SparkSession factory, and the one way the package materializes a frame.

The reference is strict about tz-aware UTC timestamps
(reference scripts/04_correlation_analysis.py:20, 07_backtest.py:180-182),
so the session timezone is pinned to UTC — this also makes results
comparable against a UTC-naive DuckDB oracle.

Scale posture: AQE on (runtime partition coalescing + skew-join
handling), Arrow on (vectorized pandas-UDF exchange), shuffle
partitions sized by env for local runs but meant to be overridden to
~2-3x total cores on a real cluster.

Streaming checkpoints are written through the Hadoop FileSystem API
(``FileSystemBasedCheckpointFileManager``), not FileContext: without a
native Hadoop library the FileContext manager forks a process per file
create and per rename, about 90 per micro-batch, and the two managers'
no-overwrite rename is equally safe (see the comment at the setting).

Every frame the package materializes goes through :func:`materialize`
(a local checkpoint) or :func:`persisted` (an in-memory cache). Inside a
:func:`released` scope each such frame is recorded and its blocks are
freed when the scope ends; outside any scope nothing is recorded and the
blocks live until the session drops them, as a plain
``localCheckpoint``/``persist`` would.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "streamprocessing-finlight-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism so the driver's
    bench harness controls sizing.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # MIN/MAX/COUNT answered from parquet footer statistics without
        # scanning row groups — free on a lake-scale table scan.
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # Streaming checkpoints (offsets, commits, source/sink metadata
        # logs, state-store delta and checksum files) go through the
        # Hadoop FileSystem API. The default FileContext manager forks a
        # `chmod` on every file it creates and a `readlink` in every
        # rename when no native Hadoop library is loaded: ~90 processes
        # per micro-batch. Batch paths open no checkpoint manager.
        # Why it is as safe as the default (read from the bytecode of
        # spark-sql 4.1.2 and hadoop-client-api 3.4.2):
        # - this manager's renameTempFile(overwrite=false) runs
        #   exists(dst) -> throw, then FileSystem.rename;
        # - the FileContext manager's Rename.NONE rename goes through
        #   ChecksumFs and AbstractFileSystem.renameInternal, which run
        #   getFileLinkStatus(dst) -> throw, then rename. On a local
        #   file system both check and then rename, and neither is
        #   atomic against a concurrent writer;
        # - HDFS's FileSystem.rename refuses to replace a file, and
        #   object stores already fall back to this manager;
        # - temp files (`.<name>.<uuid>.tmp`) and `.crc` files are
        #   named and handled the same way by both.
        # Spark 4 moved the class into `checkpointing`; before 4.0 it
        # lived in `org.apache.spark.sql.execution.streaming`.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def shuffle_partitions(spark: SparkSession, default: int = 32) -> int:
    """Current shuffle parallelism as an int, for explicit repartition
    sizing inside operators. ``spark.sql.shuffle.partitions`` may hold a
    non-numeric value ('auto' on some distributions, or an AQE-managed
    sentinel), so fall back to the cluster's default parallelism rather
    than raising mid-plan-build."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        try:
            return spark.sparkContext.defaultParallelism or default
        except Exception:  # pragma: no cover - no active context
            return default


# one stack of open scopes per thread: foreachBatch callbacks run on
# their own threads, so a micro-batch's scope never mixes with the
# caller's
_scopes = threading.local()


def _record(df: DataFrame, free: Callable[[], object]) -> DataFrame:
    stack = getattr(_scopes, "stack", None)
    if stack:
        stack[-1].append(free)
    return df


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager)``, freed when the enclosing
    :func:`released` scope ends. ``DataFrame.unpersist()`` does not free
    checkpoint blocks: they belong to the RDD under the checkpoint's
    ``LogicalRDD``, so that RDD is the one unpersisted. The scope also
    holds ``df`` until it ends: a lazy checkpoint's scans run inside a
    later SQL execution, and :mod:`measure` reads their row counts from
    the metrics of ``df``'s plan."""
    out = df.localCheckpoint(eager=eager)
    return _record(
        out, lambda: (df, out._jdf.queryExecution().analyzed().rdd().unpersist(False))
    )


def persisted(df: DataFrame) -> DataFrame:
    """``df.persist()``, freed when the enclosing :func:`released` scope
    ends. The cache matches frames by plan, so a stale entry for the same
    plan (the same files, since rewritten at the same paths) is dropped
    first; the frame is then computed from what is on disk now. Use it
    over :func:`materialize` where the plan above must stay visible."""
    df.unpersist()
    return _record(df.persist(), df.unpersist)


@contextmanager
def released() -> Iterator[None]:
    """Free every frame materialized inside the block when it exits.
    Every action on such a frame must run inside the block: a
    checkpointed frame used after it fails with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``."""
    stack = _scopes.__dict__.setdefault("stack", [])
    stack.append([])
    try:
        yield
    finally:
        for free in reversed(stack.pop()):
            free()
