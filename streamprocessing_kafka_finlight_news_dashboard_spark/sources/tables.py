"""Batch sources over the driver's parquet tables.

The reference loads every table as whole-file pandas parquet scans
(reference scripts/03_add_sentiment.py:20, 04_correlation_analysis.py:19,32,
06_strategy_signals.py:41,49, 07_backtest.py:170,179 — SURVEY §2.1 S1).
Here every scan is a lazy ``spark.read.parquet`` so Catalyst pushes
filters and prunes columns down to the parquet reader; callers should
``select``/``filter`` immediately after load and let pushdown do the
I/O reduction (verified in tests via ``explain``: PushedFilters /
ReadSchema).
"""

from __future__ import annotations

import atexit
import contextlib
import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG_NAME = os.path.basename(_PKG_ROOT)
_shipped: set[str] = set()
_zip_path: str | None = None


def _package_zip() -> str:
    """This process's zip of the package sources: a fresh, uniquely named
    file (never one left in the temp dir by an earlier process with the
    same PID), built once and removed at interpreter exit."""
    global _zip_path
    if _zip_path is None:
        fd, path = tempfile.mkstemp(prefix=f"{_PKG_NAME}_pyfiles_", suffix=".zip")
        atexit.register(_remove_file, path)
        with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as zf:
            for dirpath, _dirs, files in os.walk(_PKG_ROOT):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        rel = os.path.join(
                            _PKG_NAME, os.path.relpath(full, _PKG_ROOT)
                        )
                        zf.write(full, rel)
        _zip_path = path
    return _zip_path


def _remove_file(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    Module-level pandas-UDF / applyInPandas functions are cloudpickled
    BY REFERENCE (module path), so workers must be able to import the
    package. When the engine runs under an external driver whose
    ``sys.path`` insertion only affects the driver process (the
    driver-contract case), worker imports fail with
    ModuleNotFoundError at task time. One zip per process, added once
    per application (keyed on its id: CPython may reuse a stopped
    context's ``id()``) — a no-op cost on every later call."""
    sc = spark.sparkContext
    if sc.applicationId in _shipped:
        return
    sc.addPyFile(_package_zip())
    _shipped.add(sc.applicationId)


def require_utc_session(spark: SparkSession, where: str) -> None:
    """Fail fast if the session timezone is not UTC-equivalent.

    The events table ships TIMESTAMP_NTZ wall-clock values that ARE
    UTC instants; the ntz→timestamp cast reinterprets them in the
    session timezone, so a non-UTC session silently shifts every
    instant and diverges from the (naive) DuckDB oracle with no error.
    Accepts any zone with zero UTC offset ('UTC', 'Etc/UTC', 'GMT',
    fixed '+00:00' — a vanilla session in a UTC container reports
    'Etc/UTC', so an exact string match would false-alarm)."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    zero_offset = {
        "UTC", "Etc/UTC", "GMT", "Etc/GMT", "Z", "+00:00", "UT",
        "Universal", "Etc/Universal", "Zulu", "Etc/Zulu", "GMT0",
        "Etc/GMT0", "Etc/GMT-0", "Etc/GMT+0", "Greenwich", "Etc/Greenwich",
    }
    if tz not in zero_offset:
        try:
            from datetime import datetime
            from zoneinfo import ZoneInfo

            # Zero offset must hold at TWO instants spanning a DST flip:
            # Europe/London (winter +00:00, summer +01:00) would pass a
            # single-instant January check and then silently shift every
            # summer timestamp — exactly what this guard exists to catch.
            zi = ZoneInfo(tz)
            offs = [
                datetime(2026, 1, 1, tzinfo=zi).utcoffset(),
                datetime(2026, 7, 1, tzinfo=zi).utcoffset(),
            ]
            if all(o is not None and o.total_seconds() == 0 for o in offs):
                return
        except Exception:  # unknown zone id — treat as non-UTC below
            pass
        raise ValueError(
            f"{where} requires a UTC session timezone (got {tz!r}): the "
            "TIMESTAMP_NTZ events carry UTC wall-clock values and would be "
            "reinterpreted as local time. Build the session via "
            "streamprocessing_kafka_finlight_news_dashboard_spark.get_spark."
        )


# The driver's TPC-H-ish star schema + stream/text/vector tables
# (TESTDATA.md). One parquet file per table per scale factor.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one driver table (SURVEY §2.1 S1).

    ``events.ts`` has shipped in two driver formats across rounds:
    TIMESTAMP(NANOS) (round 1 — rejected by the vectorized reader, so
    it is read as long under the legacy conf and floor-divided to
    micros) and TIMESTAMP(MICROS, isAdjustedToUTC=false) (round 2+ —
    arrives as TIMESTAMP_NTZ). Both are normalized to a session-tz
    TIMESTAMP; with the session pinned to UTC the wall-clock values are
    identical to what DuckDB sees in its naive microsecond TIMESTAMP,
    so oracle comparisons line up either way.
    """
    ensure_workers_can_import(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        require_utc_session(spark, "load_table('events')")
        # Must be set BEFORE the scan: Spark defers the
        # PARQUET_TYPE_ILLEGAL failure to task execution, so a
        # read-then-retry can pass planning and still blow up later.
        # If the conf cannot be applied, fail HERE — swallowing it
        # would surface as an inscrutable task-time scan error far
        # from the cause. (No-op for the MICROS format.)
        conf_key = "spark.sql.legacy.parquet.nanosAsLong"
        spark.conf.set(conf_key, "true")
        if spark.conf.get(conf_key) != "true":  # pragma: no cover
            raise RuntimeError(
                f"{conf_key} must be 'true' before scanning events.parquet "
                "(TIMESTAMP(NANOS) is rejected by the vectorized reader at "
                "task time otherwise)"
            )
    df = spark.read.parquet(path)
    for col, dtype in df.dtypes:
        if col == "ts" and dtype == "bigint":  # TIMESTAMP(NANOS) as long
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif col == "ts" and dtype == "timestamp_ntz":  # MICROS, utc-naive
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
