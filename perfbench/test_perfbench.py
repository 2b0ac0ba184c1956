"""Self-tests of the benchmark (not part of the package's test suite).

    python3 -m pytest perfbench/test_perfbench.py -q

Each workload runs once on tiny inputs, untraced and traced, and must
print every metric BENCHMARK.json names with its unit, the traced run
with nonzero counters for the layers the workload drives; deliberately
corrupted outputs must be counted as failures; and without the package
next to it the benchmark must exit non-zero without a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)

# per-layer metrics each workload must drive above zero: a broken REST
# read or an unattributed scan would otherwise report silent zeros
LAYERS_DRIVEN = {
    "news_pipeline": [
        "spark.jobs", "spark.tasks", "functions.sentiment_rows", "functions.python_run_s",
        "sources.scan_rows.news", "sources.scan_rows.prices", "sources.scan_rows.documents",
        "pipeline.add_sentiment_s", "pipeline.lag_sweep_s", "pipeline.backtest_python_s",
        "plans.build_s", "plans.action_s", "plans.sql_executions", "operators.python_run_s",
    ],
    "news_stream": [
        "spark.jobs", "spark.tasks", "functions.sentiment_rows", "sources.scan_rows.drop",
        "streaming.batches", "streaming.trigger_ms_p50", "streaming.state_rows",
    ],
}


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_run_emits_every_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", trace, "--small")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = BENCH["per_layer"] if trace == "1" else BENCH["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        zero = [k for k in LAYERS_DRIVEN[workload] if not result["metrics"][k]["value"] > 0]
        assert not zero, zero


def test_exits_without_result_when_package_is_missing(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _run(str(tmp_path), "--workload", "news_pipeline", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def _trades():
    prices = pd.DataFrame(
        {
            "ticker": ["A"] * 6,
            "date": pd.date_range("2024-01-01", periods=6, freq="D"),
            "close": [100.0, 101.0, 90.0, 95.0, 130.0, 131.0],
        }
    )
    signals = [
        {"ticker": "A", "date": prices["date"][0].to_pydatetime(), "signal": "BUY", "sentiment": 0.6,
         "news_count": 8, "lookback_hours": 24, "lead_days": 1},
        {"ticker": "A", "date": prices["date"][3].to_pydatetime(), "signal": "BUY", "sentiment": 0.5,
         "news_count": 9, "lookback_hours": 24, "lead_days": 1},
    ]
    return checks.reference_trades(signals, prices, 2400, 0.05, 0.2)


def test_corrupted_trades_and_metrics_are_caught():
    trades = _trades()
    assert len(trades) == 2
    assert checks.same_rows(trades, _trades(), ["ticker", "entry_date"]) == []
    bad = [dict(t) for t in trades]
    bad[0]["pnl"] += 0.01
    assert checks.same_rows(bad, trades, ["ticker", "entry_date"])
    assert checks.digest(bad) != checks.digest(trades)
    assert checks.digest(list(reversed(trades))) == checks.digest(trades)
    metrics = {
        "num_trades": 2,
        "num_wins": sum(t["pnl"] > 0 for t in trades),
        "expectancy": sum(t["pnl"] for t in trades) / 2,
    }
    assert checks.check_metrics(metrics, trades) == []
    assert checks.check_metrics(dict(metrics, num_trades=3), trades)


def test_corrupted_catalog_output_is_caught():
    want = [{"doc_id": 1, "kept": True, "keep_rate": 0.5}, {"doc_id": 2, "kept": False, "keep_rate": 1.0}]
    got = [dict(r) for r in reversed(want)]
    got[0]["keep_rate"] = 1  # an integral double and an integer read alike
    assert checks.same_multiset(got, want) == []
    got[1]["kept"] = False
    assert checks.same_multiset(got, want)
    assert checks.same_multiset(got[:1], want)
    assert checks.same_multiset([{"doc_id": 1, "kept": True, "rate": 0.5}], want[:1])


def test_corrupted_stream_sink_is_caught():
    want = {"a": 0.5, "b": -0.2, "c": 0.0}
    sink = [{"id": k, "sentiment": v} for k, v in want.items()]
    assert sum(checks.stream_errors(sink, want).values()) == 0
    assert checks.stream_errors(sink + [sink[0]], want)["duplicated"] == 1
    assert checks.stream_errors(sink[1:], want)["missing"] == 1
    assert checks.stream_errors(sink[:2] + [{"id": "c", "sentiment": 0.1}], want)["wrong_sentiment"] == 1


def test_corrupted_pipeline_output_fails_the_run():
    """A real tiny pipeline run whose trade log is then altered: the
    reference check must count the operation as failed."""
    import run

    work = os.path.join(HERE, ".work", f"selftest-{os.getpid()}")
    cores = run.prepare_env(work)
    import spans
    import workloads
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark import get_spark

    spark = get_spark(app_name="perfbench-selftest")
    try:
        ctx = workloads.Ctx(spark, spans.Tracer(False), None, work, 5, cores, 1)
        wl = workloads.NewsPipeline(ctx, small=True)
        wl.setup()
        wl.warm()
        assert wl.check()[1] == 0
        good = wl.iters[-1]["trades"]
        wl.iters[-1]["trades"] = good.withColumn("pnl", F.col("pnl") * 1.01)
        assert wl.check()[1] >= 1
        wl.iters[-1]["trades"] = good
        # the same wrong row in every run: only the DuckDB oracle sees it
        for it in wl.iters:
            row = min(it["curated"]["doc_url_curation"], key=lambda r: r["doc_id"])
            row["kept"] = not row["kept"]
        attempted, failed, outputs = wl.check()
        assert failed == 1 and outputs["problems"][0].startswith("doc_url_curation"), outputs["problems"]
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
