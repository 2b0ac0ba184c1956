"""Benchmark entry point.

    python3 perfbench/run.py --workload news_pipeline --seed 1 --seconds 20 --trace 0

Runs one workload against the package in this checkout on
``local[<nproc>]``, checks every output, and prints as its last stdout
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The line before it carries the full
record (tails, sample counts, host conditions, output digests); the
same record and, for traced runs, the spans are written under
``perfbench/.work/results/``. Exits non-zero when an output check
fails, and without a result when the package is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "streamprocessing_kafka_finlight_news_dashboard_spark"
SETUP_REPEATS = 9


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="tiny inputs, for the self-tests")
    return ap.parse_args(argv)


def prepare_env(work: str) -> int:
    """Keep every file the run writes inside ``work`` and let the
    executor's Python workers import the package from this checkout."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT, HERE]
    tempfile.tempdir = None  # re-read TMPDIR
    return cores


def _proc_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def reset_peak_rss(jvm_pid: int) -> None:
    for pid in _proc_tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS since the last reset of the Spark JVM plus its Python
    daemon and workers."""
    total = 0
    for pid in _proc_tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests so far, summed
    over this machine's CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    daemon and workers) to exit: the gateway JVM ends when its stdin
    closes."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)


def summarize(samples: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples
    beyond it (none below 11 samples: the max is reported instead)."""
    xs = sorted(samples)
    n = len(xs)
    out = {"n": n, "p50": statistics.median(xs)}
    if n <= 100:
        out["samples"] = list(samples)
    if n >= 11:
        pct = math.floor(100 * (n - 10) / n)
        out["tail_pct"] = pct
        out["tail"] = xs[max(0, math.ceil(pct / 100 * n) - 1)]
    else:
        out["tail_pct"] = 100
        out["tail"] = xs[-1]
    return out


def metric_units() -> tuple[dict, dict]:
    """Name -> unit of the end-to-end and the per-layer metrics, as
    BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def layer_metrics(ctx, wl, base: dict, names: list[str]) -> tuple[dict, dict]:
    """Per-layer figures of the traced run: span totals per pipeline
    function and catalog entry, and per-operation Spark counters, as
    medians over the timed operations. Also returns the counters of
    every operation."""
    out = {k: 0.0 for k in names}
    out.update(base)
    out.update(wl.layer_metrics())
    tr = ctx.tracer
    timed = ctx.timed

    def span_s(name):
        """Median over the timed operations of the span's total."""
        per_op = {op: 0.0 for op in timed}
        for s in tr.spans:
            if s["name"] == name and s["op"] in per_op:
                per_op[s["op"]] += s["end"] - s["start"]
        return statistics.median(per_op.values()) if per_op else 0.0

    for fn in ("dedup_articles_keep_last", "add_sentiment", "lag_sweep", "best_configs",
               "generate_signals", "run_backtest", "backtest_metrics"):
        out[f"pipeline.{fn}_s"] = span_s(f"pipeline.{fn}")
    for q in wl.queries:
        for part in ("build", "action"):
            out[f"plans.{q}.{part}_s"] = span_s(f"plans.{q}.{part}")
    for part in ("build", "action"):
        out[f"plans.{part}_s"] = sum(out[f"plans.{q}.{part}_s"] for q in wl.queries)
    counters = ctx.counters.collect(ctx.cores, ctx.walls)
    per_op = [counters[op] for op in timed if op in counters]
    if not per_op:
        return {k: out[k] for k in names}, counters

    def med(f, ops=per_op):
        return statistics.median(f(c) for c in ops)

    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "failed_tasks", "sql_executions",
              "sched_overhead_s", "core_busy_ratio"):
        out[f"spark.{k}"] = med(lambda c: c[k])
    plans = [counters[f"{op}.plans"] for op in timed if f"{op}.plans" in counters]
    if plans:
        out["plans.sql_executions"] = med(lambda c: c["sql_executions"], plans)
    table_rows = getattr(wl, "table_rows", {})
    for t in ("news", "prices", "documents", "drop"):
        out[f"sources.scan_rows.{t}"] = med(lambda c: c["scan_rows"].get(t, 0))
    scanned = sum(out[f"sources.scan_rows.{t}"] for t in table_rows)
    out["sources.scan_multiplicity"] = scanned / sum(table_rows.values()) if table_rows else 0.0

    def py(kind, field):
        return med(lambda c: c["python"].get(kind, {}).get(field, 0.0))

    out["functions.sentiment_rows"] = py("ArrowEvalPython", "rows")
    out["functions.python_run_s"] = py("ArrowEvalPython", "run_s")
    out["functions.python_init_s"] = py("ArrowEvalPython", "init_s")
    run_s = out["functions.python_run_s"]
    out["functions.sentiment_rows_per_s"] = out["functions.sentiment_rows"] / run_s if run_s else 0.0
    out["pipeline.backtest_python_s"] = py("FlatMapGroupsInPandas", "run_s")
    out["operators.python_run_s"] = py("MapInPandas", "run_s")
    return {k: out[k] for k in names}, counters


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE} not found next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cores = prepare_env(work)

    import spans as tracing
    import workloads

    e2e_units, layer_units = metric_units()
    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    host = {"nproc": cores, "loadavg_start": os.getloadavg()}
    spark = None
    try:
        from streamprocessing_kafka_finlight_news_dashboard_spark import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf=tracing.TRACE_CONF if args.trace else None,
        )
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        tracer = tracing.Tracer(bool(args.trace))
        counters = tracing.SparkCounters(spark) if args.trace else None
        ctx = workloads.Ctx(spark, tracer, counters, work, args.seed, cores, args.seconds)
        wl = workloads.WORKLOADS[args.workload](ctx, small=args.small)

        setups = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            with tracer.span("session.setup", "setup"):
                wl.setup()
            setups.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tracer.span("session.warm", "warm"):
            wl.warm()
        warm_s = time.perf_counter() - t
        jvm = spark.sparkContext._gateway.proc.pid
        reset_peak_rss(jvm)
        steal0 = steal_s()
        wl.measure()
        host["steal_s"] = steal_s() - steal0
        rss = peak_rss_mb(jvm)
        ctx.mark("__checks__")
        host["loadavg_end"] = os.getloadavg()
        host["generator_lag_s"] = getattr(wl, "lag_s", 0.0)
        t = time.perf_counter()
        attempted, failed, outputs = wl.check()
        check_s = time.perf_counter() - t
        lat = summarize(wl.samples)
        # set-up: the median of the repeated input set-ups; the session
        # start launches the JVM, which cannot be repeated in a process,
        # and is the traced run's session.start_s
        e2e = {"op_p50_s": lat["p50"], "setup_s": statistics.median(setups)}
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "host": host, "latency": lat, "peak_rss_mb": rss,
            "error_rate": failed / attempted if attempted else 1.0,
            "session": {"start_s": start_s, "warm_s": warm_s, "setups_s": setups, "check_s": check_s},
            "outputs": outputs,
        }
        if args.trace:
            base = {
                "session.start_s": start_s, "session.warm_s": warm_s,
                "session.input_gen_s": statistics.median(setups), "trace.op_p50_s": lat["p50"],
                "session.peak_rss_mb": rss,
            }
            metrics, record["op_counters"] = layer_metrics(ctx, wl, base, list(layer_units))
            record["layers"] = metrics
            result_metrics = {k: {"value": v, "unit": layer_units[k]} for k, v in metrics.items()}
        else:
            result_metrics = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}
        record["end_to_end"] = e2e
        record["extra"] = getattr(wl, "extra", {})
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    res_dir = os.path.join(HERE, ".work", "results")
    os.makedirs(res_dir, exist_ok=True)
    stem = os.path.join(res_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        with open(stem + ".spans.json", "w") as fh:
            json.dump(tracer.spans, fh)
    correct = failed == 0
    print(json.dumps({"detail": record}, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": result_metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
