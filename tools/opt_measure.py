"""Per-query optimization measurement harness (round 15).

Times individual catalog queries in one warm session with min-of-N,
using BOTH the bench's historical action (``.count()``) and the
guide-§1.4 noop sink (computes every column, isolates the computation
from result collection), and optionally dumps ``explain("formatted")``
to plans/r15/<name>_<tag>.txt.

Run:
    python tools/opt_measure.py NAME [NAME...] [--sf DIR] [--runs N]
        [--plans TAG]   # also write plans/r15/<name>_<TAG>.txt
        [--noop]        # time the noop sink as well as count()
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streamprocessing_kafka_finlight_news_dashboard_spark import get_spark, plans
from streamprocessing_kafka_finlight_news_dashboard_spark.session import released

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sf_dir = "/root/testdata/sf0.1"
    runs = 3
    plans_tag = None
    plans_dir = "r16"
    do_noop = False
    argv = sys.argv[1:]
    if "--plansdir" in argv:
        i = argv.index("--plansdir")
        plans_dir = argv[i + 1]
        del argv[i : i + 2]
    if "--sf" in argv:
        i = argv.index("--sf")
        sf_dir = argv[i + 1]
        del argv[i : i + 2]
    if "--runs" in argv:
        i = argv.index("--runs")
        runs = int(argv[i + 1])
        del argv[i : i + 2]
    if "--plans" in argv:
        i = argv.index("--plans")
        plans_tag = argv[i + 1]
        del argv[i : i + 2]
    if "--noop" in argv:
        argv.remove("--noop")
        do_noop = True
    names = [a for a in argv if not a.startswith("--")]

    spark = get_spark(
        app_name="opt-measure",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # identical warmup to bench.py so first-query costs are excluded
    plans.CATALOG["q1_pricing_summary"].builder(spark, sf_dir).count()
    spark.range(0, 1000, 1, int(os.environ.get("SPARK_GRAFT_CPUS", "32"))).mapInPandas(
        lambda it: it, "id long"
    ).count()
    print(f"# load at start: {os.getloadavg()}", flush=True)

    for name in names:
        q = plans.CATALOG[name]
        if plans_tag is not None:
            out = os.path.join(REPO, "plans", plans_dir)
            os.makedirs(out, exist_ok=True)
            with released(), open(os.path.join(out, f"{name}_{plans_tag}.txt"), "w") as fh:
                df = q.builder(spark, sf_dir)
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        best_c = None
        rows = 0
        n_jobs = 0
        for i in range(runs):
            # distinct job group per run so the LAST (warm) run's Spark
            # job count is measurable — the r15 verdict asks barrier-
            # reduction claims to be verified by job count, not by
            # wall-clock on this noisy box
            group = f"opt-{name}-{i}"
            spark.sparkContext.setJobGroup(group, f"opt:{name}:count")
            with released():
                t0 = time.perf_counter()
                rows = q.builder(spark, sf_dir).count()
                dt = time.perf_counter() - t0
            best_c = dt if best_c is None else min(best_c, dt)
            n_jobs = len(
                spark.sparkContext.statusTracker().getJobIdsForGroup(group)
            )
        line = (
            f"{name}: count={best_c:.3f}s ({rows} rows, min of {runs},"
            f" {n_jobs} jobs/run)"
        )
        if do_noop:
            spark.sparkContext.setJobDescription(f"opt:{name}:noop")
            best_n = None
            for _ in range(runs):
                with released():
                    t0 = time.perf_counter()
                    q.builder(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    dt = time.perf_counter() - t0
                best_n = dt if best_n is None else min(best_n, dt)
            line += f" noop={best_n:.3f}s"
        spark.sparkContext.setJobDescription(None)
        print(line, flush=True)
    print(f"# load at end: {os.getloadavg()}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
