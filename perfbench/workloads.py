"""The benchmark workloads.

Each workload generates its inputs from the seed (``setup``), pays the
session's cold costs once (``warm``), runs its operations for the
requested seconds (``measure``) and checks every output afterwards
(``check``). Only ``measure`` is timed for the end-to-end metrics.

- news_pipeline: the quant's batch chain, input parquet to collected
  metrics row, then a curation pass over a document corpus through two
  catalog entries. One large batch; sentiment (functions/) and the lag
  sweep (pipeline/) carry most of the work, the catalog builders
  (plans/) and their URL and Arrow text operators (operators/) the
  rest.
- news_stream: articles arriving as parquet drop files on a fixed
  schedule (open loop), scored by the streaming plane in many small
  micro-batches with state-store dedup and a checkpointed sink.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import shutil
import statistics
import threading
import time
import traceback

import numpy as np
import pandas as pd

import checks
import gen

PIPELINE_SHAPE = {"n_articles": 30000, "n_tickers": 20, "n_bars": 250, "n_docs": 2000}
SMALL_SHAPE = {"n_articles": 1500, "n_tickers": 6, "n_bars": 120, "n_docs": 200}
# catalog entries of the curation pass: the URL-plane decision table
# (operators/url.py) and the per-doc repetition profile (the Arrow
# token-count tier of operators/arrow_docs.py, a MapInPandas stage)
CURATION_QUERIES = ("doc_url_curation", "doc_repetition_stats")
WARM_RUNS = 1
# the package's defaults, spelled out so the reference checks use the same
SIGNAL_ARGS = {"sentiment_threshold": 0.4, "min_news_count": 7}
BACKTEST_ARGS = {"hold_period_hours": 2400, "stop_loss_pct": 0.05, "take_profit_pct": 0.20}
STREAM_RATE = 200  # rows/s at the base rate
STREAM_PERIOD_S = 0.2  # mean gap between drop files; jittered
STREAM_DUP_FRAC = 0.02
STREAM_BACKLOG_ROWS = 4000
STREAM_TRIGGER_S = 1
STREAM_WARM_S = 8


class Ctx:
    """What a workload needs from the run: the session, the tracer and
    counters (active only in traced runs), its work directory, seed and
    timed seconds."""

    def __init__(self, spark, tracer, counters, work: str, seed: int, cores: int, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.counters = counters
        self.work = work
        self.seed = seed
        self.cores = cores
        self.seconds = seconds
        self.walls: dict[str, float] = {}
        self.timed: list[str] = []  # operations of the timed phase
        self.checkpoints = 0

    def mark(self, op: str) -> None:
        if self.counters is not None:
            self.counters.mark(op)

    def materialize(self, df, always: bool = False):
        """Traced runs cut each pipeline stage's output so its span
        covers that stage's execution; untraced runs stay lazy unless
        ``always``."""
        if self.tracer.enabled or always:
            self.checkpoints += 1
            return df.localCheckpoint(eager=True)
        return df


def _rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


def _pandas(table) -> pd.DataFrame:
    pdf = table.to_pandas()
    for c in pdf.columns:
        if isinstance(pdf[c].dtype, pd.DatetimeTZDtype):
            pdf[c] = pdf[c].dt.tz_convert(None)
    return pdf


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


class NewsPipeline:
    name = "news_pipeline"
    queries = CURATION_QUERIES

    def __init__(self, ctx: Ctx, small: bool = False):
        self.ctx = ctx
        self.shape = SMALL_SHAPE if small else PIPELINE_SHAPE
        self.inputs = os.path.join(ctx.work, "in")
        self.iters: list[dict] = []
        self.samples: list[float] = []
        self.rdd_deltas: list[int] = []
        self.errors = 0

    def setup(self) -> None:
        s = self.shape
        prices, fwd = gen.prices_table(self.ctx.seed, s["n_tickers"], s["n_bars"])
        news = gen.news_table(self.ctx.seed, s["n_articles"], s["n_tickers"], s["n_bars"], fwd)
        docs = gen.documents_table(self.ctx.seed, s["n_docs"])
        os.makedirs(self.inputs, exist_ok=True)
        gen.write_parquet(news, os.path.join(self.inputs, "news.parquet"))
        gen.write_parquet(prices, os.path.join(self.inputs, "prices.parquet"))
        gen.write_parquet(docs, os.path.join(self.inputs, "documents.parquet"))
        self.news_pdf = _pandas(news)
        self.prices_pdf = _pandas(prices)
        self.table_rows = {"news": news.num_rows, "prices": prices.num_rows, "documents": docs.num_rows}

    def _copy(self, i: int) -> str:
        """Each run reads its own copy of the inputs: the package leaves
        the backtest result cached, and a re-read of the same files
        would be served from that cache instead of computed."""
        d = os.path.join(self.ctx.work, f"run{i}")
        os.makedirs(d, exist_ok=True)
        for t in ("news", "prices", "documents"):
            shutil.copy(os.path.join(self.inputs, f"{t}.parquet"), os.path.join(d, f"{t}.parquet"))
        return d

    def run_once(self, i: int) -> float:
        from streamprocessing_kafka_finlight_news_dashboard_spark import pipeline as P
        from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG

        ctx, tr = self.ctx, self.ctx.tracer
        d = self._copy(i)
        op = f"pipeline{i}"
        # the first (warm-up) run keeps every stage's output, so the
        # checks read them without recomputing the chain
        ref = i == 0
        cached = _persisted(ctx.spark) - ctx.checkpoints
        ctx.mark(op)
        t0 = time.perf_counter()
        with tr.span("op", op):
            with tr.span("sources.read", op):
                news = ctx.spark.read.parquet(os.path.join(d, "news.parquet"))
                prices = ctx.spark.read.parquet(os.path.join(d, "prices.parquet"))
            with tr.span("pipeline.dedup_articles_keep_last", op):
                dedup = ctx.materialize(P.dedup_articles_keep_last(news), ref)
            with tr.span("pipeline.add_sentiment", op):
                scored = ctx.materialize(P.add_sentiment(dedup), ref)
            with tr.span("pipeline.lag_sweep", op):
                sweep = ctx.materialize(P.lag_sweep(prices, scored), ref)
            with tr.span("pipeline.best_configs", op):
                best = ctx.materialize(P.best_configs(sweep), ref)
            with tr.span("pipeline.generate_signals", op):
                signals = ctx.materialize(P.generate_signals(prices, scored, best, **SIGNAL_ARGS), ref)
            with tr.span("pipeline.run_backtest", op):
                trades, equity = P.run_backtest(signals, prices, **BACKTEST_ARGS)
                if tr.enabled:
                    trades.count()
            with tr.span("pipeline.backtest_metrics", op):
                metrics = P.backtest_metrics(trades, equity).collect()[0].asDict()
            # the catalog builders read <dir>/documents.parquet; each
            # output is collected whole, so every column is computed
            ctx.mark(f"{op}.plans")
            curated = {}
            with tr.span("plans", op):
                for q in CURATION_QUERIES:
                    with tr.span(f"plans.{q}.build", op):
                        df = CATALOG[q].builder(ctx.spark, d)
                    with tr.span(f"plans.{q}.action", op):
                        curated[q] = _rows(df)
        wall = time.perf_counter() - t0
        ctx.walls[op] = wall
        if i >= WARM_RUNS:
            ctx.timed.append(op)
        self.rdd_deltas.append(_persisted(ctx.spark) - ctx.checkpoints - cached)
        self.iters.append(
            {"metrics": metrics, "signals": signals, "trades": trades, "scored": scored, "best": best,
             "curated": curated}
        )
        return wall

    def warm(self) -> None:
        """One untimed run: it pays the JVM's and the Python workers'
        cold start (about 20 s). The JIT warm-up after it slows the
        first timed run by 10–25%; with three timed runs their median
        leaves that run out."""
        for i in range(WARM_RUNS):
            self.run_once(i)

    def measure(self) -> None:
        """Closed loop, one client: the next run starts when the last
        one has returned, until the timed seconds have passed. A run
        that raises counts as failed and the loop goes on."""
        t_end = time.perf_counter() + self.ctx.seconds
        i = WARM_RUNS
        while time.perf_counter() < t_end:
            try:
                self.samples.append(self.run_once(i))
            except Exception:  # noqa: BLE001 - counted, reported, and the loop goes on
                traceback.print_exc()
                self.errors += 1
            i += 1

    def check(self) -> tuple[int, int, dict]:
        """The warm-up run's outputs against the references; every timed
        run's metrics row, trade log (cached by the package) and curated
        tables against the warm-up run's."""
        from streamprocessing_kafka_finlight_news_dashboard_spark.functions.sentiment import (
            _fallback_compound,
        )
        from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG

        ref = self.iters[0]
        signals, trades = _rows(ref["signals"]), _rows(ref["trades"])
        scored = ref["scored"].select("id", "ticker_queried", "published_utc", "sentiment").toPandas()
        best = ref["best"].select("ticker", "lookback_hours", "lead_days", "correlation").toPandas()
        problems = []
        if not signals or not trades:
            problems.append(f"degenerate: {len(signals)} signals, {len(trades)} trades")
        kept = self.news_pdf.sort_values(["published_utc", "id"]).drop_duplicates("article_url", keep="last")
        if set(scored["id"]) != set(kept["id"]):
            problems.append(f"dedup kept {len(scored)} ids, the reference {len(kept)}")
        else:
            got = dict(zip(scored["id"], scored["sentiment"]))
            text = (kept["title"].fillna("") + " " + kept["description"].fillna("")).str.strip()
            bad = sum(abs(got[i] - _fallback_compound(t)) > 1e-12 for i, t in zip(kept["id"], text))
            if bad:
                problems.append(f"{bad} sentiment values differ from the row-by-row scorer")
        want_signals = checks.reference_signals(
            scored, self.prices_pdf, best, SIGNAL_ARGS["sentiment_threshold"], SIGNAL_ARGS["min_news_count"]
        )
        problems += checks.same_rows(signals, want_signals, ["ticker", "date"])
        want_trades = checks.reference_trades(signals, self.prices_pdf, **BACKTEST_ARGS)
        problems += checks.same_rows(trades, want_trades, ["ticker", "entry_date"])
        problems += checks.check_metrics(ref["metrics"], trades)
        docs = {"documents": os.path.join(self.inputs, "documents.parquet")}
        for q, rows in ref["curated"].items():
            if not rows:
                problems.append(f"{q}: no rows")
            want = checks.oracle_rows(CATALOG[q].oracle, docs)
            problems += [f"{q}: {p}" for p in checks.same_multiset(rows, want)]

        def run_digest(it, trades):
            curated = {q: checks.digest(r) for q, r in it["curated"].items()}
            return checks.digest([it["metrics"]]), checks.digest(trades), curated

        first = run_digest(ref, trades)
        failed = int(bool(problems)) + self.errors
        failed += sum(run_digest(it, _rows(it["trades"])) != first for it in self.iters[1:])
        return len(self.iters) + self.errors, failed, {
            "signals": checks.digest(signals),
            "trades": first[1],
            "metrics": first[0],
            "curated": first[2],
            "problems": problems,
        }

    def layer_metrics(self) -> dict:
        """Persisted RDDs each run leaves behind (the backtest result
        and the equity frame are cached and never released)."""
        return {"pipeline.persisted_rdds_delta": statistics.median(self.rdd_deltas[WARM_RUNS:] or [0])}


class NewsStream:
    """Open loop: a generator thread drops parquet files on a fixed,
    jittered schedule while the streaming query scores them. Latency
    of a row runs from its ``created_at`` (stamped when its file is
    generated) to the commit of the micro-batch that emitted it."""

    name = "news_stream"
    queries = ()

    def __init__(self, ctx: Ctx, small: bool = False):
        self.ctx = ctx
        self.rate = STREAM_RATE // 4 if small else STREAM_RATE
        self.backlog_rows = STREAM_BACKLOG_ROWS // 8 if small else STREAM_BACKLOG_ROWS
        self.in_dir = os.path.join(ctx.work, "drop")
        self.out_dir = os.path.join(ctx.work, "sink")
        self.ckpt = os.path.join(ctx.work, "ckpt")
        self.files: dict[str, dict] = {}  # basename -> {"created", "rows", "phase"}
        self.samples: list[float] = []
        self.query = None
        self.lag_s = 0.0
        self.extra: dict = {}

    def setup(self) -> None:
        """Generate every drop file of the run up front, as
        (gap before the next file, table) per phase, and write the
        first one; the generator thread then only stamps and writes."""
        for d in (self.in_dir, self.out_dir, self.ckpt):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        self.files.clear()
        rng = np.random.default_rng(self.ctx.seed)
        next_id = 0

        def batch(n):
            nonlocal next_id
            table = gen.stream_batch(rng, next_id, n, STREAM_DUP_FRAC)
            next_id += n
            return table

        def schedule(seconds):
            out, t = [], 0.0
            while t < seconds:
                gap = rng.uniform(0.5, 1.5) * STREAM_PERIOD_S
                out.append((gap, batch(max(1, int(round(self.rate * gap))))))
                t += gap
            return out

        first = batch(50)
        self.plan = {
            "warm": schedule(STREAM_WARM_S),
            "base": schedule(self.ctx.seconds),
            "backlog": [(0.0, batch(self.backlog_rows // 4)) for _ in range(4)],
        }
        self._drop(first, "warm")

    def _drop(self, table, phase: str) -> None:
        created = dt.datetime.now(dt.timezone.utc)
        name = f"part-{len(self.files):05d}.parquet"
        gen.write_parquet(gen.stamp(table, created), os.path.join(self.in_dir, name))
        self.files[name] = {"created": created.timestamp(), "rows": table.num_rows, "phase": phase}

    def _start(self):
        from streamprocessing_kafka_finlight_news_dashboard_spark.streaming.pipeline import (
            NEWS_STREAM_SCHEMA,
            dedup_stream,
            write_stream_parquet,
        )
        from streamprocessing_kafka_finlight_news_dashboard_spark.streaming.stateful import (
            enrich_news_stream,
        )

        src = self.ctx.spark.readStream.schema(NEWS_STREAM_SCHEMA).parquet(self.in_dir)
        scored = enrich_news_stream(dedup_stream(src, id_cols=("id",), event_time_col="created_at"))
        return write_stream_parquet(
            scored.select("id", "created_at", "sentiment"), self.out_dir, self.ckpt, STREAM_TRIGGER_S
        )

    def _batches(self) -> dict[str, int]:
        """Input file -> id of the micro-batch that read it. The file
        source's log numbers files by its own offset, which falls behind
        the query's batch id after every no-data batch; the offsets log
        gives the source offset each batch read up to."""
        source_offset = {}
        for path in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            with open(path) as fh:
                for line in fh:
                    if line.startswith("{"):
                        e = json.loads(line)
                        source_offset[os.path.basename(e["path"])] = e["batchId"]
        read_up_to = []  # (query batch id, source offset), ascending
        for path in glob.glob(os.path.join(self.ckpt, "offsets", "*")):
            if os.path.basename(path).isdigit():
                with open(path) as fh:
                    lines = fh.read().splitlines()
                read_up_to.append((int(os.path.basename(path)), json.loads(lines[2])["logOffset"]))
        read_up_to.sort()
        out = {}
        for name, k in source_offset.items():
            first = next((b for b, off in read_up_to if off >= k), None)
            if first is not None:
                out[name] = first
        return out

    def _commit_times(self) -> dict[int, float]:
        out = {}
        for path in glob.glob(os.path.join(self.ckpt, "commits", "*")):
            base = os.path.basename(path)
            if base.isdigit():
                out[int(base)] = os.stat(path).st_mtime
        return out

    def _wait_committed(self, names: list[str], timeout: float = 60.0) -> None:
        deadline = time.time() + timeout
        while time.time() < deadline:
            b = self._batches()
            commits = self._commit_times()
            if all(n in b and b[n] in commits for n in names):
                return
            time.sleep(0.05)
        raise TimeoutError(f"stream did not commit {len(names)} files in {timeout}s")

    def warm(self) -> None:
        """Start the query, let it commit a first file, then run the
        open loop untimed so the timed phase starts past the JIT ramp."""
        self.query = self._start()
        self._wait_committed(list(self.files))
        self._open_loop("warm")
        self._wait_committed(list(self.files))

    def _open_loop(self, phase: str) -> float:
        """Drop the phase's files from a generator thread, on their
        schedule, which does not wait for the stream; return the
        generator's largest lag behind that schedule."""
        lag = [0.0]
        plan = self.plan[phase]

        def generate():
            due = time.perf_counter()
            for gap, table in plan:
                wait = due - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                lag.append(time.perf_counter() - due)
                self._drop(table, phase)
                due += gap

        g = threading.Thread(target=generate, name="drop-generator")
        g.start()
        g.join(sum(gap for gap, _ in plan) + 30)
        if g.is_alive():
            raise RuntimeError("the drop generator did not finish")
        return max(lag)

    def measure(self) -> None:
        """Base rate for the timed seconds, then a backlog drop drained
        at once."""
        tr, op = self.ctx.tracer, "stream"
        self.ctx.mark(op)
        t0 = time.perf_counter()
        with tr.span("op", op):
            with tr.span("streaming.open_loop", op):
                self.lag_s = self._open_loop("base")
                base = [n for n, f in self.files.items() if f["phase"] == "base"]
                b = self._batches()
                self.extra["backlog_files_end"] = sum(1 for n in base if n not in b)
                self._wait_committed(base)
            with tr.span("streaming.backlog_drain", op):
                before = set(self.files)
                for _, table in self.plan["backlog"]:
                    self._drop(table, "backlog")
                backlog = [n for n in self.files if n not in before]
                self._wait_committed(backlog)
        self.ctx.walls[op] = time.perf_counter() - t0
        self.ctx.timed.append(op)
        b, commits = self._batches(), self._commit_times()
        for n, f in self.files.items():
            if f["phase"] == "base":
                self.samples += [commits[b[n]] - f["created"]] * f["rows"]
        created = min(self.files[n]["created"] for n in backlog)
        drained = max(commits[b[n]] for n in backlog)
        rows = sum(self.files[n]["rows"] for n in backlog)
        self.extra["drain_rows_per_s"] = rows / (drained - created)
        self.table_rows = {"drop": sum(f["rows"] for f in self.files.values())}
        self.query.stop()
        self.progress = [json.loads(p.json) for p in self.query.recentProgress]
        self.extra["batches"] = [
            [p["batchId"], p["numInputRows"], p["durationMs"].get("triggerExecution", 0)]
            + [p["stateOperators"][0].get(k, 0) for k in ("numRowsUpdated", "numRowsDroppedByWatermark")]
            for p in self.progress if p.get("stateOperators")
        ]
        self._trace_batches(op)

    def _trace_batches(self, op: str) -> None:
        tr = self.ctx.tracer
        parent = tr.index("op", op)
        for p in self.progress:
            start = pd.Timestamp(p["timestamp"]).timestamp()
            tr.add("streaming.batch", op, start, start + p["durationMs"].get("triggerExecution", 0) / 1e3, parent)

    def check(self) -> tuple[int, int, dict]:
        """Every distinct generated id lands exactly once, with the
        sentiment the batch ``add_sentiment`` gives the same rows."""
        from streamprocessing_kafka_finlight_news_dashboard_spark.pipeline import add_sentiment

        spark = self.ctx.spark
        sink = _rows(spark.read.parquet(self.out_dir).select("id", "sentiment"))
        inputs = spark.read.parquet(self.in_dir).dropDuplicates(["id"])
        batch = add_sentiment(inputs.withColumnRenamed("summary", "description"))
        want = {r["id"]: r["sentiment"] for r in _rows(batch.select("id", "sentiment"))}
        errors = checks.stream_errors(sink, want)
        out = {"rows_generated": int(sum(f["rows"] for f in self.files.values())), "distinct_ids": len(want)}
        out.update(errors)
        return len(want), sum(errors.values()), out

    def layer_metrics(self) -> dict:
        prog = [p for p in self.progress if p.get("numInputRows", 0) > 0]

        def p50(key):
            vals = [p["durationMs"].get(key, 0) for p in prog]
            return statistics.median(vals) if vals else 0

        state = prog[-1]["stateOperators"][0] if prog and prog[-1].get("stateOperators") else {}
        return {
            "streaming.batches": len(prog),
            "streaming.rows_per_batch_p50": statistics.median([p["numInputRows"] for p in prog]) if prog else 0,
            "streaming.trigger_ms_p50": p50("triggerExecution"),
            "streaming.add_batch_ms_p50": p50("addBatch"),
            "streaming.query_planning_ms_p50": p50("queryPlanning"),
            "streaming.wal_commit_ms_p50": p50("walCommit"),
            "streaming.latest_offset_ms_p50": p50("latestOffset"),
            "streaming.get_batch_ms_p50": p50("getBatch"),
            "streaming.state_rows": state.get("numRowsTotal", 0),
            "streaming.state_memory_bytes": state.get("memoryUsedBytes", 0),
            "streaming.backlog_files_end": self.extra.get("backlog_files_end", 0),
            "streaming.generator_lag_s": self.lag_s,
            "streaming.drain_rows_per_s": self.extra.get("drain_rows_per_s", 0.0),
        }


WORKLOADS = {w.name: w for w in (NewsPipeline, NewsStream)}
