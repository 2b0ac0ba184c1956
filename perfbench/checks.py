"""Output checks: order-insensitive digests and reference computations.

Every check runs after the timed phase. A check returns a list of
problems; the caller counts an operation with any problem as failed.
The references are independent of the engine's distributed paths:
the sentiment scorer applied row by row, the backtest state machine
run once in pandas over the collected panel, and DuckDB SQL for the
signal table and for the catalog entries (their own oracle SQL).
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import duckdb
import pandas as pd


def _canon(v) -> str:
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, float):
        r = round(v, 6)
        # an integral double and the same integer read alike: the two
        # engines may type one aggregate differently
        return repr(int(r)) if r.is_integer() else repr(r)
    if isinstance(v, (dt.datetime, pd.Timestamp)):
        return pd.Timestamp(v).tz_localize(None).isoformat() if pd.Timestamp(v).tzinfo else pd.Timestamp(v).isoformat()
    return repr(v)


def digest(rows: list[dict]) -> str:
    """sha256 over the sorted canonical rows (floats rounded to 6
    decimals), so row order and last-bit float noise do not matter."""
    lines = sorted("|".join(f"{k}={_canon(r[k])}" for k in sorted(r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def same_rows(got: list[dict], want: list[dict], keys: list[str], rel: float = 1e-9) -> list[str]:
    """Compare two row sets keyed by ``keys``; floats within ``rel``."""
    def key(r):
        return tuple(_canon(r[k]) for k in keys)

    g = {key(r): r for r in got}
    w = {key(r): r for r in want}
    if len(g) != len(got) or len(w) != len(want):
        return [f"duplicate keys ({len(got)} rows, {len(g)} distinct)"]
    if g.keys() != w.keys():
        return [f"row keys differ: {len(g.keys() - w.keys())} extra, {len(w.keys() - g.keys())} missing"]
    problems = []
    for k, wr in w.items():
        gr = g[k]
        for col, wv in wr.items():
            gv = gr.get(col)
            if isinstance(wv, float) or isinstance(gv, float):
                if wv is None or gv is None or (isinstance(wv, float) and math.isnan(wv)):
                    if not (_canon(gv) == _canon(wv)):
                        problems.append(f"{k} {col}: {gv!r} != {wv!r}")
                elif not math.isclose(gv, wv, rel_tol=rel, abs_tol=1e-9):
                    problems.append(f"{k} {col}: {gv!r} != {wv!r}")
            elif _canon(gv) != _canon(wv):
                problems.append(f"{k} {col}: {gv!r} != {wv!r}")
    return problems[:5]


def oracle_rows(sql: str, tables: dict[str, str]) -> list[dict]:
    """Rows of DuckDB SQL over parquet files registered as views
    (view name -> path)."""
    con = duckdb.connect()
    try:
        for name, path in tables.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]
    finally:
        con.close()


def same_multiset(got: list[dict], want: list[dict]) -> list[str]:
    """Order-insensitive equality of two row sets with the same column
    names, by their digests."""
    if got and want and set(got[0]) != set(want[0]):
        return [f"columns differ: {sorted(got[0])} != {sorted(want[0])}"]
    if len(got) != len(want):
        return [f"{len(got)} rows, the reference {len(want)}"]
    if digest(got) != digest(want):
        return ["row values differ from the reference"]
    return []


def reference_signals(
    scored: pd.DataFrame,
    prices: pd.DataFrame,
    best: pd.DataFrame,
    threshold: float,
    min_news: int,
    min_correlation: float = 0.25,
) -> list[dict]:
    """The signal table by DuckDB SQL: half-open lookback window per
    ticker's best config, mean sentiment, count gate, BUY/SELL ladder
    flipped for inverse tickers."""
    con = duckdb.connect()
    try:
        con.register("scored", scored)
        con.register("prices", prices)
        con.register("best", best)
        rows = con.execute(
            f"""
            WITH cfg AS (
              SELECT ticker, CAST(lookback_hours AS INTEGER) AS lb, lead_days, correlation
              FROM best WHERE abs(correlation) >= {min_correlation!r})
            SELECT p.date, p.ticker, avg(a.sentiment) AS sentiment, count(a.id) AS news_count,
                   p.close AS close_price, c.lb AS lookback_hours,
                   CAST(c.lead_days AS INTEGER) AS lead_days, c.correlation
            FROM prices p JOIN cfg c USING (ticker)
            JOIN scored a ON a.ticker_queried = p.ticker
              AND a.published_utc >= p.date - to_hours(c.lb) AND a.published_utc < p.date
            GROUP BY ALL HAVING count(a.id) >= {int(min_news)}
            """
        ).df()
    finally:
        con.close()
    out = []
    for r in rows.to_dict("records"):
        inverse = r["correlation"] < 0
        s = r["sentiment"]
        if s > threshold:
            sig = "SELL" if inverse else "BUY"
        elif s < -threshold:
            sig = "BUY" if inverse else "SELL"
        else:
            sig = "HOLD"
        r["signal"] = sig
        r["signal_type"] = "inverse" if inverse else "direct"
        r["news_count"] = int(r["news_count"])
        out.append(r)
    return out


def reference_trades(
    signals: list[dict],
    prices: pd.DataFrame,
    hold_period_hours: float,
    stop_loss_pct: float,
    take_profit_pct: float,
) -> list[dict]:
    """The backtest state machine run once, in pandas, over the same
    prices ⟕ signals panel the engine builds."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.pipeline.backtest import _simulate

    cols = ["ticker", "date", "signal", "sentiment", "news_count", "lookback_hours", "lead_days"]
    sig = pd.DataFrame(signals, columns=cols) if signals else pd.DataFrame(columns=cols)
    panel = prices[["ticker", "date", "close"]].merge(sig, on=["ticker", "date"], how="left")
    res = _simulate(panel, hold_period_hours / 24.0, stop_loss_pct, take_profit_pct)
    trades = res[res["row_type"] == "trade"]
    keep = [
        "ticker", "entry_date", "exit_date", "entry_price", "exit_price", "shares", "pnl",
        "pnl_pct", "exit_reason", "sentiment", "news_count", "lookback_hours", "lead_days", "days_held",
    ]
    out = []
    for r in trades[keep].to_dict("records"):
        r["news_count"] = None if pd.isna(r["news_count"]) else int(r["news_count"])
        for k in ("lookback_hours", "lead_days", "days_held"):
            r[k] = None if pd.isna(r[k]) else int(r[k])
        for k in ("entry_date", "exit_date"):
            r[k] = pd.Timestamp(r[k]).to_pydatetime()
        out.append(r)
    return out


def check_metrics(metrics: dict, trades: list[dict]) -> list[str]:
    """The metrics row must agree with the trade log it summarizes."""
    problems = []
    if metrics["num_trades"] != len(trades):
        problems.append(f"num_trades {metrics['num_trades']} != {len(trades)} trades")
    wins = sum(1 for t in trades if t["pnl"] > 0)
    if metrics["num_wins"] != wins:
        problems.append(f"num_wins {metrics['num_wins']} != {wins}")
    mean_pnl = sum(t["pnl"] for t in trades) / len(trades) if trades else None
    if trades and not math.isclose(metrics["expectancy"], mean_pnl, rel_tol=1e-9, abs_tol=1e-6):
        problems.append(f"expectancy {metrics['expectancy']} != {mean_pnl}")
    return problems


def stream_errors(sink: list[dict], want: dict[str, float]) -> dict[str, int]:
    """Rows the stream got wrong against the batch result ``want``
    (id -> sentiment): ids missing from the sink, ids never generated,
    extra copies of an id, and ids whose sentiment differs."""
    got: dict[str, list[float]] = {}
    for r in sink:
        got.setdefault(r["id"], []).append(r["sentiment"])
    return {
        "missing": len(want.keys() - got.keys()),
        "extra": len(got.keys() - want.keys()),
        "duplicated": sum(len(v) - 1 for v in got.values()),
        "wrong_sentiment": sum(
            1 for k, v in got.items() if k in want and any(abs(x - want[k]) > 1e-12 for x in v)
        ),
    }
