"""Portfolio backtest: sequential simulation + relational metrics.

The simulation itself (reference scripts/07_backtest.py:37-264) is a
single global portfolio whose every decision depends on prior state
(cash, open positions, MAX_POSITIONS cap) — inherently serial, so it
lives in ONE ``applyInPandas`` over the date-ordered signal×price
panel (SURVEY T8/F5: "a UDF by nature, not a plan node"). The
34-metric report after it is relational Spark, not Python: one ordered
window pass and one aggregate over the trades (A9, A14), the same over
the equity curve (W1-W7), and a 1×1 cross join of the two rows.

Semantics faithfully reproduced from the reference (studied, not
copied): slippage ±0.05% on fills, 0.1% fees both sides
(07_backtest.py:71-73,101-106), position size 80% of CURRENT cash,
exits stop-loss → take-profit → hold-period checked in that order
BEFORE new entries each day, days_held incremented daily including
non-trading days for the ticker, end-of-backtest force close, daily
equity = cash + Σ shares×close, Sharpe/Sortino on population-std
daily returns annualized ×√252 (07_backtest.py:337-361; np.std
ddof=0 — SURVEY §7.3 flags the ddof trap).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark.session import persisted

INITIAL_CAPITAL = 100_000.0
POSITION_SIZE = 0.8
MAX_POSITIONS = 10
TRANSACTION_COST = 0.001
SLIPPAGE = 0.0005

_SIM_SCHEMA = (
    "row_type string, date timestamp, equity double, cash double, num_positions int, "
    "ticker string, entry_date timestamp, exit_date timestamp, entry_price double, "
    "exit_price double, shares double, pnl double, pnl_pct double, exit_reason string, "
    "sentiment double, news_count long, lookback_hours int, lead_days int, days_held int"
)


def _simulate(pdf: pd.DataFrame, hold_period_days: float, stop_loss: float, take_profit: float) -> pd.DataFrame:
    """One pass over the full panel: rows = (date, ticker, close,
    signal?, sentiment?, ...) sorted by date. Emits trade rows and
    daily equity rows tagged by row_type."""
    out_trades: list[dict] = []
    out_equity: list[dict] = []
    cash = INITIAL_CAPITAL
    positions: dict[str, dict] = {}

    def close_position(tkr: str, price: float, date, reason: str) -> None:
        nonlocal cash
        pos = positions.pop(tkr)
        exit_price = price * (1 - SLIPPAGE)
        proceeds = pos["shares"] * exit_price * (1 - TRANSACTION_COST)
        cost_basis = pos["shares"] * pos["entry_price"] * (1 + TRANSACTION_COST)
        out_trades.append(
            {
                "row_type": "trade",
                "ticker": tkr,
                "entry_date": pos["entry_date"],
                "exit_date": date,
                "entry_price": pos["entry_price"],
                "exit_price": exit_price,
                "shares": pos["shares"],
                "pnl": proceeds - cost_basis,
                "pnl_pct": (exit_price / pos["entry_price"] - 1) * 100,
                "exit_reason": reason,
                "sentiment": pos["sentiment"],
                "news_count": pos["news_count"],
                "lookback_hours": pos["lookback_hours"],
                "lead_days": pos["lead_days"],
                "days_held": pos["days_held"],
            }
        )
        cash += proceeds

    pdf = pdf.sort_values(["date", "ticker"])
    dates = pdf["date"].unique()
    by_date = dict(tuple(pdf.groupby("date")))
    last_date = dates[-1] if len(dates) else None
    for date in dates:
        day = by_date[date]
        day_close = dict(zip(day["ticker"], day["close"]))
        # 1. update positions: age, then exit checks in reference order
        for tkr in list(positions):
            pos = positions[tkr]
            pos["days_held"] += 1
            if tkr not in day_close or pd.isna(day_close[tkr]):
                continue
            ret = day_close[tkr] / pos["entry_price"] - 1
            if ret <= -stop_loss:
                close_position(tkr, day_close[tkr], date, "stop_loss")
            elif ret >= take_profit:
                close_position(tkr, day_close[tkr], date, "take_profit")
            elif pos["days_held"] >= hold_period_days:
                close_position(tkr, day_close[tkr], date, "hold_period")
        # 2. open on BUY signals (long-only, one position per ticker)
        buys = day[(day["signal"] == "BUY")]
        for row in buys.itertuples():
            tkr = row.ticker
            if tkr in positions or len(positions) >= MAX_POSITIONS:
                continue
            if pd.isna(row.close):
                continue
            entry_price = row.close * (1 + SLIPPAGE)
            shares = (cash * POSITION_SIZE) / entry_price
            total_cost = shares * entry_price * (1 + TRANSACTION_COST)
            if total_cost > cash or shares <= 0:
                continue
            cash -= total_cost
            positions[tkr] = {
                "shares": shares,
                "entry_price": entry_price,
                "entry_date": date,
                "sentiment": row.sentiment,
                "news_count": row.news_count,
                "lookback_hours": row.lookback_hours,
                "lead_days": row.lead_days,
                "days_held": 0,
            }
        # 3. mark equity BEFORE any end-of-backtest force-close: the
        # reference records the last day's equity inside the loop
        # (07_backtest.py:237-241) and force-closes only after it
        # (07_backtest.py:262), so the final equity row is
        # marked-to-market at the close — it does NOT reflect the
        # force-close's slippage/fees, and num_positions stays > 0.
        pos_value = sum(
            p["shares"] * day_close[t]
            for t, p in positions.items()
            if t in day_close and not pd.isna(day_close[t])
        )
        out_equity.append(
            {
                "row_type": "equity",
                "date": date,
                "equity": cash + pos_value,
                "cash": cash,
                "num_positions": len(positions),
            }
        )
        # 4. force-close everything on the final day (post-loop in the
        # reference; emitted as trades with exit_reason end_of_backtest)
        if date == last_date:
            for tkr in list(positions):
                if tkr in day_close and not pd.isna(day_close[tkr]):
                    close_position(tkr, day_close[tkr], date, "end_of_backtest")

    cols = [
        "row_type", "date", "equity", "cash", "num_positions", "ticker",
        "entry_date", "exit_date", "entry_price", "exit_price", "shares",
        "pnl", "pnl_pct", "exit_reason", "sentiment", "news_count",
        "lookback_hours", "lead_days", "days_held",
    ]
    return pd.DataFrame(out_equity + out_trades).reindex(columns=cols)


def run_backtest(
    signals: DataFrame,
    prices: DataFrame,
    hold_period_hours: float = 2400,
    stop_loss_pct: float = 0.05,
    take_profit_pct: float = 0.20,
) -> tuple[DataFrame, DataFrame]:
    """Returns (trade_log, daily_equity) per FIXTURES.md §5-6.

    The panel is prices LEFT JOIN signals on (ticker, date) — the
    distributed part; the serial simulation runs in one applyInPandas
    group. The scalable per-entity variant (independent portfolios,
    parallel across entities) is ``plans.domain.portfolio_backtest_trades``.

    The simulation runs once per call and is cached for both frames; a
    caller that wraps the call and every action on its outputs in
    ``session.released()`` frees that cache when the scope ends.
    """
    panel = (
        prices.select("ticker", "date", "close")
        .join(
            signals.select(
                "ticker", "date", "signal", "sentiment", "news_count",
                "lookback_hours", "lead_days",
            ),
            ["ticker", "date"],
            "left",
        )
        .withColumn("_g", F.lit(1))
    )
    hold_days = hold_period_hours / 24.0

    def sim(pdf: pd.DataFrame) -> pd.DataFrame:
        return _simulate(pdf, hold_days, stop_loss_pct, take_profit_pct)

    # one simulation feeds both trades and equity; persisted, not
    # checkpointed, so the grouped apply stays visible to the plan guard.
    # Its one group goes to ONE partition, so the metrics' ordered
    # window passes read the cache with no exchange of their own.
    result = persisted(panel.repartition(1).groupBy("_g").applyInPandas(sim, _SIM_SCHEMA))
    trades = result.filter(F.col("row_type") == "trade").select(
        "ticker", "entry_date", "exit_date", "entry_price", "exit_price", "shares",
        "pnl", "pnl_pct", "exit_reason", "sentiment", "news_count",
        "lookback_hours", "lead_days", "days_held",
    )
    equity = result.filter(F.col("row_type") == "equity").select(
        "date", "equity", "cash", "num_positions"
    )
    return trades, equity


def equity_analytics(equity: DataFrame) -> DataFrame:
    """peak / drawdown / daily return columns (W1, W3, W4).

    Unpartitioned windows BY DESIGN: the input is the single-portfolio
    daily equity CURVE (one row per trading day — bounded by the
    calendar; the reference runs exactly one global portfolio,
    scripts/07_backtest.py). Per-entity variants that must scale with
    data volume partition on the entity key instead
    (plans/timeseries.py::events_running_drawdown)."""
    w = W.orderBy("date")
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return equity.select(
        "date",
        "equity",
        "cash",
        "num_positions",
        F.max("equity").over(wrun).alias("peak"),
        (F.col("equity") / F.max("equity").over(wrun) - 1).alias("drawdown"),
        (F.col("equity") / F.lag("equity").over(w) - 1).alias("daily_return"),
    )


def backtest_metrics(trades: DataFrame, equity: DataFrame) -> DataFrame:
    """The reference's full metrics block (scripts/07_backtest.py:266-418)
    as one ordered window pass and one aggregate per side, joined 1×1;
    returns a single-row DataFrame. Streaks (A14): a trade whose win
    flag differs from the previous one's (by exit_date, ticker) starts
    a run, so its run length is its row number minus the latest
    start's, plus one. Drawdown (W3/W4/W7): the trough is the earliest
    row of least drawdown; its start is the first date equity reached
    the trough's running peak (a flat stretch at the peak keeps the
    date the peak was set). Population std, as the reference's np.std."""
    # --- trades: run length per row, then one aggregate ---
    win = F.col("pnl") > 0
    loss = F.col("pnl") < 0
    wt = W.orderBy("exit_date", "ticker")
    run = trades.select(
        "*",
        F.row_number().over(wt).cast("long").alias("_rn"),  # streaks stay long
        (~win.eqNullSafe(F.lag(win).over(wt))).alias("_new"),
    ).withColumn(  # a second select: window functions do not nest
        "_run",
        F.col("_rn")
        - F.max(F.when(F.col("_new"), F.col("_rn"))).over(
            wt.rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        + 1,
    )
    t_agg = run.agg(
        F.count(F.lit(1)).alias("num_trades"),
        F.sum(win.cast("long")).alias("num_wins"),
        F.sum(loss.cast("long")).alias("num_losses"),
        F.avg(F.when(win, F.col("pnl"))).alias("avg_win"),
        F.avg(F.when(loss, F.col("pnl"))).alias("avg_loss"),
        F.avg(F.when(win, F.col("pnl_pct"))).alias("avg_win_pct"),
        F.avg(F.when(loss, F.col("pnl_pct"))).alias("avg_loss_pct"),
        F.max("pnl").alias("largest_win"),
        F.min("pnl").alias("largest_loss"),
        F.max("pnl_pct").alias("largest_win_pct"),
        F.min("pnl_pct").alias("largest_loss_pct"),
        F.sum(F.when(win, F.col("pnl")).otherwise(0.0)).alias("gross_profit"),
        F.sum(F.when(loss, F.col("pnl")).otherwise(0.0)).alias("gross_loss"),
        F.avg("pnl").alias("expectancy"),
        F.avg("days_held").alias("avg_days_held"),
        F.max(F.when(win, F.col("_run"))).alias("max_win_streak"),
        F.max(F.when(~win, F.col("_run"))).alias("max_loss_streak"),
    )

    # --- equity: first date of the running peak, then one aggregate ---
    eq = equity_analytics(equity).withColumn(
        "_peak_date",
        F.min_by("date", F.struct(-F.col("equity"), F.col("date"))).over(
            W.orderBy("date").rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    trough = F.struct("drawdown", "date")
    e_agg = eq.agg(
        F.min("date").alias("start_date"),
        F.max("date").alias("end_date"),
        F.count(F.lit(1)).alias("trading_days"),
        F.max_by("equity", "date").alias("final_equity"),
        F.avg("daily_return").alias("avg_daily_return"),
        F.stddev_pop("daily_return").alias("daily_volatility"),
        F.stddev_pop(F.when(F.col("daily_return") < 0, F.col("daily_return"))).alias(
            "downside_std"
        ),
        F.min("drawdown").alias("max_drawdown"),
        F.min_by("_peak_date", trough).alias("max_drawdown_start"),
        F.min_by("date", trough).alias("max_drawdown_end"),
    )

    row = t_agg.crossJoin(e_agg)
    annual_return = F.pow(1 + F.col("avg_daily_return"), 252) - 1
    annual_vol = F.col("daily_volatility") * F.sqrt(F.lit(252.0))
    downside_vol = F.col("downside_std") * F.sqrt(F.lit(252.0))
    return row.select(
        "start_date",
        "end_date",
        "trading_days",
        F.lit(INITIAL_CAPITAL).alias("initial_capital"),
        "final_equity",
        (F.col("final_equity") / INITIAL_CAPITAL - 1).alias("total_return"),
        ((F.col("final_equity") / INITIAL_CAPITAL - 1) * 100).alias("total_return_pct"),
        "num_trades",
        "num_wins",
        "num_losses",
        (F.col("num_wins") / F.greatest(F.col("num_trades"), F.lit(1)) * 100).alias("win_rate"),
        F.coalesce("avg_win", F.lit(0.0)).alias("avg_win"),
        F.coalesce("avg_loss", F.lit(0.0)).alias("avg_loss"),
        F.coalesce("avg_win_pct", F.lit(0.0)).alias("avg_win_pct"),
        F.coalesce("avg_loss_pct", F.lit(0.0)).alias("avg_loss_pct"),
        "largest_win",
        "largest_loss",
        "largest_win_pct",
        "largest_loss_pct",
        F.when(F.col("gross_loss") != 0, F.abs(F.col("gross_profit") / F.col("gross_loss")))
        .otherwise(0.0)
        .alias("profit_factor"),
        "expectancy",
        "avg_days_held",
        F.coalesce("max_win_streak", F.lit(0)).alias("max_win_streak"),
        F.coalesce("max_loss_streak", F.lit(0)).alias("max_loss_streak"),
        "max_drawdown",
        (F.col("max_drawdown") * 100).alias("max_drawdown_pct"),
        "max_drawdown_start",
        "max_drawdown_end",
        F.datediff("max_drawdown_end", "max_drawdown_start").alias(
            "max_drawdown_duration_days"
        ),
        "avg_daily_return",
        "daily_volatility",
        annual_return.alias("annual_return"),
        annual_vol.alias("annual_volatility"),
        F.when(annual_vol > 0, annual_return / annual_vol).otherwise(0.0).alias("sharpe_ratio"),
        F.when(downside_vol > 0, annual_return / downside_vol)
        .otherwise(0.0)
        .alias("sortino_ratio"),
        F.when(F.col("max_drawdown") != 0, annual_return / F.abs(F.col("max_drawdown")))
        .otherwise(0.0)
        .alias("calmar_ratio"),
    )
