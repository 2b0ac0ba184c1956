"""Signal generation (reference scripts/06_strategy_signals.py,
SURVEY P7). Each ticker trades its best lag config when |correlation|
clears the threshold; the BUY/SELL ladder on ±SENTIMENT_THRESHOLD is
direction-flipped for inverse (negative-correlation) tickers
(scripts/06_strategy_signals.py:114-132)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark.pipeline.features import (
    lookback_join,
    scored_articles,
)


def generate_signals(
    prices: DataFrame,
    news_scored: DataFrame,
    best: DataFrame,
    sentiment_threshold: float = 0.4,
    min_news_count: int = 7,
    min_correlation: float = 0.25,
) -> DataFrame:
    """Signal table per FIXTURES.md §4.

    ``best`` is the per-ticker best-config table (best_configs()).
    Tickers with |corr| < min_correlation emit nothing
    (scripts/06_strategy_signals.py:92-96).

    Single-pass formulation (same shape as features.lag_sweep): the
    tiny config table broadcasts onto the price spine, and ONE
    article range-join (``features.lookback_join``, banded by UTC day)
    uses each row's own ``cfg_lookback`` — the lookback set is never
    collected and there is no per-lookback re-join, so the plan carries
    exactly one range join regardless of how many configs are in play.
    Each bar is exploded into the day bins of its own window, so a
    72 h config meets up to four days of articles and a 6 h one one
    or two.
    """
    chosen = best.filter(F.abs(F.col("correlation")) >= min_correlation).select(
        "ticker",
        F.col("lookback_hours").cast("int").alias("cfg_lookback"),
        F.col("lead_days").alias("cfg_lead"),
        F.col("correlation").alias("cfg_corr"),
    )
    spine = prices.select("ticker", "date", "close").join(F.broadcast(chosen), "ticker")
    # Half-open window [date − cfg_lookback h, date) with the PER-ROW
    # lookback column (SURVEY §7.3: boundary semantics must match the
    # reference exactly — >= on the left, < on the right).
    joined = (
        lookback_join(
            spine, scored_articles(news_scored), ("ticker", "a_ticker"), "date", "published_utc",
            F.col("cfg_lookback"),
        )
        .groupBy("ticker", "date", "close", "cfg_lookback", "cfg_lead", "cfg_corr")
        .agg(
            F.avg("sentiment").alias("avg_sentiment"),
            F.count("id").alias("news_count"),
        )
        .filter(F.col("news_count") >= min_news_count)
    )
    thr = sentiment_threshold
    inverse = F.col("cfg_corr") < 0
    signal = (
        F.when(F.col("avg_sentiment") > thr, F.when(inverse, "SELL").otherwise("BUY"))
        .when(F.col("avg_sentiment") < -thr, F.when(inverse, "BUY").otherwise("SELL"))
        .otherwise("HOLD")
    )
    return joined.select(
        "date",
        "ticker",
        signal.alias("signal"),
        F.col("avg_sentiment").alias("sentiment"),
        "news_count",
        F.col("close").alias("close_price"),
        F.col("cfg_lookback").cast("int").alias("lookback_hours"),
        F.col("cfg_lead").cast("int").alias("lead_days"),
        F.col("cfg_corr").alias("correlation"),
        F.when(inverse, "inverse").otherwise("direct").alias("signal_type"),
    )


def signal_distribution(signals: DataFrame) -> DataFrame:
    """value_counts of the signal column, descending (reference
    scripts/06_strategy_signals.py:181-184, SURVEY A4)."""
    return signals.groupBy("signal").count().orderBy(F.desc("count"), "signal")
