"""Point-in-time sentiment features + the single-pass lag sweep.

The reference computes `aggregate_sentiment` with an O(dates×articles)
Python loop, copy-pasted into three scripts
(scripts/04_correlation_analysis.py:46-62, 05_lag_analysis.py:45-76,
06_strategy_signals.py:55-72), and runs the 5×4 config sweep by
re-scanning the news table 200 times (05_lag_analysis.py:161-208).

Here it is ONE range join at the widest lookback, with per-lookback
conditional aggregation, then an unpivot across the config grid — the
whole sweep is a single pass over the data (SURVEY §4.1 caching note,
§7.1 step 4).

Scale notes: every range join here goes through ``lookback_join``,
which bands it by UTC day: each article sits in the one day bin of its
timestamp, each price bar is exploded into the day bins its window
touches, and the hash join is keyed on (ticker, day bin) with the exact
range predicate as a post-filter. A bar then meets only the articles of
the 1–4 days its window spans, not all of its ticker's articles. On
5000 bars × 30k articles (perfbench ``news_pipeline``, seed 402) a
ticker-only key tested 7,355,750 candidate pairs per join; banded, the
sweep tests 72,114 (all kept) and the signals join 22,925 (13,088
kept). The sweep's fan-out (×20 configs) happens AFTER aggregation to (ticker,
date) grain — the expensive article-level join runs once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark.functions.stats import pearson_p_value

DEFAULT_LOOKBACKS = (6, 12, 24, 48, 72)  # hours (reference scripts/05_lag_analysis.py:20)
DEFAULT_LEADS = (1, 2, 3, 5)  # trading days (scripts/05_lag_analysis.py:21)

#: One join bin is one UTC day, in microseconds. A constant: any width
#: gives the same rows, only the number of candidate pairs moves.
_BIN_US = 86_400_000_000


def _day_bin(micros: Column) -> Column:
    # rows stay exact for any non-decreasing binning: the bins from the
    # window start's to the window end's then hold every event inside it
    return F.floor(micros / F.lit(_BIN_US))


def lookback_join(
    spine: DataFrame,
    events: DataFrame,
    key: tuple[str, str],
    at: str,
    ts: str,
    hours: int | Column,
    how: str = "inner",
) -> DataFrame:
    """``spine`` joined to the ``events`` whose ``ts`` lies in the
    HALF-OPEN window [at − hours h, at) and whose ``key[1]`` equals the
    spine's ``key[0]`` (SURVEY §7.3: >= on the left, < on the right).
    ``hours`` is a literal or a per-row column; ``how`` is "inner" or
    "left" (every spine row is kept, a null-``at`` one included).

    Banded by UTC day so the hash join is keyed on (key, bin) instead
    of the key alone: an event lands in the one bin of its ``ts``; a
    spine row is exploded into every bin from that of its window start
    to that of ``at`` − 1 µs. The bins of one spine row are distinct and
    an event has one bin, so each matching pair meets exactly once and
    aggregates over the result are unchanged. A left join also emits one
    null-padded row per bin in which a spine row found no event, which
    null-ignoring aggregates (avg, count of a column) skip."""
    span = F.expr(f"INTERVAL {hours} HOURS") if isinstance(hours, int) else F.make_interval(hours=hours)
    start = F.col(at) - span
    bins = F.sequence(_day_bin(F.unix_micros(start)), _day_bin(F.unix_micros(F.col(at)) - 1))
    explode = {"inner": F.explode, "left": F.explode_outer}[how]
    banded = spine.withColumn("_at_bin", explode(bins))
    binned = events.withColumn("_ts_bin", _day_bin(F.unix_micros(F.col(ts))))
    return banded.join(
        binned,
        (F.col(key[1]) == F.col(key[0]))
        & (F.col("_ts_bin") == F.col("_at_bin"))
        & (F.col(ts) >= start)
        & (F.col(ts) < F.col(at)),
        how,
    ).drop("_at_bin", "_ts_bin")


def scored_articles(news_scored: DataFrame) -> DataFrame:
    """The article side of every lookback join, its ticker renamed
    apart from the price spine's."""
    return news_scored.select(
        F.col("ticker_queried").alias("a_ticker"), "published_utc", "sentiment", "id"
    )


def sentiment_features(
    prices: DataFrame,
    news_scored: DataFrame,
    lookback_hours: int,
    min_count: int,
) -> DataFrame:
    """Per (ticker, date): mean article sentiment in the HALF-OPEN
    window [date − lookback_h, date) and the article count; rows below
    ``min_count`` are dropped (reference returns None —
    scripts/05_lag_analysis.py:66-73). Interval boundaries must match
    exactly: >= on the left, < on the right (SURVEY §7.3)."""
    joined = lookback_join(
        prices.select("ticker", "date", "close"), scored_articles(news_scored),
        ("ticker", "a_ticker"), "date", "published_utc", lookback_hours,
    )
    return (
        joined.groupBy("ticker", "date", "close")
        .agg(
            F.avg("sentiment").alias("avg_sentiment"),
            F.count("id").alias("news_count"),
        )
        .filter(F.col("news_count") >= min_count)
    )


def forward_returns(prices: DataFrame, lead_days: int) -> DataFrame:
    """Forward return to the ``lead_days``-th next TRADING ROW —
    lead() over the per-ticker date-ordered price table, never
    calendar arithmetic (reference scripts/05_lag_analysis.py:94-106;
    SURVEY §7.3)."""
    w = W.partitionBy("ticker").orderBy("date")
    return prices.select(
        "ticker",
        "date",
        "close",
        (F.lead("close", lead_days).over(w) / F.col("close") - 1).alias("forward_return"),
    )


def lookback_per_day(
    prices: DataFrame,
    news_scored: DataFrame,
    lookbacks: tuple[int, ...] = DEFAULT_LOOKBACKS,
) -> DataFrame:
    """Per (ticker, date, close): ``sent_<lb>`` and ``cnt_<lb>`` for every
    lookback, from ONE left range join at max(lookbacks) and a
    conditional aggregate on article age. Every price row is kept, a
    null-``date`` one included, with 0 counts when no article matches."""
    joined = lookback_join(
        prices.select("ticker", "date", "close"), scored_articles(news_scored),
        ("ticker", "a_ticker"), "date", "published_utc", max(lookbacks), "left",
    )
    in_lb = {
        lb: F.col("published_utc") >= F.col("date") - F.expr(f"INTERVAL {lb} HOURS")
        for lb in lookbacks
    }
    return joined.groupBy("ticker", "date", "close").agg(
        *[
            F.avg(F.when(in_lb[lb], F.col("sentiment"))).alias(f"sent_{lb}")
            for lb in lookbacks
        ],
        *[
            F.count(F.when(in_lb[lb], F.col("id"))).alias(f"cnt_{lb}")
            for lb in lookbacks
        ],
    )


def lag_sweep(
    prices: DataFrame,
    news_scored: DataFrame,
    lookbacks: tuple[int, ...] = DEFAULT_LOOKBACKS,
    leads: tuple[int, ...] = DEFAULT_LEADS,
    min_news: int = 3,
    min_obs: int = 30,
) -> DataFrame:
    """Correlation of lookback sentiment vs forward return for every
    (ticker, lookback, lead) config — in ONE pass.

    Plan: one sentiment/count column pair PER lookback per (ticker,
    date) from ``lookback_per_day``, attach one lead column per lead via
    a single window, unpivot the 5×4 grid with stack, then corr/count
    per (ticker, config) + two-sided p-value (F4).
    """
    per_day = lookback_per_day(prices, news_scored, lookbacks)
    w = W.partitionBy("ticker").orderBy("date")
    for ld in leads:
        per_day = per_day.withColumn(
            f"fwd_{ld}", F.lead("close", ld).over(w) / F.col("close") - 1
        )
    # Unpivot the config grid: stack(rows, lb1, sent1, cnt1, ...) × leads
    lb_stack = ", ".join(f"{lb}, sent_{lb}, cnt_{lb}" for lb in lookbacks)
    ld_stack = ", ".join(f"{ld}, fwd_{ld}" for ld in leads)
    grid = per_day.selectExpr(
        "ticker",
        "date",
        f"stack({len(lookbacks)}, {lb_stack}) AS (lookback_hours, avg_sentiment, news_count)",
        *[f"fwd_{ld}" for ld in leads],
    ).selectExpr(
        "ticker",
        "date",
        "lookback_hours",
        "avg_sentiment",
        "news_count",
        f"stack({len(leads)}, {ld_stack}) AS (lead_days, forward_return)",
    )
    valid = grid.filter(
        (F.col("news_count") >= min_news)
        & F.col("avg_sentiment").isNotNull()
        & F.col("forward_return").isNotNull()
    )
    swept = (
        valid.groupBy("ticker", "lookback_hours", "lead_days")
        .agg(
            F.corr("avg_sentiment", "forward_return").alias("correlation"),
            F.count(F.lit(1)).alias("n_observations"),
            F.avg("forward_return").alias("mean_return"),
            F.avg("avg_sentiment").alias("mean_sentiment"),
        )
        .filter(F.col("n_observations") >= min_obs)
    )
    return swept.withColumn(
        "p_value", pearson_p_value("correlation", "n_observations")
    )


def best_configs(sweep: DataFrame) -> DataFrame:
    """Top-1 config per ticker by |correlation| (reference
    scripts/05_lag_analysis.py:177-198, SURVEY A13). The reference's
    loop keeps the FIRST config seen on ties (grid iteration order:
    lookbacks then leads, both ascending) — reproduced with an
    explicit (|corr| desc, lookback, lead) sort."""
    w = W.partitionBy("ticker").orderBy(
        F.desc(F.abs(F.col("correlation"))), F.asc("lookback_hours"), F.asc("lead_days")
    )
    return (
        sweep.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
