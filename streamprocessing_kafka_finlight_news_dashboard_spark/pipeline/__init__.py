"""Reference-domain pipeline: news → sentiment → lag sweep → signals
→ backtest → metrics (SURVEY §7.1 steps 2, 4, 5), all Spark-first."""

from streamprocessing_kafka_finlight_news_dashboard_spark.pipeline.backtest import (
    backtest_metrics,
    equity_analytics,
    run_backtest,
)
from streamprocessing_kafka_finlight_news_dashboard_spark.pipeline.features import (
    best_configs,
    forward_returns,
    lag_sweep,
    lookback_per_day,
    sentiment_features,
)
from streamprocessing_kafka_finlight_news_dashboard_spark.pipeline.news import (
    add_sentiment,
    dedup_articles_keep_last,
    sentiment_distribution,
)
from streamprocessing_kafka_finlight_news_dashboard_spark.pipeline.signals import (
    generate_signals,
    signal_distribution,
)

__all__ = [
    "add_sentiment",
    "backtest_metrics",
    "best_configs",
    "dedup_articles_keep_last",
    "equity_analytics",
    "forward_returns",
    "generate_signals",
    "lag_sweep",
    "lookback_per_day",
    "run_backtest",
    "sentiment_distribution",
    "sentiment_features",
    "signal_distribution",
]
