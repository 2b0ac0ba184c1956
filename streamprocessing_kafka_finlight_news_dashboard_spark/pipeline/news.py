"""News-table transforms: ingest dedup + sentiment scoring.

Re-expresses reference scripts 02-03: merge/keep-last dedup on
article_url (scripts/02_fetch_news.py:109-131, SURVEY S13/U2) and
VADER-style sentiment over title+description
(scripts/03_add_sentiment.py:25-28, SURVEY P2/F1)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark.functions.sentiment import with_sentiment


def dedup_articles_keep_last(news: DataFrame, order_col: str = "published_utc") -> DataFrame:
    """keep='last' dedup by article_url, made deterministic with an
    explicit order (SURVEY §7.3: distributed row order is unstable, so
    'last' must be defined by a column — here latest published_utc,
    id as tie-break)."""
    w = W.partitionBy("article_url").orderBy(F.desc(order_col), F.desc("id"))
    return news.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def add_sentiment(news: DataFrame) -> DataFrame:
    """text = trim(title ⊕ ' ' ⊕ description) with null-safe concat
    (reference scripts/03_add_sentiment.py:25), scored by the
    Arrow-batched sentiment pandas UDF (F1) — the engine's only
    Python-side hot-path operator, by necessity."""
    return with_sentiment(news, "description")


def sentiment_distribution(news_scored: DataFrame) -> DataFrame:
    """Global sentiment stats + ±0.05 bucket shares (reference
    scripts/03_add_sentiment.py:36-42)."""
    return news_scored.agg(
        F.count(F.lit(1)).alias("n_articles"),
        F.round(F.min("sentiment"), 6).alias("min_sentiment"),
        F.round(F.max("sentiment"), 6).alias("max_sentiment"),
        F.round(F.avg("sentiment"), 6).alias("mean_sentiment"),
        F.round(F.stddev_samp("sentiment"), 6).alias("std_sentiment"),
        F.sum((F.col("sentiment") > 0.05).cast("long")).alias("n_positive"),
        F.sum((F.col("sentiment") < -0.05).cast("long")).alias("n_negative"),
        F.sum(
            ((F.col("sentiment") >= -0.05) & (F.col("sentiment") <= 0.05)).cast("long")
        ).alias("n_neutral"),
    )
