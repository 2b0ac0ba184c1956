from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import (
    TABLES,
    load_table,
)

__all__ = ["TABLES", "load_table"]
