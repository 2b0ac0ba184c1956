from streamprocessing_kafka_finlight_news_dashboard_spark.plans.catalog import (
    CATALOG,
    CatalogQuery,
    all_queries,
    oracle_map,
    query,
)

# Importing the plan modules populates the catalog registry. CATALOG
# iterates in registration order: this import order, then source order
# within each module.
from streamprocessing_kafka_finlight_news_dashboard_spark.plans import (  # noqa: E402,F401
    timeseries,
    timeseries2,
    text,
    text2,
    similarity,
    similarity2,
    multimodal,
    domain,
    relational,
    relational2,
    relational3,
)

__all__ = ["CATALOG", "CatalogQuery", "all_queries", "oracle_map", "query"]
