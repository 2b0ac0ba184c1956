"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference repo
``Pratham-Jain-3903/streamprocessing-kafka-finlight-news-dashboard``
("Project Mercury" — a pandas news-sentiment trading platform), rebuilt
Spark-first: DataFrame/SQL plans optimized by Catalyst, Pandas UDFs only
where relational ops can't express the semantics, Structured Streaming
for the ingest plane.

Nothing here is a port: the reference's eager single-process pandas
operators (see SURVEY.md §2) are re-expressed as lazy, distributed,
shuffle-aware DataFrame transforms designed for 100 TB / 1000-executor
scale and merely *tested* on local[32].
"""

import sys
import zipimport

from pyspark import TaskContext

from streamprocessing_kafka_finlight_news_dashboard_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"


def _seal_zip_importers() -> None:
    """Make this Python worker's zip importers keep their archive
    directory across ``importlib.invalidate_caches()``.

    ``pyspark.worker`` invalidates the import caches before every task,
    and CPython 3.11's ``zipimporter.invalidate_caches()`` re-reads the
    whole archive directory at once. A worker that imported pyspark from
    ``pyspark.zip`` holds one importer per pyspark subpackage plus the
    py4j zip and the spark-core jar: 0.1-0.25 s of CPU per task, whatever
    the data. Those archives do not change while the worker lives. A
    path added later (``addPyFile``) is new, so the wrapped path hook
    still builds it a fresh importer; directory finders are left alone."""

    def seal(finder):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches = lambda: None
        return finder

    for finder in sys.path_importer_cache.values():
        seal(finder)
    hooks = sys.path_hooks
    if zipimport.zipimporter in hooks:
        hooks[hooks.index(zipimport.zipimporter)] = lambda path: seal(
            zipimport.zipimporter(path)
        )


if TaskContext.get() is not None:
    _seal_zip_importers()
