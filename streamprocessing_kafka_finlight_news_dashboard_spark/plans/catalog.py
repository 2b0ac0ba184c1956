"""Query catalog: named DataFrame builders + DuckDB oracle SQL.

Every operator from SURVEY.md §2 gets at least one catalog entry;
tests/test_queries_oracle.py (and ``tools/check_all.py [NAME...] --sf DIR``
at larger scales) runs the Spark builder and the oracle SQL side by side and
hash-compares results. Entries without oracle SQL (genuinely
non-SQL-expressible, e.g. the stateful portfolio simulation) get a
rows-only check. CATALOG iterates in registration order.

Contract notes:
- compare is order-insensitive but column-NAME sensitive — every
  computed column is aliased identically in builder and oracle;
- floats are canonicalized by the driver, but we still prefer
  deterministic formulations (explicit rounding on chained-float
  outputs, deterministic tie-breaks on every top-k).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class CatalogQuery:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL over pre-registered table views
    survey_ops: str  # SURVEY.md §2 operator ids this query exercises
    doc: str


CATALOG: dict[str, CatalogQuery] = {}


def query(name: str, *, oracle: str | None, survey_ops: str, doc: str = ""):
    """Decorator registering a (spark, sf_dir) -> DataFrame builder."""

    def wrap(fn: Builder) -> Builder:
        if name in CATALOG:
            raise ValueError(f"duplicate catalog query {name!r}")
        CATALOG[name] = CatalogQuery(
            name=name, builder=fn, oracle=oracle, survey_ops=survey_ops, doc=doc or (fn.__doc__ or "")
        )
        return fn

    return wrap


def all_queries() -> dict[str, Builder]:
    return {n: q.builder for n, q in CATALOG.items()}


def oracle_map() -> dict[str, str]:
    return {n: q.oracle for n, q in CATALOG.items() if q.oracle is not None}
