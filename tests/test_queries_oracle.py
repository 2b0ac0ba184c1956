"""Every catalog query with an oracle must hash-match DuckDB at
sf0.001 (fast) — the same check the driver runs at sf0.01.

Every catalog query must also run the SQL executions and scan the rows
per table pinned in tests/data/query_profiles.json, so a subtree that
executes twice or an extra collect fails here."""

from __future__ import annotations

import json
import os
from contextlib import contextmanager

import pytest

from streamprocessing_kafka_finlight_news_dashboard_spark import plans
from streamprocessing_kafka_finlight_news_dashboard_spark.measure import measured
from streamprocessing_kafka_finlight_news_dashboard_spark.session import released
from tests.conftest import SF_SMOKE
from tests.oracle_compare import compare, duckdb_conn
from tests.plan_fingerprint import query_profile

ORACLE_QUERIES = sorted(n for n, q in plans.CATALOG.items() if q.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, q in plans.CATALOG.items() if q.oracle is None)


@pytest.fixture(scope="module")
def con():
    c = duckdb_conn(SF_SMOKE)
    yield c
    c.close()


@pytest.fixture(scope="module")
def profiles():
    with open(os.path.join(os.path.dirname(__file__), "data", "query_profiles.json")) as fh:
        return json.load(fh)


def assert_profile(profiles, name, rec):
    assert query_profile(rec) == profiles[name], (
        f"{name}: execution profile {query_profile(rec)} != pinned {profiles[name]} "
        "(regenerate tests/data/query_profiles.json via tools/dump_plans.py if intentional)"
    )


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@contextmanager
def no_block_outlives(spark):
    """Run the block inside one ``released()`` scope; afterwards no RDD
    persisted during it may still be registered. Ids, not counts: the
    ContextCleaner may drop older RDDs at any moment."""
    before = _persisted_ids(spark)
    with released():
        yield
        created = _persisted_ids(spark) - before
    leaked = created & _persisted_ids(spark)
    assert not leaked, f"persisted RDDs outlived the query's scope: {sorted(leaked)}"


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(spark, con, profiles, name):
    q = plans.CATALOG[name]
    with no_block_outlives(spark), measured(spark) as rec:
        spark_df = q.builder(spark, SF_SMOKE)
        oracle_df = con.execute(q.oracle).fetchdf()
        problems = compare(spark_df, oracle_df)
    assert not problems, f"{name}: " + "; ".join(problems)
    assert_profile(profiles, name, rec)


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_runs(spark, profiles, name):
    q = plans.CATALOG[name]
    with no_block_outlives(spark), measured(spark) as rec:
        df = q.builder(spark, SF_SMOKE)
        assert df.count() >= 0
    assert len(df.columns) > 0
    assert_profile(profiles, name, rec)


def test_measured_names_scanned_tables(spark):
    """The record names each scanned table from the scan node's own
    Location and counts one SQL execution for a single-action query."""
    with measured(spark) as rec:
        plans.CATALOG["q3_shipping_priority"].builder(spark, SF_SMOKE).count()
    assert rec.scan_rows == {"lineitem": 6000, "orders": 1500, "customer": 150}
    assert rec.sql_executions == 1
    assert rec.multiplicity == {"lineitem": 1.0, "orders": 1.0, "customer": 1.0}


def test_coverage_doc_header_matches_catalog():
    """COVERAGE.md's headline counts must equal the live catalog — the
    round-9 verdict caught the header frozen at an old 104/93 while the
    catalog had grown to 150/136. Guard it mechanically: the header
    sentence must state len(CATALOG) total and len(oracle_map()) oracle."""
    import os
    import re

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo_root, "COVERAGE.md")) as fh:
        head = fh.read(2000)
    m = re.search(r"(\d+) catalog queries total, (\d+) oracle-checked", head)
    assert m, "COVERAGE.md header sentence missing"
    assert int(m.group(1)) == len(plans.CATALOG), (
        f"COVERAGE.md says {m.group(1)} catalog queries; catalog has {len(plans.CATALOG)}"
    )
    assert int(m.group(2)) == len(plans.oracle_map()), (
        f"COVERAGE.md says {m.group(2)} oracle-checked; oracle_map has {len(plans.oracle_map())}"
    )


def test_catalog_iterates_in_registration_order():
    """CATALOG iterates in registration order: plan modules in the order
    plans/__init__.py imports them, then builder source order within a
    module. Nothing reorders the registry after import."""
    import ast
    import inspect

    tree = ast.parse(inspect.getsource(plans))
    modules = [
        alias.name
        for node in tree.body
        if isinstance(node, ast.ImportFrom) and node.module == plans.__name__
        for alias in node.names
    ]
    keys = [
        (
            modules.index(q.builder.__module__.rsplit(".", 1)[-1]),
            q.builder.__code__.co_firstlineno,
        )
        for q in plans.CATALOG.values()
    ]
    assert keys == sorted(keys)
