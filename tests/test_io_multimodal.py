"""Round-trip tests for writers/readers (S2-S7) + multimodal plumbing."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark.operators import multimodal as MM
from streamprocessing_kafka_finlight_news_dashboard_spark.sources import io as IO
from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="io_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)



def test_workers_get_current_package_sources(tmp_path, monkeypatch):
    """The zip shipped to workers holds this checkout's sources even when
    an earlier process with the same PID left a different zip at the old
    fixed name ``<tmpdir>/<pkg>_pyfiles_<pid>.zip``; and a new application
    is shipped the package even if its context reuses a stopped one's
    address."""
    import os
    import types
    import zipfile

    from streamprocessing_kafka_finlight_news_dashboard_spark.sources import tables

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(tables, "_shipped", set())
    monkeypatch.setattr(tables, "_zip_path", None, raising=False)
    pkg, root = tables._PKG_NAME, tables._PKG_ROOT
    stale = tmp_path / f"{pkg}_pyfiles_{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "STALE = True\n")

    shipped = []
    sc = types.SimpleNamespace(applicationId="app-1", addPyFile=shipped.append)
    spark = types.SimpleNamespace(sparkContext=sc)
    tables.ensure_workers_can_import(spark)
    tables.ensure_workers_can_import(spark)
    assert len(shipped) == 1

    want = {
        os.path.join(pkg, os.path.relpath(os.path.join(d, f), root))
        for d, _dirs, files in os.walk(root)
        for f in files
        if f.endswith(".py")
    }
    with zipfile.ZipFile(shipped[0]) as zf:
        assert set(zf.namelist()) == want
        init = zf.read(f"{pkg}/__init__.py")
    with open(os.path.join(root, "__init__.py"), "rb") as f:
        assert init == f.read()

    sc.applicationId = "app-2"  # same context object, new application
    tables.ensure_workers_can_import(spark)
    assert len(shipped) == 2

def test_parquet_roundtrip(spark, tmpdir):
    src = load_table(spark, SF_SMOKE, "orders")
    IO.write_parquet(src, f"{tmpdir}/orders")
    back = spark.read.parquet(f"{tmpdir}/orders")
    assert back.count() == src.count()
    assert back.schema == src.schema


def test_partitioned_write_prunes_on_read(spark, tmpdir):
    src = load_table(spark, SF_SMOKE, "events")
    IO.write_parquet_partitioned(src, f"{tmpdir}/events_p", ("event_type",))
    back = spark.read.parquet(f"{tmpdir}/events_p").filter(F.col("event_type") == "click")
    plan = back._sc._jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted"
    )
    assert back.count() == src.filter(F.col("event_type") == "click").count()
    # equality predicate on the partition column must prune directories
    assert "PartitionFilters: [isnotnull(event_type" in plan, plan


def test_csv_roundtrip_with_schema(spark, tmpdir):
    src = load_table(spark, SF_SMOKE, "nation")
    IO.write_csv(src, f"{tmpdir}/nation_csv")
    back = IO.read_csv(spark, f"{tmpdir}/nation_csv", src.schema)
    assert sorted(back.collect()) == sorted(src.collect())


def test_json_roundtrip_and_nested_summary(spark, tmpdir):
    src = load_table(spark, SF_SMOKE, "region")
    IO.write_json(src, f"{tmpdir}/region_json")
    back = IO.read_json(spark, f"{tmpdir}/region_json", src.schema)
    assert sorted(back.collect()) == sorted(src.collect())

    summary = IO.nested_summary_json(
        load_table(spark, SF_SMOKE, "supplier"), group_cols=("s_nationkey",)
    )
    row = summary.first()
    assert set(summary.columns) == {"s_nationkey", "summary_json"}
    assert row.summary_json.startswith("{")


def test_multimodal_feature_extraction(spark):
    media = MM.synthetic_media(spark, n=30)
    feats = MM.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    ok = [r for r in rows if r.decode_ok]
    assert len(ok) == 30
    assert all(len(r.feat) == 64 for r in ok)
    assert all(len(r.payload_sha) == 64 for r in rows)


def test_multimodal_dedup_and_frames(spark):
    media = MM.synthetic_media(spark, n=30)
    dups = MM.media_dedup_by_content(media)
    assert dups.agg(F.sum("dup_count")).first()[0] == 30
    frames = MM.frame_sample_plan(media, every_ms=5000)
    assert frames.count() > 0
    plan = frames._sc._jvm.PythonSQLUtils.explainString(
        frames._jdf.queryExecution(), "formatted"
    )
    assert "payload" not in plan.split("ReadSchema")[-1][:400], "binary column not pruned"


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-located bucketed layout: orders and lineitem bucketed on the
    join key with the same bucket count must sort-merge join with ZERO
    exchanges — the shuffle was paid once at write time. The same join
    over the plain parquet tables DOES exchange (sanity check that the
    assertion means something)."""
    orders = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    IO.write_bucketed(orders, "b_orders", "o_orderkey", n_buckets=8, sort_col="o_orderkey")
    IO.write_bucketed(li, "b_lineitem", "l_orderkey", n_buckets=8, sort_col="l_orderkey")
    try:
        bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
        # hint("merge"): at this test SF the planner would broadcast the
        # tiny orders side (which turns bucketing off entirely); at lake
        # scale neither side broadcasts and the merge join is what the
        # planner picks on its own.
        joined = bo.hint("merge").join(bl, bo.o_orderkey == bl.l_orderkey)
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        baseline = orders.hint("merge").join(li, orders.o_orderkey == li.l_orderkey)
        base_plan = baseline._sc._jvm.PythonSQLUtils.explainString(
            baseline._jdf.queryExecution(), "formatted"
        )
        assert "Exchange" in base_plan
        assert joined.count() == baseline.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_media_resize_invariants(spark):
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import multimodal as M

    out = M.resize_plan(M.synthetic_media(spark), max_side=256).collect()
    assert out, "no images resized"
    for r in out:
        assert 1 <= max(r.dst_width, r.dst_height) <= 256
        assert r.dst_width <= r.src_width and r.dst_height <= r.src_height
        # aspect ratio preserved within integer-floor tolerance
        if r.src_width >= r.src_height:
            assert r.dst_width >= r.dst_height
        else:
            assert r.dst_height >= r.dst_width
        assert r.resized_ok and r.resized_bytes > 0


def test_schema_evolution_merge(spark, tmp_path):
    """Drops written before/after a column was added must union into
    one relation: old rows carry NULL for the new column, and filters
    on the new column still push down to the scan."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.io import read_parquet_evolving

    v1 = str(tmp_path / "v1")
    v2 = str(tmp_path / "v2")
    spark.range(0, 10).select("id", F.lit("a").alias("tag")).write.parquet(v1)
    spark.range(10, 20).select(
        "id", F.lit("b").alias("tag"), (F.col("id") * 2).alias("score")
    ).write.parquet(v2)

    df = read_parquet_evolving(spark, [v1, v2])
    assert set(df.columns) == {"id", "tag", "score"}
    assert df.count() == 20
    assert df.filter(F.col("score").isNull()).count() == 10
    got = df.filter(F.col("score") >= 30).count()
    assert got == 5  # ids 15..19


def test_observe_gate_metrics_match_direct_counts(spark):
    """observe() metrics must equal independently computed counts and
    cost no extra scan (they piggyback on the consuming action)."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.io import with_observed_gate
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    observed, obs = with_observed_gate(docs)
    n = observed.count()  # the action that populates the observation
    got = obs.get
    assert got["n_rows"] == n
    assert got["null_text"] == docs.filter(F.col("text").isNull()).count()
    assert got["empty_text"] == docs.filter(F.trim("text") == "").count()


def test_curated_shard_write_roundtrip(spark, tmp_path):
    """End-to-end export seam: the flagship curation output written as
    split-partitioned parquet shards re-reads byte-identically, and a
    split-filtered read prunes to that partition's files only — the
    handoff a training job consumes."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from tests.conftest import SF_SMOKE

    curated = CATALOG["doc_curation_pipeline"].builder(spark, SF_SMOKE)
    out = str(tmp_path / "shards")
    curated.write.partitionBy("split").parquet(out)
    back = spark.read.parquet(out)
    want = sorted(map(tuple, curated.collect()))
    got = sorted(
        map(tuple, back.select(*curated.columns).collect())
    )
    # the flagship emits the per-(split, lang) packing manifest grain
    assert got == want and len(got) >= 10
    train = back.filter(F.col("split") == "train")
    plan = train._sc._jvm.PythonSQLUtils.explainString(
        train._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [isnotnull(split" in plan, plan
    n_train = sum(1 for r in want if "train" in r)  # split value in tuple
    assert train.count() == n_train
