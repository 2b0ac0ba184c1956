"""Arrow batch tiers must be bit-exact twins of the JVM formulations.

The catalog's DuckDB oracles were written against the JVM pipelines;
the Arrow tiers (operators/arrow_docs.py) replace them in the hot
paths, so any divergence here would silently break the oracle gate.
"""

from __future__ import annotations

from collections import Counter

import pytest

from streamprocessing_kafka_finlight_news_dashboard_spark.operators import arrow_docs as A
from streamprocessing_kafka_finlight_news_dashboard_spark.operators import dedup as D
from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as T
from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents")


def _sorted_rows(df, cols):
    return df.select(*cols).orderBy(*cols).collect()


def test_mh_constants_in_sync():
    import hashlib

    assert A.MH_P == D._MH_P
    for i in (0, 1, 7, 31):
        want_a = (
            int(hashlib.md5(f"mh-a-{i}".encode()).hexdigest()[:5], 16)
            % ((1 << 20) - 1)
        ) + 1
        want_b = int(hashlib.md5(f"mh-b-{i}".encode()).hexdigest()[:8], 16) % 4294967311
        assert D._mh_a(i) == want_a
        assert 1 <= D._mh_a(i) < (1 << 20)  # int64-overflow-safe bound
        assert D._mh_b(i) == want_b


def test_simhash_arrow_matches_jvm(docs):
    jvm = D.simhash_table_portable(docs)
    arrow = A.simhash_table_arrow(docs)
    cols = ["doc_id", "n_shingles", "simhash60"]
    assert _sorted_rows(jvm, cols) == _sorted_rows(arrow, cols)


def test_minhash_arrow_matches_jvm(docs):
    jvm = D.minhash_signatures_portable(docs)
    arrow = A.minhash_signatures_arrow(docs)
    cols = ["id"] + [f"h{i}" for i in range(32)]
    assert _sorted_rows(jvm, cols) == _sorted_rows(arrow, cols)


def test_shingle_rows_arrow_matches_jvm(docs):
    jvm = D.shingle_rows(docs)
    arrow = A.shingle_rows_arrow(docs)
    cols = ["id", "shingle"]
    assert _sorted_rows(jvm, cols) == _sorted_rows(arrow, cols)


def test_bigram_counts_arrow_matches_jvm(docs):
    jvm = T.char_bigram_counts(docs, id_cols=("doc_id", "lang"))
    arrow = A.char_bigram_counts_arrow(docs, id_cols=("doc_id", "lang"))
    cols = ["doc_id", "lang", "bg", "cnt"]
    assert _sorted_rows(jvm, cols) == _sorted_rows(arrow, cols)


def test_token_counts_arrow_matches_jvm(docs, spark):
    from pyspark.sql import functions as F

    jvm = (
        docs.select("doc_id", F.explode(T.tokens(F.lower(F.col("text")))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    arrow = A.token_counts_arrow(docs)
    cols = ["doc_id", "token", "tf"]
    assert _sorted_rows(jvm, cols) == _sorted_rows(arrow, cols)


def test_shingle_set_edge_cases():
    # short doc (< n tokens) → one shingle = all tokens joined
    assert A._shingle_set("alpha beta", 3) == {"alpha beta"}
    # exactly n tokens → one full gram
    assert A._shingle_set("a b c", 3) == {"a b c"}
    # repeated grams collapse (distinct semantics)
    assert A._shingle_set("x y z x y z x y z", 3) == {
        "x y z", "y z x", "z x y",
    }


def test_twins_agree_on_nasty_strings(spark):
    """Edge-case corpus: unicode whitespace (which Python's default \\s
    would eat but Java/RE2 do not), leading/trailing mixed whitespace,
    empty and null text, runs of separators, single tokens. The Arrow
    twins must agree with the JVM formulations row-for-row on all of
    them — including the null-text row, which the JVM explode DROPS."""
    nasty = [
        (0, "plain three token doc"),
        (1, "  leading spaces"),
        (2, "trailing spaces   "),
        (3, "tab\tseparated\ttokens here"),
        (4, "newline\nseparated\ntokens here"),
        (5, "multiple    spaces   between"),
        (6, "nbsp is not ascii whitespace"),  # NBSP must stay inside a token
        (7, "single"),
        (8, "two tokens"),
        (9, ""),
        (10, None),
        (11, "\t\n starts with whitespace"),
        (12, "CRLF\r\nline break doc"),
        (13, "x " * 50),  # heavy repetition
    ]
    df = spark.createDataFrame(nasty, "doc_id bigint, text string")

    jvm_sh = D.shingle_rows(df)
    arrow_sh = A.shingle_rows_arrow(df)
    assert _sorted_rows(jvm_sh, ["id", "shingle"]) == _sorted_rows(
        arrow_sh, ["id", "shingle"]
    )

    jvm_fp = D.simhash_table_portable(df)
    arrow_fp = A.simhash_table_arrow(df)
    cols = ["doc_id", "n_shingles", "simhash60"]
    assert _sorted_rows(jvm_fp, cols) == _sorted_rows(arrow_fp, cols)

    df2 = df.withColumn("lang", df.doc_id.cast("string"))
    jvm_bg = T.char_bigram_counts(df2, id_cols=("doc_id", "lang"))
    arrow_bg = A.char_bigram_counts_arrow(df2, id_cols=("doc_id", "lang"))
    cols = ["doc_id", "lang", "bg", "cnt"]
    assert _sorted_rows(jvm_bg, cols) == _sorted_rows(arrow_bg, cols)
    # pandas can surface a SQL NULL string as NaN instead of None
    assert A.bigram_counter(float("nan")) == Counter()



@pytest.mark.parametrize("eval_type", ["pandas_udf", "mapInPandas", "applyInPandas"])
def test_worker_zip_directories_survive_task_setup(spark, eval_type):
    """``pyspark.worker`` calls ``importlib.invalidate_caches()`` before
    every task. Once the package is imported in a worker, no zip or jar
    directory on its path may be re-read by that call, also through an
    importer created later (without the seal in the package root,
    pyspark.zip, the py4j zip and the spark-core jar are re-read per
    task). One tiny job per Python eval type the package uses."""
    import pandas as pd
    from pyspark.sql import functions as F

    def probe():
        import importlib.machinery
        import os
        import zipimport

        import pyspark

        import streamprocessing_kafka_finlight_news_dashboard_spark  # noqa: F401

        # a zip importer made after the package import, via sys.path_hooks
        later = os.path.join(pyspark.__path__[0], "_later")
        importlib.machinery.PathFinder.find_spec("_probe", [later])
        before = dict(zipimport._zip_directory_cache)
        importlib.invalidate_caches()
        after = zipimport._zip_directory_cache
        replaced = sorted(p for p, d in before.items() if after.get(p) is not d)
        return f"{len(before)}|{','.join(replaced)}"

    df = spark.range(1, numPartitions=1)
    if eval_type == "pandas_udf":
        udf = F.pandas_udf(lambda s: pd.Series([probe()] * len(s)), "string")
        out = df.select(udf("id").alias("r"))
    elif eval_type == "mapInPandas":
        out = df.mapInPandas(
            lambda it: (pd.DataFrame({"r": [probe()]}) for _ in it), "r string"
        )
    else:
        out = df.groupBy("id").applyInPandas(
            lambda _pdf: pd.DataFrame({"r": [probe()]}), "r string"
        )
    (r,) = [row.r for row in out.collect()]
    n_archives, replaced = r.split("|")
    assert int(n_archives) > 0  # the worker imported from zip archives
    assert replaced == "", replaced

def test_operators_invariant_to_input_partitioning(docs, spark):
    """Distributed-correctness property: operator results must not
    depend on how the input happens to be partitioned (a partition-
    sensitive aggregate or per-partition state leak would pass every
    single-layout test and corrupt results on a real cluster)."""
    odd = docs.repartition(7)  # deliberately awkward layout
    pairs_a = sorted(
        map(tuple, D.minhash_lsh_candidates_portable(docs).collect())
    )
    pairs_b = sorted(map(tuple, D.minhash_lsh_candidates_portable(odd).collect()))
    assert pairs_a == pairs_b
    lang_a = sorted(map(tuple, T.langid_predictions(docs).collect()))
    lang_b = sorted(map(tuple, T.langid_predictions(odd).collect()))
    assert lang_a == lang_b
    tf_a = sorted(map(tuple, A.token_counts_arrow(docs).collect()))
    tf_b = sorted(map(tuple, A.token_counts_arrow(odd).collect()))
    assert tf_a == tf_b


def test_shingle_rows_arrow_matches_jvm(spark):
    """The Arrow shingle-row tier must emit exactly the JVM tier's
    (id, shingle) set — including short-doc whole-text shingles and
    null/empty/nasty texts — so decontamination joins on raw strings
    can swap tiers freely."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.arrow_docs import shingle_rows_arrow
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.dedup import shingle_rows
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    d = load_table(spark, SF_SMOKE, "documents")
    for n in (3, 4):
        jvm = set(map(tuple, shingle_rows(d, n=n).collect()))
        arrow = set(map(tuple, shingle_rows_arrow(d, n=n).collect()))
        assert jvm == arrow and jvm

    nasty = spark.createDataFrame(
        [(1, None), (2, ""), (3, "  "), (4, "one two"), (5, "a  b\tc d e f")],
        "doc_id long, text string",
    )
    jvm = set(map(tuple, shingle_rows(nasty, n=4).collect()))
    arrow = set(map(tuple, shingle_rows_arrow(nasty, n=4).collect()))
    assert jvm == arrow
