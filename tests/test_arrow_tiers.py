"""The Arrow document-gram builders (operators/arrow_docs.py) are the
engine's only implementation of per-document grams, and their
specification is the DuckDB SQL the catalog oracles run. Each test
runs a builder and that SQL on the same input — the sf0.001 corpus,
or an edge-case corpus — and requires identical rows. (The
``_matches_jvm`` names are kept from when a JVM formulation was the
reference, so the test ids stay stable.)
"""

from __future__ import annotations

import hashlib
from collections import Counter

import duckdb
import pandas as pd
import pytest

from streamprocessing_kafka_finlight_news_dashboard_spark import plans
from streamprocessing_kafka_finlight_news_dashboard_spark.operators import arrow_docs as A
from streamprocessing_kafka_finlight_news_dashboard_spark.operators import dedup as D
from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as T
from streamprocessing_kafka_finlight_news_dashboard_spark.plans import text as P
from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
from tests.oracle_compare import duckdb_conn

SF_DIR = "/root/testdata/sf0.001"

_SIMHASH_SQL = plans.CATALOG["doc_simhash_portable"].oracle
_MINHASH_SQL = f"""
    WITH {P._SHINGLE_CTES}
    , vals AS (
        SELECT doc_id, CAST('0x' || substring(md5(shingle), 1, 8) AS BIGINT) AS hv
        FROM sh
    )
    SELECT doc_id, {P._MH_SIG_EXPRS} FROM vals GROUP BY doc_id
"""
_BIGRAM_SQL = """
    SELECT doc_id, lang, substring(lower(text), i, 2) AS bg, count(*) AS cnt
    FROM documents,
         LATERAL (SELECT unnest(range(1, len(lower(text)))) AS i) pos
    GROUP BY doc_id, lang, substring(lower(text), i, 2)
"""

#: Edge-case corpus: unicode whitespace (which Python's default \s
#: would eat but Java/RE2 do not), leading/trailing mixed whitespace,
#: empty and null text, runs of separators, single tokens.
NASTY = [
    (0, "plain three token doc"),
    (1, "  leading spaces"),
    (2, "trailing spaces   "),
    (3, "tab\tseparated\ttokens here"),
    (4, "newline\nseparated\ntokens here"),
    (5, "multiple    spaces   between"),
    (6, "nbsp\u00a0is not ascii whitespace"),  # NBSP must stay inside a token
    (7, "single"),
    (8, "two tokens"),
    (9, ""),
    (10, None),
    (11, "\t\n starts with whitespace"),
    (12, "CRLF\r\nline break doc"),
    (13, "x " * 50),  # heavy repetition
]


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents")


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _duck(sql: str, pdf: pd.DataFrame | None = None) -> list[tuple]:
    """Rows of ``sql`` over the sf0.001 tables, or over ``pdf`` as
    ``documents``."""
    con = duckdb_conn(SF_DIR) if pdf is None else duckdb.connect()
    try:
        if pdf is not None:
            con.register("documents", pdf)
        return sorted(con.execute(sql).fetchall())
    finally:
        con.close()


def _shingle_sql(n: int) -> str:
    return f"WITH {P._shingle_ctes(n)} SELECT doc_id, shingle FROM sh"


def test_mh_constants_in_sync():
    """The Arrow MinHash and the oracle's signature SQL take their
    md5-derived constants from the one definition in arrow_docs."""
    assert A.MH_P == 4_294_967_311
    for i in (0, 1, 7, 31):
        want_a = (
            int(hashlib.md5(f"mh-a-{i}".encode()).hexdigest()[:5], 16)
            % ((1 << 20) - 1)
        ) + 1
        want_b = int(hashlib.md5(f"mh-b-{i}".encode()).hexdigest()[:8], 16) % A.MH_P
        assert A._mh_a(i) == want_a
        assert 1 <= want_a < (1 << 20)  # int64-overflow-safe bound
        assert A._mh_b(i) == want_b
        assert f"min(({want_a} * hv + {want_b}) % {A.MH_P}) AS h{i}" in P._MH_SIG_EXPRS


def test_simhash_arrow_matches_jvm(docs):
    got = _rows(A.simhash_table_arrow(docs))
    assert got and got == _duck(_SIMHASH_SQL)


def test_minhash_arrow_matches_jvm(docs):
    got = _rows(A.minhash_signatures_arrow(docs))
    assert got and got == _duck(_MINHASH_SQL)


def test_shingle_rows_arrow_matches_jvm(docs, spark):
    """Shingle rows at n=3 (with a carried per-doc column) and n=4 on
    the corpus, and the sorted arrays built in the same pass; then
    blank, short and mixed-whitespace texts at n=4."""
    got = _rows(A.shingle_rows_arrow(docs, keep_cols=("lang",)))
    want = _duck(
        f"WITH {P._shingle_ctes(3)} "
        "SELECT doc_id, d.lang, shingle FROM sh JOIN documents d USING (doc_id)"
    )
    assert got and got == want

    want4 = _duck(_shingle_sql(4))
    assert _rows(A.shingle_rows_arrow(docs, n=4)) == want4
    arrays: dict[int, list[str]] = {}
    for doc_id, shingle in want4:
        arrays.setdefault(doc_id, []).append(shingle)
    assert _rows(A.shingle_arrays_arrow(docs, n=4)) == sorted(arrays.items())

    small = [(1, None), (2, ""), (3, "  "), (4, "one two"), (5, "a  b\tc d e f")]
    df = spark.createDataFrame(small, "doc_id bigint, text string")
    pdf = pd.DataFrame(small, columns=["doc_id", "text"])
    assert _rows(A.shingle_rows_arrow(df, n=4)) == _duck(_shingle_sql(4), pdf)


def test_bigram_counts_arrow_matches_jvm(docs):
    got = _rows(A.char_bigram_counts_arrow(docs, id_cols=("doc_id", "lang")))
    assert got and got == _duck(_BIGRAM_SQL)


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
    assert _rows(jvm.select(*cols)) == _rows(arrow.select(*cols))


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
    """Every builder equals its oracle SQL row-for-row on the edge-case
    corpus — including the null-text row, for which both emit
    nothing."""
    df = spark.createDataFrame(NASTY, "doc_id bigint, text string")
    pdf = pd.DataFrame(NASTY, columns=["doc_id", "text"])
    assert _rows(A.shingle_rows_arrow(df)) == _duck(_shingle_sql(3), pdf)
    assert _rows(A.simhash_table_arrow(df)) == _duck(_SIMHASH_SQL, pdf)
    assert _rows(A.minhash_signatures_arrow(df)) == _duck(_MINHASH_SQL, pdf)

    df2 = df.withColumn("lang", df.doc_id.cast("string"))
    pdf2 = pdf.assign(lang=pdf.doc_id.astype(str))
    got = _rows(A.char_bigram_counts_arrow(df2, id_cols=("doc_id", "lang")))
    assert got == _duck(_BIGRAM_SQL, pdf2)
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
