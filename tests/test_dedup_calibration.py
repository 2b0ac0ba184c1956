"""Dedup-ladder calibration: MinHash-LSH candidate generation measured
against EXACT shingle-Jaccard ground truth.

Ground truth is complete for J > 0: two documents share a shingle iff
their Jaccard is positive, so the shingle-share self-join enumerates
every pair with any overlap and the exact J for each — no sampling, no
blocking. The banded-LSH theory curve for 32 hashes / 8 bands is
P(candidate | J) = 1 − (1 − J⁴)⁸ (≈ 0.40 at J=0.5, ≈ 0.89 at J=0.7,
≈ 0.98 at J=0.8); the corpus's planted near-dups sit at J ≥ 0.8 where
recall should be ~1. Measured at sf0.001: recall 1.0 at every
threshold ≥ 0.5, precision 1.0 against J ≥ 0.5 — pinned (with margin)
below.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark.operators import dedup as D
from streamprocessing_kafka_finlight_news_dashboard_spark.operators.arrow_docs import shingle_rows_arrow
from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _exact_jaccard_pairs(docs) -> dict[tuple[int, int], float]:
    rows = shingle_rows_arrow(docs)
    sizes = rows.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = rows.select(F.col("id").alias("id_a"), "shingle")
    b = rows.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    j = (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sa")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sb")), "id_b")
        .withColumn("jac", F.col("i") / (F.col("sa") + F.col("sb") - F.col("i")))
    )
    return {(r.id_a, r.id_b): r.jac for r in j.collect()}


def test_minhash_lsh_recall_and_precision_vs_exact_jaccard(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    exact = _exact_jaccard_pairs(docs)
    cand = {(r.id_a, r.id_b) for r in D.minhash_lsh_candidates_portable(docs).collect()}
    assert cand, "no LSH candidates — banding degenerate"

    for thresh, floor in ((0.5, 0.95), (0.7, 0.95), (0.8, 0.95)):
        true = {k for k, v in exact.items() if v >= thresh}
        assert true, f"no ground-truth pairs at J>={thresh} — corpus changed"
        recall = len(true & cand) / len(true)
        assert recall >= floor, f"recall@J>={thresh} = {recall}"

    # candidates must be overwhelmingly real near-dups, not band noise
    precision = sum(1 for c in cand if exact.get(c, 0.0) >= 0.5) / len(cand)
    assert precision >= 0.9, f"precision(J>=0.5) = {precision}"


def test_simhash_hamming_pairs_are_high_jaccard(spark):
    """The SimHash tier's within-radius pairs must correspond to high
    shingle overlap too — the two independent near-dup detectors must
    agree on what a near-dup is."""
    docs = load_table(spark, SF_SMOKE, "documents")
    exact = _exact_jaccard_pairs(docs)
    sh_pairs = {
        (r.id_a, r.id_b) for r in D.simhash_hamming_pairs(docs, radius=3).collect()
    }
    assert sh_pairs, "no SimHash pairs at radius 3"
    hits = sum(1 for p in sh_pairs if exact.get(p, 0.0) >= 0.5)
    assert hits / len(sh_pairs) >= 0.9


def test_decontaminate_monotone_in_eval_set(spark):
    """Growing the eval set can only add contamination: every doc
    flagged against eval set E must stay flagged against E ∪ E', and
    per-doc overlap counts must be monotone. A training doc that IS an
    eval doc verbatim must always be contaminated."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.dedup import decontaminate_ngram
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    d = load_table(spark, SF_SMOKE, "documents")
    train = d.filter(F.col("doc_id") % 7 != 0)
    eval_small = d.filter(F.col("doc_id") % 49 == 0)
    eval_big = d.filter(F.col("doc_id") % 7 == 0)  # superset of small
    small = {
        r.doc_id: r.n_contaminated_grams
        for r in decontaminate_ngram(train, eval_small, n=4).collect()
    }
    big = {
        r.doc_id: r.n_contaminated_grams
        for r in decontaminate_ngram(train, eval_big, n=4).collect()
    }
    assert set(small) == set(big)
    assert any(v > 0 for v in big.values())
    for doc, c in small.items():
        assert big[doc] >= c, doc

    # verbatim copy of an eval doc: all grams collide
    ev_row = eval_small.select("doc_id", "text").first()
    clone = spark.createDataFrame(
        [(999_999_001, ev_row.text)], "doc_id long, text string"
    )
    got = decontaminate_ngram(clone, eval_small, n=4).collect()
    assert len(got) == 1
    r = got[0]
    assert r.contaminated and r.n_contaminated_grams == r.n_grams
    assert r.contamination_ratio == 1.0


def test_incremental_substring_flags_equal_global(spark):
    """Slice-ordered incrementality of ExactSubstr (the streaming
    curation pipeline's span-store contract): with the corpus split
    into id-ordered slices, slice-1 flags ∪ slice-2 flags computed
    against slice-1's window keys equal the ONE-batch flags over the
    whole corpus — and likewise for the full dedup_substrings cut."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    lo = docs.filter(F.col("doc_id") < 250)
    hi = docs.filter(F.col("doc_id") >= 250)

    want = {
        (r.id, r.pos) for r in D.repeated_substring_flags(docs, k=8).collect()
    }
    seen = D.substring_window_keys(lo, k=8)
    got = {
        (r.id, r.pos) for r in D.repeated_substring_flags(lo, k=8).collect()
    } | {
        (r.id, r.pos)
        for r in D.repeated_substring_flags(hi, k=8, seen_keys=seen).collect()
    }
    assert got == want
    assert want, "corpus has no repeated spans — vacuous"

    cut_all = {
        (r.doc_id, r.clean_text)
        for r in D.dedup_substrings(docs, k=8).collect()
    }
    cut_inc = {
        (r.doc_id, r.clean_text) for r in D.dedup_substrings(lo, k=8).collect()
    } | {
        (r.doc_id, r.clean_text)
        for r in D.dedup_substrings(hi, k=8, seen_keys=seen).collect()
    }
    assert cut_inc == cut_all
