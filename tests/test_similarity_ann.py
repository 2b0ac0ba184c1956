"""Property tests for the ANN scale path: IVF results must be a
subset of the exact scores, near-dup candidates must verify, and the
rolling fingerprint must be span-consistent."""

from __future__ import annotations

from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark.operators import similarity as S
from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as X
from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
from tests.conftest import SF_BENCH, SF_ORACLE, SF_SMOKE

QUERY_IDS = list(range(10))


def _round_half_up(x: float, nd: int) -> float:
    """Spark F.round semantics on doubles: HALF_UP over the SHORTEST
    decimal representation (BigDecimal.valueOf == Double.toString;
    Python's repr() is the same shortest-round-trip string). Python's
    builtin round() is half-EVEN over the exact binary expansion —
    both choices differ from Spark on midpoints, so replica tests
    asserting bitwise equality against Spark-rounded values must use
    this instead."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal(1).scaleb(-nd), rounding=decimal.ROUND_HALF_UP
        )
    )


def test_ivf_scores_match_exact_scores(spark):
    """Every (query, neighbor) pair IVF returns must carry the same
    cosine the brute-force path computes — IVF may MISS neighbors
    (that's the approximation) but must never mis-score one."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in S.cosine_topk(e, QUERY_IDS, k=500).collect()
    }
    approx = S.ivf_topk(e, QUERY_IDS, k=3).collect()
    assert len(approx) > 0
    for r in approx:
        assert exact[(r.query_id, r.neighbor_id)] == r.cos_sim


def test_ivf_recall_improves_with_nprobe(spark):
    """Recall@3 must be monotone in nprobe and reach 1.0 when every
    cell is probed (nprobe = n_cells ⇒ exhaustive search). On this
    cluster-free synthetic data recall ≈ nprobe/n_cells — the
    documented ANN trade-off, asserted rather than assumed."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    exact3 = {
        (r.query_id, r.neighbor_id) for r in S.cosine_topk(e, QUERY_IDS, k=3).collect()
    }

    def recall(nprobe: int) -> float:
        got = {
            (r.query_id, r.neighbor_id)
            for r in S.ivf_topk(e, QUERY_IDS, k=3, nprobe=nprobe).collect()
        }
        return len(exact3 & got) / len(exact3)

    r3, r10 = recall(3), recall(10)
    assert r10 == 1.0, f"nprobe=all must be exhaustive, got {r10}"
    assert r3 <= r10
    assert r3 >= 0.05, f"IVF recall@3 collapsed: {r3}"


def test_near_dup_pairs_subset_of_bruteforce(spark):
    """LSH-candidate near-dup pairs must be a subset of the true
    above-threshold pairs (verification is exact) and every returned
    sim must clear the threshold."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    got = S.near_dup_pairs(e, threshold=0.4).collect()
    assert all(r.cos_sim >= 0.4 for r in got)
    assert all(r.id_a < r.id_b for r in got)
    # exact check on a sample pair via the brute-force scorer
    if got:
        r0 = got[0]
        exact = (
            S.cosine_topk(e, [r0.id_a], k=500)
            .filter(F.col("neighbor_id") == r0.id_b)
            .collect()
        )
        assert exact and exact[0].cos_sim == r0.cos_sim


def test_rolling_fingerprint_span_count(spark):
    """n_spans = n_tokens − window + 1 for every document."""
    d = load_table(spark, SF_SMOKE, "documents")
    hashes = X.rolling_window_hashes(F.col("text"))
    got = d.select(
        X.token_count(F.col("text")).alias("n_tok"),
        F.size(hashes).alias("n_spans"),
        F.array_min(hashes).alias("min_fp"),
    ).collect()
    for r in got:
        assert r.n_spans == r.n_tok - 5 + 1
        assert 0 <= r.min_fp < 1_000_000_007


def test_arrow_cosine_tier_matches_hof_tier_exactly(spark):
    """The numpy/mapInPandas tier must return exactly the same
    (query_id, neighbor_id, rank) triples as the oracle-checked
    higher-order-function tier — only the cos_sim float may differ in
    the last ulp."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_arrow,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    qids = list(range(10))
    hof = cosine_topk(e, qids, k=5).select("query_id", "neighbor_id", "rank")
    arrow = cosine_topk_arrow(e, qids, k=5).select("query_id", "neighbor_id", "rank")
    a = sorted(map(tuple, hof.collect()))
    b = sorted(map(tuple, arrow.collect()))
    assert a == b
    assert len(a) == 50


def test_kmeans_inertia_monotone_and_partition(spark):
    """Lloyd iterations must not increase total within-cluster squared
    distance, and the final cells must partition the corpus (sizes sum
    to N, every cell non-negative)."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    hist = S.kmeans_inertia_history(e, k=8, iters=4)
    assert len(hist) == 4
    for a, b in zip(hist, hist[1:]):
        assert b <= a * (1 + 1e-9), hist
    cents = S.kmeans_centroids(e, k=8, iters=4)
    rows = cents.collect()
    assert len(rows) == 8
    n = e.count()
    assert sum(r.cell_size for r in rows) == n


def test_kmeans_ivf_scores_match_exact_scores(spark):
    """Same IVF invariant over learned cells: returned pairs must carry
    the exact cosine; recall must beat random cell probing (nprobe=3 of
    8 cells → a random quantizer would land ≈ 3/8 of true neighbors in
    probed cells; the learned one groups similar vectors, so we pin a
    floor at 0.25 to stay deterministic-safe)."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    exact_all = S.cosine_topk(e, QUERY_IDS, k=500).collect()
    exact = {(r.query_id, r.neighbor_id): r.cos_sim for r in exact_all}
    top3 = {
        (r.query_id, r.neighbor_id) for r in exact_all if r.rank <= 3
    }
    cents = S.kmeans_centroids(e, k=8, iters=3).select(
        F.col("cell").alias("label"), "centroid"
    )
    approx = S.ivf_topk(e, QUERY_IDS, k=3, nprobe=3, centroids=cents).collect()
    assert len(approx) > 0
    for r in approx:
        assert exact[(r.query_id, r.neighbor_id)] == r.cos_sim
    recall = len({(r.query_id, r.neighbor_id) for r in approx} & top3) / len(top3)
    assert recall >= 0.25, f"recall {recall}"


def test_knn_graph_edges_match_exact_and_no_cartesian(spark):
    """Every edge the cell-restricted k-NN graph emits must carry the
    exact cosine (same invariant as IVF), every vector sharing a cell
    with ≥1 other vector must appear as a source, and the plan must
    stay an equi join."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    g = S.knn_graph(e, k=3)
    plan = g._sc._jvm.PythonSQLUtils.explainString(g._jdf.queryExecution(), "formatted")
    assert "CartesianProduct" not in plan
    edges = g.collect()
    assert edges
    srcs = {r.src_id for r in edges}
    assert len(srcs) > 100  # corpus-wide, not a handful of probes
    sample_srcs = sorted(srcs)[:5]
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in S.cosine_topk(e, sample_srcs, k=500).collect()
    }
    for r in edges:
        if r.src_id in sample_srcs:
            assert exact[(r.src_id, r.neighbor_id)] == r.cos_sim


def test_knn_graph_multiprobe_recall_monotone(spark):
    """Probing more cells must never lower corpus-wide recall against
    the exact top-3 graph, and should strictly help on a corpus whose
    neighbors straddle cell boundaries."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    sample = sorted(
        r.vec_id for r in e.select("vec_id").limit(40).collect()
    )
    exact_top3 = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(e, sample, k=3).collect()
    }
    def recall(m):
        g = {
            (r.src_id, r.neighbor_id)
            for r in S.knn_graph(e, k=3, nprobe=m).collect()
            if r.src_id in set(sample)
        }
        return len(g & exact_top3) / len(exact_top3)
    r1, r2 = recall(1), recall(2)
    assert r2 >= r1, (r1, r2)


def test_semdedup_invariants(spark):
    """SemDeDup structural contract: one row per vector, exactly one
    keep per dup group, the representative is the least-centroid-
    similar member (vec_id tie-break), groups never span cells, and
    singletons are always kept."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    rows = S.semdedup(e, threshold=0.4).collect()
    assert len(rows) == e.count()

    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.dup_cluster_id, []).append(r)
    assert any(len(m) > 1 for m in by_cluster.values()), "no dup group formed"
    for cid, members in by_cluster.items():
        assert all(m.cluster_size == len(members) for m in members)
        assert len({m.cell for m in members}) == 1, "group spans cells"
        keeps = [m for m in members if m.keep]
        assert len(keeps) == 1, f"cluster {cid}: {len(keeps)} keeps"
        rep = min(members, key=lambda m: (m.centroid_sim, m.vec_id))
        assert keeps[0].vec_id == rep.vec_id
        if len(members) == 1:
            assert members[0].keep and cid == members[0].vec_id


def test_semdedup_pairs_confined_to_threshold(spark):
    """Every multi-member group is held together by ≥ threshold
    edges: each non-representative member has SOME same-group partner
    with exact cosine ≥ threshold (transitivity allows < threshold
    between distant members, but never an isolated one)."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    out = S.semdedup(e, threshold=0.4)
    multi = out.filter(F.col("cluster_size") > 1).collect()
    groups: dict[int, list[int]] = {}
    for r in multi:
        groups.setdefault(r.dup_cluster_id, []).append(r.vec_id)
    for cid, ids in groups.items():
        for vid in ids:
            sims = (
                S.cosine_topk(e, [vid], k=500)
                .filter(F.col("neighbor_id").isin([i for i in ids if i != vid]))
                .collect()
            )
            assert any(s.cos_sim >= 0.4 for s in sims), (cid, vid)


def test_kmeans_sample_fit_matches_full_fit(spark):
    """With sample_fit ≥ |corpus| the sample IS the corpus and the
    driver-side Lloyd must land on (numerically) the same centroids as
    the distributed iterative path — same seeding rule, same float64
    math, only the partial-summation order differs. Cell sizes must
    agree exactly and the sample inertia history must be monotone."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    hist: list[float] = []
    full = {
        r.cell: (r.centroid, r.cell_size)
        for r in S.kmeans_centroids(e, k=8, iters=3).collect()
    }
    samp = {
        r.cell: (r.centroid, r.cell_size)
        for r in S.kmeans_centroids(
            e, k=8, iters=3, sample_fit=e.count(), inertia_out=hist
        ).collect()
    }
    assert set(full) == set(samp)
    for c in full:
        fvec, fsz = full[c]
        svec, ssz = samp[c]
        assert fsz == ssz, f"cell {c}: size {fsz} != {ssz}"
        for a, b in zip(fvec, svec):
            assert abs(a - b) < 1e-9, f"cell {c} centroid diverged"
    assert hist == sorted(hist, reverse=True), "sample inertia not monotone"


def test_centroid_scores_arrow_tier_matches_literal(spark):
    """The >512-cell Arrow matrix tier must produce exactly the
    literal-inline tier's rows (same round-6 sims, same ranks, same
    NULL handling) on the label-centroid quantizer."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    cols = ["cs_id", "clabel", "centroid_sim", "cell_rank"]
    lit_rows = sorted(
        map(tuple, S.centroid_scores(e, max_rank=3, tier="literal").select(*cols).collect())
    )
    arrow_rows = sorted(
        map(tuple, S.centroid_scores(e, max_rank=3, tier="arrow").select(*cols).collect())
    )
    assert lit_rows == arrow_rows
    assert len(lit_rows) == 3 * e.count()
    # norms agree to the last ulp (numpy pairwise summation vs the
    # JVM sequential fold) with a shared NULL-for-zero contract
    ln = dict(
        (r.cs_id, r.cs_norm)
        for r in S.centroid_scores(e, max_rank=1, tier="literal").collect()
    )
    an = dict(
        (r.cs_id, r.cs_norm)
        for r in S.centroid_scores(e, max_rank=1, tier="arrow").collect()
    )
    assert set(ln) == set(an)
    for vid, v in ln.items():
        w = an[vid]
        assert (v is None) == (w is None)
        if v is not None:
            assert abs(v - w) <= 1e-12 * max(abs(v), 1.0), (vid, v, w)


def test_cluster_balanced_sample_invariants(spark):
    """Each cell keeps exactly min(quota, cell_size) vectors, ranks
    are contiguous within a cell, and the selection is deterministic
    across runs (md5 order, no rand)."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    out = S.cluster_balanced_sample(e, quota=25)
    rows = out.collect()
    assert len(rows) == e.count()
    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    for cell, members in by_cell.items():
        n = len(members)
        assert all(m.cell_size == n for m in members)
        kept = sorted(m.sample_rank for m in members if m.keep)
        assert kept == list(range(1, min(25, n) + 1)), cell
    assert any(len(m) > 25 for m in by_cell.values()), "no cell hit the cap"
    again = {(r.vec_id, r.keep) for r in S.cluster_balanced_sample(e, quota=25).collect()}
    assert again == {(r.vec_id, r.keep) for r in rows}


def test_kmeans_centroids_match_pinned_artifact(spark):
    """The sample-fit Lloyd quantizer is fully deterministic
    (md5-ordered TakeOrdered sample, lowest-id seeding, driver numpy
    Lloyd) — so the exact centroid table for the catalog config
    (k=16, iters=4, sample_fit=4096 at sf0.001) is pinned as a
    committed artifact. This is the correctness evidence for the
    emb_kmeans_ivf_topk / emb_semdedup_kmeans rows-only entries: the
    quantizer they search over cannot drift without this test
    catching it (6-decimal tolerance absorbs BLAS ulp noise only)."""
    import json
    import os

    import pytest

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import similarity as S
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    e = load_table(spark, SF_SMOKE, "embeddings")
    rows = S.kmeans_centroids(e, k=16, iters=4, sample_fit=4096).collect()
    got = [
        {
            "cell": r["cell"],
            "cell_size": r["cell_size"],
            "centroid": [round(x, 6) for x in r["centroid"]],
        }
        for r in sorted(rows, key=lambda r: r["cell"])
    ]
    with open(
        os.path.join(os.path.dirname(__file__), "data", "kmeans_centroids_sf0001.json")
    ) as fh:
        want = json.load(fh)
    assert [g["cell"] for g in got] == [w["cell"] for w in want]
    assert [g["cell_size"] for g in got] == [w["cell_size"] for w in want]
    for g, w in zip(got, want):
        assert g["centroid"] == pytest.approx(w["centroid"], abs=2e-6), g["cell"]


def test_pq_encode_and_adc_match_numpy(spark):
    """PQ plumbing exactness on the real corpus: (1) the distributed
    encode picks the argmin subspace code numpy computes (rounded-6
    lowest-code tie-break); (2) every ADC distance equals the sum of
    the query's LUT entries for that vector's codes; (3) the trained
    per-subspace Lloyd codebooks match their pinned artifact (the fit
    is deterministic); (4) ADC top-10 overlaps exact-L2 top-10 — the
    compressed scan must carry real signal, not noise."""
    import json
    import os

    import numpy as np
    import pytest

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import similarity as S
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    m, dsub, ksub = 8, 8, 16
    e = load_table(spark, SF_SMOKE, "embeddings")
    X = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in e.collect()
    }
    cb_df = S.pq_codebooks_kmeans(e, m=m, ksub=ksub, iters=4, sample_fit=4096)
    cb_rows = cb_df.collect()
    with open(
        os.path.join(os.path.dirname(__file__), "data", "pq_codebooks_sf0001.json")
    ) as fh:
        want = {(w["sub"], w["code"], w["pos"]): w["mean"] for w in json.load(fh)}
    assert len(cb_rows) == m * ksub * dsub
    for r in cb_rows:
        assert r["mean"] == pytest.approx(want[(r["sub"], r["code"], r["pos"])], abs=2e-6)

    C = np.zeros((m, ksub, dsub))
    for r in cb_rows:
        C[r["sub"], r["code"], r["pos"] - r["sub"] * dsub] = r["mean"]

    codes = {(r["id"], r["sub"]): r["code"] for r in S.pq_encode(e, cb_df).collect()}
    for vid, x in X.items():
        for sub in range(m):
            xs = x[sub * dsub : (sub + 1) * dsub]
            d = np.round(((C[sub] - xs[None, :]) ** 2).sum(axis=1), 6)
            best = int(np.lexsort((np.arange(ksub), d))[0])
            assert codes[(vid, sub)] == best, (vid, sub)

    got = S.pq_adc_topk(e, list(range(10)), k=10, codebooks=cb_df, m=m).collect()
    luts = {}
    for qid in range(10):
        q = X[qid]
        luts[qid] = np.array(
            [((C[s] - q[s * dsub : (s + 1) * dsub][None, :]) ** 2).sum(axis=1) for s in range(m)]
        )
    overlaps = []
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
        want_d = sum(
            luts[r["query_id"]][s, codes[(r["neighbor_id"], s)]] for s in range(m)
        )
        assert r["approx_l2sq"] == pytest.approx(round(want_d, 6), abs=2e-6)
    for qid, rows in by_q.items():
        assert len(rows) == 10
        approx_ids = {r["neighbor_id"] for r in rows}
        q = X[qid]
        exact = sorted(
            (vid for vid in X if vid != qid),
            key=lambda v: (round(float(((X[v] - q) ** 2).sum()), 6), v),
        )[:10]
        overlaps.append(len(approx_ids & set(exact)) / 10)
    assert sum(overlaps) / len(overlaps) >= 0.2, overlaps


def test_rp_projection_preserves_duplicates_and_bounds_distortion(spark):
    """JL random projection: (1) the md5 sign matrix is deterministic
    ±1; (2) an exact duplicate pair keeps cosine == 1 under ANY linear
    map and stays top-1 in projected space; (3) on the real corpus the
    mean |projected cos − exact cos| over sampled pairs sits inside the
    JL distortion band for 16 dims (deterministic data + matrix, so the
    bound is a fixed regression number, not a flaky statistic).

    Top-k RECALL is deliberately not asserted: the synthetic embedding
    corpus is near-isotropic noise (exact top-1 cosines ~0.33-0.43), so
    neighbor identity under any dim reduction is noise-dominated — the
    catalog entry verifies mechanics, duplicates, and distortion."""
    import hashlib

    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import similarity as S
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    signs = S.rp_signs(8, 4)
    assert signs == S.rp_signs(8, 4)
    assert all(v in (1.0, -1.0) for row in signs for v in row)
    assert signs[0][0] == (
        1.0 if int(hashlib.md5(b"rp-0-0").hexdigest()[0], 16) % 2 == 0 else -1.0
    )

    # constructed: query 0 and vec 1 are identical; 2..9 random-ish
    base = [float((i * 37 + j * 13) % 11 - 5) for j in range(16) for i in [0]]
    rows = [(0, base), (1, list(base))] + [
        (i, [float((i * 31 + j * 7) % 13 - 6) for j in range(16)])
        for i in range(2, 10)
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    proj = S.rp_project(df, out_dim=6)
    top = S.cosine_topk(proj, [0], k=1, vec_col="pvec").collect()
    assert top[0].neighbor_id == 1
    assert abs(top[0].cos_sim - 1.0) < 1e-9

    # real corpus: distortion of cosine for queries 0..4 vs all, 16 dims
    e = load_table(spark, SF_SMOKE, "embeddings")
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in S.cosine_topk(e, [0, 1, 2, 3, 4], k=50).collect()
    }
    p = S.rp_project(e, out_dim=16)
    rp = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in S.cosine_topk(p, [0, 1, 2, 3, 4], k=50, vec_col="pvec").collect()
    }
    common = set(exact) & set(rp)
    assert len(common) > 50
    mad = sum(abs(exact[k] - rp[k]) for k in common) / len(common)
    assert mad < 0.30, mad  # JL band for 16 dims; fixed regression number


def test_pca_components_invariants_and_optimality(spark):
    """PCA over the real corpus: components orthonormal, explained
    variances eigenvalue-descending and matching the empirical
    variance of each projected coordinate, captured variance at least
    that of the (normalized) JL sign basis at the same dim — PCA's
    defining optimality — and fully deterministic across runs."""
    import numpy as np

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import similarity as S
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    e = load_table(spark, SF_SMOKE, "embeddings")
    mu, comps, evs = S.pca_components(e, out_dim=8)
    mu2, comps2, evs2 = S.pca_components(e, out_dim=8)
    assert (mu, comps, evs) == (mu2, comps2, evs2)  # deterministic
    C = np.array(comps)
    assert np.allclose(C @ C.T, np.eye(8), atol=1e-9)  # orthonormal
    assert all(a >= b - 1e-12 for a, b in zip(evs, evs[1:]))  # sorted desc
    # empirical check against the raw data
    X = np.array([r.embedding for r in e.select("embedding").collect()], dtype=np.float64)
    Xc = X - np.array(mu)
    proj_var = (Xc @ C.T).var(axis=0)
    assert np.allclose(proj_var, np.array(evs), rtol=1e-6)
    # optimality vs the JL sign basis (normalized to unit vectors)
    signs = np.array(S.rp_signs(X.shape[1], 8))
    U = signs / np.linalg.norm(signs, axis=1, keepdims=True)
    jl_var = (Xc @ U.T).var(axis=0).sum()
    assert sum(evs) >= jl_var - 1e-9
    # projected pvec matches the numpy projection
    p = {r.vec_id: r.pvec for r in S.pca_project(e, out_dim=8).collect()}
    ids = [r.vec_id for r in e.select("vec_id").collect()]
    P = np.array([p[i] for i in ids])
    assert np.allclose(P, (X - np.array(mu)) @ C.T, atol=1e-9)


def test_pca_components_match_pinned_artifact(spark):
    """The PCA basis is fully deterministic (bounded-partial covariance
    reduced in fixed order, numpy eigh, largest-|entry|-positive sign
    fix) — the (mean, components, variances) for the catalog config
    (out_dim=16 at sf0.001) is pinned as a committed artifact. This is
    the correctness evidence for the emb_pca_topk rows-only entry: the
    basis it searches over cannot drift without this test catching it
    (6-decimal tolerance absorbs BLAS ulp noise only)."""
    import json
    import os

    import pytest

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import similarity as S
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    e = load_table(spark, SF_SMOKE, "embeddings")
    mu, comps, evs = S.pca_components(e, out_dim=16)
    with open(
        os.path.join(os.path.dirname(__file__), "data", "pca_components_sf0001.json")
    ) as fh:
        want = json.load(fh)
    assert mu == pytest.approx(want["mean"], abs=2e-6)
    assert evs == pytest.approx(want["explained_variance"], abs=2e-6)
    assert len(comps) == len(want["components"])
    for g, w in zip(comps, want["components"]):
        assert g == pytest.approx(w, abs=2e-6)


def test_lossy_tiers_recover_recall_on_planted_clusters(spark):
    """The lossy tiers' recall contract, demonstrated in-repo: on a
    corpus with REAL cluster structure (md5-seeded planted centroids
    + bounded noise — the regime the published PQ/RP recall numbers
    assume), PQ-ADC and RP-16 must recover near-perfect recall@5
    against the exact scan. This is the counterpart to ANN_REPORT.md's
    isotropic table, where the same tiers sit at 0.02-0.04 because
    noise-dominated rank gaps are unpreservable by construction — the
    pair of results shows the collapse is a property of structureless
    data, not of the implementations. Fully deterministic: corpus,
    codebooks, sign matrix, and tie-breaks all md5- or id-seeded."""
    from tools.ann_report import planted_corpus

    e = planted_corpus(
        spark, n_clusters=8, per_cluster=6, dim=64, spread=10.0, noise=0.5
    ).localCheckpoint(eager=True)
    qids = [c * 6 for c in range(8)]
    k = 5

    def topsets(rows):
        got = {}
        for r in rows:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return got

    exact = topsets(S.cosine_topk(e, qids, k=k).collect())
    # ground truth sanity: each query's exact top-5 IS its cluster
    # (per-cluster size 6, inter-centroid gap >> noise diameter)
    for c in range(8):
        assert exact[c * 6] == {c * 6 + j for j in range(1, 6)}

    def recall(rows):
        got = topsets(rows)
        return sum(len(exact[q] & got.get(q, set())) for q in exact) / (len(qids) * k)

    r_pq_label = recall(S.pq_adc_topk(e, qids, k=k).collect())
    r_pq_kmeans = recall(
        S.pq_adc_topk(
            e, qids, k=k, codebooks=S.pq_codebooks_kmeans(e, m=8, ksub=16, iters=3)
        ).collect()
    )
    r_rp = recall(
        S.cosine_topk(S.rp_project(e, out_dim=16), qids, k=k, vec_col="pvec").collect()
    )
    # measured 1.00 / 1.00 / 1.00 (ANN_REPORT.md planted table); the
    # floor leaves headroom for cross-version float drift only
    assert r_pq_label >= 0.9, f"PQ-ADC label recall collapsed: {r_pq_label}"
    assert r_pq_kmeans >= 0.9, f"PQ-ADC kmeans recall collapsed: {r_pq_kmeans}"
    assert r_rp >= 0.9, f"RP-16 recall collapsed: {r_rp}"


def test_pq_rerank_dominates_raw_adc_on_planted_clusters(spark):
    """The refine step's contract: on the planted-cluster corpus,
    two-stage retrieve-rerank must (1) reach recall@5 at least as high
    as the raw ADC scan it refines — the exact re-scoring can only fix
    shortlist-internal ordering, never lose a true neighbor the
    shortlist contains — and (2) rank every surviving pair by EXACT
    cosine, observably re-ordering whenever the compressed scan's
    ordering disagrees (adc_rank is exposed for exactly this check)."""
    from tools.ann_report import planted_corpus

    e = planted_corpus(
        spark, n_clusters=8, per_cluster=6, dim=64, spread=10.0, noise=0.5
    ).localCheckpoint(eager=True)
    qids = [c * 6 for c in range(8)]
    k = 5

    def topsets(rows):
        got = {}
        for r in rows:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return got

    exact = topsets(S.cosine_topk(e, qids, k=k).collect())

    def recall(rows):
        got = topsets(rows)
        return sum(len(exact[q] & got.get(q, set())) for q in exact) / (len(qids) * k)

    raw = S.pq_adc_topk(e, qids, k=k).collect()
    rer = S.pq_rerank_topk(e, qids, k=k, shortlist=2 * k).collect()
    r_raw, r_rer = recall(raw), recall(rer)
    assert r_rer >= r_raw, f"rerank lost recall: {r_rer} < {r_raw}"
    assert r_rer >= 0.9, f"rerank recall collapsed: {r_rer}"
    # final ordering is the exact-cosine ordering (ties id-broken)
    by_q = {}
    for r in rer:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        key = [(-r.cos_sim, r.neighbor_id) for r in rows]
        assert key == sorted(key), f"query {q} not exact-cosine ordered"


def test_ivfpq_recall_on_planted_clusters_and_cell_restriction(spark):
    """IVF+PQ contract on the planted-cluster corpus: (1) recall@5
    stays near-perfect (clusters are exactly what cells capture, and
    PQ distortion is benign at planted separation); (2) every
    returned neighbor's top-1 cell really is among its query's nprobe
    probed cells — the restriction is enforced, not decorative."""
    from tools.ann_report import planted_corpus

    e = planted_corpus(
        spark, n_clusters=8, per_cluster=6, dim=64, spread=10.0, noise=0.5
    ).localCheckpoint(eager=True)
    qids = [c * 6 for c in range(8)]
    k, nprobe = 5, 3

    def topsets(rows):
        got = {}
        for r in rows:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return got

    exact = topsets(S.cosine_topk(e, qids, k=k).collect())
    got_rows = S.ivfpq_topk(e, qids, k=k, nprobe=nprobe).collect()
    got = topsets(got_rows)
    recall = sum(len(exact[q] & got.get(q, set())) for q in exact) / (
        len(qids) * k
    )
    assert recall >= 0.9, f"IVF+PQ recall collapsed: {recall}"

    scores = S.centroid_scores(
        e, "vec_id", "label", "embedding", max_rank=nprobe, branching=True
    )
    top1 = {
        r.cs_id: r.clabel
        for r in scores.filter(F.col("cell_rank") == 1).collect()
    }
    probed = {}
    for r in scores.filter(F.col("cell_rank") <= nprobe).collect():
        probed.setdefault(r.cs_id, set()).add(r.clabel)
    for r in got_rows:
        assert top1[r.neighbor_id] in probed[r.query_id], (
            r.query_id,
            r.neighbor_id,
        )


def _py_pagerank(edges, node_ids, iterations=3, scale=10**12, damping=85):
    """Pure-Python replica of pagerank_on_edges' integer recurrence —
    the hand-computable spec the distributed plan must match EXACTLY
    (not approximately: every op is integer, so equality is bitwise)."""
    n = len(node_ids)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = {v: scale // n for v in node_ids}
    base = (100 - damping) * (scale // n)
    for _ in range(iterations):
        contrib = {v: 0 for v in node_ids}
        for s, d in edges:
            contrib[d] += r[s] // outdeg[s]
        dang = sum(r[v] for v in node_ids if v not in outdeg)
        r = {
            v: (base + damping * (contrib[v] + dang // n)) // 100
            for v in node_ids
        }
    return r


def test_pagerank_matches_integer_spec_on_hand_graph(spark):
    """pagerank_on_edges on a constructed 5-node graph (hub, chain,
    dangling node) equals the pure-Python integer recurrence EXACTLY —
    scaled-BIGINT arithmetic means the distributed result is bitwise
    reproducible, dangling mass and all."""
    edges = [(1, 2), (1, 3), (2, 3), (4, 3), (3, 1)]
    node_ids = [1, 2, 3, 4, 5]  # 5 is isolated AND dangling
    e = spark.createDataFrame(edges, "src long, dst long")
    nd = spark.createDataFrame([(v,) for v in node_ids], "id long")
    got = {r.id: r.rank_e12 for r in S.pagerank_on_edges(e, nd, iterations=3).collect()}
    want = _py_pagerank(edges, node_ids, iterations=3)
    assert got == want
    # the hub target (3: in-degree 3) must outrank the isolated node
    assert got[3] > got[5]


def test_knn_pagerank_mass_and_shape_invariants(spark):
    """Corpus run at the smoke SF: one rank per vector, every rank
    positive, and total mass within the documented floor-division decay
    bound (< N·100 lost per iteration from a 1e12 budget, plus the
    initial scale//N remainder)."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    n = e.count()
    rows = S.knn_pagerank(e, k=3, iterations=3).collect()
    assert len(rows) == n
    assert all(r.rank_e12 > 0 for r in rows)
    total = sum(r.rank_e12 for r in rows)
    scale = 10**12
    # initial remainder n·(scale mod n) ≤ n², then < (n+1)·100 per
    # iteration of floor losses (n contribution divisions + the
    # dangling-mass division + the final //100 per node)
    floor_loss_bound = n * n + 3 * (100 * (n + 1) + n * 100)
    assert total <= scale
    assert total >= scale - floor_loss_bound, (total, scale - floor_loss_bound)
    # round-9 readout is derived from the exact integer rank
    for r in rows[:50]:
        assert abs(r.rank_score - r.rank_e12 / 1e12) < 1e-9


def test_knn_pagerank_trajectory_matches_edge_level_replay(spark):
    """The catalog entry's ranks equal the pure-Python recurrence
    replayed over the ACTUAL knn_graph edge list — pins that the
    composed operator wires knn_graph's (src→neighbor) orientation and
    the corpus node set into the iteration unchanged."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    edges = [
        (r.src_id, r.neighbor_id)
        for r in S.knn_graph(e, k=3).select("src_id", "neighbor_id").collect()
    ]
    node_ids = [r.vec_id for r in e.select("vec_id").collect()]
    want = _py_pagerank(edges, node_ids, iterations=3)
    got = {r.vec_id: r.rank_e12 for r in S.knn_pagerank(e, k=3, iterations=3).collect()}
    assert got == want


def test_semantic_decontaminate_flags_planted_leak(spark):
    """A train vector that IS an eval vector (byte-identical embedding,
    different id) must be flagged with sim 1.0 against that eval id —
    the no-false-negative contract at its sharpest point; and eval
    rows themselves never appear in the output manifest."""
    rows = [
        (0, [1.0, 0.0, 0.0]),   # eval (0 % 97 == 0)
        (97, [0.0, 1.0, 0.0]),  # eval
        (1, [1.0, 0.0, 0.0]),   # train: exact copy of eval 0
        (2, [0.0, 0.0, 1.0]),   # train: orthogonal to both evals
        (3, [0.6, 0.8, 0.0]),   # train: mixed
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: r
        for r in S.semantic_decontaminate(
            e, F.col("vec_id") % 97 == 0, threshold=0.95
        ).collect()
    }
    assert set(out) == {1, 2, 3}  # eval ids 0, 97 excluded
    assert out[1].contaminated and out[1].max_eval_sim == 1.0
    assert out[1].nearest_eval_id == 0
    assert not out[2].contaminated and out[2].max_eval_sim == 0.0
    # mixed vector: cos to eval0 = 0.6, to eval97 = 0.8 -> argmax 97
    assert out[3].nearest_eval_id == 97
    assert out[3].max_eval_sim == 0.8
    assert not out[3].contaminated


def test_semantic_decontaminate_exact_vs_bruteforce(spark):
    """On the real corpus the manifest's (nearest_eval_id,
    max_eval_sim) must equal a per-row brute-force over ALL eval
    vectors (numpy, same round-6) — the operator scores every
    train×eval pair, so there is no approximation to excuse a miss."""
    import numpy as np

    e = load_table(spark, SF_SMOKE, "embeddings")
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in e.select("vec_id", "embedding").collect()
    }
    evals = {i: v for i, v in vecs.items() if i % 97 == 0}
    out = S.semantic_decontaminate(
        e, F.col("vec_id") % 97 == 0, threshold=0.4
    ).collect()
    assert len(out) == len(vecs) - len(evals)
    flagged = 0
    for r in out:
        t = vecs[r.vec_id]
        best = max(
            (
                _round_half_up(
                    float(t @ ev) / (np.linalg.norm(t) * np.linalg.norm(ev)), 6
                ),
                -i,
            )
            for i, ev in evals.items()
        )
        assert (r.max_eval_sim, r.nearest_eval_id) == (best[0], -best[1]), r
        assert r.contaminated == (r.max_eval_sim >= 0.4)
        flagged += int(r.contaminated)
    assert flagged > 0  # threshold calibrated to be non-degenerate here


def test_centrality_weighted_sample_matches_python_replay(spark):
    """The centrality-weighted A-Res selection equals a pure-Python
    replay over the collected PageRank ranks (hashlib md5 uniforms,
    the same -ln(u)/w key rounded to 9 dp, id tie-break) — the
    exponential race is RNG-state-free, so the winner set is fully
    determined by (ranks, ids)."""
    import hashlib
    import math

    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG

    ranks = {
        r.vec_id: r.rank_e12
        for r in CATALOG["emb_knn_pagerank"].builder(spark, SF_SMOKE).collect()
    }

    def key(vid):
        u = int(hashlib.md5(str(vid).encode()).hexdigest()[:12], 16) / 281474976710656
        return (_round_half_up(-math.log(u) / (ranks[vid] / 1e12), 9), vid)

    want = sorted(ranks, key=key)[:50]
    got = [
        (r.vec_id, r.es_key)
        for r in CATALOG["emb_centrality_weighted_sample"]
        .builder(spark, SF_SMOKE)
        .collect()
    ]
    assert [v for v, _ in got] == want
    for vid, k in got:
        assert k == key(vid)[0]


def test_hard_negatives_exclude_dup_band_and_fill_topk(spark):
    """Hard-negative invariants: every mined pair scores BELOW the dup
    ceiling with the exact brute-force cosine; no mined pair appears in
    the unfiltered knn graph's at-or-above-ceiling edges; and every
    anchor with >= k sub-ceiling cell-mates receives a FULL k (the
    filter-before-window contract — filtering a truncated top-k would
    under-fill)."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG

    ceiling = 0.4
    e = load_table(spark, SF_SMOKE, "embeddings")
    mined = CATALOG["emb_hard_negatives"].builder(spark, SF_SMOKE).collect()
    assert mined
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in S.cosine_topk(e, QUERY_IDS, k=500).collect()
    }
    for r in mined:
        assert r.cos_sim < ceiling
        if (r.src_id, r.neighbor_id) in exact:
            assert exact[(r.src_id, r.neighbor_id)] == r.cos_sim
    # dup-band edges (unfiltered graph at the same k) never leak in
    dup_edges = {
        (g.src_id, g.neighbor_id)
        for g in S.knn_graph(e, k=3).collect()
        if g.cos_sim >= ceiling
    }
    mined_pairs = {(r.src_id, r.neighbor_id) for r in mined}
    assert not (mined_pairs & dup_edges)
    # full-k fill: count sub-ceiling candidates per anchor from the
    # unbounded graph (k = corpus size upper-bounds cell size)
    n = e.count()
    full = S.knn_graph(e, k=n, max_sim=ceiling).collect()
    avail = {}
    for g in full:
        avail[g.src_id] = avail.get(g.src_id, 0) + 1
    got = {}
    for r in mined:
        got[r.src_id] = got.get(r.src_id, 0) + 1
    for src, n_avail in avail.items():
        assert got.get(src, 0) == min(3, n_avail), (src, n_avail)


def _py_wpagerank(wedges, node_ids, iterations=3, scale=10**12, damping=85):
    """Weighted-variant replica: per-edge share (R(u)·w) // W(u)."""
    n = len(node_ids)
    wsum = {}
    for s, _, w in wedges:
        wsum[s] = wsum.get(s, 0) + w
    r = {v: scale // n for v in node_ids}
    base = (100 - damping) * (scale // n)
    for _ in range(iterations):
        contrib = {v: 0 for v in node_ids}
        for s, d, w in wedges:
            contrib[d] += (r[s] * w) // wsum[s]
        dang = sum(r[v] for v in node_ids if v not in wsum)
        r = {
            v: (base + damping * (contrib[v] + dang // n)) // 100
            for v in node_ids
        }
    return r


def test_weighted_pagerank_matches_integer_spec(spark):
    """Weighted pagerank_on_edges on a constructed graph equals the
    pure-Python weighted recurrence EXACTLY, and a heavier edge pulls
    strictly more rank than a lighter one from the same source."""
    wedges = [(1, 2, 900000), (1, 3, 100000), (4, 2, 500000), (2, 1, 700000)]
    node_ids = [1, 2, 3, 4, 5]
    e = spark.createDataFrame(wedges, "src long, dst long, w6 long")
    nd = spark.createDataFrame([(v,) for v in node_ids], "id long")
    got = {
        r.id: r.rank_e12
        for r in S.pagerank_on_edges(e, nd, iterations=3, weight_col="w6").collect()
    }
    want = _py_wpagerank(wedges, node_ids, iterations=3)
    assert got == want
    # node 2 receives 1's mass at weight 9e5 vs node 3 at 1e5
    assert got[2] > got[3]


def test_weighted_knn_pagerank_matches_edge_replay(spark):
    """The weighted catalog entry equals the weighted recurrence
    replayed over knn_graph's actual edges with w6 = round(cos·1e6)
    clamped positive — pinning the weight construction and clamp."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG

    e = load_table(spark, SF_SMOKE, "embeddings")
    wedges = []
    for g in S.knn_graph(e, k=3).collect():
        w6 = int(_round_half_up(g.cos_sim * 1000000, 0))
        if w6 > 0:
            wedges.append((g.src_id, g.neighbor_id, w6))
    node_ids = [r.vec_id for r in e.select("vec_id").collect()]
    want = _py_wpagerank(wedges, node_ids, iterations=3)
    got = {
        r.vec_id: r.rank_e12
        for r in CATALOG["emb_knn_pagerank_weighted"].builder(spark, SF_SMOKE).collect()
    }
    assert got == want
    # the weighting actually changes the answer vs the uniform variant
    uniform = {
        r.vec_id: r.rank_e12
        for r in CATALOG["emb_knn_pagerank"].builder(spark, SF_SMOKE).collect()
    }
    assert got != uniform


def test_curation_manifest_consistent_with_components(spark):
    """The cross-plane manifest must equal its three component
    queries' outputs joined in Python on the shared id — field by
    field, including the derived selection bit — and cover exactly
    the train vectors (eval rows excluded)."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG

    sd = {
        r.vec_id: (r.keep, r.cluster_size)
        for r in CATALOG["emb_semdedup"].builder(spark, SF_SMOKE).collect()
    }
    pr = {
        r.vec_id: r.rank_e12
        for r in CATALOG["emb_knn_pagerank"].builder(spark, SF_SMOKE).collect()
    }
    dec = {
        r.vec_id: (r.max_eval_sim, r.contaminated)
        for r in CATALOG["emb_semantic_decontaminate"].builder(spark, SF_SMOKE).collect()
    }
    lang = {
        r.doc_id: r.lang
        for r in load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang").collect()
    }
    rows = CATALOG["emb_curation_manifest"].builder(spark, SF_SMOKE).collect()
    assert {r.vec_id for r in rows} == set(dec)  # train vectors exactly
    n_selected = 0
    for r in rows:
        assert r.lang == lang[r.vec_id]
        assert (r.semantic_keep, r.cluster_size) == sd[r.vec_id]
        assert r.rank_e12 == pr[r.vec_id]
        assert (r.max_eval_sim, r.contaminated) == dec[r.vec_id]
        assert r.selected == (r.semantic_keep and not r.contaminated)
        n_selected += int(r.selected)
    # the manifest actually decides something: some rows drop
    assert 0 < n_selected < len(rows)


def test_contrastive_triplets_invariants(spark):
    """Triplet invariants on the real corpus: positives clear the dup
    band, negatives sit below it, the margin is their round-6 gap and
    is positive, the negative is the HARDEST one (equals the mined
    hard-negative rank-1 for that anchor), and anchors lacking a
    band-clearing positive never emit a triplet."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG

    rows = CATALOG["emb_contrastive_triplets"].builder(spark, SF_SMOKE).collect()
    assert rows, "fixture corpus has no near-dup anchors"
    hard1 = {
        r.src_id: (r.neighbor_id, r.cos_sim)
        for r in CATALOG["emb_hard_negatives"].builder(spark, SF_SMOKE).collect()
        if r.rank == 1
    }
    top1 = {
        r.src_id: r.cos_sim
        for r in S.knn_graph(load_table(spark, SF_SMOKE, "embeddings"), k=1).collect()
    }
    for r in rows:
        assert r.pos_sim >= 0.4 > r.neg_sim
        assert r.margin == _round_half_up(r.pos_sim - r.neg_sim, 6)
        assert r.margin > 0
        assert (r.negative_id, r.neg_sim) == hard1[r.anchor_id]
    emitted = {r.anchor_id for r in rows}
    for src, sim in top1.items():
        if sim < 0.4:  # no band-clearing positive for this anchor
            assert src not in emitted


def test_knn_label_consensus_matches_edge_replay(spark):
    """The consensus audit must be a pure function of the knn_graph
    edge set: replaying majority-vote (votes desc, label asc
    tie-break), neighbor counts, and the decimal-addend mean sim over
    the collected edges in Python reproduces every output row; the
    audited population is exactly the set of edge sources; vote counts
    are bounded by k=3; and on this label-clustered corpus the
    consensus agrees with the own label for most vectors."""
    from collections import Counter, defaultdict
    from decimal import Decimal

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import similarity as S
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    e = load_table(spark, SF_SMOKE, "embeddings")
    labels = {r.vec_id: r.label for r in e.select("vec_id", "label").collect()}
    edges = S.knn_graph(e, k=3).collect()
    by_src = defaultdict(list)
    for r in edges:
        by_src[r.src_id].append((labels[r.neighbor_id], Decimal(str(r.cos_sim))))

    got = {
        r.vec_id: (
            r.own_label,
            r.consensus_label,
            r.consensus_votes,
            r.n_neighbors,
            r.mean_neighbor_sim,
            r.label_agrees,
        )
        for r in CATALOG["emb_knn_label_consensus"].builder(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(by_src)
    agree = 0
    for src, nbrs in by_src.items():
        counts = Counter(lbl for lbl, _ in nbrs)
        consensus, votes = sorted(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )[0]
        mean_sim = round(float(sum(s for _, s in nbrs) / len(nbrs)), 6)
        expect = (
            labels[src],
            consensus,
            votes,
            len(nbrs),
            mean_sim,
            consensus == labels[src],
        )
        assert got[src] == expect, (src, got[src], expect)
        assert 1 <= votes <= len(nbrs) <= 3
        agree += expect[5]
    # non-degeneracy: the audit must actually separate the corpus —
    # both agreements and mislabel candidates present (at sf0.001 the
    # label clusters are weak, so no majority-share assumption)
    assert 0 < agree < len(by_src)


def test_margin_bitext_mining_semantics(spark):
    """Margin-mining invariants on a constructed two-sided space: a
    planted identical cross-side pair is mutual and mined; every
    source appears exactly once (forward-best grain); mined implies
    mutual AND threshold; and the hubness cancellation is real — a
    target equally close to every source (the hub) must NOT out-margin
    the planted pair for the planted source."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.similarity import margin_bitext_mine

    rows = [
        # sources (even ids)
        (0, [1.0, 0.0, 0.0, 0.0]),   # planted source
        (2, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
        (6, [0.6, 0.6, 0.1, 0.0]),
        # targets (odd ids)
        (1, [1.0, 0.0, 0.0, 0.0]),   # planted translation of 0
        (3, [0.0, 0.9, 0.1, 0.0]),
        (5, [0.5, 0.5, 0.5, 0.5]),   # hub: moderately close to everyone
        (7, [0.0, 0.1, 0.9, 0.0]),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    out = {r.src_id: r for r in margin_bitext_mine(
        df, F.col("vec_id") % 2 == 1, k=2
    ).collect()}
    assert sorted(out) == [0, 2, 4, 6]  # one row per source
    planted = out[0]
    assert planted.tgt_id == 1 and planted.cos_sim == 1.0
    assert planted.mutual and planted.mined
    for r in out.values():
        assert (not r.mined) or (r.mutual and r.margin >= 1.05)


def test_margin_bitext_mine_matches_numpy_reference(spark):
    """The whole margin-mining chain replayed in numpy on random
    vectors: round-6 cosines, each side's top-k neighborhood mean
    over the (sim desc, id asc) selection, the ratio margin, the
    forward-best per source with (margin desc, id asc) ties, the
    mutual-best flag, and the 1.05 gate — every output row must match
    exactly. Random-but-seeded so failures replay."""
    import numpy as np

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.similarity import margin_bitext_mine

    rng = np.random.default_rng(42)
    n, dim, k = 14, 6, 3
    vecs = rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.src_id: r
        for r in margin_bitext_mine(
            df, F.col("vec_id") % 2 == 1, k=k, margin_threshold=1.05
        ).collect()
    }

    # numpy replay — float32 ingest first, like the Arrow column
    v32 = vecs.astype("float32").astype("float64")
    src_ids = [i for i in range(n) if i % 2 == 0]
    tgt_ids = [i for i in range(n) if i % 2 == 1]
    sim = {}
    for s in src_ids:
        for t in tgt_ids:
            c = float(
                np.dot(v32[s], v32[t])
                / (np.linalg.norm(v32[s]) * np.linalg.norm(v32[t]))
            )
            sim[(s, t)] = round(c, 6)

    def topk_mean(ids, other, key):
        out = {}
        for i in ids:
            cands = sorted(other, key=lambda o: (-sim[key(i, o)], o))[:k]
            out[i] = sum(sim[key(i, o)] for o in cands) / len(cands)
        return out

    ax = topk_mean(src_ids, tgt_ids, lambda s, t: (s, t))
    ay = topk_mean(tgt_ids, src_ids, lambda t, s: (s, t))
    margin = {
        (s, t): round(sim[(s, t)] * 2 / (ax[s] + ay[t]), 6)
        for s in src_ids
        for t in tgt_ids
    }
    fwd = {
        s: sorted(tgt_ids, key=lambda t: (-margin[(s, t)], t))[0] for s in src_ids
    }
    rev = {
        t: sorted(src_ids, key=lambda s: (-margin[(s, t)], s))[0] for t in tgt_ids
    }
    assert set(got) == set(src_ids)
    for s in src_ids:
        r = got[s]
        t = fwd[s]
        assert r.tgt_id == t, (s, r.tgt_id, t)
        assert r.cos_sim == sim[(s, t)]
        assert r.margin == margin[(s, t)]
        mutual = rev[t] == s
        assert r.mutual == mutual
        assert r.mined == (mutual and margin[(s, t)] >= 1.05)


def test_margin_bitext_ivf_recall_floor_and_confinement(spark):
    """IVF tier contract: every mined pair is real output of the same
    margin pipeline (columns and gates identical to the exact tier),
    sources never duplicate, and the mined-pair recall vs the exact
    tier clears the floor the entry documents (deterministic quantizer
    → deterministic recall; measured 0.78 at sf0.001, 0.81/0.75 at
    sf0.01/0.1 with k=8, nprobe=4)."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from tests.conftest import SF_SMOKE

    exact = {
        (r.src_id, r.tgt_id)
        for r in CATALOG["emb_bitext_margin_mine"].builder(spark, SF_SMOKE).collect()
        if r.mined
    }
    rows = CATALOG["emb_bitext_margin_mine_ivf"].builder(spark, SF_SMOKE).collect()
    srcs = [r.src_id for r in rows]
    assert len(srcs) == len(set(srcs))
    for r in rows:
        assert r.src_id % 2 == 0 and r.tgt_id % 2 == 1
        assert (not r.mined) or (r.mutual and r.margin >= 1.05)
    mined = {(r.src_id, r.tgt_id) for r in rows if r.mined}
    recall = len(exact & mined) / len(exact)
    assert recall >= 0.65, recall


def test_bitext_nprobe_election_pinned_to_calibration():
    """The production IVF bitext entry's probe count is the
    CALIBRATION.md ladder ELECTION (smallest nprobe clearing the 0.7
    recall target at every measured SF), shipped as
    plans.similarity2.BITEXT_NPROBE_ELECTED — this guard fails if a
    recalibration changes the election without the constant (or vice
    versa), forcing the two to move in the same commit."""
    import os
    import re

    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import similarity2 as S2

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "CALIBRATION.md",
    )
    with open(path) as fh:
        text = fh.read()
    m = re.search(r"Election at target recall[^\n]*", text)
    assert m, "CALIBRATION.md lost the bitext nprobe election line"
    picks = {int(n) for n in re.findall(r"nprobe=(\d+)", m.group(0))}
    assert picks == {S2.BITEXT_NPROBE_ELECTED}, (
        picks,
        S2.BITEXT_NPROBE_ELECTED,
    )


def test_mmr_rerank_defers_near_duplicates(spark):
    """Planted MMR semantics: rank 1 is the pure-relevance top hit
    (lowest id on ties); an exact duplicate of it — which pure top-k
    would rank next — is DEFERRED below a slightly-less-relevant but
    diverse candidate (max-sim penalty at work); with lam=1.0 the MMR
    order degrades to the relevance order, duplicate first."""
    # NOTE: no candidate may equal the QUERY vector — for a candidate
    # c identical to q, sim(c, other) == rel(other) for every other,
    # so the penalty scales all scores by the same factor and the
    # greedy degenerates to relevance order (the first draft of this
    # fixture planted exactly that and proved nothing).
    rows = [
        (0, [1.0, 0.0, 0.0]),          # the query
        (10, [0.8, 0.6, 0.0]),         # rel 0.8 (unit norm)
        (11, [0.8, 0.6, 0.0]),         # exact duplicate of 10
        (12, [0.79, 0.0, 0.6131]),     # rel ~0.79, sim to 10 ~0.632
        (13, [0.0, 0.0, 1.0]),         # rel 0.0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.mmr_rerank(df, [0], k=3, pool=4, lam=0.7, omlam=0.3).collect()
    assert [r.vec_id for r in out] == [10, 12, 11]
    assert [r.rank for r in out] == [1, 2, 3]
    assert out[0].relevance == 0.8
    # rank 1 score = lam * rel - omlam * 0.0 (decimal-exact)
    assert out[0].mmr_score == 0.56
    # the duplicate's eventual score carries the full sim=1.0 penalty:
    # 0.7*0.8 - 0.3*1.0 = 0.26
    assert out[2].mmr_score == 0.26
    # the diverse pick beats the duplicate at step 2
    assert out[1].mmr_score > 0.26

    # lam=1.0 / omlam=0.0: pure relevance order, duplicate second
    pure = S.mmr_rerank(df, [0], k=3, pool=4, lam=1.0, omlam=0.0).collect()
    assert [r.vec_id for r in pure] == [10, 11, 12]


def test_mmr_rerank_single_candidate_survives(spark):
    """A query whose filtered pool holds ONE candidate still returns
    its rank-1 row (the pairwise frame is a LEFT join: no pairs, empty
    sim table, penalty 0) — the degenerate corpus a production filter
    can produce must not silently drop the query."""
    rows = [(0, [1.0, 0.0]), (10, [0.5, 0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.mmr_rerank(df, [0], k=5, pool=20, lam=0.7, omlam=0.3).collect()
    assert len(out) == 1
    assert out[0].vec_id == 10 and out[0].rank == 1


def test_triangle_stats_planted_graph(spark):
    """Triangle operator contract on a planted 4-node graph (one
    triangle 1-2-3 plus pendant 3-4, fed DIRECTED and with a duplicate
    reverse edge to prove symmetrization): per-node degrees, triangle
    counts, exact clustering coefficients, and the NULL-below-degree-2
    contract."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (3, 1)],  # (3,1) dups (1,3)
        "src_id long, neighbor_id long",
    )
    rows = {r.id: r for r in S.triangle_stats(edges).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert (rows[1].degree, rows[1].n_triangles, rows[1].clustering) == (2, 1, 1.0)
    assert (rows[2].degree, rows[2].n_triangles, rows[2].clustering) == (2, 1, 1.0)
    assert rows[3].degree == 3 and rows[3].n_triangles == 1
    assert rows[3].clustering == 0.333333
    assert rows[4].degree == 1 and rows[4].n_triangles == 0
    assert rows[4].clustering is None


def test_retrieval_eval_planted_metrics(spark):
    """Metric math pinned on a constructed corpus with a known
    ranking: relevant hits at ranks 1 and 3 of 5 give exact
    precision/MRR/DCG/nDCG values; a query whose label has zero
    relevant corpus rows reports mrr 0 and NULL nDCG (the
    element_at(…, 0) guard), never a crash or a wrong 0."""
    rows = [
        (0, [1.0, 0.0], 7),    # query: label 7
        (1, [0.0, 1.0], 9),    # query: label 9 — absent from corpus
        (10, [2.0, 0.0], 7),   # cos 1.0      rel    -> rank 1
        (11, [1.0, 0.5], 3),   # cos 0.894427        -> rank 2
        (12, [1.0, 1.0], 7),   # cos 0.707107 rel    -> rank 3
        (13, [0.0, 1.0], 3),   # cos 0.0             -> rank 4
        (14, [-1.0, 0.0], 3),  # cos -1.0            -> rank 5
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {r.query_id: r for r in S.retrieval_eval_report(df, [0, 1], k=5).collect()}
    q0 = out[0]
    assert (q0.n_relevant, q0.hits_at_5) == (2, 2)
    assert q0.precision_at_5 == 0.4
    assert q0.mrr == 1.0
    # DCG = 1/log2(2) + 1/log2(4) = 1.5 exactly (scaled-integer units)
    assert q0.dcg_at_5 == 1.5
    # IDCG@2 = 1 + 1/log2(3) = 1.630929754 (unit table) -> nDCG
    assert q0.ndcg_at_5 == round(1500000000 / 1630929754, 6)
    q1 = out[1]
    assert q1.n_relevant == 0 and q1.hits_at_5 == 0
    assert q1.mrr == 0.0 and q1.dcg_at_5 == 0.0
    assert q1.ndcg_at_5 is None


def test_embedding_width_pins_full_width_constant(spark):
    """r15-advice guard for the dim-truncation full_width shortcut: the
    plan passes full_width=_TRUNC_DIMS[0] (64) as a constant, and the
    64-width report row is DERIVED from the checkpointed ground truth
    rather than recomputed — that derivation is only valid while every
    vector in the embeddings table is exactly 64 wide at every SF. Pin
    the data assumption here so a width drift fails CI instead of
    silently turning the derived row into a lie."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans.similarity import _TRUNC_DIMS

    for sf in (SF_SMOKE, SF_ORACLE, SF_BENCH):
        e = load_table(spark, sf, "embeddings")
        widths = (
            e.select(F.size("embedding").alias("w")).distinct().collect()
        )
        assert [r["w"] for r in widths] == [_TRUNC_DIMS[0]], (
            f"{sf}: embedding widths {sorted(r['w'] for r in widths)} != "
            f"full_width constant {_TRUNC_DIMS[0]} — the derived 64-row of "
            "emb_dim_truncation_recall is no longer the ground truth"
        )
