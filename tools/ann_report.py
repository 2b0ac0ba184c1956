"""ANN tier evaluation: recall@k vs the exact scan and wall-clock for
every search tier the engine ships, at a given SF — plus the same
table over a PLANTED-CLUSTER corpus, where lossy tiers must recover
their published behavior.

    python tools/ann_report.py [/root/testdata/sf0.1]

Writes the tables to stdout; the committed snapshot lives in
ANN_REPORT.md. Recall is measured against the exact brute-force
top-k on the same query set, so the report is self-contained and
reproducible (all tiers are deterministic — no RNG state anywhere;
the planted corpus is md5-seeded).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark import get_spark
from streamprocessing_kafka_finlight_news_dashboard_spark.operators import similarity as S
from streamprocessing_kafka_finlight_news_dashboard_spark.session import materialize
from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table

K = 5
QUERY_IDS = list(range(10))


def _u01(tag: str) -> float:
    """Deterministic uniform in [0, 1) from an md5 tag — the same
    no-RNG-state seed family the portable dedup tier and the 50x
    smoke's perturbation machinery use."""
    return int(hashlib.md5(tag.encode()).hexdigest()[:8], 16) / 2**32


def planted_corpus(
    spark,
    n_clusters: int = 8,
    per_cluster: int = 6,
    dim: int = 64,
    spread: float = 10.0,
    noise: float = 0.5,
):
    """A corpus with REAL cluster structure: ``n_clusters`` md5-seeded
    +/-``spread`` centroids, each cloned ``per_cluster`` times with
    bounded md5 noise in [-noise/2, +noise/2) per coordinate. Inter-
    centroid L2 gaps are ~spread*sqrt(2*dim) >> the noise diameter, so
    the exact top-(per_cluster-1) of every member is exactly its
    cluster siblings — the regime the lossy tiers' published recall
    numbers assume (the isotropic driver embeddings are the opposite:
    noise-dominated rank gaps no 8-bit code can preserve; see
    ANN_REPORT.md). Schema matches the driver's embeddings table
    (vec_id, embedding float[], label = true cluster), so every tier
    runs unchanged. vec_id = cluster*per_cluster + member, so query
    vec_id c*per_cluster probes cluster c."""
    rows = []
    for c in range(n_clusters):
        cent = [
            spread if int(hashlib.md5(f"cent-{c}-{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -spread
            for i in range(dim)
        ]
        for j in range(per_cluster):
            vec = [
                float(cent[i] + (_u01(f"n-{c}-{j}-{i}") - 0.5) * noise)
                for i in range(dim)
            ]
            rows.append((c * per_cluster + j, vec, c))
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )


def tier_recalls(spark, e, query_ids, k):
    """[(label, wall_s, recall_vs_exact)] for every search tier over
    embeddings ``e`` (id vec_id, vector embedding, int label)."""

    def run(label, thunk):
        t0 = time.perf_counter()
        rows = thunk()
        dt = time.perf_counter() - t0
        got = {}
        for r in rows:
            qid = r.query_id if hasattr(r, "query_id") else r[0]
            nid = r.neighbor_id if hasattr(r, "neighbor_id") else r[1]
            got.setdefault(qid, set()).add(nid)
        return label, dt, got

    exact_label, exact_dt, exact = run(
        "exact HOF scan", lambda: S.cosine_topk(e, query_ids, k=k).collect()
    )
    tiers = [
        (exact_label, exact_dt, exact),
        run(
            "exact Arrow BLAS scan",
            lambda: S.cosine_topk_arrow(e, query_ids, k=k).collect(),
        ),
        run(
            "IVF label cells nprobe=3",
            lambda: S.ivf_topk(e, query_ids, k=k, nprobe=3).collect(),
        ),
        run(
            "IVF kmeans cells nprobe=3",
            lambda: S.ivf_topk(
                e,
                query_ids,
                k=k,
                nprobe=3,
                centroids=S.kmeans_centroids(e, k=8, iters=3).select(
                    F.col("cell").alias("label"), "centroid"
                ),
            ).collect(),
        ),
        run(
            "PQ-ADC label codebooks",
            lambda: S.pq_adc_topk(e, query_ids, k=k).collect(),
        ),
        run(
            "PQ-ADC kmeans codebooks",
            lambda: S.pq_adc_topk(
                e,
                query_ids,
                k=k,
                codebooks=S.pq_codebooks_kmeans(e, m=8, ksub=16, iters=3),
            ).collect(),
        ),
        run(
            "RP-16 projected scan",
            lambda: S.cosine_topk(
                S.rp_project(e, out_dim=16), query_ids, k=k, vec_col="pvec"
            ).collect(),
        ),
        run(
            "PQ-ADC + exact rerank (2k shortlist)",
            lambda: S.pq_rerank_topk(
                e, query_ids, k=k, shortlist=2 * k
            ).collect(),
        ),
        run(
            "IVF+PQ nprobe=3 (cell-restricted ADC)",
            lambda: S.ivfpq_topk(e, query_ids, k=k, nprobe=3).collect(),
        ),
    ]
    total_exact = sum(len(v) for v in exact.values())
    out = []
    for label, dt, got in tiers:
        hit = sum(len(exact[q] & got.get(q, set())) for q in exact)
        out.append((label, dt, hit / total_exact))
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="ann-report")
    # warm the Python worker pool so the first Arrow tier isn't charged
    # the ~3 s fork cost (same warmup bench.py applies)
    spark.range(0, 1000, 1, 32).mapInPandas(lambda it: it, "id long").count()
    e = load_table(spark, sf_dir, "embeddings").transform(materialize, eager=True)
    n = e.count()
    print(f"# ANN tier report — {sf_dir} ({n} vectors, {len(QUERY_IDS)} queries, k={K})")
    print("| tier | recall@5 | wall s |")
    print("|---|---|---|")
    for label, dt, rec in tier_recalls(spark, e, QUERY_IDS, K):
        print(f"| {label} | {rec:.2f} | {dt:.2f} |")

    pc = planted_corpus(spark).transform(materialize, eager=True)
    pq = [c * 6 for c in range(8)]
    print()
    print(
        "# Planted-cluster corpus (8 md5-seeded clusters x 6 members, "
        "64-d, spread 10, noise 0.5; 8 queries, k=5)"
    )
    print("| tier | recall@5 | wall s |")
    print("|---|---|---|")
    for label, dt, rec in tier_recalls(spark, pc, pq, 5):
        print(f"| {label} | {rec:.2f} | {dt:.2f} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
