"""Similarity-search catalog queries over ``embeddings``
(beyond-reference surface; operators in operators/similarity.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from streamprocessing_kafka_finlight_news_dashboard_spark.operators import similarity as S
from streamprocessing_kafka_finlight_news_dashboard_spark.plans.catalog import query
from streamprocessing_kafka_finlight_news_dashboard_spark.session import materialize
from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table

_QUERY_IDS = list(range(10))

_TRUNC_DIMS = (64, 32, 16)  # 64 = the table's full width (ground truth)


def _dim_recall_ctes() -> str:
    parts = []
    for d in _TRUNC_DIMS:
        parts.append(
            f"""s{d} AS (
            SELECT q.query_id, b.vec_id AS neighbor_id,
                   round(
                       list_sum(list_transform(
                           list_zip(q.qvec[1:{d}], b.vec[1:{d}]),
                           s -> s[1] * s[2]))
                       / (sqrt(list_sum(list_transform(q.qvec[1:{d}], x -> x * x)))
                          * sqrt(list_sum(list_transform(b.vec[1:{d}], x -> x * x)))), 6
                   ) AS cos_sim
            FROM q JOIN base b ON b.vec_id != q.query_id
        ), r{d} AS (
            SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY cos_sim DESC, neighbor_id) AS rn
                FROM s{d}) t WHERE rn <= 10
        )"""
        )
    hits = [
        f"""h{d} AS (
            SELECT CAST(count(*) AS BIGINT) AS c
            FROM r{d} t{d} JOIN r{_TRUNC_DIMS[0]} g{d}
              USING (query_id, neighbor_id)
        )"""
        for d in _TRUNC_DIMS
    ]
    return ", ".join(parts + hits)


_TRUNC_RECALL_ORACLE = (
    """
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, vec AS qvec FROM base WHERE vec_id < 10
        ), """
    + _dim_recall_ctes()
    + "\n        "
    + "\n        UNION ALL ".join(
        f"SELECT CAST({d} AS BIGINT) AS dims, CAST(10 AS BIGINT) AS k,"
        f" CAST(10 AS BIGINT) AS n_queries, c AS n_hits,"
        f" round(c / 100.0, 6) AS recall FROM h{d}"
        for d in _TRUNC_DIMS
    )
)


@query(
    "emb_dim_truncation_recall",
    oracle=_TRUNC_RECALL_ORACLE,
    survey_ops="similarity — Matryoshka/dimension-truncation recall "
    "report (beyond-reference; the embedding-width ablation run "
    "before serving shortened vectors)",
    doc="Recall@10 of truncated-width cosine search (first 32 / first "
    "16 of 64 components) against the full-width ground truth over "
    "the standard 10-query probe set (MRL, Kusupati et al. 2022 — "
    "public recipe). Ground truth computed once and localCheckpointed "
    "for the per-width branches; each truncated pass slices BEFORE "
    "the scatter so the fold never touches dropped components; "
    "integer hit counts + one round-6 ratio keep the 3-row report "
    "engine-exact. The 64-width row is derived from the checkpointed "
    "truth (r15 full_width shortcut), so it no longer independently "
    "re-verifies recall 1.0 — the 64-wide table assumption it rests "
    "on is pinned by tests/test_similarity_ann.py::"
    "test_embedding_width_pins_full_width_constant instead (r15 "
    "advice).",
)
def emb_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    # full_width: the embeddings table is 64-wide at every SF, so the
    # 64 branch IS the ground truth — derived from the checkpointed
    # truth instead of a fourth corpus scoring pass (r15)
    return S.dim_truncation_recall(
        e, _QUERY_IDS, k=10, dims=_TRUNC_DIMS, full_width=_TRUNC_DIMS[0]
    )


@query(
    "emb_cosine_topk",
    oracle="""
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, vec AS qvec FROM base WHERE vec_id < 10
        ), scored AS (
            SELECT q.query_id, b.vec_id AS neighbor_id,
                   round(
                       list_sum(list_transform(list_zip(q.qvec, b.vec),
                                               s -> s[1] * s[2]))
                       / (sqrt(list_sum(list_transform(q.qvec, x -> x * x)))
                          * sqrt(list_sum(list_transform(b.vec, x -> x * x)))), 6
                   ) AS cos_sim
            FROM q JOIN base b ON b.vec_id != q.query_id
        )
        SELECT query_id, neighbor_id, rank, cos_sim
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM scored
        ) t WHERE rank <= 5
    """,
    survey_ops="similarity brute-force cosine top-k (beyond-reference)",
    doc="Exact top-5 cosine neighbors for 10 query vectors: broadcast "
    "queries × streamed corpus, JVM-side zip_with/aggregate dot "
    "product in double precision, per-query top-k window with "
    "deterministic tie-break.",
)
def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.cosine_topk(e, _QUERY_IDS, k=5)


@query(
    "emb_nearest_centroid",
    oracle="""
        WITH base AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ), ex AS (
            SELECT label,
                   unnest(range(1, len(vec) + 1)) AS pos,
                   unnest(vec)                    AS v
            FROM base
        ), cents AS (
            SELECT label AS clabel, list(mean_v ORDER BY pos) AS centroid
            FROM (SELECT label, pos, avg(v) AS mean_v FROM ex GROUP BY label, pos) p
            GROUP BY label
        ), scored AS (
            SELECT b.vec_id, b.label, c.clabel,
                   round(
                       list_sum(list_transform(list_zip(b.vec, c.centroid),
                                               s -> s[1] * s[2]))
                       / (sqrt(list_sum(list_transform(b.vec, x -> x * x)))
                          * sqrt(list_sum(list_transform(c.centroid, x -> x * x)))), 6
                   ) AS cos_sim
            FROM base b CROSS JOIN cents c
        )
        SELECT vec_id, label, clabel AS pred_label, cos_sim AS centroid_sim,
               clabel = label AS label_match
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY cos_sim DESC, clabel) AS rn
            FROM scored
        ) t WHERE rn = 1
    """,
    survey_ops="similarity IVF/coarse-quantizer probe (beyond-reference)",
    doc="Nearest label-centroid assignment (the IVF probe step): "
    "posexplode→per-dimension mean→reassembled centroid vectors "
    "(tiny, broadcast), cosine argmax per vector.",
)
def emb_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.nearest_centroid(e)


_CENTROID_CTES = """
        base AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ), ex AS (
            SELECT label,
                   unnest(range(1, len(vec) + 1)) AS pos,
                   unnest(vec)                    AS v
            FROM base
        ), cents AS (
            SELECT label AS clabel, list(mean_v ORDER BY pos) AS centroid
            FROM (SELECT label, pos, avg(v) AS mean_v FROM ex GROUP BY label, pos) p
            GROUP BY label
        ), cell_ranks AS (
            SELECT b.vec_id, b.vec, c.clabel,
                   row_number() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY
                           round(
                               list_sum(list_transform(list_zip(b.vec, c.centroid),
                                                       s -> s[1] * s[2]))
                               / (sqrt(list_sum(list_transform(b.vec, x -> x * x)))
                                  * sqrt(list_sum(list_transform(c.centroid,
                                                                 x -> x * x)))),
                               6) DESC,
                           c.clabel) AS cell_rank
            FROM base b CROSS JOIN cents c
        ), assign AS (
            SELECT vec_id, vec, clabel AS cell
            FROM cell_ranks WHERE cell_rank = 1
        )
"""


@query(
    "emb_ivf_topk",
    oracle=f"""
        WITH {_CENTROID_CTES}
        , q AS (
            SELECT vec_id AS query_id, vec AS qvec, clabel AS qcell
            FROM cell_ranks WHERE vec_id < 10 AND cell_rank <= 3
        ), scored AS (
            SELECT q.query_id, a.vec_id AS neighbor_id,
                   round(
                       list_sum(list_transform(list_zip(q.qvec, a.vec),
                                               s -> s[1] * s[2]))
                       / (sqrt(list_sum(list_transform(q.qvec, x -> x * x)))
                          * sqrt(list_sum(list_transform(a.vec, x -> x * x)))), 6
                   ) AS cos_sim
            FROM q JOIN assign a
              ON a.cell = q.qcell AND a.vec_id != q.query_id
        )
        SELECT query_id, neighbor_id, rank, cos_sim
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM scored
        ) t WHERE rank <= 3
    """,
    survey_ops="similarity ANN — IVF nprobe=3 search (beyond-reference)",
    doc="Approximate top-3 neighbors: every corpus vector "
    "coarse-quantized to its nearest label centroid, search restricted "
    "to each query's 3 closest cells (nprobe=3). Per-query candidates "
    "shrink |corpus|→3·|cell|; recall loss vs emb_cosine_topk is the "
    "measured ANN trade-off (tests/test_similarity_ann.py).",
)
def emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.ivf_topk(e, _QUERY_IDS, k=3, nprobe=3)


@query(
    "emb_kmeans_ivf_topk",
    oracle=None,  # Lloyd iterations over float means — an iterative
    # fixed-point algorithm is not SQL-expressible; correctness evidence is
    # the inertia-monotonicity + recall-floor property suite
    # (tests/test_similarity_ann.py), the rows/schema check, AND the
    # exact quantizer pinned as a committed artifact
    # (tests/data/kmeans_centroids_sf0001.json — the fit is fully
    # deterministic, so the centroid table this entry searches over
    # cannot drift without test_kmeans_centroids_match_pinned_artifact
    # catching it).
    survey_ops="similarity ANN — IVF over a Lloyd k-means coarse "
    "quantizer (beyond-reference; replaces the label-centroid stand-in)",
    doc="IVF top-k search over LEARNED cells: 16-cell Lloyd k-means "
    "(4 iterations, deterministic lowest-id seeding) quantizes the "
    "corpus, then the standard nprobe=3 probe. Training uses the "
    "FAISS-style sample-fit recipe (sample_fit=4096 = 256 points per "
    "centroid): Lloyd runs driver-side over a deterministic "
    "hash-ordered sample, so the cluster pays exactly TWO distributed "
    "passes — the bounded TakeOrdered sample collect and one "
    "assignment-only pass for cell sizes — instead of iters+1 "
    "sequential jobs (the distributed-Lloyd path remains in "
    "kmeans_centroids for when the sample itself must stay "
    "distributed, with the bounded per-task (cell,count,sum) partial "
    "reduction). Search plan is identical to emb_ivf_topk (broadcast "
    "centroids, equi join on cell, per-query top-k window).",
)
def emb_kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    cents = S.kmeans_centroids(e, k=16, iters=4, sample_fit=4096).select(
        F.col("cell").alias("label"), "centroid"
    )
    return S.ivf_topk(e, _QUERY_IDS, k=3, nprobe=3, centroids=cents)


@query(
    "emb_semdedup_kmeans",
    oracle=None,  # the Lloyd quantizer is iterative (not
    # SQL-expressible); the label-cell twin emb_semdedup carries the
    # hash-green oracle for the cluster->pairs->CC->election pipeline,
    # and the invariant suite (one keep per group, cell confinement,
    # threshold connectivity) runs on this tier's operator directly.
    survey_ops="semantic dedup — SemDeDup over a LEARNED Lloyd "
    "quantizer (beyond-reference; the production configuration: "
    "sample-fit k-means cells + Arrow centroid-matrix scoring)",
    doc="The production SemDeDup tier: 16 Lloyd cells trained "
    "FAISS-style on a deterministic sample (two distributed passes), "
    "cell assignment through the Arrow centroid-matrix tier, then "
    "the same within-cell pairs → connected components → "
    "least-centroid-similar election as the oracle-checked "
    "emb_semdedup. At scale the cell count grows with the corpus "
    "(k ≈ |corpus|/cell_width), which is exactly what the "
    "tools/scale_smoke.py --emb run exercises at 50×.",
)
def emb_semdedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    cents = S.kmeans_centroids(e, k=16, iters=4, sample_fit=4096).select(
        F.col("cell").alias("label"), "centroid"
    )
    return S.semdedup(e, threshold=0.4, centroids=cents, tier="arrow")


@query(
    "emb_sign_lsh_near_dup",
    oracle="""
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ), bands AS (
            SELECT vec_id, vec, b.band,
                   CAST(vec[b.band * 8 + 1] >= 0 AS INT) || ''
                   || CAST(vec[b.band * 8 + 2] >= 0 AS INT)
                   || CAST(vec[b.band * 8 + 3] >= 0 AS INT)
                   || CAST(vec[b.band * 8 + 4] >= 0 AS INT)
                   || CAST(vec[b.band * 8 + 5] >= 0 AS INT)
                   || CAST(vec[b.band * 8 + 6] >= 0 AS INT)
                   || CAST(vec[b.band * 8 + 7] >= 0 AS INT)
                   || CAST(vec[b.band * 8 + 8] >= 0 AS INT) AS bkey
            FROM base, (SELECT unnest(range(8)) AS band) b
        ), cand AS (
            SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
            FROM bands a JOIN bands c
              ON a.band = c.band AND a.bkey = c.bkey AND a.vec_id < c.vec_id
        )
        , scored AS (
            SELECT id_a, id_b,
                   round(
                       list_sum(list_transform(list_zip(x.vec, y.vec), s -> s[1] * s[2]))
                       / (sqrt(list_sum(list_transform(x.vec, v -> v * v)))
                          * sqrt(list_sum(list_transform(y.vec, v -> v * v)))), 6
                   ) AS cos_sim
            FROM cand
            JOIN base x ON x.vec_id = cand.id_a
            JOIN base y ON y.vec_id = cand.id_b
        )
        SELECT id_a, id_b, cos_sim FROM scored
        WHERE cos_sim >= 0.4
        ORDER BY id_a, id_b
    """,
    survey_ops="dedup — embedding-cosine near-dup via sign-LSH banding "
    "(beyond-reference)",
    doc="Embedding near-duplicate pairs: deterministic random-hyperplane "
    "LSH (sign bits of all 64 dims as 8 bands × 8 bits) generates "
    "candidates in a bucket self-join; exact cosine ≥ 0.4 verifies. "
    "Parameter evidence in CALIBRATION.md: 4-bit bands made 23% of "
    "ALL pairs candidates (a de-facto cross join); 8-bit bands give "
    "256 buckets/band, and 8 bands instead of 4 buys the high-cosine "
    "recall a near-DUP detector contracts for (theory recall at "
    "cos=0.9: 0.94 vs 0.75) at ~3% candidate volume. The all-pairs "
    "cross join never happens — only same-band bucket members meet.",
)
def emb_sign_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.near_dup_pairs(e, threshold=0.4)


@query(
    "emb_quantize_int8_report",
    oracle="""
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), scaled AS (
            SELECT vec_id, v, len(v) AS dim,
                   greatest(list_max(list_transform(v, x -> abs(x))) / 127.0,
                            1e-12) AS s
            FROM base
        ), errs AS (
            SELECT vec_id, s, dim,
                   list_transform(v, x -> x - floor(x / s + 0.5) * s) AS e,
                   list_transform(v, x -> abs(floor(x / s + 0.5)))    AS qa
            FROM scaled
        )
        SELECT vec_id,
               round(s, 6) AS scale,
               CAST(list_sum(qa) AS BIGINT) AS q_l1_mass,
               round(sqrt(list_sum(list_transform(e, x -> x * x)) / dim), 6) AS rmse,
               round(list_max(list_transform(e, x -> abs(x))), 6) AS max_err
        FROM errs
    """,
    survey_ops="similarity — int8 scalar quantization + reconstruction "
    "error report (beyond-reference; embedding-store compression)",
    doc="Per-vector symmetric int8 quantization: scale = max|v|/127 "
    "(zero-vector guarded), explicit half-up rounding (engines "
    "disagree on round() tie behavior), per-vector scalar outputs "
    "(scale, quantized L1 mass, RMSE, max reconstruction error) so "
    "the whole compression step hash-verifies across engines. Narrow "
    "per-row math after the corpus scatter — no shuffle.",
)
def emb_quantize_int8_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.quantize_int8_report(e)


@query(
    "emb_cosine_topk_arrow",
    # Same oracle as the HOF tier: the final rank window orders by the
    # ROUND-6 cosine (neighbor-id tie-break), so the only way the BLAS
    # path could hash-differ is a sequential-fold-vs-pairwise-summation
    # ulp landing exactly on a 1e-6 rounding boundary — also pinned by
    # the exact-pairs pytest against the HOF tier.
    oracle="""
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, vec AS qvec FROM base WHERE vec_id < 10
        ), scored AS (
            SELECT q.query_id, b.vec_id AS neighbor_id,
                   round(
                       list_sum(list_transform(list_zip(q.qvec, b.vec),
                                               s -> s[1] * s[2]))
                       / (sqrt(list_sum(list_transform(q.qvec, x -> x * x)))
                          * sqrt(list_sum(list_transform(b.vec, x -> x * x)))), 6
                   ) AS cos_sim
            FROM q JOIN base b ON b.vec_id != q.query_id
        )
        SELECT query_id, neighbor_id, rank, cos_sim
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM scored
        ) t WHERE rank <= 5
    """,
    survey_ops="similarity brute-force cosine top-k, Arrow/numpy tier "
    "(beyond-reference; mapInPandas + BLAS matmul + per-batch partial "
    "top-k)",
    doc="Same semantics as emb_cosine_topk, executed as one float64 "
    "matmul per Arrow batch with per-batch argpartition partial "
    "top-k — the shuffle into the final window carries "
    "|batches|·|queries|·k rows instead of |corpus|·|queries|. The "
    "scale tier for wide corpora where interpreted HOF math "
    "dominates. Ranks on the round-6 cosine so ordering is "
    "engine-portable (shared oracle with the HOF tier).",
)
def emb_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.cosine_topk_arrow(e, _QUERY_IDS, k=5)


@query(
    "emb_cluster_balanced_sample",
    oracle=f"""
        WITH {_CENTROID_CTES}
        SELECT vec_id, cell, sample_rank,
               CAST(cell_size AS BIGINT) AS cell_size,
               sample_rank <= 40 AS keep
        FROM (
            SELECT a.vec_id, a.cell,
                   row_number() OVER (
                       PARTITION BY a.cell
                       ORDER BY md5(CAST(a.vec_id AS VARCHAR)), a.vec_id
                   ) AS sample_rank,
                   count(*) OVER (PARTITION BY a.cell) AS cell_size
            FROM assign a
        ) t
    """,
    survey_ops="training-data selection — cluster-balanced diversity "
    "sampling over embedding cells (beyond-reference; caps each "
    "semantic region at a quota)",
    doc="Cluster-balanced sampling: every vector quantized to its "
    "nearest cell, each cell capped at 40 keeps chosen in "
    "deterministic md5-of-id order (reproducible across engines and "
    "shards — never rand()). The embedding-space complement to "
    "doc_mixture_sample's metadata-weighted sampling: dense semantic "
    "regions stop dominating the training mix. One pure-projection "
    "cell assignment plus one cell-keyed rank window.",
)
def emb_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.cluster_balanced_sample(e, quota=40)


# The SemDeDup chain after the shared centroid CTEs (cell assignment →
# within-cell round-6 cosine pairs → recursive-CTE connected
# components) — shared by emb_semdedup and the cross-plane curation
# manifest. Binds: cell_sims, assign2, pairs, edges, comp.
_SEMDEDUP_TAIL_CTES = """
        , cell_sims AS (
            SELECT b.vec_id, b.vec, c.clabel,
                   round(
                       list_sum(list_transform(list_zip(b.vec, c.centroid),
                                               s -> s[1] * s[2]))
                       / (sqrt(list_sum(list_transform(b.vec, x -> x * x)))
                          * sqrt(list_sum(list_transform(c.centroid, x -> x * x)))), 6
                   ) AS sim
            FROM base b CROSS JOIN cents c
        ), assign2 AS (
            SELECT vec_id, vec, clabel AS cell, sim AS centroid_sim
            FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY vec_id
                           ORDER BY sim DESC, clabel) AS rn
                FROM cell_sims
            ) t WHERE rn = 1
        ), pairs AS (
            SELECT id_a, id_b FROM (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       round(
                           list_sum(list_transform(list_zip(a.vec, b.vec),
                                                   s -> s[1] * s[2]))
                           / (sqrt(list_sum(list_transform(a.vec, x -> x * x)))
                              * sqrt(list_sum(list_transform(b.vec, x -> x * x)))), 6
                       ) AS cos_sim
                FROM assign2 a JOIN assign2 b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id
            ) p WHERE cos_sim >= 0.4
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs
        ), comp AS (
            WITH RECURSIVE reach(id, label) AS (
                SELECT vec_id, vec_id FROM embeddings
                UNION
                SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
            )
            SELECT id, min(label) AS cluster_id FROM reach GROUP BY id
        )"""


@query(
    "emb_semdedup",
    oracle="WITH "
    + _CENTROID_CTES
    + _SEMDEDUP_TAIL_CTES
    + """
        SELECT a.vec_id, a.cell, c.cluster_id AS dup_cluster_id, a.centroid_sim,
               count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
               (row_number() OVER (
                    PARTITION BY c.cluster_id
                    ORDER BY a.centroid_sim ASC, a.vec_id ASC)) = 1 AS keep
        FROM assign2 a JOIN comp c ON c.id = a.vec_id
    """,
    survey_ops="semantic dedup — SemDeDup over embedding cells "
    "(beyond-reference; cluster → within-cell cosine pairs → "
    "transitive groups → keep least-centroid-similar representative)",
    doc="SemDeDup semantic deduplication (Abbas et al. 2023, public "
    "method): every vector coarse-quantized to its nearest cell, "
    "same-cell pairs with round-6 cosine ≥ 0.4 closed transitively "
    "via graph-contraction connected components, one representative "
    "kept per dup group (the member least similar to its centroid — "
    "the paper's diversity heuristic). The full cluster→pairs→CC→"
    "election pipeline is hash-verified against one recursive-CTE "
    "DuckDB query. Within-cell pair cost is the paper's own "
    "quadratic-in-cell-size model: at scale the quantizer's k grows "
    "with the corpus (pass Lloyd centroids with k ≈ |corpus|/cell).",
)
def emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.semdedup(e, threshold=0.4)


@query(
    "emb_knn_graph",
    # The cell RESTRICTION is an approximation of exact k-NN, but the
    # restricted computation itself is fully deterministic (round-6
    # cosine rank, label tie-break) — so the SQL twin expresses the
    # SAME cell-restricted graph, not exact k-NN.
    oracle=f"""
        WITH {_CENTROID_CTES}
        , scored AS (
            SELECT s.vec_id AS src_id, a.vec_id AS neighbor_id,
                   round(
                       list_sum(list_transform(list_zip(s.vec, a.vec),
                                               v -> v[1] * v[2]))
                       / (sqrt(list_sum(list_transform(s.vec, x -> x * x)))
                          * sqrt(list_sum(list_transform(a.vec, x -> x * x)))), 6
                   ) AS cos_sim
            FROM assign s JOIN assign a
              ON a.cell = s.cell AND a.vec_id != s.vec_id
        )
        SELECT src_id, neighbor_id, rank, cos_sim
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY src_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM scored
        ) t WHERE rank <= 3
    """,
    survey_ops="similarity — corpus-wide approximate k-NN graph "
    "(every vector × top-3 cell neighbors; SemDeDup-precursor workload)",
    doc="k-NN graph over the whole embeddings corpus: label-centroid "
    "cell assignment, then a self equi-join on the cell id — per-vector "
    "candidates shrink from |corpus| to |cell| and no cross join ever "
    "forms. The per-source top-3 window keys on src_id (uniform).",
)
def emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.knn_graph(e, k=3)


# One damped-PageRank step in scaled-BIGINT arithmetic (lockstep with
# operators/similarity.py::pagerank_on_edges): contributions are exact
# integer floor divisions, sums are exact integer sums — the whole
# iteration is order-independent by construction, so no rounding
# discipline is even needed. 15/85/100 = (1-d)/d at damping 0.85;
# 1000000000000 is the scaled unit mass.
_PAGERANK_ITERATION_SQL = """
        c{i} AS (
            SELECT e.dst AS id, sum(r.r // d.outdeg) AS s
            FROM knn_edges e
            JOIN deg d ON d.src = e.src
            JOIN r{prev} r ON r.id = e.src
            GROUP BY e.dst
        ), dg{i} AS (
            SELECT COALESCE(sum(r.r), 0) AS dmass
            FROM r{prev} r LEFT JOIN deg d ON d.src = r.id
            WHERE d.src IS NULL
        ), r{i} AS (
            SELECT n.id,
                   CAST((15 * (1000000000000 // cnt.n)
                         + 85 * (COALESCE(c.s, 0) + dg.dmass // cnt.n)) // 100
                        AS BIGINT) AS r
            FROM prnodes n
            LEFT JOIN c{i} c ON c.id = n.id
            CROSS JOIN dg{i} dg CROSS JOIN cnt
        )"""


@query(
    "emb_hard_negatives",
    oracle=f"""
        WITH {_CENTROID_CTES}
        , scored AS (
            SELECT s.vec_id AS src_id, a.vec_id AS neighbor_id,
                   round(
                       list_sum(list_transform(list_zip(s.vec, a.vec),
                                               v -> v[1] * v[2]))
                       / (sqrt(list_sum(list_transform(s.vec, x -> x * x)))
                          * sqrt(list_sum(list_transform(a.vec, x -> x * x)))), 6
                   ) AS cos_sim
            FROM assign s JOIN assign a
              ON a.cell = s.cell AND a.vec_id != s.vec_id
        )
        SELECT src_id, neighbor_id, rank, cos_sim
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY src_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM scored WHERE cos_sim < 0.4
        ) t WHERE rank <= 3
    """,
    survey_ops="similarity — hard-negative mining for embedding/"
    "retrieval training (beyond-reference; DPR-style in-cell negatives: "
    "most similar NON-near-duplicate neighbors)",
    doc="Hard-negative mining, the retrieval/embedding-training "
    "workload (DPR and its descendants train on negatives that are "
    "similar but wrong): for every anchor, the top-3 most similar "
    "cell-mates BELOW the near-duplicate band (cos < 0.4, this "
    "corpus's dup threshold per emb_semdedup) — similar enough to be "
    "confusable, dissimilar enough to be true negatives. The ceiling "
    "filters the scored pairs BEFORE the per-source window, so every "
    "anchor still receives a full top-k among sub-threshold "
    "candidates (filtering an already-truncated top-k would silently "
    "under-fill). Same narrow-candidate plan as emb_knn_graph: cell "
    "equi-join, pair-keyed uniform scoring, per-source window on the "
    "uniform anchor id.",
)
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.knn_graph(e, k=3, max_sim=0.4)


# The full PageRank CTE chain (knn edges -> deg/cnt/r0 -> three exact
# integer iterations), shared by emb_knn_pagerank and the
# centrality-weighted sampling composition below. The edge set is
# emb_knn_graph's cell-restricted top-3 graph (that query's own
# oracle, already hash-green, re-stated as knn_scored/knn_edges).
@query(
    "emb_contrastive_triplets",
    oracle=f"""
        WITH {_CENTROID_CTES}
        , scored AS (
            SELECT s.vec_id AS src_id, a.vec_id AS neighbor_id,
                   round(
                       list_sum(list_transform(list_zip(s.vec, a.vec),
                                               v -> v[1] * v[2]))
                       / (sqrt(list_sum(list_transform(s.vec, x -> x * x)))
                          * sqrt(list_sum(list_transform(a.vec, x -> x * x)))), 6
                   ) AS cos_sim
            FROM assign s JOIN assign a
              ON a.cell = s.cell AND a.vec_id != s.vec_id
        ), pos AS (
            SELECT src_id, neighbor_id AS positive_id, cos_sim AS pos_sim
            FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY src_id
                           ORDER BY cos_sim DESC, neighbor_id) AS rn
                FROM scored
            ) t WHERE rn = 1 AND cos_sim >= 0.4
        ), neg AS (
            SELECT src_id, neighbor_id AS negative_id, cos_sim AS neg_sim
            FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY src_id
                           ORDER BY cos_sim DESC, neighbor_id) AS rn
                FROM scored WHERE cos_sim < 0.4
            ) t WHERE rn = 1
        )
        SELECT p.src_id AS anchor_id, p.positive_id, p.pos_sim,
               n.negative_id, n.neg_sim,
               round(p.pos_sim - n.neg_sim, 6) AS margin
        FROM pos p JOIN neg n ON n.src_id = p.src_id
    """,
    survey_ops="similarity — contrastive triplet mining for embedding "
    "training (beyond-reference; anchor + nearest positive above the "
    "dup band + hardest negative below it, with the margin)",
    doc="Contrastive triplet mining, the training-pair artifact "
    "embedding models consume (triplet/InfoNCE losses train on "
    "(anchor, positive, hard negative)): for every anchor whose "
    "nearest cell-mate clears the near-dup band (cos ≥ 0.4 — the "
    "positive), pair it with its HARDEST sub-band cell-mate (top "
    "cosine < 0.4 — the negative) and emit the margin. The "
    "quadratic cell-mate scoring pass runs ONCE (knn_scored_edges, "
    "localCheckpointed — the same one-scoring-text shape as the "
    "oracle's single `scored` CTE); positive and negative are two "
    "windows over that one materialized relation, not two "
    "independent scoring passes. Anchors lacking either side drop "
    "(an anchor with no positive trains nothing; one with only "
    "positives has no cell-restricted negative).",
)
def emb_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    # One scoring pass over every cell-mate pair; the checkpoint cuts
    # the lineage so the two windows below consume materialized rows
    # instead of each re-executing the join+fold subtree. Checkpoint
    # the UNDIRECTED half (each pair scored and stored once — half the
    # materialized rows) and mirror to directed after, per window.
    und = S.knn_scored_edges(e, directed=False).transform(materialize, eager=True)
    scored = S.mirror_undirected(und)
    w = Window.partitionBy("src_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    pos = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("cos_sim") >= 0.4))
        .select(
            "src_id",
            F.col("neighbor_id").alias("positive_id"),
            F.col("cos_sim").alias("pos_sim"),
        )
    )
    neg = (
        scored.filter(F.col("cos_sim") < 0.4)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "src_id",
            F.col("neighbor_id").alias("negative_id"),
            F.col("cos_sim").alias("neg_sim"),
        )
    )
    return pos.join(neg, "src_id").select(
        F.col("src_id").alias("anchor_id"),
        "positive_id",
        "pos_sim",
        "negative_id",
        "neg_sim",
        F.round(F.col("pos_sim") - F.col("neg_sim"), 6).alias("margin"),
    )


# The knn edge set + node/count CTEs shared by BOTH PageRank variants
# (knn_edges carries cos_sim so the weighted variant derives its
# weights without re-windowing knn_scored — one scoring text, one
# top-3 window).
_KNN_EDGE_CTES = """
        , knn_scored AS (
            SELECT s.vec_id AS src_id, a.vec_id AS neighbor_id,
                   round(
                       list_sum(list_transform(list_zip(s.vec, a.vec),
                                               v -> v[1] * v[2]))
                       / (sqrt(list_sum(list_transform(s.vec, x -> x * x)))
                          * sqrt(list_sum(list_transform(a.vec, x -> x * x)))), 6
                   ) AS cos_sim
            FROM assign s JOIN assign a
              ON a.cell = s.cell AND a.vec_id != s.vec_id
        ), knn_edges AS (
            SELECT src_id AS src, neighbor_id AS dst, cos_sim FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY src_id
                           ORDER BY cos_sim DESC, neighbor_id) AS rnk
                FROM knn_scored
            ) t WHERE rnk <= 3
        ), prnodes AS (
            SELECT vec_id AS id FROM embeddings
        ), cnt AS (
            SELECT count(*) AS n FROM prnodes
        )"""

# The UNIFORM iteration chain (deg/r0/c1..r3) on top of the edge CTEs.
_PAGERANK_UNIFORM_CHAIN = (
    """
        , deg AS (
            SELECT src, CAST(count(*) AS BIGINT) AS outdeg
            FROM knn_edges GROUP BY src
        ), r0 AS (
            SELECT id, CAST(1000000000000 // cnt.n AS BIGINT) AS r
            FROM prnodes CROSS JOIN cnt
        ),"""
    + _PAGERANK_ITERATION_SQL.format(i=1, prev=0)
    + ","
    + _PAGERANK_ITERATION_SQL.format(i=2, prev=1)
    + ","
    + _PAGERANK_ITERATION_SQL.format(i=3, prev=2)
)

_PAGERANK_TAIL_CTES = _KNN_EDGE_CTES + _PAGERANK_UNIFORM_CHAIN

_PAGERANK_CTES = _CENTROID_CTES + _PAGERANK_TAIL_CTES


@query(
    "emb_knn_pagerank",
    oracle="WITH "
    + _PAGERANK_CTES
    + """
        SELECT id AS vec_id, r AS rank_e12,
               round(r / 1000000000000.0, 9) AS rank_score
        FROM r3
    """,
    survey_ops="graph centrality — damped PageRank over the corpus k-NN "
    "graph (beyond-reference; CCNet/RefinedWeb-style graph quality "
    "weighting re-based on content similarity); the catalog's second "
    "iterative algorithm hash-verified end-to-end",
    doc="PageRank centrality of every embedding in the k-NN similarity "
    "graph — the graph-quality/representativeness weighting signal the "
    "CommonCrawl pipelines compute over the host graph (CCNet uses "
    "centrality-ordered dedup shards; RefinedWeb quality-weights by "
    "graph signals), here over content similarity so central = 'in a "
    "dense, well-connected semantic neighborhood'. Three damped "
    "iterations (d=0.85) in EXACT scaled-BIGINT arithmetic: ranks are "
    "integers scaled by 1e12, per-edge contributions are integer floor "
    "divisions, per-destination gathers are exact integer sums, and "
    "the dangling mass is a 1-row broadcast — every step is order-"
    "independent by construction (no float ever enters the "
    "trajectory), so the whole iterative run is hash-verified against "
    "chained DuckDB CTEs. Each iteration is one edges⋈ranks equi-join "
    "+ one groupBy(dst) — the textbook distributed PageRank step; the "
    "rank frame is checkpointed per iteration (it feeds two branches; "
    "aliased branches defeat ReusedExchange) and only the node COUNT "
    "ever reaches the driver.",
)
def emb_knn_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.knn_pagerank(e, k=3, iterations=3)


@query(
    "emb_centrality_weighted_sample",
    # PageRank CTE chain + the A-Res exponential-race select — two
    # already-green formulations composed into one verified pipeline.
    oracle="WITH "
    + _PAGERANK_CTES
    + """
        , keyed AS (
            SELECT id AS vec_id, r AS rank_e12,
                   CAST('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 12)
                        AS BIGINT) * 1.0 / 281474976710656 AS u
            FROM r3
        )
        SELECT vec_id, rank_e12,
               round(-ln(u) / (rank_e12 / 1000000000000.0), 9) AS es_key
        FROM keyed
        ORDER BY round(-ln(u) / (rank_e12 / 1000000000000.0), 9), vec_id
        LIMIT 50
    """,
    survey_ops="data selection — centrality-weighted sampling without "
    "replacement (beyond-reference; PageRank importance × Efraimidis-"
    "Spirakis A-Res keys — graph-quality-weighted corpus selection, "
    "two verified iterative/sampling formulations composed)",
    doc="Centrality-weighted corpus sample: the k-NN PageRank rank is "
    "the A-Res weight, so inclusion probability is proportional to "
    "graph centrality — sample the docs that anchor dense semantic "
    "neighborhoods (the CCNet-style quality-weighted selection, here "
    "with the weight COMPUTED in-engine by the verified iterative "
    "PageRank rather than imported). Same exponential-race mechanics "
    "as doc_weighted_sample_ares (md5-fraction uniforms, "
    "key = -ln(u)/w rounded to 9 dp, smallest 50 win, id tie-break; "
    "no RNG state, reproducible across engines and shards); the "
    "weight enters as the EXACT integer rank divided once by the "
    "scale, not the round-9 readout. TakeOrdered keeps selection a "
    "per-partition top-k merge over the N-row rank frame.",
)
def emb_centrality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    pr = S.knn_pagerank(e, k=3, iterations=3)
    u = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 12), 16, 10)
        .cast("double")
        / F.lit(281474976710656.0)
    )
    key = F.round(-F.log(u) / (F.col("rank_e12") / F.lit(1000000000000.0)), 9)
    return (
        pr.select("vec_id", "rank_e12", key.alias("es_key"))
        .orderBy("es_key", "vec_id")
        .limit(50)
    )


# Semantic-decontamination chain (held-out eval rows × train rows,
# round-6 cosine) — shared by emb_semantic_decontaminate and the
# cross-plane curation manifest. Binds: ev, tr, dscored.
_SEMDECON_CTES = """
        ev AS (
            SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS evec
            FROM embeddings WHERE vec_id % 97 = 0
        ), tr AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS tvec
            FROM embeddings WHERE vec_id % 97 != 0
        ), dscored AS (
            SELECT t.vec_id, e.eval_id,
                   round(
                       list_sum(list_transform(list_zip(t.tvec, e.evec),
                                               s -> s[1] * s[2]))
                       / (sqrt(list_sum(list_transform(t.tvec, x -> x * x)))
                          * sqrt(list_sum(list_transform(e.evec, x -> x * x)))), 6
                   ) AS sim
            FROM tr t CROSS JOIN ev e
        ), decq AS (
            SELECT vec_id, eval_id, sim
            FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY vec_id
                           ORDER BY sim DESC, eval_id) AS rn
                FROM dscored
            ) t WHERE rn = 1
        )"""



@query(
    "emb_curation_manifest",
    # The round-10-list cross-plane composition: all three embedding-
    # plane verdict chains (SemDeDup keep, semantic decontamination,
    # PageRank centrality) share ONE centroid prefix and compose with
    # the documents table into a single verified manifest. Every chain
    # is the same text its standalone green oracle uses.
    oracle="WITH "
    + _CENTROID_CTES
    + _SEMDEDUP_TAIL_CTES
    + _PAGERANK_TAIL_CTES
    + ", "
    + _SEMDECON_CTES
    + """
        , sdq AS (
            SELECT a.vec_id,
                   count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
                   (row_number() OVER (
                        PARTITION BY c.cluster_id
                        ORDER BY a.centroid_sim ASC, a.vec_id ASC)) = 1
                       AS semantic_keep
            FROM assign2 a JOIN comp c ON c.id = a.vec_id
        )
        SELECT q.vec_id, doc.lang,
               s.semantic_keep, s.cluster_size,
               q.sim AS max_eval_sim, q.sim >= 0.4 AS contaminated,
               r.r AS rank_e12,
               (s.semantic_keep AND q.sim < 0.4) AS selected
        FROM decq q
        JOIN sdq s ON s.vec_id = q.vec_id
        JOIN r3 r ON r.id = q.vec_id
        JOIN documents doc ON doc.doc_id = q.vec_id
    """,
    survey_ops="cross-plane composed FLAGSHIP — per-document embedding-"
    "plane curation manifest: SemDeDup keep × semantic decontamination "
    "× PageRank centrality × document metadata as ONE verified plan "
    "(beyond-reference)",
    doc="The embedding-plane curation scorecard, per train document "
    "with a vector: its SemDeDup verdict (keep flag + dup-cluster "
    "size), its semantic-decontamination verdict (max cosine to the "
    "held-out eval set + flag), its PageRank centrality (exact "
    "scaled-BIGINT rank), and the document's language — joined on the "
    "shared id into one manifest with the final selection bit "
    "(kept ∧ not contaminated). This is the decision table a curation "
    "run actually materializes before writing shards. All three "
    "verdict chains run as ONE lazy plan over ONE shared coarse-"
    "quantizer assignment text in the oracle; Spark-side, the "
    "quantizer is fitted ONCE and the quadratic cell-mate scoring "
    "pass runs ONCE (knn_scored_edges undirected, localCheckpointed) "
    "— the SemDeDup subtree filters it at the dup threshold for "
    "connected components, the PageRank subtree mirrors it and "
    "windows top-3 — then the three operator subtrees join on the "
    "uniform vector id (eval rows excluded by the decontamination "
    "convention).",
)
def emb_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    # fit the coarse quantizer ONCE, score every cell-mate pair ONCE:
    # the undirected scored relation is the shared quadratic stage
    # under BOTH the SemDeDup subtree (threshold filter → connected
    # components) and the PageRank subtree (mirror → top-3 window) —
    # checkpoint it so neither re-executes the join+fold pass (r9
    # verdict efficiency item).
    cents = S.label_centroids(e)
    und = S.knn_scored_edges(e, centroids=cents, directed=False).transform(materialize, eager=True)
    sd = S.semdedup(e, threshold=0.4, centroids=cents, scored_und=und).select(
        "vec_id", F.col("keep").alias("semantic_keep"), "cluster_size"
    )
    pr = S.knn_pagerank(
        e, k=3, iterations=3, centroids=cents, scored_und=und
    ).select("vec_id", "rank_e12")
    dec = S.semantic_decontaminate(
        e, F.col("vec_id") % 97 == 0, threshold=0.4
    ).select("vec_id", "max_eval_sim", "contaminated")
    return (
        dec.join(sd, "vec_id")
        .join(pr, "vec_id")
        .join(d, "vec_id")
        .select(
            "vec_id",
            "lang",
            "semantic_keep",
            "cluster_size",
            "max_eval_sim",
            "contaminated",
            "rank_e12",
            (F.col("semantic_keep") & ~F.col("contaminated")).alias("selected"),
        )
    )


# One WEIGHTED PageRank step: each source's rank splits across its
# out-edges proportionally to the exact integer edge weights —
# per-edge share (r·w6) // wsum, still all-integer/order-independent.
_WPAGERANK_ITERATION_SQL = """
        wc{i} AS (
            SELECT e.dst AS id, sum((r.r * e.w6) // d.wsum) AS s
            FROM wedges e
            JOIN wdeg d ON d.src = e.src
            JOIN wr{prev} r ON r.id = e.src
            GROUP BY e.dst
        ), wdg{i} AS (
            SELECT COALESCE(sum(r.r), 0) AS dmass
            FROM wr{prev} r LEFT JOIN wdeg d ON d.src = r.id
            WHERE d.src IS NULL
        ), wr{i} AS (
            SELECT n.id,
                   CAST((15 * (1000000000000 // cnt.n)
                         + 85 * (COALESCE(c.s, 0) + dg.dmass // cnt.n)) // 100
                        AS BIGINT) AS r
            FROM prnodes n
            LEFT JOIN wc{i} c ON c.id = n.id
            CROSS JOIN wdg{i} dg CROSS JOIN cnt
        )"""


@query(
    "emb_knn_pagerank_weighted",
    oracle="WITH "
    + _CENTROID_CTES
    + _KNN_EDGE_CTES
    + """
        , wedges AS (
            SELECT src, dst,
                   CAST(round(cos_sim * 1000000) AS BIGINT) AS w6
            FROM knn_edges
            WHERE CAST(round(cos_sim * 1000000) AS BIGINT) > 0
        ), wdeg AS (
            SELECT src, CAST(sum(w6) AS BIGINT) AS wsum
            FROM wedges GROUP BY src
        ), wr0 AS (
            SELECT id, CAST(1000000000000 // cnt.n AS BIGINT) AS r
            FROM prnodes CROSS JOIN cnt
        ),"""
    + _WPAGERANK_ITERATION_SQL.format(i=1, prev=0)
    + ","
    + _WPAGERANK_ITERATION_SQL.format(i=2, prev=1)
    + ","
    + _WPAGERANK_ITERATION_SQL.format(i=3, prev=2)
    + """
        SELECT id AS vec_id, r AS rank_e12,
               round(r / 1000000000000.0, 9) AS rank_score
        FROM wr3
    """,
    survey_ops="graph centrality — WEIGHTED PageRank over the k-NN "
    "graph (beyond-reference; rank mass splits by round-6 cosine "
    "instead of uniformly — the similarity-weighted variant); exact "
    "integer trajectory hash-verified",
    doc="Weighted PageRank: each vector's rank flows to its k-NN "
    "neighbors proportionally to the edge cosine rather than "
    "uniformly, so mass concentrates along STRONG similarity edges — "
    "the standard weighted-graph variant of the centrality signal. "
    "Weights are exact scaled integers w6 = round(cos·1e6) clamped "
    "positive (a negative-cosine 'neighbor' attracts no mass; a "
    "source losing every edge to the clamp becomes dangling), the "
    "per-edge share is (R(u)·w6) // W(u) with W the exact integer "
    "weight sum — all BIGINT products ≤ 1e18, no float anywhere in "
    "the trajectory, hash-verified against chained DuckDB CTEs at "
    "3 SFs (reusing the shared knn-edge chain). Per-edge contribution "
    "is computed on the edges⋈weights⋈ranks equi-join and gathered "
    "per destination — same shuffle discipline as the uniform "
    "variant, one extra narrow column.",
)
def emb_knn_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.knn_pagerank(e, k=3, iterations=3, weighted=True)


@query(
    "emb_semantic_decontaminate",
    oracle="WITH "
    + _SEMDECON_CTES
    + """
        SELECT vec_id, eval_id AS nearest_eval_id, sim AS max_eval_sim,
               sim >= 0.4 AS contaminated
        FROM decq
    """,
    survey_ops="semantic benchmark decontamination — embedding-cosine "
    "leak audit vs a held-out eval set (beyond-reference; the semantic "
    "companion to doc_decontaminate_ngram/bloom)",
    doc="Embedding-similarity decontamination: every train vector's "
    "max round-6 cosine to the held-out eval set (vec_id % 97 == 0, "
    "the same eval convention as the lexical decontaminators), with "
    "the nearest eval id and a threshold flag — catching paraphrase/"
    "translation-level leakage token matchers cannot see. The eval "
    "side is benchmark-sized by construction → broadcast, every "
    "train×eval pair scored EXACTLY (no LSH/cell approximation ⇒ no "
    "false negatives); norms precomputed once per side, one fold per "
    "pair, and the only shuffle is the per-train argmax window on the "
    "uniform train id. The 0.4 threshold is data-calibrated like "
    "emb_semdedup's (this synthetic corpus's near-dup band sits at "
    "0.40-0.50); a production paraphrase audit would set ~0.9+ — the "
    "operator default.",
)
def emb_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.semantic_decontaminate(e, F.col("vec_id") % 97 == 0, threshold=0.4)


_PQ_ADC_BASE_CTES = r"""
        ex AS (
            SELECT label AS code, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS v
            FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
        ), cb AS (
            -- order-independent mean, lockstep with the Spark plan:
            -- exact decimal(38,18) sum -> one double cast -> IEEE division
            SELECT (pos // 8) AS sub, code, pos,
                   CAST(sum(CAST(v AS DECIMAL(38,18))) AS DOUBLE)
                       / count(v) AS mean
            FROM ex GROUP BY pos // 8, code, pos
        ), cex AS (
            SELECT vec_id AS id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS v
            FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
        ), d2 AS (
            SELECT id, sub, code,
                   sum(CAST((v - mean) * (v - mean) AS DECIMAL(38,18))) AS d2
            FROM cex JOIN cb USING (pos) GROUP BY id, sub, code
        ), codes AS (
            SELECT id, sub, code FROM (
                SELECT id, sub, code,
                       row_number() OVER (PARTITION BY id, sub
                                          ORDER BY round(d2, 6), code) AS rn
                FROM d2) z WHERE rn = 1
        ), lut AS (
            SELECT c.vec_id AS query_id, cb.sub, cb.code,
                   sum(CAST((CAST(c.embedding[cb.pos + 1] AS DOUBLE) - cb.mean)
                       * (CAST(c.embedding[cb.pos + 1] AS DOUBLE) - cb.mean)
                       AS DECIMAL(38,18))) AS ld
            FROM embeddings c CROSS JOIN cb
            WHERE c.vec_id < 10
            GROUP BY c.vec_id, cb.sub, cb.code
        )
"""

# the unrestricted full-corpus ADC scan on top of the base CTEs; the
# IVF+PQ entry swaps this for a cell-restricted candidate set
_PQ_ADC_SCORED_CTES = (
    _PQ_ADC_BASE_CTES
    + r""", scored AS (
            SELECT query_id, id, CAST(sum(ld) AS DOUBLE) AS dist
            FROM codes JOIN lut USING (sub, code)
            WHERE id != query_id
            GROUP BY query_id, id
        )
"""
)


@query(
    "emb_pq_adc_topk",
    oracle=f"""
        WITH {_PQ_ADC_SCORED_CTES}
        SELECT query_id, id AS neighbor_id, rank,
               round(dist, 6) AS approx_l2sq
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY round(dist, 6), id) AS rank
              FROM scored) t
        WHERE rank <= 3
    """,
    survey_ops="similarity ANN — product quantization + asymmetric "
    "distance scan (beyond-reference; Jégou et al. 2011)",
    doc="PQ-ADC top-3: 8 subspaces × per-label subspace-mean codebooks "
    "(the SQL-expressible quantizer stand-in, like emb_ivf_topk's "
    "label centroids), corpus encoded to 8 small codes, queries score "
    "the compressed corpus via per-query distance lookup tables — the "
    "billion-vector compressed-scan shape. The ENTIRE pipeline "
    "(codebook build → encode argmin → LUT → ADC sum → top-k) is one "
    "lazy plan hash-verified against the identical DuckDB "
    "construction.",
)
def emb_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.pq_adc_topk(e, _QUERY_IDS, k=3, m=8)


@query(
    "emb_pq_kmeans_adc_topk",
    oracle=None,  # per-subspace Lloyd codebooks are iterative (not
    # SQL-expressible); the label-codebook twin emb_pq_adc_topk carries the
    # hash-green oracle for the encode->LUT->ADC pipeline, and the trained
    # codebooks are pinned as a committed artifact
    # (tests/data/pq_codebooks_sf0001.json) with encode/ADC invariants in
    # tests/test_similarity_ann.py.
    survey_ops="similarity ANN — PQ over per-subspace Lloyd codebooks "
    "(beyond-reference; the production configuration)",
    doc="The production PQ tier: 8 subspaces × 16 Lloyd codes trained "
    "FAISS-style on one deterministic md5-ordered sample (a single "
    "bounded collect serves all 8 subspace fits), then the same "
    "encode → LUT → ADC scan as the oracle-checked twin. 64-dim "
    "float32 vectors compress to 8 codes (64:1 at byte codes); the "
    "ADC scan touches only codes + broadcast LUTs.",
)
def emb_pq_kmeans_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    cb = S.pq_codebooks_kmeans(e, m=8, ksub=16, iters=4, sample_fit=4096)
    return S.pq_adc_topk(e, _QUERY_IDS, k=3, codebooks=cb, m=8)


@query(
    "emb_pq_rerank_topk",
    oracle=f"""
        WITH {_PQ_ADC_SCORED_CTES}
        , short AS (
            SELECT query_id, id AS neighbor_id, rank AS adc_rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY round(dist, 6), id) AS rank FROM scored) t
            WHERE rank <= 10
        ), base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ), exact AS (
            SELECT s.query_id, s.neighbor_id, s.adc_rank,
                   round(list_sum(list_transform(list_zip(q.vec, c.vec),
                                                 z -> z[1] * z[2]))
                         / (sqrt(list_sum(list_transform(q.vec, x -> x * x)))
                            * sqrt(list_sum(list_transform(c.vec, x -> x * x)))),
                         6) AS cos_sim
            FROM short s
            JOIN base q ON q.vec_id = s.query_id
            JOIN base c ON c.vec_id = s.neighbor_id
        )
        SELECT query_id, neighbor_id, rank, cos_sim, adc_rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS rank FROM exact) t
        WHERE rank <= 3
    """,
    survey_ops="similarity ANN — two-stage retrieve-rerank: PQ-ADC "
    "shortlist + exact re-rank (beyond-reference; the FAISS "
    "refine/IndexRefineFlat recipe over Jégou et al. 2011)",
    doc="The production ANN serving shape: stage 1 scans the "
    "compressed corpus (PQ codes + broadcast LUTs) for a 10-deep "
    "shortlist per query, stage 2 re-scores ONLY those "
    "|queries|×10 pairs with exact round-6 cosine (broadcast "
    "shortlist joined back to vectors in one corpus scan) and "
    "re-ranks. Buys back ADC quantization error for a constant-size "
    "exact pass; the adc_rank column keeps the stage-1 ordering "
    "observable so the refine step's re-ordering is itself checked. "
    "Both stages and the composition are one lazy plan hash-verified "
    "against the chained DuckDB construction.",
)
def emb_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.pq_rerank_topk(e, _QUERY_IDS, k=3, shortlist=10, m=8)


# the centroid CTEs with their `ex` CTE renamed so they can share one
# WITH-list with the PQ base CTEs (which define their own `ex`)
_CENTROID_CTES_IVFPQ = _CENTROID_CTES.replace("ex AS (", "centx AS (").replace(
    "FROM ex", "FROM centx"
)


@query(
    "emb_ivfpq_topk",
    oracle=f"""
        WITH {_PQ_ADC_BASE_CTES}
        , {_CENTROID_CTES_IVFPQ}
        , probed AS (
            SELECT vec_id AS query_id, clabel AS qcell
            FROM cell_ranks WHERE vec_id < 10 AND cell_rank <= 3
        ), cand AS (
            SELECT p.query_id, a.vec_id AS id
            FROM probed p JOIN assign a
              ON a.cell = p.qcell AND a.vec_id != p.query_id
        ), scoredp AS (
            SELECT c.query_id, c.id, CAST(sum(l.ld) AS DOUBLE) AS dist
            FROM cand c
            JOIN codes k ON k.id = c.id
            JOIN lut l ON l.query_id = c.query_id
                      AND l.sub = k.sub AND l.code = k.code
            GROUP BY c.query_id, c.id
        )
        SELECT query_id, id AS neighbor_id, rank,
               round(dist, 6) AS approx_l2sq
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY round(dist, 6), id) AS rank
              FROM scoredp) t
        WHERE rank <= 3
    """,
    survey_ops="similarity ANN — IVF+PQ cell-restricted compressed scan "
    "(beyond-reference; Jégou et al. 2011 IndexIVFPQ, the "
    "billion-vector production configuration)",
    doc="IVF+PQ: the corpus is coarse-quantized into cells AND "
    "PQ-encoded; each query probes its 3 nearest cells and ADC-scans "
    "only those cells' codes — scan cost ~nprobe/|cells| of the full "
    "compressed scan, and the scanned rows are codes, not vectors "
    "(the two compressions multiply; this is how a billion-vector "
    "index actually serves). Cell assignment, encode, LUT build, "
    "restricted ADC sum and top-k are ONE lazy plan hash-verified "
    "against the combined DuckDB construction (the IVF and PQ oracle "
    "CTEs composed). Recall = IVF's cell-miss trade on top of PQ "
    "distortion, both measured in ANN_REPORT.md.",
)
def emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.ivfpq_topk(e, _QUERY_IDS, k=3, nprobe=3, m=8)


@query(
    "emb_knn_triangles",
    oracle=f"""
        WITH {_CENTROID_CTES}{_KNN_EDGE_CTES}
        , und AS (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM knn_edges
        ), tri AS (
            SELECT e1.a AS na, e1.b AS nb, e2.b AS nc
            FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        ), pernode_tri AS (
            SELECT id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
                SELECT na AS id FROM tri
                UNION ALL SELECT nb FROM tri
                UNION ALL SELECT nc FROM tri
            ) q GROUP BY id
        ), deg AS (
            SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
                SELECT a AS id FROM und UNION ALL SELECT b FROM und
            ) q GROUP BY id
        )
        SELECT d.id AS vec_id, d.degree,
               COALESCE(t.n_triangles, 0) AS n_triangles,
               round(2.0 * COALESCE(t.n_triangles, 0)
                     / nullif(CAST(d.degree * (d.degree - 1) AS DOUBLE), 0.0),
                     6) AS clustering
        FROM deg d LEFT JOIN pernode_tri t ON t.id = d.id
        ORDER BY vec_id
    """,
    survey_ops="similarity graph analytics (beyond-reference) — "
    "per-node triangle count + local clustering coefficient over the "
    "k-NN graph: the community-structure readout (PageRank measures "
    "centrality; triangles measure how CLIQUEY a node's neighborhood "
    "is — near-duplicate clusters and template families light up as "
    "high-clustering pockets before any dedup pass names them)",
    doc="Triangles over the symmetrized k-NN graph (the SAME "
    "cell-restricted top-3 edges as emb_knn_graph/pagerank — one "
    "shared edge-CTE text, so the graph family cannot diverge): "
    "undirected edges via least/greatest distinct, triangle "
    "enumeration as the canonical a<b<c ordered two-join (every join "
    "equi on a node id, per-node fan-out bounded by the k-NN degree "
    "— never corpus-quadratic), per-node triangle counts from the "
    "3-way explode, local clustering = 2*t / (deg*(deg-1)) with NULL "
    "below degree 2. All-integer counts, one exact final division, "
    "round-6. Isolated nodes (singleton cells) have no edges and no "
    "row — identical in both engines. The undirected edge set is "
    "localCheckpoint'd before its triple self-join (aliased branches "
    "defeat ReusedExchange — the r10 lesson).",
)
def emb_knn_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.triangle_stats(S.knn_graph(e, k=3)).withColumnRenamed(
        "id", "vec_id"
    )
