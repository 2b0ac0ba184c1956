"""Round-5 extension of the embedding catalog: Johnson-Lindenstrauss
random-projection search (operators in operators/similarity.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark.operators import similarity as S
from streamprocessing_kafka_finlight_news_dashboard_spark.plans.catalog import query
from streamprocessing_kafka_finlight_news_dashboard_spark.session import materialize
from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table

_QUERY_IDS = list(range(10))

#: The IVF bitext miner's probe count, BY ELECTION, not by guess: the
#: smallest nprobe rung whose mined-pair recall vs the exact tier
#: clears the 0.7 target at every measured SF — see CALIBRATION.md
#: "Margin bitext miner — IVF nprobe ladder" (generated by
#: tools/calibrate_bitext.py, which also prints the election).
#: Changing this requires re-running the calibration and
#: re-adjudicating the pytest recall floor; a drift-guard test pins
#: this constant to CALIBRATION.md's election line.
BITEXT_NPROBE_ELECTED = 4


@query(
    "emb_rp_topk",
    oracle="""
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ), mat AS (
            SELECT j,
                   list(CASE WHEN CAST('0x' || substring(
                                 md5('rp-' || CAST(i AS VARCHAR) || '-'
                                     || CAST(j AS VARCHAR)), 1, 1) AS INT)
                                 % 2 = 0
                             THEN 1.0 ELSE -1.0 END ORDER BY i) AS s
            FROM range(0, 64) t(i), range(0, 16) u(j)
            GROUP BY j
        ), proj AS (
            SELECT b.vec_id,
                   list(list_sum(list_transform(list_zip(b.vec, m.s),
                                                z -> z[1] * z[2]))
                        ORDER BY m.j) AS pvec
            FROM base b CROSS JOIN mat m
            GROUP BY b.vec_id
        ), q AS (
            SELECT vec_id AS query_id, pvec AS qvec FROM proj WHERE vec_id < 10
        ), scored AS (
            SELECT q.query_id, p.vec_id AS neighbor_id,
                   round(
                       list_sum(list_transform(list_zip(q.qvec, p.pvec),
                                               s -> s[1] * s[2]))
                       / (sqrt(list_sum(list_transform(q.qvec, x -> x * x)))
                          * sqrt(list_sum(list_transform(p.pvec, x -> x * x)))), 6
                   ) AS rp_sim
            FROM q JOIN proj p ON p.vec_id != q.query_id
        )
        SELECT query_id, neighbor_id, rank, rp_sim
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY rp_sim DESC, neighbor_id) AS rank
            FROM scored
        ) t WHERE rank <= 5
    """,
    survey_ops="similarity — JL random-projection search (beyond-"
    "reference; Achlioptas 2003 ±1 projection); dim-reduced ANN tier",
    doc="Top-5 cosine neighbors in 16-d random-projection space "
    "(64-d embeddings × md5-seeded ±1 sign matrix, driver-inlined "
    "literals): the project-then-search recipe that cuts per-pair "
    "fold cost 4× before any ANN structure. The whole pipeline — "
    "matrix, projection, scoring, tie-broken top-k — is "
    "hash-verified against DuckDB rebuilding the same matrix in SQL. "
    "Stated: on the near-isotropic synthetic corpus neighbor RANK "
    "fidelity at 16 dims is noise-dominated (exact top-1 cosines are "
    "only ~0.33-0.43); the pytest pins what JL guarantees — exact-"
    "duplicate preservation and the pairwise-cosine distortion band.",
)
def emb_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    proj = S.rp_project(e, out_dim=16)
    return S.cosine_topk(
        proj, _QUERY_IDS, k=5, id_col="vec_id", vec_col="pvec"
    ).withColumnRenamed("cos_sim", "rp_sim")


@query(
    "emb_pca_topk",
    oracle=None,  # the components come from a driver-side numpy
    # eigendecomposition of the corpus covariance — not SQL-expressible
    # in DuckDB (same stated class as the kmeans quantizer tiers). The
    # algebraic invariants (orthonormal components, eigenvalue-ordered
    # variances, variance optimality vs the JL tier, determinism) are
    # pinned by pytest; the EXACT basis for the catalog config is a
    # committed artifact (tests/data/pca_components_sf0001.json — the
    # quantizer-pin precedent), and the projection/scoring mechanics
    # are hash-verified via the emb_rp_topk oracle, which shares them.
    survey_ops="similarity — PCA dimensionality reduction (beyond-"
    "reference; variance-optimal counterpart of the JL tier)",
    doc="Top-5 cosine neighbors in mean-centered 16-d PCA space. "
    "Covariance is ONE zero-shuffle Arrow pass of bounded per-task "
    "partials (≤ dim·(dim+3)/2+1 rows/task); the 64×64 eigenproblem "
    "runs on the driver; components inline as literals so projection "
    "is 16 JVM folds per row.",
)
def emb_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    proj = S.pca_project(e, out_dim=16)
    return S.cosine_topk(
        proj, _QUERY_IDS, k=5, id_col="vec_id", vec_col="pvec"
    ).withColumnRenamed("cos_sim", "pca_sim")


@query(
    "emb_filtered_topk",
    oracle="""
        WITH base AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec
            FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, vec AS qvec FROM base WHERE vec_id < 10
        ), scored AS (
            SELECT q.query_id, b.vec_id AS neighbor_id, b.label,
                   round(
                       list_sum(list_transform(list_zip(q.qvec, b.vec),
                                               s -> s[1] * s[2]))
                       / (sqrt(list_sum(list_transform(q.qvec, x -> x * x)))
                          * sqrt(list_sum(list_transform(b.vec, x -> x * x)))), 6
                   ) AS cos_sim
            FROM q JOIN base b
              ON b.vec_id != q.query_id AND b.label = 3
        )
        SELECT query_id, neighbor_id, rank, cos_sim
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM scored
        ) t WHERE rank <= 5
    """,
    survey_ops="similarity — metadata-filtered vector search (beyond-"
    "reference; the 'WHERE label = X' ANN shape every vector store "
    "serves)",
    doc="Top-5 cosine neighbors restricted to candidates with "
    "label = 3 — filtered search as a PRE-scatter predicate, so "
    "pushdown reaches the scan and the fold never touches excluded "
    "rows (filter-then-search, not search-then-filter, which loses "
    "recall when the filter is selective).",
)
def emb_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.cosine_topk(
        e, _QUERY_IDS, k=5, candidate_filter=F.col("label") == 3
    )


# ---------------------------------------------------------------------------
# k-NN label consensus (round 10): the Confident-Learning-style label-
# noise audit every labeled training corpus runs — does each example's
# label agree with its semantic neighborhood? Pure composition of the
# green knn_graph edges (same centroid + knn-edge CTE texts).
# ---------------------------------------------------------------------------
from streamprocessing_kafka_finlight_news_dashboard_spark.plans.similarity import (  # noqa: E402
    _CENTROID_CTES,
    _KNN_EDGE_CTES,
)


@query(
    "emb_knn_label_consensus",
    oracle="WITH "
    + _CENTROID_CTES
    + _KNN_EDGE_CTES
    + """
        , nlab AS (
            SELECT e.src, e.dst, e.cos_sim, b.label AS nlabel
            FROM knn_edges e JOIN embeddings b ON b.vec_id = e.dst
        ), votes AS (
            SELECT src, nlabel, CAST(count(*) AS BIGINT) AS votes
            FROM nlab GROUP BY src, nlabel
        ), top AS (
            SELECT src, nlabel AS consensus_label, votes AS consensus_votes
            FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY src
                           ORDER BY votes DESC, nlabel ASC) AS rn
                FROM votes
            ) t WHERE rn = 1
        ), nstats AS (
            SELECT src,
                   CAST(count(*) AS BIGINT) AS n_neighbors,
                   round(CAST(sum(CAST(cos_sim AS DECIMAL(20,8))) AS DOUBLE)
                         / count(*), 6) AS mean_neighbor_sim
            FROM nlab GROUP BY src
        )
        SELECT s.vec_id, s.label AS own_label,
               t.consensus_label, t.consensus_votes,
               st.n_neighbors, st.mean_neighbor_sim,
               (t.consensus_label = s.label) AS label_agrees
        FROM embeddings s
        JOIN top    t  ON t.src  = s.vec_id
        JOIN nstats st ON st.src = s.vec_id
    """,
    survey_ops="data-quality audit — k-NN label consensus / label-noise "
    "detection (beyond-reference; the Confident-Learning-style check "
    "that an example's label agrees with its semantic neighborhood, "
    "composed from the green knn_graph edges)",
    doc="Label-noise audit over the labeled embedding corpus: for "
    "every vector with k-NN neighbors, the majority label among its "
    "top-3 cell-mate neighbors (deterministic tie-break: most votes, "
    "then smallest label), the vote count, the round-6 mean neighbor "
    "cosine (exact DECIMAL(20,8) addends -> one double division, "
    "order-independent), and whether the consensus agrees with its "
    "own label — disagreements with high mean similarity are the "
    "classic mislabel candidates (Northcutt et al., Confident "
    "Learning; the k-NN consensus form is the standard embedding-era "
    "variant). Pure composition: the edge set is emb_knn_graph's "
    "oracle-green cell-restricted top-3 graph (one scoring pass, one "
    "window), the consensus is one |edges|-row groupBy plus a "
    "3-row-per-vector vote window — nothing new touches vectors, and "
    "the plan inherits knn_graph's scale posture unchanged. Vectors "
    "whose cell has no other member have no edges and are absent, in "
    "both engines.",
)
def emb_knn_label_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.knn_label_consensus(e, k=3)


@query(
    "emb_bitext_margin_mine",
    oracle=r"""
        WITH x AS (
            SELECT vec_id AS src_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id % 2 = 0
        ), y AS (
            SELECT vec_id AS tgt_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id % 2 = 1
        ), sc AS (
            SELECT x.src_id, y.tgt_id,
                   round(
                       list_sum(list_transform(list_zip(x.v, y.v),
                                               s -> s[1] * s[2]))
                       / (sqrt(list_sum(list_transform(x.v, e -> e * e)))
                          * sqrt(list_sum(list_transform(y.v, e -> e * e)))), 6
                   ) AS sim
            FROM x CROSS JOIN y
        ), ax AS (
            SELECT src_id,
                   CAST(sum(CAST(sim AS DECIMAL(20,8))) AS DOUBLE) / count(*) AS a
            FROM (SELECT src_id, sim,
                         row_number() OVER (PARTITION BY src_id
                                            ORDER BY sim DESC, tgt_id) AS r
                  FROM sc) z
            WHERE r <= 4 GROUP BY src_id
        ), ay AS (
            SELECT tgt_id,
                   CAST(sum(CAST(sim AS DECIMAL(20,8))) AS DOUBLE) / count(*) AS a
            FROM (SELECT tgt_id, sim,
                         row_number() OVER (PARTITION BY tgt_id
                                            ORDER BY sim DESC, src_id) AS r
                  FROM sc) z
            WHERE r <= 4 GROUP BY tgt_id
        ), m AS (
            SELECT s.src_id, s.tgt_id, s.sim,
                   round(s.sim * 2 / (ax.a + ay.a), 6) AS margin
            FROM sc s JOIN ax USING (src_id) JOIN ay USING (tgt_id)
        ), fx AS (
            SELECT * FROM (
                SELECT src_id, tgt_id, sim, margin,
                       row_number() OVER (PARTITION BY src_id
                                          ORDER BY margin DESC, tgt_id) AS rx
                FROM m) z WHERE rx = 1
        ), fy AS (
            SELECT src_id, tgt_id FROM (
                SELECT src_id, tgt_id,
                       row_number() OVER (PARTITION BY tgt_id
                                          ORDER BY margin DESC, src_id) AS ry
                FROM m) z WHERE ry = 1
        )
        SELECT f.src_id, f.tgt_id, f.sim AS cos_sim, f.margin,
               (fy.src_id IS NOT NULL) AS mutual,
               (fy.src_id IS NOT NULL AND f.margin >= 1.05) AS mined
        FROM fx f
        LEFT JOIN fy ON fy.tgt_id = f.tgt_id AND fy.src_id = f.src_id
    """,
    survey_ops="parallel-corpus mining — margin-criterion bitext pair "
    "mining (beyond-reference; Artetxe & Schwenk 2019, the LASER/"
    "CCMatrix recipe: ratio margin over both directions' top-k "
    "neighborhoods, mutual-best + threshold gate)",
    doc="Margin-based bitext mining between the even-id and odd-id "
    "halves of the embedding space standing in for two monolingual "
    "corpora: per source vector its best-margin target with the "
    "hubness-cancelling ratio margin (cos over the mean of both "
    "directions' top-4 neighborhoods — exact decimal sums of round-6 "
    "cosines, id-broken ties), the mutual-best flag, and the mined "
    "verdict at the 1.05 threshold. Exact broadcast tier (the "
    "semantic_decontaminate shape); the production path "
    "cell-restricts scoring with the shared k-means quantizer.",
)
def emb_bitext_margin_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.margin_bitext_mine(e, F.col("vec_id") % 2 == 1)


@query(
    "emb_bitext_margin_mine_ivf",
    oracle=None,  # sample-fit Lloyd quantizer (driver-side training loop)
    survey_ops="parallel-corpus mining — IVF production tier of the "
    "margin miner (beyond-reference; same-cell scoring under the "
    "shared sample-fit k-means quantizer — the scale path the exact "
    "entry's contract names)",
    doc="The margin bitext miner's production tier: both sides "
    "assigned to the shared sample-fit Lloyd quantizer's cells, "
    "same-cell pairs scored via the knn_graph/_score_pairs "
    "repartition discipline (the quadratic fold never serializes "
    "onto |cells| tasks), neighborhoods/margins/mutual-best all "
    "within-cell; the source side probes its BITEXT_NPROBE_ELECTED "
    "closest cells (targets stay rank-1, so pairs never duplicate). "
    "The probe count is not a guess: it is the CALIBRATION.md "
    "election ('Margin bitext miner — IVF nprobe ladder', generated "
    "by tools/calibrate_bitext.py) — smallest rung clearing target "
    "recall >= 0.7 vs the exact tier, which is nprobe=4 at every "
    "measured SF (recall 0.784 / 0.808 / 0.746 at sf0.001/0.01/0.1 "
    "over k=8 cells; this isotropic synthetic corpus is the hostile "
    "moderate-cosine regime, CALIBRATION.md's sign-LSH finding). "
    "Deployment contract: re-run the calibration tool on the target "
    "corpus shape and update the election before changing the "
    "constant; a 0.65 recall floor at the elected rung is "
    "pytest-pinned (tests/test_similarity_ann.py), and a drift guard "
    "pins the constant to CALIBRATION.md's election line.",
)
def emb_bitext_margin_mine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    cents = S.kmeans_centroids(e, k=8, iters=4, sample_fit=4096).select(
        F.col("cell").alias("label"), "centroid"
    )
    return S.margin_bitext_mine(
        e, F.col("vec_id") % 2 == 1, centroids=cents, nprobe=BITEXT_NPROBE_ELECTED
    )


def _emb_drift_oracle() -> str:
    """DuckDB twin of the embedding-plane drift monitor: per-vector
    (norm, cosine-to-frozen-base-mean) features, then the SHARED PSI
    chain generator (operators.text.psi_sql_ctes) — same binning/
    smoothing/ln discipline and verdict bands as the documents entry.
    The reference direction is the BASE slice's per-dimension mean with
    DECIMAL-exact sums (order-independent) and round-6 components, so
    both engines score against the identical frozen vector."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as X

    return rf"""
        WITH b0 AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ), ex AS (
            SELECT unnest(range(1, len(vec) + 1)) AS pos, unnest(vec) AS x
            FROM b0 WHERE vec_id % 2 = 0
        ), mean_v AS (
            SELECT list(m ORDER BY pos) AS mvec FROM (
                SELECT pos,
                       round(CAST(sum(CAST(x AS DECIMAL(20,8))) AS DOUBLE)
                             / count(*), 6) AS m
                FROM ex GROUP BY pos) q
        ), feats AS (
            SELECT CASE WHEN vec_id % 2 = 0 THEN 'base' ELSE 'cur' END AS side,
                   round(sqrt(list_sum(list_transform(vec, x -> x * x))), 6)
                       AS vnorm,
                   round(list_sum(list_transform(
                             list_zip(vec, (SELECT mvec FROM mean_v)),
                             s -> s[1] * s[2]))
                         / (sqrt(list_sum(list_transform(vec, x -> x * x)))
                            * sqrt(list_sum(list_transform(
                                  (SELECT mvec FROM mean_v), x -> x * x)))), 6)
                       AS cos_to_ref
            FROM b0
            WHERE sqrt(list_sum(list_transform(vec, x -> x * x))) > 0
        ), {X.psi_sql_ctes("feats", ("cos_to_ref", "vnorm"))}
        SELECT * FROM psi_out ORDER BY feature
    """


@query(
    "emb_drift_psi",
    oracle=_emb_drift_oracle(),
    survey_ops="embedding-plane distribution-drift monitor "
    "(beyond-reference; the vector-space twin of doc_feature_drift_psi "
    "— are a new batch's embeddings still distributed like the corpus "
    "the index/quantizer was built on?)",
    doc="PSI between the vec-id-even (reference) and vec-id-odd "
    "(current) embedding halves over two per-vector features: L2 norm "
    "and cosine to the FROZEN base mean direction (per-dim "
    "DECIMAL-exact sums, round-6 components — the order-independent "
    "mean both engines reproduce bit-for-bit; a collapsed or shifted "
    "embedding distribution moves exactly these two marginals). "
    "Feature projections are one HOF fold per row; the PSI tail is "
    "the shared operator/SQL-generator pair, so the two drift entries "
    "cannot diverge in discipline. Zero vectors drop in both engines.",
)
def emb_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as X

    e = load_table(spark, sf_dir, "embeddings")
    v = S._dvec(F.col("embedding"))
    base_raw = S._scatter(e.filter(F.col("vec_id") % 2 == 0), "vec_id")
    # frozen reference direction: DECIMAL-exact per-dim sums (shuffle-
    # order-independent), round-6 mean components; model-sized collect
    # (|dims| rows) — the langid-profile driver-round-trip pattern
    mean_rows = (
        base_raw.select(F.posexplode(v).alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.sum(F.col("x").cast("decimal(20,8)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("dim", F.round(F.col("s").cast("double") / F.col("n"), 6).alias("m"))
        .collect()
    )
    m = F.array(
        *[F.lit(float(r.m)) for r in sorted(mean_rows, key=lambda r: r.dim)]
    )

    def feats(df: DataFrame) -> DataFrame:
        return (
            S._scatter(df, "vec_id")
            .select(
                F.round(S.norm(v), 6).alias("vnorm"),
                F.round(
                    S.dot(v, m) / (S.safe_norm(v) * S.norm(m)), 6
                ).alias("cos_to_ref"),
            )
            .filter(F.col("cos_to_ref").isNotNull())
        )

    return X.feature_drift_psi(
        feats(e.filter(F.col("vec_id") % 2 == 0)),
        feats(e.filter(F.col("vec_id") % 2 == 1)),
        ("cos_to_ref", "vnorm"),
    )


@query(
    "emb_label_centroid_similarity",
    oracle="""
        WITH b0 AS (
            SELECT label, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ), ex AS (
            SELECT label,
                   unnest(range(1, len(vec) + 1)) AS dim,
                   unnest(vec) AS x
            FROM b0
        ), means AS (
            SELECT label, dim,
                   round(CAST(sum(CAST(x AS DECIMAL(20,8))) AS DOUBLE)
                         / count(*), 6) AS m,
                   count(*) AS n
            FROM ex GROUP BY label, dim
        ), md AS (
            SELECT label, dim, CAST(m AS DECIMAL(18,6)) AS md, n FROM means
        ), norms AS (
            SELECT label, sum(md * md) AS nsq, max(n) AS n
            FROM md GROUP BY label
        ), dots AS (
            SELECT a.label AS label_a, b.label AS label_b,
                   sum(a.md * b.md) AS dot
            FROM md a JOIN md b ON a.dim = b.dim AND a.label < b.label
            GROUP BY a.label, b.label
        )
        SELECT d.label_a, d.label_b,
               CAST(na.n AS BIGINT) AS n_a,
               CAST(nb.n AS BIGINT) AS n_b,
               round(CAST(d.dot AS DOUBLE)
                     / nullif(sqrt(CAST(na.nsq AS DOUBLE))
                              * sqrt(CAST(nb.nsq AS DOUBLE)), 0.0), 6)
                   AS centroid_cosine
        FROM dots d
        JOIN norms na ON na.label = d.label_a
        JOIN norms nb ON nb.label = d.label_b
        ORDER BY label_a, label_b
    """,
    survey_ops="embedding-plane corpus audit (beyond-reference) — "
    "per-class centroid similarity matrix: the label-space geometry "
    "readout (class collapse / confusion candidates) a curation run "
    "checks before trusting labels for balanced sampling or "
    "hard-negative mining",
    doc="Pairwise cosine similarity between per-label embedding "
    "centroids: per-(label, dim) DECIMAL-exact sums -> round-6 mean "
    "components (the emb_drift_psi frozen-mean discipline, so both "
    "engines build bit-identical centroids), then centroid dot "
    "products and norms as EXACT DECIMAL(18,6) arithmetic -- "
    "order-independent sums, one final cast-to-double + sqrt/divide "
    "(identical single IEEE op sequence in both engines), round-6. "
    "Scale shape: posexplode is a rows*dims narrow shuffle with "
    "map-side partial aggregation collapsing to |labels|*|dims| "
    "immediately; everything after is model-sized (the dim-keyed "
    "self-join fans out |labels|^2 per dim). Two near-parallel "
    "centroids flag label duplication / taxonomy collapse; the n_a/"
    "n_b counts let the reader weight the verdict.",
)
def emb_label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode(S._dvec(F.col("embedding"))).alias("dim", "x")
    )
    means = ex.groupBy("label", "dim").agg(
        F.sum(F.col("x").cast("decimal(20,8)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    # |labels|·dim rows with THREE consumers (norms + both sides of the
    # dim self-join) — un-materialized, each re-ran the corpus-wide
    # posexplode + decimal-sum aggregate (4 wide scans in the r16 plan
    # audit for a 1-pass reduction; guide §2.4/§5)
    md = materialize(means).select(
        "label",
        "dim",
        F.round(F.col("s").cast("double") / F.col("n"), 6)
        .cast("decimal(18,6)")
        .alias("md"),
        "n",
    )
    norms = md.groupBy("label").agg(
        F.sum(F.col("md") * F.col("md")).alias("nsq"),
        F.max("n").alias("n"),
    )
    a, b = md.alias("a"), md.alias("b")
    dots = (
        a.join(b, (F.col("a.dim") == F.col("b.dim")) & (F.col("a.label") < F.col("b.label")))
        .groupBy(F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b"))
        .agg(F.sum(F.col("a.md") * F.col("b.md")).alias("dot"))
    )
    na = norms.select(
        F.col("label").alias("label_a"),
        F.col("nsq").alias("nsq_a"),
        F.col("n").alias("n_a"),
    )
    nb = norms.select(
        F.col("label").alias("label_b"),
        F.col("nsq").alias("nsq_b"),
        F.col("n").alias("n_b"),
    )
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                F.col("dot").cast("double")
                / F.nullif(
                    F.sqrt(F.col("nsq_a").cast("double"))
                    * F.sqrt(F.col("nsq_b").cast("double")),
                    F.lit(0.0),
                ),
                6,
            ).alias("centroid_cosine"),
        )
        .orderBy("label_a", "label_b")
    )


def _mmr_cos_sql(a_vec: str, b_vec: str) -> str:
    return (
        f"round(list_sum(list_transform(list_zip({a_vec}, {b_vec}),"
        " s -> s[1] * s[2]))"
        f" / (sqrt(list_sum(list_transform({a_vec}, x -> x * x)))"
        f" * sqrt(list_sum(list_transform({b_vec}, x -> x * x)))), 6)"
    )


def _mmr_oracle(k: int = 5, pool: int = 20, lam: float = 0.7, omlam: float = 0.3) -> str:
    """Unrolled greedy MMR as one DuckDB WITH-chain: step i picks the
    argmax of lam*rel - omlam*max(sim to already-selected) among the
    not-yet-selected candidates (row_number over the aggregate, id
    tie-break), selu_i accumulates the chosen set. lam/omlam are
    interpolated via repr() so both engines parse identical
    constants (never 1-lam at runtime — 1-0.7 is not the double 0.3);
    the first pick subtracts omlam*0.0 explicitly so every rank's
    score is the same op sequence the Spark greedy runs. The score is
    EXACT DECIMAL arithmetic (lam/omlam at scale 1 times round-6
    inputs recovered at scale 6 → exact scale-7 products and
    difference): double IEEE scoring landed on a .5 half boundary at
    the 7th decimal at sf0.01 and the two engines' round() split by
    one final digit — decimals make both the ARGMAX comparison and
    the final half-away-from-zero round(…, 6) order- and
    representation-exact (the Python twin mirrors with
    decimal.Decimal over repr())."""
    lam_s, om_s = repr(lam), repr(omlam)
    parts = [
        f"""
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, vec AS qvec FROM base WHERE vec_id < 10
        ), scored AS (
            SELECT q.query_id, b.vec_id, b.vec,
                   {_mmr_cos_sql('q.qvec', 'b.vec')} AS rel
            FROM q JOIN base b ON b.vec_id >= 10
        ), cand AS MATERIALIZED (
            SELECT query_id, vec_id, vec, rel FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY rel DESC, vec_id) AS rn
                FROM scored) t
            WHERE rn <= {pool}
        ), pair AS MATERIALIZED (
            SELECT a.query_id, a.vec_id AS a_id, b.vec_id AS b_id,
                   {_mmr_cos_sql('a.vec', 'b.vec')} AS sim
            FROM cand a JOIN cand b
              ON b.query_id = a.query_id AND b.vec_id <> a.vec_id
        ), s1 AS (
            SELECT query_id, vec_id, rel,
                   CAST({lam_s} AS DECIMAL(2,1))
                       * CAST(rel AS DECIMAL(18,6))
                   - CAST({om_s} AS DECIMAL(2,1))
                       * CAST(0.0 AS DECIMAL(18,6)) AS score
            FROM (
                SELECT query_id, vec_id, rel,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY rel DESC, vec_id) AS rn
                FROM cand) t WHERE rn = 1
        ), selu1 AS (SELECT query_id, vec_id FROM s1)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f""", s{i} AS (
            SELECT query_id, vec_id, rel, score FROM (
                SELECT c.query_id, c.vec_id, c.rel,
                       CAST({lam_s} AS DECIMAL(2,1))
                           * CAST(c.rel AS DECIMAL(18,6))
                       - CAST({om_s} AS DECIMAL(2,1))
                           * CAST(max(p.sim) AS DECIMAL(18,6)) AS score,
                       row_number() OVER (PARTITION BY c.query_id
                           ORDER BY CAST({lam_s} AS DECIMAL(2,1))
                                        * CAST(c.rel AS DECIMAL(18,6))
                                    - CAST({om_s} AS DECIMAL(2,1))
                                        * CAST(max(p.sim) AS DECIMAL(18,6))
                                    DESC, c.vec_id) AS rn
                FROM cand c
                JOIN pair p ON p.query_id = c.query_id AND p.a_id = c.vec_id
                JOIN selu{i - 1} s ON s.query_id = p.query_id
                                  AND s.vec_id = p.b_id
                WHERE NOT EXISTS (SELECT 1 FROM selu{i - 1} x
                                  WHERE x.query_id = c.query_id
                                    AND x.vec_id = c.vec_id)
                GROUP BY c.query_id, c.vec_id, c.rel) t
            WHERE rn = 1
        ), selu{i} AS (
            SELECT * FROM selu{i - 1}
            UNION ALL SELECT query_id, vec_id FROM s{i})"""
        )
    branches = []
    for i in range(1, k + 1):
        if i == 1:
            branches.append(
                f"SELECT query_id, {i} AS rank, vec_id, rel AS relevance,"
                f" CAST(round(score, 6) AS DOUBLE) AS mmr_score FROM s{i}"
            )
        else:
            branches.append(
                f"SELECT query_id, {i}, vec_id, rel,"
                f" CAST(round(score, 6) AS DOUBLE) FROM s{i}"
            )
    sel = "\n        UNION ALL ".join(branches)
    parts.append(f"\n        {sel}\n        ORDER BY query_id, rank")
    return "".join(parts)


@query(
    "emb_mmr_rerank",
    oracle=_mmr_oracle(),
    survey_ops="diversified retrieval (beyond-reference) — "
    "Maximal-Marginal-Relevance rerank over the brute-cosine "
    "candidate pool: the redundancy-aware top-k every RAG/retrieval "
    "stack puts between ANN and the context window, so near-duplicate "
    "hits can't crowd out coverage",
    doc="MMR (Carbonell & Goldstein 1998) per query: retrieve the 20 "
    "highest-cosine candidates (the ONE distributed corpus pass — "
    "exactly the exact-top-k entry's broadcast-queries shape), then "
    "greedily pick 5 maximizing lam*rel - (1-lam)*max-sim-to-selected "
    "(lam=0.7, passed with its complement as EXPLICIT literals — "
    "1-0.7 is not the double 0.3). Rank 1 is pure relevance (empty "
    "penalty, subtracted as omlam*0.0 so every rank runs the same "
    "IEEE sequence); later ranks defer near-duplicates of what's "
    "already picked. The greedy runs as applyInPandas per query "
    "GROUP over the pairwise-sim frame (|queries|*pool^2 rows; the "
    "candidate frame is localCheckpoint'd before its self-join — the "
    "r10 aliased-branch lesson), O(k*pool) python arithmetic per "
    "group on round-6 JVM values, no driver collect; the raw score "
    "is re-rounded JVM-side (F.round, never Python's half-even). The "
    "oracle unrolls the identical greedy as k chained "
    "argmax-over-aggregate CTEs with the same ascending-id "
    "tie-break.",
)
def emb_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.mmr_rerank(e, _QUERY_IDS, k=5, pool=20, lam=0.7, omlam=0.3)


#: DCG rank discounts 1/log2(i+1) for ranks 1..5, pre-scaled to 1e9
#: integer units (round-half-up at build time, same literals in BOTH
#: engines) — integer sums are order-independent, so DCG/IDCG carry no
#: float-summation ambiguity; one final /1e9 + round-6 per metric.
_DCG_UNITS = (1000000000, 630929754, 500000000, 430676558, 386852807)
_IDCG_PREFIX = (1000000000, 1630929754, 2130929754, 2561606312, 2948459119)


@query(
    "emb_retrieval_eval_report",
    oracle=f"""
        WITH base AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec
            FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, label AS qlabel, vec AS qvec
            FROM base WHERE vec_id < 10
        ), corpus AS (
            SELECT vec_id, label, vec FROM base WHERE vec_id >= 10
        ), nrel AS (
            -- count(c.vec_id), not count(*): a query label with zero
            -- relevant corpus rows must count 0 (matching the
            -- operator's coalesce-to-0), not 1 (r14 advice)
            SELECT q.query_id, CAST(count(c.vec_id) AS BIGINT) AS n_relevant
            FROM q LEFT JOIN corpus c ON c.label = q.qlabel
            GROUP BY q.query_id
        ), scored AS (
            SELECT q.query_id, q.qlabel, c.vec_id AS neighbor_id, c.label,
                   round(
                       list_sum(list_transform(list_zip(q.qvec, c.vec),
                                               s -> s[1] * s[2]))
                       / (sqrt(list_sum(list_transform(q.qvec, x -> x * x)))
                          * sqrt(list_sum(list_transform(c.vec, x -> x * x)))), 6
                   ) AS cos_sim
            FROM q JOIN corpus c ON true
        ), topk AS (
            SELECT query_id, qlabel, label,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id)
                       AS rank
            FROM scored
            QUALIFY rank <= 5
        ), per AS (
            SELECT query_id, qlabel,
                   CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
                        AS BIGINT) AS hits,
                   min(CASE WHEN label = qlabel THEN rank END) AS first_rel,
                   CAST(sum(CASE WHEN label = qlabel THEN
                       ([{', '.join(str(u) for u in _DCG_UNITS)}])[rank]
                       ELSE 0 END) AS BIGINT) AS dcg_units
            FROM topk GROUP BY query_id, qlabel
        )
        SELECT p.query_id,
               p.qlabel AS label,
               n.n_relevant,
               p.hits AS hits_at_5,
               round(p.hits / 5.0, 6) AS precision_at_5,
               round(coalesce(1.0 / p.first_rel, 0.0), 6) AS mrr,
               round(p.dcg_units / 1000000000.0, 6) AS dcg_at_5,
               round(CAST(p.dcg_units AS DOUBLE)
                     / nullif(CAST(
                         ([{', '.join(str(u) for u in _IDCG_PREFIX)}])
                             [least(n.n_relevant, 5)] AS DOUBLE), 0.0), 6)
                   AS ndcg_at_5
        FROM per p JOIN nrel n ON n.query_id = p.query_id
        ORDER BY p.query_id
    """,
    survey_ops="retrieval evaluation (beyond-reference) — the eval "
    "harness every retrieval/RAG change is judged by: per-query "
    "precision@k, MRR, DCG@k and nDCG@k of the exact cosine top-5 "
    "against label relevance",
    doc="Retrieval quality report over the exact cosine top-5 "
    "(queries = vec_id<10, corpus = the rest, binary relevance = "
    "neighbor shares the query's label): hits@5, precision@5, MRR "
    "(1/first-relevant-rank, 0 when none), DCG@5 and nDCG@5 with the "
    "ideal-DCG denominator truncated at min(|relevant corpus|, 5). "
    "Rank discounts 1/log2(i+1) are PRE-SCALED 1e9 integer constants "
    "identical in both engines — DCG/IDCG are exact integer sums "
    "(order-independent), each metric pays ONE final division + "
    "round-6. The corpus pays the same one scored pass as "
    "emb_cosine_topk; everything after is |queries|-sized. The "
    "synthetic labels are near-random w.r.t. cosine geometry, so "
    "absolute nDCG is low — the REPORT is the product, the planted "
    "pytest pins the metric math on a constructed corpus where the "
    "ideal and broken rankings are known.",
)
def emb_retrieval_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.retrieval_eval_report(e, _QUERY_IDS, k=5)
