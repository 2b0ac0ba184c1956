"""Similarity search over the ``embeddings`` table (array<float> vectors).

Beyond-reference surface: approximate-nearest-neighbor over an
embedding column. Two tiers:

- **Brute-force cosine top-k** — exact baseline: broadcast the (small)
  query set against every candidate row, dot/norm via JVM-side
  ``aggregate``/``zip_with`` (no Python), window top-k per query.
  Scales as |queries| × |corpus| — fine when queries are few; the
  corpus side stays fully distributed and never shuffles until the
  per-query top-k (keyed by query_id, k rows each).
- **IVF (inverted-file) bucketed** — scale path: k-means-style coarse
  quantizer approximated by label centroids (or any partition
  assignment), probe only the nearest bucket(s). Candidate set shrinks
  by the bucket fan-out; the only wide op is a broadcast join against
  the centroid table.

All math is done in double precision after an explicit cast so results
are reproducible against the DuckDB oracle (float32 accumulation order
would not be).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from streamprocessing_kafka_finlight_news_dashboard_spark.session import materialize, shuffle_partitions


def _dvec(col: Column) -> Column:
    return col.cast("array<double>")


def _scatter(df: DataFrame, *key_cols: str) -> DataFrame:
    """Spread a (possibly single-split) table across the cluster before
    per-row vector math. The embeddings table at small SF arrives as ONE
    parquet split, and the higher-order-function cosine runs interpreted
    (non-codegen), so without this the whole corpus scores on a single
    task. The partition count must be EXPLICIT: AQE sizes the exchange on
    the tiny pre-compute bytes and would coalesce a bare
    ``repartition(col)`` back to one partition. Same recipe as the
    document fan-out operators (text.py::langid_predictions)."""
    n_part = shuffle_partitions(df.sparkSession)
    return df.repartition(n_part, *[F.col(c) for c in key_cols])


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def safe_norm(a: Column) -> Column:
    """L2 norm, NULL for a zero (all-zeros) vector — so a later plain
    division yields NULL for degenerate vectors instead of an ANSI
    DIVIDE_BY_ZERO, without paying try_divide's per-pair overhead.
    Precompute this ONCE PER RELATION (one fold per row), never inside
    a pair expression: the r3 bench regression came from evaluating
    three interpreted higher-order folds (dot + 2 norms) per candidate
    pair when two of them are per-row constants."""
    return F.nullif(norm(a), F.lit(0.0))


def cosine(a: Column, b: Column) -> Column:
    """Per-pair cosine for one-off use. Hot paths precompute
    safe_norm per relation and divide dot by the stored norms —
    bit-identical (same fold expressions, same division order) but
    one fold per pair instead of three."""
    return dot(a, b) / (safe_norm(a) * safe_norm(b))


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidate_filter: Column | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (excluding self).

    The query side is tiny → broadcast; candidates stream by without a
    shuffle until the final per-query top-k window (partition key =
    query_id, so the sort is k·|queries| not global).

    ``candidate_filter`` restricts the CANDIDATE side only (metadata-
    filtered vector search — the standard "where label = X" ANN
    shape); queries are still drawn from the unfiltered relation, and
    the predicate is applied BEFORE the scatter so pushdown reaches
    the scan and the fold never runs on excluded rows.
    """
    cand = (
        embeddings if candidate_filter is None else embeddings.filter(candidate_filter)
    )
    base = _scatter(cand, id_col).select(
        F.col(id_col).alias("cid"), _dvec(F.col(vec_col)).alias("cvec")
    ).withColumn("cnorm", safe_norm(F.col("cvec")))
    queries = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("qvec"))
        .withColumn("qnorm", safe_norm(F.col("qvec")))
    )
    # Norms precomputed once per side: the pair expression is ONE fold
    # (the dot product), not three — see safe_norm.
    scored = base.join(F.broadcast(queries), F.col("cid") != F.col("query_id")).select(
        "query_id",
        F.col("cid").alias("neighbor_id"),
        F.round(
            dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm")), 6
        ).alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def dim_truncation_recall(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    dims: tuple[int, ...] = (64, 32, 16),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    full_width: int | None = None,
) -> DataFrame:
    """Matryoshka-style dimension-ablation report: recall@k of
    truncated-dimension cosine search against the full-dimension
    ground truth — the eval a pipeline runs before storing/serving
    shortened embeddings (MRL, Kusupati et al. 2022: if the first d'
    components carry the geometry, search on them and cut index cost
    ~dim/d').

    One row per candidate width: (dims, k, n_queries, n_hits,
    recall) where n_hits counts (query, neighbor) pairs the truncated
    top-k shares with the full top-k. The full ground truth is
    computed once and localCheckpointed (|dims| branches consume it);
    each truncated pass is the same broadcast-queries × streamed-
    candidates fold as cosine_topk on a narrower slice — the slice
    happens BEFORE the scatter, so the fold never touches the dropped
    components. Integer hit counts + one round-6 ratio keep the
    report engine-exact.

    ``full_width`` (r15, guide §1.2 "don't compute things you throw
    away"): when the caller states the table's true vector width, a
    candidate width >= it is the ground truth itself — ``slice(vec, 1,
    d)`` of a d'-wide vector with d >= d' is the whole vector, so its
    top-k is pair-for-pair the checkpointed truth and its hit count is
    |truth|. That branch becomes one aggregate over the materialized
    truth instead of a THIRD+1 full corpus scoring pass (the standard
    dims=(64,32,16) report drops from 4 corpus passes to 3)."""
    full = cosine_topk(embeddings, query_ids, k=k, id_col=id_col, vec_col=vec_col)
    truth = full.select("query_id", "neighbor_id").transform(materialize)
    denom = len(query_ids) * k
    report = None
    for d in dims:
        if full_width is not None and d >= full_width:
            # identical to truth by construction: count its rows
            row = truth.agg(F.count(F.lit(1)).alias("n_hits")).select(
                F.lit(d).cast("long").alias("dims"),
                F.lit(k).cast("long").alias("k"),
                F.lit(len(query_ids)).cast("long").alias("n_queries"),
                F.col("n_hits").cast("long"),
                F.round(F.col("n_hits") / F.lit(float(denom)), 6).alias("recall"),
            )
            report = row if report is None else report.unionByName(row)
            continue
        proj = embeddings.select(
            F.col(id_col), F.slice(F.col(vec_col), 1, d).alias(vec_col)
        )
        trunc = cosine_topk(proj, query_ids, k=k, id_col=id_col, vec_col=vec_col)
        row = (
            trunc.join(truth, ["query_id", "neighbor_id"])
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .select(
                F.lit(d).cast("long").alias("dims"),
                F.lit(k).cast("long").alias("k"),
                F.lit(len(query_ids)).cast("long").alias("n_queries"),
                F.col("n_hits").cast("long"),
                F.round(F.col("n_hits") / F.lit(float(denom)), 6).alias("recall"),
            )
        )
        report = row if report is None else report.unionByName(row)
    return report


def _label_centroid_items(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> list[tuple]:
    """Per-label mean vectors as driver-side (label, centroid) tuples —
    the collected form centroid_scores inlines as literals.

    Execution: ONE Arrow pass emits per-task (label, pos, sum, cnt)
    partials — at most |labels|·dim scalar rows per task regardless of
    corpus size (the same bounded treeAggregate shape as
    kmeans_centroids) — and the driver reduces them in deterministic
    (label, task) order. This replaced the r3 posexplode →
    groupBy(label, pos) → collect_list reassembly, which cost two
    |corpus|·dim-row shuffles and dominated the IVF family's bench
    wall-time (1.5-2.8 s of emb_ivf_topk's 3.1 s at sf0.1)."""

    def op(batches):
        import numpy as np  # executor-side
        import pandas as pd
        from pyspark import TaskContext

        tid = TaskContext.get().partitionId() if TaskContext.get() else -1
        acc_sums: dict = {}
        acc_cnt: dict = {}
        for pdf in batches:
            # NULL-label rows define no cell and are excluded from the
            # quantizer (they are still scored downstream like any
            # vector). Without this, factorize codes them -1, which
            # silently folds them into the LAST label's sum and then
            # crashes bincount on the negative code.
            pdf = pdf[pdf["_lc_label"].notna()]
            if not len(pdf):
                continue
            mat = np.array(pdf["_lc_vec"].tolist(), dtype=np.float64)
            codes, uniq = pd.factorize(pdf["_lc_label"])
            sums = np.zeros((len(uniq), mat.shape[1]))
            np.add.at(sums, codes, mat)
            cnt = np.bincount(codes, minlength=len(uniq))
            for i, lbl in enumerate(uniq):
                if lbl in acc_sums:
                    acc_sums[lbl] = acc_sums[lbl] + sums[i]
                    acc_cnt[lbl] += int(cnt[i])
                else:
                    acc_sums[lbl] = sums[i]
                    acc_cnt[lbl] = int(cnt[i])
        rows = []
        for lbl, s in acc_sums.items():
            rows.append(
                pd.DataFrame(
                    {
                        "task": tid,
                        "lbl": lbl,
                        "pos": np.arange(len(s), dtype="int32"),
                        "s": s,
                        "cnt": acc_cnt[lbl],
                    }
                )
            )
        if rows:
            yield pd.concat(rows, ignore_index=True)

    lbl_type = embeddings.schema[label_col].dataType.simpleString()
    # No repartition: partials are computed per EXISTING parquet split
    # (map-side only, zero shuffle) — at scale the splits provide the
    # parallelism, at small SF one task avoids 32 Python round-trips.
    partials = (
        embeddings.select(
            F.col(label_col).alias("_lc_label"), _dvec(F.col(vec_col)).alias("_lc_vec")
        )
        .mapInPandas(op, f"task int, lbl {lbl_type}, pos int, s double, cnt bigint")
        .collect()
    )
    # Deterministic reduce order (label, task, pos): shuffle-fetch order
    # must not wobble the float sum between runs.
    sums: dict = {}
    cnts: dict = {}
    for r in sorted(partials, key=lambda r: (str(r["lbl"]), r["task"], r["pos"])):
        key = r["lbl"]
        if key not in sums:
            sums[key] = {}
            cnts[key] = 0
        sums[key][r["pos"]] = sums[key].get(r["pos"], 0.0) + r["s"]
        if r["pos"] == 0:
            cnts[key] += r["cnt"]
    items = []
    for lbl in sorted(sums, key=str):
        dim = len(sums[lbl])
        items.append(
            (lbl, [sums[lbl][p] / cnts[lbl] for p in range(dim)])
        )
    return items


def label_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Element-wise mean vector per label — the coarse quantizer for the
    IVF path, as a (label, centroid) DataFrame. Computed via the
    bounded Arrow partial-sum reduction (_label_centroid_items)."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    spark = embeddings.sparkSession
    schema = StructType(
        [
            StructField("label", embeddings.schema[label_col].dataType),
            StructField("centroid", ArrayType(DoubleType())),
        ]
    )
    return spark.createDataFrame(_label_centroid_items(embeddings, label_col, vec_col), schema)


def sign_lsh_bands(
    embeddings: DataFrame,
    n_bands: int = 8,
    band_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH, deterministic variant: the hyperplanes are
    the coordinate axes of the first ``n_bands*band_bits`` dimensions,
    so a vector's bucket key per band is the sign pattern of
    ``band_bits`` of its components (defaults use all 64 dims as 8
    bands × 8 bits — parameter evidence in CALIBRATION.md). Banding (any shared band ⇒ candidate) trades precision
    for recall exactly like minhash-LSH banding (dedup.py).

    Output: one row per (vector, band) with the band's bucket key —
    the self-join on (band, key) replaces the O(n²) all-pairs cross
    join with |band|·Σ|bucket|² comparisons.
    """
    vec = _dvec(F.col(vec_col))
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "",
                    *[
                        (vec[b * band_bits + i] >= 0).cast("int").cast("string")
                        for i in range(band_bits)
                    ],
                ).alias("bkey"),
            )
            for b in range(n_bands)
        ]
    )
    # NARROW output on purpose: (vid, band, bkey) only. Carrying the
    # vector through the banded self-join would ship |candidates| × 2
    # full embeddings through the join + dedup shuffles (measured: the
    # dominant cost at sf0.1, and quadratic-payload at scale); callers
    # re-attach vectors by id AFTER pair dedup instead.
    return _scatter(embeddings, id_col).select(
        F.col(id_col).alias("vid"), F.explode(bands).alias("bk")
    ).select("vid", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))


def near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 8,
    band_bits: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-LSH candidates +
    exact cosine verification.

    Scale path: candidates come from the banded bucket self-join
    (uniform keys, bounded buckets) instead of an all-pairs cross
    join; each candidate pair is then verified with the exact JVM-side
    cosine. At 100 TB the band/bucket shuffle is the only wide op and
    its key space (2^band_bits per band) can be widened to keep
    buckets small — pass ``band_bits``/``n_bands`` to do exactly that
    as the corpus grows (fixed-width bands fill linearly, so the
    bucket self-join cost grows quadratically past the width they
    were sized for; tools/scale_smoke.py --emb measures both)."""
    # Candidate generation over NARROW (id, band, key) rows; the banded
    # relation is materialized once (tiny: 3 small columns per band)
    # because the self-join's differing aliases defeat ReusedExchange.
    b = sign_lsh_bands(
        embeddings, n_bands=n_bands, band_bits=band_bits, id_col=id_col, vec_col=vec_col
    ).transform(materialize, eager=True)
    left = b.select(F.col("vid").alias("id_a"), "band", "bkey")
    right = b.select(F.col("vid").alias("id_b"), "band", "bkey")
    cand = (
        left.join(right, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Vectors re-attached AFTER pair dedup: two id-keyed joins move one
    # embedding per surviving pair side instead of one per raw band
    # collision. Join strategy is left to Catalyst/AQE — broadcast at
    # small SF, shuffle-hash on a big cluster. Norms ride along from
    # ONE per-row fold so pair verification is a single dot fold.
    vecs = embeddings.select(
        F.col(id_col).alias("vid"), _dvec(F.col(vec_col)).alias("vec")
    ).withColumn("vn", safe_norm(F.col("vec")))
    cand = (
        cand.join(
            vecs.select(
                F.col("vid").alias("id_a"), F.col("vec").alias("vec_a"), F.col("vn").alias("norm_a")
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col("vid").alias("id_b"), F.col("vec").alias("vec_b"), F.col("vn").alias("norm_b")
            ),
            "id_b",
        )
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("vec_a"), F.col("vec_b")) / (F.col("norm_a") * F.col("norm_b")),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    inertia_out: list | None = None,
    sample_fit: int | None = None,
) -> DataFrame:
    """Lloyd k-means coarse quantizer over the embedding corpus —
    the real IVF cell structure (label_centroids is the degenerate
    stand-in that assumes labels cluster the space).

    Execution shape per iteration — the same pattern MLlib's KMeans
    uses internally: current centroids (k×dim, tiny by construction)
    are broadcast to executors; ONE Arrow pass assigns every vector to
    its nearest centroid by squared-L2 (|x|²−2x·C+|c|², one numpy
    matmul per batch) and emits per-batch partial (cell, count, sum)
    rows — at most k rows per task regardless of corpus size; the
    bounded partial set (≤ k·num_partitions rows) reduces to new
    means. The corpus relation is scattered and localCheckpoint-ed
    once so iterations don't replay the scan lineage. Seeding is
    deterministic: the k lowest-id vectors.

    Pass ``inertia_out`` (an empty list) to receive the total
    within-cluster squared distance measured at each assignment pass —
    the convergence history comes for free from the same partials (one
    extra scalar per cell per task), NOT from re-running the fit.

    Returns (cell int, centroid array<double>, cell_size bigint);
    cell_size is measured by a trailing assignment-only pass against
    the RETURNED centroids, so the pair is mutually consistent.

    ``sample_fit=N`` switches training to the FAISS-style recipe every
    production IVF quantizer uses: Lloyd runs DRIVER-SIDE over a
    deterministic hash-ordered sample of ≤ N vectors (a quantizer
    needs ~256 training points per centroid, not the corpus — FAISS's
    own default), and the cluster pays exactly TWO distributed passes
    regardless of ``iters``: the bounded TakeOrdered sample collect
    and the final assignment-only pass for cell sizes. This removes
    the per-iteration job-scheduling overhead that dominates the
    iterative path's wall-clock (iters+1 sequential Spark jobs);
    the iterative path remains for corpora where even the sample
    must stay distributed. With ``sample_fit``, ``inertia_out``
    reports the per-iteration inertia over the SAMPLE (driver-side),
    not the corpus.
    """
    import numpy as np

    spark = embeddings.sparkSession
    base = _scatter(embeddings, id_col).select(
        F.col(id_col).alias("id"), _dvec(F.col(vec_col)).alias("vec")
    )
    if sample_fit is not None:
        # Deterministic pseudo-random sample: md5-ordered ids collapse
        # to a bounded TakeOrderedAndProject (never a global sort
        # materialization); id tie-break keeps it total.
        # Honor the caller's sample size up to max(256·k, 128k):
        # ~256 points per centroid is already past any quantizer's
        # needs (FAISS's own default), and TakeOrdered allocates its
        # per-task selection buffers by LIMIT — a multi-million limit
        # costs ~2×LIMIT object slots in EVERY scan task regardless
        # of actual row count (heap blowup), so the cap must stay at
        # quantizer magnitude, not "fits in driver memory".
        n_sample = min(int(sample_fit), max(256 * k, 131_072))
        sample = (
            base.orderBy(F.md5(F.col("id").cast("string")), "id")
            .limit(n_sample)
            .collect()
        )
        sample.sort(key=lambda r: r["id"])
        X = np.array([r["vec"] for r in sample], dtype=np.float64)
        cents = X[:k].copy()  # same seeding rule: k lowest ids present
        for _ in range(iters):
            cn = (cents * cents).sum(axis=1)
            dist = (-2.0) * (X @ cents.T) + cn[None, :]
            cells = dist.argmin(axis=1)
            if inertia_out is not None:
                inertia_out.append(
                    float((dist[np.arange(len(X)), cells] + (X * X).sum(axis=1)).sum())
                )
            sums = np.zeros_like(cents)
            cnt = np.zeros(len(cents), dtype=np.int64)
            np.add.at(sums, cells, X)
            np.add.at(cnt, cells, 1)
            live = cnt > 0
            cents = np.where(live[:, None], sums / np.maximum(cnt, 1)[:, None], cents)
        counts = _kmeans_assign_counts(spark, base, cents)
        rows = [
            (int(c), [float(x) for x in cents[c]], int(counts[c]))
            for c in range(len(cents))
        ]
        return spark.createDataFrame(
            rows, "cell int, centroid array<double>, cell_size bigint"
        )

    vecs = materialize(base, eager=True)
    seeds = vecs.orderBy("id").limit(k).collect()
    cents = np.array([r["vec"] for r in seeds], dtype=np.float64)
    counts = np.zeros(len(cents), dtype=np.int64)

    # iters update passes + ONE trailing assignment-only pass so the
    # returned cell_size describes the RETURNED centroids' cells (the
    # pre-r4 code reported sizes measured against the penultimate
    # centroids — mutually inconsistent output).
    for it in range(iters + 1):
        assign_only = it == iters
        bc = spark.sparkContext.broadcast(cents)

        def op(batches, _bc=bc):
            import numpy as np  # executor-side
            import pandas as pd

            C = _bc.value
            kk, dim = C.shape
            cn = (C * C).sum(axis=1)
            sums = np.zeros((kk, dim))
            cnt = np.zeros(kk, dtype=np.int64)
            d2 = np.zeros(kk)
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.array(pdf["vec"].tolist(), dtype=np.float64)
                dist = (-2.0) * (X @ C.T) + cn[None, :]
                cells = dist.argmin(axis=1)
                np.add.at(sums, cells, X)
                np.add.at(cnt, cells, 1)
                # |x|² term added back so d2 is a true squared distance
                np.add.at(d2, cells, dist[np.arange(len(X)), cells] + (X * X).sum(axis=1))
            # Flat (cell, pos, component) rows — scalar columns only,
            # so the Arrow exchange never depends on nested-type
            # conversion support of the caller's session. d2 carries
            # the per-cell sum of min squared distances (inertia
            # partials) on every row; the driver reads it at pos 0.
            live = np.flatnonzero(cnt)
            yield pd.DataFrame(
                {
                    "cell": np.repeat(live, dim).astype("int32"),
                    "pos": np.tile(np.arange(dim, dtype="int32"), len(live)),
                    "s": sums[live].ravel(),
                    "cnt": np.repeat(cnt[live], dim),
                    "d2": np.repeat(d2[live], dim),
                }
            )

        # ≤ k·dim rows per task — the classic bounded treeAggregate-
        # to-driver reduction every distributed k-means performs.
        partials = vecs.mapInPandas(
            op, "cell int, pos int, s double, cnt bigint, d2 double"
        ).collect()
        sums = np.zeros_like(cents)
        counts = np.zeros(len(cents), dtype=np.int64)
        inertia = 0.0
        for r in partials:
            sums[r["cell"], r["pos"]] += r["s"]
            if r["pos"] == 0:
                counts[r["cell"]] += r["cnt"]
                inertia += r["d2"]
        bc.unpersist()
        if assign_only:
            # trailing pass measures counts against the FINAL centroids;
            # inertia_out keeps its documented length of ``iters``
            break
        if inertia_out is not None:
            inertia_out.append(inertia)
        live = counts > 0
        cents = np.where(live[:, None], sums / np.maximum(counts, 1)[:, None], cents)

    rows = [
        (int(c), [float(x) for x in cents[c]], int(counts[c]))
        for c in range(len(cents))
    ]
    return spark.createDataFrame(
        rows, "cell int, centroid array<double>, cell_size bigint"
    )


def _kmeans_assign_counts(spark, vecs: DataFrame, cents) -> "list[int]":
    """One distributed assignment-only pass: per-task (cell, count)
    partials (≤ k scalar rows each) collected and summed driver-side.
    The same bounded reduction the fit loop performs, minus the sums."""
    import numpy as np

    bc = spark.sparkContext.broadcast(cents)

    def op(batches, _bc=bc):
        import numpy as np  # executor-side
        import pandas as pd

        C = _bc.value
        cn = (C * C).sum(axis=1)
        cnt = np.zeros(len(C), dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["vec"].tolist(), dtype=np.float64)
            np.add.at(cnt, ((-2.0) * (X @ C.T) + cn[None, :]).argmin(axis=1), 1)
        live = np.flatnonzero(cnt)
        yield pd.DataFrame({"cell": live.astype("int32"), "cnt": cnt[live]})

    counts = np.zeros(len(cents), dtype=np.int64)
    for r in vecs.mapInPandas(op, "cell int, cnt bigint").collect():
        counts[r["cell"]] += r["cnt"]
    bc.unpersist()
    return counts


def kmeans_inertia_history(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[float]:
    """Total within-cluster squared distance at each of the ``iters``
    assignment passes of ONE Lloyd run (measured against that pass's
    pre-update centroids — Lloyd guarantees this sequence is
    non-increasing). The history rides on the fit's own partial sums,
    so this costs exactly one k-means run, not O(iters²) re-fits."""
    hist: list[float] = []
    kmeans_centroids(embeddings, k, iters, id_col, vec_col, inertia_out=hist)
    return hist


def centroid_scores(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    max_rank: int | None = None,
    keep_cols: list[str] | None = None,
    tier: str | None = None,
    branching: bool = False,
) -> DataFrame:
    """Every (vector, centroid) cosine with a per-vector rank — the
    shared quantizer table behind nearest_centroid (rank=1) and the
    IVF probe list (rank ≤ nprobe).

    Execution shape: the quantizer table is BY CONSTRUCTION tiny (a
    coarse quantizer has at most thousands of cells), so it is
    collected once at plan-build time and inlined as literal arrays.
    Each row then computes its k cosines, sorts the k (sim, label)
    structs in-row, and posexplodes the top ``max_rank`` — a pure
    projection: NO crossJoin row expansion, NO per-vector rank window
    (which shuffled |corpus|·k rows CARRYING VECTORS — the r3 bench
    regression), no materialization barrier. Past 512 cells the
    driver-side literal plan itself bloats (py4j expression
    construction is linear in k·dim), so the Arrow matrix tier takes
    over: broadcast centroid matrix + one mapInPandas matmul per
    batch, same output contract (equality-pinned in tests).
    ``tier`` forces a path: 'literal' | 'arrow' (default: by k).
    ``branching=True`` tells the Arrow tier the caller consumes the
    result from MULTIPLE branches (self-joins) — it lazily
    checkpoints so the corpus-wide matmul runs once, not per branch;
    single-consumer callers leave it off and pay no materialization.

    Output adds ``cs_norm`` (NULL for a zero vector) so downstream
    exact scoring reuses the per-row norm instead of re-folding it.

    ``centroids`` overrides the quantizer table (any (label, centroid)
    relation — e.g. kmeans_centroids renamed); default is the
    label-mean quantizer. ``keep_cols`` carries extra input columns
    through unchanged."""
    import math

    if centroids is not None:
        raw = [
            (r["label"], list(r["centroid"]))
            for r in centroids.select(F.col("label"), F.col("centroid")).collect()
        ]
        lbl_type = centroids.schema["label"].dataType.simpleString()
    else:
        raw = _label_centroid_items(embeddings, label_col, vec_col)
        lbl_type = embeddings.schema[label_col].dataType.simpleString()
    if not raw:
        raise ValueError(
            "centroid_scores: empty quantizer (no centroids / no labeled rows)"
        )
    if tier == "arrow" or (tier is None and len(raw) > 512):
        # Past the literal-inline limit the scalable shape is NOT the
        # crossJoin+window (|corpus|·k rows carrying vectors — the r3
        # regression pattern) but a broadcast centroid MATRIX + one
        # Arrow pass per row batch (the same shape as the kmeans
        # assignment step).
        return _centroid_scores_arrow(
            embeddings, id_col, vec_col, raw, max_rank, keep_cols, lbl_type, branching
        )
    # Python floats ARE IEEE doubles and this is the same sequential
    # fold the JVM tier runs, so the literal norms are bit-identical
    # to norm() evaluated in-plan.
    items = []
    for lbl, cvec in raw:
        acc = 0.0
        for v in cvec:
            acc += v * v
        n = math.sqrt(acc)
        items.append((lbl, cvec, n if n != 0.0 else None))

    extra = list(keep_cols or [])
    vecs = _scatter(embeddings, id_col).select(
        F.col(id_col).alias("cs_id"), _dvec(F.col(vec_col)).alias("cs_vec"), *extra
    ).withColumn("cs_norm", safe_norm(F.col("cs_vec")))
    sims = F.array(
        *[
            F.struct(
                F.round(
                    dot(F.col("cs_vec"), F.lit(cvec))
                    / (F.col("cs_norm") * F.lit(cn).cast("double")),
                    6,
                ).alias("centroid_sim"),
                F.lit(lbl).alias("clabel"),
            )
            for (lbl, cvec, cn) in items
        ]
    )
    # In-row sort replaces the rank window; NULL sims (zero vectors)
    # sort last exactly as F.desc would.
    ranked = F.array_sort(
        sims,
        lambda left, right: F.when(
            F.coalesce(left.centroid_sim, F.lit(-2.0))
            > F.coalesce(right.centroid_sim, F.lit(-2.0)),
            F.lit(-1),
        )
        .when(
            F.coalesce(left.centroid_sim, F.lit(-2.0))
            < F.coalesce(right.centroid_sim, F.lit(-2.0)),
            F.lit(1),
        )
        .when(left.clabel < right.clabel, F.lit(-1))
        .when(left.clabel > right.clabel, F.lit(1))
        .otherwise(F.lit(0)),
    )
    if max_rank is not None:
        ranked = F.slice(ranked, 1, max_rank)
    out = vecs.select(
        "cs_id", "cs_vec", "cs_norm", *extra, F.posexplode(ranked).alias("pos", "sc")
    )
    return out.select(
        "cs_id",
        "cs_vec",
        "cs_norm",
        *extra,
        F.col("sc.clabel").alias("clabel"),
        F.col("sc.centroid_sim").alias("centroid_sim"),
        (F.col("pos") + 1).alias("cell_rank"),
    )


def _centroid_scores_arrow(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    items: list,
    max_rank: int | None,
    keep_cols: list[str] | None,
    lbl_type: str,
    branching: bool = False,
) -> DataFrame:
    """centroid_scores for quantizers too large to inline as literals
    (k > 512): centroid matrix broadcast once, ONE mapInPandas pass
    computes each row's k cosines as a numpy matmul and emits only the
    top ``max_rank`` (sim, label) entries — same output schema and
    ordering contract as the literal path (round-6 sim desc, label
    asc, NULL sims last), equality-pinned in tests. Replaces the
    pre-r4 crossJoin+window fallback, which shuffled |corpus|·k rows
    CARRYING VECTORS (the exact shape behind the r3 bench regression).

    Ranking happens on the numpy-rounded sim (half-even at the 1e-6
    ulp boundary vs Java's half-up — same measure-zero caveat as
    cosine_topk_arrow); the emitted sim value itself is rounded
    JVM-side so values are bit-identical to the literal tier.
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    labels = [lbl for lbl, _ in items]
    # tie-break order: ascending label, as the literal comparator does
    label_rank = np.empty(len(labels), dtype=np.int64)
    label_rank[np.argsort(np.array(labels, dtype=object), kind="stable")] = np.arange(
        len(labels)
    )
    C = np.array([cvec for _, cvec in items], dtype=np.float64)
    cnorm = np.linalg.norm(C, axis=1)
    Cn = C / np.where(cnorm == 0.0, 1.0, cnorm)[:, None]
    Cn[cnorm == 0.0] = np.nan  # zero centroid → NULL sims, sort last
    # Broadcast lifetime note: unlike _kmeans_assign_counts (which
    # unpersists after its own collect), this broadcast backs a LAZY
    # DataFrame the caller may evaluate any number of times — an eager
    # unpersist here would fail those later evaluations, so the block
    # lives until the SparkContext GCs it (ContextCleaner reclaims it
    # once the returned plan is unreachable). Sessions creating many
    # large quantizers should reuse centroid tables rather than
    # rebuilding per query.
    bc = spark.sparkContext.broadcast((labels, label_rank, Cn))
    m = min(max_rank or len(labels), len(labels))
    extra = list(keep_cols or [])

    id_type = dict(
        (f.name, f.dataType.simpleString()) for f in embeddings.schema.fields
    )
    # lbl_type comes from the quantizer's own schema (caller), NOT
    # from the first value — bigint labels must not truncate to int32
    keep_schema = "".join(f", {c} {id_type[c]}" for c in extra)
    out_schema = (
        f"cs_id {id_type[id_col]}, cs_vec array<double>, cs_norm double"
        f"{keep_schema}, clabel {lbl_type}, _raw_sim double, cell_rank int"
    )

    def op(batches, _bc=bc, _m=m, _extra=tuple(extra)):
        import numpy as np  # executor-side
        import pandas as pd

        b_labels, b_lrank, b_Cn = _bc.value
        lab_arr = np.array(b_labels)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["_vec"].tolist(), dtype=np.float64)
            xn = np.linalg.norm(X, axis=1)
            zero = xn == 0.0
            sims = (X / np.where(zero, 1.0, xn)[:, None]) @ b_Cn.T  # (n, k)
            sims[zero] = np.nan
            key = np.round(sims, 6)
            # sort each row by (-sim, label asc); NaN (NULL sim) last
            ordr = np.lexsort((np.broadcast_to(b_lrank, key.shape), -key), axis=1)[
                :, :_m
            ]
            n = len(X)
            ridx = np.repeat(np.arange(n), _m)
            top = ordr.ravel()
            out = {
                "cs_id": pdf["_id"].to_numpy()[ridx],
                "cs_vec": [X[i].tolist() for i in ridx],
                "cs_norm": np.where(zero, np.nan, xn)[ridx],
            }
            for c in _extra:
                out[c] = pdf[c].to_numpy()[ridx]
            out["clabel"] = lab_arr[top]
            out["_raw_sim"] = sims[ridx, top]
            out["cell_rank"] = np.tile(np.arange(1, _m + 1, dtype=np.int32), n)
            yield pd.DataFrame(out)

    src = _scatter(embeddings, id_col).select(
        F.col(id_col).alias("_id"), _dvec(F.col(vec_col)).alias("_vec"), *extra
    )
    out = src.mapInPandas(op, out_schema).select(
        "cs_id",
        "cs_vec",
        F.nanvl(F.col("cs_norm"), F.lit(None).cast("double")).alias("cs_norm"),
        *extra,
        "clabel",
        F.round(
            F.nanvl(F.col("_raw_sim"), F.lit(None).cast("double")), 6
        ).alias("centroid_sim"),
        "cell_rank",
    )
    if branching:
        # Consumers that branch (ivf_topk's corpus + probe sides,
        # knn_graph's self-join) would otherwise run the corpus-wide
        # matmul once PER BRANCH — aliased branches defeat
        # ReusedExchange. Lazy (not eager) so plan-build stays free;
        # the first action materializes, later branches reuse.
        # Callers with their OWN materialization (semdedup) or a
        # single consumer leave branching off and pay nothing.
        out = materialize(out)
    return out


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 3,
    nprobe: int = 3,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize every
    corpus vector to its nearest centroid, then search only the
    query's ``nprobe`` closest cells. Neighbors quantized outside the
    probed cells are missed — that is the accuracy/cost trade; on
    cluster-free data recall ≈ nprobe/n_cells, on clustered data far
    higher. Per-query candidates shrink |corpus| → nprobe·|cell|; the
    centroid table is broadcast, the candidate join is an equi join
    on the cell id. Pass ``centroids`` (any (label, centroid)
    relation, e.g. the Lloyd quantizer's cells) to override the
    label-mean quantizer."""
    # Since r4, centroid_scores is a pure projection (inlined literal
    # centroids, in-row rank) — recomputing it per branch is cheaper
    # than the r3 localCheckpoint materialization was, and the probe
    # branch only ever evaluates the query rows' projections.
    scores = centroid_scores(
        embeddings,
        id_col,
        label_col,
        vec_col,
        centroids=centroids,
        max_rank=nprobe,
        branching=True,
    )
    corpus = scores.filter(F.col("cell_rank") == 1).select(
        F.col("cs_id").alias("cid"),
        F.col("cs_vec").alias("cvec"),
        F.col("cs_norm").alias("cnorm"),
        F.col("clabel").alias("cell"),
    )
    query_cells = (
        scores.filter(F.col("cs_id").isin(query_ids) & (F.col("cell_rank") <= nprobe))
        .select(
            F.col("cs_id").alias("query_id"),
            F.col("cs_vec").alias("qvec"),
            F.col("cs_norm").alias("qnorm"),
            F.col("clabel").alias("qcell"),
        )
    )
    scored = corpus.join(
        F.broadcast(query_cells),
        (F.col("cell") == F.col("qcell")) & (F.col("cid") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("cid").alias("neighbor_id"),
        F.round(
            dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm")), 6
        ).alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def nearest_centroid(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest label centroid by cosine —
    both the IVF probe step and a 1-NN classifier over the label
    column. Routed through centroid_scores' pure-projection rank
    (inlined literal centroids, in-row top-1) — no crossJoin
    expansion, no rank window."""
    scores = centroid_scores(
        embeddings, id_col, label_col, vec_col, max_rank=1, keep_cols=[label_col]
    )
    return scores.select(
        F.col("cs_id").alias(id_col),
        label_col,
        F.col("clabel").alias("pred_label"),
        F.col("centroid_sim"),
        (F.col("clabel") == F.col(label_col)).alias("label_match"),
    )


def cluster_balanced_sample(
    embeddings: DataFrame,
    quota: int = 40,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    tier: str | None = None,
) -> DataFrame:
    """Cluster-balanced diversity sampling: cap every quantizer cell at
    ``quota`` vectors, chosen in deterministic md5-of-id order — the
    data-selection step that keeps a training mix from being dominated
    by its densest semantic regions (the cluster-balanced sampling
    used alongside SemDeDup-style curation; complements
    doc_mixture_sample's metadata-weighted sampling with an
    EMBEDDING-space balance).

    Plan: one cell assignment (pure projection / Arrow matrix tier),
    then a per-cell rank window keyed by the cell id — the md5 sort
    key makes the within-cell choice reproducible across engines and
    runs, never a bare rand(). Output is one row per vector with its
    cell, sample rank, cell size, and the keep flag (rank ≤ quota);
    filtering ``keep`` yields the balanced corpus.
    """
    scores = centroid_scores(
        embeddings, id_col, label_col, vec_col, centroids=centroids, max_rank=1, tier=tier
    )
    sort_key = F.md5(F.col("cs_id").cast("string"))
    w = W.partitionBy("cell").orderBy(sort_key, F.asc("cs_id"))
    return (
        scores.select(F.col("cs_id"), F.col("clabel").alias("cell"))
        .withColumn("sample_rank", F.row_number().over(w))
        .withColumn("cell_size", F.count("*").over(W.partitionBy("cell")))
        .select(
            F.col("cs_id").alias(id_col),
            "cell",
            "sample_rank",
            "cell_size",
            (F.col("sample_rank") <= F.lit(quota)).alias("keep"),
        )
    )


def quantize_int8_report(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization with a
    reconstruction-error report — the compression step a 100 TB
    embedding store applies before ANN indexing (4× smaller than
    float32, 8× smaller than the double math used here).

    scale = max|v| / 127 (guarded against all-zero vectors);
    q_i = floor(v_i / scale + 0.5) — explicit half-up rounding, NOT
    round(), because engines disagree on half-even vs half-away ties.
    Emits per-vector scalars only (scale, quantized L1 mass, RMSE and
    max reconstruction error) so results hash-compare across engines
    without array-representation ambiguity."""
    vec = _dvec(F.col(vec_col))
    dim = F.size(vec)
    scale = F.greatest(
        F.array_max(F.transform(vec, lambda x: F.abs(x))) / F.lit(127.0),
        F.lit(1e-12),
    )
    # The raw scale column must NOT be named like the rounded output
    # column: Spark's lateral column alias resolution makes later
    # expressions in the same select list bind to the `round(s,6) AS
    # scale` alias instead of the input column, silently quantizing
    # with the ROUNDED scale (caught by the DuckDB oracle).
    with_scale = _scatter(embeddings, id_col).select(
        F.col(id_col), vec.alias("v"), scale.alias("_s_raw"), dim.alias("dim")
    )
    s = F.col("_s_raw")
    recon_err = F.transform(
        F.col("v"), lambda x: x - F.floor(x / s + F.lit(0.5)) * s
    )
    qabs = F.transform(F.col("v"), lambda qx: F.abs(F.floor(qx / s + F.lit(0.5))))
    return with_scale.select(
        id_col,
        F.round(s, 6).alias("scale"),
        F.aggregate(qabs, F.lit(0.0), lambda qa, qb: qa + qb)
        .cast("long")
        .alias("q_l1_mass"),
        F.round(
            F.sqrt(
                F.aggregate(recon_err, F.lit(0.0), lambda acc, err: acc + err * err)
                / F.col("dim")
            ),
            6,
        ).alias("rmse"),
        F.round(
            F.greatest(F.array_max(recon_err), -F.array_min(recon_err)), 6
        ).alias("max_err"),
    )


def cosine_topk_arrow(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k, Arrow/numpy tier: the scale path for
    when the interpreted higher-order-function math (cosine_topk)
    becomes the bottleneck. Each mapInPandas batch stacks its vectors
    into one (n, d) float64 matrix and scores ALL queries with a
    single BLAS matmul, then keeps a per-batch partial top-k via
    argpartition — so the shuffle carries at most
    |batches|·|queries|·k rows into the final exact top-k window,
    not |corpus|·|queries|.

    The query matrix reaches executors through a SparkContext
    broadcast of a (tiny) collected query set — same pattern as
    broadcasting centroids; this is a bounded driver collect, not a
    hot-path one. The final window ranks by the ROUND-6 cosine with
    the neighbor-id tie-break — the same deterministic ordering the
    HOF tier and the SQL oracle use — so rank assignment is immune to
    the last-ulp difference between numpy's pairwise summation and a
    sequential fold. The per-batch partial selects its k+1 rows under
    that SAME total ordering (lexsort on round-6 sim desc, id asc;
    +1 covers the self-match removed later), so the global top-k is
    exactly the merge of per-batch top-ks — no tie of ANY width can
    straddle a batch cut (a raw-score argpartition with fixed padding
    could evict a tied row when a batch holds more than pad equal
    round-6 scores, e.g. many exact-duplicate vectors). Pinned by an
    exact-pairs pytest against the HOF tier AND the shared DuckDB
    oracle."""
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    qrows = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("qid"), _dvec(F.col(vec_col)).alias("qvec"))
        .collect()
    )
    qids = np.array([r.qid for r in qrows], dtype=np.int64)
    qmat = np.array([r.qvec for r in qrows], dtype=np.float64)
    # zero-norm guard mirroring the corpus side: a degenerate all-zeros
    # query must yield no neighbors (HOF tier: NULL cosines sort last),
    # not a row of NaNs that F.desc sorts FIRST
    qnorms = np.linalg.norm(qmat, axis=1, keepdims=True)
    qnorms[qnorms == 0.0] = 1.0
    qmat = qmat / qnorms
    bc = spark.sparkContext.broadcast((qids, qmat))

    out_schema = "query_id long, neighbor_id long, cos_sim double"

    def score_batches(batches):
        b_qids, b_qmat = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["cid"].to_numpy(dtype=np.int64)
            mat = np.stack(pdf["cvec"].to_numpy())
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            sims = (mat / norms) @ b_qmat.T  # (n, nq)
            # per-query partial top-(k+1) under the FINAL total
            # ordering: round-6 sim desc, neighbor id asc. lexsort's
            # last key is primary, so (ids, -rounded) ranks exactly
            # as the downstream window will.
            key = np.round(sims, 6)
            take = min(k + 1, len(ids))
            rows = []
            for qi in range(len(b_qids)):
                sel = np.lexsort((ids, -key[:, qi]))[:take]
                rows.append(
                    pd.DataFrame(
                        {
                            "query_id": b_qids[qi],
                            "neighbor_id": ids[sel],
                            "cos_sim": sims[sel, qi],
                        }
                    )
                )
            yield pd.concat(rows, ignore_index=True)

    base = _scatter(embeddings, id_col).select(
        F.col(id_col).alias("cid"), _dvec(F.col(vec_col)).alias("cvec")
    )
    partial = base.mapInPandas(score_batches, out_schema).withColumn(
        "cos_sim", F.round("cos_sim", 6)
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        partial.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def _score_pairs(
    cand: DataFrame,
    vecs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Exact cosine for candidate id pairs via uniform repartition +
    id-keyed vector re-attach — the shared scoring stage of semdedup
    and knn_graph.

    ``cand`` is NARROW (a_col, b_col) id pairs from any candidate
    generator (cell self-join, LSH buckets); ``vecs`` is the unique
    (vid, vec, vnorm) relation. The explicit repartition on the pair
    ids matters in the SMALL-corpus case, where both vector attaches
    broadcast and the scoring stage would otherwise inherit the
    candidate join's ≤|cells| output partitions — the folds serialize
    onto a handful of tasks (measured 14 s vs 2 s at sf0.1 in
    semdedup; the same serialization made knn_graph the slowest of
    the embedding family in the 20× smoke despite doing less work
    than semdedup). At large scale the attach joins plan as shuffle
    joins whose own hash(id) exchange replaces this layout — the
    extra shuffle is then redundant but cheap: narrow 2-column rows.
    Per-row norms are precomputed so the pair expression is a single
    fold."""
    n_part = shuffle_partitions(cand.sparkSession)
    cand = cand.repartition(n_part, F.col(a_col), F.col(b_col))
    return (
        cand.join(
            vecs.select(
                F.col("vid").alias(a_col),
                F.col("vec").alias("vec_a"),
                F.col("vnorm").alias("norm_a"),
            ),
            a_col,
        )
        .join(
            vecs.select(
                F.col("vid").alias(b_col),
                F.col("vec").alias("vec_b"),
                F.col("vnorm").alias("norm_b"),
            ),
            b_col,
        )
        .select(
            a_col,
            b_col,
            F.round(
                dot(F.col("vec_a"), F.col("vec_b"))
                / (F.col("norm_a") * F.col("norm_b")),
                6,
            ).alias("cos_sim"),
        )
    )


def semdedup(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    tier: str | None = None,
    scored_und: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public method): coarse-cluster every vector,
    call same-cell pairs with cosine ≥ ``threshold`` semantic
    duplicates, close them transitively, and keep ONE representative
    per duplicate group — the member LEAST similar to its cell
    centroid (the paper's keep-the-edge-examples diversity heuristic;
    deterministic round-6 sim ordering with a vec_id tie-break,
    NULLs — zero vectors — last, matching ANSI ASC).

    Execution shape, in order:
    1. cell assignment — centroid_scores' pure projection (inlined
       literal quantizer, in-row argmax; no crossJoin, no window);
       the narrow (id, vec, norm, cell, sim) relation is
       localCheckpoint-ed ONCE because three branches reuse it and
       aliased self-join branches defeat ReusedExchange.
    2. within-cell pair scoring — candidates from ONE narrow equi
       self-join on the cell id (never a cross join), then an
       explicit uniform repartition and id-keyed vector re-attach so
       the fold work spreads across the cluster even when the cell
       key has only a handful of values; per-row norms are
       precomputed so the pair expression is a single fold.
       Quadratic in |cell| BY THE PAPER'S OWN DESIGN: the quantizer's
       k must grow with the corpus (k ≈ |corpus| / target_cell_size
       keeps per-cell work constant — pass a Lloyd ``centroids``
       table sized that way).
    3. duplicate groups — graph-contraction connected components over
       the pair graph (O(log diameter) rounds, edge set collapses
       after round 1).
    4. representative election — per-group min-sim window keyed by
       the group id (bounded groups → bounded partitions).

    Returns one row per vector: (id, cell, dup_cluster_id,
    centroid_sim, cluster_size, keep). Filtering ``keep`` yields the
    deduplicated corpus; ``cluster_size > 1 AND NOT keep`` is the
    pruned mass.
    """
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.dedup import connected_components

    if scored_und is not None:
        # Caller supplied the undirected scored cell-mate relation
        # (knn_scored_edges(directed=False), same quantizer — the
        # cross-plane manifest shares ONE materialized scoring pass
        # across the SemDeDup and PageRank subtrees). The assignment
        # here only feeds the representative election, a single
        # consumer of a pure projection: no vectors carried, no
        # checkpoint needed.
        assign = centroid_scores(
            embeddings,
            id_col,
            label_col,
            vec_col,
            centroids=centroids,
            max_rank=1,
            tier=tier,
        ).select(
            F.col("cs_id").alias("vid"),
            F.col("clabel").alias("cell"),
            "centroid_sim",
        )
        pairs = scored_und.filter(F.col("cos_sim") >= F.lit(threshold))
    else:
        assign = (
            centroid_scores(
                embeddings,
                id_col,
                label_col,
                vec_col,
                centroids=centroids,
                max_rank=1,
                tier=tier,
            )
            .select(
                F.col("cs_id").alias("vid"),
                F.col("cs_vec").alias("vec"),
                F.col("cs_norm").alias("vnorm"),
                F.col("clabel").alias("cell"),
                "centroid_sim",
            )
            .transform(materialize, eager=True)
        )
        # Candidate generation NARROW (id, cell) and scoring on an
        # id-keyed re-attach, NOT inline in the cell join: the cell key
        # has very low cardinality (a handful of label cells at small
        # quantizers), so scoring in the join projection would serialize
        # the O(|cell|²) folds onto ≤|cells| tasks. The explicit uniform
        # repartition between candidates and scoring is what spreads the
        # quadratic stage across the cluster — same narrow-rows pattern
        # as sign-LSH (r3 rework).
        narrow = assign.select("vid", "cell")
        cand = (
            narrow.select(F.col("vid").alias("id_a"), "cell")
            .join(narrow.select(F.col("vid").alias("id_b"), "cell"), "cell")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        pairs = _score_pairs(cand, assign.select("vid", "vec", "vnorm")).filter(
            F.col("cos_sim") >= F.lit(threshold)
        )
    cc = connected_components(
        pairs.select("id_a", "id_b"), embeddings.select(F.col(id_col)), id_col=id_col
    ).select(F.col(id_col).alias("vid"), F.col("cluster_id").alias("dup_cluster_id"))
    w_rep = W.partitionBy("dup_cluster_id").orderBy(
        F.asc_nulls_last("centroid_sim"), F.asc("vid")
    )
    return (
        assign.select("vid", "cell", "centroid_sim")
        .join(cc, "vid")
        .withColumn("cluster_size", F.count("*").over(W.partitionBy("dup_cluster_id")))
        .withColumn("keep", F.row_number().over(w_rep) == F.lit(1))
        .select(
            F.col("vid").alias(id_col),
            "cell",
            "dup_cluster_id",
            "centroid_sim",
            "cluster_size",
            "keep",
        )
    )


def knn_graph(
    embeddings: DataFrame,
    k: int = 3,
    nprobe: int = 1,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    tier: str | None = None,
    max_sim: float | None = None,
    scored_und: DataFrame | None = None,
) -> DataFrame:
    """Corpus-wide approximate k-NN graph: EVERY vector gets its top-k
    neighbors among vectors sharing its cell — the workload behind
    SemDeDup-style semantic dedup and graph-based diversity sampling,
    where the 'queries' are the whole corpus, not a handful of probes.

    Plan: one cell assignment (broadcast centroids), then a self
    equi-join on the cell id — candidates per vector shrink from
    |corpus| to |cell|, and the join NEVER degenerates into a cross
    product (guarded in tests). Neighbors in other cells are missed;
    ``nprobe`` raises recall by assigning each vector to its m closest
    cells on the PROBE side only (m·|rows| probe rows; the corpus side
    stays rank-1, so edges never duplicate) — the same trade ivf_topk
    makes.

    The cell join emits NARROW (src_id, neighbor_id) candidates only;
    exact cosines are computed by :func:`_score_pairs` after a uniform
    pair-keyed repartition and id-keyed vector re-attach. Scoring
    inline in the join projection would evaluate the folds in the
    join's output partitions — keyed by the low-cardinality cell id,
    serializing the quadratic work onto ≤|cells| tasks (this made
    knn_graph the slowest embedding query in the 20× scale smoke even
    though semdedup runs the same join plus connected components on
    top).

    ``max_sim`` turns the graph into a HARD-NEGATIVE miner (the
    retrieval/embedding-training workload: the most similar neighbors
    that are NOT near-duplicates): scored pairs at or above the
    ceiling are dropped before the per-source top-k window, so every
    anchor still gets a full k among its sub-threshold cell-mates.

    ``scored_und`` short-circuits the scoring: a precomputed
    UNDIRECTED scored relation (knn_scored_edges(directed=False),
    same quantizer) is mirrored in place of re-running the quadratic
    pass — the sharing hook for compositions that also consume the
    same relation elsewhere (the curation manifest's SemDeDup
    subtree). Only valid with nprobe=1 (the symmetric candidate set).
    """
    if scored_und is not None:
        if nprobe != 1:
            raise ValueError("knn_graph: scored_und requires nprobe=1")
        scored = mirror_undirected(scored_und)
    else:
        scored = knn_scored_edges(
            embeddings,
            nprobe=nprobe,
            id_col=id_col,
            label_col=label_col,
            vec_col=vec_col,
            centroids=centroids,
            tier=tier,
        )
    if max_sim is not None:
        # hard-negative mode: drop the (near-)duplicate band BEFORE the
        # per-source window, so each source still receives a full top-k
        # among its sub-threshold cell-mates (filtering the truncated
        # top-k instead would silently under-fill)
        scored = scored.filter(F.col("cos_sim") < F.lit(max_sim))
    w = W.partitionBy("src_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "neighbor_id", "rank", "cos_sim")
    )


def mirror_undirected(und: DataFrame) -> DataFrame:
    """Undirected (id_a, id_b, cos_sim) → directed (src_id,
    neighbor_id, cos_sim): every scored edge emitted in both
    directions by one inline explode — a single pass, no self-union,
    so the upstream scoring subtree is never evaluated twice. Public
    because compositions that checkpoint the undirected half-relation
    (half the materialized rows) mirror it per consumer."""
    return und.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src_id"),
                    F.col("id_b").alias("neighbor_id"),
                    F.col("cos_sim"),
                ),
                F.struct(
                    F.col("id_b").alias("src_id"),
                    F.col("id_a").alias("neighbor_id"),
                    F.col("cos_sim"),
                ),
            )
        ).alias("e")
    ).select("e.src_id", "e.neighbor_id", "e.cos_sim")


def knn_scored_edges(
    embeddings: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    tier: str | None = None,
    directed: bool = True,
) -> DataFrame:
    """The scored cell-mate relation UNDER :func:`knn_graph` — every
    directed (src_id, neighbor_id, cos_sim) pair sharing a cell, with
    exact cosines, BEFORE any band filter or top-k window.

    Exposed so compositions that window the same scored relation more
    than once (contrastive triplet mining: top-1 overall for the
    positive, top-1 below the dup band for the negative) can score
    every cell-mate pair ONCE — localCheckpoint the result, then
    derive each view with its own window — instead of re-running the
    quadratic scoring pass per view. The oracle's shape (one ``scored``
    CTE, two windows) is exactly this plan.

    ``directed=False`` (nprobe=1 only) returns the UNDIRECTED
    half-relation (id_a < id_b) — half the rows to materialize when a
    composition checkpoints it and shares it across subtrees with
    different edge orientations (semdedup wants undirected pairs for
    connected components; knn_graph mirrors via
    :func:`mirror_undirected`).
    """
    if not directed and nprobe != 1:
        raise ValueError("knn_scored_edges: directed=False requires nprobe=1")
    scores = centroid_scores(
        embeddings,
        id_col,
        label_col,
        vec_col,
        centroids=centroids,
        max_rank=nprobe,
        tier=tier,
        branching=True,
    )
    # The rank-1 assignment feeds FOUR aliased branches (both sides of
    # the cell candidate join + both vector attaches in _score_pairs),
    # and on the literal tier centroid_scores is a pure projection, so
    # without a materialization each branch re-runs the scatter
    # exchange AND the per-row argmax/norm folds over the full corpus
    # (the r16 plan dumps showed 4 wide parquet scans per scored-edges
    # build; guide §2.4/§5 — the same aliased-branch pattern semdedup's
    # standalone path already checkpoints against). One lazy
    # localCheckpoint of the (vid, vec, vnorm, cell) projection runs
    # the assignment once; every knn_graph/pagerank/triplets/manifest
    # composition inherits the fix.
    corpus = (
        scores.filter(F.col("cell_rank") == 1)
        .select(
            F.col("cs_id").alias("vid"),
            F.col("cs_vec").alias("vec"),
            F.col("cs_norm").alias("vnorm"),
            F.col("clabel").alias("cell"),
        )
        .transform(materialize)
    )
    vecs = corpus.select("vid", "vec", "vnorm")
    corpus_n = corpus.select(F.col("vid").alias("neighbor_id"), "cell")
    if nprobe == 1:
        # Probe side == corpus side, so the candidate set is symmetric:
        # score each UNDIRECTED pair once (half the folds and half the
        # vector-carrying attach shuffle of the directed formulation),
        # then mirror every scored edge with an inline explode — one
        # pass over the scored rows, no self-union, so the scoring
        # subtree is never evaluated twice.
        half = (
            corpus_n.select(F.col("neighbor_id").alias("id_a"), "cell")
            .join(
                corpus_n.select(F.col("neighbor_id").alias("id_b"), "cell"), "cell"
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        und = _score_pairs(half, vecs)
        if not directed:
            return und.select("id_a", "id_b", "cos_sim")
        scored = mirror_undirected(und)
    else:
        # nprobe > 1 breaks the symmetry (a may probe b's cell without
        # b probing a's) — score directed candidates.
        cand = (
            scores.select(
                F.col("cs_id").alias("src_id"), F.col("clabel").alias("cell")
            )
            .join(corpus_n, "cell")
            .filter(F.col("neighbor_id") != F.col("src_id"))
            .select("src_id", "neighbor_id")
        )
        scored = _score_pairs(cand, vecs, a_col="src_id", b_col="neighbor_id")
    return scored


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search" — public method): compressed-domain ANN.
# ---------------------------------------------------------------------------
def _pq_dims(embeddings: DataFrame, vec_col: str, m: int) -> tuple[int, int]:
    """(dim, dsub) probed from one row — bounded plan-build lookup."""
    dim = embeddings.select(F.size(F.col(vec_col))).first()[0]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    return dim, dim // m


def pq_codebooks_label(
    embeddings: DataFrame,
    m: int = 8,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Long-form PQ codebooks (sub, code, pos, mean) from per-label
    subspace means — the SQL-expressible stand-in quantizer (the PQ
    analogue of the label-centroid IVF cells), so the whole
    encode → LUT → ADC pipeline is DuckDB hash-verifiable.
    One explode + one (sub, pos, label) groupBy; output is tiny
    (m · ksub · dsub rows) by construction."""
    dim, dsub = _pq_dims(embeddings, vec_col, m)
    ex = _scatter(embeddings, id_col).select(
        F.col(label_col).alias("code"),
        F.posexplode(_dvec(F.col(vec_col))).alias("pos", "v"),
    )
    # Order-independent mean: exact decimal(38,18) sum, ONE double cast,
    # then IEEE double division — order-independent WITHIN each engine
    # regardless of shuffle/scan order. Cross-engine the double→decimal
    # casts themselves can differ at the 17th–18th digit (Spark
    # BigDecimal shortest-repr vs DuckDB binary scaling), so Spark/DuckDB
    # agreement rests on the downstream round(...,6) rank keys, not
    # bit-identity (same discipline as the events family's
    # decimal(20,8) avg_value hardening).
    return (
        ex.groupBy(
            F.floor(F.col("pos") / dsub).cast("int").alias("sub"), "code", "pos"
        )
        .agg(
            (
                F.sum(F.col("v").cast("decimal(38,18)")).cast("double")
                / F.count("v")
            ).alias("mean")
        )
    )


def pq_codebooks_kmeans(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 4,
    sample_fit: int = 4096,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Production PQ codebooks: per-subspace Lloyd k-means trained
    driver-side over ONE deterministic md5-ordered sample (the same
    FAISS-style sample-fit recipe as kmeans_centroids — ~256 training
    points per centroid is all a quantizer needs). The cluster pays
    exactly one bounded TakeOrdered collect for ALL m subspaces
    together; the m Lloyd fits slice the same sample matrix. Seeding
    per subspace: the ksub lowest-id sample rows. Fully deterministic
    — pinned-artifact testable like the IVF quantizer."""
    import numpy as np

    spark = embeddings.sparkSession
    dim, dsub = _pq_dims(embeddings, vec_col, m)
    base = _scatter(embeddings, id_col).select(
        F.col(id_col).alias("id"), _dvec(F.col(vec_col)).alias("vec")
    )
    n_sample = min(int(sample_fit), max(256 * ksub, 131_072))
    sample = (
        base.orderBy(F.md5(F.col("id").cast("string")), "id").limit(n_sample).collect()
    )
    sample.sort(key=lambda r: r["id"])
    X = np.array([r["vec"] for r in sample], dtype=np.float64)
    rows = []
    for sub in range(m):
        Xs = X[:, sub * dsub : (sub + 1) * dsub]
        cents = Xs[:ksub].copy()
        for _ in range(iters):
            cn = (cents * cents).sum(axis=1)
            cells = ((-2.0) * (Xs @ cents.T) + cn[None, :]).argmin(axis=1)
            sums = np.zeros_like(cents)
            cnt = np.zeros(len(cents), dtype=np.int64)
            np.add.at(sums, cells, Xs)
            np.add.at(cnt, cells, 1)
            live = cnt > 0
            cents = np.where(live[:, None], sums / np.maximum(cnt, 1)[:, None], cents)
        for code in range(ksub):
            for j in range(dsub):
                rows.append((sub, code, sub * dsub + j, float(cents[code, j])))
    return spark.createDataFrame(rows, "sub int, code int, pos int, mean double")


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ codes (id, sub, code): per subspace, the codebook entry with
    the smallest squared L2 to the sub-vector (deterministic lowest-
    code tie-break on the 6-decimal-rounded distance).

    Portable formulation: explode → broadcast codebook join on pos
    (the codebook is m·ksub·dsub rows — KBs) → (id, sub, code)-keyed
    partial-sum groupBy → per-(id, sub) argmin via min_by. Both
    shuffles are keyed by the uniform vector id, so this scales
    linearly; the m·ksub distance evaluations per vector are PQ's own
    defined encode cost. (A mapInPandas matmul tier can collapse the
    shuffles to zero for the very widest corpora — the join
    formulation is kept as the oracle-checkable twin.)"""
    ex = _scatter(embeddings, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(_dvec(F.col(vec_col))).alias("pos", "v"),
    )
    j = ex.join(F.broadcast(codebooks), "pos")
    # d2 partial sums arrive from the join in arbitrary order — cast each
    # addend to decimal(38,18) so the sum (and hence the rounded argmin
    # tie-break) is bit-identical across runs and engines.
    d2 = (
        j.groupBy("id", "sub", "code")
        .agg(
            F.sum(
                F.pow(F.col("v") - F.col("mean"), 2).cast("decimal(38,18)")
            ).alias("d2")
        )
    )
    return d2.groupBy("id", "sub").agg(
        F.min_by("code", F.struct(F.round("d2", 6), "code")).alias("code")
    )


def pq_adc_topk(
    embeddings: DataFrame,
    query_ids: list,
    k: int = 3,
    codebooks: DataFrame | None = None,
    m: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k search over PQ codes: queries keep
    their EXACT vectors, the corpus is scanned in compressed form.

    Per query, a lookup table of squared L2 distances to every
    codebook entry (m · ksub scalars) is computed once; each corpus
    vector's approximate distance is the sum of its m table entries.
    This is the billion-vector scan shape: corpus rows are m small
    ints (the codes), the LUT join is a broadcast, and the only
    corpus-keyed work is one (query, id) partial-sum groupBy + the
    per-query top-k window. Returns (query_id, neighbor_id, rank,
    approx_l2sq), rank by 6-decimal-rounded distance with id
    tie-break, self-matches excluded."""
    if codebooks is None:
        codebooks = pq_codebooks_label(embeddings, m, vec_col=vec_col, id_col=id_col)
    codes = pq_encode(embeddings, codebooks, vec_col, id_col)
    qex = (
        embeddings.filter(F.col(id_col).isin(list(query_ids)))
        .select(
            F.col(id_col).alias("query_id"),
            F.posexplode(_dvec(F.col(vec_col))).alias("pos", "v"),
        )
    )
    # LUT entries and the per-corpus-vector ADC sums are float additions
    # over join output in arbitrary order — decimal(38,18) addends make
    # both sums order-independent, so round(dist, 6) (the rank key) is
    # bit-identical across runs and vs the DuckDB oracle twin. The sum of
    # decimal lds stays decimal (exact); ONE double cast at the end.
    lut = (
        qex.join(F.broadcast(codebooks), "pos")
        .groupBy("query_id", "sub", "code")
        .agg(
            F.sum(
                F.pow(F.col("v") - F.col("mean"), 2).cast("decimal(38,18)")
            ).alias("ld")
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy("query_id", "id")
        .agg(F.sum("ld").cast("double").alias("dist"))
        .filter(F.col("id") != F.col("query_id"))
    )
    w = W.partitionBy("query_id").orderBy(F.round("dist", 6), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            "rank",
            F.round("dist", 6).alias("approx_l2sq"),
        )
    )


def ivfpq_topk(
    embeddings: DataFrame,
    query_ids: list,
    k: int = 3,
    nprobe: int = 3,
    codebooks: DataFrame | None = None,
    m: int = 8,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ: cell-restricted asymmetric-distance search — the
    IndexIVFPQ configuration (Jégou et al. 2011 §V; public method)
    every billion-vector deployment actually runs. The corpus is
    coarse-quantized into cells AND PQ-encoded; a query probes only
    its ``nprobe`` nearest cells and ADC-scans just those cells'
    CODES. Scan cost drops from |corpus|·m rows (pq_adc_topk) to
    ~nprobe/|cells| of it, and the scanned rows are still codes, not
    vectors — the two compressions multiply.

    Plan shape: codes ⋈ cell-assignment on the uniform vector id, the
    tiny (query, probed-cell) relation and per-query LUTs broadcast;
    the only corpus-keyed shuffles are the encode groupBys and the
    final (query, id) partial sum. Recall trades exactly like IVF
    (a true neighbor quantized outside the probed cells is missed)
    ON TOP of PQ's distance distortion — both measured in
    ANN_REPORT.md; compose with :func:`pq_rerank_topk`'s refine step
    to buy back the distortion half."""
    if codebooks is None:
        codebooks = pq_codebooks_label(embeddings, m, vec_col=vec_col, id_col=id_col)
    codes = pq_encode(embeddings, codebooks, vec_col, id_col)
    scores = centroid_scores(
        embeddings,
        id_col,
        label_col,
        vec_col,
        centroids=centroids,
        max_rank=nprobe,
        branching=True,
    )
    cells = scores.filter(F.col("cell_rank") == 1).select(
        F.col("cs_id").alias("id"), F.col("clabel").alias("cell")
    )
    probed = scores.filter(
        F.col("cs_id").isin(list(query_ids)) & (F.col("cell_rank") <= nprobe)
    ).select(F.col("cs_id").alias("query_id"), F.col("clabel").alias("qcell"))
    qex = embeddings.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"),
        F.posexplode(_dvec(F.col(vec_col))).alias("pos", "v"),
    )
    # decimal addends for the same order-independence contract as
    # pq_adc_topk: round(dist, 6) is the rank key
    lut = (
        qex.join(F.broadcast(codebooks), "pos")
        .groupBy("query_id", "sub", "code")
        .agg(
            F.sum(
                F.pow(F.col("v") - F.col("mean"), 2).cast("decimal(38,18)")
            ).alias("ld")
        )
    )
    cand = (
        codes.join(cells, "id")
        .join(F.broadcast(probed), F.col("cell") == F.col("qcell"))
        .filter(F.col("id") != F.col("query_id"))
    )
    scored = (
        cand.join(F.broadcast(lut), ["query_id", "sub", "code"])
        .groupBy("query_id", "id")
        .agg(F.sum("ld").cast("double").alias("dist"))
    )
    w = W.partitionBy("query_id").orderBy(F.round("dist", 6), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            "rank",
            F.round("dist", 6).alias("approx_l2sq"),
        )
    )


def pq_rerank_topk(
    embeddings: DataFrame,
    query_ids: list,
    k: int = 3,
    shortlist: int = 10,
    codebooks: DataFrame | None = None,
    m: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage retrieve-rerank: PQ-ADC shortlist → EXACT cosine
    re-rank — the standard FAISS refine recipe (Jégou et al. 2011's
    ADC scan + an ``IndexRefineFlat``-style exact re-scoring of the
    shortlist; public method) that buys back the compressed scan's
    quantization error for the price of ``|queries| · shortlist``
    exact distance evaluations.

    Scale shape: stage 1 is :func:`pq_adc_topk`'s billion-vector
    compressed scan (corpus rows = m small codes + broadcast LUTs);
    stage 2 joins the TINY shortlist (broadcast) back to exact vectors
    — one corpus scan with a broadcast hash join, never a second
    all-pairs pass — and re-ranks inside a per-query window. Returns
    (query_id, neighbor_id, rank, cos_sim, adc_rank): ``adc_rank`` is
    the stage-1 position, kept so the re-ordering the refine step
    performs is observable (and testable) rather than hidden."""
    short = pq_adc_topk(
        embeddings, query_ids, k=shortlist, codebooks=codebooks, m=m,
        vec_col=vec_col, id_col=id_col,
    ).select("query_id", "neighbor_id", F.col("rank").alias("adc_rank"))
    cand = embeddings.select(
        F.col(id_col).alias("neighbor_id"), _dvec(F.col(vec_col)).alias("cvec")
    ).withColumn("cnorm", safe_norm(F.col("cvec")))
    queries = (
        embeddings.filter(F.col(id_col).isin(list(query_ids)))
        .select(F.col(id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("qvec"))
        .withColumn("qnorm", safe_norm(F.col("qvec")))
    )
    scored = (
        cand.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "adc_rank",
            F.round(
                dot(F.col("qvec"), F.col("cvec"))
                / (F.col("qnorm") * F.col("cnorm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim", "adc_rank")
    )


def rp_signs(dim: int, out_dim: int, tag: str = "rp") -> list[list[float]]:
    """Deterministic ±1 Johnson-Lindenstrauss sign matrix, row j =
    output component, entry (i, j) = parity of the first md5 hex digit
    of ``"{tag}-{i}-{j}"``. md5 is the cross-engine seed family the
    portable dedup tier already uses, so the SAME matrix is
    reconstructible in DuckDB SQL — no RNG state to ship."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{tag}-{i}-{j}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1.0
            for i in range(dim)
        ]
        for j in range(out_dim)
    ]


def rp_project(
    df: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tag: str = "rp",
) -> DataFrame:
    """Random-projection dimensionality reduction (Achlioptas 2003 ±1
    JL variant — public method): project ``dim``-d embeddings onto
    ``out_dim`` md5-seeded sign vectors. Downstream cosine is
    scale-invariant, so the 1/sqrt(out_dim) JL factor is dropped.

    Plan shape: the sign matrix is built DRIVER-SIDE (dim × out_dim
    literals — bounded, no RNG, no lookup join) and inlined, so the
    projection is ``out_dim`` JVM fold expressions per row over the
    scan partitioning: zero shuffles beyond the explicit scatter of a
    single-split table. At 100 TB this is the cheap front half of a
    project-then-ANN pipeline — every downstream fold costs
    out_dim/dim of the original.
    """
    first = df.select(F.size(_dvec(F.col(vec_col))).alias("d")).first()
    if first is None or first["d"] is None or first["d"] < 1:
        raise ValueError(
            f"rp_project: cannot infer dim from empty/NULL {vec_col!r}"
        )
    dim = int(first["d"])  # size-only pull, same idiom as the PQ tier
    signs = rp_signs(dim, out_dim, tag)
    v = _dvec(F.col(vec_col))
    comps = [
        dot(v, F.array(*[F.lit(s) for s in signs[j]])) for j in range(out_dim)
    ]
    return _scatter(df, id_col).select(
        F.col(id_col), F.array(*comps).alias("pvec")
    )


def pca_components(
    df: DataFrame,
    out_dim: int = 16,
    vec_col: str = "embedding",
) -> tuple[list[float], list[list[float]], list[float]]:
    """Top ``out_dim`` principal components of the embedding corpus:
    (mean, components, explained_variances), eigenvalue-descending.

    Execution shape — the treeAggregate discipline of the quantizer
    family: ONE zero-shuffle Arrow pass emits per-task second-moment
    partials (upper-triangle (i, j, sum) rows + mean sums + count —
    at most dim·(dim+3)/2 + 1 scalar rows per task regardless of
    corpus size), the driver reduces them in deterministic (i, j,
    task) order and runs the dim×dim eigendecomposition locally
    (numpy eigh on a 64×64 matrix — microseconds; the corpus never
    moves). Component sign is fixed by making each eigenvector's
    largest-|entry| coordinate positive, so results are reproducible
    across runs and shuffle orders.
    """
    import numpy as np

    def op(batches):
        import numpy as np  # executor-side
        import pandas as pd
        from pyspark import TaskContext

        tid = TaskContext.get().partitionId() if TaskContext.get() else -1
        d = None
        M = None
        mu = None
        n = 0
        for pdf in batches:
            pdf = pdf[pdf["_pc_vec"].notna()]
            if not len(pdf):
                continue
            mat = np.array(pdf["_pc_vec"].tolist(), dtype=np.float64)
            if M is None:
                d = mat.shape[1]
                M = np.zeros((d, d))
                mu = np.zeros(d)
            M += mat.T @ mat
            mu += mat.sum(axis=0)
            n += mat.shape[0]
        if M is None:
            return
        iu, ju = np.triu_indices(d)
        out = pd.DataFrame(
            {
                "task": tid,
                "i": iu.astype("int32"),
                "j": ju.astype("int32"),
                "s": M[iu, ju],
            }
        )
        mean_rows = pd.DataFrame(
            {
                "task": tid,
                "i": np.arange(d, dtype="int32"),
                "j": np.int32(-1),
                "s": mu,
            }
        )
        cnt_row = pd.DataFrame(
            {"task": [tid], "i": [np.int32(-1)], "j": [np.int32(-1)], "s": [float(n)]}
        )
        yield pd.concat([out, mean_rows, cnt_row], ignore_index=True)

    partials = (
        df.select(_dvec(F.col(vec_col)).alias("_pc_vec"))
        .mapInPandas(op, "task int, i int, j int, s double")
        .collect()
    )
    acc: dict = {}
    for r in sorted(partials, key=lambda r: (r["i"], r["j"], r["task"])):
        acc[(r["i"], r["j"])] = acc.get((r["i"], r["j"]), 0.0) + r["s"]
    n = acc.pop((-1, -1))
    d = max(i for i, _ in acc) + 1
    mu = np.array([acc.pop((i, -1)) for i in range(d)]) / n
    M = np.zeros((d, d))
    for (i, j), s in acc.items():
        M[i, j] = s
        M[j, i] = s
    cov = M / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:out_dim]
    comps = []
    evs = []
    for idx in order:
        v = vecs[:, idx]
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        comps.append([float(x) for x in v])
        evs.append(float(vals[idx]))
    return [float(x) for x in mu], comps, evs


def pca_project(
    df: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project embeddings onto the corpus's top principal components
    (mean-centered — the stated semantics change vs raw-space cosine).
    The (mean, components) literals are driver-inlined exactly like
    rp_project's sign matrix, so the projection itself is ``out_dim``
    JVM folds per row with zero shuffles — PCA is the
    variance-optimal counterpart of the JL tier and shares its scale
    story; only the one bounded partial-sum pass is extra."""
    mu, comps, _ = pca_components(df, out_dim, vec_col)
    v = _dvec(F.col(vec_col))
    centered = F.zip_with(
        v, F.array(*[F.lit(m) for m in mu]), lambda x, m: x - m
    )
    comp_cols = [
        dot(centered, F.array(*[F.lit(c) for c in comp])) for comp in comps
    ]
    return _scatter(df, id_col).select(
        F.col(id_col), F.array(*comp_cols).alias("pvec")
    )


# ---------------------------------------------------------------------------
# Graph centrality over the k-NN graph (PageRank, Page et al. 1999 —
# public method). Web-graph centrality is the corpus-quality signal the
# CommonCrawl-derived pipelines weight documents by (CCNet / RefinedWeb
# use harmonic centrality / PageRank over the host graph); here the
# graph is the in-engine k-NN similarity graph, so central = "similar
# to many well-connected docs" — a density/representativeness score
# usable for curriculum weighting or diversity-aware sampling.
# ---------------------------------------------------------------------------
def pagerank_on_edges(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 3,
    scale: int = 10**12,
    damping_pct: int = 85,
    weight_col: str | None = None,
) -> DataFrame:
    """Damped PageRank over an explicit edge list, computed ENTIRELY in
    scaled-integer arithmetic so the full iterative trajectory is
    order-independent and engine-identical (the same scaled-BIGINT
    discipline as the LR quality filter's gradient sums).

    Semantics (all ops integer, ``//`` = floor division; every value is
    a rank scaled by ``scale``):

    - ``R_0(v) = scale // N`` for every node.
    - per iteration:
      ``S(v)  = sum over in-edges (u,v) of R(u) // outdeg(u)``,
      ``D     = sum of R(u) over dangling nodes (outdeg 0)``,
      ``R'(v) = ((100-d)·(scale // N) + d·(S(v) + D // N)) // 100``
      with ``d = damping_pct``.

    Floor division loses at most ``outdeg-1`` per contribution, so
    total mass decays by < N·100 per iteration out of ``scale`` —
    negligible, deterministic, and identical in any engine with exact
    integer division (asserted by the mass-conservation test).

    Scale: each iteration is one equi-join of the edge list with the
    N-row rank frame plus one groupBy(dst) sum — the textbook
    distributed PageRank step (shuffle keyed by dst, map-side partial
    sums). The rank frame is lazily localCheckpointed per iteration:
    it feeds BOTH the contribution join and the dangling-mass
    aggregate, and aliased branches defeat ReusedExchange (the same
    double-evaluation the curation flagship checkpoints against —
    without it lineage re-evaluation compounds per iteration). The
    dangling mass is a 1-row broadcast (constant-size by
    construction). Nothing data-sized ever reaches the driver; the
    only driver scalar is N (one count).

    Storage: every iteration's ``rd`` (the r⋈deg join, N rows) and
    ``r`` (N rows) checkpoints stay live until the caller's
    ``session.released()`` scope ends, so the peak within a query is
    about 2 × iterations × N rank rows plus the edge list; outside a
    scope they live until the session drops them.

    ``nodes`` must be one distinct-id column named ``id``; ``edges``
    must be (src, dst) with both endpoints present in ``nodes``.

    ``weight_col`` switches to WEIGHTED PageRank: each out-edge gets
    share ``(R(u)·w_uv) // W(u)`` of its source's rank, with ``W(u)``
    the exact integer sum of u's out-edge weights. Weights must be
    POSITIVE integers small enough that scale·max_w < 2^63 (round-6
    cosines scaled by 1e6 give products ≤ 1e18 — callers clamp
    non-positive weights out, and a source losing all its edges to
    the clamp becomes dangling). Still all-integer, still
    order-independent; the contribution is computed per EDGE on the
    edges⋈weights⋈ranks join instead of per source.
    """
    wcol = weight_col is not None
    e = edges.select(
        "src", "dst", *([F.col(weight_col).alias("w")] if wcol else [])
    ).transform(materialize)
    nd = nodes.select("id").transform(materialize)
    n = int(nd.count())
    if n == 0:
        return nd.select("id", F.lit(0).cast("long").alias("rank_e12"))
    base = (100 - damping_pct) * (scale // n)
    deg = (
        e.groupBy("src")
        .agg(
            F.sum("w").alias("wsum") if wcol else F.count(F.lit(1)).alias("outdeg")
        )
        .transform(materialize)
    )
    r = nd.select("id", F.lit(scale // n).cast("long").alias("r"))
    for _ in range(iterations):
        # ONE r⋈deg pass per iteration (r16, r15-verdict item 5 /
        # guide §1.2): the contribution branch needs the non-dangling
        # rows and the dangling-mass branch their complement — a single
        # LEFT join materialized once serves both, where the previous
        # shape ran an inner join AND an anti join that each re-scanned
        # r and deg per iteration. filter(src IS NULL) ≡ the anti join,
        # filter(src IS NOT NULL) ≡ the inner join: identical rows,
        # identical integer trajectory.
        rd = r.join(deg, r["id"] == deg["src"], "left").transform(materialize)
        if wcol:
            # weighted split: each edge carries (R(u)·w_uv) // W(u) —
            # the per-edge product stays < scale·max_w ≤ 1e18 < 2^63;
            # computed on the edges⋈(ranks⋈weight-sums) join, gathered
            # per dst
            contrib = (
                e.join(
                    rd.filter(F.col("src").isNotNull()).select(
                        "src", "r", "wsum"
                    ),
                    "src",
                )
                .select("dst", F.expr("(r * w) div wsum").alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("s"))
            )
        else:
            # per-source contribution: one value per non-dangling node
            # (exact integer floor division — `div`, not `/`)
            per_src = rd.filter(F.col("src").isNotNull()).select(
                "src", F.expr("r div outdeg").alias("c")
            )
            # scatter along edges, gather per destination: THE PageRank
            # shuffle — keyed by dst, exact BIGINT partial sums map-side
            contrib = (
                e.join(per_src, "src").groupBy("dst").agg(F.sum("c").alias("s"))
            )
        dang = rd.filter(F.col("src").isNull()).agg(
            F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dmass")
        )
        r = (
            nd.join(contrib, nd["id"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "id",
                F.expr(
                    f"CAST(({base} + {damping_pct} * (coalesce(s, CAST(0 AS BIGINT))"
                    f" + dmass div {n})) div 100 AS BIGINT)"
                ).alias("r"),
            )
            .transform(materialize)
        )
    return r.select("id", F.col("r").alias("rank_e12"))


def semantic_decontaminate(
    embeddings: DataFrame,
    eval_filter: Column,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-similarity benchmark decontamination — the SEMANTIC
    analogue of the lexical n-gram/Bloom decontaminators: a train
    vector is contaminated if its round-6 cosine to ANY held-out eval
    vector reaches the threshold, catching paraphrase/translation/
    reformat-level leakage the token matchers cannot see (standard
    practice in contamination audits alongside n-gram overlap).

    Scale contract, same as the broadcast gram join in
    decontaminate_ngram: the EVAL side is benchmark-sized by
    construction (MBs against a corpus of TBs) → broadcast, and every
    train×eval pair is scored exactly — no LSH/cell approximation, so
    NO FALSE NEGATIVES at the stated threshold. The corpus side
    streams through one fold per eval row with norms precomputed once
    per side (the safe_norm discipline); the only shuffle is the
    per-train argmax window keyed on the (uniform) train id.

    Returns one row per train vector: (id, nearest_eval_id,
    max_eval_sim, contaminated) — the audit manifest; filter on
    ``contaminated`` for the drop list."""
    ev = (
        embeddings.filter(eval_filter)
        .select(F.col(id_col).alias("eval_id"), _dvec(F.col(vec_col)).alias("evec"))
        .withColumn("enorm", safe_norm(F.col("evec")))
    )
    train = (
        _scatter(embeddings.filter(~eval_filter), id_col)
        .select(F.col(id_col).alias("tid"), _dvec(F.col(vec_col)).alias("tvec"))
        .withColumn("tnorm", safe_norm(F.col("tvec")))
    )
    scored = train.crossJoin(F.broadcast(ev)).select(
        "tid",
        "eval_id",
        F.round(
            dot(F.col("tvec"), F.col("evec")) / (F.col("tnorm") * F.col("enorm")), 6
        ).alias("sim"),
    )
    w = W.partitionBy("tid").orderBy(F.desc("sim"), F.asc("eval_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("tid").alias(id_col),
            F.col("eval_id").alias("nearest_eval_id"),
            F.col("sim").alias("max_eval_sim"),
            (F.col("sim") >= F.lit(threshold)).alias("contaminated"),
        )
    )


def knn_label_consensus(
    embeddings: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    tier: str | None = None,
) -> DataFrame:
    """k-NN label-consensus audit (Confident-Learning-style label-noise
    detection, Northcutt et al.; the k-NN consensus form is the
    standard embedding-era variant): for every vector with k-NN
    neighbors, the majority label among its :func:`knn_graph` top-k
    cell-mate neighbors (deterministic tie-break: most votes, then
    smallest label), the vote count, the round-6 mean neighbor cosine
    (exact DECIMAL(20,8) addends → one double division,
    order-independent), and whether the consensus agrees with the
    vector's own label. Disagreement with high mean similarity is the
    classic mislabel candidate.

    Pure composition: one extra |edges|-row groupBy plus a
    k-row-per-vector vote window on top of the knn_graph edge set —
    nothing new touches vectors, scale posture inherited unchanged.
    Vectors alone in their cell have no edges and are absent."""
    g = knn_graph(
        embeddings,
        k=k,
        id_col=id_col,
        label_col=label_col,
        vec_col=vec_col,
        centroids=centroids,
        tier=tier,
    )
    # The labeled-edge relation feeds TWO aggregation branches (votes
    # and nstats) — aliased branches defeat ReusedExchange, so without
    # the checkpoint the whole knn_graph scoring subtree executes
    # twice (measured 55.7s vs knn_graph's own 12.3s in the 50× smoke).
    # Narrow rows: (src_id, nlabel, cos_sim).
    nlab = (
        g.join(
            embeddings.select(
                F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nlabel")
            ),
            "neighbor_id",
        )
        .select("src_id", "nlabel", "cos_sim")
        .transform(materialize)
    )
    votes = nlab.groupBy("src_id", "nlabel").agg(F.count(F.lit(1)).alias("votes"))
    w = W.partitionBy("src_id").orderBy(F.desc("votes"), F.asc("nlabel"))
    top = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "src_id",
            F.col("nlabel").alias("consensus_label"),
            F.col("votes").alias("consensus_votes"),
        )
    )
    nstats = nlab.groupBy("src_id").agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.round(
            F.sum(F.col("cos_sim").cast("decimal(20,8)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_neighbor_sim"),
    )
    return (
        embeddings.select(id_col, F.col(label_col).alias("own_label"))
        .join(top, F.col(id_col) == top.src_id)
        .drop("src_id")
        .join(nstats, F.col(id_col) == nstats.src_id)
        .drop("src_id")
        .select(
            id_col,
            "own_label",
            "consensus_label",
            "consensus_votes",
            "n_neighbors",
            "mean_neighbor_sim",
            (F.col("consensus_label") == F.col("own_label")).alias("label_agrees"),
        )
    )


def knn_pagerank(
    embeddings: DataFrame,
    k: int = 3,
    iterations: int = 3,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 10**12,
    centroids: DataFrame | None = None,
    tier: str | None = None,
    weighted: bool = False,
    scored_und: DataFrame | None = None,
) -> DataFrame:
    """PageRank centrality of every vector in the corpus's k-NN graph:
    the :func:`knn_graph` edge set (cell-restricted top-k cosine
    neighbors, deterministic round-6 rank) drives
    :func:`pagerank_on_edges`. Central vectors sit in dense,
    well-connected similarity neighborhoods — the graph-quality /
    representativeness weighting signal (CCNet-style centrality, here
    over content similarity instead of hyperlinks).

    ``weighted=True`` splits each source's rank proportionally to its
    edges' round-6 cosines instead of uniformly (weighted PageRank):
    weights enter as exact scaled integers w6 = round(cos·1e6) clamped
    positive — a negative-cosine "neighbor" should attract no mass,
    and a source whose every edge clamps away becomes dangling.

    Output: (id, rank_e12, rank_score) — the exact scaled-BIGINT rank
    plus its round-9 double readout (one division of engine-identical
    values)."""
    g = knn_graph(
        embeddings,
        k=k,
        id_col=id_col,
        label_col=label_col,
        vec_col=vec_col,
        centroids=centroids,
        tier=tier,
        scored_und=scored_und,
    )
    if weighted:
        edges = g.select(
            F.col("src_id").alias("src"),
            F.col("neighbor_id").alias("dst"),
            F.round(F.col("cos_sim") * 1000000).cast("long").alias("w6"),
        ).filter(F.col("w6") > 0)
    else:
        edges = g.select(
            F.col("src_id").alias("src"), F.col("neighbor_id").alias("dst")
        )
    nodes = embeddings.select(F.col(id_col).alias("id"))
    pr = pagerank_on_edges(
        edges,
        nodes,
        iterations=iterations,
        scale=scale,
        weight_col="w6" if weighted else None,
    )
    return pr.select(
        F.col("id").alias(id_col),
        "rank_e12",
        F.round(F.col("rank_e12") / F.lit(float(scale)), 9).alias("rank_score"),
    )


def margin_bitext_mine(
    embeddings: DataFrame,
    side_filter: Column,
    k: int = 4,
    margin_threshold: float = 1.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    nprobe: int = 1,
    tier: str | None = None,
) -> DataFrame:
    """Margin-criterion parallel-pair mining (Artetxe & Schwenk 2019,
    "Margin-based Parallel Corpus Mining with Multilingual Sentence
    Embeddings" — the LASER/CCMatrix recipe, public): candidate
    (source, target) pairs are scored by the RATIO margin
    cos(x, y) / ((avg-top-k(x→Y) + avg-top-k(y→X)) / 2) instead of raw
    cosine, which cancels hubness (a vector whose neighborhood is
    uniformly close scores no pair highly), and a pair is MINED when
    it is mutually each side's best margin and clears the threshold —
    the standard filter for building parallel training corpora from
    two monolingual embedding spaces.

    Determinism discipline: cosines round to 6dp first; each side's
    top-k mean is an exact DECIMAL(20,8) sum of those rounded values
    over the (sim DESC, id ASC) row_number-selected k (ties at the k
    boundary are id-broken identically in both engines), one double
    division; the margin is one further fixed-shape double expression
    rounded to 6dp.

    Scale contract: at mining scale BOTH sides are corpus-sized — pass
    ``centroids`` (the shared semdedup/knn_graph k-means quantizer,
    columns label/centroid) to co-partition the two spaces by cell and
    score ONLY same-cell pairs (the production tier; neighborhoods,
    margins and best-pair elections all become within-cell
    approximations, and sources whose cell holds no targets emit no
    row — the recall trade every IVF structure makes, measured by the
    recall pytest). Without centroids this exact form broadcasts the
    target side (the semantic_decontaminate shape) and is the
    verification tier. Returns every source's best-margin candidate
    with ``mutual`` and ``mined`` flags — the audit view; filter on
    ``mined`` for pairs.
    """
    # scored feeds both directions' top-k means AND the margin join;
    # m feeds both mutual-best windows — checkpoint each once.
    if centroids is None:
        src = (
            _scatter(embeddings.filter(~side_filter), id_col)
            .select(
                F.col(id_col).alias("src_id"), _dvec(F.col(vec_col)).alias("xv")
            )
            .withColumn("xn", safe_norm(F.col("xv")))
        )
        tgt = (
            embeddings.filter(side_filter)
            .select(
                F.col(id_col).alias("tgt_id"), _dvec(F.col(vec_col)).alias("yv")
            )
            .withColumn("yn", safe_norm(F.col("yv")))
        )
        scored = src.crossJoin(F.broadcast(tgt)).select(
            "src_id",
            "tgt_id",
            F.round(
                dot(F.col("xv"), F.col("yv")) / (F.col("xn") * F.col("yn")), 6
            ).alias("sim"),
        )
    else:
        # IVF tier: one shared cell assignment, a NARROW same-cell
        # candidate join (src × tgt within cell — never a cross
        # product), then the knn_graph/_score_pairs discipline: pair
        # ids repartition uniformly BEFORE the fold so the quadratic
        # work never serializes onto ≤|cells| tasks. ``nprobe`` raises
        # recall by assigning the SOURCE side to its m closest cells
        # (the target side stays rank-1, so a (src, tgt) pair can only
        # meet in tgt's one cell — no duplicate candidates), the same
        # trade ivf_topk and knn_graph make.
        assign = centroid_scores(
            embeddings,
            id_col=id_col,
            vec_col=vec_col,
            centroids=centroids,
            max_rank=max(1, nprobe),
            tier=tier,
        ).select(
            F.col("cs_id").alias(id_col),
            F.col("clabel").alias("cell"),
            "cell_rank",
        )
        sides = embeddings.select(F.col(id_col), side_filter.alias("_is_tgt")).join(
            assign, id_col
        )
        cand = (
            sides.filter(~F.col("_is_tgt"))
            .select(F.col(id_col).alias("src_id"), "cell")
            .join(
                sides.filter(F.col("_is_tgt") & (F.col("cell_rank") == 1)).select(
                    F.col(id_col).alias("tgt_id"), "cell"
                ),
                "cell",
            )
            .select("src_id", "tgt_id")
        )
        vecs = (
            _scatter(embeddings, id_col)
            .select(F.col(id_col).alias("vid"), _dvec(F.col(vec_col)).alias("vec"))
            .withColumn("vnorm", safe_norm(F.col("vec")))
        )
        scored = _score_pairs(cand, vecs, "src_id", "tgt_id").withColumnRenamed(
            "cos_sim", "sim"
        )
    scored = materialize(scored)

    def _topk_mean(part_col: str, other_col: str, out: str) -> DataFrame:
        w = W.partitionBy(part_col).orderBy(F.desc("sim"), F.asc(other_col))
        return (
            scored.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= k)
            .groupBy(part_col)
            .agg(
                (
                    F.sum(F.col("sim").cast("decimal(20,8)")).cast("double")
                    / F.count(F.lit(1))
                ).alias(out)
            )
        )

    ax = _topk_mean("src_id", "tgt_id", "ax")
    ay = _topk_mean("tgt_id", "src_id", "ay")
    m = (
        scored.join(ax, "src_id")
        .join(ay, "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            "sim",
            F.round(F.col("sim") * 2 / (F.col("ax") + F.col("ay")), 6).alias(
                "margin"
            ),
        )
        .transform(materialize)
    )
    wx = W.partitionBy("src_id").orderBy(F.desc("margin"), F.asc("tgt_id"))
    wy = W.partitionBy("tgt_id").orderBy(F.desc("margin"), F.asc("src_id"))
    fwd = m.withColumn("_rx", F.row_number().over(wx)).filter(F.col("_rx") == 1)
    rev = (
        m.withColumn("_ry", F.row_number().over(wy))
        .filter(F.col("_ry") == 1)
        .select("src_id", "tgt_id", F.lit(True).alias("_mutual"))
    )
    mutual = F.coalesce(F.col("_mutual"), F.lit(False))
    return fwd.join(rev, ["src_id", "tgt_id"], "left").select(
        "src_id",
        "tgt_id",
        F.col("sim").alias("cos_sim"),
        "margin",
        mutual.alias("mutual"),
        (mutual & (F.col("margin") >= F.lit(margin_threshold))).alias("mined"),
    )


def mmr_rerank(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    omlam: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified rerank (Carbonell &
    Goldstein 1998): per query, retrieve the ``pool`` highest-cosine
    candidates (the distributed heavy step — exactly cosine_topk's
    broadcast-queries × streamed-corpus shape), then greedily select
    ``k`` of them maximizing ``lam·rel(d) − omlam·max_{s∈S} sim(d, s)``
    — relevance traded against redundancy with what's already picked,
    so a batch of near-duplicate top hits can't crowd out coverage.

    Scale shape: the corpus pays ONE scored pass (same as the exact
    top-k entry); everything after operates on |queries|·pool rows.
    The candidate frame is localCheckpoint'd before its pairwise
    self-join (aliased branches defeat ReusedExchange — the r10
    lesson), pairwise sims are |queries|·pool² rows, and the greedy
    is an applyInPandas per query GROUP — per-query parallelism, no
    driver collect, O(k·pool) python arithmetic per group on values
    already rounded JVM-side.

    Cross-engine determinism contract (the DuckDB oracle unrolls the
    SAME greedy): relevance and pairwise sims are round-6 doubles
    from identical fold expressions; the greedy compares
    ``lam·rel − omlam·maxsim`` (two multiplies + subtract — an IEEE
    sequence Python and SQL share bit-for-bit, with ``lam``/``omlam``
    passed as explicit literals, never derived as 1−λ at runtime);
    ties break ascending id. The first pick's penalty term is 0.0
    (empty selected set), i.e. rank 1 is pure relevance scaled by λ.
    The score itself is EXACT decimal arithmetic over the round-6
    inputs (Decimal(repr(x)) recovers the 6-decimal value; λ at scale
    1 → exact scale-7 products), quantized HALF-UP to 6 — double IEEE
    scoring landed on a .5-at-the-7th-decimal half boundary at sf0.01
    and Spark/DuckDB round() split by one digit.
    """
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    lam_d, om_d = Decimal(repr(lam)), Decimal(repr(omlam))
    _q6 = Decimal("0.000001")

    not_query = ~F.col(id_col).isin(query_ids)
    rel = cosine_topk(
        embeddings, query_ids, k=pool, id_col=id_col, vec_col=vec_col,
        candidate_filter=not_query,
    ).select("query_id", F.col("neighbor_id").alias("a_id"), F.col("cos_sim").alias("rel_a"))
    vecs = _scatter(embeddings.filter(not_query), id_col).select(
        F.col(id_col).alias("cid"), _dvec(F.col(vec_col)).alias("cvec")
    ).withColumn("cnorm", safe_norm(F.col("cvec")))
    # |queries|·pool rows with vectors: checkpoint BEFORE the pairwise
    # self-join so the corpus-scoring subtree runs once, not twice.
    ca = (
        rel.join(vecs, F.col("a_id") == F.col("cid"))
        .select("query_id", "a_id", "rel_a", "cvec", "cnorm")
        .transform(materialize)
    )
    b = ca.select(
        F.col("query_id").alias("qb"),
        F.col("a_id").alias("b_id"),
        F.col("cvec").alias("bvec"),
        F.col("cnorm").alias("bnorm"),
    )
    # LEFT join keeps a single-candidate query alive (no pairs → NULL
    # b_id; the greedy sees an empty sim table for it).
    pairs = ca.join(
        b,
        (F.col("query_id") == F.col("qb")) & (F.col("a_id") != F.col("b_id")),
        "left",
    ).select(
        "query_id",
        "a_id",
        "rel_a",
        "b_id",
        F.round(
            dot(F.col("cvec"), F.col("bvec")) / (F.col("cnorm") * F.col("bnorm")), 6
        ).alias("sim"),
    )

    def _greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
        qid = int(pdf["query_id"].iloc[0])
        rel_by_id: dict[int, float] = {}
        sim: dict[tuple[int, int], float] = {}
        for r in pdf.itertuples(index=False):
            rel_by_id[int(r.a_id)] = float(r.rel_a)
            if pd.notna(r.b_id):
                sim[(int(r.a_id), int(r.b_id))] = float(r.sim)
        remaining = sorted(rel_by_id)
        selected: list[int] = []
        out = []
        while remaining and len(selected) < k:
            best_score, best_id = None, None
            for cid in remaining:  # ascending id = the SQL tie-break
                ms = max((sim[(cid, s)] for s in selected), default=0.0)
                # EXACT decimal scoring over the round-6 inputs (repr
                # recovers the 6-decimal value): scale-7 products and
                # difference, so the argmax comparison and the final
                # half-away-from-zero round match the oracle's DECIMAL
                # arithmetic bit-for-bit (double IEEE scoring split a
                # .5-at-the-7th-decimal boundary across engines).
                score = lam_d * Decimal(repr(rel_by_id[cid])) - om_d * Decimal(repr(ms))
                if best_score is None or score > best_score:
                    best_score, best_id = score, cid
            selected.append(best_id)
            remaining.remove(best_id)
            out.append(
                (
                    qid,
                    len(selected),
                    best_id,
                    rel_by_id[best_id],
                    float(best_score.quantize(_q6, rounding=ROUND_HALF_UP)),
                )
            )
        return pd.DataFrame(
            out, columns=["query_id", "rank", "vec_id", "relevance", "mmr_score"]
        )

    picked = pairs.groupBy("query_id").applyInPandas(
        _greedy,
        schema="query_id long, rank int, vec_id long, relevance double, mmr_score double",
    )
    return picked.orderBy("query_id", "rank")


def triangle_stats(
    edges: DataFrame,
    src_col: str = "src_id",
    dst_col: str = "neighbor_id",
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over a
    (possibly directed) edge list, symmetrized first: undirected edges
    via least/greatest + distinct, triangles enumerated as the
    canonical a<b<c ordered two-join — every join equi on a node id,
    per-node fan-out bounded by the graph degree, never
    corpus-quadratic. clustering = 2·t / (deg·(deg−1)), NULL below
    degree 2; all-integer counts, ONE exact final division, round-6.
    Isolated nodes carry no edges and no row. The undirected edge set
    and the triangle list are localCheckpoint'd before their fan-outs
    (aliased self-join branches defeat ReusedExchange — the r10
    lesson). Output: (id, degree, n_triangles, clustering) ordered by
    id."""
    und = (
        edges.select(
            F.least(src_col, dst_col).alias("a"),
            F.greatest(src_col, dst_col).alias("b"),
        )
        .distinct()
        .transform(materialize)
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("na"),
            F.col("e1.b").alias("nb"),
            F.col("e2.b").alias("nc"),
        )
        .transform(materialize)
    )
    pernode_tri = (
        tri.select(F.col("na").alias("id"))
        .unionAll(tri.select(F.col("nb").alias("id")))
        .unionAll(tri.select(F.col("nc").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return (
        deg.join(pernode_tri, "id", "left")
        .select(
            "id",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.round(
                (F.lit(2.0) * F.coalesce("n_triangles", F.lit(0)))
                / F.nullif(
                    (F.col("degree") * (F.col("degree") - 1)).cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("clustering"),
        )
        .orderBy("id")
    )


def retrieval_eval_report(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Retrieval-quality report over the exact cosine top-k: per query,
    hits@k, precision@k, MRR, DCG@k and nDCG@k under binary label
    relevance (neighbor shares the query's label) — the eval harness a
    retrieval/RAG change is judged by before it ships.

    Cross-engine exactness: rank discounts 1/log2(i+1) are pre-scaled
    ×1e9 integer constants (built once here, interpolated as the SAME
    literals into the SQL twin), so DCG and ideal-DCG are exact
    integer sums — order-independent — and every metric pays ONE final
    division + round-6. The ideal-DCG denominator truncates at
    min(|relevant corpus|, k); queries with zero relevant corpus rows
    report NULL nDCG (guarded — element_at(…, 0) would throw).

    Plan shape: the corpus pays the one cosine_topk scored pass;
    label re-attach is an id-keyed equi join on the k·|queries| top-k
    rows; the relevant-corpus counts come from a label-keyed partial
    aggregate broadcast back onto the query rows. Output |queries|
    rows."""
    import math

    units = [round(1e9 / math.log2(i + 1)) for i in range(1, k + 1)]
    prefix = [sum(units[: m + 1]) for m in range(k)]
    not_query = ~F.col(id_col).isin(query_ids)
    topk = cosine_topk(
        embeddings, query_ids, k=k, id_col=id_col, vec_col=vec_col,
        candidate_filter=not_query,
    )
    corpus_labels = embeddings.filter(not_query).select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nlabel")
    )
    qlabels = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("qlabel")
    )
    nrel = (
        qlabels.join(
            embeddings.filter(not_query)
            .groupBy(F.col(label_col).alias("qlabel"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_relevant")),
            "qlabel",
            "left",
        )
        .select("query_id", F.coalesce("n_relevant", F.lit(0)).alias("n_relevant"))
    )
    rel = F.col("nlabel") == F.col("qlabel")
    unit_arr = F.array(*[F.lit(u).cast("long") for u in units])
    prefix_arr = F.array(*[F.lit(p).cast("long") for p in prefix])
    per = (
        topk.join(corpus_labels, "neighbor_id")
        .join(F.broadcast(qlabels), "query_id")
        .groupBy("query_id", "qlabel")
        .agg(
            F.sum(F.when(rel, 1).otherwise(0)).cast("long").alias("hits"),
            F.min(F.when(rel, F.col("rank"))).alias("first_rel"),
            F.sum(
                F.when(rel, F.element_at(unit_arr, F.col("rank"))).otherwise(0)
            )
            .cast("long")
            .alias("dcg_units"),
        )
    )
    m_rel = F.least(F.col("n_relevant"), F.lit(k))
    idcg = F.when(m_rel > 0, F.element_at(prefix_arr, m_rel.cast("int")))
    return (
        per.join(F.broadcast(nrel), "query_id")
        .select(
            "query_id",
            F.col("qlabel").alias("label"),
            "n_relevant",
            F.col("hits").alias(f"hits_at_{k}"),
            F.round(F.col("hits") / F.lit(float(k)), 6).alias(
                f"precision_at_{k}"
            ),
            F.round(
                F.coalesce(F.lit(1.0) / F.col("first_rel"), F.lit(0.0)), 6
            ).alias("mrr"),
            F.round(F.col("dcg_units") / F.lit(1_000_000_000.0), 6).alias(
                f"dcg_at_{k}"
            ),
            F.round(
                F.col("dcg_units").cast("double")
                / F.nullif(idcg.cast("double"), F.lit(0.0)),
                6,
            ).alias(f"ndcg_at_{k}"),
        )
        .orderBy("query_id")
    )
