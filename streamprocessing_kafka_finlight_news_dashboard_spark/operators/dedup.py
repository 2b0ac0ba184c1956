"""Deduplication operators over ``documents`` (beyond-reference surface).

Four tiers, cheapest first — the standard large-corpus dedup ladder:

1. **Exact** — group/window on a content fingerprint (md5). One shuffle
   on a uniform 128-bit key; trivially scales.
2. **N-gram Jaccard** — word-shingle set overlap on candidate pairs.
   Exact but quadratic; only run inside small blocks.
3. **MinHash + LSH** — per-doc signature (k independent min-hashes of
   the shingle set), banded into buckets; only docs sharing a band
   bucket are compared. This is the 100 TB path: candidate generation
   is an equi join on (band, bucket-hash), and the exact check runs
   only on collided pairs.
4. **SimHash** — 64-bit fingerprint from per-token hash bit votes;
   near-dups differ in few bits (Hamming distance).

The reference's only dedup is exact drop_duplicates on article_url
(reference scripts/02_fetch_news.py:117-120) and the streaming seen-ids
set (ingestion/producer.py:184-197); tiers 2-4 are the generalization
a training-data pipeline needs.

Implementation note: every per-document gram (shingle rows, sorted
shingle arrays, portable SimHash and MinHash) comes from the Arrow
builders in operators/arrow_docs.py — one mapInPandas pass per
document batch, no posexplode → window-sort → distinct pipeline and
no collect_set regroup. Spark's nested higher-order array functions
(transform+slice) run interpreted and were 8× slower than an exploded
formulation at sf0.1, so shingles are never built as in-row array
expressions either. The JVM side keeps what Spark does well: the
xxhash64 aggregates, the doc- and gram-keyed joins, and banding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark.operators.arrow_docs import (
    minhash_signatures_arrow,
    shingle_arrays_arrow,
    shingle_rows_arrow,
    simhash_table_arrow,
)
from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import fingerprint, tokens
from streamprocessing_kafka_finlight_news_dashboard_spark.session import materialize, shuffle_partitions


# ---------------------------------------------------------------------------
# Tier 1 — exact dedup via fingerprint
# ---------------------------------------------------------------------------
def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc fingerprint + duplicate-group stats. ``canonical_id`` is
    the smallest id sharing the fingerprint (keep-first semantics made
    deterministic); ``dup_count`` the group size."""
    fp = fingerprint(F.col(text_col)).alias("fp")
    w = W.partitionBy("fp")
    return (
        df.select(F.col(id_col), fp)
        .withColumn("dup_count", F.count(F.lit(1)).over(w))
        .withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("is_duplicate", F.col(id_col) != F.col("canonical_id"))
    )


# ---------------------------------------------------------------------------
# Tier 2 — exact n-gram Jaccard on blocked candidate pairs
# ---------------------------------------------------------------------------
def jaccard_similar_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang",),
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """All (a, b) pairs with shingle-Jaccard ≥ threshold, blocked by
    ``block_cols`` so the self-join is an equi join per block rather
    than a global cross product. Exact; use for verification and small
    blocks — the scale path is :func:`minhash_lsh_candidates`."""
    # the shingle relation feeds BOTH sides of the block self-join —
    # un-materialized, the tokenize+shingle pass runs twice (aliased
    # branches defeat ReusedExchange; r16, guide §2.4 — same fix as
    # minhash_jaccard_estimates)
    s = shingle_arrays_arrow(
        df, text_col, id_col, n, keep_cols=block_cols
    ).transform(materialize)
    a = s.select(
        F.col("id").alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in block_cols],
        F.col("shingles").alias("sh_a"),
    )
    b = s.select(
        F.col("id").alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in block_cols],
        F.col("shingles").alias("sh_b"),
    )
    cond = F.col("id_a") < F.col("id_b")
    for c in block_cols:
        cond = cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")
    out_block = (
        [F.col(f"{block_cols[0]}_a").alias(block_cols[0])] if block_cols else []
    )
    return (
        a.join(b, cond)
        .select("id_a", "id_b", *out_block, F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _assert_gram_n(grams: DataFrame, n: int, arg: str) -> None:
    """Loud-failure half of the prebuilt-gram contract: gram builders
    (arrow_docs.shingle_rows_arrow) stamp ``gram_n`` into the
    shingle column's metadata; a consumer that accepts prebuilt grams
    alongside an ``n`` argument must reject a mismatch instead of
    silently labeling documents against the wrong gram size. Grams
    from an external builder (no metadata) pass unchecked — the
    docstring contract still applies to them."""
    if "shingle" not in grams.columns:
        raise ValueError(f"{arg} must carry a 'shingle' column")
    built_n = (grams.schema["shingle"].metadata or {}).get("gram_n")
    if built_n is not None and int(built_n) != n:
        raise ValueError(
            f"{arg} was built with n={int(built_n)} but n={n} was "
            "requested — pass matching n (or rebuild the grams)"
        )


def decontaminate_ngram(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_grams: DataFrame | None = None,
    eval_grams: DataFrame | None = None,
) -> DataFrame:
    """Training-corpus decontamination against an evaluation/benchmark
    set by exact token n-gram collision — the GPT-3/Pile-style
    pre-training hygiene step (flag any training document sharing an
    n-gram with a held-out benchmark so eval scores aren't inflated by
    memorized test data).

    Execution shape for the 100 TB case: the BENCHMARK side is small
    by construction (eval suites are MBs against a corpus of TBs), so
    its distinct n-gram set is broadcast — the training corpus
    streams through a broadcast hash join with NO corpus-side
    shuffle except the per-document overlap count, keyed by doc id
    (uniform). Both sides shingle via the Arrow gram builder
    (arrow_docs.shingle_rows_arrow: distinct grams per doc, no codegen
    compile or per-doc window shuffle).

    Returns one row per TRAINING document: (id, n_grams,
    n_contaminated_grams, contamination_ratio, contaminated) —
    ``contaminated`` is the any-collision flag; filter on it (or on a
    ratio threshold) to produce the clean corpus.

    ``train_grams`` / ``eval_grams`` (the (id, shingle) grain and the
    distinct eval-shingle set) let a composed audit share ONE
    checkpointed gram pass across the exact and Bloom tiers instead
    of shingling the corpus once per tier; when provided, the text
    columns are ignored.
    """
    # ONE pass over the train grams: a LEFT broadcast join marks each
    # gram's eval-collision, and a single doc-keyed groupBy computes
    # total and hit counts together. The earlier two-branch
    # formulation (inner-join overlap + separate totals) consumed
    # train_grams twice — aliased branches defeat ReusedExchange, so
    # the full shingle pipeline executed twice (the same re-evaluation
    # cost the curation pipeline documents).
    if train_grams is None:
        train_grams = shingle_rows_arrow(train, text_col, id_col, n)
    else:
        _assert_gram_n(train_grams, n, "train_grams")
    if eval_grams is None:
        eval_grams = shingle_rows_arrow(eval_df, text_col, id_col, n).select("shingle").distinct()
    else:
        _assert_gram_n(eval_grams, n, "eval_grams")
    marked = train_grams.join(
        F.broadcast(eval_grams.withColumn("_hit", F.lit(1))), "shingle", "left"
    )
    agg = marked.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("_hit").alias("_n_hit"),
    )
    hits = F.col("_n_hit")
    return agg.select(
        F.col("id").alias(id_col),
        "n_grams",
        hits.alias("n_contaminated_grams"),
        F.round(hits / F.col("n_grams"), 6).alias("contamination_ratio"),
        (hits >= F.lit(1)).alias("contaminated"),
    )


def ngram_leakage_audit(
    train: DataFrame,
    test: DataFrame,
    n: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_gram_docs: int = 1000,
) -> DataFrame:
    """Split-leakage audit: for every TEST document, how much of it
    leaks into the TRAIN split through exact token n-gram collisions —
    the 'contaminated your own held-out split' check a pipeline runs
    after splitting, the intra-corpus sibling of
    :func:`decontaminate_ngram` (whose eval side is benchmark-sized
    and broadcast; here BOTH sides are corpus-scale, so the collision
    join is a gram-keyed SHUFFLE join, never a broadcast).

    Scale posture: train gram postings whose document frequency
    exceeds ``max_gram_docs`` are excluded before the join — a gram in
    thousands of training documents is boilerplate/stop-phrase, not
    leakage evidence, and it is exactly the key that would blow the
    join up (pairs per gram ≤ cap · |test postings of that gram| —
    the same mega-bucket cap the LSH store applies). Both gram
    relations are narrow (id, shingle), distinct per doc, and
    localCheckpointed once because each feeds two consumers (totals +
    join; df-cap + join).

    Returns one row per test document THAT PRODUCED AT LEAST ONE
    SHINGLE: (id, n_grams, n_leaked_grams, leak_ratio, n_train_docs,
    leaked) — ``n_train_docs`` counts the distinct training documents
    reachable through any shared gram (capped grams only), ``leaked``
    is the any-collision flag. Test docs with NULL/empty/too-short
    text yield no shingle rows and are ABSENT from the output (they
    have no gram universe to leak; this matches the DuckDB oracle,
    which unnests the same empty set — r10 ADVICE asked this be
    documented rather than changed). Both sides shingle via the Arrow
    gram builder (arrow_docs.shingle_rows_arrow)."""
    tg = shingle_rows_arrow(test, text_col, id_col, n).transform(materialize)
    pg = shingle_rows_arrow(train, text_col, id_col, n).transform(materialize)
    capped = (
        pg.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_gram_docs)
        .select("shingle")
    )
    pairs = (
        tg.select(F.col("id").alias("test_id"), "shingle")
        .join(
            pg.select(F.col("id").alias("train_id"), "shingle").join(
                capped, "shingle"
            ),
            "shingle",
        )
    )
    leaks = pairs.groupBy("test_id").agg(
        F.countDistinct("shingle").alias("n_leaked_grams"),
        F.countDistinct("train_id").alias("n_train_docs"),
    )
    totals = tg.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    return (
        totals.join(leaks, totals.id == leaks.test_id, "left")
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            F.coalesce("n_leaked_grams", F.lit(0)).cast("long").alias(
                "n_leaked_grams"
            ),
            F.round(
                F.coalesce("n_leaked_grams", F.lit(0)) / F.col("n_grams"), 6
            ).alias("leak_ratio"),
            F.coalesce("n_train_docs", F.lit(0)).cast("long").alias("n_train_docs"),
            (F.coalesce("n_leaked_grams", F.lit(0)) >= F.lit(1)).alias("leaked"),
        )
    )


# ---------------------------------------------------------------------------
# Tier 3 — MinHash signatures + LSH banding
# ---------------------------------------------------------------------------
def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash LSH.

    Docs agreeing on ALL hash rows of any band collide; with 32
    hashes / 8 bands the collision probability curve is steep around
    Jaccard ≈ 0.5. At 100 TB: the only shuffles are the signature
    groupBy (doc-keyed) and the bucket groupBy (uniform 64-bit key);
    ``max_bucket`` caps degenerate mega-clusters so no task explodes
    quadratically.
    """
    rows_per_band = num_hashes // bands
    # Arrow shingle rows + JVM xxhash64 min-aggregates: the hash family
    # stays the JVM intrinsic.
    rows = shingle_rows_arrow(df, text_col, id_col, n)
    sig = rows.groupBy("id").agg(
        *[F.min(F.xxhash64("shingle", F.lit(i))).alias(f"h{i}") for i in range(num_hashes)]
    )
    banded = sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"h{b * rows_per_band + j}").cast("string")
                                for j in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )
    buckets = banded.groupBy("band", "band_hash").agg(
        F.sort_array(F.collect_set("id")).alias("ids")
    )
    buckets = buckets.filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x: F.transform(
                        F.filter(F.col("ids"), lambda y: y > x),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.id_a", "p.id_b").distinct()


def portable_hash_value(col: Column) -> Column:
    """First 8 hex chars of md5 as a long — the cross-engine hash seed."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def minhash_lsh_candidates_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    max_bucket: int = 1000,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Banded MinHash LSH candidates, portable-hash variant. Band key
    is the comma-joined signature slice (string equality — no second
    hash, so the oracle reproduces it exactly). Same shuffle profile
    as the xxhash64 tier: signature groupBy keyed by doc, bucket
    groupBy keyed by (band, bkey). Pass a precomputed (checkpointed)
    ``sig`` relation when the caller also consumes the signatures —
    aliased branches would otherwise re-run the whole signature
    pipeline."""
    rows_per_band = num_hashes // bands
    if sig is None:
        sig = minhash_signatures_arrow(df, text_col, id_col, num_hashes, n)
    banded = sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"h{b * rows_per_band + j}").cast("string")
                            for j in range(rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bkey"),
    )
    buckets = banded.groupBy("band", "bkey").agg(
        F.sort_array(F.collect_set("id")).alias("ids")
    )
    buckets = buckets.filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x: F.transform(
                        F.filter(F.col("ids"), lambda y: y > x),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.id_a", "p.id_b").distinct()


# ---------------------------------------------------------------------------
# Tier 4 — SimHash (64-bit)
# ---------------------------------------------------------------------------
def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """64-bit SimHash per doc: for each bit, count shingle hashes with
    that bit set; the fingerprint bit is 1 iff strictly more than half
    are. The shingle rows come from the Arrow gram builder
    (arrow_docs.shingle_rows_arrow); the xxhash64 bit votes are 64
    conditional-sum aggregates over them — all codegen'd bit
    arithmetic, one doc-keyed shuffle. The portable 60-bit variant is
    arrow_docs.simhash_table_arrow."""
    rows = shingle_rows_arrow(df, text_col, id_col, n).withColumn(
        "h", F.xxhash64("shingle")
    )
    ones = [
        F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(f"b{b}") for b in range(64)
    ]
    per_doc = rows.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"), *ones)
    out = F.lit(0).cast("long")
    for b in range(64):
        bit = (F.col(f"b{b}") * 2 > F.col("n_sh")).cast("long")
        out = out.bitwiseOR(F.shiftleft(bit, b))
    return per_doc.select(F.col("id").alias(id_col), out.alias("simhash64"))


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    radius: int = 3,
) -> DataFrame:
    """SimHash near-neighbor pairs within Hamming distance ``radius``,
    found with the pigeonhole band join (completing the dedup ladder:
    the fingerprints existed, the *search* did not).

    Split the 60-bit portable fingerprint into ``radius + 1`` equal
    bands: two fingerprints within Hamming distance ``radius`` must
    agree EXACTLY on at least one band (at most ``radius`` bits differ,
    so they can't touch all ``radius + 1`` bands). Candidate generation
    is therefore an equi self-join on (band, band_value) — never a
    cartesian product — and each candidate is verified with the exact
    popcount of the XOR. Same banding idea as MinHash-LSH but with a
    guarantee: within-radius recall is exactly 1.

    Scale: one shuffle on (band, band_value); band keys are
    near-uniform (simhash bits are balanced by construction), and the
    60/(radius+1)-bit band space keeps buckets small. Mega-buckets
    (boilerplate-heavy corpora) would be capped like
    minhash_lsh_candidates' max_bucket — omitted here because the
    verification filter bounds the damage to popcount work.
    """
    bits = 60
    n_bands = radius + 1
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    # Arrow fingerprint tier (measured 4.5 s cold → <1 s at sf0.1 against
    # a 61-aggregate JVM vote), materialized ONCE before the band
    # self-join: the two join branches alias columns
    # differently, which defeats Catalyst's ReusedExchange, so without
    # the checkpoint the whole fingerprint pipeline executes TWICE.
    # The checkpointed relation is one narrow row per document (id +
    # 60-bit fingerprint) — at corpus scale that is the small, uniform
    # table you WANT materialized before a self-join.
    sh = (
        simhash_table_arrow(df, text_col, id_col, n)
        .select(F.col(id_col).alias("id"), "simhash60")
        .transform(materialize, eager=True)
    )
    banded = sh.select(
        "id",
        "simhash60",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash60", b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bval"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash60", F.col("bk.band").alias("band"), F.col("bk.bval").alias("bval"))
    left = banded.select(
        F.col("id").alias("id_a"), F.col("simhash60").alias("sh_a"), "band", "bval"
    )
    right = banded.select(
        F.col("id").alias("id_b"), F.col("simhash60").alias("sh_b"), "band", "bval"
    )
    cand = (
        left.join(right, ["band", "bval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= radius)
        .orderBy("id_a", "id_b")
    )


def _cc_driver_union_find(
    g: DataFrame, nodes: DataFrame, id_col: str, id_dt: str = "bigint"
) -> DataFrame:
    """Driver-side union-find over a small (checkpointed, symmetric)
    edge list — min-id representative per component, identical output
    semantics AND output types to the distributed contraction loop
    (pytest-pinned; integral ids only — the caller gates on type).
    Union attaches the larger root under the smaller, so find() lands
    on the component's minimum id; path halving keeps it near-O(α)."""
    spark = g.sparkSession
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r

    for row in g.toPandas().itertuples(index=False):
        a, b = row.src, row.dst
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    mapping_rows = [(int(x), int(find(x))) for x in parent]
    if mapping_rows:
        mapping = spark.createDataFrame(mapping_rows, "id bigint, label bigint")
    else:
        mapping = spark.createDataFrame([], "id bigint, label bigint")
    isolated = (
        nodes.select(F.col(id_col).cast("long").alias("id"))
        .join(mapping.select("id"), "id", "left_anti")
        .withColumn("label", F.col("id"))
    )
    # Output columns cast back to the SOURCE id type so driver and
    # distributed solvers are interchangeable (int ids stay int).
    return mapping.unionByName(isolated).select(
        F.col("id").cast(id_dt).alias(id_col),
        F.col("label").cast(id_dt).alias("cluster_id"),
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
    driver_threshold: int = 500_000,
) -> DataFrame:
    """Connected components over a near-dup pair graph: every node gets
    ``cluster_id`` = the smallest node id reachable from it — the
    canonical-document assignment that turns pairwise dedup candidates
    into dedup GROUPS (keep one doc per cluster).

    Min-label propagation WITH GRAPH CONTRACTION (the r4 rework —
    pre-r4, every round re-joined the FULL symmetric edge list, so a
    6.8 M-edge graph paid the whole-edge shuffle 4-6 times; 39 s at
    the 50× scale smoke). Now each round relabels nodes to the min of
    their neighborhood on the CONTRACTED label graph, composes that
    (small) relabel table into the node→label mapping, and rewrites
    the edge set into label space (dropping self-loops + duplicate
    edges) — near-dup clusters are shallow and star-like, so the edge
    set collapses by orders of magnitude after round 1 and later
    rounds are near-free. Rounds needed stay O(log diameter) thanks
    to the pointer jump inside the relabel table. Convergence = an
    empty relabel table; ``localCheckpoint`` truncates the growing
    lineage per round (the standard Spark formulation for iterative
    algorithms — GraphX's CC does the same), and the per-round count
    is one scalar over the SMALL relabel table, not a hot-path
    collect.

    Graphs at or below ``driver_threshold`` symmetric edges are
    solved with driver-side union-find instead (identical min-id
    output, pytest-pinned): near-dup pair graphs are SPARSE — edges
    scale with the dup mass, not the corpus — and the distributed
    loop's per-round fixed job overhead dominates far below the
    threshold (measured 5.6 s on a 245-edge graph). Pass
    ``driver_threshold=0`` to force the distributed path.
    """
    # Materialize the edge list ONCE: its lineage (e.g. the whole
    # SimHash candidate pipeline) would otherwise re-execute per
    # iteration — measured 10 s vs 3 s at sf0.1 for a 4-round run.
    g = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .transform(materialize, eager=True)
    )
    # Scale-adaptive solver choice, same spirit as broadcast-join
    # selection: the distributed loop pays 2-3 jobs of fixed
    # scheduling overhead PER ROUND, which dominates below ~10⁵-10⁶
    # edges (measured 5.6 s for a 245-edge graph — pure overhead).
    # The count and collect both hit the eager checkpoint, so the
    # size probe costs one local job and a big graph wastes nothing.
    # Union-find collects ids as Python ints, so only integral id
    # types take the driver path; anything else (string urls, …)
    # stays on the type-agnostic distributed loop.
    id_dt = dict((f.name, f.dataType.simpleString()) for f in nodes.schema.fields)[
        id_col
    ]
    if id_dt in ("tinyint", "smallint", "int", "bigint") and (
        g.count() <= driver_threshold
    ):
        return _cc_driver_union_find(g, nodes, id_col, id_dt)
    # Track ONLY edge-incident nodes: a node with no candidate pair
    # keeps cluster_id = itself — isolated nodes rejoin at the end.
    mapping = (
        g.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .transform(materialize, eager=True)
    )
    for _ in range(max_iter):
        # Each label-graph node that can shrink: min over its
        # neighborhood (g is symmetric, so neighbors appear as src).
        nl = g.groupBy("dst").agg(F.min("src").alias("m"))
        relab = (
            nl.filter(F.col("m") < F.col("dst"))
            .select(F.col("dst").alias("rid"), F.col("m").alias("rlabel"))
        )
        # Pointer jump: v→m where m→m2 becomes v→m2 in the same round,
        # collapsing chains in O(log d) rounds instead of O(d).
        j = relab.select(F.col("rid").alias("jid"), F.col("rlabel").alias("jlabel"))
        relab = (
            relab.join(j, relab.rlabel == j.jid, "left")
            .select("rid", F.coalesce("jlabel", "rlabel").alias("rlabel"))
            .transform(materialize, eager=True)
        )
        if relab.limit(1).count() == 0:
            break
        # Compose into the node mapping (labels ARE label-graph nodes).
        r_map = relab.select(F.col("rid").alias("m_id"), F.col("rlabel").alias("m_new"))
        mapping = (
            mapping.join(r_map, mapping.label == r_map.m_id, "left")
            .select("id", F.coalesce("m_new", "label").alias("label"))
            .transform(materialize, eager=True)
        )
        # Contract the edge set into the new label space; self-loops
        # and duplicate edges drop, so the graph shrinks every round.
        r_src = relab.select(F.col("rid").alias("s_id"), F.col("rlabel").alias("s_new"))
        r_dst = relab.select(F.col("rid").alias("d_id"), F.col("rlabel").alias("d_new"))
        g = (
            g.join(r_src, g.src == r_src.s_id, "left")
            .join(r_dst, g.dst == r_dst.d_id, "left")
            .select(
                F.coalesce("s_new", "src").alias("src"),
                F.coalesce("d_new", "dst").alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .transform(materialize, eager=True)
        )
    isolated = (
        nodes.select(F.col(id_col).alias("id"))
        .join(mapping.select("id"), "id", "left_anti")
        .withColumn("label", F.col("id"))
    )
    return mapping.unionByName(isolated).select(
        F.col("id").alias(id_col), F.col("label").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# Tier 5 — substring-level exact dedup (repeated cross-corpus spans)
# ---------------------------------------------------------------------------
def _window_occurrences(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """Every k-token rolling window as a narrow (id, pos, key) row.

    Tokens are the standard whitespace tokens; ``pos`` is the 0-based
    token offset of the window start; ``key`` is md5 of the k tokens
    joined by one space. md5's 128 bits are deliberate: at corpus
    scale (~1e13 windows at 100 TB) a 64-bit key would produce real
    false collisions, and a false collision here CUTS legitimate text.
    The key replaces the gram string before any shuffle, so shuffle
    rows stay ~48 bytes regardless of k.

    Documents with fewer than ``k`` tokens emit no windows (unlike the
    shingle family's short-doc fallback — a doc that cannot contain a
    k-token span has nothing to flag). NULL text emits no rows.

    Plan shape: explicit-count repartition by id (single-split-table
    trap) → posexplode → one per-doc window sort for the k-1 leads.
    """
    n_part = shuffle_partitions(df.sparkSession)
    tok = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    w = W.partitionBy("id").orderBy("pos")
    leads = [F.lead("tok", j).over(w) for j in range(1, k)]
    gram = F.concat_ws(" ", F.col("tok"), *leads)
    full = leads[-1].isNotNull() if leads else F.lit(True)
    # gram and the completeness flag MUST land in one projection: a
    # filter between them would split the plan into two Window nodes,
    # and the second would recompute the leads over the already-
    # filtered rows — truncating the last k-1 grams of every document
    # by one token each (concat_ws silently skips the null lead).
    win = tok.select("id", "pos", gram.alias("gram"), full.alias("_full"))
    return win.filter(F.col("_full")).select(
        "id", "pos", F.md5(F.col("gram")).alias("key")
    )


def repeated_substring_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    seen_keys: DataFrame | None = None,
) -> DataFrame:
    """(id, pos) of every k-token window occurrence that repeats
    somewhere in the corpus and is NOT the canonical occurrence.

    Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better", arXiv:2107.06499 — the ExactSubstr method, public)
    remove all but one occurrence of every duplicated span; the kept
    ("canonical") occurrence here is the globally first by (id, pos),
    which makes the cut deterministic.

    One shuffle keyed by the window hash: row_number + count computed
    in a single window pass over each hash group (groups are tiny —
    almost all size 1 — and the key is uniform 128-bit, so there is no
    skew by construction). No self-join, so no aliased-branch double
    evaluation of the window emitter.

    ``seen_keys`` (a ``key`` column of window hashes from EARLIER
    corpus slices — :func:`substring_window_keys`) makes the flag
    incremental: an occurrence whose key was already seen is
    non-canonical even if it is first within ``df``, because the
    canonical occurrence lives in an earlier slice. With slices
    ordered by doc id, the union of per-slice flags equals the one-
    batch flags over the whole corpus (the streaming curation
    pipeline's drain-parity test pins this). The join keys the same
    shuffle the window pass already performs, so the incremental form
    adds no new exchange on the occurrence side.
    """
    occ = _window_occurrences(df, text_col, id_col, k)
    wk = W.partitionBy("key").orderBy("id", "pos")
    wc = W.partitionBy("key")
    occ = occ.withColumn("rn", F.row_number().over(wk)).withColumn(
        "cnt", F.count(F.lit(1)).over(wc)
    )
    flag = (F.col("cnt") >= 2) & (F.col("rn") > 1)
    if seen_keys is not None:
        occ = occ.join(
            seen_keys.select("key").distinct().withColumn("_seen", F.lit(1)),
            "key",
            "left",
        )
        flag = flag | (F.col("_seen") == 1)
    return occ.filter(flag).select("id", "pos")


def substring_window_keys(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """Distinct k-token window hashes of a corpus slice — the unit the
    incremental ExactSubstr span store accumulates (every later
    occurrence of a stored key is non-canonical by slice order; see
    ``repeated_substring_flags(seen_keys=...)``)."""
    return _window_occurrences(df, text_col, id_col, k).select("key").distinct()


def repeated_substring_spans(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """Maximal per-document spans of flagged (non-canonical repeated)
    k-token windows: (doc_id, span_start, span_end, n_windows), token
    offsets inclusive.

    Flagged windows at offsets p cover tokens [p, p+k-1]; overlapping
    or adjacent covers merge into one span via gaps-and-islands over
    the per-doc offset order (a new island starts when the gap to the
    previous window exceeds k — the same W5 cumulative-flag pattern as
    events_sessionization). One doc-keyed shuffle after the flag pass.
    """
    flagged = repeated_substring_flags(df, text_col, id_col, k)
    w = W.partitionBy("id").orderBy("pos")
    brk = (
        F.when(F.lag("pos").over(w).isNull(), 1)
        .when(F.col("pos") > F.lag("pos").over(w) + k, 1)
        .otherwise(0)
    )
    return (
        flagged.withColumn("island", F.sum(brk).over(w))
        .groupBy(F.col("id").alias(id_col), "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("island")
    )


def dedup_substrings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    keep_cols: tuple[str, ...] = (),
    seen_keys: DataFrame | None = None,
) -> DataFrame:
    """Cut corpus: every token covered by a flagged repeated window is
    removed; the canonical (globally first) occurrence of each span
    survives. Returns (doc_id, n_tokens, n_removed, clean_text) for
    every non-NULL-text document — clean_text is the kept tokens
    re-joined with single spaces (whitespace-normalizing, stated
    contract).

    A token t is cut iff some flagged window starts in [t-k+1, t]:
    after a left join of token rows with the flagged window starts on
    (id, pos), a running max over the trailing k-1 rows marks covered
    tokens — no range join. Per-doc reassembly is one groupBy with an
    order-stable array_sort(collect_list(struct(pos, ...))), so the
    text rebuild is deterministic under any shuffle order.
    ``keep_cols`` are per-document constants carried through the
    rebuild by first() — no corpus re-join downstream.

    ``seen_keys`` passes through to :func:`repeated_substring_flags`
    for the incremental (slice-ordered) form.
    """
    n_part = shuffle_partitions(df.sparkSession)
    flagged = repeated_substring_flags(
        df, text_col, id_col, k, seen_keys=seen_keys
    ).withColumn("wstart", F.lit(1))
    tok = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in keep_cols],
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    marked = tok.join(flagged, ["id", "pos"], "left").select(
        "id",
        *keep_cols,
        "pos",
        "tok",
        F.coalesce("wstart", F.lit(0)).alias("wstart"),
    )
    w = W.partitionBy("id").orderBy("pos").rowsBetween(-(k - 1), 0)
    cut = marked.withColumn("cut", F.max("wstart").over(w))
    return (
        cut.groupBy(F.col("id").alias(id_col))
        .agg(
            *[F.first(c).alias(c) for c in keep_cols],
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cut").alias("n_removed"),
            F.array_join(
                F.transform(
                    F.filter(
                        F.array_sort(F.collect_list(F.struct("pos", "cut", "tok"))),
                        lambda x: x["cut"] == 0,
                    ),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    para_tokens: int = 12,
) -> DataFrame:
    """Exact paragraph-level dedup: every non-canonical occurrence of a
    repeated paragraph is dropped; the canonical (globally first by
    (doc_id, para_no)) occurrence survives.

    The Dolma/CCNet recipe (Soldaini et al. 2024, arXiv:2402.00159 —
    public method) dedups at paragraph granularity between the
    document-level and substring-level passes: cheap enough to run on
    the whole corpus (one hash-keyed shuffle, no rolling windows),
    aggressive enough to strip boilerplate shared across pages. The
    synthetic corpus is single-line, so paragraphs are RE-LINED at
    fixed ``para_tokens`` boundaries — the same stated convention as
    the line-filter family (operators/text.py:425).

    Returns (doc_id, n_paras, n_kept, clean_text) for every
    non-NULL-text document; clean_text is the kept paragraphs joined
    with newlines in paragraph order ('' when everything was cut).

    Plan shape: doc-keyed explode → per-doc paragraph rebuild (reuses
    the id partitioning — no second shuffle) → ONE md5-keyed window
    pass for canonical election (the repeated_substring_flags shape:
    uniform 128-bit key, groups are dup-cluster-sized; a pathological
    boilerplate paragraph concentrates its group on one task, which
    AQE skew-split subdivides — the same accepted trade as the
    substring pass) → doc-keyed rebuild. The md5 key stands in for
    paragraph equality so shuffle rows stay narrow; a 128-bit false
    collision (~1e-18 at 1e10 paragraphs) would cut legitimate text,
    the same documented trade as _window_occurrences.
    """
    n_part = shuffle_partitions(df.sparkSession)
    tok = df.filter(F.col(text_col).isNotNull()).repartition(
        n_part, F.col(id_col)
    ).select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    paras = tok.groupBy(
        "id", F.floor(F.col("pos") / para_tokens).cast("int").alias("para_no")
    ).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("para")
    )
    wk = W.partitionBy(F.md5(F.col("para"))).orderBy("id", "para_no")
    ranked = paras.withColumn("rn", F.row_number().over(wk))
    return (
        ranked.groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.filter(
                            F.array_sort(
                                F.collect_list(
                                    F.struct("para_no", "rn", "para")
                                )
                            ),
                            lambda x: x["rn"] == 1,
                        ),
                        lambda x: x["para"],
                    ),
                    "\n",
                ),
                F.lit(""),
            ).alias("clean_text"),
        )
    )


def source_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    n: int = 3,
) -> DataFrame:
    """Pairwise n-gram overlap between corpus groups (sources/domains/
    snapshots): for every group pair with at least one shared shingle,
    the shared-gram count, each side's distinct-gram count, and the
    set Jaccard — the cross-source contamination matrix a corpus audit
    reads before mixing (which crawls duplicate each other, is the
    eval source leaked into a train source).

    Plan shape: one Arrow shingle pass (arrow_docs.shingle_rows_arrow,
    group col carried per document — no corpus re-join), collapsed to
    DISTINCT (group, md5(gram)) and checkpointed NARROW once (the
    relation feeds per-group sizes AND both sides of the gram self-
    join — the aliased-branch double-eval guard). The self-join is
    keyed by the 128-bit gram hash; a gram appears in at most
    |groups| rows, so join fan-out per key is bounded by |groups|² —
    never corpus-quadratic. Group sizes re-attach by broadcast
    (|groups| rows). Zero-overlap pairs are absent by construction
    (inner join) — stated contract.
    """
    rows = shingle_rows_arrow(df, text_col, id_col, n, keep_cols=(group_col,))
    g = (
        rows.select(F.col(group_col).alias("grp"), F.md5(F.col("shingle")).alias("key"))
        .distinct()
        .transform(materialize)
    )
    sizes = g.groupBy("grp").agg(F.count(F.lit(1)).alias("n_grams"))
    a, b = g.alias("a"), g.alias("b")
    inter = (
        a.join(b, "key")
        .filter(F.col("a.grp") < F.col("b.grp"))
        .groupBy(
            F.col("a.grp").alias("src_a"), F.col("b.grp").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("grp").alias("src_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col("grp").alias("src_b"), F.col("n_grams").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def ngram_novelty(
    cur: DataFrame,
    ref: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document n-gram NOVELTY of a current corpus slice against a
    REFERENCE slice: for every current document, how many of its
    DISTINCT word n-grams do not appear anywhere in the reference —
    the "how much of this crawl is actually new" audit a curation
    pipeline runs before paying to ingest a snapshot (near-zero
    novelty ⇒ the source re-serves known content; the inverse of the
    decontamination question, same shingle plumbing).

    Returns one row per current document with non-empty text:
    (id, *keep_cols, n_grams, n_novel, novelty_rate) — exact integer
    counts over the doc's distinct grams; novelty_rate =
    round(n_novel / n_grams, 6), NULL for gram-less docs (the
    completion left join keeps them, the repetition-gate lesson).

    Plan shape: two Arrow shingle passes (arrow_docs.shingle_rows_arrow
    — an explicit-count scatter before the batch op, so single-file
    tables still fan out distributed), the reference collapsed to
    DISTINCT md5(gram) keys, then ONE gram-hash-keyed LEFT equi join
    (uniform 128-bit key; no broadcast of either corpus-sized side)
    and a doc-keyed count. Cost ∝ distinct grams of both sides — the split-leakage
    audit's shape, never pairwise."""
    not_blank = F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    cur_base = cur.filter(not_blank)
    cgr = shingle_rows_arrow(cur_base, text_col, id_col, n, keep_cols=keep_cols).select(
        "id", *keep_cols, F.md5("shingle").alias("key")
    )
    ref_keys = (
        shingle_rows_arrow(ref.filter(not_blank), text_col, id_col, n)
        .select(F.md5("shingle").alias("key"))
        .distinct()
        .withColumn("__seen", F.lit(1))
    )
    per = (
        cgr.join(ref_keys, "key", "left")
        .groupBy("id", *keep_cols)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0)).alias(
                "n_novel"
            ),
        )
    )
    base = cur_base.select(F.col(id_col).alias("id"), *keep_cols)
    return base.join(per, ["id", *keep_cols], "left").select(
        F.col("id").alias(id_col),
        *keep_cols,
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
        # self-contained coalesces: an expression referencing the
        # aliases above would bind the LATERAL aliases (the shadowing
        # gotcha) — keep the rate derivable from the child columns only
        F.round(
            F.try_divide(
                F.coalesce(F.col("n_novel"), F.lit(0)),
                F.coalesce(F.col("n_grams"), F.lit(0)),
            ),
            6,
        ).alias("novelty_rate"),
    )


def _bloom_pos(col: Column, i: int, m_bits: int) -> Column:
    """i-th Bloom bit position of a gram: 20-bit md5 hex slice mod m.
    Slices [1+5i, 5+5i] of the hex digest give independent-enough
    hashes and are reproducible in DuckDB (CAST('0x'||substring(...))."""
    return (
        F.conv(F.substring(F.md5(col), 1 + 5 * i, 5), 16, 10).cast("long")
        % m_bits
    )


def decontaminate_bloom(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 4,
    m_bits: int = 1 << 18,
    n_hashes: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_grams: DataFrame | None = None,
    eval_grams: DataFrame | None = None,
) -> DataFrame:
    """Bloom-filter tier of benchmark decontamination: flag a training
    document when one of its n-grams hits ALL ``n_hashes`` Bloom bit
    positions set by the eval set's grams.

    Why a second tier exists: the exact tier broadcasts the eval
    DISTINCT-GRAM SET, whose size grows with the benchmark suite; the
    Bloom side broadcasts only the SET BIT POSITIONS, capped at
    ``m_bits`` rows no matter how many eval grams exist — the Bloom
    memory bound realized relationally. Classic Bloom semantics hold:
    no false negatives (every truly shared gram hits, so the exact
    tier's flags are a subset — property-tested), false positives at
    the standard (1-e^{-kn/m})^k rate, which for decontamination
    means over-cleaning a little, never leaking eval data.

    Plan shape: both sides shingle via the Arrow gram builder
    (arrow_docs.shingle_rows_arrow), then per-hash LEFT broadcast joins
    on the position columns (no explode, no extra shuffle), one
    doc-keyed aggregation. Deterministic: positions are md5-derived,
    so the whole tier is oracle-checkable.

    ``train_grams`` / ``eval_grams`` share a prebuilt gram grain with
    the exact tier (same contract as decontaminate_ngram).
    """
    if train_grams is not None:
        _assert_gram_n(train_grams, n, "train_grams")
    if eval_grams is not None:
        _assert_gram_n(eval_grams, n, "eval_grams")
    tg = train_grams if train_grams is not None else shingle_rows_arrow(
        train, text_col, id_col, n
    )
    eg = (
        eval_grams
        if eval_grams is not None
        else shingle_rows_arrow(eval_df, text_col, id_col, n).select("shingle").distinct()
    )
    bits = (
        eg.select(
            F.explode(
                F.array(
                    *[_bloom_pos(F.col("shingle"), i, m_bits) for i in range(n_hashes)]
                )
            ).alias("pos")
        )
        .distinct()
        # one broadcast per hash consumes this relation — without the
        # checkpoint each would re-run the whole eval shingle pipeline
        .transform(materialize)
    )
    marked = tg
    hit_cols = []
    for i in range(n_hashes):
        p = f"_p{i}"
        h = f"_h{i}"
        marked = marked.withColumn(p, _bloom_pos(F.col("shingle"), i, m_bits)).join(
            F.broadcast(
                bits.select(F.col("pos").alias(p)).withColumn(h, F.lit(1))
            ),
            p,
            "left",
        )
        hit_cols.append(F.col(h).isNotNull())
    all_hit = hit_cols[0]
    for c in hit_cols[1:]:
        all_hit = all_hit & c
    agg = marked.withColumn("_flag", all_hit.cast("int")).groupBy("id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("_flag").alias("_n_hit"),
    )
    hits = F.col("_n_hit")
    return agg.select(
        F.col("id").alias(id_col),
        "n_grams",
        hits.alias("n_bloom_hits"),
        F.round(hits / F.col("n_grams"), 6).alias("bloom_ratio"),
        (hits >= F.lit(1)).alias("bloom_flagged"),
    )


def minhash_jaccard_estimates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    n: int = 3,
) -> DataFrame:
    """Per-candidate-pair MinHash Jaccard ESTIMATE next to the exact
    value: est = matching signature components / num_hashes (the
    unbiased MinHash estimator), exact = shingle-set Jaccard, plus the
    absolute error — the estimator-quality readout a dedup calibration
    run reports (how trustworthy are signature-only decisions at this
    signature width).

    Plan shape: signatures computed ONCE and checkpointed (they feed
    banding AND both sides of the pair compare); exact sets are built
    only for documents that appear in a candidate pair (semi-join
    reduction — candidates are the rare case by construction). The
    match count is a fixed-order sum of 32 equality indicators —
    exact integers, engine-portable.
    """
    sig = minhash_signatures_arrow(df, text_col, id_col, num_hashes, n).transform(materialize)
    pairs = minhash_lsh_candidates_portable(
        df, text_col, id_col, num_hashes, sig=sig
    ).transform(materialize)
    sa = sig.select(
        F.col("id").alias("id_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(num_hashes)]
    )
    sb = sig.select(
        F.col("id").alias("id_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(num_hashes)]
    )
    matches = None
    for i in range(num_hashes):
        t = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        matches = t if matches is None else matches + t
    est = pairs.join(sa, "id_a").join(sb, "id_b").select(
        "id_a", "id_b", matches.alias("n_match")
    )
    pair_ids = (
        pairs.select(F.col("id_a").alias("pid"))
        .union(pairs.select(F.col("id_b").alias("pid")))
        .distinct()
    )
    docs_in_pairs = df.join(
        F.broadcast(pair_ids), F.col(id_col) == F.col("pid")
    ).drop("pid")
    # arrays feeds BOTH sides of the pair compare — without the
    # checkpoint the aliased branches defeat ReusedExchange and the
    # semi-join + text scan + shingle build execute twice (r16, guide
    # §2.4; the plan showed two full-text parquet scans). The
    # materialized frame is pair-member-sized, not corpus-sized.
    arrays = shingle_arrays_arrow(docs_in_pairs, text_col, id_col, n).transform(materialize)
    aa = arrays.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    ab = arrays.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    exact = inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")
    return (
        est.join(aa, "id_a")
        .join(ab, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("n_match") / F.lit(float(num_hashes)), 6).alias(
                "est_jaccard"
            ),
            F.round(exact, 6).alias("exact_jaccard"),
            F.round(
                F.abs(F.col("n_match") / F.lit(float(num_hashes)) - exact), 6
            ).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# Tier 6 — winnowing fingerprint overlap (MOSS-style local dedup)
# ---------------------------------------------------------------------------
def _winnow_fp_rows(
    df: DataFrame, text_col: str, id_col: str, window: int, w: int
) -> DataFrame:
    """Distinct (id, fp) winnowed-fingerprint rows via the exploded
    window formulation (JVM whole-stage codegen end to end): explicit-
    count repartition on id → posexplode tokens → the Rabin–Karp span
    hash as a chain of k-1 window leads folded in ONE projection (a
    NULL lead at end-of-doc propagates, so ``h IS NULL`` is exactly the
    incomplete-span flag — no second Window node), then the w-wide
    local minima as a rows-between frame min with a lead-based
    completeness flag in the SAME projection (round-5 split-Window
    trap). Documents with 1..w-1 spans keep their single global min
    (the winnowing guarantee's short grade); < window tokens emit
    nothing. Semantics equality vs the per-row array form
    (operators/text.py::winnow_fingerprints) is pytest-pinned."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import _RK_BASE, _RK_MOD

    n_part = shuffle_partitions(df.sparkSession)
    tok = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    wd = W.partitionBy("id").orderBy("pos")
    acc = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % _RK_MOD
    for j in range(1, window):
        lead_v = F.conv(
            F.substring(F.md5(F.lead("tok", j).over(wd)), 1, 8), 16, 10
        ).cast("long")
        acc = (acc * _RK_BASE + lead_v) % _RK_MOD
    spans = tok.select("id", "pos", acc.alias("h")).filter(
        F.col("h").isNotNull()
    )
    ws = W.partitionBy("id").orderBy("pos")
    # marked feeds the regular and short grades — checkpoint so the
    # explode + two window passes run once
    marked = spans.select(
        "id",
        F.min("h").over(ws.rowsBetween(0, w - 1)).alias("wmin"),
        F.lead("h", w - 1).over(ws).isNotNull().alias("_wfull"),
        F.count(F.lit(1)).over(W.partitionBy("id")).alias("_n_spans"),
        "h",
    ).transform(materialize)
    regular = marked.filter(F.col("_wfull")).select(
        "id", F.col("wmin").alias("fp")
    )
    shorts = (
        marked.filter(F.col("_n_spans") < w)
        .groupBy("id")
        .agg(F.min("h").alias("fp"))
    )
    return regular.unionByName(shorts).distinct()


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 5,
    w: int = 4,
    ubiquity_cap: int = 50,
    min_shared: int = 1,
) -> DataFrame:
    """(a, b) pairs sharing winnowed fingerprints, with the shared
    count and a containment score — Schleimer et al. 2003's winnowing
    (the MOSS fingerprinting algorithm, public) as a dedup tier.

    Positioning in the ladder: MinHash estimates WHOLE-document
    Jaccard, so a long document containing a copied paragraph scores
    low; winnowing selects local minima of the rolling k-token span
    hashes, so any shared span of >= window + w - 1 tokens is
    GUARANTEED to contribute a shared fingerprint regardless of the
    surrounding text — the partial-overlap / quotation / boilerplate
    detector the whole-doc tiers miss. Containment (shared over the
    smaller fingerprint set) is the natural score: an exact copy of a
    fragment scores 1.0 on the fragment's side.

    Scale shape: fingerprints are a per-row array expression (spans
    per doc are bounded by token count; the winnow keeps ~2/(w+1) of
    them), exploded to narrow (id, fp) rows. Fingerprints shared by
    more than ``ubiquity_cap`` documents are dropped BEFORE the
    self-join (one window count over the fp exchange) — boilerplate
    ubiquitous fragments carry no pair discrimination and are exactly
    the quadratic-fan-out keys (the LSH family's mega-bucket cap and
    the leakage audit's 1000-doc gram cap, same discipline). The pair
    join is then an equi join on fp with per-key fan-out <=
    ubiquity_cap**2, followed by one partial-aggregated (a, b) count.

    The fingerprints here come from :func:`_winnow_fp_rows` — the
    exploded window formulation, NOT operators/text.py::
    winnow_fingerprints's per-row array form: the doubly-nested HOF
    (transform over aggregate-over-slice, then transform over
    min-over-slice) runs interpreted and measured 9× slower at sf0.1
    (47.4 s → 5.3 s; the module-docstring shingle lesson, squared).
    The two formulations are equality-asserted in tests.
    """
    # fps feeds three consumers (sizes + both self-join sides via rare)
    # and rare feeds two — checkpoint both so the fingerprint pass and
    # the fp-ubiquity window each run once (aliased-branch discipline).
    fps = _winnow_fp_rows(df, text_col, id_col, window, w).transform(materialize)
    # n_fp is the PRE-cap fingerprint count: containment is defined
    # against the document's full fingerprint set, the cap only prunes
    # which fingerprints may generate candidate pairs.
    sizes = fps.groupBy("id").agg(F.count(F.lit(1)).alias("n_fp"))
    rare = (
        fps.withColumn("_nd", F.count(F.lit(1)).over(W.partitionBy("fp")))
        .filter(F.col("_nd") <= ubiquity_cap)
        .transform(materialize)
    )
    a = rare.select(F.col("id").alias("id_a"), "fp")
    b = rare.select(F.col("id").alias("id_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_fp").alias("n_fp_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_fp").alias("n_fp_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            "n_fp_a",
            "n_fp_b",
            F.round(
                F.col("n_shared").cast("double")
                / F.least("n_fp_a", "n_fp_b").cast("double"),
                6,
            ).alias("containment"),
        )
    )


def winnow_containment_estimates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 5,
    w: int = 4,
    ubiquity_cap: int = 50,
) -> DataFrame:
    """Per-winnow-candidate-pair containment ESTIMATE next to the exact
    value — the estimator-quality readout behind the winnowing window
    choice (the tier-6 analogue of minhash_jaccard_estimates): est =
    shared winnowed fingerprints over the smaller fingerprint set,
    exact = shared distinct k-token spans over the smaller distinct-
    span set. Winnowing samples ~2/(w+1) of the spans as local minima,
    so the estimate is noisy on small overlaps; the guarantee only
    promises detection (>= 1 shared fingerprint per shared >= k+w-1
    token span), and this report measures how far detection-grade
    sampling sits from the true overlap.

    Plan shape: candidate pairs from winnow_overlap_pairs (already
    checkpointed inside); exact span sets are built ONLY for documents
    appearing in a pair (broadcast semi-join reduction — candidates
    are rare by construction), via the same _window_occurrences grain
    the ExactSubstr family uses, distinct per (id, key), one equi join
    on the uniform 128-bit key."""
    pairs = winnow_overlap_pairs(
        df, text_col, id_col, window, w, ubiquity_cap
    ).transform(materialize)
    pair_ids = (
        pairs.select(F.col("id_a").alias("pid"))
        .union(pairs.select(F.col("id_b").alias("pid")))
        .distinct()
    )
    docs_in_pairs = df.join(
        F.broadcast(pair_ids), F.col(id_col) == F.col("pid")
    ).drop("pid")
    spans = (
        _window_occurrences(docs_in_pairs, text_col, id_col, window)
        .select("id", "key")
        .distinct()
        .transform(materialize)
    )
    sizes = spans.groupBy("id").agg(F.count(F.lit(1)).alias("n_spans"))
    sa = spans.select(F.col("id").alias("id_a"), "key")
    sb = spans.select(F.col("id").alias("id_b"), "key")
    shared = (
        sa.join(sb, "key")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_spans"))
    )
    za = sizes.select(F.col("id").alias("id_a"), F.col("n_spans").alias("n_spans_a"))
    zb = sizes.select(F.col("id").alias("id_b"), F.col("n_spans").alias("n_spans_b"))
    est = F.col("containment")
    exact = F.coalesce(F.col("n_shared_spans"), F.lit(0)).cast(
        "double"
    ) / F.least("n_spans_a", "n_spans_b").cast("double")
    return (
        pairs.join(shared, ["id_a", "id_b"], "left")
        .join(za, "id_a")
        .join(zb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            est.alias("est_containment"),
            F.round(exact, 6).alias("exact_containment"),
            F.round(F.abs(est - F.round(exact, 6)), 6).alias("abs_err"),
        )
    )
