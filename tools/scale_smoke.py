"""Scale-up smoke: run the heaviest document operators on an N×
re-keyed union of the sf0.1 corpus and report wall-clock scaling.

The driver's correctness inputs stay untouched — this synthesizes a
LARGER copy purely to answer the scale question the small SFs cannot:
does each operator's cost grow ~linearly with corpus size (shuffle on
uniform keys, bounded buckets), or is something quadratic hiding below
the test sizes?

Run: python tools/scale_smoke.py [multiplier]        (default 20 → 100k docs)
     python tools/scale_smoke.py [multiplier] --emb  (embedding family)
     python tools/scale_smoke.py --flagship          (composed flagships,
                                                      1×/20×/50×, per stage)
     python tools/scale_smoke.py --overlap-density   (overlap stage under
                                                      growing concurrency)

The --flagship mode consumes the three composed flagships'
``*_stage_frames`` dicts (curation / RAG-prep / activity): for each
multiplier it writes a scaled copy of the input tables to a
gitignored scratch dir, then counts each stage frame IN ORDER,
attributing wall-clock per stage — the lazy localCheckpoints inside
the pipelines make the cumulative counts genuinely incremental
across checkpoint boundaries (a stage's time is its own work plus
only the un-checkpointed prefix). Events are scaled as DISJOINT
EPOCHS (user_id/event_id re-keyed, ts shifted by copy × 31 days) so
per-copy session/overlap/cohort density equals the base corpus's —
the events analogue of the doc mode's every-3rd-token mutation: the
smoke measures operator cost growth, not constructed interaction
density.

The --emb mode scales the embeddings table with a per-copy
deterministic SIGN-FLIP perturbation (flip dim i of copy c when
xxhash64(i·1024+c) is even): sign flips shared by two vectors cancel
in their dot product, so every within-copy cosine is preserved
EXACTLY (base-corpus dup density per copy) while cross-copy cosines
decorrelate to ~0 — the embedding analogue of the doc mode's
every-3rd-token mutation. It then measures, at 1× and N×:
sign-LSH near-dup at the FIXED 8×8 band config (expected to degrade —
fixed-width buckets fill linearly, so the bucket self-join grows
quadratically past the width they were sized for) AND at the widened
4×16 config (the documented mitigation — expected ~linear);
the sample-fit kmeans quantizer + knn_graph + semdedup with the cell
count k GROWN with the corpus (constant cell width — SemDeDup's own
scaling contract), via the Arrow centroid-matrix tier; and the
brute-force Arrow cosine top-k (linear scan baseline).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark import get_spark
from streamprocessing_kafka_finlight_news_dashboard_spark.operators import dedup as D
from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as X
from streamprocessing_kafka_finlight_news_dashboard_spark.session import materialize
from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table


def scaled_docs(spark, sf_dir: str, mult: int):
    base = load_table(spark, sf_dir, "documents")
    # stride by max(id)+1, not count: a sparse id space would otherwise
    # collide copies onto the same doc_id
    n = base.agg(F.max("doc_id")).first()[0] + 1
    copies = spark.range(mult).select(F.col("id").alias("copy"))
    # Re-key so ids stay unique, and MUTATE every 3rd token with a
    # copy-specific suffix. A weak perturbation (one appended token —
    # the pre-r4 version) left all N copies of a doc mutual near-dups,
    # so candidate pairs grew quadratically BY CONSTRUCTION and the
    # smoke measured constructed duplicates, not operator cost. The
    # every-3rd-token mutation kills cross-copy shingle/simhash
    # similarity while leaving each copy's INTERNAL dup structure
    # (identical mutation within a copy) at the base corpus's density,
    # so candidate volume should scale ~linearly with the multiplier.
    toks = F.split(F.col("text"), " ")
    mutated = F.array_join(
        # 2-arg transform lambda = (element, index) in Spark
        F.transform(
            toks,
            lambda t, i: F.when(
                i % 3 == 0, F.concat(t, F.lit("~"), F.col("copy").cast("string"))
            ).otherwise(t),
        ),
        " ",
    )
    return (
        base.crossJoin(copies)
        .select(
            (F.col("doc_id") + F.col("copy") * n).alias("doc_id"),
            "lang",
            F.when(F.col("copy") == 0, F.col("text")).otherwise(mutated).alias("text"),
            # carry source through (the curation flagship's r11 URL
            # stage derives domains from it); each copy keeps the base
            # corpus's per-source density
            "source",
        )
    )


def scaled_embeddings(spark, sf_dir: str, mult: int):
    base = load_table(spark, sf_dir, "embeddings")
    n = base.agg(F.max("vec_id")).first()[0] + 1
    copies = spark.range(mult).select(F.col("id").alias("copy"))
    # Per-copy sign flips: a flip shared by both sides of a dot product
    # cancels, so within-copy cosines are EXACT; cross-copy pairs see
    # ~half their terms negated and decorrelate to ~0.
    flipped = F.transform(
        F.col("embedding"),
        lambda x, i: F.when(
            F.pmod(F.xxhash64(i * F.lit(1024) + F.col("copy")), F.lit(2)) == 0, -x
        ).otherwise(x),
    )
    return base.crossJoin(copies).select(
        (F.col("vec_id") + F.col("copy") * n).alias("vec_id"),
        F.when(F.col("copy") == 0, F.col("embedding"))
        .otherwise(flipped)
        .alias("embedding"),
        "label",
    )


def scaled_events(spark, sf_dir: str, mult: int):
    """N disjoint-epoch copies of the events table: each copy re-keys
    user_id/event_id past the previous copy's max and shifts ts by
    copy × 31 days (the base span is ~30 days), so sessions, interval
    overlaps, funnels and cohorts never cross copies — density per
    epoch stays at the base corpus's and every stage's expected cost
    is ~linear in the multiplier."""
    base = load_table(spark, sf_dir, "events")
    mx = base.agg(
        F.max("event_id").alias("me"), F.max("user_id").alias("mu")
    ).first()
    n_ev, n_us = mx["me"] + 1, mx["mu"] + 1
    copies = spark.range(mult).select(F.col("id").alias("copy"))
    return base.crossJoin(copies).select(
        (F.col("event_id") + F.col("copy") * n_ev).alias("event_id"),
        F.expr("ts + make_interval(0, 0, 0, copy * 31, 0, 0, 0)").alias("ts"),
        (F.col("user_id") + F.col("copy") * n_us).alias("user_id"),
        "event_type",
        "value",
        "props",
    )


def scaled_events_dense(spark, sf_dir: str, mult: int):
    """N user-population copies in the SAME time range (user_id and
    event_id re-keyed, ts UNCHANGED): concurrent-session density grows
    with the multiplier, so pairwise interval overlaps grow ~m² BY
    SEMANTICS — the overlap relation itself is quadratic in
    concurrency. The density smoke exists to show the banded join's
    COST tracks that output size (output-bound, no algorithmic waste
    on top), the complement of the disjoint-epoch mode's linearity."""
    base = load_table(spark, sf_dir, "events")
    mx = base.agg(
        F.max("event_id").alias("me"), F.max("user_id").alias("mu")
    ).first()
    n_ev, n_us = mx["me"] + 1, mx["mu"] + 1
    copies = spark.range(mult).select(F.col("id").alias("copy"))
    return base.crossJoin(copies).select(
        (F.col("event_id") + F.col("copy") * n_ev).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("copy") * n_us).alias("user_id"),
        "event_type",
        "value",
        "props",
    )


def overlap_density_main(mults: tuple[int, ...]) -> None:
    """Honest-caveat measurement for the activity flagship's overlap
    stage: growing CONCURRENCY (not corpus span) makes the pairwise
    overlap relation quadratic by definition. Reports pairs and
    wall-clock per multiplier so time-per-pair can be checked flat —
    the operator's cost must be output-bound, not super-output."""
    import shutil

    from streamprocessing_kafka_finlight_news_dashboard_spark.plans.timeseries2 import activity_stage_frames

    sf_dir = "/root/testdata/sf0.1"
    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scale_smoke_tmp",
    )
    spark = get_spark(app_name="scale-smoke-overlap-density")
    spark.range(0, 1000, 1, 32).mapInPandas(lambda it: it, "id long").count()
    try:
        for m in mults:
            if m == 1:
                use_dir = sf_dir
            else:
                use_dir = os.path.join(scratch, f"dense{m}")
                scaled_events_dense(spark, sf_dir, m).write.mode(
                    "overwrite"
                ).parquet(os.path.join(use_dir, "events.parquet"))
            frames = activity_stage_frames(spark, use_dir)
            # materialize the sessionize checkpoint first so the
            # overlap timing below is the overlap stage alone
            n_sess = frames["s0_sessionize"].count()
            t0 = time.perf_counter()
            pairs = frames["s2_overlap_join"].count()
            dt = time.perf_counter() - t0
            per_mpair = dt / max(pairs / 1e6, 1e-9)
            print(
                f"x{m}: {n_sess} sessions, {pairs} overlap pairs, "
                f"{dt:.1f}s ({per_mpair:.2f} s/Mpair)",
                flush=True,
            )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()


def flagship_main(mults: tuple[int, ...]) -> None:
    """Per-stage wall-clock attribution for the three composed
    flagships at each multiplier (the consumer the *_stage_frames
    contract names). Scaled inputs land in a gitignored scratch dir so
    load_table/sf_dir semantics are untouched; scratch is removed on
    exit."""
    import shutil

    from streamprocessing_kafka_finlight_news_dashboard_spark.plans.text import curation_stage_frames
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans.text2 import (
        decontamination_stage_frames,
        rag_prep_stage_frames,
        training_shard_stage_frames,
    )
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans.domain import domain_stage_frames
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans.timeseries2 import activity_stage_frames

    sf_dir = "/root/testdata/sf0.1"
    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scale_smoke_tmp",
    )
    spark = get_spark(app_name="scale-smoke-flagship")
    spark.range(0, 1000, 1, 32).mapInPandas(lambda it: it, "id long").count()
    flagships = [
        ("doc_curation_pipeline", curation_stage_frames),
        ("doc_rag_prep_pipeline", rag_prep_stage_frames),
        ("events_activity_pipeline", activity_stage_frames),
        ("doc_training_shard_manifest", training_shard_stage_frames),
        ("domain_pipeline", domain_stage_frames),
        ("doc_decontamination_audit", decontamination_stage_frames),
    ]
    # --only NAME restricts to one flagship (fast per-round re-smoke of
    # a new or changed pipeline without re-timing the whole set)
    only = [a for a in sys.argv[1:] if a.startswith("--only=")]
    if only:
        keep = only[-1].split("=", 1)[1]
        flagships = [f for f in flagships if f[0] == keep]
        if not flagships:
            raise SystemExit(f"unknown flagship {keep!r}")
    try:
        for m in mults:
            if m == 1:
                use_dir = sf_dir
            else:
                use_dir = os.path.join(scratch, f"mult{m}")
                scaled_docs(spark, sf_dir, m).write.mode("overwrite").parquet(
                    os.path.join(use_dir, "documents.parquet")
                )
                scaled_events(spark, sf_dir, m).write.mode("overwrite").parquet(
                    os.path.join(use_dir, "events.parquet")
                )
                # the decontamination flagship's semantic tier reads
                # embeddings; the sign-flip scaling preserves within-
                # copy cosines exactly (see module docstring)
                scaled_embeddings(spark, sf_dir, m).write.mode(
                    "overwrite"
                ).parquet(os.path.join(use_dir, "embeddings.parquet"))
            print(f"\n=== flagship stages × {m} ===", flush=True)
            for name, frames_fn in flagships:
                print(f"--- {name} ---", flush=True)
                frames = frames_fn(spark, use_dir)
                t_total = 0.0
                for stage, df in frames.items():
                    t0 = time.perf_counter()
                    rows = df.count()
                    dt = time.perf_counter() - t0
                    t_total += dt
                    print(f"{stage}: {dt:.1f}s ({rows} rows)", flush=True)
                print(f"{name} total: {t_total:.1f}s", flush=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()


def emb_main(mult: int) -> None:
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import similarity as S

    sf_dir = "/root/testdata/sf0.1"
    spark = get_spark(app_name="scale-smoke-emb")
    spark.range(0, 1000, 1, 32).mapInPandas(lambda it: it, "id long").count()

    for m in (1, mult):
        emb = scaled_embeddings(spark, sf_dir, m).transform(materialize, eager=True)
        n = emb.count()
        # cell count grows with the corpus → constant cell width
        # (~100): SemDeDup's own scaling contract for the quadratic
        # within-cell stage. Arrow centroid-matrix tier at every scale
        # so the two runs measure the same code path.
        k = max(16, n // 100)
        cents = S.kmeans_centroids(
            emb, k=k, iters=3, sample_fit=256 * k
        ).select(F.col("cell").alias("label"), "centroid")
        print(f"\n=== embeddings × {m} = {n} vecs, k = {k} cells ===", flush=True)
        ops = [
            (
                "sign_lsh 8x8 (fixed width)",
                lambda e=emb: S.near_dup_pairs(e, threshold=0.4).count(),
            ),
            (
                "sign_lsh 4x16 (widened)",
                lambda e=emb: S.near_dup_pairs(
                    e, threshold=0.4, n_bands=4, band_bits=16
                ).count(),
            ),
            (
                "knn_graph k=3",
                lambda e=emb, c=cents: S.knn_graph(
                    e, k=3, centroids=c, tier="arrow"
                ).count(),
            ),
            (
                "semdedup",
                lambda e=emb, c=cents: S.semdedup(
                    e, threshold=0.4, centroids=c, tier="arrow"
                ).count(),
            ),
            (
                "cosine_topk_arrow (10 queries)",
                lambda e=emb: S.cosine_topk_arrow(e, list(range(10)), k=5).count(),
            ),
            # PQ-ADC: codebook size is FIXED (m·ksub), so encode cost is
            # linear in corpus and the ADC scan touches only m-code rows
            # + broadcast LUTs — the compressed-scan shape should track
            # the corpus multiplier ~linearly.
            (
                "pq_adc_topk (10 queries)",
                lambda e=emb: S.pq_adc_topk(
                    e,
                    list(range(10)),
                    k=3,
                    codebooks=S.pq_codebooks_kmeans(e, m=8, ksub=16, iters=3),
                ).count(),
            ),
            # PageRank adds three constant-width join+agg rounds on top
            # of the knn edge build — per-iteration cost is O(|edges|)
            # = O(k·n), so wall-clock should track the knn_graph line
            # plus a corpus-linear increment.
            (
                "knn_pagerank k=3 iters=3",
                lambda e=emb, c=cents: S.knn_pagerank(
                    e, k=3, iterations=3, centroids=c, tier="arrow"
                ).count(),
            ),
            # Semantic decontamination holds the EVAL side fixed at the
            # base corpus's benchmark rows while the train side scales —
            # the operator's stated broadcast contract; cost is one fold
            # per (train row × fixed eval row), linear in the corpus.
            (
                "semantic_decontaminate (fixed eval)",
                lambda e=emb, base_n=n // m: S.semantic_decontaminate(
                    e,
                    (F.col("vec_id") % 97 == 0) & (F.col("vec_id") < base_n),
                    threshold=0.4,
                ).count(),
            ),
            # Label consensus = knn_graph + one |edges|-row groupBy +
            # a 3-row-per-vector vote window — wall-clock should track
            # the knn_graph line with a corpus-linear increment (r10).
            (
                "knn_label_consensus k=3",
                lambda e=emb, c=cents: S.knn_label_consensus(
                    e, k=3, centroids=c, tier="arrow"
                ).count(),
            ),
        ]
        if m > 8:
            # The fixed-width config's quadratic bucket fill is already
            # demonstrated by 4×8 runs; past that it just burns the
            # smoke's wall-clock (24 M+ candidate pairs at 20×).
            print("sign_lsh 8x8 (fixed width): skipped at high mult "
                  "(known-quadratic; see 4x run)", flush=True)
            ops = ops[1:]
        for label, thunk in ops:
            t0 = time.perf_counter()
            rows = thunk()
            print(f"{label}: {time.perf_counter() - t0:.1f}s ({rows} rows)", flush=True)
    spark.stop()


def r14ops_main(mults: tuple[int, ...]) -> None:
    """Round-14 new-operator ladder: KS drift + chi-square drift over
    the mutated doc corpus, SCD2 over disjoint-epoch events, triangle
    stats over the sign-flip embeddings. Forcing notes: the KS/chi2
    reports are tiny aggregates whose whole upstream is aggregation —
    nothing for Catalyst to eliminate under count(); SCD2 is measured
    via agg(sum(n_events)) so the run-collapse windows must all run;
    triangles via agg(sum(n_triangles)) likewise keeps the join tree."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import similarity as S
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans.timeseries2 import build_scd2

    sf_dir = "/root/testdata/sf0.1"
    spark = get_spark(app_name="scale-smoke-r14ops")
    spark.range(0, 1000, 1, 32).mapInPandas(lambda it: it, "id long").count()
    for m in mults:
        docs = scaled_docs(spark, sf_dir, m).transform(materialize, eager=True)
        events = scaled_events(spark, sf_dir, m).transform(materialize, eager=True)
        embs = scaled_embeddings(spark, sf_dir, m).transform(materialize, eager=True)
        print(
            f"\n=== x{m}: docs={docs.count()} events={events.count()} "
            f"vecs={embs.count()} ===",
            flush=True,
        )
        t = F.col("text")
        feats = docs.filter(F.col("text").isNotNull()).select(
            "doc_id",
            X.token_count(t).alias("n_tokens"),
            F.round(X.stopword_ratio(t), 6).alias("stopword_ratio"),
            X.quality_score(t).alias("quality"),
        )
        for label, thunk in [
            (
                "ks_drift",
                lambda f=feats: X.ks_drift_report(
                    f.filter(F.col("doc_id") % 2 == 0),
                    f.filter(F.col("doc_id") % 2 == 1),
                    ("n_tokens", "quality", "stopword_ratio"),
                ).count(),
            ),
            (
                "chi2_drift",
                lambda d=docs: X.categorical_drift_chi2(
                    d.filter(F.col("doc_id") % 2 == 0),
                    d.filter(F.col("doc_id") % 2 == 1),
                    "lang",
                ).count(),
            ),
            (
                "scd2_history",
                lambda e=events: build_scd2(e).agg(F.sum("n_events")).first(),
            ),
            (
                # fixed label cells: |cell| grows with the corpus, so
                # the within-cell scoring join is known-quadratic —
                # kept at low mult as the contrast line only
                "knn_triangles (fixed 10 cells)",
                lambda e=embs, mm=m: (
                    S.triangle_stats(S.knn_graph(e, k=3))
                    .agg(F.sum("n_triangles"))
                    .first()
                    if mm <= 10
                    else "skipped (known-quadratic cell fill; see grown-cell line)"
                ),
            ),
            (
                # the production contract (the emb smoke's): cell count
                # grows with the corpus -> constant cell width, Arrow
                # centroid tier; triangle cost then tracks |edges| ~ k*n
                "knn_triangles (grown cells)",
                lambda e=embs: S.triangle_stats(
                    S.knn_graph(
                        e,
                        k=3,
                        centroids=S.kmeans_centroids(
                            e,
                            k=max(16, e.count() // 100),
                            iters=3,
                            sample_fit=256 * max(16, e.count() // 100),
                        ).select(F.col("cell").alias("label"), "centroid"),
                        tier="arrow",
                    )
                )
                .agg(F.sum("n_triangles"))
                .first(),
            ),
        ]:
            t0 = time.perf_counter()
            rows = thunk()
            print(
                f"{label}: {time.perf_counter() - t0:.1f}s ({rows})", flush=True
            )
    spark.stop()


def main() -> None:
    sf_dir = "/root/testdata/sf0.1"
    args = [
        a
        for a in sys.argv[1:]
        if a not in ("--emb", "--flagship", "--overlap-density", "--r14ops")
        and not a.startswith("--only=")
    ]
    if "--flagship" in sys.argv[1:]:
        mults = tuple(int(a) for a in args) or (1, 20, 50)
        flagship_main(mults)
        return
    if "--r14ops" in sys.argv[1:]:
        mults = tuple(int(a) for a in args) or (1, 10, 50)
        r14ops_main(mults)
        return
    if "--overlap-density" in sys.argv[1:]:
        mults = tuple(int(a) for a in args) or (1, 3, 5, 10)
        overlap_density_main(mults)
        return
    mult = int(args[0]) if args else 20
    if "--emb" in sys.argv[1:]:
        emb_main(mult)
        return
    spark = get_spark(app_name="scale-smoke")
    spark.range(0, 1000, 1, 32).mapInPandas(lambda it: it, "id long").count()

    for m in (1, mult):
        docs = scaled_docs(spark, sf_dir, m).transform(materialize, eager=True)
        n = docs.count()
        print(f"\n=== corpus × {m} = {n} docs ===", flush=True)
        for label, thunk in [
            ("langid", lambda d=docs: X.langid_predictions(d).count()),
            ("minhash_lsh", lambda d=docs: D.minhash_lsh_candidates_portable(d).count()),
            ("simhash_pairs", lambda d=docs: D.simhash_hamming_pairs(d).count()),
            (
                "dup_clusters",
                lambda d=docs: D.connected_components(
                    D.simhash_hamming_pairs(d).select("id_a", "id_b"),
                    d.select("doc_id"),
                ).count(),
            ),
            ("tfidf", lambda d=docs: X.tfidf_top_terms(d).count()),
            # Substring-level exact dedup: the window-hash shuffle is
            # keyed by a uniform 128-bit md5, so candidate volume
            # tracks the true duplicated-span mass — the every-3rd-
            # token mutation keeps cross-copy 8-grams distinct, so
            # flagged spans should grow ~linearly with the corpus.
            ("dedup_substrings", lambda d=docs: D.dedup_substrings(d, k=8).count()),
            # n-gram novelty: two shingle fan-outs + one gram-hash-keyed
            # left join — distinct-gram volume grows ~linearly under the
            # every-3rd-token mutation, so expected ~linear. Measured
            # via sum(n_novel), NOT count(): the report's left join has
            # a provably-unique right side (a groupBy aggregate), so a
            # bare count() lets Catalyst eliminate the join and the
            # whole shingle subtree — 0.4s at 50x, measuring nothing.
            (
                "ngram_novelty",
                lambda d=docs: D.ngram_novelty(
                    d.filter(F.col("doc_id") % 2 == 1),
                    d.filter(F.col("doc_id") % 2 == 0),
                )
                .agg(F.sum("n_novel"))
                .first(),
            ),
            # Round-5 second-half additions. paragraph_dedup's hash
            # groups grow with true dup density (copies share re-keyed
            # docs, not paragraphs, after the every-3rd-token mutation);
            # source_overlap's self-join fan-out is bounded by
            # |sources|² per gram; bm25/dsir are one doc-keyed shuffle
            # plus broadcasts.
            ("paragraph_dedup", lambda d=docs: D.paragraph_dedup(d).count()),
            (
                "source_overlap",
                lambda d=docs: D.source_overlap(d.withColumn(
                    "source", (F.col("doc_id") % 20).cast("string")
                )).count(),
            ),
            (
                "bm25",
                lambda d=docs: X.bm25_scores(
                    d, ("spark", "filter", "window", "merge")
                ).count(),
            ),
            (
                "dsir",
                lambda d=docs: X.dsir_logweights(
                    d, target=F.col("lang") == "en"
                ).count(),
            ),
            # pmi/entropy/estimator: token- and pair-keyed shuffles —
            # expected ~linear (pair cardinality is bounded by the
            # fixed synthetic vocabulary, occurrences grow linearly)
            (
                "pmi_pairs",
                lambda d=docs: X.pmi_pairs(d).count(),
            ),
            (
                "token_entropy",
                lambda d=docs: X.token_entropy(d).count(),
            ),
            (
                "minhash_estimate",
                lambda d=docs: D.minhash_jaccard_estimates(d).count(),
            ),
            # Round-12 second-half additions. repetition_rules is one
            # 9-lead window pass + a (doc, n, gram) count shuffle —
            # expected ~linear. winnow_overlap's pair join is bounded
            # by the ubiquity cap per fingerprint; the every-3rd-token
            # mutation keeps cross-copy 5-grams distinct, so shared-
            # fingerprint pairs should grow ~linearly with true dup
            # mass, not quadratically with corpus size.
            (
                "repetition_rules",
                lambda d=docs: X.repetition_report(d).count(),
            ),
            (
                "winnow_overlap",
                lambda d=docs: D.winnow_overlap_pairs(d).count(),
            ),
        ]:
            t0 = time.perf_counter()
            rows = thunk()
            print(f"{label}: {time.perf_counter() - t0:.1f}s ({rows} rows)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
