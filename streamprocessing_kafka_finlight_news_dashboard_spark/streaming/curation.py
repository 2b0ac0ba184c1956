"""Composed streaming curation ingest chain — the batch curation
flagship (`plans.text.curation_stage_frames`, reference-free LLM-data
surface) as ONE exactly-once foreachBatch pipeline:

    url gate → line-filter/quality gate → repetition gate →
    decontamination → incremental ExactSubstr cut → exact-dedup →
    LSH canonical store → mixture/domain/drift stats partials →
    read-side selection manifest

Every stage gate/store already exists and is drain-parity-tested
individually (url_gate_stream, curation_gate_stream,
write_stream_dedup_canonical, write_stream_text_stats); this module is
the COMPOSITION — one ledgered writer whose drained kept set equals the
batch flagship's `s4_lsh_cluster_canon` set and whose read-side
manifest equals the flagship's `s5_split_pack_manifest`, on the same
corpus, including crash + resume (tests/test_streaming_curation.py).

Exactness contract (slice-ordered ingest): with micro-batches ordered
by doc_id — crawl ingest order in the reference pipelines — every
cross-document decision reduces to "first occurrence wins", and
first-occurrence-per-store-key equals the batch min-id election:

- canonical-URL dedup: min-id per canonical key ⇔ within-batch window
  + seen-canonical-key store;
- ExactSubstr: globally-first (id, pos) span occurrence ⇔ within-batch
  flags + seen-window-key store (repeated_substring_flags(seen_keys));
- exact content dedup: min-id per md5 ⇔ within-batch window + seen-fp
  store;
- near-dup LSH: batch connected-components + min-id ⇔ within-batch CC
  + band-collision vs the store (keep-first). TRANSITIVE chains that
  span batches without banding against the stored canonical can
  diverge from global CC — the same documented trade as
  write_stream_dedup_canonical; corpus-level equality is pinned by the
  drain-parity test, and the batch pass remains the backstop.

Epoch-frozen inputs (the established streaming convention — re-deriving
mid-stream would drift admission within an epoch): the per-domain quota
``rates`` (operators.url.epoch_domain_rates over the crawl frontier, or
domain_keep_rates over a drained stats store) and the benchmark
``eval_docs`` table whose n-grams decontaminate the stream.

Scale posture (100 TB): every store join is an equi join on a uniform
hash key (canonical URL, md5 span key, md5 fp, LSH band key) — batch ×
store keyed shuffles, no broadcast of the corpus side anywhere except
the benchmark grams and the rates table (both epoch-bounded, MBs). The
span store grows ~linearly in corpus tokens; it is the relational
analogue of the suffix-array service ExactSubstr deployments run, and
partition-pruned per batch. Stats partials are language/domain-sized.
All main families share ONE committed-batch ledger, whose marker is
the commit point for all of a batch's writes; the stats families sit in
a nested ``stats/`` store with its own ledger (format, crash matrix and
single-writer assumption: :mod:`streaming.ledger`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark.session import materialize, persisted, released
from streamprocessing_kafka_finlight_news_dashboard_spark.streaming import ledger as L

__all__ = [
    "write_stream_curation_pipeline",
    "read_curation_store_docs",
    "read_curation_store_manifest",
    "read_curation_stats",
    "read_curation_funnel",
]

#: store families written per batch (besides stats/<sub>), healed
#: together against the single ledger.
_FAMILIES = ("urlcanon", "spans", "fps", "docs", "bands")
_STATS_FAMILIES = ("mixture", "domains", "drift", "drift_trend", "funnel")


#: explicit family schemas — schema-on-read keeps empty/file-less
#: partition dirs from failing inference (the batch_id partition
#: column is appended by partition discovery)
_FAMILY_SCHEMAS = {
    "urlcanon": "canon string",
    "spans": "key string",
    "fps": "fp string",
}


def write_stream_curation_pipeline(
    docs_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    rates: DataFrame,
    eval_docs: DataFrame | None = None,
    eval_mod: int = 97,
    url_col: str = "url",
    blocklist: tuple[str, ...] | None = None,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int = 1000,
    substr_k: int = 8,
    decontaminate_n: int = 4,
    drift_edges: DataFrame | None = None,
    drift_features: tuple[str, ...] = (),
    drift_annotate=None,
    drift_period_col: str | None = None,
):
    """Start the composed curation writer over a ``(doc_id, lang,
    text, url)`` document stream. See the module docstring for the
    semantics/scale contract; per-stage parameters default to the
    batch flagship's. ``eval_docs`` documents with ``doc_id % eval_mod
    == 0`` are additionally EXCLUDED from the corpus outright (the
    flagship's held-out convention); pass ``eval_mod=0`` to disable
    the id-based exclusion and decontaminate purely by n-gram.

    ``drift_period_col`` (requires the drift trio) names a period
    column ``drift_annotate`` must ALSO emit (a week string, an epoch
    label — anything derivable from the kept docs): the stats store
    then carries a ``drift_trend`` family keyed by that period under
    the same frozen edges, so :func:`read_curation_stats(…,
    'drift_trend')` + :func:`operators.text.psi_trend_from_counts`
    report per-period PSI of the kept corpus over the whole ingest —
    the composed-pipeline twin of the standalone stats writer's
    trend family."""
    import os

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import dedup as DD
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as X
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import url as UU
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.arrow_docs import shingle_rows_arrow
    from streamprocessing_kafka_finlight_news_dashboard_spark.streaming.pipeline import (
        check_drift_bucketing_version,
        merge_canonical_docs,
    )

    if blocklist is None:
        blocklist = UU.BLOCKLIST
    store = store_dir.rstrip("/")
    paths = {fam: f"{store}/{fam}" for fam in _FAMILIES}
    stats_dir = f"{store}/stats"

    # Epoch-frozen broadcast sides, materialized ONCE at writer start:
    # the rates table and the benchmark gram set do not change within
    # an epoch, so no per-batch recompute.
    frozen_rates = F.broadcast(
        rates.select(
            F.col("domain").alias("__rate_domain"),
            F.col("keep_rate").alias("__keep_rate"),
        )
    )
    eval_grams = None
    if eval_docs is not None:
        eval_grams = (
            shingle_rows_arrow(eval_docs, n=decontaminate_n)
            .select("shingle")
            .distinct()
            .transform(materialize, eager=True)
        )
    frozen_edges = None
    if drift_edges is not None:
        # drift monitoring of the KEPT canonicals under epoch-frozen
        # edges (operators.text.drift_reference); ``drift_annotate``
        # maps (doc_id, lang, text) kept docs to the feature columns
        # the edges were built over. Same loud-fail contract as the
        # standalone stats writer.
        if not drift_features or drift_annotate is None:
            raise ValueError(
                "drift_edges requires drift_features and drift_annotate"
            )
        frozen_edges = materialize(drift_edges, eager=True)
        edge_feats = {r.feature for r in frozen_edges.select("feature").collect()}
        if edge_feats != set(drift_features):
            raise ValueError(
                f"drift_edges cover features {sorted(edge_feats)} but "
                f"drift_features names {sorted(drift_features)} — the "
                "frozen reference and the annotation must match"
            )
    if drift_period_col and frozen_edges is None:
        raise ValueError("drift_period_col requires drift_edges")

    def heal() -> None:
        """Both ledgers' :func:`streaming.ledger.heal`, then the one
        crash window the composition adds: a stats marker for an
        ordinary batch that was NEVER main-committed — neither a live
        main marker nor inside any main compaction manifest — is a crash
        between the two marker writes under a dead generation (live ones
        replay and rewrite it), so marker and partials both go."""
        if frozen_edges is not None:
            # bucketing-scheme stamp/check BEFORE any new drift partial
            # lands — mixed-generation histogram merges are refused,
            # same guard as the standalone stats writer (r14 advice)
            check_drift_bucketing_version(stats_dir, writing=True)
        L.heal(store, _FAMILIES)
        L.heal(stats_dir, _STATS_FAMILIES)
        ever_main = L.ever_committed(store)
        for pid in L.committed_batches(stats_dir):
            if not L.is_compaction(pid) and pid not in ever_main:
                L.drop_batch(stats_dir, pid, _STATS_FAMILIES)

    def write(batch_df: DataFrame, part_val: str) -> bool:
        spark = batch_df.sparkSession
        # every frame the batch materializes is freed when it returns
        with released():
            batch = persisted(batch_df)
            if not len(batch.take(1)):
                return False
            # ---- stage -1: URL gate (frozen rates + seen-canon store)
            # marked feeds three consumers (gate, new-canon keys,
            # domain partial) — persist so the dup window runs once
            marked = UU.url_marked(batch, url_col=url_col)
            seen_canon = L.read_others(spark, paths["urlcanon"], part_val, _FAMILY_SCHEMAS["urlcanon"])
            if seen_canon is not None:
                marked = marked.join(
                    seen_canon.select(F.col("canon").alias("__canon"))
                    .distinct()
                    .withColumn("__seen", F.lit(1)),
                    "__canon",
                    "left",
                )
                # isNotNull, not ==1: the left join leaves __seen NULL
                # on unseen keys, and ~(false | NULL) is NULL — a
                # three-valued-logic filter would drop every first
                # occurrence
                dup = F.col("__dup") | F.col("__seen").isNotNull()
            else:
                dup = F.col("__dup")
            marked = persisted(marked)
            funnel_stages: list[tuple[int, str, DataFrame]] = [
                (0, "raw", batch)
            ]
            firsts = marked.filter(~dup)
            gate_kept = (
                firsts.join(
                    frozen_rates,
                    F.col("__domain") == F.col("__rate_domain"),
                )
                .filter(
                    (UU.quota_bucket(F.col("__canon")) < F.col("__keep_rate"))
                    & ~F.col("__domain").isin(*blocklist)
                )
                .select("doc_id", "lang", "text")
            )
            new_canons = firsts.select(F.col("__canon").alias("canon")).distinct()
            # domain stats partial: distinct first-occurrence pages per
            # domain — the population epoch_domain_rates counts, so a
            # drained store feeds next epoch's rates
            domains_partial = (
                firsts.filter(F.col("__domain").isNotNull())
                .groupBy(F.col("__domain").alias("domain"))
                .agg(F.count(F.lit(1)).alias("n_docs"))
            )
            funnel_stages.append((1, "url_gate", gate_kept))
            # ---- stage 0 + 1: line filter + quality gate (per-doc)
            d_lf = X.line_filter(
                gate_kept,
                keep_cols=("lang",),
                min_tokens=3,
                require_terminal_punct=False,
                banned_substrings=(),
                banned_re=r"(^| )dup( |$)",
            ).select("doc_id", "lang", F.col("clean_text").alias("text"))
            n_tok = F.size(X.tokens(F.col("text")))
            kept = persisted(
                d_lf.filter(
                    (F.trim("text") != "")
                    & n_tok.between(5, 10000)
                    & F.col("lang").isin("en", "de", "fr", "es", "it")
                ).select("doc_id", "lang", "text")
            )
            funnel_stages.append((2, "line_quality_gate", kept))
            # ---- stage 0.5: repetition gate (per-doc)
            rep_ok = (
                X.repetition_report(kept)
                .filter(F.col("repetition_pass"))
                .select("doc_id")
            )
            rkept = kept.join(rep_ok, "doc_id")
            funnel_stages.append((3, "repetition_gate", rkept))
            # ---- stage 1.5: decontamination (frozen benchmark grams)
            if eval_mod:
                rkept = rkept.filter(F.col("doc_id") % eval_mod != 0)
            if eval_grams is not None:
                dirty = (
                    shingle_rows_arrow(rkept, n=decontaminate_n)
                    .join(F.broadcast(eval_grams), "shingle")
                    .select(F.col("id").alias("doc_id"))
                    .distinct()
                )
                clean = rkept.join(dirty, "doc_id", "left_anti")
            else:
                clean = rkept
            clean = materialize(clean)
            funnel_stages.append((4, "decontaminate", clean))
            # ---- stage 1.75: incremental ExactSubstr cut (span store)
            seen_spans = L.read_others(spark, paths["spans"], part_val, _FAMILY_SCHEMAS["spans"])
            cut = DD.dedup_substrings(
                clean,
                k=substr_k,
                keep_cols=("lang",),
                seen_keys=seen_spans.select("key") if seen_spans is not None else None,
            )
            cutdocs = (
                cut.filter(F.trim("clean_text") != "")
                .select("doc_id", "lang", F.col("clean_text").alias("text"))
                .transform(materialize)
            )
            funnel_stages.append((5, "substring_cut", cutdocs))
            new_spans = DD.substring_window_keys(clean, k=substr_k)
            if seen_spans is not None:
                new_spans = new_spans.join(
                    seen_spans.select("key"), "key", "left_anti"
                )
            # ---- stage 2: exact content dedup (fp store)
            fp = F.md5(F.lower(F.trim("text")))
            fped = cutdocs.withColumn("fp", fp).withColumn(
                "__min_id", F.min("doc_id").over(W.partitionBy("fp"))
            )
            seen_fps = L.read_others(spark, paths["fps"], part_val, _FAMILY_SCHEMAS["fps"])
            if seen_fps is not None:
                fped = fped.join(
                    seen_fps.select("fp").distinct().withColumn("__fseen", F.lit(1)),
                    "fp",
                    "left",
                )
                canon0 = fped.filter(
                    (F.col("doc_id") == F.col("__min_id")) & F.col("__fseen").isNull()
                )
                new_fps = (
                    fped.select("fp")
                    .distinct()
                    .join(seen_fps.select("fp"), "fp", "left_anti")
                )
            else:
                canon0 = fped.filter(F.col("doc_id") == F.col("__min_id"))
                new_fps = fped.select("fp").distinct()
            canon0 = canon0.select("doc_id", "lang", "text").transform(materialize)
            funnel_stages.append((6, "exact_dedup", canon0))
            # ---- stage 3: near-dup LSH into the canonical store
            merge_canonical_docs(
                canon0,
                paths["docs"],
                paths["bands"],
                part_val,
                num_hashes=num_hashes,
                bands=bands,
                max_bucket=max_bucket,
            )
            # ---- stats partials over this batch's FINAL kept docs
            # (sums across the drain = one batch pass over the kept
            # corpus — the mergeable-sufficient-statistics contract)
            # one persisted frame feeds every stats family (mixture +
            # domains' sibling + drift each run their own write action;
            # without the pin each re-scans the just-written partition)
            kept_final = persisted(
                spark.read.schema("doc_id long, lang string, text string")
                .parquet(L.partition_path(paths["docs"], part_val))
            )
            funnel_stages.append((7, "lsh_cluster_canon", kept_final))
            mixture_partial = X.mixture_stats_partial(kept_final)
            # ---- per-stage survivor counts: the streaming twin of the
            # batch doc_curation_funnel's stage spine (stages 0-7; the
            # read-side split_pack stage comes from the manifest at
            # read time). Each stage is a 1-row aggregate over a frame
            # the chain already materializes (batch/marked/kept
            # persisted, clean/cutdocs/canon0 lazily checkpointed), so
            # the funnel pass costs eight cheap counts per batch.
            tok_guard = F.when(
                F.col("text").isNotNull() & (F.trim("text") != ""),
                F.size(X.tokens(F.col("text"))),
            ).otherwise(F.lit(0))
            funnel_partial = None
            for f_ord, f_name, f_frame in funnel_stages:
                f_agg = f_frame.agg(
                    F.count(F.lit(1)).cast("long").alias("n_docs"),
                    F.coalesce(F.sum(tok_guard), F.lit(0))
                    .cast("long")
                    .alias("n_tokens"),
                ).select(
                    F.lit(f_ord).cast("int").alias("stage_ord"),
                    F.lit(f_name).alias("stage"),
                    "n_docs",
                    "n_tokens",
                )
                funnel_partial = (
                    f_agg if funnel_partial is None else funnel_partial.unionAll(f_agg)
                )
            stats_partials = [
                ("mixture", mixture_partial),
                ("domains", domains_partial),
                ("funnel", funnel_partial),
            ]
            if frozen_edges is not None:
                ann = drift_annotate(kept_final)
                stats_partials.append(
                    (
                        "drift",
                        X.feature_bucket_counts(
                            ann, frozen_edges, drift_features
                        ),
                    )
                )
                if drift_period_col:
                    stats_partials.append(
                        (
                            "drift_trend",
                            X.feature_bucket_counts(
                                ann,
                                frozen_edges,
                                drift_features,
                                period_col=drift_period_col,
                            ),
                        )
                    )
            # ---- remaining family writes (docs/bands written above).
            # repartition(1), NOT coalesce(1): coalesce reaches back to
            # the previous shuffle boundary, so it would execute the
            # canon distinct — and worse, the batch×store fingerprint
            # ANTI JOIN — as a single task (the store side grows with
            # the corpus). repartition inserts a tiny exchange of the
            # already-small result instead, keeping the wide work at
            # full parallelism; spans stay un-collapsed (corpus-sized).
            new_canons.repartition(1).write.mode("overwrite").parquet(
                L.partition_path(paths["urlcanon"], part_val)
            )
            new_spans.write.mode("overwrite").parquet(
                L.partition_path(paths["spans"], part_val)
            )
            new_fps.repartition(1).write.mode("overwrite").parquet(
                L.partition_path(paths["fps"], part_val)
            )
            for sub, frame in stats_partials:
                frame.coalesce(1).write.mode("overwrite").parquet(
                    L.partition_path(os.path.join(stats_dir, sub), part_val)
                )
            # stats marker first (a replay rewrites identical partials),
            # then the MAIN marker (start_writer commits it on return)
            # — the single commit point for every family of this batch.
            # A crash between the two leaves a stats-only orphan: heal()
            # removes it at the next writer start, and
            # read_curation_stats masks it for LIVE readers by
            # intersecting with the main ledger
            L.commit(L.ledger_dir(stats_dir), part_val)
            return True

    return L.start_writer(docs_stream, store, checkpoint_dir, heal, write)


def compact_curation_store(
    spark, store_dir: str, _crash_after_marker: bool = False
) -> tuple[int, int]:
    """Compact the composed curation store: all FIVE main families
    against the shared main ledger in ONE replaces manifest — the
    cross-family single-commit-point invariant survives compaction —
    then the stats families via the standard stats compactor. Key
    families merge with distinct() (the writer keeps them disjoint by
    construction, so distinct is also a pass-through); docs/bands are
    plain concatenation like compact_canonical_store. Same read-safety
    caveat as that store: a maintenance op with no concurrent
    writer/readers; a crash inside the marker→cleanup window is
    finished by the next compact call or the next writer start's heal.
    Returns (main batches replaced, stats batches replaced)."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.streaming.pipeline import compact_stats_store

    store = store_dir.rstrip("/")
    n_main = L.compact(
        spark,
        store,
        {
            "urlcanon": lambda df: df.select("canon").distinct(),
            "spans": lambda df: df.select("key").distinct(),
            "fps": lambda df: df.select("fp").distinct(),
            "docs": lambda df: df,
            "bands": lambda df: df,
        },
        coalesce_one=False,
        _crash_after_marker=_crash_after_marker,
    )
    if _crash_after_marker:
        return n_main, 0
    n_stats = compact_stats_store(spark, f"{store}/stats")
    return n_main, n_stats


def read_curation_store_docs(spark, store_dir: str) -> DataFrame:
    """Committed kept canonicals ``(doc_id, lang, text)`` — the drained
    equivalent of the batch flagship's `s4` curated corpus (ledger-
    filtered, so an unhealed crash leftover never leaks into reads)."""
    return L.read_committed(
        spark,
        store_dir.rstrip("/") + "/docs",
        L.committed_batches(store_dir),
        "doc_id long, lang string, text string",
    ).select("doc_id", "lang", "text")


def read_curation_store_manifest(spark, store_dir: str) -> DataFrame:
    """Selection manifest over the drained store — the SAME
    split/pack/manifest definition as the batch flagship's `s5` stage
    (plans.text.split_pack_manifest), applied to the store's kept
    canonicals; drain-parity with the batch manifest follows from
    kept-set equality."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import token_count
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans.text import split_pack_manifest

    docs = read_curation_store_docs(spark, store_dir)
    return split_pack_manifest(
        docs.select("doc_id", "lang", token_count(F.col("text")).alias("n_tokens"))
    )


def read_curation_stats(spark, store_dir: str, family: str) -> DataFrame:
    """Merged stats family (``mixture`` | ``domains`` | ``drift``) of
    the composed curation store, restricted to batches committed in
    BOTH ledgers. The writer commits the stats marker immediately
    before the main marker (so a replay after a crash between the two
    rewrites identical partials instead of losing them); the price is
    a crash window where the stats ledger shows a batch whose docs/
    spans/fps never landed. The generic readers
    (``pipeline.read_drift_counts`` etc.) consult only the stats
    ledger and over-count inside that window until the next writer
    start heals the orphan; THIS reader intersects with the main
    ledger's ever-committed set (:func:`streaming.ledger.ever_committed`,
    shared with the writer's heal), so a
    live report taken mid-crash matches the kept corpus exactly.
    Stats-compaction tokens pass through unconditionally: compaction
    is a maintenance op with no concurrent writer, so every batch a
    compact partition merged was already main-committed."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.streaming.pipeline import (
        STATS_SCHEMAS,
        check_drift_bucketing_version,
        merge_stats_family,
    )

    store = store_dir.rstrip("/")
    stats_dir = f"{store}/stats"
    if family in ("drift", "drift_trend"):
        check_drift_bucketing_version(stats_dir, writing=False)
    ever_main = L.ever_committed(store)
    keep = [
        b
        for b in L.committed_batches(stats_dir)
        if L.is_compaction(b) or b in ever_main
    ]
    return merge_stats_family(
        family,
        L.read_committed(
            spark, f"{stats_dir}/{family}", keep, STATS_SCHEMAS[family]
        ),
    )


def read_curation_funnel(spark, store_dir: str) -> DataFrame:
    """Merged per-stage attrition funnel of a composed curation store —
    the drained twin of the batch ``doc_curation_funnel``: stages 0–7
    are the summed per-batch survivor partials (``funnel`` stats
    family, main-ledger-masked and compaction-aware like every stats
    read), stage 8 is the read-side split/pack manifest's totals, and
    removed_docs/removed_tokens are the same first differences over
    the 9-row stage spine (driver-scale global lag by construction).
    Under slice-ordered ingest the whole table is row-for-row equal to
    the batch funnel on the drained corpus — pinned by the parity
    test, not assumed."""
    stages = read_curation_stats(spark, store_dir, "funnel")
    manifest = read_curation_store_manifest(spark, store_dir)
    pack = manifest.agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("total_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
    ).select(
        F.lit(8).cast("int").alias("stage_ord"),
        F.lit("split_pack").alias("stage"),
        "n_docs",
        "n_tokens",
    )
    full = stages.select(
        "stage_ord",
        "stage",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    ).unionAll(pack)
    w = W.orderBy("stage_ord")
    return full.select(
        F.col("stage_ord").cast("long").alias("stage_ord"),
        "stage",
        "n_docs",
        "n_tokens",
        (F.lag("n_docs").over(w) - F.col("n_docs"))
        .cast("long")
        .alias("removed_docs"),
        (F.lag("n_tokens").over(w) - F.col("n_tokens"))
        .cast("long")
        .alias("removed_tokens"),
    ).orderBy("stage_ord")
