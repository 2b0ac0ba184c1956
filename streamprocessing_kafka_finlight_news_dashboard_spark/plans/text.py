"""Text-analysis + dedup catalog queries over ``documents``
(beyond-reference surface; operators in operators/text.py and
operators/dedup.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark.operators import dedup as D
from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as X
from streamprocessing_kafka_finlight_news_dashboard_spark.session import materialize, shuffle_partitions
from streamprocessing_kafka_finlight_news_dashboard_spark.operators.url import (
    DOMAIN_QUOTA as _URL_QUOTA,
    SYNTHETIC_URL_SQL as _URL_SYNTH,
    URL_CANON_SQL as _URL_CANON,
    URL_HOST_SQL as _URL_HOST,
    quota_bucket_sql as _quota_bucket_sql,
    quota_keep_rate_sql as _quota_keep_rate_sql,
)

#: generated quota-gate SQL pieces shared by the curation flagship's
#: oracle (and, via operators/url.py, the doc_url_curation oracle) —
#: single source of truth for the rate formula and hash bucket.
_URL_RATE = _quota_keep_rate_sql("count(*)", _URL_QUOTA)
_URL_BUCKET = _quota_bucket_sql("d.canonical_url")
from streamprocessing_kafka_finlight_news_dashboard_spark.plans.catalog import query
from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table


@query(
    "doc_token_stats",
    oracle=r"""
        SELECT doc_id, lang,
               len(string_split_regex(trim(text), '\s+'))                    AS n_tokens,
               length(text)                                                  AS n_chars_measured,
               round(length(regexp_replace(text, '\s+', '', 'g')) * 1.0
                     / greatest(len(string_split_regex(trim(text), '\s+')), 1), 6) AS avg_token_len
        FROM documents
    """,
    survey_ops="text-analysis (beyond-reference); §2.8 string family",
    doc="Token counting + char stats per document — whitespace/BPE-ish "
    "regex tokenization, all JVM-side string expressions.",
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        "lang",
        X.token_count(t).alias("n_tokens"),
        X.char_count(t).alias("n_chars_measured"),
        F.round(X.avg_token_len(t), 6).alias("avg_token_len"),
    )


#: PII-bearing suffix derived deterministically per document — the
#: corpus text is PII-free word salad, so the scrub entry appends a
#: contact block (doc_id % 3 rotates email+ip / ssn / clean) with the
#: IDENTICAL expression in both engines; the operator then has real
#: redactions to find at every SF. Same stand-in discipline as the
#: URL and media planes.
_PII_BLOCK_SQL = (
    "CASE WHEN doc_id % 3 = 0 THEN"
    " ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.org or 10.0.'"
    " || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR)"
    " WHEN doc_id % 3 = 1 THEN"
    " ' ssn ' || CAST(100 + doc_id % 900 AS VARCHAR) || '-'"
    " || CAST(10 + doc_id % 90 AS VARCHAR) || '-'"
    " || CAST(1000 + doc_id % 9000 AS VARCHAR)"
    " ELSE '' END"
)

#: the RE2-portable PII families (DuckDB's regex engine has no
#: lookbehind, so the phone pattern stays pytest-pinned only).
_PII_PORTABLE = ("email", "ssn", "ipv4")


def _pii_scrub_oracle() -> str:
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import PII_PATTERNS

    sql = (
        "        WITH s0 AS (\n"
        "            SELECT doc_id, text || " + _PII_BLOCK_SQL + " AS t0\n"
        "            FROM documents\n"
        "        )"
    )
    prev = "s0"
    for i, fam in enumerate(_PII_PORTABLE):
        pat = PII_PATTERNS[fam].replace("'", "''")
        sql += (
            f", s{i + 1} AS (\n"
            f"            SELECT *, CAST(len(regexp_extract_all(t{i}, '{pat}'))"
            f" AS INTEGER) AS n_{fam},\n"
            f"                   regexp_replace(t{i}, '{pat}',"
            f" '<{fam.upper()}>', 'g') AS t{i + 1}\n"
            f"            FROM s{i}\n"
            "        )"
        )
        prev = f"s{i + 1}"
    counts = " + ".join(f"n_{f}" for f in _PII_PORTABLE)
    cols = ", ".join(f"n_{f}" for f in _PII_PORTABLE)
    sql += (
        f"\n        SELECT doc_id, {cols},\n"
        f"               CAST({counts} AS INTEGER) AS n_redactions,\n"
        f"               t{len(_PII_PORTABLE)} AS scrubbed_text\n"
        f"        FROM {prev}\n"
    )
    return sql


@query(
    "doc_pii_scrub",
    oracle=_pii_scrub_oracle(),
    survey_ops="text-pipeline — PII redaction with per-family audit "
    "counts (beyond-reference; the scrub step before packing)",
    doc="PII scrub over the corpus (operators/text.py::pii_scrub): "
    "each family is replaced by a typed placeholder with per-family "
    "hit counts, counted in replacement ORDER (each family sees the "
    "text as already scrubbed by earlier families) so every span is "
    "attributed to exactly one family and counts sum to the "
    "placeholders present. Catalog entry runs the RE2-portable "
    "families (email/ssn/ipv4) so the chained regexp_replace output "
    "hash-matches DuckDB byte-for-byte; the lookbehind-based phone "
    "family is Java-regex-only and stays pytest-pinned. The corpus "
    "text is PII-free, so a deterministic contact block is appended "
    "per document (identical expression both engines) — docs with "
    "NULL text stay NULL throughout. Pure projection: JVM regex in "
    "whole-stage codegen, no UDF, no shuffle.",
)
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import PII_PATTERNS

    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    block = (
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" contact u"),
                did.cast("string"),
                F.lit("@mail.example.org or 10.0."),
                (did % 256).cast("string"),
                F.lit("."),
                (did % 100).cast("string"),
            ),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.lit(" ssn "),
                (did % 900 + 100).cast("string"),
                F.lit("-"),
                (did % 90 + 10).cast("string"),
                F.lit("-"),
                (did % 9000 + 1000).cast("string"),
            ),
        )
        .otherwise(F.lit(""))
    )
    aug = d.select("doc_id", F.concat(F.col("text"), block).alias("text"))
    return X.pii_scrub(
        aug, patterns={k: PII_PATTERNS[k] for k in _PII_PORTABLE}
    )


@query(
    "doc_quality_scores",
    oracle=r"""
        WITH s AS (
            SELECT doc_id, lang,
                   len(string_split_regex(trim(text), '\s+')) AS n_tok,
                   len(list_filter(string_split_regex(trim(text), '\s+'),
                                   x -> x IN ('the', 'a', 'of', 'and'))) AS n_stop,
                   (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
                       / greatest(length(text), 1) AS digit_ratio
            FROM documents
        )
        SELECT doc_id, lang,
               round(greatest(least(
                   0.5 * least(n_tok / 50.0, 1.0)
                 + 0.5 * least((n_stop * 1.0 / greatest(n_tok, 1)) * 5.0, 1.0)
                 - 0.25 * digit_ratio, 1.0), 0.0), 6) AS quality
        FROM s
    """,
    survey_ops="text-analysis quality scoring (beyond-reference)",
    doc="Closed-form quality score (length band + stopword presence - "
    "digit noise) — the length/punct/stopword-ratio heuristic family.",
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", X.quality_score(F.col("text")).alias("quality"))


@query(
    "doc_lang_profile",
    oracle=r"""
        SELECT lang,
               count(*)                                              AS n_docs,
               round(avg(len(string_split_regex(trim(text), '\s+'))), 6) AS avg_tokens,
               round(avg(n_chars), 6)                                AS avg_chars,
               count(DISTINCT source)                                AS n_sources
        FROM documents
        GROUP BY lang
    """,
    survey_ops="A1,A5; text-analysis language profiling",
    doc="Per-language corpus profile (the aggregate side of language "
    "ID: in production the lang column is produced by the n-gram "
    "classifier, then profiled exactly like this).",
)
def doc_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(X.token_count(F.col("text"))), 6).alias("avg_tokens"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "doc_exact_dedup",
    oracle="""
        SELECT doc_id,
               md5(lower(trim(text)))  AS fp,
               count(*)  OVER (PARTITION BY md5(lower(trim(text)))) AS dup_count,
               min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS canonical_id
        FROM documents
    """,
    survey_ops="dedup-exact (beyond-reference); S13,U2",
    doc="Exact dedup via md5 fingerprint: group size + deterministic "
    "keep-first canonical id per content hash. One shuffle on a "
    "uniform 128-bit key.",
)
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.exact_dup_groups(d).select("doc_id", "fp", "dup_count", "canonical_id")


@query(
    "doc_bigram_jaccard_pairs",
    oracle=r"""
        WITH sh AS (
            SELECT doc_id, lang,
                   list_sort(list_distinct(
                       list_transform(
                           range(1, greatest(len(string_split_regex(trim(text), '\s+')) - 1, 1) + 1),
                           i -> array_to_string(string_split_regex(trim(text), '\s+')[i:i+1], ' ')
                       ))) AS shingles
            FROM documents
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang AS lang,
               round(len(list_intersect(a.shingles, b.shingles)) * 1.0
                     / greatest(len(a.shingles) + len(b.shingles)
                                - len(list_intersect(a.shingles, b.shingles)), 1), 6) AS jaccard
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0
              / greatest(len(a.shingles) + len(b.shingles)
                         - len(list_intersect(a.shingles, b.shingles)), 1) >= 0.25
    """,
    survey_ops="dedup n-gram Jaccard (beyond-reference); J1-analog blocked self-join",
    doc="Exact bigram-shingle Jaccard near-dup pairs, blocked by lang "
    "(equi self-join per block, never a global cross product). The "
    "exact tier of the dedup ladder; minhash_lsh is the scale tier.",
)
def doc_bigram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.jaccard_similar_pairs(
        d, block_cols=("lang",), n=2, threshold=0.25
    )


@query(
    "doc_minhash_lsh_candidates",
    oracle=None,  # xxhash64 seeds are engine-internal → rows-only check
    survey_ops="dedup MinHash+LSH (beyond-reference, scale tier)",
    doc="Banded MinHash LSH candidate pairs (32 hashes × 8 bands over "
    "3-gram shingles). Hash family is Spark's xxhash64 — not "
    "reproducible in the oracle, so this entry takes the rows-only "
    "check; the exact Jaccard tier above is the hash-checked one.",
)
def doc_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_candidates(d)


@query(
    "doc_simhash",
    oracle=None,  # xxhash64-based bit votes → rows-only check
    survey_ops="dedup SimHash (beyond-reference)",
    doc="64-bit SimHash fingerprints from 3-gram shingle hash bit votes"
    " — near-dups land within small Hamming distance.",
)
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_table(d)


@query(
    "doc_langid_ngram",
    oracle="""
        WITH dbg AS (
            SELECT doc_id, lang, substring(lower(text), i, 2) AS bg, count(*) AS cnt
            FROM documents,
                 LATERAL (SELECT unnest(range(1, len(lower(text)))) AS i) pos
            GROUP BY doc_id, lang, substring(lower(text), i, 2)
        ), profile AS (
            -- profiles from the deterministic 1-in-10 sample (doc_id % 10 = 0),
            -- mirroring operators/text.py::langid_predictions
            SELECT lang AS plang, bg, pcnt FROM (
                SELECT lang, bg, sum(cnt) AS pcnt,
                       row_number() OVER (
                           PARTITION BY lang ORDER BY sum(cnt) DESC, bg) AS prank
                FROM dbg WHERE doc_id % 10 = 0 GROUP BY lang, bg
            ) p WHERE prank <= 64
        ), scored AS (
            -- CAST: DuckDB sums of integers widen to HUGEINT (→ float64 in
            -- pandas); Spark stays BIGINT. The hash compare is type-sensitive.
            SELECT d.doc_id, d.lang, pr.plang,
                   CAST(sum(d.cnt * pr.pcnt) AS BIGINT) AS score
            FROM dbg d JOIN profile pr ON pr.bg = d.bg
            GROUP BY d.doc_id, d.lang, pr.plang
        )
        SELECT doc_id, lang, plang AS pred_lang, score, plang = lang AS is_match
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY doc_id ORDER BY score DESC, plang) AS rn
            FROM scored
        ) t WHERE rn = 1
    """,
    survey_ops="text-analysis language-ID — char-n-gram profile classifier "
    "(beyond-reference)",
    doc="Character-bigram language identification: per-language top-64 "
    "bigram profiles built from the labeled corpus, every document "
    "scored by the integer dot product of its bigram counts against "
    "each profile, argmax language predicted with deterministic "
    "tie-break. Integer scores ⇒ bit-exact across engines. Profile "
    "table broadcast; both groupBys shuffle on uniform keys.",
)
def doc_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return X.langid_predictions(d)


@query(
    "doc_langid_eval_report",
    oracle="""
        WITH dbg AS (
            SELECT doc_id, lang, substring(lower(text), i, 2) AS bg, count(*) AS cnt
            FROM documents,
                 LATERAL (SELECT unnest(range(1, len(lower(text)))) AS i) pos
            GROUP BY doc_id, lang, substring(lower(text), i, 2)
        ), profile AS (
            SELECT lang AS plang, bg, pcnt FROM (
                SELECT lang, bg, sum(cnt) AS pcnt,
                       row_number() OVER (
                           PARTITION BY lang ORDER BY sum(cnt) DESC, bg) AS prank
                FROM dbg WHERE doc_id % 10 = 0 GROUP BY lang, bg
            ) p WHERE prank <= 64
        ), scored AS (
            SELECT d.doc_id, d.lang, pr.plang,
                   CAST(sum(d.cnt * pr.pcnt) AS BIGINT) AS score
            FROM dbg d JOIN profile pr ON pr.bg = d.bg
            GROUP BY d.doc_id, d.lang, pr.plang
        ), preds AS (
            SELECT doc_id, lang, plang AS pred_lang
            FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY doc_id ORDER BY score DESC, plang) AS rn
                FROM scored
            ) t WHERE rn = 1
        ), act AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS n_actual,
                   CAST(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_correct
            FROM preds GROUP BY lang
        ), prd AS (
            SELECT pred_lang AS lang, CAST(count(*) AS BIGINT) AS n_predicted
            FROM preds GROUP BY pred_lang
        )
        SELECT a.lang, a.n_actual,
               coalesce(p.n_predicted, 0) AS n_predicted,
               a.n_correct,
               round(a.n_correct * 1.0 / a.n_actual, 6) AS recall,
               CASE WHEN coalesce(p.n_predicted, 0) > 0
                    THEN round(a.n_correct * 1.0 / p.n_predicted, 6) END
                   AS precision
        FROM act a LEFT JOIN prd p ON p.lang = a.lang
    """,
    survey_ops="text-analysis — language-ID evaluation report "
    "(beyond-reference; per-language precision/recall of the n-gram "
    "classifier against the labeled corpus — the audit run before "
    "trusting langid for mixture/split decisions)",
    doc="Per-language evaluation of the char-bigram language "
    "identifier against the corpus labels: actual count, predicted "
    "count, correct count, recall (correct/actual) and precision "
    "(correct/predicted; NULL when the classifier never predicts a "
    "language). The counterpart of emb_knn_label_consensus on the "
    "text plane — before a pipeline lets langid drive temperature "
    "mixture or shard splits it measures where the classifier "
    "confuses languages. Pure composition over the green "
    "doc_langid_ngram prediction relation: two ≤|langs|-row "
    "aggregates and a left join; ratios divide exact BIGINTs, round-6 "
    "engine-identical. Scale shape inherited from langid (broadcast "
    "profiles, uniform-key groupBys); the report itself is "
    "|langs|-row.",
)
def doc_langid_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # ONE corpus-sized aggregate (r16, guide §1.2/§2.3 "aggregate
    # before you shuffle"): the scoring pass feeds a single
    # (lang, pred_lang) confusion-matrix count with map-side partial
    # aggregation, and BOTH report marginals (per-actual, per-
    # predicted) derive from the tiny checkpointed matrix — previously
    # the corpus-sized prediction relation was checkpointed and
    # re-scanned once per marginal. Exact-integer sums over the same
    # rows: report values identical (oracle-pinned at 3 SFs).
    cm = (
        X.langid_predictions(d)
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(materialize)
    )
    act = cm.groupBy("lang").agg(
        F.sum("c").alias("n_actual"),
        F.sum(
            # each matrix cell's rows share one comparison outcome, so
            # this equals summing per-row (pred==lang) 0/1 flags except
            # for a lang group whose pred_lang values are all NULL: it
            # yields 0 here where the flag sum yields NULL. That group
            # cannot occur: predictions are non-null.
            F.when(F.col("pred_lang") == F.col("lang"), F.col("c")).otherwise(
                F.lit(0)
            )
        ).alias("n_correct"),
    )
    prd = cm.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.sum("c").alias("n_predicted")
    )
    return act.join(prd, "lang", "left").select(
        "lang",
        "n_actual",
        F.coalesce("n_predicted", F.lit(0)).cast("long").alias("n_predicted"),
        "n_correct",
        F.round(F.col("n_correct") / F.col("n_actual"), 6).alias("recall"),
        F.when(
            F.coalesce("n_predicted", F.lit(0)) > 0,
            F.round(F.col("n_correct") / F.col("n_predicted"), 6),
        ).alias("precision"),
    )


# Shared CTE chain for the Naive-Bayes langid pair: the smoothed
# multinomial model + scaled-BIGINT scoring + margin decision, ending
# in a `nbpreds` relation (doc_id, lang, pred_lang, score, is_match).
# Kept in ONE string so the prediction entry and its eval report can
# never drift apart (same discipline as the flagship CTE reuse).
_NB_MARGIN_SQL = X._NB_MARGIN_SCALED  # single source: operators/text.py
_NB_PRED_CTES = r"""
        WITH dbg AS (
            SELECT doc_id, lang, substring(lower(text), i, 2) AS bg,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM documents,
                 LATERAL (SELECT unnest(range(1, len(lower(text)))) AS i) pos
            WHERE text IS NOT NULL AND lang IS NOT NULL
            GROUP BY doc_id, lang, substring(lower(text), i, 2)
        ), vocab AS (
            SELECT CAST(count(DISTINCT bg) AS BIGINT) AS v FROM dbg
        ), prof AS (
            SELECT lang AS plang, bg,
                   CAST(round(round(ln(CAST(sum(cnt) + 1 AS DOUBLE)), 9)
                              * 1e9, 0) AS BIGINT) AS lp1_s
            FROM dbg GROUP BY lang, bg
        ), lstats AS (
            SELECT lang AS plang,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS nd,
                   CAST(sum(cnt) AS BIGINT) AS tot
            FROM dbg GROUP BY lang
        ), consts AS (
            SELECT plang, nd,
                   CAST(round(round(ln(CAST(nd AS DOUBLE) /
                            (SELECT CAST(sum(nd) AS DOUBLE) FROM lstats)), 9)
                              * 1e9, 0) AS BIGINT) AS prior_s,
                   CAST(round(round(ln(CAST(tot + (SELECT v FROM vocab)
                                            AS DOUBLE)), 9)
                              * 1e9, 0) AS BIGINT) AS pen_s
            FROM lstats
        ), p0 AS (
            SELECT plang AS p0lang FROM lstats
            ORDER BY nd DESC, plang LIMIT 1
        ), docn AS (
            SELECT doc_id, lang, CAST(sum(cnt) AS BIGINT) AS n
            FROM dbg GROUP BY doc_id, lang
        ), lhood AS (
            SELECT d.doc_id, p.plang,
                   CAST(sum(d.cnt * p.lp1_s) AS BIGINT) AS ll
            FROM dbg d JOIN prof p ON p.bg = d.bg
            GROUP BY d.doc_id, p.plang
        ), scored AS (
            SELECT dn.doc_id, dn.lang, c.plang,
                   c.prior_s - dn.n * c.pen_s + coalesce(l.ll, 0)
                   + CASE WHEN c.plang = (SELECT p0lang FROM p0)
                          THEN {margin} * dn.n ELSE 0 END AS s
            FROM docn dn CROSS JOIN consts c
            LEFT JOIN lhood l ON l.doc_id = dn.doc_id AND l.plang = c.plang
        ), nbpreds AS (
            SELECT doc_id, lang, plang AS pred_lang,
                   CAST(s AS BIGINT) AS score, plang = lang AS is_match
            FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY doc_id ORDER BY s DESC, plang) AS rn
                FROM scored
            ) t WHERE rn = 1
        )
""".format(margin=_NB_MARGIN_SQL)


@query(
    "doc_langid_nb",
    oracle=_NB_PRED_CTES
    + """
        SELECT doc_id, lang, pred_lang, score, is_match FROM nbpreds
    """,
    survey_ops="text-analysis language-ID — smoothed multinomial "
    "Naive-Bayes classifier with prior-margin decision rule "
    "(beyond-reference; successor of the frequency-dot-product "
    "doc_langid_ngram)",
    doc="Naive-Bayes language identification over character bigrams: "
    "Laplace-smoothed per-language log-likelihoods + class prior, all "
    "in scaled-BIGINT integers (round-9 ln parity ×1e9 — the "
    "temperature-mixture discipline), with a MAP margin band (0.02 "
    "nats/bigram) the evidence must clear before the prediction moves "
    "off the prior-argmax language. Replaces the dot-product "
    "classifier's degenerate always-majority behavior with a model "
    "that is AT the Bayes ceiling on zero-signal labels (this corpus: "
    "holdout NB 0.317 < majority 0.436 — no textual signal exists) "
    "and recovers minority languages on real signal (pinned by the "
    "fixture pytest where the old classifier stays majority-stuck). "
    "Scale: model = |langs|·V_seen rows computed JVM-side and "
    "broadcast; ONE Arrow pass scores the corpus in pure-integer "
    "arithmetic — no grid join, no |langs|× fan-out.",
)
def doc_langid_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return X.nb_langid_predictions(d)


@query(
    "doc_langid_nb_eval_report",
    oracle=_NB_PRED_CTES
    + """
        , act AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS n_actual,
                   CAST(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_correct
            FROM nbpreds GROUP BY lang
        ), prd AS (
            SELECT pred_lang AS lang, CAST(count(*) AS BIGINT) AS n_predicted
            FROM nbpreds GROUP BY pred_lang
        )
        SELECT a.lang, a.n_actual,
               coalesce(p.n_predicted, 0) AS n_predicted,
               a.n_correct,
               round(a.n_correct * 1.0 / a.n_actual, 6) AS recall,
               CASE WHEN coalesce(p.n_predicted, 0) > 0
                    THEN round(a.n_correct * 1.0 / p.n_predicted, 6) END
                   AS precision
        FROM act a LEFT JOIN prd p ON p.lang = a.lang
    """,
    survey_ops="text-analysis — Naive-Bayes language-ID evaluation "
    "report (beyond-reference; the harness that adjudicated the "
    "classifier upgrade)",
    doc="Per-language precision/recall of the Naive-Bayes language "
    "identifier against the corpus labels — same report shape as "
    "doc_langid_eval_report so the two classifiers compare row by "
    "row. On this corpus the NB report shows overall accuracy exactly "
    "at the majority prior (the measured Bayes ceiling: the synthetic "
    "labels carry no textual signal — holdout NB scores BELOW "
    "majority, so any classifier 'beating' the prior here would be "
    "memorizing, not identifying). The genuine improvement over the "
    "dot-product classifier is pinned where signal exists: the "
    "fixture pytest. Prediction relation checkpointed once for its "
    "two aggregates.",
)
def doc_langid_nb_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # ONE corpus-sized confusion-matrix aggregate feeding both
    # marginals — same r16 fold as doc_langid_eval_report (§1.2/§2.3);
    # values identical by exact-integer algebra.
    cm = (
        X.nb_langid_predictions(d)
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(materialize)
    )
    act = cm.groupBy("lang").agg(
        F.sum("c").alias("n_actual"),
        F.sum(
            F.when(F.col("pred_lang") == F.col("lang"), F.col("c")).otherwise(
                F.lit(0)
            )
        ).alias("n_correct"),
    )
    prd = cm.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.sum("c").alias("n_predicted")
    )
    return act.join(prd, "lang", "left").select(
        "lang",
        "n_actual",
        F.coalesce("n_predicted", F.lit(0)).cast("long").alias("n_predicted"),
        "n_correct",
        F.round(F.col("n_correct") / F.col("n_actual"), 6).alias("recall"),
        F.when(
            F.coalesce("n_predicted", F.lit(0)) > 0,
            F.round(F.col("n_correct") / F.col("n_predicted"), 6),
        ).alias("precision"),
    )


#: Kappa tail shared by both classifier rows of the agreement report:
#: chance-corrected agreement vs gold labels from a preds relation
#: ``{p}`` with (lang, pred_lang) — exact BIGINT confusion/marginal
#: sums, every division a single IEEE op over integer-derived doubles
#: with the same expression structure as the Spark builder.
_KAPPA_TAIL_SQL = r"""
        {p}_conf AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_agree
            FROM {p}
        ), {p}_marg AS (
            SELECT l, CAST(sum(gold) AS BIGINT) AS n_gold,
                   CAST(sum(pred) AS BIGINT) AS n_pred
            FROM (
                SELECT lang AS l, 1 AS gold, 0 AS pred FROM {p}
                UNION ALL
                SELECT pred_lang, 0, 1 FROM {p}
            ) u GROUP BY l
        ), {p}_pe AS (
            SELECT CAST(sum(n_gold * n_pred) AS BIGINT) AS pe_num
            FROM {p}_marg
        ), {p}_row AS (
            SELECT '{name}' AS classifier, n AS n_docs, n_agree,
                   round(n_agree * 1.0 / n, 6) AS observed_agreement,
                   round(pe_num * 1.0 / (n * n), 6) AS expected_agreement,
                   CASE WHEN pe_num = n * n THEN NULL
                        ELSE round((n_agree * 1.0 / n
                                    - pe_num * 1.0 / (n * n))
                                   / (1.0 - pe_num * 1.0 / (n * n)), 6)
                   END AS cohen_kappa
            FROM {p}_conf, {p}_pe
        )"""


@query(
    "doc_langid_kappa_report",
    oracle=_NB_PRED_CTES
    + r"""
        , bdbg AS (
            SELECT doc_id, lang, substring(lower(text), i, 2) AS bg,
                   count(*) AS cnt
            FROM documents,
                 LATERAL (SELECT unnest(range(1, len(lower(text)))) AS i) pos
            GROUP BY doc_id, lang, substring(lower(text), i, 2)
        ), bprofile AS (
            SELECT lang AS plang, bg, pcnt FROM (
                SELECT lang, bg, sum(cnt) AS pcnt,
                       row_number() OVER (
                           PARTITION BY lang ORDER BY sum(cnt) DESC, bg) AS prank
                FROM bdbg WHERE doc_id % 10 = 0 GROUP BY lang, bg
            ) p WHERE prank <= 64
        ), bscored AS (
            SELECT d.doc_id, d.lang, pr.plang,
                   CAST(sum(d.cnt * pr.pcnt) AS BIGINT) AS score
            FROM bdbg d JOIN bprofile pr ON pr.bg = d.bg
            GROUP BY d.doc_id, d.lang, pr.plang
        ), bpreds AS (
            SELECT doc_id, lang, plang AS pred_lang FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY doc_id ORDER BY score DESC, plang) AS rn
                FROM bscored
            ) t WHERE rn = 1
        ),"""
    + _KAPPA_TAIL_SQL.format(p="bpreds", name="bigram")
    + ","
    + _KAPPA_TAIL_SQL.format(p="nbpreds", name="nb")
    + r"""
        SELECT * FROM bpreds_row
        UNION ALL
        SELECT * FROM nbpreds_row
        ORDER BY classifier
    """,
    survey_ops="eval-plane — chance-corrected classifier agreement "
    "(Cohen's kappa vs gold labels) for BOTH langid classifiers in one "
    "report (beyond-reference; the metric that separates 'accurate "
    "because it learned something' from 'accurate because it predicts "
    "the majority' — raw accuracy can't); composes two "
    "already-oracle-checked classifier chains",
    doc="Multi-class Cohen's kappa of each language classifier against "
    "the corpus labels: per classifier the confusion scalars (exact "
    "BIGINTs), observed agreement, chance agreement from the "
    "prediction×gold marginals (pe = Σ_l pred_l·gold_l / n²), and "
    "kappa = (po − pe)/(1 − pe), round-6. On this corpus the report "
    "shows exactly why kappa exists: the dot-product bigram classifier "
    "predicts the majority language for every document, so its 43.6% "
    "accuracy is pure chance — po == pe algebraically for any constant "
    "predictor, kappa EXACTLY 0.0 — while Naive-Bayes moves off the "
    "prior and earns a (small, Bayes-ceiling-bounded) positive kappa. "
    "Divisions are single IEEE ops over integer-derived doubles with "
    "identical expression structure in both engines (po − pe of a "
    "constant predictor is exactly 0.0, not 1e-17); the pe == 1 "
    "degenerate guard (both raters constant and equal) returns NULL "
    "identically. Scale: the two classifier chains are the audited "
    "linear-scan shapes; the kappa tail is two scalar aggregates and "
    "one |langs|-row marginal join per classifier — the 1-row "
    "broadcast crossJoins ride the allowlisted scalar pattern.",
)
def doc_langid_kappa_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # ONE fused scoring pass for both classifiers (r15) feeding ONE
    # confusion-matrix aggregate (r16, guide §1.2/§2.3): the models are
    # built exactly as the standalone entries build them and the
    # per-doc decision loops are the same extracted functions, so each
    # classifier's (lang, pred_lang) relation is row-identical — and
    # instead of checkpointing that corpus-sized relation and scanning
    # it three times per classifier (confusion scalars + the two-way
    # marginal union), the scoring pass now flows straight into a
    # (classifier, lang, pred_lang) count with map-side partial
    # aggregation. Only the tiny (≤ 2·|langs|²-row) matrix is
    # checkpointed; every kappa ingredient is an exact-integer sum
    # over it, so the report values are unchanged (oracle-pinned).
    cm = (
        X.langid_dual_predictions(d)
        .groupBy("classifier", "lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(materialize)
    )
    parts = []
    for name in ("bigram", "nb"):
        p = cm.filter(F.col("classifier") == name)
        conf = p.agg(
            F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n"),
            F.sum(
                # per-cell: every row in a (lang, pred_lang) cell shares
                # one comparison outcome, so Σ c over matching cells is
                # the same integer as the per-row 0/1 flag sum (and the
                # oracle's CASE ... ELSE 0 form)
                F.when(F.col("pred_lang") == F.col("lang"), F.col("c")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_agree"),
        )
        marg = (
            p.select(
                F.col("lang").alias("l"),
                F.col("c").alias("gold"),
                F.lit(0).cast("long").alias("pred"),
            )
            .unionByName(
                p.select(
                    F.col("pred_lang").alias("l"),
                    F.lit(0).cast("long").alias("gold"),
                    F.col("c").alias("pred"),
                )
            )
            .groupBy("l")
            .agg(
                F.sum("gold").cast("long").alias("n_gold"),
                F.sum("pred").cast("long").alias("n_pred"),
            )
        )
        pe_num = marg.agg(
            F.sum(F.col("n_gold") * F.col("n_pred"))
            .cast("long")
            .alias("pe_num")
        )
        po = F.col("n_agree") * F.lit(1.0) / F.col("n")
        pe = F.col("pe_num") * F.lit(1.0) / (F.col("n") * F.col("n"))
        parts.append(
            conf.crossJoin(F.broadcast(pe_num)).select(
                F.lit(name).alias("classifier"),
                F.col("n").alias("n_docs"),
                "n_agree",
                F.round(po, 6).alias("observed_agreement"),
                F.round(pe, 6).alias("expected_agreement"),
                F.when(
                    F.col("pe_num") == F.col("n") * F.col("n"), F.lit(None)
                )
                .otherwise(F.round((po - pe) / (F.lit(1.0) - pe), 6))
                .alias("cohen_kappa"),
            )
        )
    return parts[0].unionByName(parts[1]).orderBy("classifier")


# Generated oracle SQL for the portable MinHash/SimHash variants —
# the hash families are plain affine/md5 arithmetic, so the oracle is
# the SAME algorithm written in SQL (constants shared via
# operators/dedup.py).
_MH_SIG_EXPRS = ",\n                   ".join(
    f"min(({D._mh_a(i)} * hv + {D._mh_b(i)}) % 4294967311) AS h{i}"
    for i in range(32)
)
_MH_BAND_SELECTS = "\n            UNION ALL ".join(
    "SELECT doc_id, {b} AS band, {key} AS bkey FROM sig".format(
        b=b,
        key="||','||".join(f"CAST(h{b * 4 + j} AS VARCHAR)" for j in range(4)),
    )
    for b in range(8)
)
_SHINGLE_CTES = r"""
        toks AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
        ), sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 2, 1) + 1),
                       i -> array_to_string(t[i:i+2], ' ')))) AS shingle
            FROM toks
        )
"""


@query(
    "doc_minhash_lsh_portable",
    oracle=f"""
        WITH {_SHINGLE_CTES}
        , vals AS (
            SELECT doc_id,
                   CAST('0x' || substring(md5(shingle), 1, 8) AS BIGINT) AS hv
            FROM sh
        ), sig AS (
            SELECT doc_id,
                   {_MH_SIG_EXPRS}
            FROM vals GROUP BY doc_id
        ), bands AS (
            {_MH_BAND_SELECTS}
        ), buckets AS (
            SELECT band, bkey FROM bands
            GROUP BY band, bkey HAVING count(*) BETWEEN 2 AND 1000
        )
        SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        FROM buckets u
        JOIN bands a ON a.band = u.band AND a.bkey = u.bkey
        JOIN bands c ON c.band = u.band AND c.bkey = u.bkey AND a.doc_id < c.doc_id
        ORDER BY id_a, id_b
    """,
    survey_ops="dedup MinHash+LSH, portable hash family (beyond-reference; "
    "oracle-checked twin of doc_minhash_lsh_candidates)",
    doc="Banded MinHash LSH candidate pairs (32 affine hashes over "
    "md5-derived shingle values, 8 bands × 4 rows, string band keys). "
    "Identical plan shape to the xxhash64 production tier — shingle "
    "rows → partial-min signature groupBy → bucket groupBy — but with "
    "a cross-engine hash family so DuckDB hash-verifies the whole "
    "pipeline, bucket cap included.",
)
def doc_minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_candidates_portable(d)


_SH_ONES_EXPRS = ",\n                   ".join(
    f"sum((hv >> {b}) & 1) AS b{b}" for b in range(60)
)
_SH_ASSEMBLE = " + ".join(f"(CASE WHEN 2 * b{b} > n_sh THEN {1 << b} ELSE 0 END)" for b in range(60))


@query(
    "doc_simhash_portable",
    oracle=f"""
        WITH {_SHINGLE_CTES}
        , vals AS (
            SELECT doc_id,
                   CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS hv
            FROM sh
        ), votes AS (
            SELECT doc_id, count(*) AS n_sh,
                   {_SH_ONES_EXPRS}
            FROM vals GROUP BY doc_id
        )
        SELECT doc_id, n_sh AS n_shingles,
               CAST({_SH_ASSEMBLE} AS BIGINT) AS simhash60
        FROM votes
    """,
    survey_ops="dedup SimHash, portable hash family (beyond-reference; "
    "oracle-checked twin of doc_simhash)",
    doc="60-bit SimHash per document from per-bit majority votes over "
    "md5-derived 3-gram shingle hashes — one doc-keyed shuffle, all "
    "bit arithmetic codegen'd; hash-verified end-to-end against the "
    "same construction in DuckDB.",
)
def doc_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_table_portable(d)


@query(
    "doc_tfidf_top_terms",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
            FROM documents
        ), tf AS (
            SELECT doc_id, token, count(*) AS tf
            FROM toks WHERE token <> '' GROUP BY doc_id, token
        ), docfreq AS (
            SELECT token, count(*) AS df FROM tf GROUP BY token
        ), n AS (
            SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents
        ), scored AS (
            SELECT t.doc_id, t.token, t.tf, d.df,
                   round(t.tf * ln(n.n_docs / d.df), 6) AS tfidf
            FROM tf t JOIN docfreq d ON t.token = d.token CROSS JOIN n
        )
        SELECT doc_id, token, tf, df, tfidf,
               CAST(rn AS BIGINT) AS term_rank
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
            FROM scored
        ) q WHERE rn <= 5
    """,
    survey_ops="text analysis — TF-IDF keyword extraction "
    "(beyond-reference; tf/df/top-k composition)",
    doc="Top-5 TF-IDF terms per document: one tokenize fan-out "
    "(explicit-count repartition) aggregated to (doc, token) grain; "
    "document frequency from a second aggregate over that grain — "
    "never a distinct over raw occurrences; N as a broadcast 1-row "
    "aggregate so the plan stays lazy; deterministic "
    "(tfidf desc, token) top-k window.",
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return X.tfidf_top_terms(d).withColumn(
        "term_rank", F.col("term_rank").cast("long")
    )


_HAM_RADIUS = 3
_HAM_BAND_BITS = 60 // (_HAM_RADIUS + 1)
_HAM_BANDS = "\n            UNION ALL ".join(
    f"SELECT doc_id, simhash60, {b} AS band, "
    f"(simhash60 >> {b * _HAM_BAND_BITS}) & {(1 << _HAM_BAND_BITS) - 1} AS bval FROM fps"
    for b in range(_HAM_RADIUS + 1)
)


@query(
    "doc_simhash_hamming_pairs",
    oracle=f"""
        WITH {_SHINGLE_CTES}
        , vals AS (
            SELECT doc_id,
                   CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS hv
            FROM sh
        ), votes AS (
            SELECT doc_id, count(*) AS n_sh,
                   {_SH_ONES_EXPRS}
            FROM vals GROUP BY doc_id
        ), fps AS (
            SELECT doc_id, CAST({_SH_ASSEMBLE} AS BIGINT) AS simhash60
            FROM votes
        ), bands AS (
            {_HAM_BANDS}
        )
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash60, b.simhash60)) AS BIGINT) AS hamming
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash60, b.simhash60)) <= {_HAM_RADIUS}
        ORDER BY id_a, id_b
    """,
    survey_ops="dedup SimHash Hamming-radius search (beyond-reference, "
    "completes the dedup ladder)",
    doc="SimHash near-neighbor pairs within Hamming distance 3 via the "
    "pigeonhole band join: 60-bit fingerprints split into 4 bands of "
    "15 bits — any within-radius pair agrees exactly on ≥1 band, so "
    "candidates come from an equi self-join on (band, band_value) "
    "(recall 1 within the radius, no cartesian), verified with "
    "popcount of the XOR.",
)
def doc_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_hamming_pairs(d, radius=_HAM_RADIUS)


@query(
    "doc_dup_clusters",
    oracle=f"""
        WITH {_SHINGLE_CTES}
        , vals AS (
            SELECT doc_id,
                   CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS hv
            FROM sh
        ), votes AS (
            SELECT doc_id, count(*) AS n_sh,
                   {_SH_ONES_EXPRS}
            FROM vals GROUP BY doc_id
        ), fps AS (
            SELECT doc_id, CAST({_SH_ASSEMBLE} AS BIGINT) AS simhash60
            FROM votes
        ), bands AS (
            {_HAM_BANDS}
        ), pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash60, b.simhash60)) <= {_HAM_RADIUS}
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs
        ), comp AS (
            -- transitive closure of "label reaches node"; UNION dedups
            -- so the recursion terminates; min label = smallest doc in
            -- the component
            WITH RECURSIVE reach(id, label) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
            )
            SELECT id, min(label) AS cluster_id FROM reach GROUP BY id
        )
        SELECT id AS doc_id, cluster_id FROM comp
    """,
    survey_ops="dedup clustering — connected components over near-dup "
    "pairs (beyond-reference; iterative min-label propagation)",
    doc="Canonical-document clusters: connected components over the "
    "SimHash Hamming-radius pair graph via iterative min-label "
    "propagation (one keyed shuffle join per round, localCheckpoint "
    "lineage truncation, rounds = cluster diameter). The oracle "
    "computes the same closure with a recursive CTE — the full "
    "candidate-pairs → groups dedup pipeline is hash-verified.",
)
def doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_hamming_pairs(d, radius=_HAM_RADIUS).select("id_a", "id_b")
    return D.connected_components(pairs, d.select("doc_id"))


@query(
    "doc_rolling_fingerprint",
    oracle=r"""
        WITH vals AS (
            SELECT doc_id,
                   list_transform(
                       string_split_regex(trim(text), '\s+'),
                       t -> CAST('0x' || substring(md5(t), 1, 8) AS BIGINT)
                   ) AS v
            FROM documents
        ), spans AS (
            SELECT doc_id,
                   list_transform(
                       range(1, len(v) - 5 + 2),
                       i -> list_reduce(v[i:i+4], (acc, x) -> (acc * 131 + x) % 1000000007)
                   ) AS hashes
            FROM vals
        ), fp AS (
            SELECT doc_id,
                   len(hashes)        AS n_spans,
                   list_min(hashes)   AS min_fp
            FROM spans
        )
        SELECT doc_id, n_spans, min_fp,
               count(*) OVER (PARTITION BY min_fp) AS fp_doc_count
        FROM fp
    """,
    survey_ops="text fingerprinting — Rabin–Karp rolling hash + winnowing "
    "min (beyond-reference)",
    doc="Per-document rolling-hash fingerprint: Rabin–Karp polynomial "
    "hash of every 5-token span (portable md5-derived token values, "
    "mod-prime arithmetic identical on both engines), winnowed to the "
    "span-min; documents sharing a min fingerprint are "
    "copy/boilerplate candidates (fp_doc_count > 1). Narrow per-row "
    "compute + one shuffle on the uniform fingerprint key.",
)
def doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    hashes = X.rolling_window_hashes(F.col("text"))
    fp = d.select(
        "doc_id",
        F.size(hashes).cast("long").alias("n_spans"),
        F.array_min(hashes).alias("min_fp"),
    )
    return fp.withColumn(
        "fp_doc_count", F.count(F.lit(1)).over(W.partitionBy("min_fp"))
    )


@query(
    "doc_hash_split",
    oracle=r"""
        WITH b AS (
            SELECT doc_id, lang,
                   CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) % 100 AS bucket
            FROM documents
        )
        SELECT doc_id, lang, bucket,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM b
    """,
    survey_ops="training-pipeline — deterministic hash-based "
    "train/val/test split (beyond-reference)",
    doc="Reproducible dataset splitting the way a 100 TB pipeline must "
    "do it: bucket = md5(doc_id) mod 100, thresholds 80/10/10. Unlike "
    "rand()-based sampleBy, the assignment is a pure projection — "
    "stable across runs, engines, partitionings and re-shards, needs "
    "no seed bookkeeping, and any subset of the corpus reproduces the "
    "same split. No shuffle at all; the md5 arithmetic is the shared "
    "cross-engine hash family (operators/dedup.py).",
)
def doc_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    return d.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


#: Sub-shard fan-out for the sequence packers: the cumulative-sum
#: window partitions by (lang, bucket) instead of lang alone, so the
#: dominant language of a real corpus spreads over PACK_BUCKETS sorted
#: tasks instead of serializing through one (the r10 verdict's one
#: scale-posture flag). bucket = md5(doc_id) chars 9-16 mod B — the
#: shared cross-engine hash family, independent of the split bucket
#: (chars 1-8) and the temperature-sampling bucket (chars 25-32) by
#: construction. Cost of the fan-out: at most B partial tail-packs per
#: language instead of 1 (bounded, audited by doc_pack_efficiency's
#: pad_tokens). At 100 TB you'd size B ≈ corpus_tokens /
#: (budget × packs-you-want-per-task); 8 keeps sf0.01 oracle rows
#: readable while exercising the real plan shape.
PACK_BUCKETS = 8

#: DuckDB twin of _pack_bucket() — keep the two literally in sync.
PACK_BUCKET_SQL = (
    "CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 9, 8) "
    f"AS BIGINT) % {PACK_BUCKETS}"
)


def _pack_bucket() -> F.Column:
    """Spark side of the packer sub-shard key (see PACK_BUCKETS)."""
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 9, 8), 16, 10)
        .cast("long")
        % PACK_BUCKETS
    )


def split_pack_manifest(curated: DataFrame) -> DataFrame:
    """(split, lang, n_docs, n_packs, total_tokens) training-shard
    manifest from a curated ``(doc_id, lang, n_tokens)`` corpus — the
    curation flagship's selection tail (hash train/val/test split →
    (split, lang, bucket) greedy packing at 512 tokens → manifest
    rollup), factored out so the batch flagship and the streaming
    curation store's read-side manifest derive from ONE definition and
    cannot drift."""
    from pyspark.sql import Window as W

    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    split = curated.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    )
    w = (
        W.partitionBy("split", "lang", "bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    packed = (
        split.withColumn("bucket", _pack_bucket())
        .withColumn(
            "pack_id",
            F.floor(
                (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(512.0)
            ).cast("long"),
        )
    )
    packs = packed.groupBy("split", "lang", "bucket", "pack_id").agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum("n_tokens").alias("tok"),
    )
    return packs.groupBy("split", "lang").agg(
        F.sum("nd").alias("n_docs"),
        F.count(F.lit(1)).alias("n_packs"),
        F.sum("tok").alias("total_tokens"),
    )


@query(
    "doc_pack_sequences",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, lang,
                   """
    + PACK_BUCKET_SQL
    + r""" AS bucket,
                   len(string_split_regex(trim(text), '\s+')) AS n_tokens
            FROM documents
        ), packed AS (
            SELECT doc_id, lang, bucket, n_tokens,
                   CAST(floor(
                       (sum(n_tokens) OVER (
                            PARTITION BY lang, bucket ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                        ) - n_tokens) / 512.0
                   ) AS BIGINT) AS pack_id
            FROM toks
        )
        SELECT lang, bucket, pack_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
        FROM packed
        GROUP BY lang, bucket, pack_id
    """,
    survey_ops="training-pipeline — sequence packing / token-budget "
    "chunking, two-level (lang, bucket) fan-out (beyond-reference)",
    doc="Pack documents into ~512-token training sequences per language "
    "shard: pack_id = floor(preceding-cumulative-tokens / budget) over "
    "(lang, bucket ORDER BY doc_id) — the deterministic streaming-"
    "chunking variant of greedy bin packing (a pack may overflow by at "
    "most one document, never undershoots). Two-level since r11: the "
    "bucket sub-shard key (md5 chars 9-16 mod PACK_BUCKETS) bounds "
    "every sorted window partition to ~1/B of its language, so the "
    "dominant language of a 100 TB corpus packs across B parallel "
    "tasks instead of serializing through one — at the documented cost "
    "of ≤B partial tail-packs per language. Output is the per-pack "
    "manifest keyed (lang, bucket, pack_id); same aliasing on both "
    "engines keeps the hash compare exact.",
)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        _pack_bucket().alias("bucket"),
        X.token_count(F.col("text")).alias("n_tokens"),
    )
    w = (
        W.partitionBy("lang", "bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    packed = toks.withColumn(
        "pack_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(512.0)).cast(
            "long"
        ),
    )
    return packed.groupBy("lang", "bucket", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


@query(
    "doc_pack_efficiency",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, lang,
                   """
    + PACK_BUCKET_SQL
    + r""" AS bucket,
                   len(string_split_regex(trim(text), '\s+')) AS n_tokens
            FROM documents
        ), packed AS (
            SELECT doc_id, lang, bucket, n_tokens,
                   CAST(floor(
                       (sum(n_tokens) OVER (
                            PARTITION BY lang, bucket ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                        ) - n_tokens) / 512.0
                   ) AS BIGINT) AS pack_id
            FROM toks
        ), packs AS (
            SELECT lang, bucket, pack_id,
                   CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
            FROM packed GROUP BY lang, bucket, pack_id
        )
        SELECT lang,
               CAST(count(*) AS BIGINT)          AS n_packs,
               CAST(sum(pack_tokens) AS BIGINT)  AS total_tokens,
               CAST(count(*) * 512 AS BIGINT)    AS capacity,
               round(sum(pack_tokens) * 1.0 / (count(*) * 512), 6) AS fill_ratio,
               CAST(sum(greatest(pack_tokens - 512, 0)) AS BIGINT)
                   AS overflow_tokens,
               CAST(sum(greatest(512 - pack_tokens, 0)) AS BIGINT)
                   AS pad_tokens,
               CAST(min(pack_tokens) AS BIGINT)  AS min_pack,
               CAST(max(pack_tokens) AS BIGINT)  AS max_pack
        FROM packs GROUP BY lang
    """,
    survey_ops="training-pipeline — packing-efficiency / padding-waste "
    "report (beyond-reference; the fixed-context fill metric every "
    "pretraining run tracks)",
    doc="Packing-efficiency audit over doc_pack_sequences' packs at a "
    "fixed 512-token context: per language shard, the pack count, "
    "token mass vs capacity (fill ratio), tokens a fixed-context "
    "loader would TRUNCATE (overflow past 512 — this packer lets a "
    "pack overflow by at most one document) and the padding it would "
    "WASTE (packs under 512), plus the pack-size extremes. All "
    "integer sums over exact token counts; the one float (fill ratio) "
    "divides two exact BIGINTs, so round-6 is engine-identical. Same "
    "two-level (lang, bucket) window as the r11 packer — parallel "
    "across sub-shards, no single-language sort funnel; the ≤B partial "
    "tail-packs per language the fan-out admits surface here as "
    "pad_tokens, which is exactly the audit's job. The report itself "
    "is two tiny aggregations.",
)
def doc_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    budget = 512
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        _pack_bucket().alias("bucket"),
        X.token_count(F.col("text")).alias("n_tokens"),
    )
    w = (
        W.partitionBy("lang", "bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    packed = toks.withColumn(
        "pack_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(float(budget))
        ).cast("long"),
    )
    packs = packed.groupBy("lang", "bucket", "pack_id").agg(
        F.sum("n_tokens").alias("pack_tokens")
    )
    return packs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_packs"),
        F.sum("pack_tokens").alias("total_tokens"),
        (F.count(F.lit(1)) * budget).alias("capacity"),
        F.round(
            F.sum("pack_tokens") * 1.0 / (F.count(F.lit(1)) * budget), 6
        ).alias("fill_ratio"),
        F.sum(F.greatest(F.col("pack_tokens") - budget, F.lit(0))).alias(
            "overflow_tokens"
        ),
        F.sum(F.greatest(F.lit(budget) - F.col("pack_tokens"), F.lit(0))).alias(
            "pad_tokens"
        ),
        F.min("pack_tokens").alias("min_pack"),
        F.max("pack_tokens").alias("max_pack"),
    )


@query(
    "doc_repetition_stats",
    oracle=r"""
        WITH t AS (
            SELECT doc_id, lang,
                   unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
            FROM documents
        ), tf AS (
            SELECT doc_id, lang, token, count(*) AS tf
            FROM t WHERE token != '' GROUP BY doc_id, lang, token
        )
        SELECT doc_id, lang,
               CAST(sum(tf) AS BIGINT)   AS n_tokens,
               CAST(count(*) AS BIGINT)  AS n_distinct,
               round(count(*) * 1.0 / sum(tf), 6)  AS type_token_ratio,
               CAST(max(tf) AS BIGINT)   AS max_tf,
               round(max(tf) * 1.0 / sum(tf), 6)   AS top_token_mass
        FROM tf
        GROUP BY doc_id, lang
    """,
    survey_ops="training-pipeline — repetition / degenerate-text "
    "detection (beyond-reference quality-filter signal)",
    doc="Per-document repetition profile: type-token ratio and the "
    "mass of the single most repeated token — the standard cheap "
    "detectors for template-y or degenerate generated text (a doc "
    "whose top token carries 30% of its mass is boilerplate, not "
    "prose). Built on the Arrow (doc, token, tf) grain shared with "
    "TF-IDF; one doc-keyed aggregate, no extra pass over raw text.",
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.arrow_docs import token_counts_arrow

    d = load_table(spark, sf_dir, "documents")
    tf = token_counts_arrow(d).join(d.select("doc_id", "lang"), "doc_id")
    return tf.groupBy("doc_id", "lang").agg(
        F.sum("tf").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(F.count(F.lit(1)) / F.sum("tf"), 6).alias("type_token_ratio"),
        F.max("tf").alias("max_tf"),
        F.round(F.max("tf") / F.sum("tf"), 6).alias("top_token_mass"),
    )


@query(
    "doc_dup_clusters_minhash",
    oracle=f"""
        WITH {_SHINGLE_CTES}
        , vals AS (
            SELECT doc_id,
                   CAST('0x' || substring(md5(shingle), 1, 8) AS BIGINT) AS hv
            FROM sh
        ), sig AS (
            SELECT doc_id,
                   {_MH_SIG_EXPRS}
            FROM vals GROUP BY doc_id
        ), bands AS (
            {_MH_BAND_SELECTS}
        ), buckets AS (
            SELECT band, bkey FROM bands
            GROUP BY band, bkey HAVING count(*) BETWEEN 2 AND 1000
        ), pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
            FROM buckets u
            JOIN bands a ON a.band = u.band AND a.bkey = u.bkey
            JOIN bands c ON c.band = u.band AND c.bkey = u.bkey
                        AND a.doc_id < c.doc_id
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs
        ), comp AS (
            WITH RECURSIVE reach(id, label) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
            )
            SELECT id, min(label) AS cluster_id FROM reach GROUP BY id
        )
        SELECT id AS doc_id, cluster_id FROM comp
    """,
    survey_ops="dedup clustering over MinHash-LSH candidate edges — the "
    "full MinHash tier end-to-end: shingles → signatures → bands → "
    "candidate pairs → connected components (beyond-reference)",
    doc="Canonical-document clusters over the MinHash-LSH candidate "
    "graph — composes the ladder's scale tier with the same iterative "
    "min-label propagation used for the SimHash graph "
    "(doc_dup_clusters), so BOTH near-dup detectors have a "
    "hash-verified pairs→groups path. The recursive-CTE oracle "
    "recomputes the identical closure in DuckDB.",
)
def doc_dup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates_portable(d).select(
        F.col("id_a"), F.col("id_b")
    )
    return D.connected_components(pairs, d.select("doc_id"))


@query(
    "doc_mixture_sample",
    oracle=r"""
        WITH rates(lang, pct) AS (
            VALUES ('en', 100), ('de', 60), ('fr', 40), ('es', 25), ('it', 10)
        ), b AS (
            SELECT d.doc_id, d.lang,
                   CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 9, 8)
                        AS BIGINT) % 100 AS bucket,
                   coalesce(r.pct, 0) AS pct
            FROM documents d LEFT JOIN rates r ON r.lang = d.lang
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(CASE WHEN bucket < pct THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_sampled
        FROM b GROUP BY lang
    """,
    survey_ops="training-pipeline — weighted mixture sampling per source "
    "(beyond-reference; deterministic hash thresholds)",
    doc="Deterministic training-mixture sampling: per-language keep "
    "rates (en 100% … it 10%) applied via an md5 bucket — hex chars "
    "9-16 so the mixture decision is INDEPENDENT of doc_hash_split's "
    "train/val/test buckets (chars 1-8); the same document always "
    "lands in the same mixture regardless of partitioning or corpus "
    "subset. Rates ride in as a broadcast-joined dimension, the "
    "decision is a pure projection; output is the per-language "
    "sampling manifest.",
)
def doc_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    rates = spark.createDataFrame(
        [("en", 100), ("de", 60), ("fr", 40), ("es", 25), ("it", 10)],
        "lang string, pct int",
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 9, 8), 16, 10)
        .cast("long") % 100
    )
    b = d.join(F.broadcast(rates), "lang", "left").select(
        "lang",
        bucket.alias("bucket"),
        F.coalesce(F.col("pct"), F.lit(0)).alias("pct"),
    )
    return b.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("bucket") < F.col("pct"), 1).otherwise(0))
        .cast("long")
        .alias("n_sampled"),
    )


@query(
    "doc_temperature_mixture",
    oracle=r"""
        WITH tok AS (
            SELECT doc_id, lang,
                   len(string_split_regex(trim(text), '\s+')) AS n_tok
            FROM documents
            WHERE text IS NOT NULL AND lang IS NOT NULL
        ), agg AS (
            SELECT lang,
                   CAST(count(*) AS BIGINT)   AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS n_tokens
            FROM tok GROUP BY lang
        ), mn AS (
            SELECT min(n_tokens) AS min_tokens FROM agg
        ), rates AS (
            -- divide BEFORE the sqrt so min/min == 1.0 exactly and the
            -- smallest source floors to exactly 100 (sqrt(m)/sqrt(m)
            -- rounds below 1.0 for ~6% of integers — self-review fix,
            -- lockstep with operators/text.py::temperature_rates)
            SELECT lang, n_docs, n_tokens,
                   CAST(floor(100.0 * sqrt(CAST(min_tokens AS DOUBLE)
                                           / CAST(n_tokens AS DOUBLE)))
                        AS BIGINT) AS rate_pct
            FROM agg CROSS JOIN mn
        ), b AS (
            SELECT t.lang,
                   CAST('0x' || substring(md5(CAST(t.doc_id AS VARCHAR)), 17, 8)
                        AS BIGINT) % 100 AS bucket,
                   r.rate_pct
            FROM tok t JOIN rates r ON r.lang = t.lang
        ), sel AS (
            SELECT lang,
                   CAST(sum(CASE WHEN bucket < rate_pct THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_sampled
            FROM b GROUP BY lang
        )
        SELECT r.lang, r.n_docs, r.n_tokens, r.rate_pct, s.n_sampled
        FROM rates r JOIN sel s ON s.lang = r.lang
    """,
    survey_ops="training-pipeline — temperature-scaled mixture sampling "
    "(beyond-reference; the mT5/XLM-R multilingual rebalancing recipe, "
    "p_i ∝ q_i^α), rates DERIVED from corpus token shares",
    doc="Temperature-scaled source mixture (mT5 §3.1 / XLM-R: sample "
    "language i with p_i ∝ q_i^α, flattening the head so low-resource "
    "sources are seen more than their natural share): per-language "
    "keep-rates derived FROM the corpus itself as "
    "floor(100·sqrt(min_tokens/lang_tokens)) — the α = 1/2 (T = 2) "
    "instance, where p_i/q_i ∝ q_i^(α-1) reduces to an inverse sqrt of "
    "exact integer token counts. sqrt is IEEE-correctly-rounded in "
    "BOTH engines (unlike pow, whose libm implementations can differ "
    "by an ulp — an arbitrary-T variant would need the scaled-integer "
    "discipline), so the derived rates are engine-identical with no "
    "rounding band-aid. The per-doc decision reuses the md5-bucket "
    "scheme on hex chars 17-24 — independent of doc_hash_split "
    "(chars 1-8) AND doc_mixture_sample (chars 9-16), so split, "
    "static mixture, and temperature mixture decisions never "
    "correlate. Rates are a |langs|-row broadcast; the decision is a "
    "pure projection; output is the per-language sampling manifest "
    "(smallest source keeps exactly 100%).",
)
def doc_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # stats + rates via the SHARED helpers the incremental stats store's
    # reader also uses (operators/text.py::mixture_stats_partial /
    # temperature_rates) — ingest-time and batch rates cannot drift.
    # validate=False keeps the plan fully lazy: the loud-fail take(1)
    # is for tiny store-fed frames, not a corpus aggregate. The stats
    # frame (≤|langs| rows) is lazily checkpointed because THREE
    # branches consume it (the min-token scalar, the rates projection,
    # and the manifest carry-through) — aliased branches defeat
    # ReusedExchange, and without the checkpoint the plan re-scanned
    # the corpus five times (seen in the PLANS.md snapshot).
    stats = X.mixture_stats_partial(d).transform(materialize)
    rates = X.temperature_rates(stats, validate=False)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 17, 8), 16, 10)
        .cast("long") % 100
    )
    # pre-aggregate decisions to ≤|langs|·100 (lang, bucket) cells so
    # the rates frame joins ONCE and the corpus is scanned once here
    bucket_counts = (
        d.filter(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select("lang", bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        bucket_counts.join(F.broadcast(rates), "lang")
        .groupBy("lang", "n_docs", "n_tokens", "rate_pct")
        .agg(
            F.sum(
                F.when(F.col("bucket") < F.col("rate_pct"), F.col("cnt")).otherwise(0)
            )
            .cast("long")
            .alias("n_sampled")
        )
    )


# α = 0.3 — mT5's published operating point (Xue et al. 2021 picked
# α = 0.3 after sweeping {0.2, 0.3, 0.7}). The exponent literal 1−α is
# computed ONCE in Python and repr-interpolated into the oracle so both
# engines parse the bit-identical double (repr is the shortest
# round-tripping string).
_TEMP_ALPHA = 0.3
_TEMP_EXPONENT = repr(1.0 - _TEMP_ALPHA)


@query(
    "doc_temperature_mixture_alpha3",
    oracle=r"""
        WITH tok AS (
            SELECT doc_id, lang,
                   len(string_split_regex(trim(text), '\s+')) AS n_tok
            FROM documents
            WHERE text IS NOT NULL AND lang IS NOT NULL
        ), agg AS (
            SELECT lang,
                   CAST(count(*) AS BIGINT)   AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS n_tokens
            FROM tok GROUP BY lang
        ), mn AS (
            SELECT min(n_tokens) AS min_tokens FROM agg
        ), rates AS (
            -- pow via exp((1-α)·ln(ratio)) with the scaled-rounding
            -- discipline (ln→9dp, exp→6dp): libm exp/ln are not
            -- correctly-rounded everywhere, so each transcendental
            -- output is rounded to a value both engines agree on
            -- before the next step (lockstep with
            -- operators/text.py::temperature_rates alpha path)
            SELECT lang, n_docs, n_tokens,
                   CAST(floor(100.0 * round(exp(
                            """
    + _TEMP_EXPONENT
    + r""" * round(ln(CAST(min_tokens AS DOUBLE)
                                           / CAST(n_tokens AS DOUBLE)), 9)
                        ), 6)) AS BIGINT) AS rate_pct
            FROM agg CROSS JOIN mn
        ), b AS (
            SELECT t.lang,
                   CAST('0x' || substring(md5(CAST(t.doc_id AS VARCHAR)), 25, 8)
                        AS BIGINT) % 100 AS bucket,
                   r.rate_pct
            FROM tok t JOIN rates r ON r.lang = t.lang
        ), sel AS (
            SELECT lang,
                   CAST(sum(CASE WHEN bucket < rate_pct THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_sampled
            FROM b GROUP BY lang
        )
        SELECT r.lang, r.n_docs, r.n_tokens, r.rate_pct, s.n_sampled
        FROM rates r JOIN sel s ON s.lang = r.lang
    """,
    survey_ops="training-pipeline — ARBITRARY-temperature mixture "
    "sampling (beyond-reference; the mT5 α = 0.3 operating point via "
    "cross-engine-stable pow = exp((1−α)·ln), ln→9dp / exp→6dp "
    "rounding discipline)",
    doc="Temperature-scaled source mixture at mT5's published "
    "α = 0.3 (Xue et al. 2021 §3.1): keep-rate "
    "floor(100·(min_tokens/lang_tokens)^0.7) — a stronger flattening "
    "than the α = 1/2 sqrt instance (ratio^0.7 < ratio^0.5 for "
    "ratio < 1, so high-resource sources are cut harder and the "
    "effective token shares q^0.3 are strictly flatter than q^0.5). "
    "pow is NOT IEEE-correctly-rounded across libms, so the operator "
    "realizes it as exp((1−α)·ln(ratio)) with each transcendental "
    "output rounded (ln to 9 dp, exp to 6 dp) — the lr_train_weights "
    "determinism discipline — making every intermediate bit-identical "
    "across engines before the floor; the exponent literal is "
    "repr-interpolated so both engines parse the same double. The "
    "smallest source stays exactly 100 (ln(1.0) = 0.0 and "
    "exp(0.0) = 1.0 are exact in every libm). Per-doc decisions use "
    "md5 hex chars 25-32 — independent of doc_hash_split (1-8), "
    "doc_mixture_sample (9-16), AND the α = 1/2 query (17-24), so a "
    "pipeline composing any subset never correlates decisions. Same "
    "scale shape as doc_temperature_mixture: one corpus scan into "
    "≤|langs|·100 (lang, bucket) cells, |langs|-row broadcast rates.",
)
def doc_temperature_mixture_alpha3(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    stats = X.mixture_stats_partial(d).transform(materialize)
    rates = X.temperature_rates(stats, validate=False, alpha=_TEMP_ALPHA)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 25, 8), 16, 10)
        .cast("long") % 100
    )
    bucket_counts = (
        d.filter(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select("lang", bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        bucket_counts.join(F.broadcast(rates), "lang")
        .groupBy("lang", "n_docs", "n_tokens", "rate_pct")
        .agg(
            F.sum(
                F.when(F.col("bucket") < F.col("rate_pct"), F.col("cnt")).otherwise(0)
            )
            .cast("long")
            .alias("n_sampled")
        )
    )


@query(
    "doc_quality_gate",
    oracle=r"""
        WITH checks AS (
            SELECT doc_id,
                   CASE WHEN text IS NULL THEN 1 ELSE 0 END AS null_text,
                   CASE WHEN text IS NOT NULL AND trim(text) = '' THEN 1
                        ELSE 0 END AS empty_text,
                   CASE WHEN text IS NOT NULL
                             AND len(string_split_regex(trim(text), '\s+')) < 5
                        THEN 1 ELSE 0 END AS too_short,
                   CASE WHEN text IS NOT NULL
                             AND len(string_split_regex(trim(text), '\s+')) > 10000
                        THEN 1 ELSE 0 END AS too_long,
                   CASE WHEN lang IS NULL
                             OR lang NOT IN ('en','de','fr','es','it')
                        THEN 1 ELSE 0 END AS bad_lang
            FROM documents
        ), dupkeys AS (
            SELECT doc_id FROM documents GROUP BY doc_id HAVING count(*) > 1
        )
        SELECT
            CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_rows,
            CAST(sum(null_text) AS BIGINT) AS null_text,
            CAST(sum(empty_text) AS BIGINT) AS empty_text,
            CAST(sum(too_short) AS BIGINT) AS too_short,
            CAST(sum(too_long) AS BIGINT) AS too_long,
            CAST(sum(bad_lang) AS BIGINT) AS bad_lang,
            CAST((SELECT count(*) FROM dupkeys) AS BIGINT) AS dup_keys
        FROM checks
    """,
    survey_ops="training-pipeline — data-quality gate (constraint "
    "violation manifest; beyond-reference)",
    doc="Ingest-time quality gate: one pass computes per-rule violation "
    "counts (null/empty text, token-length bounds, unknown language) "
    "plus a duplicate-key probe — the contract check a pipeline runs "
    "BEFORE expensive stages, as a single wide conditional aggregate "
    "(no per-rule scans). A healthy corpus reports all zeros, which "
    "the oracle verifies rather than assumes.",
)
def doc_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(X.tokens(F.col("text")))
    checks = d.select(
        "doc_id",
        F.when(F.col("text").isNull(), 1).otherwise(0).alias("null_text"),
        F.when(F.col("text").isNotNull() & (F.trim("text") == ""), 1)
        .otherwise(0)
        .alias("empty_text"),
        F.when(F.col("text").isNotNull() & (n_tok < 5), 1).otherwise(0).alias("too_short"),
        F.when(F.col("text").isNotNull() & (n_tok > 10000), 1)
        .otherwise(0)
        .alias("too_long"),
        F.when(
            F.col("lang").isNull()
            | ~F.col("lang").isin("en", "de", "fr", "es", "it"),
            1,
        )
        .otherwise(0)
        .alias("bad_lang"),
    )
    dup_keys = (
        d.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("dup_keys"))
    )
    totals = checks.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("null_text").cast("long").alias("null_text"),
        F.sum("empty_text").cast("long").alias("empty_text"),
        F.sum("too_short").cast("long").alias("too_short"),
        F.sum("too_long").cast("long").alias("too_long"),
        F.sum("bad_lang").cast("long").alias("bad_lang"),
    )
    return totals.crossJoin(dup_keys)


#: The curation flagship's full WITH-chain (stages -1..5 as CTEs,
#: `u0` through `packs`), shared VERBATIM by the flagship oracle and
#: the per-stage attrition funnel's oracle (doc_curation_funnel) so
#: the two readings of the pipeline cannot diverge.
_CURATION_CTES = f"""
        WITH u0 AS (
            -- stage -1 (r11): URL/domain-plane gate BEFORE any text
            -- work (the CCNet/RefinedWeb order): canonical-URL exact
            -- re-crawl dedup, hash-gated domain quota, blocklist.
            -- Same expressions as doc_url_curation's oracle.
            SELECT doc_id, lang, text, {_URL_SYNTH} AS url FROM documents
        ), u1 AS (
            SELECT doc_id, lang, text,
                   {_URL_CANON} AS canonical_url,
                   {_URL_HOST} AS domain
            FROM u0
        ), u2 AS (
            SELECT doc_id, lang, text, domain, canonical_url,
                   canonical_url IS NOT NULL AND
                   doc_id > min(doc_id) OVER (PARTITION BY canonical_url)
                       AS is_url_dup
            FROM u1
        ), urates AS (
            SELECT domain,
                   {_URL_RATE} AS keep_rate
            FROM u2
            WHERE NOT is_url_dup AND domain IS NOT NULL GROUP BY domain
        ), ukept AS (
            SELECT d.doc_id, d.lang, d.text
            FROM u2 d JOIN urates r USING (domain)
            WHERE NOT d.is_url_dup
              AND {_URL_BUCKET} < r.keep_rate
              AND d.domain NOT IN ('www.src00.example.com',
                                   'www.src130.example.com')
        ), kept AS (
            -- stage 0: C4-style line filter. The corpus is single-line,
            -- so the per-line rules (min 3 tokens; banned vocabulary
            -- 'dup') degenerate to a doc predicate with text passing
            -- through byte-identical — which is exactly the operator's
            -- semantics on one-line docs (the Spark side runs the real
            -- split→rule→rejoin operator; its multi-line behavior is
            -- pytest-pinned).
            -- stage 1: quality gate (same rules as doc_quality_gate)
            SELECT doc_id, lang, text
            FROM ukept
            WHERE text IS NOT NULL AND trim(text) != ''
              AND NOT regexp_matches(lower(text), '(^| )dup( |$)')
              AND len(string_split_regex(trim(text), '\\s+')) BETWEEN 5 AND 10000
              AND lang IN ('en','de','fr','es','it')
        ), {X.repetition_sql_ctes("kept", "rp_")}
        , rkept AS MATERIALIZED (
            -- stage 0.5 (r12): Gopher repetition rule gate — the CTEs
            -- and the conjunction are generated by the SAME
            -- operators/text.py builders as doc_repetition_rules'
            -- oracle and the Spark gate's thresholds dict.
            -- MATERIALIZED: the recursive connected-components tail
            -- re-evaluates its upstream per reference when DuckDB
            -- inlines the chain — with the gram-grade CTEs in it that
            -- measured 155 s vs 3 s materialized (the oracle-side
            -- analogue of the Spark localCheckpoint at `clean`)
            SELECT k.doc_id, k.lang, k.text
            FROM kept k
            JOIN rp_ls USING (doc_id)
            JOIN rp_wide USING (doc_id)
            WHERE {X.repetition_gate_sql()}
        ), ev4 AS (
            -- stage 1.5a: the eval suite's distinct token 4-grams
            SELECT DISTINCT unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 3, 1) + 1),
                       i -> array_to_string(t[i:i+3], ' ')))) AS shingle
            FROM (SELECT string_split_regex(trim(text), '\\s+') AS t
                  FROM documents WHERE doc_id % 97 = 0) q
        ), tr4 AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 3, 1) + 1),
                       i -> array_to_string(t[i:i+3], ' ')))) AS shingle
            FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                  FROM rkept WHERE doc_id % 97 <> 0) q
        ), dirty AS (
            SELECT DISTINCT tr4.doc_id FROM tr4 JOIN ev4 USING (shingle)
        ), clean AS (
            -- stage 1.5b: drop eval docs and any 4-gram-contaminated doc
            SELECT doc_id, lang, text FROM rkept
            WHERE doc_id % 97 <> 0
              AND doc_id NOT IN (SELECT doc_id FROM dirty)
        ), s_toks AS (
            -- stage 1.75: substring-level exact dedup (ExactSubstr):
            -- flag non-canonical repeated 8-token windows, cut their
            -- covered tokens, drop docs cut to nothing
            SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS t
            FROM clean
        ), s_occ AS (
            SELECT doc_id, i - 1 AS pos,
                   md5(array_to_string(t[i:i+7], ' ')) AS key
            FROM s_toks, unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS u(i)
        ), s_flag AS (
            SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                       row_number() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rn,
                       count(*)    OVER (PARTITION BY key) AS cnt
                FROM s_occ) z WHERE cnt >= 2 AND rn > 1
        ), s_tok AS (
            SELECT doc_id, lang, i - 1 AS pos, t[i] AS tok
            FROM s_toks, unnest(range(1, len(t) + 1)) AS u(i)
        ), s_marked AS (
            SELECT r.doc_id, r.lang, r.pos, r.tok,
                   CASE WHEN f.pos IS NOT NULL THEN 1 ELSE 0 END AS wstart
            FROM s_tok r LEFT JOIN s_flag f
              ON f.doc_id = r.doc_id AND f.pos = r.pos
        ), s_cutflag AS (
            SELECT doc_id, lang, pos, tok,
                   max(wstart) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cut
            FROM s_marked
        ), cutdocs AS (
            SELECT doc_id, lang,
                   string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE cut = 0) AS text
            FROM s_cutflag GROUP BY doc_id, lang
            HAVING trim(coalesce(string_agg(tok, ' ' ORDER BY pos)
                                     FILTER (WHERE cut = 0), '')) != ''
        ), exact_canon AS (
            -- stage 2: exact dedup — keep the smallest id per md5(text)
            SELECT doc_id, lang, text
            FROM (
                SELECT doc_id, lang, text,
                       min(doc_id) OVER (PARTITION BY md5(lower(trim(text))))
                           AS canonical_id
                FROM cutdocs
            ) x WHERE doc_id = canonical_id
        ), documents_c AS (SELECT doc_id, lang, text FROM exact_canon),
        {_SHINGLE_CTES.replace('FROM documents', 'FROM documents_c')}
        , vals AS (
            SELECT doc_id,
                   CAST('0x' || substring(md5(shingle), 1, 8) AS BIGINT) AS hv
            FROM sh
        ), sig AS (
            SELECT doc_id,
                   {_MH_SIG_EXPRS}
            FROM vals GROUP BY doc_id
        ), bands AS (
            {_MH_BAND_SELECTS}
        ), buckets AS (
            SELECT band, bkey FROM bands
            GROUP BY band, bkey HAVING count(*) BETWEEN 2 AND 1000
        ), pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
            FROM buckets u
            JOIN bands a ON a.band = u.band AND a.bkey = u.bkey
            JOIN bands c ON c.band = u.band AND c.bkey = u.bkey
                        AND a.doc_id < c.doc_id
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs
        ), comp AS (
            -- stage 3: near-dup clusters — keep the cluster canonical
            WITH RECURSIVE reach(id, label) AS (
                SELECT doc_id, doc_id FROM documents_c
                UNION
                SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
            )
            SELECT id, min(label) AS cluster_id FROM reach GROUP BY id
        ), curated AS (
            SELECT d.doc_id, d.lang,
                   len(string_split_regex(trim(d.text), '\\s+')) AS n_tokens
            FROM documents_c d JOIN comp ON comp.id = d.doc_id
            WHERE comp.cluster_id = d.doc_id
        ), split AS (
            -- stage 4: deterministic hash split
            SELECT doc_id, lang, n_tokens,
                   CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                             AS BIGINT) % 100 < 80 THEN 'train'
                        WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                             AS BIGINT) % 100 < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM curated
        ), packed AS (
            -- stage 5: two-level sequence packing per
            -- (split, lang, bucket) sub-shard (r11 — see PACK_BUCKETS)
            SELECT split, lang, n_tokens,
                   {PACK_BUCKET_SQL} AS bucket,
                   CAST(floor(
                       (sum(n_tokens) OVER (
                            PARTITION BY split, lang, {PACK_BUCKET_SQL}
                            ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                        ) - n_tokens) / 512.0
                   ) AS BIGINT) AS pack_id
            FROM split
        ), packs AS (
            SELECT split, lang, bucket, pack_id,
                   CAST(count(*) AS BIGINT) AS nd,
                   CAST(sum(n_tokens) AS BIGINT) AS tok
            FROM packed GROUP BY split, lang, bucket, pack_id
        )
"""


@query(
    "doc_curation_pipeline",
    oracle=f"""
        {_CURATION_CTES}
        SELECT split, lang,
               CAST(sum(nd) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_packs,
               CAST(sum(tok) AS BIGINT) AS total_tokens
        FROM packs
        GROUP BY split, lang
    """,
    survey_ops="training-pipeline FLAGSHIP — the full curation chain as "
    "one lazy plan: URL/domain gate → line filter → quality gate → "
    "Gopher repetition gate → benchmark decontamination → substring-level exact dedup "
    "(ExactSubstr cut) → exact dedup → MinHash-LSH near-dup "
    "clustering → deterministic split → two-level sequence packing "
    "(beyond-reference)",
    doc="End-to-end corpus curation as ONE composed plan — the "
    "pipeline a user actually ships: (-1, r11) URL/domain-plane gate "
    "FIRST, the CCNet/RefinedWeb order — canonical-URL re-crawl "
    "dedup, hash-gated domain quota, blocklist (operators/url.py; "
    "standalone decision table doc_url_curation) — so no text stage "
    "ever pays for a re-crawl or an over-represented domain; "
    "(0) C4-style boilerplate-line "
    "removal (split → per-line rules → ordered rejoin; fully-dropped "
    "docs fall to the gate); (1) quality-gate filter (pure "
    "predicate, pushes to the scan); (0.5, r12) Gopher REPETITION "
    "rule gate — documents failing any line-duplication / top-n-gram "
    "/ dup-n-gram cap drop before any dedup work (Rae et al. 2021 "
    "Table A1; standalone report doc_repetition_rules, shared "
    "thresholds and oracle-CTE generators); (1.5) benchmark decontamination — "
    "the held-out eval set (doc_id % 97 == 0) is excluded and any doc "
    "sharing a token 4-gram with it is dropped via a broadcast "
    "gram join + anti join; (1.75) substring-level exact dedup — "
    "every non-canonical repeated 8-token span is cut from the text "
    "(Lee et al. 2022 ExactSubstr; docs cut to nothing drop), so "
    "downstream fingerprints/shingles/token budgets see the cut "
    "corpus; (2) exact dedup keeping the smallest id "
    "per content fingerprint (one window on the uniform md5 key); "
    "(3) near-dup clustering over MinHash-LSH candidate edges, "
    "keeping each cluster's canonical doc (Arrow signature tier + "
    "graph-contraction min-label propagation); (4) md5 train/val/test "
    "split; (5) 512-token sequence packing per (split, lang, bucket) "
    "sub-shard (two-level since r11 — no per-language sort funnel). "
    "Output is the curated-corpus manifest per shard. Every stage is "
    "individually oracle-checked elsewhere; this entry hash-verifies "
    "their COMPOSITION against one DuckDB query. The eval suite for "
    "decontamination is held out from the RAW corpus, before the URL "
    "gate — a benchmark is not subject to curation.",
)
def doc_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = curation_stage_frames(spark, sf_dir)
    return frames[next(reversed(frames))]


def curation_stage_frames(
    spark: SparkSession, sf_dir: str, audit: bool = False
) -> dict:
    """The curation flagship's stages as an ordered name -> DataFrame
    dict (insertion order = execution order; each stage appears
    EXACTLY once, so a consumer iterating items() times each stage
    once — ``doc_curation_pipeline`` returns the last entry). The
    flagship scale smoke (tools/scale_smoke.py --flagship) counts
    each frame in order to attribute wall-clock per stage — the lazy
    localCheckpoints at ``clean`` and ``canon`` make the cumulative
    counts genuinely incremental across the checkpoint boundaries.
    Pure extraction of the original builder body: plan and semantics
    unchanged (the driver hash-check and the sf0.001/0.01/0.1 sweeps
    pin this).

    ``audit=True`` (r15, guide §5 ``localCheckpoint``/§2.4 duplicate-
    subtree removal) additionally lazy-localCheckpoints the four stage
    frames that are NOT materialized on the flagship's own path
    (``d``/url gate, ``rkept``, ``cutdocs``, ``curated``): a consumer
    that aggregates EVERY stage (doc_curation_funnel) would otherwise
    re-evaluate each un-materialized stage subtree twice — once for
    its own per-stage aggregate and once inside its downstream
    consumer (measured: funnel 14.2 s vs flagship 6.8 s isolated at
    sf0.1; the ~7 s delta was exactly these four recomputes, LSH+
    connected-components being the worst). The flagship itself keeps
    ``audit=False``: on the single-consumer path those frames are
    consumed once, and materializing them would only add block-store
    traffic. Identical rows either way — checkpointing never changes
    semantics — so the funnel's oracle is untouched."""
    from pyspark.sql import Window as W

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import dedup as DD

    d0 = load_table(spark, sf_dir, "documents")
    # stage -1 (r11): URL/domain-plane gate FIRST, the CCNet/
    # RefinedWeb order — canonical-URL exact re-crawl dedup, the
    # hash-gated domain quota, and the blocklist run before any
    # text-plane work so the text stages never pay for re-crawls or
    # over-represented domains (operators/url.py; the standalone
    # decision table is doc_url_curation).
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import url as UU

    def _ck(df: DataFrame) -> DataFrame:
        # audit tier: materialize once for the two consumers (the
        # per-stage aggregate + the downstream stage); no-op on the
        # flagship's single-consumer path
        return materialize(df) if audit else df

    d = _ck(
        UU.url_curation_gate(
            d0.select(
                "doc_id",
                "lang",
                "text",
                UU.synthetic_url(F.col("doc_id"), F.col("source")).alias("url"),
            )
        )
    )
    # stage 0: C4-style boilerplate-line removal via the exploded
    # line_filter operator. The stateless clean_lines projection was
    # measured SLOWER here (8.9s vs 6.9s cold at sf0.1): projection
    # collapse inlines the HOF expression into every downstream
    # consumer (gate predicate, fingerprint, token count), so the
    # clean text is recomputed per reference until the canon
    # localCheckpoint — the line_filter groupBy materializes it once
    # at a shuffle boundary instead. Kept docs pass through
    # byte-identical; fully-dropped docs become '' and are removed by
    # the gate's trim != '' rule.
    d_lf = X.line_filter(
        d,
        keep_cols=("lang",),
        min_tokens=3,
        require_terminal_punct=False,
        banned_substrings=(),
        banned_re=r"(^| )dup( |$)",
    ).select("doc_id", "lang", F.col("clean_text").alias("text"))
    n_tok = F.size(X.tokens(F.col("text")))
    kept = (
        d_lf.filter(
            (F.trim("text") != "")
            & n_tok.between(5, 10000)
            & F.col("lang").isin("en", "de", "fr", "es", "it")
        )
        .select("doc_id", "lang", "text")
        # kept feeds the repetition report AND the gate join back —
        # checkpoint so the URL-gate/line-filter subtree runs once
        .transform(materialize)
    )
    # stage 0.5 (r12): Gopher REPETITION rule gate (Rae et al. 2021
    # Table A1 — the published curation recipes run the repetition
    # battery in the quality stage, before any dedup): drop documents
    # failing any of the line-duplication / top-n-gram / dup-n-gram
    # caps. The per-doc signals come from the shared
    # repetition_report operator (one gram pass); the oracle's gate
    # CTE is generated from the SAME constants. Batch-only, like the
    # substring stage: the stateless streaming form would need the
    # interpreted HOF shape (see curation_gate_stream's docstring
    # trade-offs).
    rep_ok = (
        X.repetition_report(kept)
        .filter(F.col("repetition_pass"))
        .select("doc_id")
    )
    # rkept feeds two consumers above the `clean` checkpoint (the
    # decontamination shingles and the anti-join left side), but an
    # A/B at sf0.1 measured a checkpoint here NEUTRAL (old 8.6-10.1 s
    # vs 9.0-9.7 s warm) — exchange reuse already covers the repeat —
    # so it stays un-materialized; the DuckDB twin differs (its
    # recursive tail DOES re-evaluate inlined CTEs, hence rkept AS
    # MATERIALIZED on that side only).
    rkept = _ck(kept.join(rep_ok, "doc_id"))
    # stage 1.5: benchmark decontamination — docs with doc_id % 97 == 0
    # stand in for the held-out eval suite (excluded from the training
    # corpus outright); any surviving doc sharing a token 4-gram with
    # them is dropped. Eval grams are broadcast (benchmarks are MBs
    # against a corpus of TBs); the corpus side pays one doc-keyed
    # anti join.
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.arrow_docs import shingle_rows_arrow

    eval_grams = (
        # eval suite comes from the RAW corpus (d0): the benchmark is
        # held out before any curation, so the URL gate must not
        # shrink it (the oracle's ev4 reads FROM documents likewise)
        shingle_rows_arrow(d0.filter(F.col("doc_id") % 97 == 0), n=4)
        .select("shingle")
        .distinct()
    )
    train = rkept.filter(F.col("doc_id") % 97 != 0)
    dirty = (
        shingle_rows_arrow(train, n=4)
        .join(F.broadcast(eval_grams), "shingle")
        .select(F.col("id").alias("doc_id"))
        .distinct()
    )
    # Materialize the gated+decontaminated corpus ONCE before the
    # substring stage: dedup_substrings consumes its input from two
    # branches (window flagging + token rebuild), and aliased branches
    # defeat ReusedExchange — without this the gate→decontaminate
    # subtree would evaluate twice.
    clean = train.join(dirty, "doc_id", "left_anti").transform(materialize)
    # stage 1.75: substring-level exact dedup (Lee et al. 2022
    # ExactSubstr) — cut every non-canonical repeated 8-token span
    # from the cleaned corpus; docs cut to nothing drop here. Cutting
    # happens BEFORE exact dedup on purpose: the cut text (tokens
    # re-joined single-spaced) is what downstream fingerprints,
    # shingles and token budgets must see, and full duplicates reduce
    # to empty cuts + the canonical survivor.
    cut = DD.dedup_substrings(clean, k=8, keep_cols=("lang",))
    cutdocs = _ck(
        cut.filter(F.trim("clean_text") != "").select(
            "doc_id", "lang", F.col("clean_text").alias("text")
        )
    )
    canon = (
        cutdocs.withColumn(
            "canonical_id",
            F.min("doc_id").over(W.partitionBy(F.md5(F.lower(F.trim("text"))))),
        )
        .filter(F.col("doc_id") == F.col("canonical_id"))
        .select("doc_id", "lang", "text")
        # Materialize the decontaminated+deduped corpus ONCE: the
        # LSH pipeline's self-join branches and the final
        # cluster-canonical join would otherwise re-evaluate the
        # gate→decontaminate→dedup subtree 3-5× (aliased branches
        # defeat ReusedExchange — measured 57 s vs 6 s at sf0.1).
        # This is also what a production pipeline does: the cleaned
        # corpus is the persisted intermediate.
        .transform(materialize)
    )
    pairs = DD.minhash_lsh_candidates_portable(canon).select("id_a", "id_b")
    clusters = DD.connected_components(pairs, canon.select("doc_id"))
    curated = _ck(
        canon.join(clusters, "doc_id")
        .filter(F.col("cluster_id") == F.col("doc_id"))
        .select("doc_id", "lang", X.token_count(F.col("text")).alias("n_tokens"))
    )
    manifest = split_pack_manifest(curated)
    # MAINTENANCE (r15 advice): in audit mode every frame in this dict
    # that is ALSO consumed by a downstream stage must be materialized
    # (_ck here, or the always-on lazy checkpoints at kept/clean/canon)
    # — a new stage added without one silently reverts the funnel to
    # double-evaluating that stage's subtree, and only bench time (not
    # any test) would catch it. Current inventory: d/_ck, kept/ckpt,
    # rkept/_ck, clean/ckpt, cutdocs/_ck, canon/ckpt, curated/_ck;
    # manifest is funnel-only (single consumer — no _ck needed).
    #
    # Checkpoint-width posture at scale (r16, guide §5): d, kept,
    # rkept, cutdocs and canon MUST carry `text` — the funnel's
    # per-stage aggregate sums whitespace tokens from it AND the next
    # stage consumes it, so it is the payload, not a stowaway; curated
    # is already projected to (doc_id, lang, n_tokens). localCheckpoint
    # blocks are executor-local and non-reproducible on executor loss —
    # on a real cluster the equivalent posture for the two largest
    # text-bearing frames (d, kept) is a persisted intermediate table
    # (what a production curation pipeline writes anyway) or
    # reliableCheckpoint; at the tested scales the local blocks are
    # strictly cheaper (r15 50x A/B).
    return {
        "sm1_url_gate": d,
        "s0_line_filter_gate": kept,
        "s0b_repetition_gate": rkept,
        "s1_decontaminate": clean,
        "s2_substring_cut": cutdocs,
        "s3_exact_dedup": canon,
        "s4_lsh_cluster_canon": curated,
        "s5_split_pack_manifest": manifest,
    }


@query(
    "doc_decontaminate_ngram",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 3, 1) + 1),
                       i -> array_to_string(t[i:i+3], ' ')))) AS shingle
            FROM toks
        ), ev AS (
            SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
        ), tr AS (
            SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0
        ), tot AS (
            SELECT doc_id, count(*) AS n_grams FROM tr GROUP BY doc_id
        ), ov AS (
            SELECT tr.doc_id, count(*) AS c
            FROM tr JOIN ev USING (shingle) GROUP BY tr.doc_id
        )
        SELECT t.doc_id, t.n_grams,
               COALESCE(ov.c, 0) AS n_contaminated_grams,
               round(COALESCE(ov.c, 0) / t.n_grams, 6) AS contamination_ratio,
               COALESCE(ov.c, 0) >= 1 AS contaminated
        FROM tot t LEFT JOIN ov USING (doc_id)
    """,
    survey_ops="decontamination — training-corpus vs benchmark token "
    "n-gram collision (beyond-reference; GPT-3/Pile-style pre-training "
    "hygiene)",
    doc="Benchmark decontamination: documents with doc_id % 97 == 0 "
    "stand in as the held-out eval suite; every other (training) "
    "document is flagged if it shares any token 4-gram with the eval "
    "set. The eval side's distinct-gram set is BROADCAST (benchmarks "
    "are MBs against a corpus of TBs) so the corpus pays no shuffle "
    "beyond its own doc-keyed overlap count. Output: per-doc gram "
    "counts, contaminated-gram count, ratio, and the any-collision "
    "flag the cleaning filter keys on.",
)
def doc_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    eval_df = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    return D.decontaminate_ngram(train, eval_df, n=4)


@query(
    "doc_split_leakage_audit",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 3, 1) + 1),
                       i -> array_to_string(t[i:i+3], ' ')))) AS shingle
            FROM toks
        ), sp AS (
            SELECT doc_id,
                   CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) % 100 AS bucket
            FROM documents
        ), tg AS (
            SELECT s.doc_id, s.shingle
            FROM sh s JOIN sp ON sp.doc_id = s.doc_id WHERE sp.bucket >= 90
        ), pg AS (
            SELECT s.doc_id, s.shingle
            FROM sh s JOIN sp ON sp.doc_id = s.doc_id WHERE sp.bucket < 80
        ), capped AS (
            SELECT shingle FROM pg GROUP BY shingle HAVING count(*) <= 1000
        ), pairs AS (
            SELECT t.doc_id AS test_id, p.doc_id AS train_id, t.shingle
            FROM tg t
            JOIN capped c ON c.shingle = t.shingle
            JOIN pg p ON p.shingle = t.shingle
        ), leaks AS (
            SELECT test_id,
                   CAST(count(DISTINCT shingle) AS BIGINT) AS n_leaked_grams,
                   CAST(count(DISTINCT train_id) AS BIGINT) AS n_train_docs
            FROM pairs GROUP BY test_id
        ), tot AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
            FROM tg GROUP BY doc_id
        )
        SELECT t.doc_id, t.n_grams,
               COALESCE(l.n_leaked_grams, 0) AS n_leaked_grams,
               round(COALESCE(l.n_leaked_grams, 0) / t.n_grams, 6) AS leak_ratio,
               COALESCE(l.n_train_docs, 0) AS n_train_docs,
               COALESCE(l.n_leaked_grams, 0) >= 1 AS leaked
        FROM tot t LEFT JOIN leaks l ON l.test_id = t.doc_id
    """,
    survey_ops="decontamination — train/test SPLIT-LEAKAGE audit "
    "(beyond-reference; exact n-gram collisions from the held-out "
    "split into the training split of the SAME corpus — both sides "
    "corpus-scale, so a gram-keyed shuffle join with a mega-gram cap, "
    "never the benchmark-broadcast shape)",
    doc="Split-leakage audit over doc_hash_split's own partitions: "
    "for every TEST-split document (md5 bucket ≥ 90), the distinct "
    "token 4-grams it shares with any TRAIN-split document (bucket "
    "< 80), the distinct training documents reachable through them, "
    "and the any-collision flag — near-duplicates straddling a "
    "random split silently inflate held-out metrics, which is why "
    "pipelines dedup BEFORE splitting and audit AFTER. Unlike "
    "doc_decontaminate_ngram (benchmark side is MBs → broadcast), "
    "both sides here are corpus-scale: the collision join shuffles "
    "on the gram key, and train grams in more than 1000 documents "
    "are excluded first (boilerplate, not leakage evidence — and "
    "exactly the keys that would quadratically blow up the join; "
    "the LSH store's mega-bucket cap). Gram relations narrow and "
    "checkpointed once for their two consumers each.",
)
def doc_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    split = d.withColumn("bucket", bucket)
    return D.ngram_leakage_audit(
        split.filter(F.col("bucket") < 80),
        split.filter(F.col("bucket") >= 90),
        n=4,
    )


_BIGRAM_LM_CTES = r"""
        toks AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            FROM documents
        ), grain AS (
            SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
            FROM toks, unnest(range(1, greatest(len(t), 1))) AS u(i)
            WHERE len(t) >= 2
        ), uni AS (
            SELECT w1, count(*) AS c1 FROM grain GROUP BY w1
        ), big AS (
            SELECT w1, w2, count(*) AS c12 FROM grain GROUP BY w1, w2
        ), v AS (
            SELECT count(*) AS vocab FROM (
                SELECT w1 AS w FROM grain UNION SELECT w2 FROM grain
            ) q
        ), model AS (
            SELECT big.w1, big.w2,
                   ln((c12 + 0.5) / (c1 + 0.5 * (SELECT vocab FROM v))) AS lp
            FROM big JOIN uni ON uni.w1 = big.w1
        ), lm_scored AS (
            SELECT g.doc_id,
                   count(*) AS n_bigrams,
                   round(avg(m.lp), 6) AS avg_logprob
            FROM grain g JOIN model m ON m.w1 = g.w1 AND m.w2 = g.w2
            GROUP BY g.doc_id
        )
"""


@query(
    "doc_bigram_lm_score",
    oracle=f"""
        WITH {_BIGRAM_LM_CTES}
        SELECT doc_id, n_bigrams, avg_logprob,
               round(exp(-avg_logprob), 3) AS perplexity
        FROM lm_scored
    """,
    survey_ops="text quality — corpus-trained bigram LM scoring "
    "(beyond-reference; the CCNet-style language-model filter)",
    doc="Bigram language-model quality score per document: an add-0.5 "
    "smoothed bigram model trained on the corpus's own token grain, "
    "each doc scored by the mean log-probability of its bigram "
    "occurrences (and the equivalent perplexity) — the LM filter a "
    "CCNet-style curation pipeline uses to rank boilerplate/garbage "
    "below typical text. One doc-keyed grain build, two uniform-key "
    "model groupBys, one (w1,w2)-keyed scoring join.",
)
def doc_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return X.bigram_lm_scores(d)


_SUBSTR_FLAG_CTES = r"""
        toks AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            FROM documents WHERE text IS NOT NULL
        ), occ AS (
            SELECT doc_id, i - 1 AS pos,
                   md5(array_to_string(t[i:i+7], ' ')) AS key
            FROM toks, unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS u(i)
        ), flagged AS (
            SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                       row_number() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rn,
                       count(*)    OVER (PARTITION BY key) AS cnt
                FROM occ)
            WHERE cnt >= 2 AND rn > 1
        )
"""


@query(
    "doc_repeated_substrings",
    oracle=f"""
        WITH {_SUBSTR_FLAG_CTES}
        , isl AS (
            SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                          OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
                        THEN 1 ELSE 0 END AS brk
            FROM flagged
        ), grp AS (
            SELECT doc_id, pos,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM isl
        )
        SELECT doc_id, min(pos) AS span_start,
               max(pos) + 7 AS span_end,
               count(*) AS n_windows
        FROM grp GROUP BY doc_id, island
    """,
    survey_ops="dedup substring-level (beyond-reference; Lee et al. 2022 "
    "ExactSubstr); W5 gaps-and-islands",
    doc="Maximal per-doc spans of 8-token windows that repeat elsewhere "
    "in the corpus (canonical first occurrence excluded): window-hash "
    "shuffle → keep-first flagging → per-doc island merge. The whole "
    "flag pipeline is hash-verified against the identical construction "
    "in DuckDB.",
)
def doc_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.repeated_substring_spans(d, k=8)


@query(
    "doc_dedup_substrings",
    oracle=f"""
        WITH {_SUBSTR_FLAG_CTES}
        , tokrows AS (
            SELECT doc_id, i - 1 AS pos, t[i] AS tok
            FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
        ), marked AS (
            SELECT r.doc_id, r.pos, r.tok,
                   CASE WHEN f.pos IS NOT NULL THEN 1 ELSE 0 END AS wstart
            FROM tokrows r LEFT JOIN flagged f
              ON f.doc_id = r.doc_id AND f.pos = r.pos
        ), cf AS (
            SELECT doc_id, pos, tok,
                   max(wstart) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cut
            FROM marked
        )
        SELECT doc_id,
               count(*) AS n_tokens,
               CAST(sum(cut) AS BIGINT) AS n_removed,
               coalesce(string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE cut = 0), '')
                   AS clean_text
        FROM cf GROUP BY doc_id
    """,
    survey_ops="dedup substring-level cut corpus (beyond-reference; "
    "Lee et al. 2022 ExactSubstr)",
    doc="The cut corpus: every token covered by a non-canonical repeated "
    "8-token window removed, kept tokens re-joined (whitespace-"
    "normalizing). Trailing-window coverage via a rows-between running "
    "max — no range join; per-doc rebuild is order-stable via "
    "array_sort(collect_list(struct)).",
)
def doc_dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.dedup_substrings(d, k=8)


@query(
    "doc_line_filter",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            FROM documents WHERE text IS NOT NULL
        ), tok AS (
            SELECT doc_id, i - 1 AS pos, t[i] AS tok
            FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
        ), lines AS (
            SELECT doc_id, pos // 12 AS line_no,
                   string_agg(tok, ' ' ORDER BY pos) AS line
            FROM tok GROUP BY doc_id, pos // 12
        ), flags AS (
            SELECT doc_id, line_no, line,
                   CASE WHEN len(string_split_regex(trim(line), '\s+')) >= 3
                         AND NOT regexp_matches(lower(line), '(^| )dup( |$)')
                        THEN 1 ELSE 0 END AS keep
            FROM lines
        )
        SELECT doc_id,
               count(*) AS n_lines,
               CAST(sum(keep) AS BIGINT) AS n_lines_kept,
               coalesce(string_agg(line, chr(10) ORDER BY line_no)
                            FILTER (WHERE keep = 1), '') AS clean_text
        FROM flags GROUP BY doc_id
    """,
    survey_ops="text-hygiene line filtering (beyond-reference; C4/Gopher "
    "boilerplate-line rules, Raffel et al. 2020)",
    doc="Per-line boilerplate removal: the corpus is single-line, so "
    "this entry RE-LINES it at fixed 12-token boundaries to exercise "
    "the real multi-line mechanics (split → per-line rules → ordered "
    "rejoin) on driver-checked data; rules are min-3-tokens plus a "
    "corpus-vocabulary token ban ('dup' — the terminal-punctuation "
    "rule is off because the synthetic corpus has no punctuation, "
    "stated). The full C4 config (terminal punct, banned substrings, "
    "max chars) is behavior-tested on constructed multi-line docs.",
)
def doc_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_part = shuffle_partitions(spark)
    tok = (
        d.filter(F.col("text").isNotNull())
        .repartition(n_part, F.col("doc_id"))
        .select(
            "doc_id", F.posexplode(X.tokens(F.col("text"))).alias("pos", "tok")
        )
    )
    lines = tok.groupBy(
        "doc_id", F.floor(F.col("pos") / 12).cast("int").alias("line_no")
    ).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("line")
    )
    flagged = lines.withColumn(
        "keep",
        X.line_keep(
            F.col("line"),
            min_tokens=3,
            require_terminal_punct=False,
            banned_substrings=(),
            banned_re=r"(^| )dup( |$)",
        ),
    )
    return X.reassemble_lines(flagged)


@query(
    "doc_source_quota_sample",
    oracle="""
        SELECT doc_id, source, src_rank FROM (
            SELECT doc_id, source,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS src_rank
            FROM documents) t
        WHERE src_rank <= 15
    """,
    survey_ops="corpus mixing — per-source quota cap (beyond-reference; "
    "the C4/RefinedWeb per-domain cap recipe); O3 top-k per group",
    doc="Per-source quota sampling: keep at most 15 docs per source in "
    "deterministic md5(doc_id) order — the per-domain cap every web "
    "corpus applies so no single domain dominates training. The "
    "md5-order rank is reproducible across engines/shards (no RNG "
    "state), and the rank<=k filter is pushed into the window as a "
    "group limit (WindowGroupLimit), so a hot domain never ranks more "
    "than its top-k candidates per partition. Complements "
    "doc_mixture_sample's per-language rate sampling.",
)
def doc_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source")
        .withColumn("src_rank", F.row_number().over(w))
        .filter(F.col("src_rank") <= 15)
    )


@query(
    "doc_perplexity_buckets",
    oracle=f"""
        WITH {_BIGRAM_LM_CTES}
        , cnt AS (SELECT count(*) AS n FROM lm_scored)
        , ranked AS (
            SELECT avg_logprob,
                   row_number() OVER (ORDER BY avg_logprob) AS r
            FROM lm_scored
        ), thr AS (
            SELECT max(CASE WHEN r = (n + 2) // 3
                            THEN avg_logprob END) AS t_lo,
                   max(CASE WHEN r = (2 * n + 2) // 3
                            THEN avg_logprob END) AS t_hi
            FROM ranked, cnt
        )
        SELECT s.doc_id, s.n_bigrams, s.avg_logprob,
               CASE WHEN s.avg_logprob >= t_hi THEN 'head'
                    WHEN s.avg_logprob >= t_lo THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM lm_scored s, thr
    """,
    survey_ops="corpus quality stratification — CCNet head/middle/tail "
    "perplexity buckets (beyond-reference; Wenzek et al. 2020)",
    doc="CCNet-style quality stratification: every doc's corpus-trained "
    "bigram-LM log-prob is bucketed into head/middle/tail at the EXACT "
    "terciles — the value at integer rank ceil(n/3) / ceil(2n/3), "
    "selected by the two-pass distributed order-statistic recipe "
    "(functions.stats.exact_quantile_values: bounded cell histogram "
    "collect, then per-value counts inside only the target cells — "
    "never a global sort, never a corpus-sized collect; ntile() would "
    "funnel the corpus through one ordering). Exact integer rank "
    "arithmetic keeps both engines on the same element (float "
    "ceil(q*n) is one ulp from flipping when q*n is integral), and "
    "the thresholds are members of the round-6 score multiset — "
    "hash-matched via doc_bigram_lm_score — so the >= comparisons are "
    "bit-identical cross-engine. The one-pass percentile_approx "
    "sketch remains the alternative when a second pass is dearer "
    "than tercile exactness (it was this entry's pre-r9 form; the "
    "sketch family stays covered by approx_distinct_stats).",
)
def doc_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessing_kafka_finlight_news_dashboard_spark.functions.stats import exact_quantile_values

    d = load_table(spark, sf_dir, "documents")
    # materialize ONCE: the histogram pass, the fine pass and the final
    # bucketing projection all read the scored relation — without the
    # checkpoint the bigram-LM subtree would evaluate 3×
    scores = X.bigram_lm_scores(d).transform(materialize)
    t_lo, t_hi = exact_quantile_values(
        scores, "avg_logprob", [(1, 3), (2, 3)]
    )
    return scores.select(
        "doc_id",
        "n_bigrams",
        "avg_logprob",
        F.when(F.col("avg_logprob") >= F.lit(t_hi), "head")
        .when(F.col("avg_logprob") >= F.lit(t_lo), "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


@query(
    "doc_perplexity_buckets_by_lang",
    oracle=f"""
        WITH {_BIGRAM_LM_CTES}
        , lscored AS (
            SELECT s.doc_id, d.lang, s.n_bigrams, s.avg_logprob
            FROM lm_scored s JOIN documents d ON d.doc_id = s.doc_id
            WHERE d.lang IS NOT NULL
        ), lcnt AS (
            SELECT lang, count(*) AS n FROM lscored GROUP BY lang
        ), lranked AS (
            SELECT lang, avg_logprob,
                   row_number() OVER (
                       PARTITION BY lang ORDER BY avg_logprob) AS r
            FROM lscored
        ), lthr AS (
            SELECT k.lang,
                   max(CASE WHEN r = (n + 2) // 3
                            THEN avg_logprob END) AS t_lo,
                   max(CASE WHEN r = (2 * n + 2) // 3
                            THEN avg_logprob END) AS t_hi
            FROM lranked k JOIN lcnt c ON c.lang = k.lang
            GROUP BY k.lang
        )
        SELECT s.doc_id, s.lang, s.n_bigrams, s.avg_logprob,
               CASE WHEN s.avg_logprob >= t.t_hi THEN 'head'
                    WHEN s.avg_logprob >= t.t_lo THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM lscored s JOIN lthr t ON t.lang = s.lang
    """,
    survey_ops="corpus quality stratification — PER-LANGUAGE CCNet "
    "head/middle/tail perplexity buckets (beyond-reference; Wenzek et "
    "al. 2020 stratify per language, not globally — grouped exact "
    "order statistics via the two-pass selection, never a per-group "
    "sort)",
    doc="CCNet's stratification as published: perplexity terciles "
    "computed PER LANGUAGE (a global cut would put the whole of a "
    "high-perplexity language in 'tail' — CCNet buckets within each "
    "language so every language contributes head data). Thresholds "
    "come from exact_quantile_values_by_group: ONE grouped cell "
    "histogram (|langs| × range × cell_scale rows to the driver), a "
    "per-group driver walk, and ONE fine pass restricted to the "
    "(lang, cell) target pairs — the stratified two-pass selection. "
    "The tempting one-liner — ntile(3) OVER (PARTITION BY lang) — is "
    "the plan to avoid at 100 TB: a |langs|-cardinality window "
    "funnels the corpus through ≤|langs| sort partitions, serialized "
    "by the hottest language; here the per-lang cutpoints are a "
    "|langs|-row broadcast and the bucketing is a pure projection. "
    "Same exact-integer rank arithmetic and round-6-multiset "
    "threshold discipline as the global doc_perplexity_buckets.",
)
def doc_perplexity_buckets_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessing_kafka_finlight_news_dashboard_spark.functions.stats import (
        exact_quantile_values_by_group,
    )

    d = load_table(spark, sf_dir, "documents")
    # scored-with-lang materialized ONCE: the grouped histogram pass,
    # the fine pass, and the final bucketing projection all read it
    scored = (
        X.bigram_lm_scores(d)
        .join(
            d.filter(F.col("lang").isNotNull()).select("doc_id", "lang"), "doc_id"
        )
        .transform(materialize)
    )
    thr = exact_quantile_values_by_group(scored, "lang", "avg_logprob", [(1, 3), (2, 3)])
    thr_df = spark.createDataFrame(
        [(lang, v[0], v[1]) for lang, v in sorted(thr.items())],
        "lang string, t_lo double, t_hi double",
    )
    return scored.join(F.broadcast(thr_df), "lang").select(
        "doc_id",
        "lang",
        "n_bigrams",
        "avg_logprob",
        F.when(F.col("avg_logprob") >= F.col("t_hi"), "head")
        .when(F.col("avg_logprob") >= F.col("t_lo"), "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


@query(
    "doc_bpe_token_stats",
    oracle=None,  # the merge table comes from an iterative Sennrich train
    # loop and encoding is an iterative lowest-rank merge reduction —
    # neither is SQL-expressible. Evidence: pinned merge-table artifact
    # (tests/data/bpe_merges_sf0001.json), encode/decode roundtrip +
    # monotonicity invariants and a pure-Python reference-encode
    # cross-check (tests/test_text_plans.py); whitespace token counts in
    # the same row are oracle-covered by doc_token_stats.
    survey_ops="tokenization — learned subword BPE counts "
    "(beyond-reference; Sennrich et al. 2016 / GPT-2 merge order)",
    doc="Subword token budgeting: a 64-merge BPE table trained on the "
    "corpus (bounded sample-fit: one word-count shuffle + one "
    "TakeOrdered collect, driver merge loop — the same recipe as the "
    "IVF/PQ quantizers), applied to every document in one Arrow pass "
    "with a broadcast rank dict and per-batch word memoization. "
    "Output: whitespace vs BPE token counts + compression ratio — "
    "the numbers a token-budgeted packing/pricing step actually "
    "needs.",
)
def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import bpe as B

    d = load_table(spark, sf_dir, "documents")
    merges = B.bpe_train(d, num_merges=64)
    return B.bpe_encode_stats(d, merges)


#: whitespace-token sum guarded for NULL/empty text (the raw and
#: url-gate stages still carry unfiltered rows) — one SQL fragment so
#: every funnel stage measures tokens identically.
_FUNNEL_TOKSUM = (
    "CAST(coalesce(sum(CASE WHEN text IS NOT NULL AND trim(text) <> '' "
    "THEN len(string_split_regex(trim(text), '\\s+')) ELSE 0 END), 0) "
    "AS BIGINT)"
)


@query(
    "doc_curation_funnel",
    oracle=f"""
        {_CURATION_CTES}
        , f_all AS (
            SELECT 0 AS stage_ord, 'raw' AS stage,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   {_FUNNEL_TOKSUM} AS n_tokens
            FROM documents
            UNION ALL
            SELECT 1, 'url_gate', CAST(count(*) AS BIGINT),
                   {_FUNNEL_TOKSUM}
            FROM ukept
            UNION ALL
            SELECT 2, 'line_quality_gate', CAST(count(*) AS BIGINT),
                   {_FUNNEL_TOKSUM}
            FROM kept
            UNION ALL
            SELECT 3, 'repetition_gate', CAST(count(*) AS BIGINT),
                   {_FUNNEL_TOKSUM}
            FROM rkept
            UNION ALL
            SELECT 4, 'decontaminate', CAST(count(*) AS BIGINT),
                   {_FUNNEL_TOKSUM}
            FROM clean
            UNION ALL
            SELECT 5, 'substring_cut', CAST(count(*) AS BIGINT),
                   {_FUNNEL_TOKSUM}
            FROM cutdocs
            UNION ALL
            SELECT 6, 'exact_dedup', CAST(count(*) AS BIGINT),
                   {_FUNNEL_TOKSUM}
            FROM exact_canon
            UNION ALL
            SELECT 7, 'lsh_cluster_canon', CAST(count(*) AS BIGINT),
                   CAST(coalesce(sum(n_tokens), 0) AS BIGINT)
            FROM curated
            UNION ALL
            SELECT 8, 'split_pack', CAST(coalesce(sum(nd), 0) AS BIGINT),
                   CAST(coalesce(sum(tok), 0) AS BIGINT)
            FROM packs
        )
        SELECT stage_ord, stage, n_docs, n_tokens,
               CAST(lag(n_docs) OVER (ORDER BY stage_ord) - n_docs
                    AS BIGINT) AS removed_docs,
               CAST(lag(n_tokens) OVER (ORDER BY stage_ord) - n_tokens
                    AS BIGINT) AS removed_tokens
        FROM f_all ORDER BY stage_ord
    """,
    survey_ops="training-pipeline observability (beyond-reference) — "
    "per-stage attrition funnel of the curation FLAGSHIP: doc and "
    "token counts surviving each stage plus per-stage removals, the "
    "FineWeb/RefinedWeb-style ablation table a pipeline owner reads "
    "before trusting a crawl",
    doc="Per-stage attrition funnel over the curation flagship's OWN "
    "stage frames (plans/text.py::curation_stage_frames — the same "
    "dict the scale smoke walks, so this audits the pipeline that "
    "actually ships, not a re-derivation): docs and whitespace "
    "tokens surviving raw -> url gate -> line/quality gate -> "
    "repetition gate -> decontamination -> ExactSubstr cut -> exact "
    "dedup -> LSH cluster canonicals -> split/pack manifest, with "
    "per-stage removed_docs/removed_tokens via one lag over the "
    "9-row stage spine. The oracle reuses _CURATION_CTES VERBATIM "
    "(one WITH-chain, two readers), making this a STRICTER check "
    "than the flagship's: every intermediate row-set's cardinality "
    "and token mass must match, not just the composition's end "
    "state. All-integer output; stage 8 removing zero docs/tokens "
    "is the packing-preserves-corpus invariant, asserted by the "
    "oracle rather than assumed. Each per-stage aggregate is one "
    "partial-agg count over a frame the flagship already "
    "materializes (shared lazy localCheckpoints at kept/clean/"
    "canon), so the funnel costs the flagship + 9 cheap counts at "
    "any corpus size; the 9-row lag window is driver-scale by "
    "construction.",
)
def doc_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    # audit=True: every stage frame the funnel aggregates is also the
    # input of the next stage — materialize each once instead of
    # re-evaluating the four un-checkpointed stage subtrees (r15)
    frames = curation_stage_frames(spark, sf_dir, audit=True)
    d0 = load_table(spark, sf_dir, "documents")
    tok_guard = F.when(
        F.col("text").isNotNull() & (F.trim("text") != ""),
        F.size(X.tokens(F.col("text"))),
    ).otherwise(F.lit(0))

    def text_stage(df: DataFrame, ord_: int, name: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum(tok_guard), F.lit(0)).cast("long").alias("n_tokens"),
        ).select(
            F.lit(ord_).cast("long").alias("stage_ord"),
            F.lit(name).alias("stage"),
            "n_docs",
            "n_tokens",
        )

    stages = [
        text_stage(d0, 0, "raw"),
        text_stage(frames["sm1_url_gate"], 1, "url_gate"),
        text_stage(frames["s0_line_filter_gate"], 2, "line_quality_gate"),
        text_stage(frames["s0b_repetition_gate"], 3, "repetition_gate"),
        text_stage(frames["s1_decontaminate"], 4, "decontaminate"),
        text_stage(frames["s2_substring_cut"], 5, "substring_cut"),
        text_stage(frames["s3_exact_dedup"], 6, "exact_dedup"),
        frames["s4_lsh_cluster_canon"]
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        )
        .select(
            F.lit(7).cast("long").alias("stage_ord"),
            F.lit("lsh_cluster_canon").alias("stage"),
            "n_docs",
            "n_tokens",
        ),
        frames["s5_split_pack_manifest"]
        .agg(
            F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("total_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        )
        .select(
            F.lit(8).cast("long").alias("stage_ord"),
            F.lit("split_pack").alias("stage"),
            "n_docs",
            "n_tokens",
        ),
    ]
    funnel = stages[0]
    for s in stages[1:]:
        funnel = funnel.unionAll(s)
    # 9-row stage spine: the global lag window is driver-scale by
    # construction (|stages| rows, independent of corpus size).
    w = W.orderBy("stage_ord")
    return funnel.select(
        "stage_ord",
        "stage",
        "n_docs",
        "n_tokens",
        (F.lag("n_docs").over(w) - F.col("n_docs")).cast("long").alias("removed_docs"),
        (F.lag("n_tokens").over(w) - F.col("n_tokens")).cast("long").alias("removed_tokens"),
    ).orderBy("stage_ord")


@query(
    "doc_bpe_fertility_report",
    oracle=None,  # BPE encoding is an iterative lowest-rank merge
    # reduction (see doc_bpe_token_stats) — not SQL-expressible.
    # Evidence tier: rows-only driver row + a reconciliation pytest
    # pinning the per-language sums against the per-document entry's
    # own output (one aggregation away from an oracle-adjacent check).
    survey_ops="tokenization observability (beyond-reference) — "
    "per-language BPE fertility: subwords per whitespace word and "
    "chars per subword under the learned merge table, the number a "
    "multilingual token-budget/pricing plan is built on (mT5/XLM-R "
    "style fertility audits)",
    doc="Per-language fertility of the learned 64-merge BPE: join the "
    "per-document subword stats (one Arrow pass, broadcast rank "
    "dict — doc_bpe_token_stats' plumbing) back to lang by doc_id "
    "and aggregate exact BIGINT sums per language; fertility = "
    "subwords per whitespace word, chars_per_bpe_token = how much "
    "text one subword buys. A language whose fertility runs hot is "
    "under-served by the merge table — the signal that decides "
    "whether a shared multilingual vocabulary needs rebalancing "
    "before the packing/pricing stages trust token counts. One "
    "doc-keyed equi join + one partial-agg groupBy on top of the "
    "existing encode pass; scale posture identical to "
    "doc_bpe_token_stats.",
)
def doc_bpe_fertility_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import bpe as B

    d = load_table(spark, sf_dir, "documents")
    merges = B.bpe_train(d, num_merges=64)
    stats = B.bpe_encode_stats(d, merges)
    return (
        stats.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_ws_tokens").cast("long").alias("n_ws_tokens"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "n_ws_tokens",
            "n_bpe_tokens",
            "n_chars",
            F.round(F.try_divide("n_bpe_tokens", "n_ws_tokens"), 6).alias(
                "fertility"
            ),
            F.round(F.try_divide("n_chars", "n_bpe_tokens"), 6).alias(
                "chars_per_bpe_token"
            ),
        )
        .orderBy("lang")
    )
