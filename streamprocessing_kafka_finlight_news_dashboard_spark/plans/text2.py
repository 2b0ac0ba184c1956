"""Round-5 extension of the text/LLM-pipeline catalog: paragraph-level
dedup, RAG chunking, DSIR importance resampling, cross-source overlap
(beyond-reference surface; operators in operators/text.py and
operators/dedup.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark.operators import dedup as D
from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as X
from streamprocessing_kafka_finlight_news_dashboard_spark.plans.catalog import query
from streamprocessing_kafka_finlight_news_dashboard_spark.session import materialize
from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table


@query(
    "doc_paragraph_dedup",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            FROM documents WHERE text IS NOT NULL
        ), tok AS (
            SELECT doc_id, i - 1 AS pos, t[i] AS tok
            FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
        ), paras AS (
            SELECT doc_id, pos // 12 AS para_no,
                   string_agg(tok, ' ' ORDER BY pos) AS para
            FROM tok GROUP BY doc_id, pos // 12
        ), ranked AS (
            SELECT doc_id, para_no, para,
                   row_number() OVER (
                       PARTITION BY para ORDER BY doc_id, para_no) AS rn
            FROM paras
        )
        SELECT doc_id,
               count(*) AS n_paras,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               coalesce(string_agg(para, chr(10) ORDER BY para_no)
                            FILTER (WHERE rn = 1), '') AS clean_text
        FROM ranked GROUP BY doc_id
    """,
    survey_ops="paragraph-level exact dedup (beyond-reference; the "
    "Dolma/CCNet paragraph pass, Soldaini et al. 2024); W5/A2 shapes",
    doc="Dolma-style paragraph dedup: re-line at fixed 12-token "
    "boundaries (single-line synthetic corpus — stated, same "
    "convention as doc_line_filter), drop every non-canonical "
    "occurrence of a repeated paragraph, keep the globally-first one. "
    "The oracle elects canonicals by paragraph TEXT equality; the "
    "engine shuffles the 128-bit md5 key instead so shuffle rows stay "
    "narrow — equivalent modulo a documented ~1e-18 collision.",
)
def doc_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.paragraph_dedup(d, para_tokens=12)


@query(
    "doc_chunk_windows",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            FROM documents WHERE length(trim(text)) >= 1
        ), starts AS (
            SELECT doc_id, t, CAST(s AS BIGINT) AS chunk_start
            FROM toks, unnest(range(0, len(t), 24)) AS u(s)
            WHERE len(t) >= 1
        )
        SELECT doc_id,
               chunk_start // 24 AS chunk_id,
               chunk_start,
               CAST(len(list_slice(t, chunk_start + 1, chunk_start + 32)) AS BIGINT)
                   AS n_chunk_tokens,
               array_to_string(list_slice(t, chunk_start + 1, chunk_start + 32), ' ')
                   AS chunk_text
        FROM starts
    """,
    survey_ops="RAG/long-context chunking — overlapping fixed-stride "
    "token windows (beyond-reference); §2.8 array family",
    doc="32-token chunks at stride 24 (8-token overlap) per document — "
    "the retrieval-corpus prep step between curation and embedding. "
    "Zero-shuffle narrow plan: sequence-generated starts, explode, "
    "slice/array_join; the parquet scan reads only (doc_id, text).",
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return X.chunk_windows(d, chunk_tokens=32, stride=24).withColumnRenamed(
        "id", "doc_id"
    )


@query(
    "doc_dsir_sample",
    oracle=r"""
        WITH tok AS (
            SELECT doc_id, lang, u.tok
            FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS t
                  FROM documents WHERE text IS NOT NULL) d,
                 unnest(t) AS u(tok)
        ), b AS (
            SELECT doc_id, lang,
                   CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) % 256 AS bucket
            FROM tok
        ), counts AS (
            SELECT bucket, count(*) AS q_cnt,
                   sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p_cnt
            FROM b GROUP BY bucket
        ), tot AS (
            SELECT sum(q_cnt) AS n_all, sum(p_cnt) AS n_tgt FROM counts
        ), lr AS (
            SELECT bucket,
                   CAST(round(ln(((p_cnt + 1.0) / (n_tgt + 256))
                              / ((q_cnt + 1.0) / (n_all + 256))) * 1000000)
                        AS BIGINT) AS lr
            FROM counts, tot
        ), sw AS (
            SELECT b.doc_id, any_value(b.lang) AS lang,
                   count(*) AS n_tokens, sum(lr.lr) AS w
            FROM b JOIN lr USING (bucket) GROUP BY b.doc_id
        )
        SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
               round(w / 1000000.0, 6) AS dsir_logw
        FROM sw
        ORDER BY w DESC, md5(CAST(doc_id AS VARCHAR)), doc_id
        LIMIT 100
    """,
    survey_ops="data selection — DSIR importance resampling (beyond-"
    "reference; Xie et al. 2023, arXiv:2302.03169); A2/A6 agg shapes",
    doc="DSIR data selection: rank the corpus by hashed-unigram "
    "importance weight toward the English sub-corpus (target p vs raw "
    "q over 256 md5 buckets, add-one smoothing) and keep the top 100 "
    "by weight with md5 tie-break. Bucket log-ratios are rounded to "
    "scaled BIGINTs before the per-doc sum, so weights are exact "
    "integer sums — order-independent and engine-portable.",
)
def doc_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = X.dsir_logweights(
        d, target=F.col("lang") == "en", carry_cols=("lang",)
    )
    return (
        w.select(
            F.col("id").alias("doc_id"),
            "lang",
            "n_tokens",
            F.round(F.col("w") / 1_000_000.0, 6).alias("dsir_logw"),
            F.col("w").alias("_w"),
        )
        .orderBy(
            F.col("_w").desc(),
            F.md5(F.col("doc_id").cast("string")),
            F.col("doc_id"),
        )
        .limit(100)
        .drop("_w")
    )


@query(
    "doc_source_overlap",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t
            FROM documents
        ), sh AS (
            SELECT DISTINCT source,
                   array_to_string(t[i:i+2], ' ') AS gram
            FROM toks, unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS u(i)
        ), sizes AS (
            SELECT source, count(*) AS n FROM sh GROUP BY source
        ), inter AS (
            SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.gram = b.gram AND a.source < b.source
            GROUP BY a.source, b.source
        )
        SELECT src_a, src_b, n_common, sa.n AS n_a, sb.n AS n_b,
               round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.source = src_a
        JOIN sizes sb ON sb.source = src_b
    """,
    survey_ops="corpus audit — cross-source n-gram overlap matrix "
    "(beyond-reference; the source-contamination audit mixing recipes "
    "run); J3/A2 shapes",
    doc="Pairwise 3-gram Jaccard between sources: shared distinct "
    "grams per source pair over a gram-keyed self-join (fan-out per "
    "gram bounded by |sources|², never corpus-quadratic), sizes "
    "re-attached by broadcast. The engine joins on md5(gram); the "
    "oracle on the gram text — equivalent modulo the documented "
    "128-bit collision.",
)
def doc_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.source_overlap(d, n=3)


@query(
    "doc_ngram_novelty",
    oracle=r"""
        WITH curd AS (
            SELECT doc_id, lang, text FROM documents
            WHERE text IS NOT NULL AND trim(text) <> '' AND doc_id % 2 = 1
        ), refd AS (
            SELECT doc_id, text FROM documents
            WHERE text IS NOT NULL AND trim(text) <> '' AND doc_id % 2 = 0
        ), ctoks AS (
            SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS t
            FROM curd
        ), cgr AS (
            SELECT DISTINCT doc_id, lang,
                   array_to_string(t[i:i+2], ' ') AS gram
            FROM ctoks, unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS u(i)
        ), rtoks AS (
            SELECT string_split_regex(trim(text), '\s+') AS t FROM refd
        ), rgr AS (
            SELECT DISTINCT array_to_string(t[i:i+2], ' ') AS gram
            FROM rtoks, unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS u(i)
        ), per AS (
            SELECT c.doc_id, c.lang,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_novel
            FROM cgr c LEFT JOIN rgr r USING (gram)
            GROUP BY c.doc_id, c.lang
        )
        SELECT d.doc_id, d.lang,
               CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
               CAST(coalesce(p.n_novel, 0) AS BIGINT) AS n_novel,
               round(coalesce(p.n_novel, 0) * 1.0
                     / nullif(coalesce(p.n_grams, 0), 0), 6) AS novelty_rate
        FROM (SELECT doc_id, lang FROM curd) d
        LEFT JOIN per p USING (doc_id, lang)
        ORDER BY doc_id
    """,
    survey_ops="decontamination/novelty — per-document n-gram novelty "
    "vs a reference corpus slice (beyond-reference; the 'how much of "
    "this snapshot is actually new' audit run before paying to ingest "
    "a crawl — the inverse of the decontamination question, same "
    "shingle plumbing); J3/A2 shapes keyed by gram hash",
    doc="Per-document 3-gram novelty of the odd-id corpus half against "
    "the even-id half as the frozen reference: each current document's "
    "DISTINCT gram count, how many of those grams appear nowhere in "
    "the reference, and the novelty fraction (round-6; NULL for "
    "gram-less docs — the completion left join keeps them, the "
    "repetition-gate lesson). Engine joins on md5(gram) (narrow "
    "128-bit shuffle rows), oracle on the gram text — equivalent "
    "modulo the documented collision odds. One gram-hash-keyed LEFT "
    "equi join, reference collapsed to distinct keys first; no "
    "broadcast of either corpus-sized side, cost ∝ distinct grams "
    "(the split-leakage audit's scale shape).",
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.ngram_novelty(
        d.filter(F.col("doc_id") % 2 == 1),
        d.filter(F.col("doc_id") % 2 == 0),
        n=3,
        keep_cols=("lang",),
    ).orderBy("doc_id")


@query(
    "doc_bm25_search",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            FROM documents WHERE text IS NOT NULL
        ), dl AS (
            SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks
        ), stats AS (
            SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl
        ), tf AS (
            SELECT doc_id, tok, count(*) AS tf
            FROM toks, unnest(t) AS u(tok)
            WHERE tok IN ('spark', 'filter', 'window', 'merge')
            GROUP BY doc_id, tok
        ), dft AS (
            SELECT tok, count(DISTINCT doc_id) AS dft FROM tf GROUP BY tok
        ), scored AS (
            SELECT tf.doc_id, tf.tok,
                   ln((n_docs - dft + 0.5) / (dft + 0.5) + 1.0)
                   * (tf * 2.2)
                   / (tf + 1.2 * (1.0 - 0.75
                          + 0.75 * dl / (sum_dl * 1.0 / n_docs))) AS s
            FROM tf
            JOIN dft USING (tok)
            JOIN dl ON dl.doc_id = tf.doc_id
            CROSS JOIN stats
        ), agg AS (
            SELECT doc_id,
                   count(*) AS n_terms_matched,
                   coalesce(max(CASE WHEN tok = 'spark'  THEN s END), 0)
                 + coalesce(max(CASE WHEN tok = 'filter' THEN s END), 0)
                 + coalesce(max(CASE WHEN tok = 'window' THEN s END), 0)
                 + coalesce(max(CASE WHEN tok = 'merge'  THEN s END), 0) AS bm25
            FROM scored GROUP BY doc_id
        )
        SELECT doc_id, n_terms_matched, round(bm25, 6) AS bm25_score
        FROM agg
        ORDER BY round(bm25, 6) DESC, doc_id
        LIMIT 20
    """,
    survey_ops="lexical retrieval — Okapi BM25 search (beyond-"
    "reference; Robertson & Zaragoza 2009); A2/A5/J4/O4 shapes",
    doc="Top-20 documents by BM25 against a fixed 4-term query "
    "(k1=1.2, b=0.75) — the lexical side of a RAG retrieval stack. "
    "Every float input is an exact integer count and the per-doc "
    "total is a fixed-order 4-term sum, so scores are order-"
    "independent; ranking ties break on doc_id over the ROUNDED "
    "score so both engines sort identical keys.",
)
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    terms = ("spark", "filter", "window", "merge")
    s = X.bm25_scores(d, terms)
    return (
        s.select(
            F.col("id").alias("doc_id"),
            "n_terms_matched",
            F.round(F.col("bm25"), 6).alias("bm25_score"),
        )
        .orderBy(F.col("bm25_score").desc(), F.col("doc_id"))
        .limit(20)
    )


@query(
    "doc_decontaminate_bloom",
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
        ), bits AS (
            SELECT DISTINCT CAST('0x' || substring(md5(shingle), 1, 5) AS BIGINT)
                       % 262144 AS pos FROM ev
            UNION
            SELECT DISTINCT CAST('0x' || substring(md5(shingle), 6, 5) AS BIGINT)
                       % 262144 FROM ev
        ), tr AS (
            SELECT doc_id, shingle,
                   CAST('0x' || substring(md5(shingle), 1, 5) AS BIGINT)
                       % 262144 AS p0,
                   CAST('0x' || substring(md5(shingle), 6, 5) AS BIGINT)
                       % 262144 AS p1
            FROM sh WHERE doc_id % 97 <> 0
        ), marked AS (
            SELECT doc_id,
                   CASE WHEN p0 IN (SELECT pos FROM bits)
                         AND p1 IN (SELECT pos FROM bits)
                        THEN 1 ELSE 0 END AS hit
            FROM tr
        )
        SELECT doc_id,
               count(*) AS n_grams,
               CAST(sum(hit) AS BIGINT) AS n_bloom_hits,
               round(sum(hit) / count(*), 6) AS bloom_ratio,
               sum(hit) >= 1 AS bloom_flagged
        FROM marked GROUP BY doc_id
    """,
    survey_ops="decontamination — Bloom-filter production tier "
    "(beyond-reference; memory bounded by the filter size, not the "
    "benchmark vocabulary)",
    doc="Bloom tier of the GPT-3/Pile decontamination: same %97 "
    "train/eval split and 4-gram grain as the exact tier, but the "
    "broadcast side is the eval grams' SET BIT POSITIONS (2 md5-slice "
    "hashes into 2^18 bits — capped at 262144 rows no matter how "
    "large the benchmark suite grows). No false negatives by "
    "construction (property-tested superset of the exact tier's "
    "flags); false positives over-clean at the standard Bloom rate.",
)
def doc_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    eval_df = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    return D.decontaminate_bloom(train, eval_df, n=4)


@query(
    "doc_pmi_pairs",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            FROM documents WHERE text IS NOT NULL
        ), tok AS (
            SELECT doc_id, i - 1 AS pos, t[i] AS tok
            FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
        ), uni AS (
            SELECT tok, count(*) AS c FROM tok GROUP BY tok
        ), n_tot AS (
            SELECT sum(c) AS n FROM uni
        ), pairs AS (
            SELECT least(a.tok, b.tok) AS w_a, greatest(a.tok, b.tok) AS w_b
            FROM tok a JOIN tok b
              ON a.doc_id = b.doc_id
             AND b.pos - a.pos BETWEEN 1 AND 2
        ), pc AS (
            SELECT w_a, w_b, count(*) AS c_ab FROM pairs GROUP BY w_a, w_b
        ), m_tot AS (
            SELECT sum(c_ab) AS m FROM pc
        )
        SELECT w_a, w_b, c_ab,
               round(ln((c_ab * 1.0 / m) / ((ua.c * 1.0 / n) * (ub.c * 1.0 / n))), 6)
                   AS pmi
        FROM pc
        JOIN uni ua ON ua.tok = w_a
        JOIN uni ub ON ub.tok = w_b
        CROSS JOIN n_tot CROSS JOIN m_tot
        WHERE c_ab >= 10
        ORDER BY pmi DESC, w_a, w_b
        LIMIT 50
    """,
    survey_ops="corpus analytics — PMI word association (beyond-"
    "reference; the co-occurrence statistic under word2vec/GloVe "
    "pipelines); A2/J3 shapes",
    doc="Top-50 token pairs by pointwise mutual information over a "
    "±2-token co-occurrence window (pairs stored unordered via "
    "least/greatest, min count 10). PMI is ONE ln of a ratio of "
    "exact integer counts — deterministic across engines; ranking "
    "ties break lexicographically on the rounded score. Shuffles are "
    "keyed by token/pair (uniform); the N/M scalars broadcast via "
    "1-row cross joins.",
)
def doc_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return X.pmi_pairs(d, min_count=10, k=50)


@query(
    "doc_rag_prep_pipeline",
    oracle=r"""
        WITH s AS (
            SELECT doc_id, text,
                   len(string_split_regex(trim(text), '\s+')) AS n_tok,
                   len(list_filter(string_split_regex(trim(text), '\s+'),
                                   x -> x IN ('the', 'a', 'of', 'and'))) AS n_stop,
                   (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
                       / greatest(length(text), 1) AS digit_ratio
            FROM documents WHERE text IS NOT NULL
        ), kept AS (
            SELECT doc_id, text FROM s
            WHERE round(greatest(least(
                      0.5 * least(n_tok / 50.0, 1.0)
                    + 0.5 * least((n_stop * 1.0 / greatest(n_tok, 1)) * 5.0, 1.0)
                    - 0.25 * digit_ratio, 1.0), 0.0), 6) >= 0.5
        ), ktoks AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM kept
        ), ktok AS (
            SELECT doc_id, i - 1 AS pos, t[i] AS tok
            FROM ktoks, unnest(range(1, len(t) + 1)) AS u(i)
        ), paras AS (
            SELECT doc_id, pos // 12 AS para_no,
                   string_agg(tok, ' ' ORDER BY pos) AS para
            FROM ktok GROUP BY doc_id, pos // 12
        ), ranked AS (
            SELECT doc_id, para_no, para,
                   row_number() OVER (
                       PARTITION BY para ORDER BY doc_id, para_no) AS rn
            FROM paras
        ), cleaned AS (
            SELECT doc_id,
                   coalesce(string_agg(para, chr(10) ORDER BY para_no)
                                FILTER (WHERE rn = 1), '') AS clean_text
            FROM ranked GROUP BY doc_id
        ), ctoks AS (
            SELECT doc_id, string_split_regex(trim(clean_text), '\s+') AS t
            FROM cleaned WHERE length(trim(clean_text)) >= 1
        ), starts AS (
            SELECT doc_id, t, CAST(sv AS BIGINT) AS chunk_start
            FROM ctoks, unnest(range(0, len(t), 24)) AS u(sv)
            WHERE len(t) >= 1
        )
        SELECT doc_id,
               chunk_start // 24 AS chunk_id,
               chunk_start,
               CAST(len(list_slice(t, chunk_start + 1, chunk_start + 32)) AS BIGINT)
                   AS n_chunk_tokens,
               array_to_string(list_slice(t, chunk_start + 1, chunk_start + 32), ' ')
                   AS chunk_text
        FROM starts
    """,
    survey_ops="composed RAG-corpus prep pipeline (beyond-reference): "
    "quality gate → paragraph dedup → overlapping chunk windows",
    doc="The retrieval-side sibling of the training flagship: score "
    "and gate (quality >= 0.5), paragraph-dedup the survivors "
    "(canonical election over the GATED corpus — both engines "
    "agree), then cut 32-token/stride-24 chunks from the cleaned "
    "text. Three stages, ONE lazy plan, hash-verified end-to-end by "
    "a single chained-CTE oracle — the same lockstep pattern the "
    "curation flagship established.",
)
def doc_rag_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = rag_prep_stage_frames(spark, sf_dir)
    return frames[next(reversed(frames))]


def rag_prep_stage_frames(spark: SparkSession, sf_dir: str) -> dict:
    """The RAG-prep flagship's stages as an ordered name -> DataFrame
    dict (see curation_stage_frames — same contract: each stage
    exactly once, last entry is the pipeline result; consumed by
    tools/scale_smoke.py --flagship for per-stage wall-clock
    attribution). Pure extraction of the original builder body; plan
    unchanged."""
    d = load_table(spark, sf_dir, "documents")
    kept = d.filter(F.col("text").isNotNull()).filter(
        X.quality_score(F.col("text")) >= 0.5
    )
    cleaned = D.paragraph_dedup(kept, para_tokens=12).select(
        "doc_id", "clean_text"
    )
    chunks = X.chunk_windows(
        cleaned, text_col="clean_text", id_col="doc_id",
        chunk_tokens=32, stride=24,
    ).withColumnRenamed("id", "doc_id")
    return {
        "s0_quality_gate": kept,
        "s1_paragraph_dedup": cleaned,
        "s2_chunk_windows": chunks,
    }


@query(
    "doc_weighted_sample_ares",
    oracle=r"""
        WITH s AS (
            SELECT doc_id, lang,
                   len(string_split_regex(trim(text), '\s+')) AS n_tok,
                   len(list_filter(string_split_regex(trim(text), '\s+'),
                                   x -> x IN ('the', 'a', 'of', 'and'))) AS n_stop,
                   (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
                       / greatest(length(text), 1) AS digit_ratio
            FROM documents WHERE text IS NOT NULL
        ), wts AS (
            SELECT doc_id, lang,
                   round(greatest(least(
                       0.5 * least(n_tok / 50.0, 1.0)
                     + 0.5 * least((n_stop * 1.0 / greatest(n_tok, 1)) * 5.0, 1.0)
                     - 0.25 * digit_ratio, 1.0), 0.0), 6) + 0.01 AS w,
                   CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                        AS BIGINT) * 1.0 / 281474976710656 AS u
            FROM s
        )
        SELECT doc_id, lang, round(w, 6) AS weight,
               round(-ln(u) / w, 9) AS es_key
        FROM wts
        ORDER BY round(-ln(u) / w, 9), doc_id
        LIMIT 100
    """,
    survey_ops="data selection — weighted sampling without replacement "
    "(beyond-reference; Efraimidis & Spirakis 2006 A-Res keys)",
    doc="Quality-weighted corpus sample: each doc draws its md5-"
    "fraction uniform, forms the exponential-race key -ln(u)/w with "
    "w = quality + 0.01, and the 100 smallest keys win — inclusion "
    "probability ∝ weight, no RNG state, reproducible across engines "
    "and shards (the property that matters for resumable corpus "
    "builds). Keys are ranked ROUNDED (9 dp) with doc_id ties so "
    "both engines sort identical values; TakeOrdered keeps the "
    "selection a per-partition top-k merge, never a global sort.",
)
def doc_weighted_sample_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    w = X.quality_score(F.col("text")) + 0.01
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("double")
        / F.lit(281474976710656.0)
    )
    key = F.round(-F.log(u) / w, 9)
    return (
        d.select(
            "doc_id",
            "lang",
            F.round(w, 6).alias("weight"),
            key.alias("es_key"),
        )
        .orderBy("es_key", "doc_id")
        .limit(100)
    )


@query(
    "doc_normalize_text",
    oracle=r"""
        WITH n1 AS (
            SELECT doc_id, text,
                   length(text) AS n_chars_before,
                   trim(regexp_replace(regexp_replace(regexp_replace(
                       text,
                       '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
                       '[ \t]+', ' ', 'g'),
                       '\n{3,}', chr(10) || chr(10), 'g'))
                       AS norm_text
            FROM documents WHERE text IS NOT NULL
        )
        SELECT doc_id, n_chars_before,
               length(norm_text) AS n_chars_after,
               norm_text,
               norm_text <> text AS changed
        FROM n1
    """,
    survey_ops="text hygiene — normalization pass (beyond-reference; "
    "the control-char/whitespace cleanup every ingest runs); §2.8 "
    "string family",
    doc="Ingest normalization: strip control characters (keeping "
    "newline/tab semantics — tabs collapse with spaces), squash "
    "space runs, cap blank-line runs at one, trim. Pure JVM regex "
    "projection — zero shuffle, embarrassingly parallel. Unicode NFC "
    "is NOT applied (no JVM-side normalizer built-in; stated). The "
    "synthetic corpus is already clean, so `changed` is mostly false "
    "— the oracle verifies the mechanics rather than assumes them; "
    "constructed dirty docs carry the behavior test.",
)
def doc_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.col("text"), r"[\x00-\x08\x0B-\x1F\x7F]", ""
                ),
                r"[ \t]+",
                " ",
            ),
            r"\n{3,}",
            "\n\n",
        )
    )
    return d.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.length("text").alias("n_chars_before"),
        F.length(norm).alias("n_chars_after"),
        norm.alias("norm_text"),
        # compare TEXT, not lengths — a tab collapsed to one space is
        # length-preserving but still a change (review finding)
        (norm != F.col("text")).alias("changed"),
    )


@query(
    "doc_hybrid_rrf_search",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            FROM documents WHERE text IS NOT NULL
        ), dl AS (
            SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks
        ), stats AS (
            SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl
        ), tf AS (
            SELECT doc_id, tok, count(*) AS tf
            FROM toks, unnest(t) AS u(tok)
            WHERE tok IN ('spark', 'filter', 'window', 'merge')
            GROUP BY doc_id, tok
        ), dft AS (
            SELECT tok, count(DISTINCT doc_id) AS dft FROM tf GROUP BY tok
        ), scored AS (
            SELECT tf.doc_id, tf.tok,
                   ln((n_docs - dft + 0.5) / (dft + 0.5) + 1.0)
                   * (tf * 2.2)
                   / (tf + 1.2 * (1.0 - 0.75
                          + 0.75 * dl / (sum_dl * 1.0 / n_docs))) AS s
            FROM tf JOIN dft USING (tok)
            JOIN dl ON dl.doc_id = tf.doc_id
            CROSS JOIN stats
        ), lex_agg AS (
            SELECT doc_id,
                   coalesce(max(CASE WHEN tok = 'spark'  THEN s END), 0)
                 + coalesce(max(CASE WHEN tok = 'filter' THEN s END), 0)
                 + coalesce(max(CASE WHEN tok = 'window' THEN s END), 0)
                 + coalesce(max(CASE WHEN tok = 'merge'  THEN s END), 0) AS bm25
            FROM scored GROUP BY doc_id
        ), lex50 AS (
            SELECT doc_id, round(bm25, 6) AS b FROM lex_agg
            ORDER BY round(bm25, 6) DESC, doc_id LIMIT 50
        ), lex AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY b DESC, doc_id) AS lex_rank
            FROM lex50
        ), base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ), qv AS (
            SELECT vec FROM base WHERE vec_id = 0
        ), vscore AS (
            SELECT b.vec_id AS doc_id,
                   round(
                       list_sum(list_transform(list_zip(qv.vec, b.vec),
                                               s -> s[1] * s[2]))
                       / (sqrt(list_sum(list_transform(qv.vec, x -> x * x)))
                          * sqrt(list_sum(list_transform(b.vec, x -> x * x)))), 6
                   ) AS cos_sim
            FROM base b CROSS JOIN qv WHERE b.vec_id != 0
        ), vec AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS vec_rank
            FROM (SELECT * FROM vscore
                  ORDER BY cos_sim DESC, doc_id LIMIT 50) t
        )
        SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
               lex.lex_rank, vec.vec_rank,
               round(coalesce(1.0 / (60 + lex.lex_rank), 0)
                     + coalesce(1.0 / (60 + vec.vec_rank), 0), 9) AS rrf_score
        FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
        ORDER BY round(coalesce(1.0 / (60 + lex.lex_rank), 0)
                       + coalesce(1.0 / (60 + vec.vec_rank), 0), 9) DESC,
                 coalesce(lex.doc_id, vec.doc_id)
        LIMIT 20
    """,
    survey_ops="hybrid retrieval — reciprocal-rank fusion of BM25 and "
    "vector search (beyond-reference; Cormack et al. 2009 RRF); "
    "U1/J6/O4 shapes",
    doc="Hybrid RAG retrieval: BM25 top-50 (4-term query) fused with "
    "cosine top-50 of query vector 0 via RRF (k=60), top-20 by fused "
    "score. Both rank lists are row-bounded BEFORE their global "
    "rank window (never a corpus-wide sort), ranks come from the "
    "already-oracle-checked scorers, and the fusion is a full outer "
    "join over ≤100 rows — the missing-rank side contributes 0, per "
    "the RRF paper. Exploits the testdata's 1:1 vec_id↔doc_id "
    "alignment (stated).",
)
def doc_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import similarity as S

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    terms = ("spark", "filter", "window", "merge")
    lex50 = (
        X.bm25_scores(d, terms)
        .select("id", F.round(F.col("bm25"), 6).alias("b"))
        .orderBy(F.col("b").desc(), F.col("id"))
        .limit(50)
    )
    lex = lex50.select(
        F.col("id").alias("doc_id"),
        F.row_number()
        .over(W.orderBy(F.col("b").desc(), F.col("id")))
        .alias("lex_rank"),
    )
    vec = (
        S.cosine_topk(e, [0], k=50)
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("vec_rank"))
    )
    rrf = F.round(
        F.coalesce(1.0 / (60 + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (60 + F.col("vec_rank")), F.lit(0.0)),
        9,
    )
    return (
        lex.join(vec, "doc_id", "full_outer")
        .select("doc_id", "lex_rank", "vec_rank", rrf.alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
        .limit(20)
    )


from streamprocessing_kafka_finlight_news_dashboard_spark.plans.text import (  # noqa: E402
    _MH_BAND_SELECTS,
    _MH_SIG_EXPRS,
    _SHINGLE_CTES,
)

_MH_MATCH_SQL = "\n                 + ".join(
    f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(32)
)


@query(
    "doc_minhash_jaccard_estimate",
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
        ), est AS (
            SELECT p.id_a, p.id_b,
                   {_MH_MATCH_SQL} AS n_match
            FROM pairs p
            JOIN sig sa ON sa.doc_id = p.id_a
            JOIN sig sb ON sb.doc_id = p.id_b
        ), sizes AS (
            SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT p.id_a, p.id_b, count(*) AS i
            FROM pairs p
            JOIN sh a ON a.doc_id = p.id_a
            JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
            GROUP BY p.id_a, p.id_b
        )
        SELECT e.id_a, e.id_b,
               round(e.n_match / 32.0, 6) AS est_jaccard,
               round(coalesce(i.i, 0) * 1.0
                     / greatest(ca.c + cb.c - coalesce(i.i, 0), 1), 6)
                   AS exact_jaccard,
               round(abs(e.n_match / 32.0
                         - coalesce(i.i, 0) * 1.0
                           / greatest(ca.c + cb.c - coalesce(i.i, 0), 1)), 6)
                   AS abs_err
        FROM est e
        LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
        JOIN sizes ca ON ca.doc_id = e.id_a
        JOIN sizes cb ON cb.doc_id = e.id_b
    """,
    survey_ops="dedup calibration — MinHash Jaccard estimator vs exact "
    "(beyond-reference; the estimator-quality readout behind the "
    "signature-width choice)",
    doc="For every portable-LSH candidate pair: the unbiased MinHash "
    "estimate (matching components / 32 — a fixed-order sum of 32 "
    "integer indicators), the exact shingle Jaccard, and |error|. "
    "Signatures are computed ONCE and checkpointed (they feed "
    "banding and both compare sides); exact sets are built only for "
    "documents appearing in a pair (broadcast semi-join reduction).",
)
def doc_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_jaccard_estimates(d)


@query(
    "doc_gopher_rules",
    oracle=r"""
        WITH s AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\s+') AS t,
                   length(text) AS n_chars,
                   length(regexp_replace(text, '[^#]', '', 'g')) AS n_hash
            FROM documents WHERE text IS NOT NULL
        ), m AS (
            SELECT doc_id,
                   len(t) AS n_tok,
                   (length(array_to_string(t, '')) * 1.0
                        / greatest(len(t), 1)) AS mean_word_len,
                   n_hash * 1.0 / greatest(n_chars, 1) AS hash_ratio,
                   len(list_filter(t, x -> x IN ('the','a','of','and','to',
                                                 'in','is','that','for','it')))
                       AS n_stop
            FROM s
        )
        SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
               round(mean_word_len, 6) AS mean_word_len,
               CAST(n_stop AS BIGINT) AS n_stop,
               (n_tok BETWEEN 50 AND 100000)           AS ok_length,
               (mean_word_len >= 3 AND mean_word_len <= 10) AS ok_word_len,
               (hash_ratio <= 0.1)                     AS ok_symbols,
               (n_stop >= 2)                           AS ok_stopwords,
               ((n_tok BETWEEN 50 AND 100000)
                AND mean_word_len >= 3 AND mean_word_len <= 10
                AND hash_ratio <= 0.1
                AND n_stop >= 2)                       AS gopher_pass
        FROM m
    """,
    survey_ops="text hygiene — Gopher quality rule set (beyond-"
    "reference; Rae et al. 2021 'Scaling Language Models' doc-level "
    "rules); A6/P6 shapes",
    doc="The Gopher document-level rule battery (the doc-granularity "
    "complement of the C4 LINE rules already shipped): token-count "
    "band 50..100k, mean word length 3..10, symbol(#) ratio <= 0.1, "
    ">= 2 stopword hits from the paper's list — per-rule booleans "
    "plus the conjunction, all JVM-side string expressions, zero "
    "shuffle. (Ellipsis-line and bullet-line rules live in the line "
    "family where the line grain exists.)",
)
def doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    t = X.tokens(F.col("text"))
    n_tok = F.size(t)
    mean_wl = F.length(F.array_join(t, "")).cast("double") / F.greatest(
        n_tok, F.lit(1)
    )
    hash_ratio = (
        F.length(F.regexp_replace(F.col("text"), r"[^#]", "")).cast("double")
        / F.greatest(F.length("text"), F.lit(1))
    )
    stops = ("the", "a", "of", "and", "to", "in", "is", "that", "for", "it")
    n_stop = F.size(F.filter(t, _gopher_stop_filter(stops)))
    ok_len = n_tok.between(50, 100000)
    ok_wl = (F.round(mean_wl, 6) >= 3) & (F.round(mean_wl, 6) <= 10)
    ok_sym = hash_ratio <= 0.1
    ok_stop = n_stop >= 2
    return d.select(
        "doc_id",
        n_tok.cast("long").alias("n_tok"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        n_stop.cast("long").alias("n_stop"),
        ok_len.alias("ok_length"),
        ok_wl.alias("ok_word_len"),
        ok_sym.alias("ok_symbols"),
        ok_stop.alias("ok_stopwords"),
        (ok_len & ok_wl & ok_sym & ok_stop).alias("gopher_pass"),
    )


def _gopher_stop_filter(stops):
    def keep(x):
        return x.isin(*stops)

    return keep


@query(
    "doc_token_entropy",
    oracle=r"""
        WITH tok AS (
            SELECT doc_id, u.tok
            FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                  FROM documents WHERE text IS NOT NULL) d,
                 unnest(t) AS u(tok)
        ), tf AS (
            SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok
        ), agg AS (
            SELECT doc_id,
                   sum(c) AS n,
                   count(*) AS n_distinct,
                   sum(c * CAST(round(ln(c) * 1000000) AS BIGINT)) AS s
            FROM tf GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_tokens,
               CAST(n_distinct AS BIGINT) AS n_distinct,
               round(ln(n) - s / (n * 1000000.0), 6) AS entropy
        FROM agg
    """,
    survey_ops="text quality — unigram entropy / diversity signal "
    "(beyond-reference; the repetition-vs-diversity filter signal "
    "quality pipelines threshold); A2/A5 shapes",
    doc="Per-document unigram Shannon entropy via H = ln(n) − "
    "(Σ c·ln c)/n: per-term ln's are rounded to scaled BIGINTs so "
    "the per-doc reduction is an EXACT integer sum (the DSIR "
    "discipline — order-independent, engine-portable); only the "
    "final ln(n) and division are floats, in fixed order. Low "
    "entropy = repetitive/templated text; complements "
    "doc_repetition_stats' span-level signal.",
)
def doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return X.token_entropy(d)




from streamprocessing_kafka_finlight_news_dashboard_spark.operators import url as U  # noqa: E402


@query(
    "doc_url_curation",
    oracle=r"""
        WITH u AS (
            SELECT doc_id, """
    + U.SYNTHETIC_URL_SQL
    + r""" AS url FROM documents
        ), base AS (
            SELECT doc_id,
                   """
    + U.URL_CANON_SQL
    + r""" AS canonical_url,
                   """
    + U.URL_HOST_SQL
    + r""" AS domain
            FROM u
        ), marked AS (
            SELECT doc_id, canonical_url, domain,
                   canonical_url IS NOT NULL AND
                   doc_id > min(doc_id) OVER (PARTITION BY canonical_url)
                       AS is_url_dup
            FROM base
        ), rates AS (
            SELECT domain, CAST(count(*) AS BIGINT) AS n_domain_docs,
                   """
    + U.quota_keep_rate_sql("count(*)", U.DOMAIN_QUOTA)
    + r""" AS keep_rate
            FROM marked
            WHERE NOT is_url_dup AND domain IS NOT NULL GROUP BY domain
        )
        SELECT m.doc_id, m.domain, m.canonical_url, m.is_url_dup,
               r.n_domain_docs, r.keep_rate,
               (NOT m.is_url_dup AND
                """
    + U.quota_bucket_sql("m.canonical_url")
    + r""" < r.keep_rate) AS quota_kept,
               m.domain IN ('www.src00.example.com', 'www.src130.example.com')
                   AS blocklisted,
               (NOT m.is_url_dup AND
                """
    + U.quota_bucket_sql("m.canonical_url")
    + r""" < r.keep_rate AND
                m.domain NOT IN ('www.src00.example.com', 'www.src130.example.com'))
                   AS kept
        FROM marked m LEFT JOIN rates r ON r.domain = m.domain
    """,
    survey_ops="URL/domain-plane curation — canonicalize → exact "
    "re-crawl dedup → hash-gated domain quota → blocklist, as one "
    "per-document decision table (beyond-reference; the CCNet/"
    "RefinedWeb crawl-plane recipe)",
    doc="URL-plane curation decision table (operators/url.py): RFC-ish "
    "canonicalization (lowercase scheme/host, default ports stripped, "
    "fragments dropped, trailing slash normalized, tracking params "
    "removed and survivors SORTED), exact re-crawl collapse via a "
    "keep-min window on the canonical key (dup groups are page-sized "
    "at any corpus), and a per-domain quota as a HASH GATE — "
    "|domains|-row rate table broadcast back, keep iff the md5 bucket "
    "(hex chars 17-24, disjoint from split/pack/temperature windows; "
    "low 30 bits) clears min(R, max(1, floor(R·quota/n))) parts per "
    "R = 2^30 — rate resolution that can never zero out a hot domain, "
    "and deliberately NOT a per-domain rank, which would funnel that "
    "domain through one sorted task. Documents carry no url column, "
    "so a deterministic messy URL is derived from (source, doc_id) "
    "with the identical expression in both engines: the path space "
    "grows with the corpus (doc_id//4 groups), each group's shapes "
    "2+3 are fragment/slash variants of ONE mirror-domain page "
    "(guaranteed re-crawl pair per group, and a genuinely hot domain "
    "for the quota), and the host space grows in doc_id//2000 blocks "
    "so the quota doesn't cap the gated corpus at a constant. "
    "Unparseable URLs annotate NULL. The canonicalized base is "
    "checkpointed once for its two consumers (rate aggregate + final "
    "projection).",
)
def doc_url_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    with_url = d.select(
        "doc_id", U.synthetic_url(F.col("doc_id"), F.col("source")).alias("url")
    )
    return U.url_curation_decisions(with_url)



@query(
    "doc_domain_mix_report",
    oracle=r"""
        WITH per AS (
            SELECT source,
                   count(*) AS n_docs,
                   sum(len(string_split_regex(trim(text), '\s+'))) AS n_tokens
            FROM documents WHERE text IS NOT NULL
            GROUP BY source
        ), tot AS (
            SELECT sum(n_tokens) AS t FROM per
        )
        SELECT source,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               round(n_tokens * 1.0 / t, 6) AS token_share,
               row_number() OVER (ORDER BY n_tokens DESC, source) AS share_rank,
               round(sum(n_tokens) OVER (ORDER BY n_tokens DESC, source
                                         ROWS UNBOUNDED PRECEDING) * 1.0 / t, 6)
                   AS cum_share
        FROM per CROSS JOIN tot
    """,
    survey_ops="corpus composition — per-source token-share report "
    "(beyond-reference; the mixing table every corpus card "
    "publishes); A2/A12 + ranking family",
    doc="Per-source document and token counts, token share, share "
    "rank, and cumulative concentration (how much of the corpus the "
    "top-k sources hold). The global rank/cumsum windows run over "
    "the POST-AGGREGATION |sources| rows — bounded by construction, "
    "never the corpus. Shares are exact-integer ratios rounded "
    "identically in both engines.",
)
def doc_domain_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # |sources|-row aggregate with TWO consumers (the total and the
    # report body) — un-materialized, the corpus tokenize+sum pass ran
    # twice (r16, guide §2.4)
    per = (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(X.tokens(F.col("text"))).cast("long")).alias("n_tokens"),
        )
        .transform(materialize)
    )
    tot = per.agg(F.sum("n_tokens").alias("t"))
    w = W.orderBy(F.col("n_tokens").desc(), F.col("source"))
    wsum = w.rowsBetween(W.unboundedPreceding, 0)
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("t"), 6).alias("token_share"),
            F.row_number().over(w).alias("share_rank"),
            F.round(F.sum("n_tokens").over(wsum) / F.col("t"), 6).alias(
                "cum_share"
            ),
        )
    )


_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderpriority",
)

_PROFILE_SQL = "\n        UNION ALL\n".join(
    f"""        SELECT '{c}' AS col_name,
               CAST(count(*) - count({c}) AS BIGINT) AS n_null,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(min({c}) AS VARCHAR) AS min_value,
               CAST(max({c}) AS VARCHAR) AS max_value
        FROM orders"""
    for c in _PROFILE_COLS
)


@query(
    "orders_column_profile",
    oracle=_PROFILE_SQL,
    survey_ops="data profiling — per-column null/distinct/min/max "
    "manifest (beyond-reference; the table-profile readout every "
    "warehouse ships); A2/A3/A5 shapes",
    doc="Generic column profiler instantiated on orders: per column, "
    "null count, EXACT distinct count, and min/max as strings. The "
    "engine computes all columns in ONE wide aggregate (Spark plans "
    "multi-countDistinct via a single expand — one corpus pass, not "
    "|columns| scans) and unpivots to the per-column manifest; the "
    "oracle's UNION-of-scans form is the semantic spec, not the "
    "plan. Dates/floats stringify identically in both engines for "
    "this schema (stated).",
)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"null_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(c).cast("string").alias(f"min_{c}"),
            F.max(c).cast("string").alias(f"max_{c}"),
        ]
    wide = o.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"null_{c}").alias("n_null"),
                F.col(f"nd_{c}").alias("n_distinct"),
                F.col(f"min_{c}").alias("min_value"),
                F.col(f"max_{c}").alias("max_value"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return wide.select(F.explode(rows).alias("r")).select(
        "r.col_name", "r.n_null", "r.n_distinct", "r.min_value", "r.max_value"
    )


_LR_ITERATION_SQL = """
        p{i} AS (
            SELECT f.*, round(1.0 / (1.0 + exp(-(
                       w1 * f1 + w2 * f2 + w3 * f3 + w4 * 1.0))), 6) AS s
            FROM f, w{prev}
        ), g{i} AS (
            SELECT sum(CAST(round((s - y) * f1 * 1000000000) AS BIGINT)) AS g1,
                   sum(CAST(round((s - y) * f2 * 1000000000) AS BIGINT)) AS g2,
                   sum(CAST(round((s - y) * f3 * 1000000000) AS BIGINT)) AS g3,
                   sum(CAST(round((s - y) * 1.0 * 1000000000) AS BIGINT)) AS g4
            FROM p{i}
        ), w{i} AS (
            SELECT round(w1 - 1.0 * (g1 / 1000000000.0) / n, 9) AS w1,
                   round(w2 - 1.0 * (g2 / 1000000000.0) / n, 9) AS w2,
                   round(w3 - 1.0 * (g3 / 1000000000.0) / n, 9) AS w3,
                   round(w4 - 1.0 * (g4 / 1000000000.0) / n, 9) AS w4
            FROM w{prev}, g{i}, cnt
        )"""


#: shared CTE chain ending in ``lr_scored`` (doc_id, lang, y,
#: lr_score) — the full 3-epoch scaled-BIGINT GD training run + final
#: scoring, reused by the filter entry and the calibration report so
#: the two oracles can never train different models.
_LR_SCORED_CTES = (
    r"""
        WITH s AS (
            SELECT doc_id, lang,
                   len(string_split_regex(trim(text), '\s+')) AS n_tok,
                   len(list_filter(string_split_regex(trim(text), '\s+'),
                                   x -> x IN ('the', 'a', 'of', 'and'))) AS n_stop,
                   (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
                       / greatest(length(text), 1) AS digit_ratio
            FROM documents WHERE text IS NOT NULL
        ), f AS (
            SELECT doc_id, lang,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                   round(least(n_tok / 50.0, 1.0), 6) AS f1,
                   round(least((n_stop * 1.0 / greatest(n_tok, 1)) * 5.0, 1.0), 6) AS f2,
                   round(digit_ratio, 6) AS f3
            FROM s
        ), cnt AS (SELECT count(*) AS n FROM f),
        w0 AS (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4),"""
    + _LR_ITERATION_SQL.format(i=1, prev=0)
    + ","
    + _LR_ITERATION_SQL.format(i=2, prev=1)
    + ","
    + _LR_ITERATION_SQL.format(i=3, prev=2)
    + r""", lr_scored AS (
            SELECT f.doc_id, f.lang, f.y,
                   round(1.0 / (1.0 + exp(-(
                       w1 * f1 + w2 * f2 + w3 * f3 + w4 * 1.0))), 6) AS lr_score
            FROM f, w3
        )"""
)


@query(
    "doc_lr_quality_filter",
    oracle=_LR_SCORED_CTES
    + r"""
        SELECT doc_id, lang, y AS is_en, lr_score,
               lr_score >= 0.5 AS pred_en
        FROM lr_scored
    """,
    survey_ops="model-based quality filtering — corpus-trained logistic-"
    "regression classifier (beyond-reference; the GPT-3 LR quality "
    "filter, Brown et al. 2020 §A / CCNet fasttext tier); iterative "
    "algorithm hash-verified end-to-end",
    doc="Model-based quality/domain classifier: a logistic regression "
    "over the quality-score components (length band, stopword signal, "
    "digit noise, bias) trained IN the engine by 3 full-batch "
    "gradient-descent epochs to discriminate the target slice "
    "(lang='en'), then applied to every doc. Each epoch is ONE "
    "aggregation pass over a checkpointed narrow feature frame "
    "(map-side partial sums, 4 longs to the driver) — the driver-"
    "coordinated iteration shape MLlib itself uses, nothing "
    "corpus-sized collected. The float trajectory is made engine-"
    "reproducible by the scaled-integer discipline (round-6 sigmoids, "
    "per-row gradient contributions rounded to scaled BIGINTs, exact "
    "integer epoch sums, round-9 weights), so the ENTIRE iterative "
    "training run + scoring is hash-verified against a chained-CTE "
    "DuckDB twin — the first oracle-checked iterative-training entry "
    "in the catalog (k-means/BPE train loops are rows-only with "
    "pinned artifacts).",
)
def doc_lr_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    feats = X.lr_quality_features(F.col("text"))
    label = F.coalesce((F.col("lang") == "en").cast("int"), F.lit(0))
    w = X.lr_train_weights(d, label, feats, iters=3, lr=1.0)
    score = X.lr_decision_scores(feats, w)
    return d.select(
        "doc_id",
        "lang",
        label.alias("is_en"),
        score.alias("lr_score"),
        (score >= 0.5).alias("pred_en"),
    )


@query(
    "doc_lr_calibration_report",
    oracle=_LR_SCORED_CTES
    + r"""
        , binned AS (
            SELECT least(CAST(floor(lr_score * 10) AS BIGINT), 9) AS bin,
                   lr_score, y,
                   CAST(round((lr_score - y) * (lr_score - y), 9)
                        AS DECIMAL(20,9)) AS sq_err
            FROM lr_scored
        )
        SELECT bin,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(CAST(sum(CAST(lr_score AS DECIMAL(20,8))) AS DOUBLE)
                     / count(*), 6) AS mean_score,
               CAST(sum(y) AS BIGINT) AS n_pos,
               round(sum(y) * 1.0 / count(*), 6) AS pos_rate,
               round(round(CAST(sum(CAST(lr_score AS DECIMAL(20,8))) AS DOUBLE)
                           / count(*), 6)
                     - round(sum(y) * 1.0 / count(*), 6), 6) AS gap,
               round(CAST(sum(sq_err) AS DOUBLE) / count(*), 6) AS brier
        FROM binned GROUP BY bin
    """,
    survey_ops="model-based quality filtering — calibration/reliability "
    "report over the LR classifier (beyond-reference; the check run "
    "before trusting a score threshold to mean a probability)",
    doc="Reliability diagram + per-bin Brier score for the corpus-"
    "trained LR quality classifier: scores bucketed into ten fixed "
    "bins, each reporting document count, mean predicted probability, "
    "empirical positive rate, their gap (the calibration error a "
    "threshold-based filter silently absorbs), and the mean squared "
    "error. Shares the ENTIRE training-run CTE chain with "
    "doc_lr_quality_filter (one source of truth — the two oracles "
    "cannot train different models). Engine-exactness: per-row scores "
    "are already round-6, so their DECIMAL(20,8) casts are exact and "
    "the bin sums order-independent; squared errors are rounded to "
    "9dp (identical doubles both engines) before their exact DECIMAL "
    "sum — no float accumulation order anywhere (the round-5 "
    "shuffle-order gotcha). One extra |bins|-row aggregate over the "
    "already-trained scores; scale shape unchanged from the filter.",
)
def doc_lr_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    feats = X.lr_quality_features(F.col("text"))
    label = F.coalesce((F.col("lang") == "en").cast("int"), F.lit(0))
    w = X.lr_train_weights(d, label, feats, iters=3, lr=1.0)
    score = X.lr_decision_scores(feats, w)
    scored = d.select(label.alias("y"), score.alias("lr_score"))
    binned = scored.select(
        F.least(F.floor(F.col("lr_score") * 10).cast("long"), F.lit(9)).alias(
            "bin"
        ),
        "lr_score",
        "y",
        F.round(
            (F.col("lr_score") - F.col("y")) * (F.col("lr_score") - F.col("y")), 9
        )
        .cast("decimal(20,9)")
        .alias("sq_err"),
    )
    mean_score = F.round(
        F.sum(F.col("lr_score").cast("decimal(20,8)")).cast("double")
        / F.count(F.lit(1)),
        6,
    )
    pos_rate = F.round(F.sum("y") / F.count(F.lit(1)), 6)
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        mean_score.alias("mean_score"),
        F.sum("y").cast("long").alias("n_pos"),
        pos_rate.alias("pos_rate"),
        F.round(mean_score - pos_rate, 6).alias("gap"),
        F.round(F.sum("sq_err").cast("double") / F.count(F.lit(1)), 6).alias(
            "brier"
        ),
    )
# ---------------------------------------------------------------------------
# Composed FLAGSHIP #5 (doc plane): the training-shard decision table —
# what a shard writer actually materializes before writing tensors.
# Reuses the exact CTE texts of four green oracles (alpha3 temperature
# mixture, hash split, sequence packing, pack efficiency).
# ---------------------------------------------------------------------------
from streamprocessing_kafka_finlight_news_dashboard_spark.plans.text import (  # noqa: E402
    PACK_BUCKET_SQL,
    _TEMP_ALPHA,
    _TEMP_EXPONENT,
    _pack_bucket,
)


@query(
    "doc_training_shard_manifest",
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
            SELECT lang, n_docs, n_tokens,
                   CAST(floor(100.0 * round(exp(
                            """
    + _TEMP_EXPONENT
    + r""" * round(ln(CAST(min_tokens AS DOUBLE)
                                           / CAST(n_tokens AS DOUBLE)), 9)
                        ), 6)) AS BIGINT) AS rate_pct
            FROM agg CROSS JOIN mn
        ), sel AS (
            SELECT t.doc_id, t.lang, t.n_tok,
                   (CAST('0x' || substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT) % 100 < 80) AS is_train
            FROM tok t JOIN rates r ON r.lang = t.lang
            WHERE CAST('0x' || substring(md5(CAST(t.doc_id AS VARCHAR)), 25, 8)
                       AS BIGINT) % 100 < r.rate_pct
        ), counts AS (
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_selected,
                   CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_train
            FROM sel GROUP BY lang
        ), packed AS (
            SELECT doc_id, lang, n_tok,
                   """ + PACK_BUCKET_SQL + r""" AS bucket,
                   CAST(floor(
                       (sum(n_tok) OVER (
                            PARTITION BY lang, """ + PACK_BUCKET_SQL + r"""
                            ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                        ) - n_tok) / 512.0
                   ) AS BIGINT) AS pack_id
            FROM sel WHERE is_train
        ), packs AS (
            SELECT lang, bucket, pack_id,
                   CAST(sum(n_tok) AS BIGINT) AS pack_tokens
            FROM packed GROUP BY lang, bucket, pack_id
        ), shard AS (
            SELECT lang,
                   CAST(count(*) AS BIGINT)         AS n_packs,
                   CAST(sum(pack_tokens) AS BIGINT) AS train_tokens,
                   CAST(count(*) * 512 AS BIGINT)   AS capacity,
                   round(sum(pack_tokens) * 1.0 / (count(*) * 512), 6)
                       AS fill_ratio,
                   CAST(sum(greatest(512 - pack_tokens, 0)) AS BIGINT)
                       AS pad_tokens,
                   CAST(sum(greatest(pack_tokens - 512, 0)) AS BIGINT)
                       AS overflow_tokens
            FROM packs GROUP BY lang
        )
        SELECT r.lang, r.rate_pct,
               coalesce(c.n_selected, 0) AS n_selected,
               coalesce(c.n_train, 0)    AS n_train,
               coalesce(s.n_packs, 0)    AS n_packs,
               coalesce(s.train_tokens, 0) AS train_tokens,
               coalesce(s.capacity, 0)   AS capacity,
               s.fill_ratio,
               coalesce(s.pad_tokens, 0) AS pad_tokens,
               coalesce(s.overflow_tokens, 0) AS overflow_tokens
        FROM rates r
        LEFT JOIN counts c ON c.lang = r.lang
        LEFT JOIN shard  s ON s.lang = r.lang
    """,
    survey_ops="composed FLAGSHIP #5 (doc plane) — training-shard "
    "manifest: α=0.3 temperature mixture × deterministic hash split × "
    "per-shard sequence packing × packing-efficiency audit as ONE "
    "verified plan (beyond-reference)",
    doc="The per-language training-shard decision table a shard writer "
    "materializes before writing tensors: the α = 0.3 temperature "
    "keep-rate and how many docs it sampled (md5 chars 25-32), how "
    "many of those land in the train split (md5 chars 1-8, "
    "independent by construction), how many 512-token packs the "
    "shard's greedy cumulative packer produces over them, and the "
    "fill/pad/overflow audit a fixed-context loader cares about — "
    "four green oracle texts composed into one CTE chain. Scale "
    "shape: one corpus scan feeds the |langs|-row stats (lazily "
    "checkpointed, as doc_temperature_mixture), a second feeds the "
    "narrow (doc_id, lang, n_tok, is_train) selection frame — "
    "localCheckpointed once because BOTH the per-lang counts and the "
    "per-shard packer consume it (aliased branches defeat "
    "ReusedExchange) — and the packer's window partitions by "
    "(lang, bucket) with bucket = md5 chars 9-16 mod 8 (r11 two-level "
    "form: the dominant language fans out over 8 sorted tasks instead "
    "of serializing through one; ≤8 partial tail-packs per lang, "
    "surfaced by pad_tokens), never a global sort. Langs whose "
    "sampled-train set is empty keep their manifest row with zero "
    "packs and a NULL fill ratio (LEFT JOIN + coalesce in both "
    "engines).",
)
def doc_training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = training_shard_stage_frames(spark, sf_dir)
    return frames[next(reversed(frames))]


def training_shard_stage_frames(spark: SparkSession, sf_dir: str) -> dict:
    """The training-shard flagship's stages as an ordered name ->
    DataFrame dict (same contract as curation_stage_frames /
    rag_prep_stage_frames: each stage exactly once, last entry is the
    pipeline result; consumed by tools/scale_smoke.py --flagship for
    per-stage wall-clock attribution). Pure extraction of the builder
    body; plan unchanged."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    stats = X.mixture_stats_partial(d).transform(materialize)
    rates = X.temperature_rates(stats, validate=False, alpha=_TEMP_ALPHA)
    temp_bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 25, 8), 16, 10)
        .cast("long") % 100
    )
    split_bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    sel = (
        d.filter(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select(
            "doc_id",
            "lang",
            X.token_count(F.col("text")).alias("n_tok"),
            temp_bucket.alias("tb"),
            (split_bucket < 80).alias("is_train"),
        )
        .join(F.broadcast(rates.select("lang", "rate_pct")), "lang")
        .filter(F.col("tb") < F.col("rate_pct"))
        .select("doc_id", "lang", "n_tok", "is_train")
        .transform(materialize)
    )
    counts = sel.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.sum(F.col("is_train").cast("long")).alias("n_train"),
    )
    # Two-level packer window (r11): (lang, bucket) so the dominant
    # language fans out over PACK_BUCKETS sorted tasks instead of one —
    # see plans/text.py PACK_BUCKETS for the full scale rationale.
    w = (
        W.partitionBy("lang", "bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    packs = (
        sel.filter("is_train")
        .withColumn("bucket", _pack_bucket())
        .withColumn(
            "pack_id",
            F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / F.lit(512.0)).cast(
                "long"
            ),
        )
        .groupBy("lang", "bucket", "pack_id")
        .agg(F.sum("n_tok").alias("pack_tokens"))
    )
    shard = packs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_packs"),
        F.sum("pack_tokens").alias("train_tokens"),
        (F.count(F.lit(1)) * 512).alias("capacity"),
        F.round(
            F.sum("pack_tokens") * F.lit(1.0) / (F.count(F.lit(1)) * 512), 6
        ).alias("fill_ratio"),
        F.sum(F.greatest(F.lit(512) - F.col("pack_tokens"), F.lit(0))).alias(
            "pad_tokens"
        ),
        F.sum(F.greatest(F.col("pack_tokens") - F.lit(512), F.lit(0))).alias(
            "overflow_tokens"
        ),
    )
    manifest = (
        rates.select("lang", "rate_pct")
        .join(counts, "lang", "left")
        .join(shard, "lang", "left")
        .select(
            "lang",
            "rate_pct",
            F.coalesce("n_selected", F.lit(0)).cast("long").alias("n_selected"),
            F.coalesce("n_train", F.lit(0)).cast("long").alias("n_train"),
            F.coalesce("n_packs", F.lit(0)).cast("long").alias("n_packs"),
            F.coalesce("train_tokens", F.lit(0)).cast("long").alias("train_tokens"),
            F.coalesce("capacity", F.lit(0)).cast("long").alias("capacity"),
            "fill_ratio",
            F.coalesce("pad_tokens", F.lit(0)).cast("long").alias("pad_tokens"),
            F.coalesce("overflow_tokens", F.lit(0))
            .cast("long")
            .alias("overflow_tokens"),
        )
    )
    return {
        "s0_temperature_rates": rates,
        "s1_sample_and_split": sel,
        "s2_pack_sequences": packs,
        "s3_shard_manifest": manifest,
    }


def _repetition_oracle() -> str:
    """Chained-CTE DuckDB twin of operators/text.py::repetition_report,
    assembled from the SAME shared CTE/gate generators the curation
    flagship's repetition stage uses (which themselves derive from the
    builder's constants), so Spark, this oracle and the flagship gate
    can never drift."""
    top_ns = X._REP_TOP_NS
    dup_ns = X._REP_DUP_NS
    frac_cols = ", ".join(
        [f"top_{n}gram_char_frac" for n in top_ns]
        + [f"dup_{n}gram_char_frac" for n in dup_ns]
    )
    return rf"""
        WITH {X.repetition_sql_ctes("documents", "r_")}
        SELECT l.doc_id, l.n_tok, l.n_lines, l.dup_line_frac, l.dup_line_char_frac,
               {frac_cols},
               ({X.repetition_gate_sql()}) AS repetition_pass
        FROM r_ls l JOIN r_wide w USING (doc_id)
    """


@query(
    "doc_repetition_rules",
    oracle=_repetition_oracle(),
    survey_ops="text hygiene — Gopher REPETITION rule battery (beyond-"
    "reference; Rae et al. 2021 Table A1, the half of the Gopher rules "
    "doc_gopher_rules doesn't cover); A4/A13/W-rank shapes",
    doc="Per-document repetition signals against the published Gopher "
    "caps: duplicate-line fraction and duplicate-line character "
    "fraction (zero-shuffle array expressions; degenerate-but-real "
    "zeros on this newline-free corpus — non-trivial values are "
    "pinned on constructed multi-line docs in tests), top n-gram "
    "character coverage for n=2..4 (lexicographically-smallest gram "
    "among count ties so both engines elect one winner), duplicated "
    "n-gram character coverage for n=5..10, and the conjunction as "
    "repetition_pass. One posexplode + ONE 9-lead window pass builds "
    "all nine gram grades (the shingle family's measured fast path), "
    "then one count shuffle and one (doc, n) window carry the top-1 "
    "election and the dup-char sum over the same exchange.",
)
def doc_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return X.repetition_report(d)


@query(
    "doc_winnow_overlap_pairs",
    oracle=r"""
        WITH vals AS (
            SELECT doc_id,
                   list_transform(string_split_regex(trim(text), '\s+'),
                                  t -> CAST('0x' || substring(md5(t), 1, 8) AS BIGINT)) AS v
            FROM documents WHERE text IS NOT NULL
        ), spans AS (
            SELECT doc_id,
                   list_transform(range(1, len(v) - 5 + 2),
                                  i -> list_reduce(v[i:i+4],
                                                   (acc, x) -> (acc * 131 + x) % 1000000007)) AS h
            FROM vals
        ), wins AS (
            SELECT doc_id,
                   CASE WHEN len(h) >= 4 THEN
                            list_transform(range(1, len(h) - 4 + 2),
                                           i -> list_min(h[i:i+3]))
                        WHEN len(h) >= 1 THEN [list_min(h)]
                        ELSE CAST([] AS BIGINT[]) END AS fps
            FROM spans
        ), fpt AS (
            SELECT DISTINCT doc_id, u.fp FROM wins, unnest(fps) AS u(fp)
        ), sizes AS (
            SELECT doc_id, count(*) AS n_fp FROM fpt GROUP BY doc_id
        ), rare AS (
            SELECT doc_id, fp FROM (
                SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS nd FROM fpt
            ) WHERE nd <= 50
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
            FROM rare a JOIN rare b USING (fp)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT p.id_a, p.id_b, p.n_shared,
               sa.n_fp AS n_fp_a, sb.n_fp AS n_fp_b,
               round(p.n_shared * 1.0 / least(sa.n_fp, sb.n_fp), 6) AS containment
        FROM pairs p
        JOIN sizes sa ON sa.doc_id = p.id_a
        JOIN sizes sb ON sb.doc_id = p.id_b
        WHERE p.n_shared >= 1
    """,
    survey_ops="dedup tier 6 — winnowing fingerprint overlap "
    "(beyond-reference; Schleimer et al. 2003 / MOSS local "
    "fingerprinting — the partial-overlap complement of the "
    "whole-document MinHash tier)",
    doc="Document pairs sharing winnowed Rabin-Karp fingerprints: "
    "distinct local minima of each 4-wide window over the 5-token "
    "rolling span hashes (any shared span of >= 8 tokens is "
    "GUARANTEED to contribute a shared fingerprint — the local-"
    "overlap detector whole-doc similarity misses), exploded to "
    "narrow (id, fp) rows, ubiquity-capped at 50 docs per "
    "fingerprint BEFORE the equi self-join (the LSH mega-bucket "
    "discipline), one (a, b) count aggregate, containment = shared "
    "over the smaller PRE-cap fingerprint set.",
)
def doc_winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.winnow_overlap_pairs(d)


#: decontamination flagship constants — the %97 eval convention and
#: 4-gram grain every standalone tier already uses, and the corpus-
#: calibrated semantic threshold from emb_semantic_decontaminate.
_DECON_EVAL_MOD = 97
_DECON_N = 4
_DECON_SEM_THRESHOLD = 0.4


def decontamination_stage_frames(spark: SparkSession, sf_dir: str) -> dict:
    """Stage-frame dict for the composed decontamination audit (same
    contract as curation/domain_stage_frames: each stage exactly once,
    insertion order = dataflow order, last entry is the flagship's
    output). The two lexical tiers share ONE checkpointed gram grain —
    without it the corpus would shingle once per tier (the
    aliased-branch discipline); the eval distinct-gram set likewise
    feeds the exact tier's broadcast AND the Bloom bit derivation."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.arrow_docs import shingle_rows_arrow
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import similarity as S

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    is_eval = F.col("doc_id") % _DECON_EVAL_MOD == 0
    train = d.filter(~is_eval)
    eval_df = d.filter(is_eval)
    tg = shingle_rows_arrow(train, "text", "doc_id", _DECON_N).transform(materialize)
    eg = (
        shingle_rows_arrow(eval_df, "text", "doc_id", _DECON_N)
        .select("shingle")
        .distinct()
        .transform(materialize)
    )
    # each tier feeds its own stage frame AND the audit join —
    # checkpoint all three so neither consumer re-executes a tier
    # subtree (aliased-branch discipline; the semantic tier's exact
    # train x eval scoring is the expensive one). Note the smoke's %97
    # eval split GROWS with the corpus, so its semantic cost scales
    # as train x eval — a smoke-construction artifact; production eval
    # suites are fixed-size (the operator's broadcast contract), making
    # the tier linear in the corpus.
    exact = D.decontaminate_ngram(
        train, eval_df, n=_DECON_N, train_grams=tg, eval_grams=eg
    ).transform(materialize)
    bloom = D.decontaminate_bloom(
        train, eval_df, n=_DECON_N, train_grams=tg, eval_grams=eg
    ).transform(materialize)
    sem = S.semantic_decontaminate(
        e,
        F.col("vec_id") % _DECON_EVAL_MOD == 0,
        threshold=_DECON_SEM_THRESHOLD,
    ).transform(materialize)
    lex = F.col("contaminated")
    sema = F.coalesce(F.col("semantic_flagged"), F.lit(False))
    blo = F.col("bloom_flagged")
    audit = (
        exact.join(bloom.drop("n_grams"), "doc_id")
        .join(
            sem.select(
                F.col("vec_id").alias("doc_id"),
                "nearest_eval_id",
                "max_eval_sim",
                F.col("contaminated").alias("semantic_flagged"),
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated_grams",
            "contamination_ratio",
            "contaminated",
            "n_bloom_hits",
            "bloom_ratio",
            "bloom_flagged",
            "nearest_eval_id",
            "max_eval_sim",
            sema.alias("semantic_flagged"),
            (lex | blo | sema).alias("any_flagged"),
            F.when(lex, "lexical")
            .when(sema, "semantic_only")
            .when(blo, "bloom_only")
            .otherwise("clean")
            .alias("verdict"),
        )
    )
    return {
        "s0_exact_tier": exact,
        "s1_bloom_tier": bloom,
        "s2_semantic_tier": sem,
        "s3_audit": audit,
    }


@query(
    "doc_decontamination_audit",
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
        ), bits AS (
            SELECT DISTINCT CAST('0x' || substring(md5(shingle), 1, 5) AS BIGINT)
                       % 262144 AS pos FROM ev
            UNION
            SELECT DISTINCT CAST('0x' || substring(md5(shingle), 6, 5) AS BIGINT)
                       % 262144 FROM ev
        ), btr AS (
            SELECT doc_id,
                   CAST('0x' || substring(md5(shingle), 1, 5) AS BIGINT)
                       % 262144 AS p0,
                   CAST('0x' || substring(md5(shingle), 6, 5) AS BIGINT)
                       % 262144 AS p1
            FROM tr
        ), bagg AS (
            SELECT doc_id,
                   count(*) AS n_grams,
                   CAST(sum(CASE WHEN p0 IN (SELECT pos FROM bits)
                                  AND p1 IN (SELECT pos FROM bits)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits
            FROM btr GROUP BY doc_id
        ), sev AS (
            SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS evec
            FROM embeddings WHERE vec_id % 97 = 0
        ), strn AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS tvec
            FROM embeddings WHERE vec_id % 97 != 0
        ), sds AS (
            SELECT t.vec_id, e.eval_id,
                   round(
                       list_sum(list_transform(list_zip(t.tvec, e.evec),
                                               s -> s[1] * s[2]))
                       / (sqrt(list_sum(list_transform(t.tvec, x -> x * x)))
                          * sqrt(list_sum(list_transform(e.evec, x -> x * x)))), 6
                   ) AS sim
            FROM strn t CROSS JOIN sev e
        ), sdq AS (
            SELECT vec_id, eval_id, sim
            FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY vec_id
                           ORDER BY sim DESC, eval_id) AS rn
                FROM sds
            ) z WHERE rn = 1
        )
        SELECT t.doc_id, t.n_grams,
               COALESCE(ov.c, 0) AS n_contaminated_grams,
               round(COALESCE(ov.c, 0) / t.n_grams, 6) AS contamination_ratio,
               COALESCE(ov.c, 0) >= 1 AS contaminated,
               b.n_bloom_hits,
               round(b.n_bloom_hits / b.n_grams, 6) AS bloom_ratio,
               b.n_bloom_hits >= 1 AS bloom_flagged,
               s.eval_id AS nearest_eval_id,
               s.sim AS max_eval_sim,
               COALESCE(s.sim >= 0.4, FALSE) AS semantic_flagged,
               (COALESCE(ov.c, 0) >= 1 OR b.n_bloom_hits >= 1
                OR COALESCE(s.sim >= 0.4, FALSE)) AS any_flagged,
               CASE WHEN COALESCE(ov.c, 0) >= 1 THEN 'lexical'
                    WHEN COALESCE(s.sim >= 0.4, FALSE) THEN 'semantic_only'
                    WHEN b.n_bloom_hits >= 1 THEN 'bloom_only'
                    ELSE 'clean' END AS verdict
        FROM tot t
        JOIN bagg b USING (doc_id)
        LEFT JOIN ov USING (doc_id)
        LEFT JOIN sdq s ON s.vec_id = t.doc_id
    """,
    survey_ops="composed FLAGSHIP #7 — cross-plane decontamination "
    "audit: exact n-gram + Bloom + embedding-cosine tiers over one "
    "shared gram grain and one eval convention (beyond-reference; "
    "the contamination-audit report a pre-training run signs off on)",
    doc="The three decontamination tiers as ONE verified plan on the "
    "shared %97 eval split: exact 4-gram collisions (broadcast "
    "benchmark grams), the Bloom production tier (broadcast bit "
    "positions, capped at 2^18 regardless of benchmark size), and "
    "exact embedding-cosine leakage (documents x embeddings "
    "cross-plane join on doc_id = vec_id) — per-doc tier columns, "
    "the any-tier flag, and a verdict ('lexical' / 'semantic_only' / "
    "'bloom_only' / 'clean'; bloom_only is by construction a Bloom "
    "false positive, the over-cleaning rate made visible). The two "
    "lexical tiers consume ONE checkpointed Arrow gram pass instead "
    "of shingling the corpus per tier; tier equality vs the three "
    "standalone entries and the Bloom-superset property are "
    "pytest-pinned (tests/test_text_plans.py).",
)
def doc_decontamination_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decontamination_stage_frames(spark, sf_dir)["s3_audit"]


@query(
    "doc_winnow_containment_estimate",
    oracle=r"""
        WITH vals AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\s+') AS tk,
                   list_transform(string_split_regex(trim(text), '\s+'),
                                  t -> CAST('0x' || substring(md5(t), 1, 8) AS BIGINT)) AS v
            FROM documents WHERE text IS NOT NULL
        ), spans AS (
            SELECT doc_id, tk,
                   list_transform(range(1, len(v) - 5 + 2),
                                  i -> list_reduce(v[i:i+4],
                                                   (acc, x) -> (acc * 131 + x) % 1000000007)) AS h
            FROM vals
        ), wins AS (
            SELECT doc_id, tk,
                   CASE WHEN len(h) >= 4 THEN
                            list_transform(range(1, len(h) - 4 + 2),
                                           i -> list_min(h[i:i+3]))
                        WHEN len(h) >= 1 THEN [list_min(h)]
                        ELSE CAST([] AS BIGINT[]) END AS fps
            FROM spans
        ), fpt AS (
            SELECT DISTINCT doc_id, u.fp FROM wins, unnest(fps) AS u(fp)
        ), fsz AS (
            SELECT doc_id, count(*) AS n_fp FROM fpt GROUP BY doc_id
        ), rare AS (
            SELECT doc_id, fp FROM (
                SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS nd FROM fpt
            ) WHERE nd <= 50
        ), wpairs AS (
            SELECT p.id_a, p.id_b, p.n_shared,
                   round(p.n_shared * 1.0 / least(sa.n_fp, sb.n_fp), 6)
                       AS est_containment
            FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
                FROM rare a JOIN rare b USING (fp)
                WHERE a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            ) p
            JOIN fsz sa ON sa.doc_id = p.id_a
            JOIN fsz sb ON sb.doc_id = p.id_b
            WHERE p.n_shared >= 1
        ), pid AS (
            SELECT DISTINCT id FROM (
                SELECT id_a AS id FROM wpairs
                UNION ALL SELECT id_b FROM wpairs
            )
        ), spn AS (
            SELECT DISTINCT w.doc_id,
                   md5(array_to_string(w.tk[i.i:i.i + 4], ' ')) AS key
            FROM wins w
            JOIN pid ON pid.id = w.doc_id,
            LATERAL unnest(range(1, len(w.tk) - 5 + 2)) i(i)
        ), zsz AS (
            SELECT doc_id, count(*) AS n_spans FROM spn GROUP BY doc_id
        ), shr AS (
            SELECT w.id_a, w.id_b, count(*) AS n_shared_spans
            FROM wpairs w
            JOIN spn a ON a.doc_id = w.id_a
            JOIN spn b ON b.doc_id = w.id_b AND b.key = a.key
            GROUP BY w.id_a, w.id_b
        )
        SELECT w.id_a, w.id_b, w.n_shared, w.est_containment,
               round(COALESCE(s.n_shared_spans, 0) * 1.0
                     / least(za.n_spans, zb.n_spans), 6) AS exact_containment,
               round(abs(w.est_containment
                         - round(COALESCE(s.n_shared_spans, 0) * 1.0
                                 / least(za.n_spans, zb.n_spans), 6)), 6)
                   AS abs_err
        FROM wpairs w
        LEFT JOIN shr s ON s.id_a = w.id_a AND s.id_b = w.id_b
        JOIN zsz za ON za.doc_id = w.id_a
        JOIN zsz zb ON zb.doc_id = w.id_b
    """,
    survey_ops="dedup calibration — winnowing containment estimator vs "
    "exact span containment (beyond-reference; the tier-6 analogue of "
    "doc_minhash_jaccard_estimate: the readout behind the k/w window "
    "choice)",
    doc="For every winnow-candidate pair: the fingerprint-set "
    "containment the tier reports, the EXACT distinct-5-gram-span "
    "containment, and |error|. Winnowing samples ~2/(w+1) of spans "
    "as local minima — the guarantee is detection, not magnitude; "
    "this is the measured gap. Exact span sets are built only for "
    "documents appearing in a pair (broadcast semi-join reduction), "
    "on the ExactSubstr family's md5 window grain.",
)
def doc_winnow_containment_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.winnow_containment_estimates(d)


_DRIFT_Q_SQL = """round(greatest(least(
                   0.5 * least(n_tok / 50.0, 1.0)
                 + 0.5 * least((n_stop * 1.0 / greatest(n_tok, 1)) * 5.0, 1.0)
                 - 0.25 * digit_ratio, 1.0), 0.0), 6)"""

#: shared doc_id-parity feature CTEs (f0 + feats) — ONE source for the
#: PSI entry's oracle and the KS entry's oracle, so the two drift
#: statistics always test the identical feature projections.
_DRIFT_FEATS_CTES = rf"""f0 AS (
            SELECT doc_id,
                   len(string_split_regex(trim(text), '\s+')) AS n_tok,
                   len(list_filter(string_split_regex(trim(text), '\s+'),
                                   x -> x IN ('the', 'a', 'of', 'and'))) AS n_stop,
                   (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
                       / greatest(length(text), 1) AS digit_ratio
            FROM documents WHERE text IS NOT NULL
        ), feats AS (
            SELECT CASE WHEN doc_id % 2 = 0 THEN 'base' ELSE 'cur' END AS side,
                   CAST(n_tok AS DOUBLE) AS n_tokens,
                   round(n_stop * 1.0 / greatest(n_tok, 1), 6) AS stopword_ratio,
                   {_DRIFT_Q_SQL} AS quality
            FROM f0
        )"""


def _drift_psi_oracle() -> str:
    """DuckDB twin of operators/text.py::feature_drift_psi over the
    doc_id-parity corpus split — the feature projections come from the
    shared _DRIFT_FEATS_CTES, the PSI chain itself from the SHARED
    generator (operators.text.psi_sql_ctes), same constants as the
    Spark builder."""
    return rf"""
        WITH {_DRIFT_FEATS_CTES},
        {X.psi_sql_ctes("feats", ("n_tokens", "quality", "stopword_ratio"))}
        SELECT * FROM psi_out ORDER BY feature
    """


@query(
    "doc_feature_drift_psi",
    oracle=_drift_psi_oracle(),
    survey_ops="training-pipeline — distribution-drift monitor "
    "(beyond-reference; Population Stability Index per feature, the "
    "standard new-crawl-vs-reference gate run before mixing a new "
    "epoch in); A4/A6 shapes over a two-pass binning",
    doc="PSI between the doc-id-even (reference) and doc-id-odd "
    "(current) corpus halves over three per-doc features (token "
    "count, stopword ratio, quality score): equal-width buckets over "
    "the BASE slice's range (out-of-range values clamp to the tail "
    "buckets — that IS the drift signal), Laplace-smoothed "
    "proportions, PSI = sum((p_cur - p_base) * ln(p_cur/p_base)) with "
    "the round(ln,9)->scaled-long cross-engine discipline, and the "
    "standard <0.1/<0.25 verdict bands from one shared constants "
    "pair. iid halves report near-zero PSI ('stable'), which the "
    "oracle verifies rather than assumes; the planted-drift pytest "
    "pins the non-trivial bands.",
)
def doc_feature_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    t = F.col("text")
    feats = d.select(
        "doc_id",
        X.token_count(t).alias("n_tokens"),
        F.round(X.stopword_ratio(t), 6).alias("stopword_ratio"),
        X.quality_score(t).alias("quality"),
    )
    return X.feature_drift_psi(
        feats.filter(F.col("doc_id") % 2 == 0),
        feats.filter(F.col("doc_id") % 2 == 1),
        ("n_tokens", "quality", "stopword_ratio"),
    )


@query(
    "doc_vocab_oov_rate",
    oracle=r"""
        WITH occ AS (
            SELECT CASE WHEN doc_id % 2 = 0 THEN 'base' ELSE 'cur' END AS side,
                   lang,
                   unnest(string_split_regex(trim(text), '\s+')) AS tok
            FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
        ), counts AS (
            SELECT lang, tok,
                   sum(CASE WHEN side = 'base' THEN 1 ELSE 0 END) AS cb,
                   sum(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS cc
            FROM occ GROUP BY lang, tok
        ), ranked AS (
            SELECT lang, tok, cb, cc,
                   (cb > 0 AND row_number() OVER (
                        PARTITION BY lang ORDER BY cb DESC, tok ASC) <= 20)
                       AS in_vocab
            FROM counts
        )
        SELECT lang,
               CAST(sum(cc) AS BIGINT) AS n_cur_occurrences,
               CAST(count(*) AS BIGINT) AS n_cur_types,
               round(sum(CASE WHEN NOT in_vocab THEN cc ELSE 0 END) * 1.0
                     / sum(cc), 6) AS oov_occurrence_rate,
               round(sum(CASE WHEN NOT in_vocab THEN 1 ELSE 0 END) * 1.0
                     / count(*), 6) AS oov_type_rate
        FROM ranked WHERE cc > 0 GROUP BY lang ORDER BY lang
    """,
    survey_ops="training-pipeline — vocabulary OOV-rate report "
    "(beyond-reference; the token-space drift twin of the PSI "
    "monitor: the check before reusing a tokenizer/vocab on a new "
    "crawl); A4/A13 shapes over one (lang, token) count shuffle",
    doc="Per-language out-of-vocabulary rates of the doc-id-odd slice "
    "against the doc-id-even slice's top-20 token vocabulary (the "
    "synthetic corpus has ~31 types per language, so a corpus-sized "
    "cap would report all-zero rates; the operator defaults to 1000) "
    "(deterministic (count DESC, token ASC) election, so the boundary "
    "tie breaks identically in both engines): OOV occurrence rate "
    "(frequency-weighted — the tokenizer's cost) and OOV type rate "
    "(vocabulary growth pressure). ONE conditional-aggregate count "
    "shuffle covers both sides; exact integer ratios rounded once.",
)
def doc_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return X.vocab_oov_report(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        top_n=20,
    )


def _ks_drift_oracle() -> str:
    """DuckDB twin of operators/text.py::ks_drift_report over the SAME
    shared feature CTEs as the PSI entry (_DRIFT_FEATS_CTES): stack the
    sides, count per (feature, value), ONE feature-partitioned window
    pass for cumulative + total counts, then the EXACT-integer
    cross-multiplied max |cb*n_c - cc*n_b| so no floating comparison
    decides the argmax; one final division and round-6."""
    return rf"""
        WITH {_DRIFT_FEATS_CTES},
        stk AS (
            SELECT side, 'n_tokens' AS feature, n_tokens AS value
            FROM feats WHERE n_tokens IS NOT NULL
            UNION ALL
            SELECT side, 'quality', quality
            FROM feats WHERE quality IS NOT NULL
            UNION ALL
            SELECT side, 'stopword_ratio', stopword_ratio
            FROM feats WHERE stopword_ratio IS NOT NULL
        ), per_v AS (
            SELECT feature, value,
                   CAST(sum(CASE WHEN side = 'base' THEN 1 ELSE 0 END)
                        AS BIGINT) AS nb_v,
                   CAST(sum(CASE WHEN side = 'cur' THEN 1 ELSE 0 END)
                        AS BIGINT) AS nc_v
            FROM stk GROUP BY feature, value
        ), cum AS (
            SELECT feature,
                   sum(nb_v) OVER (PARTITION BY feature ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cb,
                   sum(nc_v) OVER (PARTITION BY feature ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cc,
                   sum(nb_v) OVER (PARTITION BY feature) AS nb,
                   sum(nc_v) OVER (PARTITION BY feature) AS nc
            FROM per_v
        ), rep AS (
            SELECT feature, nb, nc,
                   max(abs(cb * nc - cc * nb)) AS dmax
            FROM cum GROUP BY feature, nb, nc
        )
        SELECT feature,
               CAST(nb AS BIGINT) AS n_base,
               CAST(nc AS BIGINT) AS n_cur,
               round(CAST(dmax AS DOUBLE)
                     / (CAST(nb AS DOUBLE) * CAST(nc AS DOUBLE)), 6)
                   AS ks_stat,
               round(1.358 * sqrt(CAST(nb + nc AS DOUBLE)
                                  / CAST(nb * nc AS DOUBLE)), 6)
                   AS ks_crit_05,
               CAST(dmax AS DOUBLE)
                   / (CAST(nb AS DOUBLE) * CAST(nc AS DOUBLE))
                   > 1.358 * sqrt(CAST(nb + nc AS DOUBLE)
                                  / CAST(nb * nc AS DOUBLE)) AS drift
        FROM rep ORDER BY feature
    """


@query(
    "doc_ks_drift",
    oracle=_ks_drift_oracle(),
    survey_ops="training-pipeline — two-sample Kolmogorov-Smirnov "
    "drift test (beyond-reference; the nonparametric companion to the "
    "PSI monitor: no bucket edges, no smoothing constant — a reshaped "
    "distribution moves D even when the drift hides inside one PSI "
    "bucket); W-family cumulative windows + A-family max",
    doc="Two-sample KS statistic between the doc-id-even (reference) "
    "and doc-id-odd (current) halves over the SAME three features as "
    "doc_feature_drift_psi (token count, quality, stopword ratio — "
    "one shared oracle feats CTE, so the two drift statistics can "
    "never test different projections): D = max |ECDF_base - "
    "ECDF_cur| over the pooled sample points, with the large-sample "
    "alpha=0.05 threshold 1.358*sqrt((n_b+n_c)/(n_b*n_c)). The max "
    "runs over EXACT integers (|cb*n_c - cc*n_b| on BIGINT cumulative "
    "counts) so no floating comparison decides it; one final division "
    "+ round-6. iid halves report D below the threshold ('drift' "
    "false), which the oracle verifies rather than assumes; planted "
    "shift/reflexivity pytests pin the non-trivial verdicts. One "
    "value-keyed partial-agg shuffle + one feature-partitioned window "
    "pass; |features| output rows at any corpus size (int64-exact up "
    "to ~3e9 rows per side, documented in the operator).",
)
def doc_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    t = F.col("text")
    feats = d.select(
        "doc_id",
        X.token_count(t).alias("n_tokens"),
        F.round(X.stopword_ratio(t), 6).alias("stopword_ratio"),
        X.quality_score(t).alias("quality"),
    )
    return X.ks_drift_report(
        feats.filter(F.col("doc_id") % 2 == 0),
        feats.filter(F.col("doc_id") % 2 == 1),
        ("n_tokens", "quality", "stopword_ratio"),
    )


@query(
    "doc_lang_drift_chi2",
    oracle="""
        WITH sides AS (
            SELECT CASE WHEN doc_id % 2 = 0 THEN 'base' ELSE 'cur' END AS side,
                   lang AS cat
            FROM documents WHERE lang IS NOT NULL
        ), cells AS (
            SELECT cat,
                   CAST(sum(CASE WHEN side = 'base' THEN 1 ELSE 0 END)
                        AS BIGINT) AS ob,
                   CAST(sum(CASE WHEN side = 'cur' THEN 1 ELSE 0 END)
                        AS BIGINT) AS oc
            FROM sides GROUP BY cat
        ), scaled AS (
            SELECT sum(ob) OVER () AS n_base,
                   sum(oc) OVER () AS n_cur,
                   CAST(round(round(
                       (CAST(ob AS DOUBLE)
                        - CAST(sum(ob) OVER () AS DOUBLE)
                          * CAST(ob + oc AS DOUBLE)
                          / (CAST(sum(ob) OVER () AS DOUBLE)
                             + CAST(sum(oc) OVER () AS DOUBLE)))
                       * (CAST(ob AS DOUBLE)
                          - CAST(sum(ob) OVER () AS DOUBLE)
                            * CAST(ob + oc AS DOUBLE)
                            / (CAST(sum(ob) OVER () AS DOUBLE)
                               + CAST(sum(oc) OVER () AS DOUBLE)))
                       / (CAST(sum(ob) OVER () AS DOUBLE)
                          * CAST(ob + oc AS DOUBLE)
                          / (CAST(sum(ob) OVER () AS DOUBLE)
                             + CAST(sum(oc) OVER () AS DOUBLE)))
                       + (CAST(oc AS DOUBLE)
                          - CAST(sum(oc) OVER () AS DOUBLE)
                            * CAST(ob + oc AS DOUBLE)
                            / (CAST(sum(ob) OVER () AS DOUBLE)
                               + CAST(sum(oc) OVER () AS DOUBLE)))
                         * (CAST(oc AS DOUBLE)
                            - CAST(sum(oc) OVER () AS DOUBLE)
                              * CAST(ob + oc AS DOUBLE)
                              / (CAST(sum(ob) OVER () AS DOUBLE)
                                 + CAST(sum(oc) OVER () AS DOUBLE)))
                         / (CAST(sum(oc) OVER () AS DOUBLE)
                            * CAST(ob + oc AS DOUBLE)
                            / (CAST(sum(ob) OVER () AS DOUBLE)
                               + CAST(sum(oc) OVER () AS DOUBLE))), 6)
                       * 1000000.0, 0) AS BIGINT) AS t_s
            FROM cells
        ), agg AS (
            SELECT n_base, n_cur,
                   round(sum(t_s) / 1000000.0, 6) AS chi2
            FROM scaled GROUP BY n_base, n_cur
        )
        SELECT 'lang' AS column,
               CAST(n_base AS BIGINT) AS n_base,
               CAST(n_cur AS BIGINT) AS n_cur,
               5 AS n_categories,
               4 AS df,
               chi2,
               round(sqrt(chi2 / CAST(n_base + n_cur AS DOUBLE)), 6)
                   AS cramers_v,
               round(exp(-(chi2 / 2.0)) * (1.0 + chi2 / 2.0), 6) AS p_value,
               round(exp(-(chi2 / 2.0)) * (1.0 + chi2 / 2.0), 6) < 0.05
                   AS drift
        FROM agg
    """,
    survey_ops="training-pipeline — CATEGORICAL drift test "
    "(beyond-reference; chi-square homogeneity of the language mix "
    "between corpus halves — the categorical member of the drift "
    "family: PSI and KS cover numeric marginals, this one fires when "
    "a new crawl's language/source composition shifts); A4/A6 + "
    "global-window-over-aggregate shapes",
    doc="2x5 side-by-language contingency chi-square between the "
    "doc-id-even (reference) and doc-id-odd (current) halves: exact "
    "BIGINT cells/margins, per-cell (O-E)^2/E terms rounded 6 and "
    "scaled x1e6 into LONGs before the sum (order-independent — the "
    "PSI discipline), Cramer's V = sqrt(chi2/N) (min(r-1,c-1) = 1 "
    "for two slices), df = 4 and the closed-form even-df survival "
    "p = exp(-x/2)*(1 + x/2) with the rounded chi2 (no libm pow; "
    "the langid ln/exp rounding precedent). The oracle hardcodes the "
    "df=4 closed form the operator unrolls generically; n_categories "
    "= 5 is asserted by the hash, not assumed. iid halves accept "
    "homogeneity (p >> 0.05), which the oracle verifies; the planted "
    "pytest pins rejection on a shifted mix. One category-keyed "
    "partial-agg shuffle; the global windows run over the 5-row "
    "aggregate; ONE output row.",
)
def doc_lang_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return X.categorical_drift_chi2(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        "lang",
    )
