"""Text-analysis operators over the ``documents`` table.

Beyond-reference surface (BASELINE.json north star): token counting,
quality scoring, language-ID heuristic, document fingerprinting —
the text plane of a large-scale training-data pipeline. All JVM-side
``pyspark.sql.functions`` expressions (whole-stage codegen, no Python
in the hot path); the only reference text operator, VADER sentiment
(reference scripts/03_add_sentiment.py:10,28), lives in
``functions/sentiment.py`` as a pandas UDF.

Scale notes: every operator here is a narrow per-row projection — no
shuffle at all — so it scales linearly with input splits. Fingerprint
dup-counting shuffles once on the 128-bit fingerprint (uniformly
distributed, no skew).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark.operators.arrow_docs import char_bigram_counts_arrow
from streamprocessing_kafka_finlight_news_dashboard_spark.session import materialize, persisted, shuffle_partitions

# Whitespace tokenization — matches the reference's implicit
# split-on-space text handling and is portable to the DuckDB oracle
# (string_split_regex with the same pattern).
_WS = r"\s+"


def tokens(text: Column) -> Column:
    """Whitespace tokens of trimmed text (BPE-ish regex split)."""
    return F.split(F.trim(text), _WS)


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def char_count(text: Column) -> Column:
    return F.length(text).cast("long")


def avg_token_len(text: Column) -> Column:
    """Mean token length = non-space chars / token count."""
    compact = F.length(F.regexp_replace(text, _WS, ""))
    return compact.cast("double") / F.greatest(token_count(text), F.lit(1)).cast("double")


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = ("the", "a", "of", "and")) -> Column:
    """Fraction of tokens that are (English-ish) stopwords — one term of
    the reference-style quality score."""
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def digit_ratio(text: Column) -> Column:
    digits = F.length(text) - F.length(F.regexp_replace(text, r"[0-9]", ""))
    return digits.cast("double") / F.greatest(F.length(text), F.lit(1)).cast("double")


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1]: length band + stopword presence
    − digit noise. Deterministic, closed-form, oracle-portable."""
    n_tok = token_count(text)
    length_term = F.least(n_tok.cast("double") / F.lit(50.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(text) * 5.0, F.lit(1.0))
    digit_term = digit_ratio(text)
    score = 0.5 * length_term + 0.5 * stop_term - 0.25 * digit_term
    return F.round(F.greatest(F.least(score, F.lit(1.0)), F.lit(0.0)), 6)


#: PII-shaped span patterns for corpus scrubbing. Java regex syntax
#: (these run JVM-side in regexp_count/regexp_replace — no UDF).
#: Ordered: more specific shapes first so e.g. an SSN is counted as an
#: SSN, then redacted before the greedier phone pattern can see it.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"(?<![\w.-])\+?\d[\d ().-]{7,}\d\b",
}


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Redact PII-shaped spans from a text corpus — the scrub step a
    training-data pipeline runs before packing: each pattern family is
    replaced by a typed placeholder (``<EMAIL>``, ``<SSN>``, …) with
    per-family hit counts so the redaction volume is auditable.

    Pure projection: per-family ``regexp_count`` plus a chained
    ``regexp_replace``, all JVM-side regex inside whole-stage codegen —
    no UDF, no shuffle, embarrassingly parallel at any corpus size.
    Counts are taken in the same pattern ORDER as the replacements
    (each family counts on the text as already scrubbed by earlier
    families), so overlapping shapes are attributed to exactly one
    family and the counts always sum to the number of placeholders in
    the output text.
    """
    pats = patterns or PII_PATTERNS
    scrubbed = F.col(text_col)
    count_cols = []
    for name, pat in pats.items():
        count_cols.append(
            F.regexp_count(scrubbed, F.lit(pat)).alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{name.upper()}>")
    out = df.select(F.col(id_col), *count_cols, scrubbed.alias("scrubbed_text"))
    total = None
    for name in pats:
        c = F.col(f"n_{name}")
        total = c if total is None else total + c
    return out.withColumn("n_redactions", total)


def bigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    smooth_k: float = 0.5,
) -> DataFrame:
    """CCNet-style language-model quality scoring: train a token
    bigram model on the corpus itself (add-k smoothed), then score
    every document by the mean log-probability of its bigram
    OCCURRENCES — low-probability documents are boilerplate/garbage
    candidates, exactly the LM filter the CCNet pipeline (public,
    Wenzek et al. 2020) applies with a reference-corpus model.

    P(w2 | w1) = (C(w1,w2) + k) / (C(w1) + k·V), V = |vocab|.

    Execution shape: the bigram grain is built once (doc-keyed
    posexplode + lead window, same recipe as shingle_rows but keeping
    occurrence multiplicity); model counts are two uniform-key
    groupBys over that grain; scoring joins occurrences to the model
    on (w1, w2) — at 100 TB a shuffle join on near-uniform token-pair
    keys, at small SF broadcast by AQE — and reduces per document.
    Training on the corpus being scored is the self-scoring variant;
    pass a reference model by pre-computing counts if needed.

    Returns (id, n_bigrams, avg_logprob round-6, perplexity round-3)
    — higher avg_logprob = more typical text.
    """
    spark = df.sparkSession
    n_part = shuffle_partitions(spark)
    tok = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col).alias("id"), F.posexplode(tokens(F.col(text_col))).alias("pos", "w1")
    )
    w = W.partitionBy("id").orderBy("pos")
    # FOUR consumers read the grain (the eager vocab count, the two
    # model groupBys, and the scoring join) — aliased branches defeat
    # ReusedExchange, so without the checkpoint the tokenize+lead
    # subtree executes four times (same failure mode as the r10
    # knn_label_consensus fix). Narrow rows: (id, w1, w2).
    grain = (
        tok.withColumn("w2", F.lead("w1").over(w))
        .filter(F.col("w2").isNotNull())
        .select("id", "w1", "w2")
        .transform(materialize)
    )
    uni = grain.groupBy("w1").agg(F.count("*").alias("c1"))
    big = grain.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    vocab = grain.select("w1").union(grain.select("w2")).distinct().count()
    model = big.join(uni, "w1").select(
        "w1",
        "w2",
        F.log(
            (F.col("c12") + F.lit(smooth_k))
            / (F.col("c1") + F.lit(smooth_k) * F.lit(float(vocab)))
        ).alias("lp"),
    )
    scored = grain.join(model, ["w1", "w2"]).groupBy("id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )
    return scored.select(
        F.col("id").alias(id_col),
        "n_bigrams",
        "avg_logprob",
        F.round(F.exp(-F.col("avg_logprob")), 3).alias("perplexity"),
    )


def fingerprint(text: Column) -> Column:
    """128-bit content fingerprint as lowercase hex (md5 of normalized
    text). md5 is bit-identical across Spark and the DuckDB oracle;
    for pure-Spark scale paths xxhash64 is cheaper (used in dedup.py)."""
    return F.md5(F.lower(F.trim(text)))


#: Rabin–Karp parameters for the rolling window fingerprint. Token
#: values come from the first 8 hex chars of md5 (< 2^32), so with
#: MOD < 2^31 the accumulator acc*BASE + v stays < 2^38 — no long
#: overflow on either engine.
_RK_BASE = 131
_RK_MOD = 1_000_000_007
_RK_WINDOW = 5


def _token_values(text: Column) -> Column:
    """Portable numeric value per token: first 8 hex chars of md5 as a
    long. md5 is bit-identical across Spark and DuckDB; Spark's native
    hash()/xxhash64 are not, so they stay out of oracle-checked paths."""
    return F.transform(
        tokens(text),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
    )


def rolling_window_hashes(text: Column, window: int = _RK_WINDOW) -> Column:
    """Rabin–Karp polynomial hash of every ``window``-token span:
    h(i) = fold(acc*BASE + v) mod MOD over tokens[i, i+window). The
    winnowing-style document fingerprint keeps the min over spans —
    shared spans between documents produce equal hashes, so matching
    min-fingerprints are copy/boilerplate candidates.

    Documents shorter than ``window`` tokens produce an EMPTY array
    (min → NULL downstream): without the guard, Spark's
    ``sequence(1, n)`` with n ≤ 0 counts DOWN by default (1, 0, …)
    and the 0 start index crashes ``slice`` at runtime — the DuckDB
    twin's ``range(1, n+1)`` is simply empty, so the guard is also
    what keeps the two engines' semantics identical."""
    vals = _token_values(text)
    spans = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(vals) - window + 1, F.lit(1))),
        lambda i: F.aggregate(
            F.slice(vals, i, window),
            F.lit(0).cast("long"),
            lambda acc, v: (acc * _RK_BASE + v) % _RK_MOD,
        ),
    )
    return F.when(F.size(vals) >= window, spans).otherwise(F.slice(spans, 1, 0))


#: Winnowing guarantee window (Schleimer et al. 2003, "Winnowing:
#: Local Algorithms for Document Fingerprinting" — public): any shared
#: span of at least window + w - 1 tokens is guaranteed to share a
#: selected fingerprint.
_WINNOW_W = 4


def winnow_fingerprints(
    text: Column, window: int = _RK_WINDOW, w: int = _WINNOW_W
) -> Column:
    """Winnowed fingerprint SET of a document: the distinct local
    minima of each ``w``-wide window over the rolling k-token span
    hashes (MOSS-style local fingerprinting — selects ~2/(w+1) of the
    spans, position-robust, so partially overlapping documents still
    share fingerprints; the whole-document complement of the MinHash
    family's global similarity estimate).

    Degenerate grades: fewer spans than ``w`` → the single global min
    (every doc with ≥ 1 span keeps ≥ 1 fingerprint, the algorithm's
    guarantee); no spans at all (< k tokens) → empty set."""
    h = rolling_window_hashes(text, window)
    wins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(h) - w + 1, F.lit(1))),
        lambda i: F.array_min(F.slice(h, i, w)),
    )
    return (
        F.when(F.size(h) >= w, F.array_distinct(wins))
        .when(F.size(h) >= 1, F.array(F.array_min(h)))
        .otherwise(F.slice(h, 1, 0))
    )


def line_dup_fracs(text: Column, sep: str = "\n") -> tuple[Column, Column]:
    """(dup_line_frac, dup_line_char_frac) — the Gopher repetition
    rules at line grain (Rae et al. 2021 Table A1): the fraction of
    lines that are repeat occurrences of an earlier line, and the
    fraction of line characters those repeats carry. Pure zero-shuffle
    array expressions; pass sep='\\n\\n' for the paragraph grade.
    Repeats-beyond-first is total − distinct, so a line occurring
    3× contributes 2 duplicate occurrences — the published semantics.

    ``sep`` is a LITERAL separator (regex-escaped before the split) so
    the Spark split and the DuckDB twin's literal string_split agree
    for any separator, including regex metacharacters."""
    lines = F.split(text, re.escape(sep))
    n_lines = F.size(lines)
    n_dup = n_lines - F.size(F.array_distinct(lines))
    total_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    distinct_chars = F.aggregate(
        F.array_distinct(lines), F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    dup_frac = F.round(
        n_dup.cast("double") / F.greatest(n_lines, F.lit(1)), 6
    )
    dup_char_frac = F.round(
        (total_chars - distinct_chars).cast("double")
        / F.greatest(total_chars, F.lit(1)),
        6,
    )
    return dup_frac, dup_char_frac


#: Gopher repetition thresholds (Rae et al. 2021 Table A1 — public):
#: a document is repetition-clean iff every signal is at or under its
#: cap. top-n-gram = fraction of non-space characters covered by the
#: most frequent word n-gram; dup-n-gram = fraction covered by ALL
#: n-grams occurring ≥ 2× (the standard overlapping-count
#: approximation used by the public reimplementations).
REPETITION_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}
_REP_TOP_NS = (2, 3, 4)
_REP_DUP_NS = (5, 6, 7, 8, 9, 10)


def repetition_sql_ctes(src: str, prefix: str = "rep_") -> str:
    """DuckDB CTE fragment computing the repetition battery over the
    relation ``src`` (columns doc_id, text): defines ``{p}ls``
    (doc_id, n_tok, n_lines, dup_line_frac, dup_line_char_frac) and
    ``{p}wide`` (doc_id + the nine coalesced n-gram coverage
    fractions). ONE generator shared by the standalone
    doc_repetition_rules oracle and the curation flagship's gate CTE,
    derived from the same _REP_* constants as the Spark builder, so
    the three can never drift."""
    p = prefix
    top_ns, dup_ns = _REP_TOP_NS, _REP_DUP_NS
    values = ",".join(f"({n})" for n in top_ns + dup_ns)
    top_cols = "\n                   ".join(
        f"coalesce(max(CASE WHEN n = {n} THEN"
        f" round(c * charlen * 1.0 / nonspace, 6) END), 0.0)"
        f" AS top_{n}gram_char_frac," for n in top_ns
    )
    dup_cols = "\n                   ".join(
        f"coalesce(max(CASE WHEN n = {n} THEN"
        f" round(coalesce(dup_chars, 0) * 1.0 / nonspace, 6) END), 0.0)"
        f" AS dup_{n}gram_char_frac," for n in dup_ns
    ).rstrip(",")
    all_fracs = [f"top_{n}gram_char_frac" for n in top_ns] + [
        f"dup_{n}gram_char_frac" for n in dup_ns
    ]
    wide_cols = ",\n                   ".join(
        f"coalesce({c}, 0.0) AS {c}" for c in all_fracs
    )
    return rf"""{p}t AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\s+') AS tk,
                   length(regexp_replace(text, '\s', '', 'g')) AS nonspace,
                   string_split(text, chr(10)) AS lines
            FROM {src} WHERE text IS NOT NULL
        ), {p}ls AS (
            SELECT doc_id,
                   CAST(len(tk) AS BIGINT) AS n_tok,
                   CAST(len(lines) AS BIGINT) AS n_lines,
                   round((len(lines) - len(list_distinct(lines))) * 1.0
                         / greatest(len(lines), 1), 6) AS dup_line_frac,
                   round((coalesce(list_sum(list_transform(lines, x -> length(x))), 0)
                          - coalesce(list_sum(list_transform(list_distinct(lines),
                                                             x -> length(x))), 0)) * 1.0
                         / greatest(coalesce(list_sum(list_transform(lines,
                                                                     x -> length(x))), 0),
                                    1), 6) AS dup_line_char_frac
            FROM {p}t
        ), {p}g AS (
            SELECT doc_id, nonspace, n.n AS n,
                   array_to_string(tk[i.i:i.i + n.n - 1], ' ') AS gram
            FROM {p}t, (VALUES {values}) n(n),
                 LATERAL unnest(range(1, len(tk) - n.n + 2)) i(i)
        ), {p}c AS (
            SELECT doc_id, nonspace, n, gram, count(*) AS c
            FROM {p}g GROUP BY doc_id, nonspace, n, gram
        ), {p}r AS (
            SELECT doc_id, nonspace, n, c,
                   length(gram) - (n - 1) AS charlen,
                   row_number() OVER (
                       PARTITION BY doc_id, n ORDER BY c DESC, gram ASC) AS rn,
                   sum(CASE WHEN c >= 2 THEN c * (length(gram) - (n - 1)) END)
                       OVER (PARTITION BY doc_id, n) AS dup_chars
            FROM {p}c
        ), {p}wide0 AS (
            SELECT doc_id,
                   {top_cols}
                   {dup_cols}
            FROM {p}r WHERE rn = 1 GROUP BY doc_id
        ), {p}wide AS (
            -- complete over every {p}ls doc: a document with fewer
            -- than 2 tokens has NO gram rows at all, so the grade
            -- aggregation alone would drop it; its true coverage
            -- fractions are 0.0 (nothing repeats), so it must PASS
            -- the gate, not vanish from the report
            SELECT l.doc_id,
                   {wide_cols}
            FROM {p}ls l LEFT JOIN {p}wide0 USING (doc_id)
        )"""


def repetition_gate_sql() -> str:
    """The pass conjunction over the {p}ls ⋈ {p}wide column names —
    generated from REPETITION_THRESHOLDS (the same dict the Spark gate
    folds over)."""
    return " AND ".join(
        f"{col} <= {cap!r}" for col, cap in REPETITION_THRESHOLDS.items()
    )


def repetition_report(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Gopher repetition battery: line-duplication
    fractions plus, for word n-grams, the top-gram character coverage
    (n = 2..4, lexicographically-smallest gram among count ties so
    both engines pick one winner) and the duplicated-gram character
    coverage (n = 5..10), each against its published threshold, with
    the conjunction as ``repetition_pass``.

    Plan shape: the shingle family's measured fast path (see the
    module docstring of operators/dedup.py — nested transform+slice
    HOFs run interpreted and were 8× slower): explicit-count
    repartition on doc id (so the explode itself is parallel, not one
    pre-exchange task) → posexplode → ONE per-doc window pass carrying
    the 9 leads, all nine gram grades + completeness flags built in a
    single projection (a filter between window expressions would split
    the Window node — same trap as _window_occurrences), stacked to
    (doc, n, gram) rows. Then one partial-aggregated count shuffle on
    (doc, n, gram), one (doc, n) window carrying both the top-1 rank
    and the duplicated-char sum over the same exchange, a
    conditional-aggregate pivot back to doc grain and a doc-grain join
    onto the zero-shuffle line stats. Character coverage is
    count × gram-chars over non-space chars — exact integer products
    divided once at the end, so Spark and the DuckDB twin round the
    same double."""
    from pyspark.sql import Window as W

    tk = tokens(F.col(text_col))
    dup_line_frac, dup_line_char_frac = line_dup_fracs(F.col(text_col))
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        tk.alias("tk"),
        F.length(F.regexp_replace(F.col(text_col), _WS, "")).alias("nonspace"),
        F.size(tk).cast("long").alias("n_tok"),
        F.size(F.split(F.col(text_col), "\n")).cast("long").alias("n_lines"),
        dup_line_frac.alias("dup_line_frac"),
        dup_line_char_frac.alias("dup_line_char_frac"),
    )

    all_ns = _REP_TOP_NS + _REP_DUP_NS
    n_part = shuffle_partitions(df.sparkSession)
    tok = base.repartition(n_part, F.col(id_col)).select(
        id_col, "nonspace", F.posexplode(F.col("tk")).alias("pos", "tok")
    )
    w_doc = W.partitionBy(id_col).orderBy("pos")
    leads = {j: F.lead("tok", j).over(w_doc) for j in range(1, max(all_ns))}
    gram_cols = []
    for n in all_ns:
        gram = F.concat_ws(" ", F.col("tok"), *[leads[j] for j in range(1, n)])
        gram_cols += [
            gram.alias(f"_g_{n}"),
            leads[n - 1].isNotNull().alias(f"_f_{n}"),
        ]
    proj = tok.select(id_col, "nonspace", *gram_cols)
    stack_expr = (
        f"stack({len(all_ns)}, "
        + ", ".join(f"{n}, _g_{n}, _f_{n}" for n in all_ns)
        + ") AS (n, gram, _full)"
    )
    ex = (
        proj.selectExpr(id_col, "nonspace", stack_expr)
        .filter(F.col("_full"))
        .drop("_full")
    )
    counts = ex.groupBy(id_col, "nonspace", "n", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    charlen = F.length("gram") - (F.col("n") - 1)
    part = W.partitionBy(id_col, "n")
    ranked = counts.select(
        id_col,
        "nonspace",
        "n",
        "c",
        charlen.alias("charlen"),
        F.row_number()
        .over(part.orderBy(F.desc("c"), F.asc("gram")))
        .alias("rn"),
        F.sum(F.when(F.col("c") >= 2, F.col("c") * charlen))
        .over(part)
        .alias("dup_chars"),
    ).filter(F.col("rn") == 1)
    frac = lambda num: F.round(num.cast("double") / F.col("nonspace"), 6)  # noqa: E731
    wide = ranked.groupBy(id_col).agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("n") == n, frac(F.col("c") * F.col("charlen")))),
                F.lit(0.0),
            ).alias(f"top_{n}gram_char_frac")
            for n in _REP_TOP_NS
        ],
        *[
            F.coalesce(
                F.max(
                    F.when(
                        F.col("n") == n,
                        frac(F.coalesce(F.col("dup_chars"), F.lit(0))),
                    )
                ),
                F.lit(0.0),
            ).alias(f"dup_{n}gram_char_frac")
            for n in _REP_DUP_NS
        ],
    )
    # LEFT join + 0.0 fill: a document with <2 tokens produces no gram
    # rows at all (every lead is null), so `wide` has no row for it —
    # an inner join would silently drop it from the report (and the
    # flagship gate would treat it as failing). Its true coverage
    # fractions are 0.0; it must pass. The shared SQL CTE generator
    # ({p}wide) encodes the same completion.
    out = base.drop("tk", "nonspace").join(wide, id_col, "left")
    frac_names = [f"top_{n}gram_char_frac" for n in _REP_TOP_NS] + [
        f"dup_{n}gram_char_frac" for n in _REP_DUP_NS
    ]
    out = out.na.fill({c: 0.0 for c in frac_names})
    gate = F.lit(True)
    for col, cap in REPETITION_THRESHOLDS.items():
        gate = gate & (F.col(col) <= cap)
    return out.withColumn("repetition_pass", gate)


#: Language-ID profile size: top-N character bigrams per language.
_LANGID_TOP = 64


def char_bigram_counts(
    df: DataFrame, text_col: str = "text", id_cols: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """Per-document character-bigram counts (lowercased, whitespace
    kept — word-boundary bigrams carry signal). posexplode over the
    bigram positions then a count groupBy keyed by (doc, bigram):
    uniform keys, linear in corpus bytes. Explicit repartition before
    the fan-out — see langid_predictions."""
    n_part = shuffle_partitions(df.sparkSession)
    # Build the bigram ARRAY in-row and explode that, rather than
    # posexploding positions and substring-ing after the Generate: the
    # generated rows then carry 2-char strings instead of the whole
    # document text (3.5× faster at sf0.1, and the per-row width no
    # longer scales with document length).
    # greatest(..., 1) + length-2 filter: Spark's sequence(a, b)
    # DESCENDS when b < a, so empty/1-char text would generate
    # sequence(1, -1) = [1, 0, -1] and three phantom '' bigrams —
    # where both DuckDB's range() and the Arrow twin correctly emit
    # none (caught by tests/test_arrow_tiers.py nasty-strings case).
    exploded = (
        df.repartition(n_part, *[F.col(c) for c in id_cols])
        .select(*id_cols, F.lower(F.col(text_col)).alias("_lt"))
        .select(
            *id_cols,
            F.explode(
                F.expr(
                    "filter(transform(sequence(1, greatest(length(_lt) - 1, 1)),"
                    " i -> substring(_lt, i, 2)), x -> length(x) = 2)"
                )
            ).alias("bg"),
        )
    )
    return exploded.groupBy(*id_cols, "bg").agg(F.count(F.lit(1)).alias("cnt"))


def _score_bigram_counts(counts, prof):
    """Dot-product classifier decision for ONE document's bigram
    Counter against the broadcast profile list — extracted so the
    standalone scoring pass and the fused dual pass
    (:func:`langid_dual_predictions`) run the IDENTICAL loop. Returns
    (best_lang, best_score); best_lang None when no profile shares a
    bigram (score 0 → no prediction row, the inner-join parity rule)."""
    best_lang, best_score = None, 0
    for plang, pmap in prof:
        s = sum(counts[bg] * pc for bg, pc in pmap.items() if bg in counts)
        if s > best_score:
            best_lang, best_score = plang, s
    return best_lang, best_score


def _score_nb_counts(counts, mconsts, mlp, mp0, mmargin):
    """Naive-Bayes decision for ONE document's bigram Counter against
    the broadcast scaled-BIGINT model — extracted for the same
    single-loop-shared-by-both-passes discipline. Caller guarantees
    ``counts`` is non-empty."""
    n = sum(counts.values())
    best_lang, best_s = None, None
    for plang, prior_s, pen_s, _nd in mconsts:
        pmap = mlp.get(plang, {})
        s = prior_s - n * pen_s + sum(
            c * pmap[bg] for bg, c in counts.items() if bg in pmap
        )
        if plang == mp0:
            s += mmargin * n
        if best_s is None or s > best_s:
            best_lang, best_s = plang, s
    return best_lang, best_s


def _langid_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
    top_n: int = _LANGID_TOP,
    profile_sample_mod: int = 10,
) -> list:
    """The dot-product classifier's model build (per-language top-n
    bigram profiles from the deterministic 1-in-mod sample), returned
    as the driver-side sorted profile list the scoring pass
    broadcasts. Extracted verbatim from :func:`langid_predictions` so
    the fused dual pass builds the identical model."""
    sample = df.filter((F.col(id_col) % profile_sample_mod) == 0)
    sample_dbg = char_bigram_counts_arrow(
        sample, text_col=text_col, id_cols=(id_col, label_col)
    )
    profile_rows = (
        sample_dbg.groupBy(label_col, "bg")
        .agg(F.sum("cnt").alias("pcnt"))
        .withColumn(
            "prank",
            F.row_number().over(
                W.partitionBy(label_col).orderBy(F.desc("pcnt"), F.asc("bg"))
            ),
        )
        .filter(F.col("prank") <= top_n)
        .select(F.col(label_col).alias("plang"), "bg", "pcnt")
        .collect()
    )
    profiles: dict[str, dict[str, int]] = {}
    for r in profile_rows:
        profiles.setdefault(r["plang"], {})[r["bg"]] = r["pcnt"]
    return sorted(profiles.items())  # asc language order = the tie-break


def langid_predictions(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
    top_n: int = _LANGID_TOP,
    profile_sample_mod: int = 10,
) -> DataFrame:
    """Character-n-gram language identification: build per-language
    bigram profiles from a deterministic 1-in-``profile_sample_mod``
    sample of the labeled corpus (top ``top_n`` bigrams by frequency),
    score every document by the INTEGER dot product of its bigram
    counts against each profile, predict the argmax language.

    Integer scores make the result bit-exact against the oracle — no
    float tie ambiguity. Two-phase plan: (1) per-language profiles
    from a deterministic 1-in-``profile_sample_mod`` sample (``doc_id
    % mod = 0`` — the oracle mirrors it) — language profiles converge
    on a tiny fraction of a big corpus, so this branch reads 1/mod of
    the data; the resulting ≤ |langs|·top_n rows are collected and
    sc.broadcast — the SAME driver round-trip a BroadcastExchange
    performs for a broadcast hash join, with the same bounded size.
    (2) ONE Arrow pass over the corpus computes each document's bigram
    counter, its integer dot product against every profile, and the
    argmax — emitting final prediction rows directly. No exploded
    occurrence relation, no 1.4M-row join, no per-doc window: the only
    wide-data stages are the explicit-count repartition and the batch
    op itself (measured 12.6 s → ~2 s at sf0.1).

    Inner-join parity with the oracle: a (doc, lang) pair appears only
    if the document shares ≥1 bigram with that language's profile
    (score > 0 ⟺ shared, counts are positive); ties break to the
    lexicographically smallest language, matching the oracle's
    row_number ordering."""
    import pandas as pd

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.arrow_docs import bigram_counter, scatter_rr

    bprofiles = df.sparkSession.sparkContext.broadcast(
        _langid_profile(df, text_col, id_col, label_col, top_n, profile_sample_mod)
    )
    schema = (
        f"{id_col} bigint, {label_col} string, pred_lang string, "
        "score bigint, is_match boolean"
    )

    def op(batches):
        prof = bprofiles.value
        cols = [id_col, label_col, "pred_lang", "score", "is_match"]
        for pdf in batches:
            rows = []
            for doc_id, lab, text in zip(pdf[id_col], pdf[label_col], pdf[text_col]):
                counts = bigram_counter(text)
                best_lang, best_score = _score_bigram_counts(counts, prof)
                if best_lang is not None:
                    rows.append(
                        (doc_id, lab, best_lang, best_score, best_lang == lab)
                    )
            yield pd.DataFrame(rows, columns=cols)

    return scatter_rr(df.select(id_col, label_col, text_col)).mapInPandas(op, schema)


#: Scaled-BIGINT Naive-Bayes discipline: log-probs are rounded to 9dp
#: (the cross-engine ln-parity window proven by the temperature
#: mixture) then scaled ×1e9 into exact BIGINTs, so every score is an
#: integer sum — order-independent, engine-identical, no float-tie
#: ambiguity in the argmax.
_NB_LP_SCALE = 1_000_000_000

#: Margin (scaled nats PER BIGRAM) the evidence must beat before the
#: prediction moves off the prior-argmax language: a MAP decision rule
#: with an abstain-to-prior band that absorbs profile-estimation noise.
#: On a corpus whose labels carry no textual signal (the synthetic
#: testdata — measured: holdout NB 0.317 < majority 0.403) the margin
#: keeps the classifier AT the Bayes ceiling (the prior argmax) instead
#: of below it; on real signal (the pytest fixture) per-bigram evidence
#: of ~1 nat clears 0.02 easily.
_NB_MARGIN_SCALED = 20_000_000


def _nb_langid_model(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
) -> tuple:
    """The Naive-Bayes model build — (consts, lp, p0) exactly as
    :func:`nb_langid_predictions` broadcast them (extracted so the
    fused dual pass builds the identical model): per-language scaled
    log-prob map over seen bigrams, the (plang, prior_s, pen_s, nd)
    constant rows, and the prior-argmax language."""
    base = df.filter(F.col(text_col).isNotNull() & F.col(label_col).isNotNull())
    dbg = char_bigram_counts_arrow(
        base, text_col=text_col, id_cols=(id_col, label_col)
    ).transform(materialize)

    def _scaled(col: Column) -> Column:
        return F.round(F.round(F.log(col), 9) * _NB_LP_SCALE, 0).cast("long")

    # prof feeds TWO collect actions (the lp_rows collect and vocab_n
    # inside the consts collect) and lang_stats feeds two branches of
    # the consts query (its own select + total_docs) — without the
    # checkpoints each consumer re-aggregates the corpus-sized
    # materialized bigram grain (r16, guide §1.2/§5: the model build
    # paid ~4 grain-wide aggregate passes where 2 suffice; both
    # checkpointed frames are model-sized — ≤ |langs|·V_seen and
    # |langs| rows).
    prof = (
        dbg.groupBy(label_col, "bg")
        .agg(F.sum("cnt").alias("k"))
        .transform(materialize)
    )
    vocab_n = prof.agg(F.countDistinct("bg").cast("long").alias("v"))
    lang_stats = (
        dbg.groupBy(label_col)
        .agg(F.countDistinct(id_col).alias("nd"), F.sum("cnt").alias("tot"))
        .transform(materialize)
    )
    total_docs = lang_stats.agg(F.sum("nd").alias("total_nd"))
    lp_rows = prof.select(
        F.col(label_col).alias("plang"),
        "bg",
        _scaled((F.col("k") + 1).cast("double")).alias("lp1_s"),
    ).collect()
    const_rows = (
        lang_stats.crossJoin(F.broadcast(vocab_n))
        .crossJoin(F.broadcast(total_docs))
        .select(
            F.col(label_col).alias("plang"),
            "nd",
            _scaled(
                F.col("nd").cast("double") / F.col("total_nd").cast("double")
            ).alias("prior_s"),
            _scaled((F.col("tot") + F.col("v")).cast("double")).alias("pen_s"),
        )
        .collect()
    )
    consts = sorted(
        (r["plang"], r["prior_s"], r["pen_s"], r["nd"]) for r in const_rows
    )
    # prior argmax: most documents, ties to the smallest language
    # (mirrors the oracle's ORDER BY nd DESC, plang LIMIT 1)
    _max_nd = max(t[3] for t in consts)
    p0 = min(t[0] for t in consts if t[3] == _max_nd)
    lp: dict[str, dict[str, int]] = {}
    for r in lp_rows:
        lp.setdefault(r["plang"], {})[r["bg"]] = r["lp1_s"]
    return consts, lp, p0


def nb_langid_predictions(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
    margin_scaled: int = _NB_MARGIN_SCALED,
) -> DataFrame:
    """Multinomial Naive-Bayes language identification over character
    bigrams — the statistically principled successor of
    :func:`langid_predictions`, whose raw frequency dot product has no
    normalization and therefore degenerates to always predicting the
    largest-profile language on any imbalanced corpus (measured: it
    scores exactly the majority prior on the synthetic testdata, and
    the pytest fixture shows it stuck at majority on data WITH signal).

    Score per (doc, lang), all scaled-BIGINT integers:

        s = prior + Σ_bg c(bg)·ln(k_lang(bg)+1) − n_doc·ln(tot_lang+V)
            [+ margin·n_doc when lang is the prior argmax]

    the Laplace-smoothed multinomial log-likelihood DECOMPOSED so the
    per-(lang, bigram) model only needs rows for bigrams a language has
    actually seen (absent → ln(1) = 0): no |langs|×V grid join, no
    cross product. The margin term is a MAP decision band: evidence
    must beat the prior argmax by ``margin_scaled`` nats per bigram to
    flip the prediction, which absorbs profile sampling noise on
    zero-signal labels while real per-bigram evidence (~1 nat on the
    fixture) clears it immediately.

    Plan shape: the (doc, lang, bg, cnt) grain is built once (Arrow
    batch op, explicit scatter) and localCheckpointed — THREE model
    aggregates consume it (per-lang-bigram counts, per-lang totals +
    doc counts, vocab size) and aliased branches would otherwise
    re-execute the tokenize pass per consumer. The model is
    |langs|·V_seen rows with V bounded by the char-bigram space
    (≈1e4 for latin corpora; for unicode-wide corpora cap profiles at
    top-K bigrams per language exactly as the dot-product classifier
    does); the scaled log-probs are computed JVM-SIDE on that tiny
    frame (round-9 ln parity with the DuckDB oracle), collected
    (model-sized, same discipline as k-means centroids / BPE merges)
    and broadcast. ONE Arrow pass over the corpus then scores every
    document with pure-integer arithmetic — no join fan-out, no
    |langs|× row blowup, the exact scale posture of the green
    dot-product classifier.

    Rows with NULL text/label or no complete bigram are absent from
    the output (they have no evidence to classify; matches the
    oracle's inner unnest). Ties break to the lexicographically
    smallest language."""
    import pandas as pd

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.arrow_docs import bigram_counter, scatter_rr

    base = df.filter(F.col(text_col).isNotNull() & F.col(label_col).isNotNull())
    bmodel = df.sparkSession.sparkContext.broadcast(
        _nb_langid_model(df, text_col, id_col, label_col) + (int(margin_scaled),)
    )
    schema = (
        f"{id_col} bigint, {label_col} string, pred_lang string, "
        "score bigint, is_match boolean"
    )

    def op(batches):
        mconsts, mlp, mp0, mmargin = bmodel.value
        cols = [id_col, label_col, "pred_lang", "score", "is_match"]
        for pdf in batches:
            rows = []
            for doc_id, lab, text in zip(pdf[id_col], pdf[label_col], pdf[text_col]):
                counts = bigram_counter(text)
                if not counts:
                    continue
                best_lang, best_s = _score_nb_counts(
                    counts, mconsts, mlp, mp0, mmargin
                )
                rows.append((doc_id, lab, best_lang, best_s, best_lang == lab))
            yield pd.DataFrame(rows, columns=cols)

    return scatter_rr(base.select(id_col, label_col, text_col)).mapInPandas(
        op, schema
    )


def langid_dual_predictions(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
    top_n: int = _LANGID_TOP,
    profile_sample_mod: int = 10,
    margin_scaled: int = _NB_MARGIN_SCALED,
) -> DataFrame:
    """BOTH language classifiers' predictions from ONE corpus scoring
    pass (r15, guide §1.2/§4: the kappa agreement report previously ran
    two full mapInPandas passes — one per classifier — recomputing each
    document's bigram Counter twice; at corpus scale that is a whole
    redundant pass over every byte of text).

    The two models are built exactly as the standalone entries build
    them (:func:`_langid_profile`, :func:`_nb_langid_model` — shared
    code, not copies) and the per-document decisions run the SAME
    extracted scoring loops (:func:`_score_bigram_counts`,
    :func:`_score_nb_counts`), so each classifier's prediction relation
    is row-for-row identical to its standalone pass — only the number
    of corpus scans changes. Emission rules preserved bit-for-bit:
    the dot-product classifier emits only when some profile shares a
    bigram (score > 0) and scores every row of ``df``; NB emits only
    for rows with non-NULL text AND label whose text has ≥1 complete
    bigram (its standalone pass filters those rows before the scatter).

    Output: (doc_id, lang, classifier, pred_lang) long form —
    ``classifier`` ∈ {'bigram', 'nb'}; consumers filter per classifier
    (checkpoint the result first: it has one consumer per classifier)."""
    import pandas as pd

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.arrow_docs import bigram_counter, scatter_rr

    sc = df.sparkSession.sparkContext
    bprofiles = sc.broadcast(
        _langid_profile(df, text_col, id_col, label_col, top_n, profile_sample_mod)
    )
    bmodel = sc.broadcast(
        _nb_langid_model(df, text_col, id_col, label_col) + (int(margin_scaled),)
    )
    schema = f"{id_col} bigint, {label_col} string, classifier string, pred_lang string"

    def op(batches):
        prof = bprofiles.value
        mconsts, mlp, mp0, mmargin = bmodel.value
        cols = [id_col, label_col, "classifier", "pred_lang"]
        for pdf in batches:
            rows = []
            for doc_id, lab, text in zip(pdf[id_col], pdf[label_col], pdf[text_col]):
                counts = bigram_counter(text)
                big_lang, _big_score = _score_bigram_counts(counts, prof)
                if big_lang is not None:
                    rows.append((doc_id, lab, "bigram", big_lang))
                # pd.isna, not `is not None` (r15 advice): row-parity
                # with the standalone NB pass's DataFrame-level
                # IS NOT NULL filter must hold even if a pandas/Arrow
                # version surfaces SQL NULL strings as NaN/pd.NA
                # instead of None.
                if not pd.isna(text) and not pd.isna(lab) and counts:
                    nb_lang, _nb_s = _score_nb_counts(
                        counts, mconsts, mlp, mp0, mmargin
                    )
                    rows.append((doc_id, lab, "nb", nb_lang))
            yield pd.DataFrame(rows, columns=cols)

    return scatter_rr(df.select(id_col, label_col, text_col)).mapInPandas(op, schema)


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document — the keyword-extraction
    step of a training-data pipeline (and the relevance primitive the
    reference's keyword arrays imply but never compute).

    tf = term count within the document; idf = ln(N / df) with df the
    number of distinct documents containing the term. Both branches
    derive from ONE tokenized relation aggregated to (doc, token)
    grain; df comes from a second, much smaller aggregate over that
    grain (no distinct over raw occurrences). Deterministic top-k per
    doc via (tfidf desc, token asc) row_number.

    The (doc, token, tf) grain is built inside an Arrow batch (twin of
    explode(lower-tokens) → count, asserted in tests/test_arrow_tiers):
    the raw-occurrence explode and its count shuffle disappear — the
    relation leaves the batch op already at final grain."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.arrow_docs import token_counts_arrow

    # TWO consumers read the (doc, token, tf) grain (the df aggregate
    # and the scoring join) — without the checkpoint the Arrow
    # tokenize-and-count pass executes twice (aliased branches defeat
    # ReusedExchange; same failure mode as the r10 consensus fix).
    tf = token_counts_arrow(df, text_col=text_col, id_col=id_col).transform(materialize)
    docfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # N as a broadcast 1-row aggregate, not a driver-side count() —
    # keeps the whole operator lazy.
    n_docs = df.agg(F.countDistinct(id_col).cast("double").alias("n_docs"))
    scored = (
        tf.join(docfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = W.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select(id_col, "token", "tf", "df", "tfidf", "term_rank")
    )


# ---------------------------------------------------------------------------
# Per-line boilerplate filtering (C4 / Gopher line rules — public recipes)
# ---------------------------------------------------------------------------
#: C4's banned-line substrings (Raffel et al. 2020, arXiv:1910.10683
#: §2.2 — lines with boilerplate/policy vocabulary are removed), plus
#: the lorem-ipsum placeholder rule applied at line level.
C4_BANNED_SUBSTRINGS = ("javascript", "lorem ipsum", "cookie", "privacy policy", "terms of use")

#: C4's terminal-punctuation rule: a kept line must end in a period,
#: exclamation/question mark, or closing quotation.
_TERMINAL_PUNCT_RE = r"""[.!?"'”]$"""


def split_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, line_no, line, *keep_cols) rows — one per
    ``sep``-delimited line of every non-NULL-text document.
    Explicit-count repartition by id before the explode
    (single-split-table trap), so line work spreads even when the
    corpus arrives as one parquet file. ``keep_cols`` carries
    per-document columns through so downstream reassembly never has
    to re-join the corpus."""
    n_part = shuffle_partitions(df.sparkSession)
    return (
        df.filter(F.col(text_col).isNotNull())
        .repartition(n_part, F.col(id_col))
        .select(
            F.col(id_col),
            *[F.col(c) for c in keep_cols],
            F.posexplode(F.split(F.col(text_col), sep)).alias("line_no", "line"),
        )
    )


def line_keep(
    line: Column,
    min_tokens: int = 3,
    require_terminal_punct: bool = True,
    banned_substrings: tuple[str, ...] = C4_BANNED_SUBSTRINGS,
    banned_re: str | None = None,
    max_chars: int | None = None,
) -> Column:
    """Boolean keep predicate for one line — the C4/Gopher rule set as
    a pure JVM projection (no UDF, no shuffle):

    - ``min_tokens``: C4 drops lines with fewer than 3 words;
    - ``require_terminal_punct``: C4 keeps only lines ending in
      terminal punctuation;
    - ``banned_substrings``: case-insensitive substring ban
      (C4's javascript/policy vocabulary);
    - ``banned_re``: optional extra regex ban (rlike on the lowercased
      line) for corpus-specific vocabulary;
    - ``max_chars``: Gopher-style cap on pathological line length
      (minified JS / base64 blobs masquerading as prose).
    """
    keep = F.size(F.split(F.trim(line), _WS)) >= F.lit(min_tokens)
    if require_terminal_punct:
        keep = keep & F.regexp_like(F.rtrim(line), F.lit(_TERMINAL_PUNCT_RE))
    low = F.lower(line)
    for s in banned_substrings:
        keep = keep & ~low.contains(s.lower())
    if banned_re is not None:
        keep = keep & ~low.rlike(banned_re)
    if max_chars is not None:
        keep = keep & (F.length(line) <= F.lit(max_chars))
    return keep


def reassemble_lines(
    lines: DataFrame,
    id_col: str = "doc_id",
    keep_col: str = "keep",
    sep: str = "\n",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-doc reassembly of kept lines: (doc_id, *keep_cols, n_lines,
    n_lines_kept, clean_text). One doc-keyed groupBy; the text rebuild
    is order-stable under any shuffle order via
    array_sort(collect_list(struct(line_no, ...))) — same pattern as
    dedup_substrings. Documents whose every line is dropped come back
    with clean_text = '' (they are rows, not absences, so a downstream
    gate can count them). ``keep_cols`` are per-document constants
    (carried by first())."""
    return lines.groupBy(F.col(id_col)).agg(
        *[F.first(c).alias(c) for c in keep_cols],
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col(keep_col).cast("long")).alias("n_lines_kept"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("line_no", keep_col, "line"))),
                    lambda x: x[keep_col],
                ),
                lambda x: x["line"],
            ),
            sep,
        ).alias("clean_text"),
    )


def line_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    keep_cols: tuple[str, ...] = (),
    **rules,
) -> DataFrame:
    """split_lines → line_keep → reassemble_lines composed: the
    standard pre-gate text-hygiene stage (C4/Gopher boilerplate-line
    removal). ``rules`` forwards to :func:`line_keep`; ``keep_cols``
    carries per-doc columns through without a corpus re-join."""
    lines = split_lines(df, text_col, id_col, sep, keep_cols=keep_cols).withColumn(
        "keep", line_keep(F.col("line"), **rules)
    )
    return reassemble_lines(lines, id_col=id_col, sep=sep, keep_cols=keep_cols)


def clean_lines(text: Column, sep: str = "\n", **rules) -> Column:
    """The line filter as ONE stateless projection: split → per-line
    rule filter → rejoin, entirely inside array higher-order functions
    — no explode, no groupBy, no state. This is the STREAMING-safe
    form (a per-doc groupBy is a stateful aggregation in a stream);
    the exploded :func:`line_filter` is the batch form that also
    reports per-doc line counts. Nested HOFs run interpreted, which
    is fine at gate position (one pass per micro-batch row); rules
    forward to :func:`line_keep`. NULL text stays NULL."""
    kept = F.filter(F.split(text, sep), lambda l: line_keep(l, **rules))
    return F.array_join(kept, sep)


def chunk_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Overlapping fixed-stride token chunks per document — the
    standard RAG / long-context pre-processing step (sliding windows
    with ``chunk_tokens - stride`` tokens of overlap so no boundary
    sentence is lost to a hard cut).

    Emits (id, chunk_id, chunk_start, n_chunk_tokens, chunk_text) for
    every window start ``k*stride < n_tokens``; the tail chunk may be
    shorter than ``chunk_tokens``. NULL/empty text emits no rows.

    Plan shape: ZERO shuffles — tokenize, ``sequence``-generate the
    start offsets, explode, ``slice``+``array_join`` per chunk, all
    narrow JVM expressions over the scan partitioning (the parquet
    scan reads only (id, text)). At 100 TB this is embarrassingly
    parallel; the ~chunk_tokens/stride output amplification is the
    operator's contract, not a plan defect.
    """
    t = tokens(F.col(text_col))
    n = F.size(t)
    out = (
        # whitespace-only text tokenizes to [""] (split-of-empty, both
        # engines) — a degenerate empty chunk downstream; drop it here.
        df.filter(F.length(F.trim(F.col(text_col))) >= 1)
        .select(
            F.col(id_col).alias("id"),
            t.alias("t"),
            n.alias("n"),
        )
        .filter(F.col("n") >= 1)
        .select(
            "id",
            "t",
            F.explode(
                F.sequence(F.lit(0), F.col("n") - 1, F.lit(stride))
            ).alias("chunk_start"),
        )
    )
    chunk = F.slice(F.col("t"), F.col("chunk_start") + 1, chunk_tokens)
    return out.select(
        "id",
        (F.col("chunk_start") / stride).cast("long").alias("chunk_id"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def dsir_logweights(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: tuple[str, ...] = (),
    n_buckets: int = 256,
    scale: int = 1_000_000,
) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling", arXiv:2302.03169 —
    public method): score every document by how much its hashed-unigram
    distribution resembles the ``target`` sub-corpus relative to the
    raw corpus.

    Features are unigrams hashed into ``n_buckets`` buckets with the
    portable md5 family; bucket log-ratios use add-one smoothing:
    ``lr_b = ln(((p_b+1)/(T+B)) / ((q_b+1)/(N+B)))`` with p/q the
    target/raw bucket token counts. Per-doc weight is the sum of its
    tokens' bucket log-ratios. To keep the sum ORDER-INDEPENDENT and
    engine-portable, each bucket's log-ratio is rounded to a scaled
    BIGINT first (ln of a ratio of exact integer counts; a cross-libm
    ulp difference would need to land within ~1e-10 of a rounding
    boundary of the 6th decimal to flip it), so doc weights are exact
    integer sums. Returns (id, carry_cols..., n_tokens, w) with w the
    scaled-integer log-weight — callers rank/sample on it.

    Plan shape: one doc-keyed explode checkpointed NARROW (id, carry,
    bucket — the aliased-branch double-eval guard: the relation feeds
    both the 256-row bucket histogram and the per-doc re-score), the
    histogram + totals broadcast back (256 rows + 1 row), one
    doc-keyed sum. At 100 TB the checkpoint is the standard
    materialize-once trade the curation pipeline makes; the joins are
    broadcast, so the only wide exchange is the doc-keyed explode.
    """
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.dedup import portable_hash_value

    n_part = shuffle_partitions(df.sparkSession)
    tok = (
        df.filter(F.col(text_col).isNotNull())
        .repartition(n_part, F.col(id_col))
        .select(
            F.col(id_col).alias("id"),
            *[F.col(c) for c in carry_cols],
            # coalesce: a NULL predicate (e.g. lang IS NULL under
            # `lang == 'en'`) must count as non-target 0, not poison
            # its bucket's sum to NULL (review finding — the oracle's
            # CASE WHEN already computes 0)
            F.coalesce(target.cast("int"), F.lit(0)).alias("_tgt"),
            F.explode(tokens(F.col(text_col))).alias("tok"),
        )
        .withColumn("bucket", portable_hash_value(F.col("tok")) % n_buckets)
        .drop("tok")
        .transform(materialize)
    )
    counts = tok.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("q_cnt"), F.sum("_tgt").alias("p_cnt")
    )
    totals = counts.agg(
        F.sum("q_cnt").alias("n_all"), F.sum("p_cnt").alias("n_tgt")
    )
    lr = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            F.log(
                ((F.col("p_cnt") + 1.0) / (F.col("n_tgt") + F.lit(n_buckets)))
                / ((F.col("q_cnt") + 1.0) / (F.col("n_all") + F.lit(n_buckets)))
            )
            * scale
        )
        .cast("long")
        .alias("lr"),
    )
    return (
        tok.join(F.broadcast(lr), "bucket")
        .groupBy("id")
        .agg(
            *[F.first(c).alias(c) for c in carry_cols],
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr").alias("w"),
        )
    )


def lr_quality_features(text: Column) -> list[Column]:
    """Feature vector for the model-based quality classifier: the
    quality_score components as SEPARATE round-6 features (length
    band, stopword signal, digit noise) plus a bias term. Rounding
    each feature to 6 dp makes every downstream arithmetic op an IEEE
    operation on engine-identical doubles — the cross-engine
    determinism precondition lr_train_weights relies on."""
    n_tok = token_count(text)
    return [
        F.round(F.least(n_tok.cast("double") / F.lit(50.0), F.lit(1.0)), 6),
        F.round(F.least(stopword_ratio(text) * 5.0, F.lit(1.0)), 6),
        F.round(digit_ratio(text), 6),
        F.lit(1.0),
    ]


def lr_train_weights(
    df: DataFrame,
    label: Column,
    feats: list[Column],
    iters: int = 3,
    lr: float = 1.0,
    scale: int = 1_000_000_000,
) -> list[float]:
    """Logistic-regression training by full-batch gradient descent —
    the model-based quality-filter tier every large pretraining corpus
    runs beside its heuristic rules (the GPT-3 LR quality classifier,
    Brown et al. 2020 §A; CCNet's fasttext filter is the same shape).
    Public method; no reference counterpart (the reference's quality
    signals are closed-form — SURVEY §2.8).

    Scale shape: ONE narrow (label, features) frame, checkpointed
    once; each of the ``iters`` epochs is ONE aggregation pass over it
    (map-side partial sums → k longs to the driver) and a k-float
    weight update — the same driver-coordinated iteration MLlib's own
    LBFGS/OWLQN runs, with nothing corpus-sized ever collected.

    Determinism discipline (what makes an ITERATIVE float algorithm
    DuckDB-oracle-checkable): per-row sigmoids are rounded to 6 dp
    (libm exp differs across engines only in the last ulp — a flip
    needs the true value within ~1e-16 of a rounding boundary), every
    other per-row op is IEEE arithmetic on engine-identical doubles,
    and per-row gradient contributions are rounded to scaled BIGINTs
    before summing, so epoch gradients are exact integer sums —
    order-independent across any shuffle — and the weight trajectory
    is bit-reproducible in both engines. Returns the final weights
    (round-9 floats), one per feature."""
    base = df.select(
        label.cast("int").alias("_y"),
        *[f.alias(f"_f{j}") for j, f in enumerate(feats)],
    ).transform(materialize)
    n = base.count()
    if n == 0:
        # loud fail like the sibling scorers (temperature_rates /
        # dsir_logweights_from_counts): a bare ZeroDivisionError from
        # the weight update explains nothing
        raise ValueError(
            "lr_train_weights: training frame is empty — wrong input "
            "path or an upstream filter dropped every row"
        )
    k = len(feats)
    w = [0.0] * k
    for _ in range(iters):
        z = None
        for j in range(k):
            term = F.lit(w[j]) * F.col(f"_f{j}")
            z = term if z is None else z + term
        s = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
        g = base.agg(
            *[
                F.sum(
                    F.round((s - F.col("_y")) * F.col(f"_f{j}") * scale).cast(
                        "long"
                    )
                ).alias(f"g{j}")
                for j in range(k)
            ]
        ).first()
        if any(g[f"g{j}"] is None for j in range(k)):
            raise ValueError(
                "lr_train_weights: epoch gradient is NULL — every "
                "row's feature/label is NULL (all-null text?); filter "
                "null inputs upstream"
            )
        w = [round(w[j] - lr * (g[f"g{j}"] / scale) / n, 9) for j in range(k)]
    return w


def lr_decision_scores(feats: list[Column], weights: list[float]) -> Column:
    """round-6 sigmoid score Column for trained weights — the same
    left-to-right dot product + rounded sigmoid the training epochs
    use, so scores are engine-reproducible wherever the weights are."""
    z = None
    for wj, f in zip(weights, feats):
        term = F.lit(wj) * f
        z = term if z is None else z + term
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


def dsir_bucket_counts(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """The mergeable sufficient statistics behind DSIR scoring: per
    hashed-unigram bucket, the raw token count ``q_cnt`` and the
    target-subcorpus token count ``p_cnt`` — exact integer sums, so
    partials from disjoint document batches merge by addition into
    exactly the counts a single batch pass computes. This is what the
    incremental ingest store persists per micro-batch
    (streaming.pipeline.write_stream_text_stats); hashing/tokenizing
    is IDENTICAL to :func:`dsir_logweights` (same ``tokens`` split,
    same portable md5 bucket hash, same NULL-target coalesce), which
    is what makes ingest-time scores equal batch retroscores."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.dedup import portable_hash_value

    return (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.coalesce(target.cast("int"), F.lit(0)).alias("_tgt"),
            F.explode(tokens(F.col(text_col))).alias("tok"),
        )
        .withColumn("bucket", portable_hash_value(F.col("tok")) % n_buckets)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("q_cnt"), F.sum("_tgt").alias("p_cnt"))
    )


def vocab_oov_report(
    base: DataFrame,
    cur: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    top_n: int = 1000,
) -> DataFrame:
    """Per-language out-of-vocabulary report of a CURRENT corpus slice
    against the REFERENCE slice's top-``top_n`` token vocabulary — the
    check a pipeline runs before reusing a tokenizer/vocab on a new
    crawl (how much of the new text falls outside the vocabulary the
    model was built on?). Complements :func:`feature_drift_psi`: PSI
    watches numeric feature distributions, this watches the token
    space itself.

    Vocabulary election is deterministic: rank base tokens per
    language by (count DESC, token ASC) and keep rank ≤ top_n, so the
    boundary tie is token-broken identically in both engines. Returns
    one row per language: total current occurrences/types, OOV
    occurrence rate (weighted by frequency — the cost the tokenizer
    pays) and OOV type rate (distinct new tokens — the vocabulary
    growth pressure), each an exact integer ratio rounded once.

    Plan shape: ONE (lang, token) count shuffle over the union of both
    sides with a side tag (conditional partial aggregates — the corpus
    is scanned once per side, exploded once), a per-lang rank window
    over the base counts (groups = distinct tokens per language), one
    tiny final rollup. Explicit-count repartition before the explode
    (the single-file-split trap)."""
    n_part = shuffle_partitions(base.sparkSession)

    def occurrences(df: DataFrame, side: str) -> DataFrame:
        return (
            df.filter(F.col(text_col).isNotNull() & F.col(lang_col).isNotNull())
            .repartition(n_part)
            .select(
                F.lit(side).alias("side"),
                F.col(lang_col).alias("lang"),
                F.explode(tokens(F.col(text_col))).alias("tok"),
            )
        )

    counts = (
        occurrences(base, "base")
        .unionByName(occurrences(cur, "cur"))
        .groupBy("lang", "tok")
        .agg(
            F.sum(F.when(F.col("side") == "base", 1).otherwise(0)).alias("cb"),
            F.sum(F.when(F.col("side") == "cur", 1).otherwise(0)).alias("cc"),
        )
    )
    w = W.partitionBy("lang").orderBy(F.desc("cb"), F.asc("tok"))
    ranked = counts.withColumn(
        "in_vocab", (F.col("cb") > 0) & (F.row_number().over(w) <= top_n)
    )
    return (
        ranked.filter(F.col("cc") > 0)
        .groupBy("lang")
        .agg(
            F.sum("cc").alias("n_cur_occurrences"),
            F.count(F.lit(1)).alias("n_cur_types"),
            F.round(
                F.sum(F.when(~F.col("in_vocab"), F.col("cc")).otherwise(0))
                / F.sum("cc"),
                6,
            ).alias("oov_occurrence_rate"),
            F.round(
                F.sum(F.when(~F.col("in_vocab"), 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("oov_type_rate"),
        )
        .orderBy("lang")
    )


#: PSI verdict thresholds (the industry-standard population-stability
#: bands: <0.1 stable, 0.1–0.25 moderate shift, >0.25 major shift).
PSI_STABLE, PSI_MODERATE = 0.1, 0.25


def feature_drift_psi(
    base: DataFrame,
    cur: DataFrame,
    features: tuple[str, ...],
    n_buckets: int = 10,
) -> DataFrame:
    """Population Stability Index per feature between a REFERENCE
    corpus slice and a CURRENT one — the standard drift monitor a
    training-data pipeline runs on every new crawl/epoch before mixing
    it in (are token lengths, stopword ratios, quality scores still
    distributed like the corpus the filters were tuned on?).

    ``base`` / ``cur`` carry the (numeric) ``features`` columns
    already computed; bucket edges are ``n_buckets`` equal-width bins
    over the BASE slice's [min, max] per feature (values outside clamp
    to the edge buckets — drift beyond the reference range lands in
    the tails, which is the signal). PSI = Σ_b (p_cur − p_base) ·
    ln(p_cur / p_base) with Laplace-smoothed proportions
    (count + 0.5) / (N + n_buckets/2), so empty buckets are defined.

    Determinism discipline (cross-engine): proportions are exact
    doubles from integer counts, ln rounds to 9dp (the NB-langid
    precedent both engines agree on), each bucket term scales to a
    LONG at 1e9 before the sum — integer addition is order-independent
    — and the final PSI divides once and rounds to 6dp.

    Plan shape: one projection + stack per side → ONE (feature,
    bucket, side) count shuffle (partial-aggregated, output ≤
    |features| × n_buckets × 2 rows) over a bucket spine so empty
    buckets exist; the base min/max pass is the unavoidable first scan
    of the two-pass binning (the perplexity-stratification contract).
    Returns one row per feature: (feature, n_base, n_cur, psi, drift).

    The streaming twin composes the same pieces: freeze
    :func:`drift_reference` once per epoch, accumulate
    :func:`feature_bucket_counts` partials per micro-batch (the stats
    store's ``drift`` family), and report via :func:`psi_from_counts`
    — drain-parity with this one-batch form is pytest-pinned.
    """
    b = _stack_features(base, "base", features)
    c = _stack_features(cur, "cur", features)
    # ONE pass per corpus side (r16, guide §1.2/§2.4): the stacked
    # relation feeds BOTH the base min/max pass and the bucket pass,
    # and edges feeds BOTH the bucket broadcast and the report spine —
    # un-materialized, the base side's text-derived feature projection
    # executed three times (×2 again via the report tail's dual
    # consumption of `full`; the plan dump showed 8 corpus text scans
    # for a 2-pass algorithm). The materialized frames are narrow:
    # (side, feature, value) with no text, and |features| rows.
    stacked = b.unionByName(c).transform(materialize)
    edges = (
        stacked.filter(F.col("side") == "base")
        .groupBy("feature")
        .agg(F.min("value").alias("f_min"), F.max("value").alias("f_max"))
        .transform(materialize)
    )
    binned = stacked.join(F.broadcast(edges), "feature").select(
        "side", "feature", _bucket_col(n_buckets).alias("bucket")
    )
    counts = binned.groupBy("feature", "bucket").agg(
        F.sum(F.when(F.col("side") == "base", 1).otherwise(0)).alias("cb"),
        F.sum(F.when(F.col("side") == "cur", 1).otherwise(0)).alias("cc"),
    )
    return _psi_from_joint_counts(edges.select("feature"), counts, n_buckets)


def _stack_features(
    df: DataFrame,
    side: str,
    features: tuple[str, ...],
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(side, *keep, feature, value) rows — every feature cast to
    double; ``keep`` carries grouping columns (e.g. the trend form's
    period) through the unpivot. NULL feature values are dropped here
    (not binned): floor(NULL/width) is NULL and Spark's greatest()
    skips NULLs, so an unfiltered NULL would silently count as a
    min-bucket observation and skew both the histogram and n_base/
    n_cur. The SQL twin (:func:`psi_sql_ctes`) filters identically."""
    pairs = ", ".join(f"'{f}', CAST({f} AS DOUBLE)" for f in features)
    return (
        df.selectExpr(
            *keep, f"stack({len(features)}, {pairs}) AS (feature, value)"
        )
        .filter(F.col("value").isNotNull())
        .select(F.lit(side).alias("side"), *keep, "feature", "value")
    )


#: Version of the drift bucketing scheme shared by :func:`_bucket_col`
#: and :func:`_bucket_case_sql`. v1 mapped every off-value of a
#: degenerate (constant-baseline) feature to bucket 0 — structurally
#: PSI 0.0; v2 (r14) maps off-values to bucket n_buckets-1 so drift
#: beyond a constant baseline is detectable. Streaming stats stores
#: persist histograms under exactly one scheme, so the store writer
#: stamps this version and writer+readers refuse mixed-generation
#: merges (r14 advice: merging v1 partials with v2 partials under the
#: same frozen edges double-counts constant features differently).
DRIFT_BUCKETING_VERSION = 2


def _bucket_col(n_buckets: int) -> Column:
    """Equal-width bucket of ``value`` over [f_min, f_max], tail-clamped.

    Degenerate (constant-baseline) edges — f_max == f_min — widen into
    an on-value vs off-value pair (bucket 0 vs n_buckets-1) instead of
    mapping everything to bucket 0, so drift beyond a constant baseline
    is still detectable rather than structurally reporting PSI 0.0.
    The SQL twin (:func:`_bucket_case_sql`) is generated in lockstep."""
    width = (F.col("f_max") - F.col("f_min")) / F.lit(float(n_buckets))
    return F.when(
        F.col("f_max") == F.col("f_min"),
        F.when(F.col("value") == F.col("f_min"), F.lit(0)).otherwise(
            F.lit(n_buckets - 1)
        ),
    ).otherwise(
        F.least(
            F.greatest(
                F.floor((F.col("value") - F.col("f_min")) / width).cast("int"),
                F.lit(0),
            ),
            F.lit(n_buckets - 1),
        )
    )


def _bucket_case_sql(value: str, n_buckets: int, edges_alias: str = "e") -> str:
    """DuckDB CASE expression twin of :func:`_bucket_col` — ONE
    generator so the Spark bucketing and every PSI oracle's bucketing
    (including the degenerate constant-edge pair) cannot diverge."""
    n1 = n_buckets - 1
    e = edges_alias
    return (
        f"CASE WHEN {e}.f_max = {e}.f_min THEN "
        f"(CASE WHEN {value} = {e}.f_min THEN 0 ELSE {n1} END) "
        f"ELSE least(greatest(CAST(floor(({value} - {e}.f_min) / "
        f"(({e}.f_max - {e}.f_min) / {float(n_buckets)!r})) AS INT), 0), "
        f"{n1}) END"
    )


def _psi_from_joint_counts(
    feature_names: DataFrame, counts: DataFrame, n_buckets: int
) -> DataFrame:
    """PSI report from sparse joint (feature, bucket, cb, cc) counts —
    the shared tail of the one-batch and store-fed forms (spine over
    every bucket, Laplace smoothing, round(ln,9)→scaled-long terms)."""
    # spine via explode — no crossJoin/BNLJ; feature_names is the
    # single source of which report rows exist
    spine = feature_names.select(
        "feature",
        F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1))).alias("bucket"),
    ).select("feature", F.col("bucket").cast("int").alias("bucket"))
    full = spine.join(counts, ["feature", "bucket"], "left").select(
        "feature",
        "bucket",
        F.coalesce("cb", F.lit(0)).alias("cb"),
        F.coalesce("cc", F.lit(0)).alias("cc"),
    )
    return psi_report_from_full(full, keys=("feature",), n_buckets=n_buckets)


def psi_report_from_full(
    full: DataFrame,
    keys: tuple[str, ...] = ("feature",),
    n_buckets: int = 10,
) -> DataFrame:
    """PSI verdict rows from a COMPLETE (every bucket present) joint
    frame ``(*keys, bucket, cb, cc)`` — the group-generic tail shared
    by the two-slice forms (keys = feature) and the trend form (keys =
    period + feature): Laplace smoothing, round(ln,9)→scaled-long
    order-independent terms, verdict bands from the shared constants."""
    # `full` feeds BOTH the per-key totals and the term aggregate; its
    # subtree is the whole corpus binning/count chain in the one-batch
    # forms, so un-materialized the entire upstream executed twice
    # (r16, guide §2.4). The frame itself is ≤ |keys|·n_buckets rows.
    full = materialize(full)
    tot = full.groupBy(*keys).agg(
        F.sum("cb").alias("nb"), F.sum("cc").alias("nc")
    )
    smooth = float(n_buckets) / 2.0
    pb = (F.col("cb") + 0.5) / (F.col("nb") + smooth)
    pc = (F.col("cc") + 0.5) / (F.col("nc") + smooth)
    term = F.round(
        (pc - pb) * F.round(F.log(pc / pb), 9) * 1_000_000_000.0, 0
    ).cast("long")
    agg = (
        full.join(F.broadcast(tot), list(keys))
        .groupBy(*keys)
        .agg(
            F.first("nb").alias("n_base"),
            F.first("nc").alias("n_cur"),
            F.round(F.sum(term) / 1_000_000_000.0, 6).alias("psi"),
        )
    )
    return agg.select(
        *keys,
        "n_base",
        "n_cur",
        "psi",
        F.when(F.col("psi") < PSI_STABLE, "stable")
        .when(F.col("psi") < PSI_MODERATE, "moderate_shift")
        .otherwise("major_shift")
        .alias("drift"),
    ).orderBy(*keys)


def drift_reference(
    base: DataFrame, features: tuple[str, ...], n_buckets: int = 10
) -> tuple[DataFrame, DataFrame]:
    """(edges, base_counts) frozen once per epoch from the REFERENCE
    corpus slice — the model the streaming drift monitor compares
    against. ``edges`` feeds :func:`feature_bucket_counts` on the
    stream; ``base_counts`` feeds :func:`psi_from_counts` at read
    time. Both are |features|-row / |features|×n_buckets-row tiny."""
    b = _stack_features(base, "base", features)
    # tiny |features|-row frame with 2+ consumers (base_counts here,
    # the current-side bucket join at the caller) — un-materialized,
    # each consumer re-ran the base-side stack + min/max pass (r16,
    # guide §2.4)
    edges = (
        b.groupBy("feature")
        .agg(F.min("value").alias("f_min"), F.max("value").alias("f_max"))
        .transform(materialize)
    )
    base_counts = feature_bucket_counts(base, edges, features, n_buckets)
    return edges, base_counts


def feature_bucket_counts(
    df: DataFrame,
    edges: DataFrame,
    features: tuple[str, ...],
    n_buckets: int = 10,
    period_col: str | None = None,
) -> DataFrame:
    """Mergeable drift partial: (feature, bucket, cnt) histogram of one
    corpus slice under FROZEN edges — exact integer counts, so
    per-batch partials summed across a drain equal one batch pass (the
    stats-store sufficient-statistics contract).

    With ``period_col`` (any stream-annotated period expression — a
    week string, an epoch label), the partial is keyed (period,
    feature, bucket, cnt) instead: the sufficient statistics behind a
    PSI trend OVER TIME (:func:`psi_trend_from_counts`), so a
    long-running ingest can see per-period drift the way the batch
    ``events_drift_trend_psi`` entry sees weeks. The period is cast to
    string so any caller-side period type merges stably across batches
    and compaction."""
    keep = (period_col,) if period_col else ()
    s = _stack_features(df, "cur", features, keep=keep)
    binned = s.join(F.broadcast(edges), "feature")
    if period_col:
        return (
            binned.select(
                F.col(period_col).cast("string").alias("period"),
                "feature",
                _bucket_col(n_buckets).alias("bucket"),
            )
            .groupBy("period", "feature", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    return (
        binned.select("feature", _bucket_col(n_buckets).alias("bucket"))
        .groupBy("feature", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def psi_sql_ctes(
    src: str,
    features: tuple[str, ...],
    prefix: str = "psi_",
    n_buckets: int = 10,
) -> str:
    """DuckDB CTE fragment computing the PSI chain over the relation
    ``src``, which must provide a ``side`` column ('base'/'cur') plus
    one DOUBLE column per feature. Defines ``{p}out`` with the final
    (feature, n_base, n_cur, psi, drift) rows — ONE generator shared
    by every PSI-bearing oracle (documents plane, embeddings plane) so
    the binning/smoothing/ln discipline and the verdict bands can
    never drift from the Spark builder's constants. ``n_buckets``
    drives the bucket CASE, the spine range, and the Laplace smoothing
    constant (n_buckets/2), mirroring the Spark builders' parameter;
    NULL feature values are excluded exactly as in
    :func:`_stack_features`."""
    p = prefix
    smooth = float(n_buckets) / 2.0
    stacked = "\n            UNION ALL\n".join(
        f"            SELECT side, '{f}' AS feature, {f} AS value "
        f"FROM {src} WHERE {f} IS NOT NULL"
        for f in features
    )
    return rf"""{p}stacked AS (
{stacked}
        ), {p}edges AS (
            SELECT feature, min(value) AS f_min, max(value) AS f_max
            FROM {p}stacked WHERE side = 'base' GROUP BY feature
        ), {p}binned AS (
            SELECT s.side, s.feature,
                   {_bucket_case_sql("s.value", n_buckets)} AS bucket
            FROM {p}stacked s JOIN {p}edges e USING (feature)
        ), {p}counts AS (
            SELECT feature, bucket,
                   sum(CASE WHEN side = 'base' THEN 1 ELSE 0 END) AS cb,
                   sum(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS cc
            FROM {p}binned GROUP BY feature, bucket
        ), {p}spine AS (
            SELECT e.feature, b.b AS bucket
            FROM {p}edges e, (SELECT unnest(range({n_buckets})) AS b) b
        ), {p}filled AS (
            SELECT sp.feature, sp.bucket,
                   coalesce(c.cb, 0) AS cb, coalesce(c.cc, 0) AS cc
            FROM {p}spine sp LEFT JOIN {p}counts c USING (feature, bucket)
        ), {p}tot AS (
            SELECT feature, sum(cb) AS nb, sum(cc) AS nc
            FROM {p}filled GROUP BY feature
        ), {p}terms AS (
            SELECT f.feature, t.nb, t.nc,
                   CAST(round(
                       ((f.cc + 0.5) / (t.nc + {smooth!r}) - (f.cb + 0.5) / (t.nb + {smooth!r}))
                       * round(ln(((f.cc + 0.5) / (t.nc + {smooth!r}))
                                  / ((f.cb + 0.5) / (t.nb + {smooth!r}))), 9)
                       * 1000000000.0, 0) AS BIGINT) AS term
            FROM {p}filled f JOIN {p}tot t USING (feature)
        ), {p}psi AS (
            SELECT feature,
                   CAST(max(nb) AS BIGINT) AS n_base,
                   CAST(max(nc) AS BIGINT) AS n_cur,
                   round(sum(term) / 1000000000.0, 6) AS psi
            FROM {p}terms GROUP BY feature
        ), {p}out AS (
            SELECT feature, n_base, n_cur, psi,
                   CASE WHEN psi < {PSI_STABLE!r} THEN 'stable'
                        WHEN psi < {PSI_MODERATE!r} THEN 'moderate_shift'
                        ELSE 'major_shift' END AS drift
            FROM {p}psi
        )"""


def psi_from_counts(
    base_counts: DataFrame, cur_counts: DataFrame, n_buckets: int = 10
) -> DataFrame:
    """PSI report from two (feature, bucket, cnt) histograms built
    under the SAME frozen edges — the read side of the streaming drift
    monitor. Identical output to :func:`feature_drift_psi` on the same
    slices (drain-parity pytest)."""
    joint = (
        base_counts.select("feature", "bucket", F.col("cnt").alias("cb"))
        .join(
            cur_counts.select("feature", "bucket", F.col("cnt").alias("cc")),
            ["feature", "bucket"],
            "outer",
        )
        .select(
            "feature",
            "bucket",
            F.coalesce("cb", F.lit(0)).alias("cb"),
            F.coalesce("cc", F.lit(0)).alias("cc"),
        )
    )
    return _psi_from_joint_counts(
        base_counts.select("feature").distinct(), joint, n_buckets
    )


def psi_trend_from_counts(
    base_counts: DataFrame,
    trend_counts: DataFrame,
    n_buckets: int = 10,
) -> DataFrame:
    """Per-period PSI trend from a frozen reference histogram
    ``(feature, bucket, cnt)`` and period-keyed current histograms
    ``(period, feature, bucket, cnt)`` built under the SAME frozen
    edges — the read side of the streaming drift TREND monitor
    (:func:`streaming.pipeline.read_drift_trend`), and the store-fed
    twin of the batch ``events_drift_trend_psi`` shape: every period
    scores against the one frozen reference through the shared
    smoothing/ln/verdict tail (:func:`psi_report_from_full`, keys =
    period + feature).

    Plan shape: the (period × feature × bucket) spine is built by
    chained explodes off the tiny distinct-period frame (|periods| ×
    |features| × n_buckets rows regardless of corpus size — the same
    no-cross-join discipline as the batch trend entry); the feature
    list is a model-sized driver collect (the frozen-edge convention)
    and the reference histogram broadcasts. Output: (period, feature,
    n_base, n_cur, psi, drift) ordered by (period, feature)."""
    feats = sorted(
        r.feature for r in base_counts.select("feature").distinct().collect()
    )
    spine = (
        trend_counts.select("period")
        .distinct()
        .select(
            "period",
            F.explode(F.array(*[F.lit(f) for f in feats])).alias("feature"),
        )
        .select(
            "period",
            "feature",
            F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1))).alias(
                "bucket"
            ),
        )
        .select(
            "period", "feature", F.col("bucket").cast("int").alias("bucket")
        )
    )
    full = (
        spine.join(trend_counts.withColumnRenamed("cnt", "cc_raw"),
                   ["period", "feature", "bucket"], "left")
        .join(
            F.broadcast(base_counts.withColumnRenamed("cnt", "cb_raw")),
            ["feature", "bucket"],
            "left",
        )
        .select(
            "period",
            "feature",
            "bucket",
            F.coalesce("cb_raw", F.lit(0)).alias("cb"),
            F.coalesce("cc_raw", F.lit(0)).alias("cc"),
        )
    )
    return psi_report_from_full(
        full, keys=("period", "feature"), n_buckets=n_buckets
    )


def mixture_stats_partial(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """The mergeable sufficient statistics behind temperature-mixture
    rates: per-language doc and token counts ``(lang, n_docs,
    n_tokens)`` — exact integer sums, so per-batch partials summed
    across a drain equal one batch pass (the same contract as
    :func:`dsir_bucket_counts` / :func:`bm25_corpus_stats`). The
    null filter matches the batch catalog query's, so store-fed and
    batch-computed rates see the same document population."""
    return (
        df.filter(F.col(text_col).isNotNull() & F.col(lang_col).isNotNull())
        .groupBy(F.col(lang_col).alias("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(F.col(text_col))).alias("n_tokens"),
        )
    )


def temperature_rates(
    stats: DataFrame, validate: bool = True, alpha: float = 0.5
) -> DataFrame:
    """Temperature-mixture keep-rates from merged ``(lang, n_docs,
    n_tokens)`` statistics: the mT5/XLM-R recipe p_i ∝ q_i^α, realized
    as rate_pct = floor(100·(min_tokens/lang_tokens)^(1-α)) so the
    smallest source keeps exactly 100 %. ONE expression shared by the
    batch catalog query and the incremental stats store's reader, so
    ingest-time rates and a batch retro-pass can never drift.

    ``alpha=0.5`` (the default, T = 2) stays on the sqrt path:
    sqrt is IEEE-correctly-rounded in every libm, so the rates are
    engine-identical with NO intermediate rounding (see
    doc_temperature_mixture). Any other α ∈ (0, 1] goes through pow =
    exp((1−α)·ln(ratio)) — and libm exp/ln are NOT correctly-rounded
    everywhere, so the expression applies the lr_train_weights
    determinism discipline: ln is rounded to 9 dp and exp to 6 dp,
    making every intermediate a value both engines agree on bit-for-
    bit (a flip would need the true value within ~1e-16 of a rounding
    boundary); the final floor then sees identical doubles. The
    smallest source is EXACT on both paths: ratio = min/min = 1.0,
    ln → 0.0, exp/sqrt → 1.0, floor(100·1.0) = 100.

    ``validate=True`` (the store-reader path) fails loudly on empty
    statistics — wrong store path, or a store drained without
    track_mixture — like the DSIR/BM25 scorers; the check is one
    action on the TINY merged-partials frame. Pass ``validate=False``
    when ``stats`` is a lazy corpus-derived aggregate (the batch
    catalog query): the take(1) would cost a full corpus pass at
    plan-build time, and an empty corpus legitimately yields an empty
    manifest there."""
    if not (0.0 < alpha <= 1.0):
        raise ValueError(
            f"temperature_rates: alpha must be in (0, 1], got {alpha} — "
            "alpha>1 would UPWEIGHT high-resource sources past their "
            "natural share (keep-rates above 100% need replication, "
            "not sampling)"
        )
    if validate and not stats.take(1):
        raise ValueError(
            "temperature_rates: stats frame is empty — wrong store "
            "path, or the store was written without track_mixture?"
        )
    mn = stats.agg(F.min("n_tokens").alias("min_tokens"))
    # Divide BEFORE the root: min/min == 1.0 exactly, so the smallest
    # source's floor is EXACTLY 100. The sqrt(m)/sqrt(m') form rounds
    # below 1.0 for ~6 % of integer token counts (e.g. 123:
    # 100·sqrt(123.0)/sqrt(123.0) floors to 99) — self-review finding,
    # fixed in lockstep with the oracle.
    ratio = F.col("min_tokens").cast("double") / F.col("n_tokens").cast("double")
    if alpha == 0.5:
        flattened = F.sqrt(ratio)
    else:
        flattened = F.round(
            F.exp(F.lit(1.0 - alpha) * F.round(F.log(ratio), 9)), 6
        )
    return stats.crossJoin(F.broadcast(mn)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.floor(100.0 * flattened).cast("long").alias("rate_pct"),
    )


def dsir_logweights_from_counts(
    df: DataFrame,
    counts: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: tuple[str, ...] = (),
    n_buckets: int = 256,
    scale: int = 1_000_000,
) -> DataFrame:
    """Score documents with PRECOMPUTED bucket counts (the merged
    output of an incremental stats store) instead of self-computed
    ones — the retroscoring half of the ingest-time DSIR contract.
    The bucket log-ratios are derived from ``counts`` by the exact
    expression :func:`dsir_logweights` uses (add-one smoothing over
    exact integer counts, rounded to a scaled BIGINT), so scoring the
    same corpus whose ingest built the store returns bit-identical
    weights. Buckets absent from ``counts`` (never seen at ingest)
    get the zero-count smoothed ratio via a left join over the full
    bucket domain — new docs never silently drop tokens."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.dedup import portable_hash_value

    spark = df.sparkSession
    n_part = shuffle_partitions(spark)
    totals = counts.agg(
        F.sum("q_cnt").alias("n_all"), F.sum("p_cnt").alias("n_tgt")
    )
    # fail LOUDLY on an empty counts frame (wrong store_dir, a store
    # drained without dsir_target): null totals would propagate to
    # all-NULL weights — silently useless scores beat no exception
    if totals.first()["n_all"] is None:
        raise ValueError(
            "dsir_logweights_from_counts: counts frame is empty — "
            "wrong store path, or the store was written without dsir_target?"
        )
    full = (
        spark.range(n_buckets)
        .select(F.col("id").cast("long").alias("bucket"))
        .join(counts, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("q_cnt", F.lit(0)).alias("q_cnt"),
            F.coalesce("p_cnt", F.lit(0)).alias("p_cnt"),
        )
    )
    lr = full.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            F.log(
                ((F.col("p_cnt") + 1.0) / (F.col("n_tgt") + F.lit(n_buckets)))
                / ((F.col("q_cnt") + 1.0) / (F.col("n_all") + F.lit(n_buckets)))
            )
            * scale
        )
        .cast("long")
        .alias("lr"),
    )
    tok = (
        df.filter(F.col(text_col).isNotNull())
        .repartition(n_part, F.col(id_col))
        .select(
            F.col(id_col).alias("id"),
            *[F.col(c) for c in carry_cols],
            F.explode(tokens(F.col(text_col))).alias("tok"),
        )
        .withColumn("bucket", portable_hash_value(F.col("tok")) % n_buckets)
        .drop("tok")
    )
    return (
        tok.join(F.broadcast(lr), "bucket")
        .groupBy("id")
        .agg(
            *[F.first(c).alias(c) for c in carry_cols],
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr").alias("w"),
        )
    )


def _query_term_filter(query_terms: tuple[str, ...]):
    """Closure factory for the in-array term filter (a bare lambda in a
    loop would capture by reference — the documented 2-arg/-closure
    transform trap)."""

    def keep(x: Column) -> Column:
        return x.isin(*query_terms)

    return keep


def _bm25_fixed_order_total(scored: DataFrame, query_terms: tuple[str, ...]) -> DataFrame:
    """The deterministic per-doc total shared by :func:`bm25_scores`
    and :func:`bm25_scores_from_stats`: conditional-agg pivot to one
    column per query term, then a FIXED left-to-right sum — never a
    shuffle-ordered float reduction. One helper so the two paths
    cannot drift apart (their bit-identical-scores contract depends on
    this expression tree being shared, like :func:`_bm25_term_score`)."""
    per_term = [
        F.coalesce(
            F.max(F.when(F.col("tok") == t, F.col("s"))), F.lit(0.0)
        ).alias(f"_s{i}")
        for i, t in enumerate(query_terms)
    ]
    agg = scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_terms_matched"), *per_term
    )
    total = None
    for i in range(len(query_terms)):
        c = F.col(f"_s{i}")
        total = c if total is None else total + c
    return agg.select("id", "n_terms_matched", total.alias("bm25"))


def _bm25_term_score(k1: float, b: float) -> Column:
    """The Okapi BM25 per-(doc, term) score as ONE Column expression
    over columns ``tf``/``dft``/``dl``/``n_docs``/``sum_dl`` — shared
    verbatim by :func:`bm25_scores` (self-computed stats) and
    :func:`bm25_scores_from_stats` (store-provided stats), so the two
    paths build the identical float expression tree and equal integer
    inputs yield bit-identical scores."""
    return (
        F.log((F.col("n_docs") - F.col("dft") + 0.5) / (F.col("dft") + 0.5) + 1.0)
        * (F.col("tf") * (k1 + 1.0))
        / (
            F.col("tf")
            + k1
            * (
                1.0
                - b
                + b
                * F.col("dl").cast("double")
                / (F.col("sum_dl").cast("double") / F.col("n_docs"))
            )
        )
    )


def bm25_scores(
    df: DataFrame,
    query_terms: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed query
    (Robertson & Zaragoza 2009 — public method): the lexical retrieval
    scorer a RAG corpus runs beside its embedding index.

    idf(t) = ln((N − df_t + 0.5)/(df_t + 0.5) + 1); per-term score =
    idf · tf(k1+1)/(tf + k1(1 − b + b·dl/avgdl)). Determinism
    discipline: every input to the floats is an exact integer count
    (tf, df, dl, N; avgdl = exact Σdl / N), and the per-doc total is a
    FIXED-ORDER sum of the per-term scores (conditional-agg pivot to
    one column per query term, added left-to-right) — never a
    shuffle-ordered float reduction.

    Plan shape: ONE corpus scan, materialized as a narrow
    (id, dl, query-term hits) relation that feeds doc lengths, the
    N/avgdl scalars and the tf branch (aliased branches would
    otherwise re-scan 3×); the explode sees only the pre-pruned hit
    array (≈ |terms|·hit docs rows, not the corpus token count);
    df_t (|terms| rows) and the scalars re-attach by broadcast. One
    doc-keyed shuffle total. Returns (id, n_terms_matched, bm25)
    unrounded.
    """
    n_part = shuffle_partitions(df.sparkSession)
    term_filter = _query_term_filter(query_terms)
    t = tokens(F.col(text_col))
    # ONE corpus scan materialized NARROW — (id, dl, query-term hits):
    # the relation feeds doc lengths, the N/avgdl scalars AND the tf
    # branch, so without the checkpoint the aliased branches would
    # re-scan and re-tokenize the corpus 3× (review finding; the same
    # materialize-once guard dsir_logweights applies).
    narrow = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.size(t).cast("long").alias("dl"),
            F.filter(t, term_filter).alias("qtoks"),
        )
        .transform(materialize)
    )
    dl = narrow.select("id", "dl")
    stats = narrow.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = (
        narrow.repartition(n_part, F.col("id"))
        # the array was pruned to query-term hits BEFORE the explode:
        # ~|terms|·hits rows instead of the corpus token count
        # (measured 15.8 → 6.5 s at the 50× smoke pre-checkpoint)
        .select("id", F.explode("qtoks").alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("tok").agg(F.countDistinct("id").alias("dft"))
    scored = (
        tf.join(F.broadcast(dft), "tok")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .select("id", "tok", _bm25_term_score(k1, b).alias("s"))
    )
    return _bm25_fixed_order_total(scored, query_terms)


def bm25_corpus_stats(
    df: DataFrame,
    query_terms: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """The mergeable sufficient statistics behind BM25 scoring, as two
    tiny frames: per-term document frequencies ``(tok, dft)`` and the
    corpus scalars ``(n_docs, sum_dl)``. All are exact integer counts;
    partials from batches with DISJOINT document ids (what an
    append-only ingest upstream of the exact-dedup gate delivers)
    merge by plain addition into exactly the one-pass batch counts —
    a doc re-sent across batches would double-count df/N, which is why
    the streaming store sits BEHIND the dedup gate. Tokenization and
    term pruning are verbatim :func:`bm25_scores`."""
    term_filter = _query_term_filter(query_terms)
    t = tokens(F.col(text_col))
    narrow = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.size(t).cast("long").alias("dl"),
        F.filter(t, term_filter).alias("qtoks"),
    )
    corpus = narrow.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    dft = (
        narrow.select("id", F.explode("qtoks").alias("tok"))
        .groupBy("tok")
        .agg(F.countDistinct("id").alias("dft"))
    )
    return dft, corpus


def bm25_scores_from_stats(
    df: DataFrame,
    query_terms: tuple[str, ...],
    dft: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score documents with PRECOMPUTED corpus statistics (the merged
    output of an incremental stats store) instead of self-computed
    ones. tf/dl come from the scored docs themselves; idf and the
    length normalization come from the store. The per-term score is
    the shared :func:`_bm25_term_score` expression, so scoring the
    corpus whose ingest built the store returns bit-identical values
    to :func:`bm25_scores` — the ingest-time/retroscore equivalence
    the streaming stats store exists to provide. Terms never seen at
    ingest score with dft=0 (idf of an unseen term), not NULL."""
    # fail LOUDLY on empty corpus stats: a null (n_docs, sum_dl) row
    # would NULL every per-term score and the fixed-order total's
    # coalesce would flatten every document to bm25 = 0.0 silently
    if corpus.first()["n_docs"] is None:
        raise ValueError(
            "bm25_scores_from_stats: corpus stats are empty — wrong "
            "store path, or the store was written without query_terms?"
        )
    n_part = shuffle_partitions(df.sparkSession)
    term_filter = _query_term_filter(query_terms)
    t = tokens(F.col(text_col))
    # single consumer — no aliased branches, so unlike bm25_scores no
    # materialize-once checkpoint is needed here
    narrow = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.size(t).cast("long").alias("dl"),
        F.filter(t, term_filter).alias("qtoks"),
    )
    tf = (
        narrow.repartition(n_part, F.col("id"))
        .select("id", "dl", F.explode("qtoks").alias("tok"))
        .groupBy("id", "dl", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = (
        tf.join(F.broadcast(dft), "tok", "left")
        .withColumn("dft", F.coalesce("dft", F.lit(0)))
        .crossJoin(F.broadcast(corpus))
        .select("id", "tok", _bm25_term_score(k1, b).alias("s"))
    )
    return _bm25_fixed_order_total(scored, query_terms)


def token_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document unigram Shannon entropy, H = ln(n) − (Σ c·ln c)/n,
    with the per-term ln's rounded to scaled BIGINTs so the per-doc
    reduction is an EXACT integer sum (the DSIR discipline — order-
    independent and engine-portable); only the final ln(n) and
    division are floats, in fixed order. Returns (id_col, n_tokens,
    n_distinct, entropy round-6). Two uniform shuffles: (id, tok)
    counts, then the id-keyed reduce."""
    n_part = shuffle_partitions(df.sparkSession)
    tf = (
        df.filter(F.col(text_col).isNotNull())
        .repartition(n_part, F.col(id_col))
        .select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    term = F.col("c") * F.round(F.log(F.col("c")) * 1_000_000).cast("long")
    agg = tf.groupBy("id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(term).alias("s"),
    )
    return agg.select(
        F.col("id").alias(id_col),
        F.col("n").alias("n_tokens"),
        F.col("n_distinct"),
        F.round(
            F.log(F.col("n")) - F.col("s") / (F.col("n") * 1_000_000.0), 6
        ).alias("entropy"),
    )


def pmi_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 10,
    k: int = 50,
) -> DataFrame:
    """Top-k token pairs by pointwise mutual information over a
    ±2-token co-occurrence window (pairs unordered via least/greatest,
    ties broken lexicographically on the rounded score). PMI is ONE ln
    of a ratio of exact integer counts — engine-portable. The token
    grain is materialized once (it feeds the lead-window pairs branch
    AND the unigram counts — aliased branches defeat ReusedExchange);
    shuffles are keyed by token/pair, scalars broadcast via 1-row
    cross joins."""
    n_part = shuffle_partitions(df.sparkSession)
    tok = (
        df.filter(F.col(text_col).isNotNull())
        .repartition(n_part, F.col(id_col))
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
        )
        .transform(materialize)
    )
    w = W.partitionBy("id").orderBy("pos")
    with_leads = tok.select(
        "tok",
        F.lead("tok", 1).over(w).alias("l1"),
        F.lead("tok", 2).over(w).alias("l2"),
    )
    pairs = with_leads.select(
        F.explode(
            F.filter(F.array(F.col("l1"), F.col("l2")), lambda x: x.isNotNull())
        ).alias("other"),
        "tok",
    ).select(
        F.least("tok", "other").alias("w_a"),
        F.greatest("tok", "other").alias("w_b"),
    )
    pc = pairs.groupBy("w_a", "w_b").agg(F.count(F.lit(1)).alias("c_ab"))
    uni = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_tot = uni.agg(F.sum("c").alias("n"))
    m_tot = pc.agg(F.sum("c_ab").alias("m"))
    ua = uni.select(F.col("tok").alias("w_a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("w_b"), F.col("c").alias("c_b"))
    pmi = F.round(
        F.log(
            (F.col("c_ab") / F.col("m"))
            / ((F.col("c_a") / F.col("n")) * (F.col("c_b") / F.col("n")))
        ),
        6,
    )
    return (
        pc.filter(F.col("c_ab") >= min_count)
        .join(ua, "w_a")
        .join(ub, "w_b")
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(m_tot))
        .select("w_a", "w_b", "c_ab", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w_a", "w_b")
        .limit(k)
    )


def ks_drift_report(
    base: DataFrame,
    cur: DataFrame,
    features: tuple[str, ...],
    crit_c: float = 1.358,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test per feature — the
    nonparametric companion to :func:`feature_drift_psi`: D = max over
    the pooled sample points of |ECDF_base − ECDF_cur|, with the
    large-sample α=0.05 rejection threshold c(α)·√((n_b+n_c)/(n_b·n_c))
    (c(0.05) = 1.358). PSI needs bucket edges and a smoothing choice;
    KS needs neither — a shifted or reshaped distribution moves D even
    when the drift hides inside one PSI bucket.

    Determinism discipline (cross-engine): the max runs over EXACT
    integers — |cb·n_c − cc·n_b| on BIGINT cumulative counts — so no
    floating comparison ever decides the argmax; ONE division scales
    it back to D at the end (the same quotient of the same integers in
    both engines), rounded 6. Valid up to ~3·10⁹ rows per side (the
    int64 ceiling on cb·n_c); a corpus beyond that would switch the
    max to the double ECDF difference and accept last-ulp ambiguity on
    ties, or pre-aggregate values into quantile-sketch grid points.

    Plan shape: one (feature, value)-keyed partial-agg shuffle over
    the stacked sides, then ONE feature-partitioned window pass
    (cumulative + totals share the partitioning) and a per-feature
    max — output |features| rows. NULL feature values drop in
    :func:`_stack_features`, same as the PSI family."""
    stacked = _stack_features(base, "base", features).unionAll(
        _stack_features(cur, "cur", features)
    )
    per_v = stacked.groupBy("feature", "value").agg(
        F.sum(F.when(F.col("side") == "base", 1).otherwise(0))
        .cast("long")
        .alias("nb_v"),
        F.sum(F.when(F.col("side") == "cur", 1).otherwise(0))
        .cast("long")
        .alias("nc_v"),
    )
    w_cum = (
        W.partitionBy("feature")
        .orderBy("value")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_tot = W.partitionBy("feature")
    cum = per_v.select(
        "feature",
        F.sum("nb_v").over(w_cum).alias("cb"),
        F.sum("nc_v").over(w_cum).alias("cc"),
        F.sum("nb_v").over(w_tot).alias("nb"),
        F.sum("nc_v").over(w_tot).alias("nc"),
    )
    rep = (
        cum.withColumn(
            "d_scaled", F.abs(F.col("cb") * F.col("nc") - F.col("cc") * F.col("nb"))
        )
        .groupBy("feature", "nb", "nc")
        .agg(F.max("d_scaled").alias("dmax"))
    )
    ks_raw = F.col("dmax").cast("double") / (
        F.col("nb").cast("double") * F.col("nc").cast("double")
    )
    crit_raw = F.lit(crit_c) * F.sqrt(
        (F.col("nb") + F.col("nc")).cast("double")
        / (F.col("nb") * F.col("nc")).cast("double")
    )
    return rep.select(
        "feature",
        F.col("nb").cast("long").alias("n_base"),
        F.col("nc").cast("long").alias("n_cur"),
        F.round(ks_raw, 6).alias("ks_stat"),
        F.round(crit_raw, 6).alias("ks_crit_05"),
        (ks_raw > crit_raw).alias("drift"),
    ).orderBy("feature")


def categorical_drift_chi2(
    base: DataFrame,
    cur: DataFrame,
    col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """Chi-square homogeneity test between two corpus slices over a
    CATEGORICAL column (language, source, domain bucket) — the
    categorical member of the drift family (PSI and KS cover numeric
    marginals; a new crawl whose language mix shifted moves exactly
    this statistic). 2×k contingency (side × category):
    χ² = Σ_cells (O − E)²/E, Cramér's V = √(χ²/N) (min(r−1, c−1) = 1
    for two slices), df = k − 1.

    Determinism discipline: observed counts and margins are exact
    BIGINTs; each cell term is one IEEE sequence over doubles derived
    from them, rounded to 6dp and scaled ×1e6 into LONGs before the
    sum (integer addition is order-independent — the PSI discipline at
    the scale χ² magnitudes need); χ² divides back once and rounds 6.
    The p-value uses the closed-form even-df survival
    Q(x) = exp(−x/2)·Σ_{j<df/2} (x/2)^j/j! — powers unrolled as
    chained multiplications of the same rounded χ² (no libm pow), the
    exp output rounded to 6dp (the langid ln/exp precedent). For ODD
    df the p-value is NULL (erf has no cross-engine closed form here);
    df comes from one model-sized distinct-count collect.

    Plan shape: one category-keyed partial-agg count shuffle; the
    global windows run over the |categories|-row aggregate (row-
    bounded by construction). Output is ONE row."""
    b = (
        base.select(F.col(col).alias("cat"))
        .filter(F.col("cat").isNotNull())
        .withColumn("side", F.lit("base"))
    )
    c = (
        cur.select(F.col(col).alias("cat"))
        .filter(F.col("cat").isNotNull())
        .withColumn("side", F.lit("cur"))
    )
    cells = (
        b.unionAll(c)
        .groupBy("cat")
        .agg(
            F.sum(F.when(F.col("side") == "base", 1).otherwise(0))
            .cast("long")
            .alias("ob"),
            F.sum(F.when(F.col("side") == "cur", 1).otherwise(0))
            .cast("long")
            .alias("oc"),
        )
    )
    # persist BEFORE the eager count (r14 advice): df and the chi2
    # tail must come from ONE materialization of the contingency
    # aggregate — otherwise the count action recomputes both input
    # frames and silently assumes the category set is stable between
    # the two actions. persist (not localCheckpoint) keeps the
    # row-bounding HashAggregate visible to the plan-quality guard's
    # global-window walk; the cached frame is |categories| rows.
    cells = persisted(cells)
    n_cats = cells.count()  # model-sized driver round-trip (|categories|)
    df_val = n_cats - 1
    w_all = W.partitionBy()
    nb = F.sum("ob").over(w_all).cast("double")
    nc = F.sum("oc").over(w_all).cast("double")
    n_tot = nb + nc
    row_tot = (F.col("ob") + F.col("oc")).cast("double")
    eb = nb * row_tot / n_tot
    ec = nc * row_tot / n_tot
    term = (F.col("ob").cast("double") - eb) * (
        F.col("ob").cast("double") - eb
    ) / eb + (F.col("oc").cast("double") - ec) * (
        F.col("oc").cast("double") - ec
    ) / ec
    scaled = cells.select(
        F.sum("ob").over(w_all).alias("n_base"),
        F.sum("oc").over(w_all).alias("n_cur"),
        F.round(F.round(term, 6) * 1_000_000.0, 0).cast("long").alias("t_s"),
    )
    agg = scaled.groupBy("n_base", "n_cur").agg(
        F.round(F.sum("t_s") / 1_000_000.0, 6).alias("chi2")
    )
    x = F.col("chi2")
    if df_val % 2 == 0 and df_val >= 2:
        # Q(x) = exp(-x/2) * sum_{j<df/2} (x/2)^j / j!, powers as
        # chained multiplications of the SAME rounded chi2
        half = x / F.lit(2.0)
        series = F.lit(1.0)
        pow_term = F.lit(1.0)
        fact = 1.0
        for j in range(1, df_val // 2):
            pow_term = pow_term * half
            fact *= j
            series = series + pow_term / F.lit(fact)
        p_col = F.round(F.exp(-half) * series, 6)
    else:
        p_col = F.lit(None).cast("double")
    return agg.select(
        F.lit(col).alias("column"),
        F.col("n_base").cast("long").alias("n_base"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.lit(n_cats).cast("int").alias("n_categories"),
        F.lit(df_val).cast("int").alias("df"),
        "chi2",
        F.round(
            F.sqrt(x / (F.col("n_base") + F.col("n_cur")).cast("double")), 6
        ).alias("cramers_v"),
        p_col.alias("p_value"),
        (
            p_col < F.lit(alpha)
            if df_val % 2 == 0 and df_val >= 2
            else F.lit(None).cast("boolean")
        ).alias("drift"),
    )
