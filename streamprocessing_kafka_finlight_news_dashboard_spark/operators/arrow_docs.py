"""Arrow-batched document grams: per-document shingle/fingerprint/
bigram computation in ONE ``mapInPandas`` pass.

This module is the engine's only implementation of per-document grams
(word shingles as rows or sorted arrays, portable SimHash and MinHash,
character-bigram and token counts); operators/dedup.py and
operators/text.py build on it. The declarative alternative —
posexplode → window-sort → distinct-shuffle → 60-wide conditional
aggregates — rebuilds per-document groups Spark just exploded, and at
bench time its cost is dominated by (a) whole-stage-codegen
compilation of the very wide generated classes and (b) two extra
shuffles per operator. Measured at sf0.1 / local[32]: SimHash
fingerprints 4.5 s cold / 1.5 s warm via that pipeline vs well under
1 s for the same math done per-document inside an Arrow batch.

Scale shape: one explicit-count round-robin repartition (documents
tables often arrive as a single parquet split) followed by linear,
embarrassingly-parallel batch work — no sort, no intermediate shuffle,
state bounded to one Arrow batch.

The specification is the DuckDB SQL of the catalog oracles (the
shingle CTEs, the MinHash signature and SimHash vote expressions, the
``range(1, len(lower(text)))`` bigram grain in plans/text.py): same
md5-derived hash families, same token/shingle/bigram boundaries.
tests/test_arrow_tiers.py asserts equality with that SQL on the
sf0.001 corpus and on an edge-case corpus.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ASCII \s only: Java's \s (Spark split) and DuckDB's RE2 \s are
# ASCII-only; Python's default \s would also eat U+00A0 etc. and
# silently diverge from the oracle on non-ASCII whitespace.
_WS_RE = re.compile(r"\s+", re.ASCII)

# Portable MinHash family, shared with the oracle SQL
# (plans/text.py::_MH_SIG_EXPRS): shingle value = first 8 hex chars of
# md5 (bit-identical across engines, < 2^32), then k affine hashes
# h_i(v) = (a_i·v + b_i) mod P with P prime > 2^32. The md5-derived
# 20-bit multipliers give a_i·v ≤ ~2^52 — within int64 on every engine
# (see _mh_a's docstring). xxhash64 stays the production tier
# (dedup.minhash_lsh_candidates: one JVM intrinsic vs md5+conv); this
# family exists so the SAME algorithm is hash-verifiable against DuckDB.
MH_P = 4_294_967_311


def _mh_a(i: int) -> int:
    """i-th minhash multiplier: md5-derived 20-bit value in
    [1, 2^20-1]. Small enough that a·hv ≤ 2^52 never overflows int64
    (Spark long / numpy int64 / DuckDB BIGINT all agree), random
    enough that components are effectively independent. The previous
    arithmetic-progression family (131 + 2i) made CONSECUTIVE hashes
    correlated (h_{i+1} − h_i = 2·hv + const), which the estimator
    query exposed: a 0.011-Jaccard pair matched 15/32 components and
    rode that correlation into a band collision. md5-derived
    constants put the estimator back inside its binomial error band
    (measured in CALIBRATION.md)."""
    return (
        int(hashlib.md5(f"mh-a-{i}".encode()).hexdigest()[:5], 16)
        % ((1 << 20) - 1)
    ) + 1


def _mh_b(i: int) -> int:
    """i-th minhash offset: md5-derived value in [0, P)."""
    return int(hashlib.md5(f"mh-b-{i}".encode()).hexdigest()[:8], 16) % MH_P


def _tokens(text: str) -> list[str]:
    """Twin of operators.text.tokens: split(trim(text), '\\s+').
    Spark's trim strips only ASCII spaces, so strip(' ') — not
    strip() — and a leading non-space whitespace char yields a
    leading empty token on both engines."""
    return _WS_RE.split(text.strip(" ")) if text is not None else []


def _shingle_set(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams of one document, as the oracle's shingle
    CTEs define them: documents shorter than n tokens yield one
    shingle = all tokens joined; NULL text yields NO shingles (the
    SQL's unnest over a NULL token list emits no row)."""
    if text is None:
        return set()
    toks = _tokens(text)
    if len(toks) >= n:
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    return {" ".join(toks)}


def bigram_counter(text: str | None) -> Counter:
    """Character-bigram Counter of lower(text): every length-2
    substring except the one starting at the last character (the
    oracle's ``range(1, len(lower(text)))`` grain). Any non-``str``
    input (None, or NaN/pd.NA for a SQL NULL) counts as empty text."""
    t = text.lower() if isinstance(text, str) else ""
    return Counter(t[i : i + 2] for i in range(len(t) - 1))


def _md5_long(s: str, hex_chars: int) -> int:
    """First ``hex_chars`` hex chars of md5 as an int — the portable
    cross-engine hash (twin of conv(substring(md5(x),1,N),16,10))."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:hex_chars], 16)


def scatter_rr(df: DataFrame) -> DataFrame:
    """Explicit-count round-robin repartition before the batch op —
    the single-split-table trap (see similarity._scatter): without an
    explicit count the whole corpus lands in one Arrow stream.

    Sized by ``defaultParallelism`` (total cluster cores), not
    ``spark.sql.shuffle.partitions``: this is a compute scatter, not a
    join/agg shuffle — a vanilla session's default 200 SQL shuffle
    partitions would mean 200 Python worker invocations over a small
    corpus (measured against the external-driver session), while cores
    is the right width at every scale."""
    n_part = max(2, df.sparkSession.sparkContext.defaultParallelism)
    return df.repartition(n_part)


def _shingle_map(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    keep_cols: tuple[str, ...],
    gram_col: str,
    gram_type: str,
    finish,
) -> DataFrame:
    """One mapInPandas pass emitting (id, *keep_cols, gram_col): each
    batch becomes a frame of per-doc shingle SETS in ``gram_col``,
    which ``finish`` reshapes. ``keep_cols`` are per-document
    constants (source, lang) carried with their input types, so
    group-level consumers need no corpus re-join. The gram size
    travels as column metadata: mapInPandas' DDL-string schema can't
    carry it, so it is re-attached after — a consumer accepting
    PREBUILT grams (dedup.decontaminate_ngram/_bloom) then fails
    loudly on an n-mismatch instead of silently mislabeling
    documents."""
    types = dict(df.dtypes)
    schema = ", ".join(
        ["id bigint", *(f"{c} {types[c]}" for c in keep_cols), f"{gram_col} {gram_type}"]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[[id_col, *keep_cols]].rename(columns={id_col: "id"})
            out[gram_col] = [_shingle_set(t, n) for t in pdf[text_col]]
            yield finish(out)

    out = scatter_rr(df.select(id_col, *keep_cols, text_col)).mapInPandas(op, schema)
    return out.withColumn(
        gram_col, F.col(gram_col).alias(gram_col, metadata={"gram_n": n})
    )


def shingle_rows_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct word n-gram shingles as (id, *keep_cols, shingle) ROWS.
    Per-doc set construction makes a global distinct unnecessary:
    (id, shingle) is unique by construction. No codegen class, no
    per-doc window shuffle — only the round-robin compute scatter.
    Feeds any JVM-side aggregation or join that wants shingle rows
    (the xxhash64 MinHash/SimHash tiers, decontamination, novelty,
    source overlap). NULL text yields no rows."""

    def explode(out: pd.DataFrame) -> pd.DataFrame:
        out = out.explode("shingle")
        return out[out["shingle"].notna()]  # a NULL text's empty set

    return _shingle_map(
        df, text_col, id_col, n, keep_cols, "shingle", "string", explode
    )


def shingle_arrays_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *keep_cols, shingles) with ``shingles`` the doc's SORTED
    distinct word n-grams — the array grain a pairwise
    ``array_intersect`` needs, built in the same pass as the rows
    (no explode → collect_set regroup). NULL text yields no row."""

    def to_sorted(out: pd.DataFrame) -> pd.DataFrame:
        out["shingles"] = [sorted(s) for s in out["shingles"]]
        return out[out["shingles"].map(len) > 0]

    return _shingle_map(
        df, text_col, id_col, n, keep_cols, "shingles", "array<string>", to_sorted
    )


# ---------------------------------------------------------------------------
# SimHash (portable 60-bit)
# ---------------------------------------------------------------------------
_SIMHASH_SCHEMA = "doc_id bigint, n_shingles bigint, simhash60 bigint"


def simhash_table_arrow(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """60-bit portable SimHash per document, computed inside Arrow
    batches: shingle set → md5-derived 60-bit values → per-bit majority
    vote, all per-row Python/numpy instead of a 61-aggregate shuffle.
    Specified by the doc_simhash_portable oracle's vote SQL."""
    shifts = np.arange(60, dtype=np.uint64)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, counts, fps = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                shingles = _shingle_set(text, n)
                if not shingles:  # null text: no row
                    continue
                hv = np.array(
                    [_md5_long(s, 15) for s in shingles],
                    dtype=np.uint64,
                )
                ones = ((hv[:, None] >> shifts) & 1).sum(axis=0)
                bits = np.flatnonzero(2 * ones > len(hv))
                fp = 0
                for b in bits:
                    fp |= 1 << int(b)
                ids.append(doc_id)
                counts.append(len(hv))
                fps.append(fp)
            yield pd.DataFrame(
                {"doc_id": ids, "n_shingles": counts, "simhash60": fps}
            )

    out = scatter_rr(df.select(F.col(id_col), F.col(text_col))).mapInPandas(
        op, _SIMHASH_SCHEMA
    )
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


# ---------------------------------------------------------------------------
# MinHash (portable affine family)
# ---------------------------------------------------------------------------
def minhash_signatures_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    n: int = 3,
) -> DataFrame:
    """Portable MinHash signatures inside Arrow batches: per document,
    h_i = min((a_i·v + b_i) mod P) over the md5-derived shingle values
    — one numpy broadcast per doc instead of 32 min-aggregates over
    exploded rows. Specified by plans/text.py::_MH_SIG_EXPRS."""
    a = np.array([_mh_a(i) for i in range(num_hashes)], dtype=np.int64)
    b = np.array([_mh_b(i) for i in range(num_hashes)], dtype=np.int64)
    schema = "id bigint, " + ", ".join(f"h{i} bigint" for i in range(num_hashes))

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                shingles = _shingle_set(text, n)
                if not shingles:  # null text: no row
                    continue
                hv = np.array(
                    [_md5_long(s, 8) for s in shingles],
                    dtype=np.int64,
                )
                # a_i·v < 2^52 — no int64 overflow (same bound as the
                # DuckDB formulation).
                sig = ((hv[:, None] * a[None, :] + b[None, :]) % MH_P).min(axis=0)
                rows.append((doc_id, *sig.tolist()))
            yield pd.DataFrame(rows, columns=["id"] + [f"h{i}" for i in range(num_hashes)])

    return scatter_rr(df.select(F.col(id_col), F.col(text_col))).mapInPandas(op, schema)


# ---------------------------------------------------------------------------
# Character-bigram counts
# ---------------------------------------------------------------------------
def char_bigram_counts_arrow(
    df: DataFrame, text_col: str = "text", id_cols: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """Per-document character-bigram counts built with a Counter inside
    Arrow batches — replaces the 1-row-per-character explode + groupBy
    (the count is already per-document, so the (doc, bigram) shuffle
    disappears entirely). Bigram boundaries are the oracle's:
    lower(text), substrings of length 2 starting at every position
    except the last (:func:`bigram_counter`)."""
    id_types = dict(df.select(*id_cols).dtypes)
    schema = (
        ", ".join(f"{c} {id_types[c]}" for c in id_cols) + ", bg string, cnt bigint"
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in id_cols}
            out["bg"] = []
            out["cnt"] = []
            for row in pdf.itertuples(index=False):
                counts = bigram_counter(getattr(row, text_col))
                for bg, cnt in counts.items():
                    for c in id_cols:
                        out[c].append(getattr(row, c))
                    out["bg"].append(bg)
                    out["cnt"].append(cnt)
            yield pd.DataFrame(out)

    return scatter_rr(df.select(*id_cols, F.col(text_col))).mapInPandas(op, schema)


# ---------------------------------------------------------------------------
# Lowercased token counts — twin of tfidf's explode(lower-tokens) → count
# ---------------------------------------------------------------------------
def token_counts_arrow(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, token, tf) at final grain from one Arrow pass: Counter over
    the lowercased whitespace tokens (empty tokens dropped, matching
    the JVM filter(token != '') after the explode)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, toks, tfs = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                counts = Counter(
                    t for t in _tokens(text.lower() if text is not None else "") if t
                )
                for tok, tf in counts.items():
                    ids.append(doc_id)
                    toks.append(tok)
                    tfs.append(tf)
            yield pd.DataFrame({id_col: ids, "token": toks, "tf": tfs})

    return scatter_rr(df.select(F.col(id_col), F.col(text_col))).mapInPandas(
        op, f"{id_col} bigint, token string, tf bigint"
    )
