"""Arrow-batched document tiers: per-document shingle/fingerprint/
bigram computation in ONE ``mapInPandas`` pass.

Why this exists: the JVM formulations (operators/dedup.py,
operators/text.py) express per-document set math as posexplode →
window-sort → distinct-shuffle → 60-wide conditional aggregates. That
is correct and fully declarative, but at bench time the cost is
dominated by (a) whole-stage-codegen compilation of the very wide
generated classes and (b) two extra shuffles per operator that exist
only to rebuild per-document groups Spark just exploded. Measured at
sf0.1 / local[32]: SimHash fingerprints 4.5 s cold / 1.5 s warm via
the JVM pipeline vs well under 1 s for the same math done per-document
inside an Arrow batch.

Scale shape: one explicit-count round-robin repartition (documents
tables often arrive as a single parquet split) followed by linear,
embarrassingly-parallel batch work — no sort, no intermediate shuffle,
state bounded to one Arrow batch. This is exactly the "vectorized
Pandas UDF over mapInPandas" tier the engine reserves for semantics
the built-in operators can't express *efficiently*.

Every function here is a bit-exact twin of its JVM counterpart (same
md5-derived hash families, same token/shingle/bigram boundaries) —
asserted by tests/test_arrow_tiers.py and by the unchanged DuckDB
oracles of the catalog entries that consume them.
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

#: Affine MinHash family — shared constants with operators/dedup.py
#: (_MH_P, _mh_a, _mh_b). Imported there, re-declared here to avoid a
#: circular import; test_arrow_tiers.py asserts they stay in sync.
MH_P = 4_294_967_311


def _tokens(text: str) -> list[str]:
    """Twin of operators.text.tokens: split(trim(text), '\\s+').
    Spark's trim strips only ASCII spaces, so strip(' ') — not
    strip() — and a leading non-space whitespace char yields a
    leading empty token on both engines."""
    return _WS_RE.split(text.strip(" ")) if text is not None else []


def _shingle_set(text: str, n: int = 3) -> set[str]:
    """Twin of operators.dedup.shingle_rows: distinct word n-grams;
    documents shorter than n tokens yield one shingle = all tokens
    joined (concat_ws skips the null leads). NULL text yields NO
    shingles — the JVM formulation's posexplode drops the row
    entirely (split(trim(null)) is null), so the twin must too."""
    if text is None:
        return set()
    toks = _tokens(text)
    if len(toks) >= n:
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    return {" ".join(toks)}


def bigram_counter(text: str | None) -> Counter:
    """Character-bigram Counter of lower(text) — the per-document twin
    of the explode-and-count formulation (every length-2 substring
    except the one starting at the last character). Any non-``str``
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


_SHINGLE_ROWS_SCHEMA = "id bigint, shingle string"


def shingle_rows_arrow(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Arrow twin of dedup.shingle_rows: per-document distinct word
    n-gram ROWS, computed inside mapInPandas batches instead of the
    posexplode → lead-window → global-distinct pipeline. Bit-exact
    string output (same tokenizer/short-doc/null semantics via
    _shingle_set — equality-asserted in tests), so callers joining on
    the raw shingle string (decontamination) can swap tiers freely.
    Per-doc set construction makes the global distinct unnecessary:
    (id, shingle) is unique by construction. No codegen class, no
    per-doc window shuffle — only the round-robin compute scatter.
    Feeds any JVM-side aggregation that wants shingle rows (e.g. the
    xxhash64 production MinHash tier) without the window sort or the
    distinct shuffle."""
    import pandas as pd

    def op(batches):
        for pdf in batches:
            ids: list[int] = []
            grams: list[str] = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                for s in _shingle_set(text, n):
                    ids.append(doc_id)
                    grams.append(s)
            yield pd.DataFrame({"id": ids, "shingle": grams})

    # mapInPandas' DDL-string schema can't carry column metadata, so
    # re-attach the gram size after — same prebuilt-grain contract as
    # dedup.shingle_rows (decontaminate_* validates it)
    out = scatter_rr(df.select(id_col, text_col)).mapInPandas(
        op, _SHINGLE_ROWS_SCHEMA
    )
    return out.withColumn(
        "shingle", F.col("shingle").alias("shingle", metadata={"gram_n": n})
    )


# ---------------------------------------------------------------------------
# SimHash (portable 60-bit) — twin of dedup.simhash_table_portable
# ---------------------------------------------------------------------------
_SIMHASH_SCHEMA = "doc_id bigint, n_shingles bigint, simhash60 bigint"


def simhash_table_arrow(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """60-bit portable SimHash per document, computed inside Arrow
    batches: shingle set → md5-derived 60-bit values → per-bit majority
    vote, all per-row Python/numpy instead of a 61-aggregate shuffle.
    Bit-exact twin of :func:`dedup.simhash_table_portable` (asserted in
    tests); same DuckDB oracle applies."""
    shifts = np.arange(60, dtype=np.uint64)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, counts, fps = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                shingles = _shingle_set(text, n)
                if not shingles:  # null text: JVM twin emits no row
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
# MinHash (portable affine family) — twin of dedup.minhash_signatures_portable
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
    exploded rows. Bit-exact twin of
    :func:`dedup.minhash_signatures_portable`."""
    # md5-derived constants — the bit-exact twin of dedup._mh_a/_mh_b
    # (re-declared to avoid the circular import; kept in sync by
    # test_arrow_tiers.py)
    import hashlib

    a = np.array(
        [
            (int(hashlib.md5(f"mh-a-{i}".encode()).hexdigest()[:5], 16) % ((1 << 20) - 1)) + 1
            for i in range(num_hashes)
        ],
        dtype=np.int64,
    )
    b = np.array(
        [
            int(hashlib.md5(f"mh-b-{i}".encode()).hexdigest()[:8], 16) % 4294967311
            for i in range(num_hashes)
        ],
        dtype=np.int64,
    )
    schema = "id bigint, " + ", ".join(f"h{i} bigint" for i in range(num_hashes))

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                shingles = _shingle_set(text, n)
                if not shingles:  # null text: JVM twin emits no row
                    continue
                hv = np.array(
                    [_md5_long(s, 8) for s in shingles],
                    dtype=np.int64,
                )
                # a_i·v < 2^40 — no int64 overflow (same bound as the
                # JVM/DuckDB formulation).
                sig = ((hv[:, None] * a[None, :] + b[None, :]) % MH_P).min(axis=0)
                rows.append((doc_id, *sig.tolist()))
            yield pd.DataFrame(rows, columns=["id"] + [f"h{i}" for i in range(num_hashes)])

    return scatter_rr(df.select(F.col(id_col), F.col(text_col))).mapInPandas(op, schema)


# ---------------------------------------------------------------------------
# Character-bigram counts — twin of text.char_bigram_counts
# ---------------------------------------------------------------------------
def char_bigram_counts_arrow(
    df: DataFrame, text_col: str = "text", id_cols: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """Per-document character-bigram counts built with a Counter inside
    Arrow batches — replaces the 1-row-per-character explode + groupBy
    (the count is already per-document, so the (doc, bigram) shuffle
    disappears entirely). Bigram boundaries are the bit-exact twin of
    the JVM/DuckDB formulation: lower(text), substrings of length 2
    starting at every position except the last."""
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
