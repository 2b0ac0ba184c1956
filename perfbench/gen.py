"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow, never Spark, so input generation
does not share the engine under test. The shapes follow
``pipeline/fixtures.py`` (bursty ticker-days, ~2% duplicate article
URLs, occasional null titles and descriptions, weekday-only price bars)
but are vectorized so that 10^5 rows take well under a second.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_POS = ["strong gain as profit beats estimates", "record growth and bullish upgrade"]
_NEG = ["terrible loss after lawsuit and downgrade", "weak results crash the stock"]
_NEU = ["quarterly report released on schedule", "company holds annual meeting"]
_START = np.datetime64("2024-01-01T00:00:00", "us")

NEWS_ARROW_SCHEMA = pa.schema(
    [
        ("id", pa.string()),
        (
            "publisher",
            pa.struct(
                [
                    ("name", pa.string()),
                    ("homepage_url", pa.string()),
                    ("logo_url", pa.string()),
                    ("favicon_url", pa.string()),
                ]
            ),
        ),
        ("title", pa.string()),
        ("author", pa.string()),
        ("published_utc", pa.timestamp("us", tz="UTC")),
        ("article_url", pa.string()),
        ("tickers", pa.list_(pa.string())),
        ("description", pa.string()),
        ("keywords", pa.list_(pa.string())),
        ("ticker_queried", pa.string()),
    ]
)

PRICES_ARROW_SCHEMA = pa.schema(
    [
        ("date", pa.timestamp("us", tz="UTC")),
        ("ticker", pa.string()),
        ("open", pa.float64()),
        ("high", pa.float64()),
        ("low", pa.float64()),
        ("close", pa.float64()),
        ("volume", pa.float64()),
    ]
)

STREAM_ARROW_SCHEMA = pa.schema(
    [
        ("id", pa.string()),
        ("title", pa.string()),
        ("summary", pa.string()),
        ("publish_date", pa.timestamp("us", tz="UTC")),
        ("source", pa.string()),
        ("created_at", pa.timestamp("us", tz="UTC")),
    ]
)


def tickers(n: int) -> list[str]:
    return [f"TK{i:02d}" for i in range(n)]


def _weekdays(n: int) -> np.ndarray:
    days = np.arange(_START.astype("datetime64[D]"), _START.astype("datetime64[D]") + n * 2)
    return days[np.is_busday(days)][:n]


def prices_table(seed: int, n_tickers: int, n_bars: int) -> tuple[pa.Table, np.ndarray]:
    """Weekday bars per ticker. Returns the table and the per-ticker
    next-bar return matrix [ticker, bar] the news generator leans on,
    so sentiment genuinely predicts returns and the lag sweep finds
    tickers above the signal threshold."""
    rng = np.random.default_rng(seed)
    days = _weekdays(n_bars).astype("datetime64[us]")
    drift = rng.normal(0.0005, 0.015, size=(n_tickers, n_bars))
    drift[0, n_bars // 10] = -0.08  # a stop-loss day
    if n_tickers > 1:
        drift[1, n_bars // 6 : n_bars // 6 + 10] = 0.025  # a take-profit run
    close = 100.0 * (1 + 0.1 * rng.random((n_tickers, 1))) * np.cumprod(1 + drift, axis=1)
    close = np.maximum(close, 1.0)
    spread = np.abs(rng.normal(0, 0.01, size=close.shape)) * close
    names = np.repeat(np.array(tickers(n_tickers), dtype=object), n_bars)
    table = pa.table(
        {
            "date": pa.array(np.tile(days, n_tickers), pa.timestamp("us", tz="UTC")),
            "ticker": pa.array(names, pa.string()),
            "open": (close * (1 + rng.normal(0, 0.003, size=close.shape))).ravel(),
            "high": (close + spread).ravel(),
            "low": np.maximum(0.5, close - spread).ravel(),
            "close": close.ravel(),
            "volume": rng.integers(1_000_000, 50_000_000, size=close.size).astype(float),
        },
        schema=PRICES_ARROW_SCHEMA,
    )
    fwd = np.zeros_like(close)
    fwd[:, :-1] = close[:, 1:] / close[:, :-1] - 1
    return table, fwd


def news_table(seed: int, n_articles: int, n_tickers: int, n_bars: int, fwd: np.ndarray) -> pa.Table:
    """Bursty article stream over the price calendar. Half the
    articles fall on 10% of the days; mood leans towards the sign of
    the ticker's next-bar return; ~2% of URLs repeat an earlier one."""
    rng = np.random.default_rng(seed + 1)
    days = _weekdays(n_bars).astype("datetime64[us]")
    tk = rng.integers(n_tickers, size=n_articles)
    hot = rng.integers(0, n_bars, size=max(1, n_bars // 10))
    bar = np.where(
        rng.random(n_articles) < 0.5,
        rng.integers(n_bars, size=n_articles),
        hot[rng.integers(len(hot), size=n_articles)],
    )
    # published in the 72h before the bar, so each article feeds the
    # bar's lookback windows
    secs = rng.integers(0, 72 * 3600, size=n_articles)
    published = days[bar] - secs.astype("timedelta64[s]").astype("timedelta64[us]")
    lean = np.tanh(fwd[tk, bar] * 60.0)
    mood = rng.random(n_articles) * 2 - 1 + lean
    pool_id = np.where(mood > 0.35, 0, np.where(mood < -0.35, 1, 2))
    pools = [_POS, _NEG, _NEU]
    phrase = rng.integers(2, size=n_articles)
    phrase2 = rng.integers(2, size=n_articles)
    names = np.array(tickers(n_tickers), dtype=object)
    tkn = names[tk]
    title = np.array(
        [f"{t} {pools[p][k]}" for t, p, k in zip(tkn, pool_id, phrase)], dtype=object
    )
    title[rng.random(n_articles) < 0.03] = None
    desc = np.array(
        [f"Details on {t}: {pools[p][k]}" for t, p, k in zip(tkn, pool_id, phrase2)], dtype=object
    )
    desc[rng.random(n_articles) < 0.25] = None
    idx = np.arange(n_articles)
    url_idx = np.where(
        (rng.random(n_articles) < 0.02) & (idx > 10), rng.integers(0, np.maximum(idx, 1)), idx
    )
    url = [f"https://news.example.com/{names[tk[j]].lower()}/{j}" for j in url_idx]
    second = rng.random(n_articles) < 0.3
    other = names[rng.integers(n_tickers, size=n_articles)]
    tick_lists = [[a, b] if s else [a] for a, b, s in zip(tkn, other, second)]
    wire = rng.integers(5, size=n_articles)
    publisher = [
        {"name": f"Wire {w}", "homepage_url": "https://w.example.com", "logo_url": None, "favicon_url": None}
        for w in wire
    ]
    return pa.table(
        {
            "id": [f"art-{i}" for i in idx],
            "publisher": publisher,
            "title": title,
            "author": [f"author-{a}" for a in rng.integers(40, size=n_articles)],
            "published_utc": pa.array(published, pa.timestamp("us", tz="UTC")),
            "article_url": url,
            "tickers": tick_lists,
            "description": desc,
            "keywords": [["markets", t.lower()] for t in tkn],
            "ticker_queried": tkn,
        },
        schema=NEWS_ARROW_SCHEMA,
    )


def stream_batch(rng: np.random.Generator, first_id: int, n: int, dup_frac: float) -> pa.Table:
    """One drop file of news-stream articles. ~dup_frac of the rows
    repeat an earlier id (same content), as a re-delivering producer
    would. ``created_at`` is left null: ``stamp`` sets it when the file
    is written."""
    ids = np.arange(first_id, first_id + n)
    dup = (rng.random(n) < dup_frac) & (ids > 0)
    ids = np.where(dup, rng.integers(0, np.maximum(ids, 1)), ids)
    return stream_rows(ids, None)


def stamp(table: pa.Table, created_at: dt.datetime) -> pa.Table:
    """The table with every ``created_at`` set to ``created_at``."""
    i = table.schema.get_field_index("created_at")
    col = pa.array([created_at] * table.num_rows, pa.timestamp("us", tz="UTC"))
    return table.set_column(i, "created_at", col)


def stream_rows(ids: np.ndarray, created_at: dt.datetime | None) -> pa.Table:
    """Rows for the given article ids. Content is a pure function of
    the id, so a duplicate delivery carries the same text."""
    pools = _POS + _NEG + _NEU
    title = [f"TK{i % 40:02d} {pools[(i * 7) % len(pools)]}" for i in ids]
    summary = [None if i % 5 == 0 else f"Summary: {pools[(i * 3 + 1) % len(pools)]}" for i in ids]
    pub = _START + (ids * 60_000_000).astype("timedelta64[us]")
    n = len(ids)
    return pa.table(
        {
            "id": [f"s-{i}" for i in ids],
            "title": title,
            "summary": summary,
            "publish_date": pa.array(pub, pa.timestamp("us", tz="UTC")),
            "source": [f"wire-{i % 5}" for i in ids],
            "created_at": pa.array([created_at] * n, pa.timestamp("us", tz="UTC")),
        },
        schema=STREAM_ARROW_SCHEMA,
    )


_VOCAB = (
    "a the join hash row batch scan column customer filter small slow merge order vector line "
    "table data agg value key stream window spark part group big sort query fast"
).split()
_LANGS = np.array(["en", "zh", "es", "de", "fr"], dtype=object)
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def documents_table(seed: int, n_docs: int, dup_frac: float = 0.05) -> pa.Table:
    """A corpus for the catalog's document-curation entries, shaped
    like the catalog's ``documents`` table: 10-99 words from a
    30-word vocabulary, five languages, 20 sources; ~dup_frac of the
    docs copy an earlier doc's text and end in " dup"."""
    rng = np.random.default_rng(seed + 2)
    vocab = np.array(_VOCAB, dtype=object)
    lengths = rng.integers(10, 100, size=n_docs)
    text = [" ".join(vocab[rng.integers(len(vocab), size=k)]) for k in lengths]
    for i in np.nonzero((rng.random(n_docs) < dup_frac) & (np.arange(n_docs) > 0))[0]:
        text[i] = text[rng.integers(i)] + " dup"
    ids = np.arange(n_docs)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": text,
            "lang": _LANGS[rng.choice(len(_LANGS), size=n_docs, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def write_parquet(table: pa.Table, path: str) -> None:
    """Write atomically (tmp + rename) so a file-stream source never
    lists a half-written file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)
