"""Custom stateful streaming operators via applyInPandasWithState
(SURVEY §2.9 T8's streaming form).

The reference's only stateful computation is the portfolio day-loop
(reference scripts/07_backtest.py:187-264) plus the producer's resume
cursor (ingestion/producer.py:132-146). Both patterns generalize to
"keyed running state over an event-time stream":

- :func:`running_user_stats` — per-key running aggregate state
  (count / sum / max and last-seen cursor), emitted per micro-batch.
  The cursor is exactly the reference's ``last_published_at`` state
  file, but keyed, fault-tolerant, and bounded by a processing-time
  timeout instead of a JSON file that grows forever.
- :func:`streaming_position_tracker` — the portfolio state machine on
  a stream: long position opened/closed per key from signal events,
  stop-loss/take-profit applied against the streamed price — the
  reference's Portfolio.update_positions as GroupState.

Scale notes: state lives in the state store keyed by the group column,
so it shards with the shuffle; idle-key GC timeouts are OPT-IN
(``idle_timeout_ms``): a registered processing-time timer makes the
engine schedule timer-service batches even with no input, so a
drain-style run (``availableNow`` — every test, every backfill) would
never terminate. Continuous deployments with a processingTime trigger
pass a timeout to bound state; bounded drains leave it off. Output is
append-mode micro-batch deltas.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATS_OUTPUT_SCHEMA = (
    "user_id long, n_events long, total_value double, max_value double, last_ts timestamp"
)
STATS_STATE_SCHEMA = "n long, total double, mx double, last_ts long"


def _make_stats_fn(idle_timeout_ms: int | None):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            # Idle-key GC: evict and emit nothing — re-registering the
            # timer or yielding here would duplicate the last row and
            # keep the key alive forever.
            state.remove()
            return
        if state.exists:
            n, total, mx, last_us = state.get
        else:
            n, total, mx, last_us = 0, 0.0, float("-inf"), 0
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
                last_us = max(last_us, int(pdf["ts"].astype("int64").max() // 1000))
        state.update((n, total, mx, last_us))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [total],
                "max_value": [mx],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )

    return fn


def running_user_stats(stream: DataFrame, idle_timeout_ms: int | None = None) -> DataFrame:
    """Keyed running stats + resume cursor over the event stream."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _make_stats_fn(idle_timeout_ms),
        STATS_OUTPUT_SCHEMA,
        STATS_STATE_SCHEMA,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout,
    )


POSITION_OUTPUT_SCHEMA = (
    "user_id long, action string, ts timestamp, price double, shares double, pnl double"
)
POSITION_STATE_SCHEMA = "entry_price double, shares double, holding boolean"

_STOP_LOSS = 0.05
_TAKE_PROFIT = 0.20
_BUY_THRESHOLD = 30.0
_CAPITAL = 1_000.0


def _make_position_fn(idle_timeout_ms: int | None):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            # Idle-key GC: evict (abandoning any open position state)
            # and emit nothing. Without this branch the timeout
            # invocation — whose ``pdfs`` iterator is empty but always
            # truthy — would fall through to pd.concat([]) and crash.
            state.remove()
            return
        if state.exists:
            entry_price, shares, holding = state.get
        else:
            entry_price, shares, holding = 0.0, 0.0, False
        actions = []
        chunks = list(pdfs)
        rows = pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        if len(rows):
            rows = rows.sort_values("ts")
            for r in rows.itertuples():
                price = float(r.value)
                if holding:
                    ret = price / entry_price - 1
                    if ret <= -_STOP_LOSS or ret >= _TAKE_PROFIT:
                        actions.append(
                            (user_id, "close", r.ts, price, shares, shares * (price - entry_price))
                        )
                        holding, entry_price, shares = False, 0.0, 0.0
                if not holding and price >= _BUY_THRESHOLD:
                    shares = _CAPITAL / price
                    entry_price = price
                    holding = True
                    actions.append((user_id, "open", r.ts, price, shares, 0.0))
        state.update((entry_price, shares, holding))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            actions, columns=["user_id", "action", "ts", "price", "shares", "pnl"]
        )

    return fn


def streaming_position_tracker(
    stream: DataFrame, idle_timeout_ms: int | None = None
) -> DataFrame:
    """The reference's position state machine on a live stream: per
    user, open above the threshold, close on stop-loss/take-profit —
    state survives across micro-batches via the state store."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _make_position_fn(idle_timeout_ms),
        POSITION_OUTPUT_SCHEMA,
        POSITION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout,
    )


def enrich_news_stream(news_stream: DataFrame) -> DataFrame:
    """Sentiment-on-stream: the enrichment job the reference stubbed
    out entirely (ingestion/spark-ingestion.py:1-10 is an empty
    docstring): :func:`functions.sentiment.with_sentiment` over the
    envelope's ``summary`` — the step the batch ``add_sentiment`` runs
    over ``description``, so both planes score identically."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.functions.sentiment import (
        with_sentiment,
    )

    return with_sentiment(news_stream, "summary")
