"""Round-5 extension of the time-series catalog: OHLC candle resample
(the finance-dashboard view the reference's equity/price panels draw
from — reference app/experiment.py price charts)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark.plans.catalog import query
from streamprocessing_kafka_finlight_news_dashboard_spark.session import materialize
from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table


@query(
    "events_ohlc_daily",
    oracle="""
        SELECT date_trunc('day', ts) AS day,
               event_type,
               arg_min(value, ts)    AS open,
               max(value)            AS high,
               min(value)            AS low,
               arg_max(value, ts)    AS close,
               count(*)              AS volume,
               round(CAST(sum(CAST(value AS DECIMAL(20,8))) AS DOUBLE), 6)
                                     AS total_value
        FROM events
        GROUP BY date_trunc('day', ts), event_type
    """,
    survey_ops="A1/A2/W7 — OHLC candle resample (reference domain: the "
    "price-candle aggregation a market dashboard draws; min_by/max_by "
    "argmin family)",
    doc="Daily OHLC candles per event type: open/close are the values "
    "at the bucket's first/last timestamp (min_by/max_by — ts is "
    "verified unique at every SF; a production feed would key by "
    "(ts, event_id)), high/low the extremes, volume the event count, "
    "total_value the order-independent decimal sum. ONE partial-"
    "aggregated shuffle keyed by (day, type) — the canonical "
    "map-side-combine resample that survives any corpus size.",
)
def events_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type",
    ).agg(
        F.min_by("value", "ts").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ts").alias("close"),
        F.count(F.lit(1)).alias("volume"),
        F.round(
            F.sum(F.col("value").cast("decimal(20,8)")).cast("double"), 6
        ).alias("total_value"),
    )


@query(
    "events_rolling_zscore_anomalies",
    oracle="""
        WITH stats AS (
            SELECT event_id, event_type, value,
                   count(*) OVER w AS n,
                   CAST(sum(CAST(value AS DECIMAL(20,8))) OVER w AS DOUBLE) AS s,
                   CAST(sum(CAST(value * value AS DECIMAL(20,8))) OVER w AS DOUBLE) AS s2
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY ts
                         ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
        ), z AS (
            SELECT event_id, event_type, value, n,
                   round((value - s / n)
                         / sqrt(((s2 - s * s / n) / (n - 1))), 6) AS zscore
            FROM stats
            WHERE n >= 10 AND (s2 - s * s / n) / (n - 1) > 0
        )
        SELECT event_id, event_type, value, zscore
        FROM z WHERE abs(zscore) > 3
    """,
    survey_ops="W6/W1 — rolling z-score anomaly flagging (reference "
    "domain: the outlier screen a market feed runs before signals)",
    doc="Trailing-20-event z-score per event type (frame excludes the "
    "current row — no self-leakage), flagging |z| > 3 with at least "
    "10 trailing observations. Sums are per-value double→decimal "
    "casts (exact, order-independent — the r5 sweep discipline); "
    "mean/variance arithmetic runs in a FIXED double expression "
    "order, so both engines compute bit-identical z. The window is "
    "partitioned by event_type — never a global funnel.",
)
def events_rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type")
        .orderBy("ts")
        .rowsBetween(-20, -1)
    )
    s = F.sum(F.col("value").cast("decimal(20,8)")).over(w).cast("double")
    s2 = (
        F.sum((F.col("value") * F.col("value")).cast("decimal(20,8)"))
        .over(w)
        .cast("double")
    )
    n = F.count(F.lit(1)).over(w)
    stats = e.select(
        "event_id", "event_type", "value", n.alias("n"), s.alias("s"), s2.alias("s2")
    )
    var = (F.col("s2") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    z = F.round(
        (F.col("value") - F.col("s") / F.col("n")) / F.sqrt(var), 6
    )
    return (
        stats.filter((F.col("n") >= 10) & (var > 0))
        .select("event_id", "event_type", "value", z.alias("zscore"))
        .filter(F.abs(F.col("zscore")) > 3)
    )


# EWMA weights (span 10 → α = 2/11, adjust=True over the trailing 20
# observations). ONE Python list feeds BOTH the Spark literals and the
# generated oracle SQL, so the engines evaluate the identical float
# expression tree in the identical fixed order — repr() round-trips
# doubles exactly.
_EWMA_SPAN = 10
_EWMA_LAGS = 20
_EWMA_W = [(1.0 - 2.0 / (_EWMA_SPAN + 1.0)) ** j for j in range(_EWMA_LAGS)]

_EWMA_NUM_SQL = " + ".join(
    f"coalesce(lag(value, {j}) OVER w, 0) * {w!r}" for j, w in enumerate(_EWMA_W)
)
_EWMA_DEN_SQL = " + ".join(
    f"(CASE WHEN lag(value, {j}) OVER w IS NULL THEN 0 ELSE 1 END) * {w!r}"
    for j, w in enumerate(_EWMA_W)
)


@query(
    "events_ewma",
    oracle=f"""
        WITH terms AS (
            SELECT event_id, event_type, value,
                   {_EWMA_NUM_SQL} AS num,
                   {_EWMA_DEN_SQL} AS den
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY ts)
        )
        SELECT event_id, event_type, value,
               round(num / den, 6) AS ewma
        FROM terms
    """,
    survey_ops="W1/W6 — exponentially weighted moving average "
    "(reference domain: pandas .ewm smoothing under every price "
    "panel)",
    doc="Span-10 EWMA per event type (adjust=True over the trailing "
    "20 observations — the truncation bound where the dropped tail "
    "weight is (9/11)^20 < 2% of the mass). The numerator and "
    "denominator are FIXED-ORDER sums of 20 lag terms with weights "
    "inlined from one Python list into both engines, so the floats "
    "are bit-identical — never a shuffle-ordered reduction. The lag "
    "window partitions by event_type; no global funnel.",
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts")
    num = None
    den = None
    for j, wt in enumerate(_EWMA_W):
        lagv = F.lag("value", j).over(w)
        t_num = F.coalesce(lagv, F.lit(0.0)) * F.lit(wt)
        t_den = F.when(lagv.isNull(), 0.0).otherwise(1.0) * F.lit(wt)
        num = t_num if num is None else num + t_num
        den = t_den if den is None else den + t_den
    return e.select(
        "event_id",
        "event_type",
        "value",
        F.round(num / den, 6).alias("ewma"),
    )


@query(
    "events_cohort_retention",
    oracle="""
        WITH firsts AS (
            SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ), activity AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week
            FROM events
        )
        SELECT f.cohort_week,
               CAST(date_diff('day', f.cohort_week, a.act_week) // 7 AS BIGINT)
                   AS week_offset,
               count(DISTINCT a.user_id) AS n_users
        FROM activity a JOIN firsts f USING (user_id)
        GROUP BY f.cohort_week, date_diff('day', f.cohort_week, a.act_week) // 7
    """,
    survey_ops="A2/A5/J4 — cohort retention matrix (reference domain: "
    "the user-retention panel of an activity dashboard)",
    doc="Weekly cohort retention: users bucket into the ISO week of "
    "their first event; each (cohort_week, week_offset) cell counts "
    "distinct users active that many weeks later. Both engines "
    "truncate weeks to Monday, so day-diffs are exact multiples of "
    "7. Two uniform user-keyed aggregations + one join — the firsts "
    "side is |users| rows and broadcasts at any realistic cohort "
    "cardinality.",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    off = F.floor(
        F.datediff(F.col("act_week"), F.col("cohort_week")) / 7
    ).cast("long")
    return (
        activity.join(F.broadcast(firsts), "user_id")
        .groupBy("cohort_week", off.alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "events_funnel_conversion",
    oracle="""
        WITH s AS (
            SELECT user_id, min(ts) AS signup_ts
            FROM events WHERE event_type = 'signup' GROUP BY user_id
        ), conv AS (
            SELECT s.user_id,
                   max(CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END)
                       AS converted
            FROM s LEFT JOIN events p
              ON p.user_id = s.user_id
             AND p.event_type = 'purchase'
             AND p.ts >= s.signup_ts
             AND p.ts < s.signup_ts + INTERVAL 7 DAY
            GROUP BY s.user_id
        )
        SELECT date_trunc('week', s.signup_ts) AS signup_week,
               count(*) AS n_signups,
               CAST(sum(conv.converted) AS BIGINT) AS n_converted,
               round(sum(conv.converted) * 1.0 / count(*), 6)
                   AS conversion_rate
        FROM s JOIN conv USING (user_id)
        GROUP BY date_trunc('week', s.signup_ts)
    """,
    survey_ops="J3/P4/A6 — funnel conversion (reference domain: the "
    "signup→purchase step analysis an activity dashboard reports)",
    doc="7-day signup→purchase funnel per signup week: each user's "
    "FIRST signup anchors a half-open 7-day window; conversion is "
    "any purchase inside it. The anchor side is one row per signed-"
    "up user (uniform user-keyed min), the probe join is user-keyed "
    "equi + time-range residual — the PIT-join shape (J1/P4) on the "
    "activity domain. Rate = exact-integer division, round 6.",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    conv = (
        s.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("signup_ts"))
            & (F.col("p_ts") < F.col("signup_ts") + F.expr("INTERVAL 7 DAY")),
            "left",
        )
        .groupBy("user_id", "signup_ts")
        .agg(
            F.max(
                F.when(F.col("p_user").isNotNull(), 1).otherwise(0)
            ).alias("converted")
        )
    )
    return conv.groupBy(
        F.date_trunc("week", F.col("signup_ts")).alias("signup_week")
    ).agg(
        F.count(F.lit(1)).alias("n_signups"),
        F.sum("converted").alias("n_converted"),
        F.round(F.sum("converted") / F.count(F.lit(1)), 6).alias(
            "conversion_rate"
        ),
    )


@query(
    "events_session_overlap",
    oracle="""
        WITH gapped AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                             OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                                     + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS is_new_session,
                   event_id
            FROM events
        ), numbered AS (
            SELECT user_id, ts,
                   sum(is_new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_id
            FROM gapped
        ), sessions AS (
            SELECT user_id, session_id,
                   min(ts) AS s_start, max(ts) AS s_end
            FROM numbered GROUP BY user_id, session_id
        )
        SELECT a.user_id AS user_a, b.user_id AS user_b,
               count(*) AS n_overlapping_pairs,
               CAST(sum(epoch_us(least(a.s_end, b.s_end))
                        - epoch_us(greatest(a.s_start, b.s_start)))
                    AS BIGINT) AS total_overlap_us
        FROM sessions a JOIN sessions b
          ON a.user_id < b.user_id
         AND a.s_start <= b.s_end AND b.s_start <= a.s_end
        GROUP BY a.user_id, b.user_id
    """,
    survey_ops="interval-overlap join (beyond-reference; the bucketed "
    "range-join shape Spark lacks natively) over W5 sessionization",
    doc="Concurrent-session analysis: for every user pair, how many of "
    "their 30-min-gap sessions overlap in time and for how long "
    "(exact microsecond sum — integer arithmetic). The engine makes "
    "the interval self-join SCALABLE by banding each session into the "
    "hour buckets it spans and equi-joining on bucket before the "
    "overlap predicate (candidate pairs share an hour; never a "
    "cartesian product — the plan guard asserts it); duplicate "
    "bucket hits collapse via DISTINCT before the pair count. The "
    "oracle states the pure interval semantics without the banding.",
)
def events_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    gapped = e.withColumn(
        "is_new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTE")),
            1,
        ).otherwise(0),
    )
    sessions = (
        gapped.withColumn("session_id", F.sum("is_new_session").over(wrun))
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
        .transform(materialize)  # feeds both sides of the self-join
    )
    banded = sessions.select(
        "user_id",
        "session_id",
        "s_start",
        "s_end",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("s_start")),
                F.date_trunc("hour", F.col("s_end")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket"),
    )
    a = banded.select(
        F.col("user_id").alias("user_a"),
        F.col("session_id").alias("sess_a"),
        F.col("s_start").alias("start_a"),
        F.col("s_end").alias("end_a"),
        "bucket",
    )
    b = banded.select(
        F.col("user_id").alias("user_b"),
        F.col("session_id").alias("sess_b"),
        F.col("s_start").alias("start_b"),
        F.col("s_end").alias("end_b"),
        "bucket",
    )
    pairs = (
        a.join(
            b,
            (F.col("user_a") < F.col("user_b"))
            & (a["bucket"] == b["bucket"])
            & (F.col("start_a") <= F.col("end_b"))
            & (F.col("start_b") <= F.col("end_a")),
        )
        .select("user_a", "sess_a", "user_b", "sess_b", "start_a", "end_a", "start_b", "end_b")
        .distinct()
    )
    ov = F.unix_micros(F.least("end_a", "end_b")) - F.unix_micros(
        F.greatest("start_a", "start_b")
    )
    return pairs.groupBy("user_a", "user_b").agg(
        F.count(F.lit(1)).alias("n_overlapping_pairs"),
        F.sum(ov).alias("total_overlap_us"),
    )


@query(
    "events_activity_pipeline",
    oracle="""
        WITH gapped AS (
            -- stage 0: 30-min-gap sessionization (shared intermediate)
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                             OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                                     + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS is_new_session
            FROM events
        ), numbered AS (
            SELECT user_id, ts,
                   sum(is_new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_id
            FROM gapped
        ), sessions AS (
            SELECT user_id, session_id,
                   min(ts) AS s_start, max(ts) AS s_end,
                   count(*) AS n_events
            FROM numbered GROUP BY user_id, session_id
        ), user_sess AS (
            -- stage 1: per-user session stats + cohort anchor
            SELECT user_id,
                   count(*)      AS n_sessions,
                   sum(n_events) AS n_events,
                   sum(epoch_us(s_end) - epoch_us(s_start)) AS sess_us,
                   date_trunc('week', min(s_start)) AS cohort_week
            FROM sessions GROUP BY user_id
        ), pair_ov AS (
            -- stage 2: interval-overlap self-join over sessions
            SELECT a.user_id AS user_a, b.user_id AS user_b,
                   sum(epoch_us(least(a.s_end, b.s_end))
                       - epoch_us(greatest(a.s_start, b.s_start))) AS ov_us
            FROM sessions a JOIN sessions b
              ON a.user_id < b.user_id
             AND a.s_start <= b.s_end AND b.s_start <= a.s_end
            GROUP BY a.user_id, b.user_id
        ), user_ov AS (
            -- per-user view: each pair contributes to both endpoints
            SELECT user_id, sum(ov_us) AS ov_us
            FROM (SELECT user_a AS user_id, ov_us FROM pair_ov
                  UNION ALL
                  SELECT user_b AS user_id, ov_us FROM pair_ov) z
            GROUP BY user_id
        ), signups AS (
            -- stage 3: 7-day signup->purchase funnel (raw-event branch)
            SELECT user_id, min(ts) AS signup_ts
            FROM events WHERE event_type = 'signup' GROUP BY user_id
        ), conv AS (
            SELECT s.user_id,
                   max(CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END)
                       AS converted
            FROM signups s LEFT JOIN events p
              ON p.user_id = s.user_id
             AND p.event_type = 'purchase'
             AND p.ts >= s.signup_ts
             AND p.ts < s.signup_ts + INTERVAL 7 DAY
            GROUP BY s.user_id
        ), retained AS (
            -- stage 4: week-1 retention by session-start week
            SELECT DISTINCT s.user_id
            FROM sessions s JOIN user_sess u USING (user_id)
            WHERE date_diff('day', u.cohort_week,
                            date_trunc('week', s.s_start)) // 7 = 1
        )
        SELECT u.cohort_week,
               count(*)                               AS n_users,
               CAST(sum(u.n_sessions) AS BIGINT)      AS n_sessions,
               round(sum(u.n_events) * 1.0 / sum(u.n_sessions), 6)
                                                      AS avg_events_per_session,
               CAST(sum(u.sess_us) AS BIGINT)         AS total_session_us,
               count(r.user_id)                       AS n_retained_w1,
               count(sg.user_id)                      AS n_signups,
               CAST(coalesce(sum(cv.converted), 0) AS BIGINT) AS n_converted,
               round(sum(cv.converted) * 1.0 / nullif(count(sg.user_id), 0), 6)
                                                      AS conversion_rate,
               count(ov.user_id)                      AS n_overlap_users,
               CAST(coalesce(sum(ov.ov_us), 0) AS BIGINT) AS total_overlap_us
        FROM user_sess u
        LEFT JOIN retained r ON r.user_id = u.user_id
        LEFT JOIN signups  sg ON sg.user_id = u.user_id
        LEFT JOIN conv     cv ON cv.user_id = u.user_id
        LEFT JOIN user_ov  ov ON ov.user_id = u.user_id
        GROUP BY u.cohort_week
    """,
    survey_ops="events-plane FLAGSHIP — the reference dashboard's "
    "analytics surface (app/experiment.py:409-510 tabs) as ONE lazy "
    "plan: W5/T7 sessionization -> A1/A2 per-user stats -> the "
    "bucketed interval-overlap self-join -> J3/P4/A6 funnel -> "
    "A2/A5/J4 weekly cohort manifest",
    doc="End-to-end activity analytics as ONE composed plan — the "
    "verified form of the dashboard surface the reference re-renders "
    "per tab: (0) 30-min-gap sessionization, materialized ONCE "
    "(lazy localCheckpoint — consumed by per-user stats, both sides "
    "of the overlap self-join, and week-1 retention; aliased "
    "branches defeat ReusedExchange); (1) per-user session stats + "
    "cohort anchor (week of first session start = week of first "
    "event); (2) interval-overlap self-join made scalable by hour-"
    "bucket banding + DISTINCT session pairs (never cartesian; the "
    "catalog-wide no-CartesianProduct guard in test_plan_quality "
    "asserts it for this plan and every other), folded to a per-user "
    "view where each "
    "pair contributes to both endpoints; (3) 7-day signup->purchase "
    "funnel from the raw-event branch (PIT-join shape); (4) week-1 "
    "retention = cohort users with a session STARTING in cohort_week "
    "+ 1 (stated semantic: activity week is the session-start week, "
    "so retention derives from the session intermediate, not a "
    "second raw scan). Output: one manifest row per cohort week. "
    "Every stage is individually oracle-checked elsewhere "
    "(events_sessionization / events_session_overlap / "
    "events_funnel_conversion / events_cohort_retention); this entry "
    "hash-verifies their COMPOSITION against one chained-CTE DuckDB "
    "query. All sums are exact integer arithmetic; rates are "
    "integer-ratio double divisions rounded to 6 (engine-identical); "
    "try_divide guards the zero-signup cohort.",
)
def events_activity_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = activity_stage_frames(spark, sf_dir)
    return frames[next(reversed(frames))]


def activity_stage_frames(spark: SparkSession, sf_dir: str) -> dict:
    """The events flagship's stages as an ordered name -> DataFrame
    dict (same contract as curation_stage_frames — each stage exactly
    once, last entry is the pipeline result; consumed by
    tools/scale_smoke.py --flagship for per-stage wall-clock
    attribution; the lazy localCheckpoints at ``sessions`` and
    ``user_sess`` make the cumulative counts incremental). Pure
    extraction of the original builder body; plan unchanged."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    gapped = e.withColumn(
        "is_new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTE")),
            1,
        ).otherwise(0),
    )
    sessions = (
        gapped.withColumn("session_id", F.sum("is_new_session").over(wrun))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("s_start"),
            F.max("ts").alias("s_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        # ONE materialization: per-user stats, both overlap self-join
        # sides, and the retention branch all read this relation.
        .transform(materialize)
    )
    user_sess = (
        sessions.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.sum(
                F.unix_micros("s_end") - F.unix_micros("s_start")
            ).alias("sess_us"),
            F.date_trunc("week", F.min("s_start")).alias("cohort_week"),
        )
        # consumed by the final manifest AND the retention join
        .transform(materialize)
    )
    # stage 2: hour-bucket banded interval-overlap (the scalable form
    # of the oracle's pure range self-join; same machinery as
    # events_session_overlap).
    banded = sessions.select(
        "user_id",
        "session_id",
        "s_start",
        "s_end",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("s_start")),
                F.date_trunc("hour", F.col("s_end")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket"),
    )
    a = banded.select(
        F.col("user_id").alias("user_a"),
        F.col("session_id").alias("sess_a"),
        F.col("s_start").alias("start_a"),
        F.col("s_end").alias("end_a"),
        "bucket",
    )
    b = banded.select(
        F.col("user_id").alias("user_b"),
        F.col("session_id").alias("sess_b"),
        F.col("s_start").alias("start_b"),
        F.col("s_end").alias("end_b"),
        "bucket",
    )
    spairs = (
        a.join(
            b,
            (F.col("user_a") < F.col("user_b"))
            & (a["bucket"] == b["bucket"])
            & (F.col("start_a") <= F.col("end_b"))
            & (F.col("start_b") <= F.col("end_a")),
        )
        .select(
            "user_a", "sess_a", "user_b", "sess_b",
            "start_a", "end_a", "start_b", "end_b",
        )
        .distinct()
    )
    ov = F.unix_micros(F.least("end_a", "end_b")) - F.unix_micros(
        F.greatest("start_a", "start_b")
    )
    pair_ov = spairs.groupBy("user_a", "user_b").agg(F.sum(ov).alias("ov_us"))
    user_ov = (
        pair_ov.select(F.col("user_a").alias("user_id"), "ov_us")
        .unionByName(pair_ov.select(F.col("user_b").alias("user_id"), "ov_us"))
        .groupBy("user_id")
        .agg(F.sum("ov_us").alias("ov_us"))
    )
    # stage 3: funnel branch over raw events
    signups = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    conv = (
        signups.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("signup_ts"))
            & (F.col("p_ts") < F.col("signup_ts") + F.expr("INTERVAL 7 DAY")),
            "left",
        )
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("p_user").isNotNull(), 1).otherwise(0)
            ).alias("converted")
        )
    )
    # stage 4: week-1 retention from the session intermediate
    retained = (
        sessions.select("user_id", "s_start")
        .join(user_sess.select("user_id", "cohort_week"), "user_id")
        .filter(
            F.floor(
                F.datediff(
                    F.date_trunc("week", F.col("s_start")), F.col("cohort_week")
                )
                / 7
            )
            == 1
        )
        .select("user_id")
        .distinct()
        .withColumn("is_retained", F.lit(1))
    )
    joined = (
        user_sess.join(retained, "user_id", "left")
        .join(signups.withColumn("is_signup", F.lit(1)), "user_id", "left")
        .join(conv, "user_id", "left")
        .join(user_ov, "user_id", "left")
    )
    manifest = joined.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_sessions").alias("n_sessions"),
        F.round(
            F.sum("n_events") * F.lit(1.0) / F.sum("n_sessions"), 6
        ).alias("avg_events_per_session"),
        F.sum("sess_us").alias("total_session_us"),
        F.count("is_retained").alias("n_retained_w1"),
        F.count("is_signup").alias("n_signups"),
        F.coalesce(F.sum("converted"), F.lit(0)).alias("n_converted"),
        F.round(
            F.try_divide(F.sum("converted"), F.count("is_signup")), 6
        ).alias("conversion_rate"),
        F.count("ov_us").alias("n_overlap_users"),
        F.coalesce(F.sum("ov_us"), F.lit(0)).alias("total_overlap_us"),
    )
    return {
        "s0_sessionize": sessions,
        "s1_user_stats": user_sess,
        "s2_overlap_join": pair_ov,
        "s3_funnel": conv,
        "s4_retention": retained,
        "s5_cohort_manifest": manifest,
    }


def _events_drift_trend_oracle() -> str:
    """DuckDB twin of the per-week PSI trend: week-1 edges/histogram as
    the frozen reference, every later week's histogram against it —
    same binning/smoothing/ln discipline as the shared generator,
    keyed by (week, feature)."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as X

    return rf"""
        WITH ev AS (
            SELECT CAST(date_trunc('week', ts) AS DATE) AS wk,
                   CAST(value AS DOUBLE) AS value,
                   CAST(extract(hour FROM ts) AS DOUBLE) AS hour
            FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        ), w0 AS (
            SELECT min(wk) AS w0 FROM ev
        ), stacked AS (
            SELECT wk, 'hour' AS feature, hour AS value FROM ev
            UNION ALL
            SELECT wk, 'value', value FROM ev
        ), edges AS (
            SELECT feature, min(value) AS f_min, max(value) AS f_max
            FROM stacked WHERE wk = (SELECT w0 FROM w0) GROUP BY feature
        ), binned AS (
            SELECT s.wk, s.feature,
                   {X._bucket_case_sql("s.value", 10)} AS bucket
            FROM stacked s JOIN edges e USING (feature)
        ), bh AS (
            SELECT feature, bucket, count(*) AS cb
            FROM binned WHERE wk = (SELECT w0 FROM w0) GROUP BY feature, bucket
        ), ch AS (
            SELECT wk, feature, bucket, count(*) AS cc
            FROM binned WHERE wk > (SELECT w0 FROM w0)
            GROUP BY wk, feature, bucket
        ), spine AS (
            SELECT w.wk, f.feature, b.b AS bucket
            FROM (SELECT DISTINCT wk FROM ev WHERE wk > (SELECT w0 FROM w0)) w,
                 (SELECT DISTINCT feature FROM edges) f,
                 (SELECT unnest(range(10)) AS b) b
        ), filled AS (
            SELECT sp.wk, sp.feature, sp.bucket,
                   coalesce(bh.cb, 0) AS cb, coalesce(ch.cc, 0) AS cc
            FROM spine sp
            LEFT JOIN bh USING (feature, bucket)
            LEFT JOIN ch ON ch.wk = sp.wk AND ch.feature = sp.feature
                        AND ch.bucket = sp.bucket
        ), tot AS (
            SELECT wk, feature, sum(cb) AS nb, sum(cc) AS nc
            FROM filled GROUP BY wk, feature
        ), terms AS (
            SELECT f.wk, f.feature, t.nb, t.nc,
                   CAST(round(
                       ((f.cc + 0.5) / (t.nc + 5.0) - (f.cb + 0.5) / (t.nb + 5.0))
                       * round(ln(((f.cc + 0.5) / (t.nc + 5.0))
                                  / ((f.cb + 0.5) / (t.nb + 5.0))), 9)
                       * 1000000000.0, 0) AS BIGINT) AS term
            FROM filled f JOIN tot t ON t.wk = f.wk AND t.feature = f.feature
        ), psi AS (
            SELECT wk, feature,
                   CAST(max(nb) AS BIGINT) AS n_base,
                   CAST(max(nc) AS BIGINT) AS n_cur,
                   round(sum(term) / 1000000000.0, 6) AS psi
            FROM terms GROUP BY wk, feature
        )
        SELECT strftime(wk, '%Y-%m-%d') AS week_start, feature, n_base, n_cur, psi,
               CASE WHEN psi < {X.PSI_STABLE!r} THEN 'stable'
                    WHEN psi < {X.PSI_MODERATE!r} THEN 'moderate_shift'
                    ELSE 'major_shift' END AS drift
        FROM psi ORDER BY week_start, feature
    """


@query(
    "events_drift_trend_psi",
    oracle=_events_drift_trend_oracle(),
    survey_ops="events-plane drift TREND (beyond-reference; the "
    "per-period form of the PSI monitor — is each later week's "
    "event-value/activity-hour distribution still like week 1's?); "
    "A4/A6/W5 shapes keyed by (week, feature)",
    doc="Per-week PSI trend over the events table: the earliest "
    "calendar week is the frozen reference (edges + histogram), every "
    "later week's event-value and hour-of-day histograms score "
    "against it through the SAME smoothing/ln/verdict tail as the "
    "two-slice drift entries (psi_report_from_full, keys = week + "
    "feature). The week×feature×bucket spine is built by chained "
    "explodes (no cross join); the single 1-row min-week scalar rides "
    "the allowlisted broadcast pattern. A stationary generator "
    "reports small PSI everywhere — verified, not assumed.",
)
def events_drift_trend_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as X

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    features = ("hour", "value")
    feats = ev.select(
        F.date_trunc("week", F.col("ts")).cast("date").alias("wk"),
        F.col("value").cast("double").alias("value"),
        F.hour("ts").cast("double").alias("hour"),
    ).transform(materialize)
    # feats is checkpointed (narrow 3-col) because the min-week scalar
    # below would otherwise re-run the events scan INSIDE the tagged
    # materialization — the executed-scan audit showed 2 events passes
    # where 1 suffices (r16, guide §1.2)
    w0 = feats.agg(F.min("wk").alias("w0"))
    # `tagged` feeds FOUR aliased branches (the reference's edges +
    # base histogram, the current side's per-week histogram, and the
    # week spine) and each branch re-evaluated the events scan + the
    # 1-row min-week aggregate — 20 events-table scans in the r16
    # before-dump for what is a 2-pass computation. One lazy
    # localCheckpoint of the narrow (wk, value, hour) relation runs
    # the scan/min-week once (guide §1.2/§2.4).
    tagged = feats.crossJoin(F.broadcast(w0)).transform(materialize)
    base = tagged.filter(F.col("wk") == F.col("w0")).drop("wk", "w0")
    curw = tagged.filter(F.col("wk") > F.col("w0")).drop("w0")
    edges, base_counts = X.drift_reference(base, features)
    stacked = X._stack_features(curw, "cur", features, keep=("wk",))
    cur_counts = (
        stacked.join(F.broadcast(edges), "feature")
        .select("wk", "feature", X._bucket_col(10).alias("bucket"))
        .groupBy("wk", "feature", "bucket")
        .agg(F.count(F.lit(1)).alias("cc"))
    )
    # (week × feature × bucket) spine by chained explodes — no cross
    # join, and empty buckets/features still get report rows
    spine = (
        curw.select("wk")
        .distinct()
        .select(
            "wk",
            F.explode(F.array(*[F.lit(f) for f in features])).alias("feature"),
        )
        .select(
            "wk",
            "feature",
            F.explode(F.sequence(F.lit(0), F.lit(9))).alias("bucket"),
        )
        .select("wk", "feature", F.col("bucket").cast("int").alias("bucket"))
    )
    full = (
        spine.join(cur_counts, ["wk", "feature", "bucket"], "left")
        .join(
            base_counts.withColumnRenamed("cnt", "cb_raw"),
            ["feature", "bucket"],
            "left",
        )
        .select(
            "wk",
            "feature",
            "bucket",
            F.coalesce("cb_raw", F.lit(0)).alias("cb"),
            F.coalesce("cc", F.lit(0)).alias("cc"),
        )
    )
    report = X.psi_report_from_full(full, keys=("wk", "feature"))
    # string week key: engine-identical representation for the driver's
    # value hash (pandas widens a DuckDB DATE to datetime64)
    return report.select(
        F.date_format("wk", "yyyy-MM-dd").alias("week_start"),
        "feature",
        "n_base",
        "n_cur",
        "psi",
        "drift",
    )


@query(
    "events_scd2_history",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type, ts, event_id,
                   CASE WHEN lag(event_type) OVER w IS NULL
                             OR lag(event_type) OVER w <> event_type
                        THEN 1 ELSE 0 END AS chg
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), runs AS (
            SELECT user_id, event_type, ts,
                   sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS run_id
            FROM ordered
        ), grouped AS (
            SELECT user_id, run_id,
                   min(event_type)         AS event_type,
                   min(ts)                 AS effective_from,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM runs GROUP BY user_id, run_id
        )
        SELECT user_id,
               CAST(row_number() OVER w2 AS BIGINT) AS version,
               event_type, effective_from,
               lead(effective_from) OVER w2 AS effective_to,
               n_events,
               lead(effective_from) OVER w2 IS NULL AS is_current
        FROM grouped
        WINDOW w2 AS (PARTITION BY user_id ORDER BY effective_from)
        ORDER BY user_id, version
    """,
    survey_ops="W5/A14 composition (beyond-reference) — SCD2 "
    "slowly-changing-dimension interval build: collapse a per-key "
    "event stream into versioned validity intervals "
    "(effective_from / effective_to / is_current), the warehouse "
    "dimension-history table an as-of join consumes",
    doc="SCD Type-2 history build over the events stream: per user, "
    "consecutive runs of the same event_type collapse into one "
    "versioned row with [effective_from, effective_to) validity "
    "(gaps-and-islands: change-marker lag -> running-sum run id -> "
    "run aggregate -> lead() close-out; the open current version "
    "carries NULL effective_to and is_current=true). Every window "
    "shares the ONE user_id partitioning, so the whole build is a "
    "single shuffle by key regardless of corpus size — no global "
    "window, no join. ts is unique per user at every SF (verified); "
    "ordering ties break by event_id for determinism anyway. The "
    "output is exactly the dimension-history side J5's as-of join "
    "expects.",
)
def events_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_scd2(load_table(spark, sf_dir, "events"))


def build_scd2(e: DataFrame) -> DataFrame:
    """SCD2 interval build over an events frame — the entry's body,
    factored so the scale smoke can feed a synthetically scaled
    corpus through the identical plan."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    marked = e.select("user_id", "event_type", "ts", "event_id").withColumn(
        "chg",
        F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0),
    )
    # (ts, event_id) ordering on BOTH windows (r14 advice): with a
    # duplicate ts per user, a ts-only ROWS frame would make run
    # assignment nondeterministic between runs/engines
    runs = marked.withColumn(
        "run_id",
        F.sum("chg").over(
            W.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    grouped = runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("event_type"),
        F.min("ts").alias("effective_from"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    w2 = W.partitionBy("user_id").orderBy("effective_from")
    return (
        grouped.select(
            "user_id",
            F.row_number().over(w2).cast("long").alias("version"),
            "event_type",
            "effective_from",
            F.lead("effective_from").over(w2).alias("effective_to"),
            "n_events",
            F.lead("effective_from").over(w2).isNull().alias("is_current"),
        )
        .orderBy("user_id", "version")
    )
