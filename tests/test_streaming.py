"""Structured Streaming plane tests (SURVEY §2.9, §5.2 item 3).

Pattern: copy the driver's events parquet into a temp dir as multiple
file "drops" (micro-batches), run with availableNow + memory sink, and
check streaming results against the equivalent batch computation —
including replay-with-duplicates idempotence (T3 semantics)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
from streamprocessing_kafka_finlight_news_dashboard_spark.streaming import pipeline as P
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def stream_dir(spark):
    """Temp dir with the events table written twice (overlapping
    duplicate drops) — simulates a replayed micro-batch feed."""
    d = tempfile.mkdtemp(prefix="stream_events_")
    src = os.path.join(SF_SMOKE, "events.parquet")
    shutil.copyfile(src, os.path.join(d, "drop1.parquet"))
    shutil.copyfile(src, os.path.join(d, "drop2.parquet"))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_dedup_is_idempotent_under_replay(spark, stream_dir):
    stream = P.read_event_file_stream(spark, stream_dir, max_files_per_trigger=1)
    deduped = P.dedup_stream(stream)
    P.run_available_to_memory(deduped, "dedup_out")
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_out").first()
    batch_n = load_table(spark, SF_SMOKE, "events").count()
    # both drops together hold 2x the events; dedup must collapse to 1x
    assert got.d == batch_n
    assert got.n == batch_n


def test_streaming_window_agg_matches_batch(spark, stream_dir):
    stream = P.read_event_file_stream(spark, stream_dir, max_files_per_trigger=1)
    windowed = P.windowed_event_counts(P.dedup_stream(stream), window_len="1 hour", watermark=None)
    P.run_available_to_memory(windowed, "win_out")
    got = spark.sql(
        "SELECT window_start, event_type, n_events, total_value FROM win_out"
    )
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value"
        )
    )
    # Append mode only emits a window once the watermark passes its
    # end, so the final window(s) stay buffered — correct late-data
    # semantics, not loss. Everything emitted must match batch exactly;
    # anything missing must lie within the watermark horizon of the end.
    wrong = got.exceptAll(batch).count()
    assert wrong == 0, f"{wrong} streaming rows disagree with batch"
    max_ts = load_table(spark, SF_SMOKE, "events").agg(F.max("ts")).first()[0]
    missing_old = (
        batch.exceptAll(got)
        .filter(F.col("window_start") < F.lit(max_ts) - F.expr("INTERVAL 2 HOURS"))
        .count()
    )
    assert missing_old == 0, f"{missing_old} closed windows never emitted"


def test_session_windows_run(spark, stream_dir):
    stream = P.read_event_file_stream(spark, stream_dir, max_files_per_trigger=1)
    sessions = P.session_window_counts(P.dedup_stream(stream), gap="30 minutes", watermark=None)
    P.run_available_to_memory(sessions, "sess_out")
    got = spark.sql("SELECT * FROM sess_out")
    assert got.count() > 0
    assert set(got.columns) == {"session_start", "session_end", "user_id", "n_events"}
    # session invariant: end - start >= 0 and every user appears
    bad = got.filter(F.col("session_end") < F.col("session_start")).count()
    assert bad == 0


def test_foreach_batch_upsert_keeps_last_per_key(spark, stream_dir):
    """Streaming upsert (foreachBatch keep-last merge): after draining
    duplicate drops, the table holds exactly one row per key — the one
    with the highest ingest order — and a checkpointed replay adds
    nothing."""
    table = tempfile.mkdtemp(prefix="upsert_tbl_") + "/t"
    ckpt = tempfile.mkdtemp(prefix="upsert_ckpt_")
    try:
        stream = P.read_event_file_stream(spark, stream_dir, max_files_per_trigger=1)
        q = P.write_stream_upsert_parquet(
            stream, table, ckpt, key_cols=("event_id",), order_col="ts"
        )
        q.awaitTermination(600)
        got = spark.read.parquet(table)
        batch_n = load_table(spark, SF_SMOKE, "events").count()
        assert got.count() == batch_n
        assert got.select("event_id").distinct().count() == batch_n
        # replay with the same checkpoint: no new input → table unchanged
        q2 = P.write_stream_upsert_parquet(
            P.read_event_file_stream(spark, stream_dir), table, ckpt,
            key_cols=("event_id",), order_col="ts",
        )
        q2.awaitTermination(600)
        assert spark.read.parquet(table).count() == batch_n
    finally:
        shutil.rmtree(os.path.dirname(table), ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_checkpointed_parquet_sink_resumes_exactly_once(spark, stream_dir):
    out = tempfile.mkdtemp(prefix="stream_out_")
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
    try:
        stream = P.read_event_file_stream(spark, stream_dir, max_files_per_trigger=1)
        q = P.write_stream_parquet(P.dedup_stream(stream), out, ckpt)
        q.awaitTermination(120)
        n1 = spark.read.parquet(out).count()
        # restart from the same checkpoint: no new input → no new rows
        q2 = P.write_stream_parquet(
            P.dedup_stream(P.read_event_file_stream(spark, stream_dir)), out, ckpt
        )
        q2.awaitTermination(120)
        n2 = spark.read.parquet(out).count()
        batch_n = load_table(spark, SF_SMOKE, "events").count()
        assert n1 == batch_n
        assert n2 == n1, "restart from checkpoint re-emitted rows"
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def _checkpoint_file_manager(spark, path):
    """The checkpoint manager a streaming query opens under ``path``,
    built from the session's Hadoop conf the way the engine builds it."""
    jvm = spark._jvm
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )


def test_checkpoints_are_written_through_filesystem_api(spark, tmp_path):
    """Without a native Hadoop library the FileContext manager forks a
    `chmod` per file create and a `readlink` per rename; the session
    pins the FileSystem-based manager for every streaming query."""
    mgr = _checkpoint_file_manager(spark, tmp_path)
    assert mgr.getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )


def test_checkpoint_batch_file_is_never_overwritten(spark, tmp_path):
    """The offsets and commit logs claim a batch id by creating its file
    without overwrite: a second writer of the same batch fails on close,
    and the file keeps the first writer's bytes."""
    from py4j.protocol import Py4JJavaError

    mgr = _checkpoint_file_manager(spark, tmp_path)
    batch = tmp_path / "offsets" / "0"
    jbatch = spark._jvm.org.apache.hadoop.fs.Path(str(batch))
    mgr.mkdirs(jbatch.getParent())

    def write(data: bytes) -> None:
        out = mgr.createAtomic(jbatch, False)
        out.write(bytearray(data))
        out.close()

    write(b"v1\nfirst")
    with pytest.raises(Py4JJavaError, match="already exists"):
        write(b"v1\nsecond")
    assert batch.read_bytes() == b"v1\nfirst"


def test_dedup_sink_restarts_over_crash_leftover_temp_files(spark, tmp_path):
    """A writer killed between create and rename leaves a half-written
    `.<name>.<uuid>.tmp` in the checkpoint. A restart on that checkpoint
    with new input must ignore such files: every id lands in the sink
    exactly once, including ids re-delivered inside the watermark, which
    only the restored dedup state can drop."""
    import datetime as dt
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    drops, ckpt, out = tmp_path / "drops", tmp_path / "ckpt", str(tmp_path / "out")
    drops.mkdir()
    base = dt.datetime(2024, 1, 1)

    def drop(name: str, ids: list[int]) -> None:
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(ids, pa.int64()),
                    "ts": pa.array(
                        [base + dt.timedelta(minutes=i) for i in ids], pa.timestamp("us")
                    ),
                    "user_id": pa.array([i % 3 for i in ids], pa.int64()),
                    "event_type": pa.array(["view"] * len(ids), pa.string()),
                    "value": pa.array([float(i) for i in ids], pa.float64()),
                    "props": pa.array([None] * len(ids), pa.string()),
                }
            ),
            drops / name,
        )

    def drain() -> None:
        stream = P.dedup_stream(P.read_event_file_stream(spark, str(drops)))
        q = P.write_stream_parquet(stream, out, str(ckpt))
        assert q.awaitTermination(600), "drain did not finish"
        assert q.exception() is None

    drop("drop1.parquet", list(range(20)))
    drain()
    nxt = 1 + max(int(f.name) for f in (ckpt / "offsets").iterdir() if f.name.isdigit())
    planted = [
        ckpt / "offsets" / f".{nxt}.{uuid.uuid4()}.tmp",
        ckpt / "commits" / f".{nxt}.{uuid.uuid4()}.tmp",
        ckpt / "state" / "0" / "0" / f".{nxt + 1}.delta.{uuid.uuid4()}.tmp",
    ]
    for p in planted:
        assert p.parent.is_dir()
        p.write_bytes(b'v1\n{"batchWatermarkMs":')
    # ids 15-19 again, with their original times: inside the 1 hour watermark
    drop("drop2.parquet", list(range(15, 40)))
    drain()
    got = spark.read.parquet(out).groupBy("event_id").count().collect()
    assert sorted(r.event_id for r in got) == list(range(40))
    assert all(r["count"] == 1 for r in got)


def test_upsert_recovers_table_from_backup(spark, stream_dir):
    """Crash-safety of the upsert promotion: if a previous run died
    after moving the live table aside (backup exists, table missing),
    the next micro-batch must restore the backup and merge INTO it —
    never silently rebuild the table from one batch."""
    table = tempfile.mkdtemp(prefix="upsert_rec_") + "/t"
    ckpt = tempfile.mkdtemp(prefix="upsert_rec_ckpt_")
    try:
        stream = P.read_event_file_stream(spark, stream_dir, max_files_per_trigger=1)
        q = P.write_stream_upsert_parquet(
            stream, table, ckpt, key_cols=("event_id",), order_col="ts"
        )
        q.awaitTermination(600)
        n_full = spark.read.parquet(table).count()
        assert n_full > 0
        # simulate the crash window: live table renamed aside, promotion lost
        shutil.move(table, table + "._backup")
        ckpt2 = tempfile.mkdtemp(prefix="upsert_rec_ckpt2_")
        q2 = P.write_stream_upsert_parquet(
            P.read_event_file_stream(spark, stream_dir, max_files_per_trigger=1),
            table, ckpt2, key_cols=("event_id",), order_col="ts",
        )
        q2.awaitTermination(600)
        assert spark.read.parquet(table).count() == n_full
        assert not os.path.exists(table + "._backup")
    finally:
        shutil.rmtree(os.path.dirname(table), ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_stream_stream_attribution_join_matches_batch(spark, stream_dir):
    """Watermarked stream-stream self-join (purchases × prior views per
    user) must produce exactly the rows of the equivalent batch join
    when the stream drains with availableNow."""
    stream = P.read_event_file_stream(spark, stream_dir, max_files_per_trigger=1)
    # stream_dir replays every event twice — dedup first, as the real
    # pipeline would (multi-stateful-operator chain: dedup → join).
    joined = P.stream_stream_attribution_join(
        P.dedup_stream(stream), window_minutes=120, watermark=None
    )
    P.run_available_to_memory(joined, "attr_out", output_mode="append")
    got = spark.sql("SELECT * FROM attr_out")
    ev = load_table(spark, SF_SMOKE, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"), F.col("event_id").alias("purchase_id")
    )
    batch = p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 120 MINUTES")),
    )
    assert got.count() == batch.count()
    assert got.count() > 0, "attribution join degenerate — widen the window"
    # spot-invariant: every joined view precedes its purchase
    assert got.filter(F.col("view_ts") > F.col("purchase_ts")).count() == 0


def test_stream_stream_left_outer_attribution(spark, stream_dir):
    """leftOuter stream-stream join: attributed purchases match the
    batch inner join; UNattributed purchases (null view columns) are
    emitted once the watermark passes their event time — a drain
    therefore yields exactly the batch left-anti set restricted to
    purchases older than (max_ts − delay)."""
    stream = P.read_event_file_stream(spark, stream_dir, max_files_per_trigger=1)
    joined = P.stream_stream_attribution_join(
        P.dedup_stream(stream, watermark="1 second"),
        window_minutes=120,
        watermark=None,
        join_type="leftOuter",
    )
    P.run_available_to_memory(joined, "attr_outer_out", output_mode="append")
    got = spark.sql("SELECT * FROM attr_outer_out")

    ev = load_table(spark, SF_SMOKE, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"), F.col("event_id").alias("purchase_id")
    )
    cond = (
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 120 MINUTES"))
    )
    inner_n = p.join(v, cond).count()
    got_matched = got.filter(F.col("view_id").isNotNull())
    got_null = got.filter(F.col("view_id").isNull())
    assert got_matched.count() == inner_n
    # unattributed: anti-join set, minus purchases the watermark had
    # not yet released at drain time
    unmatched = p.join(v, cond, "left_anti")
    n_unmatched_total = unmatched.count()
    assert n_unmatched_total > 0, "no unattributed purchases — test degenerate"
    n_got_null = got_null.count()
    assert 0 < n_got_null <= n_unmatched_total
    # every emitted null-extended purchase really is unattributed
    bad = got_null.join(p.join(v, cond).select("purchase_id"), "purchase_id", "inner")
    assert bad.count() == 0


def test_state_store_metrics_show_bounded_state(spark, stream_dir):
    """The metrics surface must expose per-operator state counts, and a
    watermarked dedup's state must shrink at some point (rows_removed >
    0 across the drain) — the bounded-state property the reference's
    grow-forever seen-ids set lacks."""
    stream = P.read_event_file_stream(spark, stream_dir, max_files_per_trigger=1)
    deduped = P.dedup_stream(stream, watermark="1 second")
    q = P.run_available_to_memory(deduped, "metrics_out", output_mode="append")
    metrics = P.state_store_metrics(q)
    assert metrics, "no state metrics captured"
    assert all(m["operator"] for m in metrics)
    assert any(m["state_rows"] is not None and m["state_rows"] > 0 for m in metrics)
    assert any((m["rows_removed"] or 0) > 0 for m in metrics), (
        "watermark never evicted dedup state: " + str(metrics[-3:])
    )


def test_append_exactly_once_survives_checkpoint_rebuild(spark, stream_dir):
    """The batch-ledger append sink must not double rows when the SAME
    input is re-processed under a FRESH checkpoint (the replay case a
    plain append sink fails): batch ids restart at 0, the ledger says
    committed, the appends are skipped."""
    out = tempfile.mkdtemp(prefix="eo_out_") + "/t"
    ck1 = tempfile.mkdtemp(prefix="eo_ck1_")
    ck2 = tempfile.mkdtemp(prefix="eo_ck2_")
    try:
        s1 = P.read_event_file_stream(spark, stream_dir, max_files_per_trigger=1)
        q1 = P.write_stream_append_exactly_once(s1, out, ck1)
        q1.awaitTermination(600)
        n1 = spark.read.parquet(out).count()
        assert n1 > 0
        # fresh checkpoint over the same input = full replay
        s2 = P.read_event_file_stream(spark, stream_dir, max_files_per_trigger=1)
        q2 = P.write_stream_append_exactly_once(s2, out, ck2)
        q2.awaitTermination(600)
        assert spark.read.parquet(out).count() == n1, "replayed batches re-appended"
    finally:
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
        shutil.rmtree(ck1, ignore_errors=True)
        shutil.rmtree(ck2, ignore_errors=True)


def test_stream_static_enrichment_matches_batch(spark, stream_dir):
    """Stream-static left join must equal the batch join over the same
    inputs once the stream drains, and must not drop facts for users
    missing from the dimension."""
    ev_batch = load_table(spark, SF_SMOKE, "events")
    # derive a static user dimension covering only SOME users, so the
    # left-join's keep-unmatched behavior is actually exercised
    user_dim = (
        ev_batch.groupBy("user_id")
        .agg(F.sum("value").alias("lifetime_value"))
        .filter(F.col("user_id") % 3 != 0)
        .withColumn(
            "user_tier",
            F.when(F.col("lifetime_value") > 1000, "gold").otherwise("std"),
        )
    )
    stream = P.read_event_file_stream(spark, stream_dir, max_files_per_trigger=1)
    enriched = P.stream_static_enrichment(P.dedup_stream(stream), user_dim)
    P.run_available_to_memory(enriched, "enrich_out", output_mode="append")
    got = spark.sql("SELECT * FROM enrich_out")
    n_events = ev_batch.count()
    assert got.count() == n_events, "enrichment dropped or duplicated facts"
    n_unmatched = got.filter(F.col("user_tier").isNull()).count()
    assert n_unmatched == ev_batch.filter(F.col("user_id") % 3 == 0).count()
    batch = P.stream_static_enrichment(ev_batch, user_dim)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_curation_gate_stream_matches_batch(spark, tmp_path):
    """Streaming gate+content-dedup must keep exactly one doc per
    fingerprint among the gate survivors once the stream drains,
    matching the batch formulation's distinct-fingerprint count."""
    docs = load_table(spark, SF_SMOKE, "documents").withColumn(
        "ingest_ts",
        F.to_timestamp(F.lit("2026-01-01 00:00:00"))
        + F.make_interval(secs=F.col("doc_id").cast("double")),
    )
    drop_dir = str(tmp_path / "doc_drops")
    docs.coalesce(2).write.parquet(drop_dir)
    schema = spark.read.parquet(drop_dir).schema
    stream = spark.readStream.schema(schema).parquet(drop_dir)
    curated = P.curation_gate_stream(stream)
    P.run_available_to_memory(curated, "curated_docs", output_mode="append")
    got = spark.sql("SELECT * FROM curated_docs")

    n_tok = F.size(F.split(F.trim("text"), r"\s+"))
    batch_gate = docs.filter(
        F.col("text").isNotNull()
        & (F.trim("text") != "")
        & n_tok.between(5, 10000)
        & F.col("lang").isin("en", "de", "fr", "es", "it")
    ).withColumn("fp", F.md5(F.lower(F.trim("text"))))
    n_distinct_fp = batch_gate.select("fp").distinct().count()
    assert got.count() == n_distinct_fp
    assert got.select("fp").distinct().count() == n_distinct_fp
    # gate really filtered something OR corpus was fully clean — require
    # the dedup to have collapsed the planted exact duplicates
    assert n_distinct_fp < docs.count()


def test_stream_dedup_canonical_matches_batch_clusters(spark, tmp_path):
    """Incremental near-dup dedup must converge to the batch answer:
    after draining id-ordered document drops, the canonical store holds
    exactly the min-id doc of every batch-computed near-dup cluster,
    and a replay under a fresh checkpoint adds nothing."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import dedup as DD

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang", "text")
    drops = str(tmp_path / "drops")
    # two id-ordered drops so cross-batch dups hit the store path
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(drops)
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(drops)
    store = str(tmp_path / "store")
    ck1 = str(tmp_path / "ck1")

    schema = spark.read.parquet(drops).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(drops)
    q = P.write_stream_dedup_canonical(stream, store, ck1)
    q.awaitTermination(600)

    got_ids = {r.doc_id for r in spark.read.parquet(store + "/docs").collect()}
    # batch expectation: global minhash clusters, keep min-id per cluster
    pairs = DD.minhash_lsh_candidates_portable(docs).select("id_a", "id_b")
    clusters = DD.connected_components(pairs, docs.select("doc_id"))
    want_ids = {
        r.doc_id for r in clusters.filter(F.col("cluster_id") == F.col("doc_id")).collect()
    }
    assert got_ids == want_ids
    assert len(got_ids) < docs.count()  # dedup actually removed near-dups
    # replay under a fresh checkpoint: ledger makes it a no-op
    ck2 = str(tmp_path / "ck2")
    stream2 = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(drops)
    q2 = P.write_stream_dedup_canonical(stream2, store, ck2)
    q2.awaitTermination(600)
    assert {r.doc_id for r in spark.read.parquet(store + "/docs").collect()} == want_ids


def test_curation_gate_stream_decontaminates(spark, tmp_path):
    """With a static benchmark table, the streaming gate must drop
    exactly the docs the batch decontamination operator flags: the
    drained survivor set equals (gate survivors) minus (eval docs and
    4-gram-contaminated docs), one per fingerprint."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.dedup import decontaminate_ngram

    docs = load_table(spark, SF_SMOKE, "documents").withColumn(
        "ingest_ts",
        F.to_timestamp(F.lit("2026-01-01 00:00:00"))
        + F.make_interval(secs=F.col("doc_id").cast("double")),
    )
    eval_docs = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    drop_dir = str(tmp_path / "decon_drops")
    train.coalesce(2).write.parquet(drop_dir)
    schema = spark.read.parquet(drop_dir).schema
    stream = spark.readStream.schema(schema).parquet(drop_dir)
    curated = P.curation_gate_stream(stream, eval_docs=eval_docs)
    P.run_available_to_memory(curated, "decon_docs", output_mode="append")
    got_ids = {r.doc_id for r in spark.sql("SELECT doc_id FROM decon_docs").collect()}

    n_tok = F.size(F.split(F.trim("text"), r"\s+"))
    batch_gate = train.filter(
        F.col("text").isNotNull()
        & (F.trim("text") != "")
        & n_tok.between(5, 10000)
        & F.col("lang").isin("en", "de", "fr", "es", "it")
    )
    contaminated = {
        r.doc_id
        for r in decontaminate_ngram(train, eval_docs, n=4)
        .filter("contaminated")
        .collect()
    }
    assert contaminated, "fixture has no contaminated docs"
    expected_pool = {r.doc_id for r in batch_gate.collect()} - contaminated
    # stream kept one doc per fingerprint among the clean pool
    assert got_ids <= expected_pool
    clean_fps = batch_gate.filter(~F.col("doc_id").isin(list(contaminated))).select(
        F.md5(F.lower(F.trim("text")))
    )
    assert len(got_ids) == clean_fps.distinct().count()
    # and no contaminated doc slipped through
    assert not (got_ids & contaminated)


def test_stream_dedup_canonical_replay_after_bands_crash(spark, tmp_path):
    """A batch that crashed AFTER its bands write but BEFORE the
    ledger marker must replay to the same store contents — the replay
    must not collide with its own leftover bands (which would empty
    the batch and overwrite its partitions with nothing)."""
    import shutil

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "lang", "text")
        .filter(F.col("doc_id") < 200)
    )
    drops = str(tmp_path / "crash_drops")
    docs.coalesce(1).write.parquet(drops)
    schema = spark.read.parquet(drops).schema

    # reference run: what a healthy stream produces
    ref_store = str(tmp_path / "ref_store")
    q = P.write_stream_dedup_canonical(
        spark.readStream.schema(schema).parquet(drops), ref_store, str(tmp_path / "ck_ref")
    )
    q.awaitTermination(600)
    ref_docs = {r.doc_id for r in spark.read.parquet(ref_store + "/docs").collect()}
    assert ref_docs

    # crashed run: bands/batch_id=0 exists, docs partial, NO marker
    crash_store = str(tmp_path / "crash_store")
    shutil.copytree(ref_store + "/bands", crash_store + "/bands")
    q = P.write_stream_dedup_canonical(
        spark.readStream.schema(schema).parquet(drops),
        crash_store,
        str(tmp_path / "ck_crash"),
    )
    q.awaitTermination(600)
    got_docs = {r.doc_id for r in spark.read.parquet(crash_store + "/docs").collect()}
    assert got_docs == ref_docs, "replay after bands-crash lost documents"


def test_stream_dedup_canonical_fresh_checkpoint_same_store(spark, tmp_path):
    """A FRESH checkpoint over an existing store must not lose data:
    micro-batch ids restart at 0, so generation-unqualified markers
    would swallow the new run's first batch. New unique docs must be
    admitted, and near-dups of already-stored docs must still be
    dropped (committed prior-generation bands keep participating)."""
    _second_generation_round_trip(spark, tmp_path, recreate_same_path=False)


def test_stream_dedup_canonical_recreated_checkpoint_same_path(spark, tmp_path):
    """The same, with the first checkpoint deleted and re-created at the
    SAME path: a generation hashed from the path alone repeats, and the
    new run's batch 0 would be skipped as already committed."""
    _second_generation_round_trip(spark, tmp_path, recreate_same_path=True)


def _second_generation_round_trip(spark, tmp_path, recreate_same_path: bool) -> None:
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang", "text")
    first = docs.filter(F.col("doc_id") < 150)
    store = str(tmp_path / "gen_store")

    drops1 = str(tmp_path / "gen_drops1")
    first.coalesce(1).write.parquet(drops1)
    schema = spark.read.parquet(drops1).schema
    q = P.write_stream_dedup_canonical(
        spark.readStream.schema(schema).parquet(drops1), store, str(tmp_path / "gen_ck1")
    )
    q.awaitTermination(600)
    stored1 = {r.doc_id for r in spark.read.parquet(store + "/docs").collect()}
    assert stored1

    # second generation: re-sends the SAME docs (re-keyed ids, exact
    # near-dups of stored text) plus genuinely new docs
    resent = first.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "lang", "text"
    )
    fresh = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 250))
    drops2 = str(tmp_path / "gen_drops2")
    resent.unionByName(fresh).coalesce(1).write.parquet(drops2)
    ck2 = tmp_path / "gen_ck2"
    if recreate_same_path:
        shutil.rmtree(tmp_path / "gen_ck1")
        ck2 = tmp_path / "gen_ck1"
    q = P.write_stream_dedup_canonical(
        spark.readStream.schema(schema).parquet(drops2), store, str(ck2)
    )
    q.awaitTermination(600)
    stored2 = {r.doc_id for r in spark.read.parquet(store + "/docs").collect()}

    # the first generation's canonicals survive untouched
    assert stored1 <= stored2
    # the new batch was processed at all (old batch-0 marker must not
    # swallow it): its genuinely-new docs are present
    new_ids = stored2 - stored1
    assert new_ids, "fresh-checkpoint batch was silently swallowed"
    assert all(i >= 150 for i in new_ids)
    # exact re-sends of stored docs were dropped via the committed
    # prior-generation bands
    assert not any(i >= 1_000_000 for i in new_ids)


def test_stream_dedup_canonical_legacy_numeric_store(spark, tmp_path):
    """A store written by older code has bare-numeric batch_id=N
    partition dirs; partition-type inference then types batch_id as
    int, and `int != '<gen>-<N>'` coerces to NULL for every row —
    silently emptying the stored bands and admitting every duplicate.
    The collision read must cast before comparing so near-dups of
    legacy-stored docs are still dropped."""
    import glob

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang", "text")
    first = docs.filter(F.col("doc_id") < 150)
    store = str(tmp_path / "legacy_store")

    drops1 = str(tmp_path / "legacy_drops1")
    first.coalesce(1).write.parquet(drops1)
    schema = spark.read.parquet(drops1).schema
    q = P.write_stream_dedup_canonical(
        spark.readStream.schema(schema).parquet(drops1),
        store,
        str(tmp_path / "legacy_ck1"),
    )
    q.awaitTermination(600)
    stored1 = {r.doc_id for r in spark.read.parquet(store + "/docs").collect()}
    assert stored1

    # age the store into the legacy layout: strip the generation
    # qualifier from every partition dir and ledger marker, leaving
    # bare-numeric batch_id=N values whose TYPE infers as int
    for root in (store + "/docs", store + "/bands"):
        for part in glob.glob(root + "/batch_id=*"):
            val = os.path.basename(part).split("=", 1)[1]
            if "-" in val:
                os.rename(part, root + "/batch_id=" + val.rsplit("-", 1)[1])
    for marker in glob.glob(store + "/_ledger/batch-*"):
        val = os.path.basename(marker)[len("batch-"):]
        if "-" in val:
            os.rename(
                marker,
                os.path.dirname(marker) + "/batch-" + val.rsplit("-", 1)[1],
            )
    inferred = spark.read.parquet(store + "/bands").schema["batch_id"].dataType
    assert inferred.simpleString() in ("int", "bigint"), (
        "fixture must reproduce the legacy int-typed partition column"
    )

    # new generation re-sends the SAME docs under re-keyed ids: every
    # one is an exact near-dup of a legacy-stored doc and must be
    # dropped via the legacy bands
    resent = first.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "lang", "text"
    )
    drops2 = str(tmp_path / "legacy_drops2")
    resent.coalesce(1).write.parquet(drops2)
    q = P.write_stream_dedup_canonical(
        spark.readStream.schema(schema).parquet(drops2),
        store,
        str(tmp_path / "legacy_ck2"),
    )
    q.awaitTermination(600)
    stored2 = {r.doc_id for r in spark.read.parquet(store + "/docs").collect()}
    assert not any(i >= 1_000_000 for i in stored2), (
        "legacy-store bands were silently ignored — duplicates admitted"
    )
    assert stored1 <= stored2


def test_curation_gate_stream_line_filter_matches_batch(spark, tmp_path):
    """With line_rules on, the streaming gate must keep exactly the
    docs the batch composition (line_filter -> quality gate) keeps,
    one per fingerprint of the CLEANED text — including docs whose
    every line is dropped (they fall to the gate) and multi-line docs
    whose surviving subset changes the fingerprint."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import line_filter

    docs = load_table(spark, SF_SMOKE, "documents").withColumn(
        "ingest_ts",
        F.to_timestamp(F.lit("2026-01-01 00:00:00"))
        + F.make_interval(secs=F.col("doc_id").cast("double")),
    )
    # make some docs genuinely multi-line: break on the token 'line'
    docs = docs.withColumn(
        "text", F.regexp_replace("text", r" line ", " line\n")
    )
    rules = dict(
        min_tokens=3,
        require_terminal_punct=False,
        banned_substrings=(),
        banned_re=r"(^| )dup( |$)",
    )
    drop_dir = str(tmp_path / "lf_drops")
    docs.coalesce(2).write.parquet(drop_dir)
    schema = spark.read.parquet(drop_dir).schema
    stream = spark.readStream.schema(schema).parquet(drop_dir)
    curated = P.curation_gate_stream(stream, line_rules=rules)
    P.run_available_to_memory(curated, "lf_docs", output_mode="append")
    got = spark.sql("SELECT * FROM lf_docs")

    cleaned = line_filter(docs, keep_cols=("lang",), **rules).select(
        "doc_id", "lang", F.col("clean_text").alias("text")
    )
    n_tok = F.size(F.split(F.trim("text"), r"\s+"))
    batch_gate = cleaned.filter(
        (F.trim("text") != "")
        & n_tok.between(5, 10000)
        & F.col("lang").isin("en", "de", "fr", "es", "it")
    ).withColumn("fp", F.md5(F.lower(F.trim("text"))))
    n_distinct_fp = batch_gate.select("fp").distinct().count()
    assert got.count() == n_distinct_fp
    assert got.select("fp").distinct().count() == n_distinct_fp
    # the line filter actually dropped lines somewhere (not a no-op
    # composition): at least one doc's cleaned text differs
    changed = (
        cleaned.alias("c")
        .join(docs.alias("d"), "doc_id")
        .filter(F.col("c.text") != F.col("d.text"))
        .count()
    )
    assert changed > 0, "line filter was a no-op on this fixture"
    kept_fp = {r.fp for r in got.select("fp").collect()}
    want_fp = {r.fp for r in batch_gate.select("fp").collect()}
    assert kept_fp == want_fp


def test_chunk_stream_matches_batch(spark, tmp_path):
    """Streaming chunker drained over two file drops must produce
    EXACTLY the batch chunk_windows rows — same (doc_id, chunk_id)
    grain, same texts — because the op is stateless; parity is pinned,
    not assumed."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import chunk_windows

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    drops = str(tmp_path / "chunk_drops")
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(drops)
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(drops)
    schema = spark.read.parquet(drops).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(drops)
    chunked = P.chunk_stream(stream, chunk_tokens=32, stride=24)
    P.run_available_to_memory(chunked, "chunked_docs", output_mode="append")
    got = {
        (r.doc_id, r.chunk_id): (r.chunk_start, r.n_chunk_tokens, r.chunk_text)
        for r in spark.sql("SELECT * FROM chunked_docs").collect()
    }
    want = {
        (r.id, r.chunk_id): (r.chunk_start, r.n_chunk_tokens, r.chunk_text)
        for r in chunk_windows(docs, chunk_tokens=32, stride=24).collect()
    }
    assert got == want
    assert len(got) > 500


def test_ohlc_stream_matches_batch(spark, tmp_path):
    """Streaming OHLC drained over out-of-order file drops must equal
    the batch events_ohlc_daily rows exactly — min_by/max_by partials
    are mergeable, so arrival order must not matter."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG

    e = load_table(spark, SF_SMOKE, "events")
    drops = str(tmp_path / "ohlc_drops")
    # out-of-order drops: odd events first, then even
    e.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(drops)
    e.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(drops)
    schema = spark.read.parquet(drops).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(drops)
    candles = P.ohlc_stream(stream, watermark="100 days")
    P.run_available_to_memory(candles, "ohlc_candles", output_mode="complete")
    got = {
        (r.day, r.event_type): (r.open, r.high, r.low, r.close, r.volume, r.total_value)
        for r in spark.sql("SELECT * FROM ohlc_candles").collect()
    }
    want = {
        (r.day, r.event_type): (r.open, r.high, r.low, r.close, r.volume, r.total_value)
        for r in CATALOG["events_ohlc_daily"].builder(spark, SF_SMOKE).collect()
    }
    assert got == want
    assert len(got) > 10


def _drain_text_stats(spark, drops, store, ck, schema, target_lang="en",
                      terms=("spark", "filter", "window", "merge")):
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(drops)
    )
    q = P.write_stream_text_stats(
        stream, store, ck,
        dsir_target=F.col("lang") == target_lang,
        query_terms=terms,
    )
    q.awaitTermination(600)


def test_text_stats_store_scores_match_batch_retroscore(spark, tmp_path):
    """The incremental DSIR/BM25 stats store's contract: after draining
    multi-batch document drops, scoring the ingested corpus with the
    MERGED store statistics returns bit-identical rows to the batch
    operators' one-pass self-computed statistics — mergeable integer
    sufficient statistics, so ingest-time scoring == batch
    retroscoring. A restart under the SAME checkpoint is a no-op (no
    new partials, scores unchanged)."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as X

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang", "text")
    terms = ("spark", "filter", "window", "merge")
    drops = str(tmp_path / "stats_drops")
    # three id-disjoint drops (the store's stated df/N merge contract)
    docs.filter(F.col("doc_id") % 3 == 0).coalesce(1).write.parquet(drops)
    docs.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.mode("append").parquet(drops)
    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.mode("append").parquet(drops)
    store, ck = str(tmp_path / "stats_store"), str(tmp_path / "stats_ck")
    schema = spark.read.parquet(drops).schema
    _drain_text_stats(spark, drops, store, ck, schema, terms=terms)

    # merged bucket counts == one-pass batch counts (exact integers)
    got_counts = {
        r.bucket: (r.q_cnt, r.p_cnt)
        for r in P.read_dsir_counts(spark, store).collect()
    }
    want_counts = {
        r.bucket: (r.q_cnt, r.p_cnt)
        for r in X.dsir_bucket_counts(docs, F.col("lang") == "en").collect()
    }
    assert got_counts == want_counts

    # DSIR: store-scored == batch-retroscored, bit-identical longs
    got_w = {
        r.id: (r.n_tokens, r.w)
        for r in X.dsir_logweights_from_counts(
            docs, P.read_dsir_counts(spark, store)
        ).collect()
    }
    want_w = {
        r.id: (r.n_tokens, r.w)
        for r in X.dsir_logweights(docs, F.col("lang") == "en").collect()
    }
    assert got_w == want_w
    assert len(got_w) > 100

    # BM25: store-scored == batch-retroscored, bit-identical doubles
    dft, corpus = P.read_bm25_stats(spark, store)
    got_b = {
        r.id: (r.n_terms_matched, r.bm25)
        for r in X.bm25_scores_from_stats(docs, terms, dft, corpus).collect()
    }
    want_b = {
        r.id: (r.n_terms_matched, r.bm25)
        for r in X.bm25_scores(docs, terms).collect()
    }
    assert got_b == want_b
    assert len(got_b) > 10

    # restart under the SAME checkpoint: nothing new to process, the
    # ledger and file-source log make it a no-op
    parts_before = sorted(os.listdir(store + "/dsir"))
    _drain_text_stats(spark, drops, store, ck, schema, terms=terms)
    assert sorted(os.listdir(store + "/dsir")) == parts_before
    got_counts2 = {
        r.bucket: (r.q_cnt, r.p_cnt)
        for r in P.read_dsir_counts(spark, store).collect()
    }
    assert got_counts2 == want_counts


def test_text_stats_store_heals_uncommitted_crash_leftover(spark, tmp_path):
    """A batch that crashed AFTER writing its partials but BEFORE its
    ledger marker must not double-count: the leftover partition is (a)
    excluded by the committed-only readers immediately and (b) deleted
    by heal-on-start, after which the replay rewrites it exactly once."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as X

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang", "text")
    drops = str(tmp_path / "crash_drops")
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(drops)
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(drops)
    store, ck = str(tmp_path / "crash_store"), str(tmp_path / "crash_ck")
    schema = spark.read.parquet(drops).schema
    _drain_text_stats(spark, drops, store, ck, schema)

    want_counts = {
        r.bucket: (r.q_cnt, r.p_cnt)
        for r in P.read_dsir_counts(spark, store).collect()
    }

    # simulate the crash: duplicate one committed partition under a
    # never-committed (gen, batch) value — partials exist, marker does
    # not (exactly what a crash between write and marker leaves)
    src = next(
        e for e in os.listdir(store + "/dsir") if e.startswith("batch_id=")
    )
    for sub in ("dsir", "bm25_df", "bm25_corpus"):
        shutil.copytree(
            os.path.join(store, sub, src),
            os.path.join(store, sub, "batch_id=deadbeef-7"),
        )
    # committed-only readers exclude the orphan without any heal
    got = {
        r.bucket: (r.q_cnt, r.p_cnt)
        for r in P.read_dsir_counts(spark, store).collect()
    }
    assert got == want_counts
    # a fresh writer run heals the orphan off disk. NOTE: a fresh
    # checkpoint is RE-INGEST, not replay — its empty file-source log
    # re-processes both drops and appends a second generation of
    # partials, so counts double (the documented counting caveat (2)).
    # Assert BOTH behaviors so neither is accidentally relied on.
    _drain_text_stats(spark, drops, store, str(tmp_path / "crash_ck2"), schema)
    assert not os.path.exists(store + "/dsir/batch_id=deadbeef-7")
    doubled = {
        r.bucket: (r.q_cnt, r.p_cnt)
        for r in P.read_dsir_counts(spark, store).collect()
    }
    assert doubled == {
        b: (q * 2, p * 2) for b, (q, p) in want_counts.items()
    }


def test_text_stats_store_behind_curation_gate(spark, tmp_path):
    """The store's stated deployment: BEHIND the gate+exact-dedup
    stream (df/N merging needs disjoint, deduplicated docs). Wire
    curation_gate_stream -> write_stream_text_stats and check the
    merged statistics equal a batch pass over the batch-equivalent
    curated set (one doc per fingerprint among gate survivors —
    same-fingerprint docs are byte-identical in this corpus, so the
    streaming first-arrival survivor and the batch min-id survivor
    carry the same text/lang and the statistics are choice-free)."""
    from pyspark.sql import Window as W

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as X

    docs = load_table(spark, SF_SMOKE, "documents").withColumn(
        "ingest_ts",
        F.to_timestamp(F.lit("2026-01-01 00:00:00"))
        + F.make_interval(secs=F.col("doc_id").cast("double")),
    )
    terms = ("spark", "filter", "window", "merge")
    drops = str(tmp_path / "gate_stats_drops")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(drops)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(drops)
    store, ck = str(tmp_path / "gate_stats_store"), str(tmp_path / "gate_stats_ck")
    schema = spark.read.parquet(drops).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(drops)
    )
    q = P.write_stream_text_stats(
        P.curation_gate_stream(stream), store, ck,
        dsir_target=F.col("lang") == "en", query_terms=terms,
    )
    q.awaitTermination(600)

    # batch-equivalent curated set: gate survivors, one per fingerprint
    n_tok = F.size(F.split(F.trim("text"), r"\s+"))
    gate = docs.filter(
        F.col("text").isNotNull()
        & (F.trim("text") != "")
        & n_tok.between(5, 10000)
        & F.col("lang").isin("en", "de", "fr", "es", "it")
    )
    canon = (
        gate.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy(F.md5(F.lower(F.trim("text")))).orderBy("doc_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "text")
    )
    got = {
        r.bucket: (r.q_cnt, r.p_cnt)
        for r in P.read_dsir_counts(spark, store).collect()
    }
    want = {
        r.bucket: (r.q_cnt, r.p_cnt)
        for r in X.dsir_bucket_counts(canon, F.col("lang") == "en").collect()
    }
    assert got == want
    dft, corpus = P.read_bm25_stats(spark, store)
    want_dft, want_corpus = X.bm25_corpus_stats(canon, terms)
    assert {r.tok: r.dft for r in dft.collect()} == {
        r.tok: r.dft for r in want_dft.collect()
    }
    assert corpus.first().asDict() == want_corpus.first().asDict()


def test_text_stats_store_readers_tolerate_empty_store(spark, tmp_path):
    """Readers on a store with no committed partitions (never written,
    or heal-emptied) must return EMPTY typed frames, not raise an
    AnalysisException from parquet schema inference on a missing dir —
    the missing-store case the canonical store's has_store gate guards.
    The empty frames' columns must mirror the PRODUCERS' outputs (the
    hand-written _STATS_SCHEMAS would otherwise drift silently), and
    the downstream scorers must fail LOUDLY on the empty statistics
    rather than emit all-NULL / all-zero scores."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as X

    store = str(tmp_path / "never_written_store")
    docs = spark.createDataFrame(
        [(1, "en", "the spark filter merge text")],
        "doc_id long, lang string, text string",
    )
    terms = ("spark", "filter")
    empty_counts = P.read_dsir_counts(spark, store)
    assert empty_counts.count() == 0
    dft, corpus = P.read_bm25_stats(spark, store)
    assert dft.count() == 0
    # aggregate over zero partials: defined 1-row null sums, no error
    r = corpus.first()
    assert r.n_docs is None and r.sum_dl is None
    # schema parity with the producers (empty-read path == merged path)
    want_dft, want_corpus = X.bm25_corpus_stats(docs, terms)
    assert set(empty_counts.columns) >= set(
        X.dsir_bucket_counts(docs, F.col("lang") == "en").columns
    )
    assert set(dft.columns) >= set(want_dft.columns)
    assert corpus.columns == want_corpus.columns
    # scorers refuse empty stats instead of silently flattening scores
    with pytest.raises(ValueError, match="empty"):
        X.dsir_logweights_from_counts(docs, empty_counts).count()
    with pytest.raises(ValueError, match="empty"):
        X.bm25_scores_from_stats(docs, terms, dft, corpus).count()


def test_semantic_gate_stream_matches_batch_manifest(spark, tmp_path):
    """The streaming semantic gate's drained manifest must equal the
    batch semantic_decontaminate manifest row-for-row on the same
    train/eval split — (nearest_eval_id, round-6 max sim, flag) all
    three, so the ingest-time gate and a batch retro-audit can never
    disagree about what leaked. Also pins that every input column
    passes through and that the drop form removes exactly the flagged
    rows."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.similarity import semantic_decontaminate

    e = load_table(spark, SF_SMOKE, "embeddings")
    eval_vecs = e.filter(F.col("vec_id") % 97 == 0)
    train = e.filter(F.col("vec_id") % 97 != 0)
    src = str(tmp_path / "vec_src")
    train.coalesce(2).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    gated = P.semantic_gate_stream(stream, eval_vecs, threshold=0.4)
    P.run_available_to_memory(gated, "sem_gate", output_mode="append")
    got = {
        r.vec_id: (r.nearest_eval_id, r.max_eval_sim, r.contaminated)
        for r in spark.sql(
            "SELECT vec_id, nearest_eval_id, max_eval_sim, contaminated FROM sem_gate"
        ).collect()
    }
    want = {
        r.vec_id: (r.nearest_eval_id, r.max_eval_sim, r.contaminated)
        for r in semantic_decontaminate(
            e, F.col("vec_id") % 97 == 0, threshold=0.4
        ).collect()
    }
    assert got == want
    assert any(v[2] for v in want.values()), "fixture has no flagged rows"
    # passthrough: the original columns survive annotation
    row = spark.sql("SELECT * FROM sem_gate LIMIT 1").collect()[0]
    for c in schema.fieldNames():
        assert c in row.asDict()
    # drop form removes exactly the flagged set
    clean = {
        r.vec_id
        for r in spark.sql(
            "SELECT vec_id FROM sem_gate WHERE NOT contaminated"
        ).collect()
    }
    assert clean == {k for k, v in want.items() if not v[2]}


def test_semantic_gate_stream_rejects_empty_eval(spark, tmp_path):
    """An empty benchmark table is a mis-wired pipeline, not 'nothing
    is contaminated' — the gate must fail loudly at build time (same
    contract as the stats-store scorers on empty statistics)."""
    import pytest

    e = load_table(spark, SF_SMOKE, "embeddings")
    src = str(tmp_path / "vec_src2")
    e.limit(5).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    with pytest.raises(ValueError, match="eval_vecs is empty"):
        P.semantic_gate_stream(stream, e.filter(F.lit(False)))


def test_semantic_gate_stream_zero_norm_and_id_dtype_guards(spark, tmp_path):
    """ADVICE r9: a zero-norm stream vector must get the batch
    operator's NULL verdict (NULL sim, NULL flag, smallest eval id as
    nearest) — not a silent NaN 'pass'; a zero-norm EVAL vector and a
    non-integer id column are refused loudly at build time."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.similarity import semantic_decontaminate

    e = load_table(spark, SF_SMOKE, "embeddings")
    dim = len(e.select("embedding").first()[0])
    eval_vecs = e.filter(F.col("vec_id") % 97 == 0)
    min_eid = eval_vecs.agg(F.min("vec_id")).first()[0]
    zero_row = spark.createDataFrame(
        [(999999, 0, [0.0] * dim)], "vec_id long, label int, embedding array<double>"
    )
    train = (
        e.filter((F.col("vec_id") % 97 != 0) & (F.col("vec_id") < 100))
        .select("vec_id", "label", F.col("embedding").cast("array<double>").alias("embedding"))
        .unionByName(zero_row)
    )
    src = str(tmp_path / "zsrc")
    train.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    gated = P.semantic_gate_stream(stream, eval_vecs, threshold=0.4)
    P.run_available_to_memory(gated, "zng", output_mode="append")
    got = {
        r.vec_id: (r.nearest_eval_id, r.max_eval_sim, r.contaminated)
        for r in spark.sql(
            "SELECT vec_id, nearest_eval_id, max_eval_sim, contaminated FROM zng"
        ).collect()
    }
    assert got[999999] == (min_eid, None, None)
    # and the batch operator agrees row-for-row on the same input
    both = e.select("vec_id", "label", F.col("embedding").cast("array<double>").alias("embedding")).unionByName(zero_row)
    want = {
        r.vec_id: (r.nearest_eval_id, r.max_eval_sim, r.contaminated)
        for r in semantic_decontaminate(
            both.filter((F.col("vec_id") % 97 == 0) | (F.col("vec_id") < 100) | (F.col("vec_id") == 999999)),
            F.col("vec_id") % 97 == 0,
            threshold=0.4,
        ).collect()
    }
    assert got == want

    # zero-norm EVAL vector → loud build-time refusal
    with pytest.raises(ValueError, match="zero norm"):
        P.semantic_gate_stream(stream, zero_row)
    # non-integer id → loud build-time refusal
    bad = eval_vecs.withColumn("vec_id", F.col("vec_id").cast("string"))
    with pytest.raises(ValueError, match="integer type"):
        P.semantic_gate_stream(stream, bad)


def _verdict_rows(df):
    return {
        r.vec_id: (r.nearest_eval_id, r.max_eval_sim, r.contaminated)
        for r in df.collect()
    }


def test_semantic_verdict_store_matches_batch_and_replays(spark, tmp_path):
    """Drain → read parity: the ledgered verdict store's merged
    manifest equals the batch semantic_decontaminate manifest
    row-for-row; a same-checkpoint replay no-ops on the ledger
    markers; a fresh-checkpoint RE-INGEST of the same corpus writes a
    second generation whose rows distinct()-collapse — the drop list
    is stable across re-ingests because the eval set is pinned."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.similarity import semantic_decontaminate

    e = load_table(spark, SF_SMOKE, "embeddings")
    eval_vecs = e.filter(F.col("vec_id") % 97 == 0)
    train = e.filter(F.col("vec_id") % 97 != 0)
    src = str(tmp_path / "vsrc")
    train.coalesce(2).write.parquet(src)
    schema = spark.read.parquet(src).schema

    store = str(tmp_path / "vstore")
    ck = str(tmp_path / "vck")
    q = P.write_stream_semantic_verdicts(
        spark.readStream.schema(schema).parquet(src),
        eval_vecs, store, ck, threshold=0.4,
    )
    q.awaitTermination(600)
    got = _verdict_rows(P.read_semantic_verdicts(spark, store))
    want = _verdict_rows(
        semantic_decontaminate(e, F.col("vec_id") % 97 == 0, threshold=0.4)
    )
    assert got == want
    assert any(v[2] for v in want.values()), "fixture has no flagged rows"

    # same-checkpoint replay: markers no-op, store unchanged
    n_parts = len(os.listdir(store + "/verdicts"))
    q = P.write_stream_semantic_verdicts(
        spark.readStream.schema(schema).parquet(src),
        eval_vecs, store, ck, threshold=0.4,
    )
    q.awaitTermination(600)
    assert len(os.listdir(store + "/verdicts")) == n_parts
    assert _verdict_rows(P.read_semantic_verdicts(spark, store)) == want

    # fresh-checkpoint re-ingest: new generation partitions, SAME
    # distinct manifest (bit-identical verdicts, pinned eval set)
    q = P.write_stream_semantic_verdicts(
        spark.readStream.schema(schema).parquet(src),
        eval_vecs, store, str(tmp_path / "vck2"), threshold=0.4,
    )
    q.awaitTermination(600)
    assert len(os.listdir(store + "/verdicts")) > n_parts
    assert _verdict_rows(P.read_semantic_verdicts(spark, store)) == want


def test_semantic_verdict_store_heals_crash_and_pins_eval_set(spark, tmp_path):
    """Crash-heal: an uncommitted verdicts partition (no ledger
    marker) is deleted on the next writer start and never read; the
    reader also excludes it BEFORE any heal. Eval-set pinning: a
    writer with a different benchmark (or threshold) against the same
    store is refused loudly. Empty store reads as an empty typed
    frame."""
    import shutil as _sh

    e = load_table(spark, SF_SMOKE, "embeddings")
    eval_vecs = e.filter(F.col("vec_id") % 97 == 0)
    train = e.filter((F.col("vec_id") % 97 != 0) & (F.col("vec_id") < 300))
    src = str(tmp_path / "hsrc")
    train.coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    store = str(tmp_path / "hstore")
    empty = P.read_semantic_verdicts(spark, store)
    assert empty.count() == 0
    assert empty.columns == [
        "vec_id", "nearest_eval_id", "max_eval_sim", "contaminated"
    ]

    q = P.write_stream_semantic_verdicts(
        spark.readStream.schema(schema).parquet(src),
        eval_vecs, store, str(tmp_path / "hck"), threshold=0.4,
    )
    q.awaitTermination(600)
    want = _verdict_rows(P.read_semantic_verdicts(spark, store))
    assert want

    # fabricate a crash leftover: copy a committed partition to an
    # unmarked name — the reader must exclude it, heal must delete it
    parts = [p for p in os.listdir(store + "/verdicts") if p.startswith("batch_id=")]
    orphan = store + "/verdicts/batch_id=deadbeef-9"
    _sh.copytree(store + "/verdicts/" + parts[0], orphan)
    assert _verdict_rows(P.read_semantic_verdicts(spark, store)) == want
    # heal fires inside the first foreachBatch — a fully-committed
    # same-checkpoint replay runs NO batches, so drive the heal with a
    # fresh-checkpoint re-ingest (which also re-verifies stability)
    q = P.write_stream_semantic_verdicts(
        spark.readStream.schema(schema).parquet(src),
        eval_vecs, store, str(tmp_path / "hck2"), threshold=0.4,
    )
    q.awaitTermination(600)
    assert not os.path.exists(orphan), "heal left the uncommitted orphan"

    # different eval set → loud refusal (the heal fires inside the
    # stream's first foreachBatch, so the query dies with the error)
    other_eval = e.filter(F.col("vec_id") % 89 == 0)
    q = P.write_stream_semantic_verdicts(
        spark.readStream.schema(schema).parquet(src),
        other_eval, store, str(tmp_path / "hck3"), threshold=0.4,
    )
    with pytest.raises(Exception, match="fingerprint mismatch"):
        q.awaitTermination(600)
    # different threshold alone must also refuse
    q = P.write_stream_semantic_verdicts(
        spark.readStream.schema(schema).parquet(src),
        eval_vecs, store, str(tmp_path / "hck4"), threshold=0.5,
    )
    with pytest.raises(Exception, match="fingerprint mismatch"):
        q.awaitTermination(600)
    # the refused writers must not have polluted the manifest
    assert _verdict_rows(P.read_semantic_verdicts(spark, store)) == want


def test_mixture_stats_store_rates_match_batch(spark, tmp_path):
    """The mixture stats family's contract: after draining id-disjoint
    multi-batch drops, the merged (lang, n_docs, n_tokens) statistics
    equal one batch mixture_stats_partial pass exactly, and
    temperature_rates over the store-fed stats equals the batch
    catalog query's per-language rates row-for-row — ingest-time
    temperature mixture == batch retro-pass. An empty store fails
    loudly in the rates scorer and reads as an empty typed frame."""
    import pytest as _pytest

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as X
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang", "text")
    drops = str(tmp_path / "mix_drops")
    docs.filter(F.col("doc_id") % 3 == 0).coalesce(1).write.parquet(drops)
    docs.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.mode("append").parquet(drops)
    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.mode("append").parquet(drops)
    store, ck = str(tmp_path / "mix_store"), str(tmp_path / "mix_ck")
    stream = (
        spark.readStream.schema(spark.read.parquet(drops).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    q = P.write_stream_text_stats(stream, store, ck, track_mixture=True)
    q.awaitTermination(600)

    got_stats = {
        r.lang: (r.n_docs, r.n_tokens)
        for r in P.read_mixture_stats(spark, store).collect()
    }
    want_stats = {
        r.lang: (r.n_docs, r.n_tokens)
        for r in X.mixture_stats_partial(docs).collect()
    }
    assert got_stats == want_stats and got_stats

    got_rates = {
        r.lang: (r.n_docs, r.n_tokens, r.rate_pct)
        for r in X.temperature_rates(P.read_mixture_stats(spark, store)).collect()
    }
    want_rates = {
        r.lang: (r.n_docs, r.n_tokens, r.rate_pct)
        for r in CATALOG["doc_temperature_mixture"]
        .builder(spark, SF_SMOKE)
        .select("lang", "n_docs", "n_tokens", "rate_pct")
        .collect()
    }
    assert got_rates == want_rates

    # the arbitrary-α path rides the SAME merged stats: store-fed
    # α = 0.3 rates must equal the batch α = 0.3 catalog query too
    got_a3 = {
        r.lang: (r.n_docs, r.n_tokens, r.rate_pct)
        for r in X.temperature_rates(
            P.read_mixture_stats(spark, store), alpha=0.3
        ).collect()
    }
    want_a3 = {
        r.lang: (r.n_docs, r.n_tokens, r.rate_pct)
        for r in CATALOG["doc_temperature_mixture_alpha3"]
        .builder(spark, SF_SMOKE)
        .select("lang", "n_docs", "n_tokens", "rate_pct")
        .collect()
    }
    assert got_a3 == want_a3

    empty_store = str(tmp_path / "mix_never_written")
    empty = P.read_mixture_stats(spark, empty_store)
    assert empty.count() == 0
    assert set(empty.columns) == set(X.mixture_stats_partial(docs).columns)
    with _pytest.raises(ValueError, match="empty"):
        X.temperature_rates(empty)


def test_temperature_gate_stream_matches_batch_decisions(spark, tmp_path):
    """Epoch-frozen-rates ingest sampling: drain the corpus into the
    mixture stats store, freeze α = 0.3 rates from it, then gate a
    re-ingest of the same corpus — per-language kept counts must equal
    the batch doc_temperature_mixture_alpha3 manifest exactly (same
    rates, same md5 window ⇒ same per-doc decisions). Unknown-language
    docs get NULL rate/keep (annotated, dropped by the filter form,
    never silently admitted); a bad hex_start is refused."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as X
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang", "text")
    drops = str(tmp_path / "tg_drops")
    docs.coalesce(1).write.parquet(drops)
    schema = spark.read.parquet(drops).schema
    store, ck = str(tmp_path / "tg_store"), str(tmp_path / "tg_ck")
    q = P.write_stream_text_stats(
        spark.readStream.schema(schema).parquet(drops), store, ck,
        track_mixture=True,
    )
    q.awaitTermination(600)
    rates = X.temperature_rates(P.read_mixture_stats(spark, store), alpha=0.3)

    gated = P.temperature_gate_stream(
        spark.readStream.schema(schema).parquet(drops), rates, hex_start=25
    )
    P.run_available_to_memory(gated, "tgate", output_mode="append")
    got = {
        r.lang: r.n_kept
        for r in spark.sql(
            "SELECT lang, count(*) AS n_kept FROM tgate "
            "WHERE keep AND text IS NOT NULL AND lang IS NOT NULL "
            "GROUP BY lang"
        ).collect()
    }
    want = {
        r.lang: r.n_sampled
        for r in CATALOG["doc_temperature_mixture_alpha3"]
        .builder(spark, SF_SMOKE)
        .collect()
    }
    assert got == want

    # unknown language: NULL rate and NULL keep, and the drop form
    # filters it (conservative default)
    row = spark.sql(
        "SELECT bucket, rate_pct, keep FROM tgate WHERE lang IS NULL LIMIT 1"
    ).collect()
    if row:  # corpus has null-lang docs
        assert row[0].rate_pct is None and row[0].keep is None
    with pytest.raises(ValueError, match="hex_start"):
        P.temperature_gate_stream(
            spark.readStream.schema(schema).parquet(drops), rates, hex_start=30
        )


def test_stats_store_refuses_family_enabled_after_commits(spark, tmp_path):
    """Enabling a NEW stats family on a checkpoint that already
    committed batches must fail loudly: the ledger's early-return
    skips replays, so the late family would silently miss every
    previously-ingested document and merge confidently wrong
    statistics."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang", "text")
    drops = str(tmp_path / "late_drops")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(drops)
    store, ck = str(tmp_path / "late_store"), str(tmp_path / "late_ck")
    schema = spark.read.parquet(drops).schema

    def drain(**kw):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(drops)
        )
        q = P.write_stream_text_stats(stream, store, ck, **kw)
        q.awaitTermination(600)
        return q

    drain(track_mixture=True)
    assert P.read_mixture_stats(spark, store).count() > 0
    # second drop + restart with an ADDITIONAL family: first merge's
    # heal must raise, surfaced as a failed streaming query
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(drops)
    import pyspark.errors

    with pytest.raises(
        pyspark.errors.exceptions.base.StreamingQueryException,
        match="enabled after ingest",
    ):
        drain(track_mixture=True, dsir_target=F.col("lang") == "en")
    # same-families restart on the same checkpoint still works
    q = drain(track_mixture=True)
    got = {
        r.lang: (r.n_docs, r.n_tokens)
        for r in P.read_mixture_stats(spark, store).collect()
    }
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import mixture_stats_partial

    want = {
        r.lang: (r.n_docs, r.n_tokens) for r in mixture_stats_partial(docs).collect()
    }
    assert got == want


def test_stats_store_refuses_family_disabled_after_commits(spark, tmp_path):
    """ADVICE r9, the symmetric case: DISABLING a family on a store
    that already committed its partials must fail loudly — the dropped
    family's stored statistics would freeze while new batches commit,
    so its readers would merge stats silently excluding every later
    document. Both a same-checkpoint restart and a fresh-checkpoint
    re-ingest without the family must refuse."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang", "text")
    drops = str(tmp_path / "dis_drops")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(drops)
    store, ck = str(tmp_path / "dis_store"), str(tmp_path / "dis_ck")
    schema = spark.read.parquet(drops).schema

    def drain(ckpt, **kw):
        stream = spark.readStream.schema(schema).parquet(drops)
        q = P.write_stream_text_stats(stream, store, ckpt, **kw)
        # assert the drain actually finished: under shared-host load a
        # silent timeout here surfaced as a baffling 0-row read below
        assert q.awaitTermination(600), "text-stats drain timed out"

    drain(ck, track_mixture=True, dsir_target=F.col("lang") == "en")
    assert P.read_mixture_stats(spark, store).count() > 0

    import pyspark.errors

    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(drops)
    # same checkpoint, dsir dropped → heal must refuse
    with pytest.raises(
        pyspark.errors.exceptions.base.StreamingQueryException,
        match="not enabled on this writer",
    ):
        drain(ck, track_mixture=True)
    # fresh checkpoint (re-ingest), dsir dropped → still refuse
    with pytest.raises(
        pyspark.errors.exceptions.base.StreamingQueryException,
        match="not enabled on this writer",
    ):
        drain(str(tmp_path / "dis_ck2"), track_mixture=True)
    # both-families restart on the same checkpoint still works
    drain(ck, track_mixture=True, dsir_target=F.col("lang") == "en")
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import mixture_stats_partial

    got = {
        r.lang: (r.n_docs, r.n_tokens)
        for r in P.read_mixture_stats(spark, store).collect()
    }
    want = {
        r.lang: (r.n_docs, r.n_tokens) for r in mixture_stats_partial(docs).collect()
    }
    assert got == want


def _stats_snapshot(spark, store):
    """Canonical reader outputs for compaction equivalence checks."""
    dsir = {
        r.bucket: (r.q_cnt, r.p_cnt)
        for r in P.read_dsir_counts(spark, store).collect()
    }
    dft_df, corpus_df = P.read_bm25_stats(spark, store)
    dft = {r.tok: r.dft for r in dft_df.collect()}
    corpus = tuple(corpus_df.collect()[0])
    mix = {
        r.lang: (r.n_docs, r.n_tokens)
        for r in P.read_mixture_stats(spark, store).collect()
    }
    return dsir, dft, corpus, mix


def test_stats_store_compaction_read_equivalence(spark, tmp_path):
    """Ledgered compaction (r10 verdict item 4): committed per-batch
    partials collapse into ONE partition per family with reader
    outputs bit-identical before/after, the ledger holds exactly one
    (compact) marker, re-compacting is a no-op, and ingest continues
    on the same checkpoint afterwards with the next compaction folding
    the previous compact partition in."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang", "text")
    drops = str(tmp_path / "drops")
    docs.filter(F.col("doc_id") % 3 == 0).coalesce(1).write.parquet(drops)
    docs.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.mode("append").parquet(drops)
    store, ck = str(tmp_path / "store"), str(tmp_path / "ck")
    schema = spark.read.parquet(drops).schema
    families = dict(
        track_mixture=True,
        dsir_target=F.col("lang") == "en",
        query_terms=("data", "query"),
    )

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(drops)
        )
        P.write_stream_text_stats(stream, store, ck, **families).awaitTermination(600)

    drain()
    ledger = os.path.join(store, "_ledger")
    assert len(os.listdir(ledger)) >= 2, "need multiple committed batches"
    before = _stats_snapshot(spark, store)

    n = P.compact_stats_store(spark, store)
    assert n >= 2
    assert _stats_snapshot(spark, store) == before
    markers = os.listdir(ledger)
    assert len(markers) == 1 and markers[0].startswith("batch-compact-")
    for sub in ("dsir", "bm25_df", "bm25_corpus", "mixture"):
        parts = [
            e for e in os.listdir(os.path.join(store, sub))
            if e.startswith("batch_id=")
        ]
        assert len(parts) == 1 and parts[0].startswith("batch_id=compact-"), sub
    # idempotent: nothing left to compact
    assert P.compact_stats_store(spark, store) == 0
    assert _stats_snapshot(spark, store) == before

    # ingest continues after compaction on the SAME checkpoint, and the
    # merged stats equal one batch pass over everything ingested
    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.mode("append").parquet(drops)
    drain()
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import mixture_stats_partial

    want = {
        r.lang: (r.n_docs, r.n_tokens) for r in mixture_stats_partial(docs).collect()
    }
    got = {
        r.lang: (r.n_docs, r.n_tokens)
        for r in P.read_mixture_stats(spark, store).collect()
    }
    assert got == want
    # second compaction folds the first compact partition + new batches
    assert P.compact_stats_store(spark, store) >= 2
    got2 = {
        r.lang: (r.n_docs, r.n_tokens)
        for r in P.read_mixture_stats(spark, store).collect()
    }
    assert got2 == want


def test_stats_store_compaction_crash_heal(spark, tmp_path):
    """All three compaction crash windows heal: (a) compact partitions
    written but no marker — dropped, store unchanged; (b) compact
    marker committed but old markers/partitions not yet removed —
    readers are ALREADY exact via the replaces manifest (no double
    count), and the next compact call completes the physical cleanup;
    (c) manifest written to its ``._tmp`` name but never renamed —
    not a marker, so readers are unchanged and heal drops it without
    touching the batches it lists.
    The writer's late-enabled-family guard still fires on a compacted
    store (the coverage-based check survives the per-batch markers
    being collapsed)."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang", "text")
    drops = str(tmp_path / "drops")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(drops)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(drops)
    store, ck = str(tmp_path / "store"), str(tmp_path / "ck")
    schema = spark.read.parquet(drops).schema

    def drain(ckpt=ck, **kw):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(drops)
        )
        P.write_stream_text_stats(stream, store, ckpt, **kw).awaitTermination(600)

    drain(track_mixture=True)
    before = {
        r.lang: (r.n_docs, r.n_tokens)
        for r in P.read_mixture_stats(spark, store).collect()
    }

    # (a) pre-marker crash: orphan compact partition, no marker. The
    # leftover must be REAL parquet (crash leftovers are part files the
    # writer completed before dying) — a non-parquet file would fail
    # schema inference depending on OS listing order, which is a test
    # artifact, not the store semantics under test.
    import pyarrow as pa
    import pyarrow.parquet as pq

    orphan = os.path.join(store, "mixture", "batch_id=compact-deadbeef0000")
    os.makedirs(orphan)
    pq.write_table(
        pa.table({"lang": ["zz"], "n_docs": [999], "n_tokens": [999]}),
        os.path.join(orphan, "part-00000.parquet"),
    )
    got = {
        r.lang: (r.n_docs, r.n_tokens)
        for r in P.read_mixture_stats(spark, store).collect()
    }
    assert got == before  # reader never counted the uncommitted orphan
    assert "zz" not in got
    P.compact_stats_store(spark, store)
    assert not os.path.isdir(orphan)
    after = {
        r.lang: (r.n_docs, r.n_tokens)
        for r in P.read_mixture_stats(spark, store).collect()
    }
    assert after == before

    # (b) post-marker crash: marker + manifest committed, cleanup skipped
    docs.limit(40).coalesce(1).write.mode("append").parquet(drops)
    drain(track_mixture=True)
    pre_crash = {
        r.lang: (r.n_docs, r.n_tokens)
        for r in P.read_mixture_stats(spark, store).collect()
    }
    assert P.compact_stats_store(spark, store, _crash_after_marker=True) >= 2
    ledger = os.path.join(store, "_ledger")
    assert len(os.listdir(ledger)) > 1, "crash state: old markers still present"
    mid_crash = {
        r.lang: (r.n_docs, r.n_tokens)
        for r in P.read_mixture_stats(spark, store).collect()
    }
    assert mid_crash == pre_crash  # manifest exclusion: no double count
    P.compact_stats_store(spark, store)  # heal completes the cleanup
    markers = os.listdir(ledger)
    assert len(markers) == 1 and markers[0].startswith("batch-compact-")
    healed = {
        r.lang: (r.n_docs, r.n_tokens)
        for r in P.read_mixture_stats(spark, store).collect()
    }
    assert healed == pre_crash

    # (c) crash between writing the manifest to its ._tmp name and the
    # rename: the ._tmp file is no marker, so readers are unchanged, and
    # the next heal removes it with its half-written compact partition
    # while every batch it would have replaced survives
    import json

    docs.limit(20).coalesce(1).write.mode("append").parquet(drops)
    drain(track_mixture=True)
    committed = sorted(e[len("batch-"):] for e in os.listdir(ledger))
    assert len(committed) >= 2
    pre_tmp = _stats_snapshot(spark, store)
    tok = "compact-" + "0" * 12
    tmp_marker = os.path.join(ledger, f"batch-{tok}._tmp")
    with open(tmp_marker, "w") as fh:
        json.dump({"replaces": committed}, fh)
    half = os.path.join(store, "mixture", f"batch_id={tok}")
    shutil.copytree(os.path.join(store, "mixture", f"batch_id={committed[0]}"), half)
    assert _stats_snapshot(spark, store) == pre_tmp
    docs.limit(5).coalesce(1).write.mode("append").parquet(drops)
    drain(track_mixture=True)  # writer restart: heal runs in batch 1
    assert not os.path.exists(tmp_marker) and not os.path.exists(half)
    for part in committed:
        assert os.path.exists(os.path.join(ledger, f"batch-{part}")), part
        assert os.path.isdir(os.path.join(store, "mixture", f"batch_id={part}")), part

    # writer restart on the compacted store: same family works...
    drain(track_mixture=True)
    # ...but enabling a NEW family still refuses loudly
    import pyspark.errors

    docs.limit(10).coalesce(1).write.mode("append").parquet(drops)
    with pytest.raises(
        pyspark.errors.exceptions.base.StreamingQueryException,
        match="enabled after ingest",
    ):
        drain(track_mixture=True, dsir_target=F.col("lang") == "en")


def test_semantic_verdict_store_compaction(spark, tmp_path):
    """Verdict-store compaction: after a multi-generation store (fresh
    re-ingest) compacts, the ledger holds one compact marker, the
    verdicts dir one partition, and the merged manifest is unchanged;
    a crash after the marker still reads exactly (manifest exclusion +
    distinct collapse) and the next compact completes the cleanup;
    ingest continues on the compacted store."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.similarity import semantic_decontaminate

    e = load_table(spark, SF_SMOKE, "embeddings")
    eval_vecs = e.filter(F.col("vec_id") % 97 == 0)
    train = e.filter(F.col("vec_id") % 97 != 0)
    src = str(tmp_path / "vsrc")
    train.coalesce(2).write.parquet(src)
    schema = spark.read.parquet(src).schema
    store = str(tmp_path / "vstore")

    def drain(ck):
        P.write_stream_semantic_verdicts(
            spark.readStream.schema(schema).parquet(src),
            eval_vecs, store, str(tmp_path / ck), threshold=0.4,
        ).awaitTermination(600)

    drain("ck1")
    drain("ck2")  # second generation: duplicate (bit-identical) rows
    want = _verdict_rows(
        semantic_decontaminate(e, F.col("vec_id") % 97 == 0, threshold=0.4)
    )
    assert _verdict_rows(P.read_semantic_verdicts(spark, store)) == want
    assert len(os.listdir(store + "/verdicts")) >= 2

    # crash after the marker: reads stay exact, cleanup pending
    assert P.compact_semantic_verdict_store(
        spark, store, _crash_after_marker=True
    ) >= 2
    assert _verdict_rows(P.read_semantic_verdicts(spark, store)) == want
    # heal completes: one marker, one partition, manifest unchanged
    P.compact_semantic_verdict_store(spark, store)
    markers = os.listdir(store + "/_ledger")
    assert len(markers) == 1 and markers[0].startswith("batch-compact-")
    parts = os.listdir(store + "/verdicts")
    assert len(parts) == 1 and parts[0].startswith("batch_id=compact-")
    assert _verdict_rows(P.read_semantic_verdicts(spark, store)) == want
    # idempotent; ingest continues on the compacted store
    assert P.compact_semantic_verdict_store(spark, store) == 0
    drain("ck3")
    assert _verdict_rows(P.read_semantic_verdicts(spark, store)) == want


def test_canonical_store_compaction(spark, tmp_path):
    """Canonical-dedup store compaction: per-batch docs/bands
    partitions collapse to one each with the raw-read doc set
    unchanged; ingest continues against the compacted bands (a
    re-ingest of the same corpus under a fresh checkpoint still adds
    nothing — the collision join reads the compacted signatures); a
    crash after the marker is healed by the NEXT WRITER START (its
    heal finishes interrupted compactions before the store is read)."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang", "text")
    drops = str(tmp_path / "drops")
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(drops)
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(drops)
    store = str(tmp_path / "store")
    schema = spark.read.parquet(drops).schema

    def drain(ck):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(drops)
        )
        P.write_stream_dedup_canonical(stream, store, str(tmp_path / ck)).awaitTermination(600)

    drain("ck1")
    want = {r.doc_id for r in spark.read.parquet(store + "/docs").collect()}
    assert len(os.listdir(store + "/docs")) >= 2

    # crash BEFORE the marker: an uncommitted compact partition left by
    # a compactor that died mid-write must be dropped by the next
    # compaction's heal step (never read, never double-counted)
    orphan = store + "/docs/batch_id=compact-deadbeef0000"
    spark.read.parquet(store + "/docs").limit(3).drop("batch_id").write.parquet(orphan)
    assert P.compact_canonical_store(spark, store) >= 2
    assert not os.path.exists(orphan), "uncommitted compact leftover survived heal"
    for fam in ("docs", "bands"):
        parts = [e for e in os.listdir(store + "/" + fam) if e.startswith("batch_id=")]
        assert len(parts) == 1 and parts[0].startswith("batch_id=compact-"), fam
    assert {r.doc_id for r in spark.read.parquet(store + "/docs").collect()} == want
    assert P.compact_canonical_store(spark, store) == 0

    # re-ingest against the compacted signatures: nothing is re-added
    drain("ck2")
    assert {r.doc_id for r in spark.read.parquet(store + "/docs").collect()} == want

    # crash after the marker (second compaction of the post-reingest
    # ledger): the next writer start heals before the store is read
    assert P.compact_canonical_store(spark, store, _crash_after_marker=True) >= 1
    drain("ck3")  # writer heal finishes the interrupted compaction
    markers = [e for e in os.listdir(store + "/_ledger") if e.startswith("batch-")]
    compacts = [m for m in markers if m.startswith("batch-compact-")]
    assert len(compacts) == 1
    assert {r.doc_id for r in spark.read.parquet(store + "/docs").collect()} == want


def test_signal_gate_stream_matches_batch_composition(spark, tmp_path):
    """Live-signal drain parity (streaming half of domain flagship #6):
    the epoch-frozen streaming signal gate — daily-bar feature rows
    joined against the broadcast OFFLINE-trained best-config model —
    reproduces `domain_pipeline`'s batch signal table row-for-row,
    because gates and CASE ladder are one shared definition and the
    model is frozen exactly like the URL-quota/temperature gates."""
    import pandas as pd

    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import domain as D

    frames = D.domain_stage_frames(spark, SF_SMOKE)
    batch = frames["signals"].toPandas()
    feats = D._sweep_features(frames["features_per_day"])
    src = str(tmp_path / "feats")
    feats.coalesce(2).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    gated = P.signal_gate_stream(stream, frames["best_configs"])
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    (
        gated.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(600)
    )
    got = spark.read.parquet(out_dir).toPandas()
    assert len(got) > 0, "gate drained no signals"
    key = ["user_id", "day", "lookback_hours"]
    cols = sorted(batch.columns)
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True)[cols],
        batch.sort_values(key).reset_index(drop=True)[cols],
        check_dtype=False,
    )


def test_url_gate_stream_matches_batch_decisions(spark, tmp_path):
    """Ingest-time URL-plane gate parity (streaming half of
    doc_url_curation): domain counts drained through the stats store's
    new `domains` family equal a batch count; the epoch-frozen rates
    derived from them make the streaming gate's keep decision agree
    bit-for-bit with the batch decision table's quota+blocklist
    verdict on every non-duplicate document; unknown domains are
    annotated NULL, never silently admitted; the family compacts."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import url as U

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id",
        U.synthetic_url(F.col("doc_id"), F.col("source")).alias("url"),
    )
    decisions = {r.doc_id: r for r in U.url_curation_decisions(docs).collect()}

    # stats store drains the DEDUP SURVIVORS (the population the batch
    # rates are computed over), pre-annotated with their domain
    survivors = docs.join(
        spark.createDataFrame(
            [(k,) for k, v in decisions.items() if not v.is_url_dup],
            "doc_id long",
        ),
        "doc_id",
    ).withColumn("domain", U.url_host(F.col("url")))
    src = str(tmp_path / "survivors")
    survivors.coalesce(2).write.parquet(src)
    schema = spark.read.parquet(src).schema
    store, ck = str(tmp_path / "dstore"), str(tmp_path / "dck")
    P.write_stream_text_stats(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        store, ck, track_domains=True,
    ).awaitTermination(600)
    got_counts = {r.domain: r.n_docs for r in P.read_domain_stats(spark, store).collect()}
    want_counts = {
        r.domain: r.cnt
        for r in survivors.groupBy("domain").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert got_counts == want_counts

    # frozen rates -> streaming gate over the full corpus
    rates = U.domain_keep_rates(P.read_domain_stats(spark, store))
    full_src = str(tmp_path / "full")
    docs.coalesce(2).write.parquet(full_src)
    fschema = spark.read.parquet(full_src).schema
    gated = P.url_gate_stream(
        spark.readStream.schema(fschema).parquet(full_src), rates
    )
    P.run_available_to_memory(gated, "url_gate", output_mode="append")
    got = {
        r.doc_id: (r.domain, r.blocklisted, r.keep)
        for r in spark.sql(
            "SELECT doc_id, domain, blocklisted, keep FROM url_gate"
        ).collect()
    }
    assert set(got) == set(decisions)
    for did, d in decisions.items():
        g = got[did]
        assert g[0] == d.domain and g[1] == d.blocklisted, did
        if not d.is_url_dup:
            # keep == quota_kept AND NOT blocklisted, bit for bit
            assert g[2] == (d.quota_kept and not d.blocklisted), did
    assert any(v[2] for v in got.values()) and not all(v[2] for v in got.values())

    # unknown domain: NULL keep_rate -> NULL keep (annotated, dropped
    # by the filter form, never silently admitted)
    extra = spark.createDataFrame(
        [(999_999, "https://never-seen.example/x")], "doc_id long, url string"
    )
    nsrc = str(tmp_path / "nsrc")
    extra.write.parquet(nsrc)
    gated2 = P.url_gate_stream(
        spark.readStream.schema(spark.read.parquet(nsrc).schema).parquet(nsrc), rates
    )
    P.run_available_to_memory(gated2, "url_gate2", output_mode="append")
    row = spark.sql("SELECT keep FROM url_gate2").collect()[0]
    assert row.keep is None

    # column-collision guard
    with pytest.raises(ValueError, match="already has column"):
        P.url_gate_stream(
            spark.readStream.schema(fschema).parquet(full_src).withColumn(
                "domain", F.lit("x")
            ),
            rates,
        )

    # the new family rides the generic compactor
    assert P.compact_stats_store(spark, store) >= 2
    assert {
        r.domain: r.n_docs for r in P.read_domain_stats(spark, store).collect()
    } == want_counts


def test_url_plane_streaming_composition_matches_batch(spark, tmp_path):
    """The FULL streaming URL plane composed from existing pieces —
    url_gate_stream (blocklist + frozen quota) -> .filter(keep) ->
    dedup_stream keyed on the annotated canonical_url — drains to
    exactly the batch decision table's kept set: same pages survive,
    one per canonical URL, the min-doc_id canonical when ingest order
    follows doc_id (the keep-first convention every dedup store here
    uses)."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import url as U

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id",
        U.synthetic_url(F.col("doc_id"), F.col("source")).alias("url"),
    ).withColumn(
        "ingest_ts",
        F.to_timestamp(F.lit("2026-01-01 00:00:00"))
        + F.make_interval(secs=F.col("doc_id").cast("double")),
    )
    decisions = {r.doc_id: r for r in U.url_curation_decisions(docs).collect()}
    # batch expectation: kept canonical docs (quota+blocklist pass AND
    # canonical survivor)
    want = {d for d, r in decisions.items() if r.kept}

    # frozen rates over the dedup survivors (the decision table's
    # population), via the domains stats-store family
    survivors = docs.join(
        spark.createDataFrame(
            [(k,) for k, v in decisions.items() if not v.is_url_dup], "doc_id long"
        ),
        "doc_id",
    ).withColumn("domain", U.url_host(F.col("url")))
    src = str(tmp_path / "surv")
    survivors.coalesce(1).write.parquet(src)
    P.write_stream_text_stats(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
        str(tmp_path / "dstore"), str(tmp_path / "dck"), track_domains=True,
    ).awaitTermination(600)
    rates = U.domain_keep_rates(P.read_domain_stats(spark, str(tmp_path / "dstore")))

    full = str(tmp_path / "full")
    docs.orderBy("doc_id").coalesce(1).write.parquet(full)
    stream = spark.readStream.schema(spark.read.parquet(full).schema).parquet(full)
    composed = P.dedup_stream(
        P.url_gate_stream(stream, rates).filter(F.col("keep")),
        id_cols=("canonical_url",),
        event_time_col="ingest_ts",
    )
    P.run_available_to_memory(composed, "url_plane", output_mode="append")
    got = {r.doc_id for r in spark.sql("SELECT doc_id FROM url_plane").collect()}
    # the gate admits quota+blocklist survivors REGARDLESS of dup rank;
    # dedup then keeps one per canonical page. A dup doc can only be
    # admitted if its canonical twin was too (same bucket decision is
    # per-doc), so the kept SET matches batch up to which twin won the
    # race within a micro-batch — with one file per drain and id order,
    # Spark keeps the first row = min doc_id = the batch canonical.
    assert got == want


def test_drift_stats_store_matches_batch_psi(spark, tmp_path):
    """Streaming drift monitor drain-parity: freeze the reference
    (edges + base histogram) once, drain the current corpus through
    the stats store's drift family in id-ordered micro-batches, and
    the store-fed PSI report must equal the one-batch
    feature_drift_psi over the same slices row-for-row. Compaction of
    the store leaves the report unchanged, and mismatched
    edges/feature annotations fail loudly at writer construction."""
    import pytest

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as X

    feats = ("n_tokens", "quality")

    def annotate(df):
        t = F.col("text")
        return df.filter(t.isNotNull()).select(
            "doc_id",
            X.token_count(t).alias("n_tokens"),
            X.quality_score(t).alias("quality"),
        )

    docs = annotate(load_table(spark, SF_SMOKE, "documents"))
    base = docs.filter(F.col("doc_id") % 2 == 0)
    cur = docs.filter(F.col("doc_id") % 2 == 1)
    want = [tuple(r) for r in X.feature_drift_psi(base, cur, feats).collect()]

    edges, base_counts = X.drift_reference(base, feats)
    drops = str(tmp_path / "drops")
    cur.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(drops)
    cur.filter(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(drops)
    schema = spark.read.parquet(drops).schema
    store, ck = str(tmp_path / "store"), str(tmp_path / "ck")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(drops)
    )
    q = P.write_stream_text_stats(
        stream, store, ck, drift_edges=edges, drift_features=feats
    )
    q.awaitTermination(600)

    got = [
        tuple(r)
        for r in X.psi_from_counts(
            base_counts, P.read_drift_counts(spark, store)
        ).collect()
    ]
    assert got == want
    # non-degenerate: the parity halves carry sampling noise, not zeros
    assert any(r[3] != 0.0 for r in got)

    # compaction: the generic stats compactor covers the new family
    n = P.compact_stats_store(spark, store)
    assert n == 2
    got2 = [
        tuple(r)
        for r in X.psi_from_counts(
            base_counts, P.read_drift_counts(spark, store)
        ).collect()
    ]
    assert got2 == want

    # loud-fail contract: edges/features mismatch at construction
    with pytest.raises(ValueError, match="must match"):
        P.write_stream_text_stats(
            stream, store, str(tmp_path / "ck2"),
            drift_edges=edges, drift_features=("n_tokens",),
        )
    with pytest.raises(ValueError, match="drift_features"):
        P.write_stream_text_stats(
            stream, store, str(tmp_path / "ck3"), drift_edges=edges
        )


def test_drift_store_bucketing_version_guard(spark, tmp_path):
    """Mixed-generation drift partials are refused, not merged (r14
    advice): the writer stamps _drift_bucketing_version at first
    start; a store stamped under a DIFFERENT _bucket_col generation
    fails loudly on both read and writer restart, and a legacy store
    (committed drift partials, no stamp) fails on read — silent
    merging would double-count degenerate features differently."""
    import os

    import pytest

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as X
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import (
        DRIFT_BUCKETING_VERSION,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", X.token_count(F.col("text")).alias("n_tokens")
    )
    base = docs.filter(F.col("doc_id") % 2 == 0)
    cur = docs.filter(F.col("doc_id") % 2 == 1)
    edges, _ = X.drift_reference(base, ("n_tokens",))
    drops = str(tmp_path / "drops")
    cur.coalesce(1).write.parquet(drops)
    schema = spark.read.parquet(drops).schema
    store, ck = str(tmp_path / "store"), str(tmp_path / "ck")
    stream = spark.readStream.schema(schema).parquet(drops)
    P.write_stream_text_stats(
        stream, store, ck, drift_edges=edges, drift_features=("n_tokens",)
    ).awaitTermination(600)

    marker = os.path.join(store, "_drift_bucketing_version")
    with open(marker) as fh:
        assert int(fh.read()) == DRIFT_BUCKETING_VERSION
    assert P.read_drift_counts(spark, store).count() > 0

    # stamped under another generation: read AND writer restart refuse
    with open(marker, "w") as fh:
        fh.write("1")
    with pytest.raises(RuntimeError, match="v1"):
        P.read_drift_counts(spark, store)
    q = P.write_stream_text_stats(
        spark.readStream.schema(schema).parquet(drops),
        store,
        str(tmp_path / "ck2"),  # fresh checkpoint so a batch fires
        drift_edges=edges,
        drift_features=("n_tokens",),
    )
    with pytest.raises(Exception, match="v1"):
        # heal() runs inside the first micro-batch; the version clash
        # surfaces as the stream's terminal exception
        q.awaitTermination(600)
        q.processAllAvailable()

    # legacy store: committed partials but no stamp at all
    os.remove(marker)
    with pytest.raises(RuntimeError, match="pre-versioning"):
        P.read_drift_counts(spark, store)

    # restored stamp reads fine again
    with open(marker, "w") as fh:
        fh.write(str(DRIFT_BUCKETING_VERSION))
    assert P.read_drift_counts(spark, store).count() > 0


def test_drift_trend_store_matches_batch_per_period_psi(spark, tmp_path):
    """Multi-period drift TREND drain-parity: the drift_trend family
    keys each batch's histograms by a stream-annotated period column
    (here synthetic time buckets over doc_id) under the epoch-frozen
    edges; read_drift_trend + psi_trend_from_counts must equal, row
    for row, the batch per-period form — feature_drift_psi(reference,
    period_slice) for EVERY period — even though micro-batch
    boundaries deliberately straddle period boundaries (one batch
    carries two periods; one period spans two batches). Compaction
    preserves the report; drift_period_col without drift_edges fails
    loudly."""
    import pytest

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as X

    feats = ("n_tokens", "quality")

    def annotate(df):
        t = F.col("text")
        return df.filter(t.isNotNull()).select(
            "doc_id",
            X.token_count(t).alias("n_tokens"),
            X.quality_score(t).alias("quality"),
        )

    docs = annotate(load_table(spark, SF_SMOKE, "documents")).withColumn(
        "period",
        F.concat(F.lit("p"), F.floor(F.col("doc_id") / 150).cast("string")),
    )
    # p0 (ids 0-149) is the frozen reference epoch; p1-p3 the timeline
    base = docs.filter(F.col("period") == "p0").drop("period")
    periods = ("p1", "p2", "p3")
    want = []
    for p in periods:
        cur_p = docs.filter(F.col("period") == p).drop("period")
        want += [
            (p,) + tuple(r)
            for r in X.feature_drift_psi(base, cur_p, feats).collect()
        ]

    edges, base_counts = X.drift_reference(base, feats)
    # three drop files split at 240/420: file 1 carries p1+part of p2,
    # p2 spans files 1-2, file 3 is mid-p3 — batches straddle periods
    drops = str(tmp_path / "drops")
    cur = docs.filter(F.col("period") > "p0")
    cur.filter(F.col("doc_id") < 240).coalesce(1).write.parquet(drops)
    cur.filter((F.col("doc_id") >= 240) & (F.col("doc_id") < 420)).coalesce(
        1
    ).write.mode("append").parquet(drops)
    cur.filter(F.col("doc_id") >= 420).coalesce(1).write.mode(
        "append"
    ).parquet(drops)
    schema = spark.read.parquet(drops).schema
    store, ck = str(tmp_path / "store"), str(tmp_path / "ck")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    q = P.write_stream_text_stats(
        stream,
        store,
        ck,
        drift_edges=edges,
        drift_features=feats,
        drift_period_col="period",
    )
    q.awaitTermination(600)

    got = [
        tuple(r)
        for r in X.psi_trend_from_counts(
            base_counts, P.read_drift_trend(spark, store)
        ).collect()
    ]
    assert got == want
    assert len(got) == len(periods) * len(feats)
    # the plain (un-keyed) drift family over the same drain still
    # reports the whole-timeline PSI — both views from ONE writer
    whole = [
        tuple(r)
        for r in X.psi_from_counts(
            base_counts, P.read_drift_counts(spark, store)
        ).collect()
    ]
    want_whole = [
        tuple(r)
        for r in X.feature_drift_psi(
            base, docs.filter(F.col("period") > "p0").drop("period"), feats
        ).collect()
    ]
    assert whole == want_whole

    # compaction collapses 3 batch partials per family; reports hold
    n = P.compact_stats_store(spark, store)
    assert n == 3
    got2 = [
        tuple(r)
        for r in X.psi_trend_from_counts(
            base_counts, P.read_drift_trend(spark, store)
        ).collect()
    ]
    assert got2 == want

    with pytest.raises(ValueError, match="drift_period_col"):
        P.write_stream_text_stats(
            stream, store, str(tmp_path / "ck2"), drift_period_col="period"
        )
