"""Structured Streaming plane (T1-T5 streaming forms, SURVEY §2.9):
file-source micro-batches over staged event chunks, event-time windows +
watermarks, applyInPandasWithState TTL, foreachBatch MERGE state.

Every assertion compares the streaming result against the equivalent
batch computation over the same rows (or a hand-computable synthetic)."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from docling_nlp_api_spark.streaming import (
    daily_counts_stream,
    read_event_stream,
    run_available_now,
    sliding_rate_stream,
    stage_event_chunks,
    upsert_stream_foreach_batch,
    user_totals_stream,
)

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _stage_flat(df, drop_dir, name):
    """Write df as one flat parquet file <drop_dir>/<name>.parquet (the
    file source must see flat files — see stage_event_chunks)."""
    import glob
    import os
    import shutil

    tmp = str(drop_dir / "_tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
    os.makedirs(str(drop_dir), exist_ok=True)
    shutil.move(part, str(drop_dir / f"{name}.parquet"))
    shutil.rmtree(tmp)


@pytest.fixture(scope="module")
def drop_zone(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("drop")
    return stage_event_chunks(spark, SF, str(d), n_chunks=3)


def test_stream_is_streaming_and_chunked(spark, drop_zone):
    s = read_event_stream(spark, drop_zone)
    assert s.isStreaming
    total = spark.read.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).parquet(drop_zone).count()
    batch = spark.read.parquet(f"{SF}/events.parquet").count()
    assert total == batch


def test_daily_counts_stream_matches_batch(spark, drop_zone, tmp_path):
    res = run_available_now(
        daily_counts_stream(read_event_stream(spark, drop_zone)),
        checkpoint_dir=str(tmp_path / "ck"),
    )
    batch = (
        spark.read.parquet(f"{SF}/events.parquet")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("date"), "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    assert _rows(res) == _rows(batch)


def test_sliding_rate_stream_window_counts(spark, drop_zone, tmp_path):
    res = run_available_now(
        sliding_rate_stream(read_event_stream(spark, drop_zone)),
        checkpoint_dir=str(tmp_path / "ck"),
    ).select("window_start", "cnt")
    # batch equivalent: every event belongs to exactly 4 hourly windows
    # sliding by 15 min (epoch-aligned)
    ev = spark.read.parquet(f"{SF}/events.parquet")
    batch = (
        ev.select(
            F.explode(
                F.expr(
                    "array(0,1,2,3)"
                )
            ).alias("k"),
            F.col("ts"),
        )
        .select(
            F.date_format(
                F.timestamp_seconds(
                    (F.unix_timestamp("ts") / 900).cast("long") * 900 - F.col("k") * 900
                ),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("window_start")
        )
        .groupBy("window_start")
        .agg(F.count("*").alias("cnt"))
    )
    assert _rows(res) == _rows(batch)


def test_late_rows_dropped_by_watermark(spark, tmp_path):
    """T2: a late row is dropped once its window has CLOSED at the
    stateful operator. Measured semantics of this Spark build (probed
    batch-by-batch via numRowsDroppedByWatermark): (a) the watermark
    visible to the state store lags ONE micro-batch behind the data that
    advanced it, and (b) a late row arriving in the same batch in which
    its window is being finalized is still merged before emission. So the
    deterministic drop scenario is: on-time chunk -> watermark-advancer
    chunk -> second advancer (operator-level watermark now past the
    window end, window emitted+evicted) -> late chunk, which is dropped.
    Append mode: the final table holds each closed window exactly once."""
    d0 = dt.datetime(2024, 3, 2, 12, 0, 0)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    drop = tmp_path / "drop"
    on_time = [(i, d0 + dt.timedelta(minutes=i), 1, "click", 1.0, "{}") for i in range(10)]
    adv1 = [(100, d0 + dt.timedelta(days=1, hours=14), 3, "view", 1.0, "{}")]
    adv2 = [(101, d0 + dt.timedelta(days=1, hours=15), 3, "view", 1.0, "{}")]
    late = [(99, d0 + dt.timedelta(hours=1), 2, "click", 1.0, "{}")]
    for i, rows in enumerate([on_time, adv1, adv2, late]):
        _stage_flat(spark.createDataFrame(rows, cols), drop, f"chunk_{i:03d}")

    res = run_available_now(
        daily_counts_stream(read_event_stream(spark, str(drop)), watermark="1 hour"),
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ck"),
    )
    out = {(r["date"], r["event_type"]): r["cnt"] for r in res.collect()}
    # the closed 03-02 day window holds ONLY the 10 on-time clicks: the
    # late click (chunk 3) was dropped, and the still-open 03-03 window
    # (advancer events) is not emitted by append mode
    assert out == {("2024-03-02", "click"): 10}


def test_user_totals_state_matches_batch(spark, drop_zone, tmp_path):
    """T5 state: update-mode emits running totals per micro-batch; with a
    TTL longer than the data span, the final (max) total per user equals
    the batch aggregate."""
    res = run_available_now(
        user_totals_stream(read_event_stream(spark, drop_zone), ttl_days=365),
        output_mode="update",
        checkpoint_dir=str(tmp_path / "ck"),
    )
    final = (
        res.filter(~F.col("expired"))
        .groupBy("user_id")
        .agg(F.max("events").alias("events"), F.max("total_value").alias("total_value"))
    )
    batch = (
        spark.read.parquet(f"{SF}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    assert _rows(final) == _rows(batch)


def test_user_state_ttl_eviction(spark, tmp_path):
    """T2 eviction: a user idle past the event-time TTL times out when a
    later chunk advances the watermark; the evicted key emits a tombstone
    and restarts from zero on its next event."""
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    day = dt.datetime(2024, 3, 1, 12, 0, 0)
    drop = tmp_path / "drop"
    # chunk 0: user 1 has 3 events on day 0; chunk 1: user 2 appears 10
    # days later (after this batch the watermark passes user 1's 3-day
    # TTL); chunk 2: user 3 at day 11 — its batch starts with the
    # advanced watermark, so user 1's timeout fires during a DATA batch
    # (no reliance on a trailing no-data micro-batch under availableNow)
    c0 = [(i, day + dt.timedelta(minutes=i), 1, "click", 1.0, "{}") for i in range(3)]
    c1 = [(10, day + dt.timedelta(days=10), 2, "view", 2.0, "{}")]
    c2 = [(11, day + dt.timedelta(days=11), 3, "view", 2.0, "{}")]
    _stage_flat(spark.createDataFrame(c0, cols), drop, "chunk_000")
    _stage_flat(spark.createDataFrame(c1, cols), drop, "chunk_001")
    _stage_flat(spark.createDataFrame(c2, cols), drop, "chunk_002")

    res = run_available_now(
        user_totals_stream(read_event_stream(spark, str(drop)), ttl_days=3),
        output_mode="update",
        checkpoint_dir=str(tmp_path / "ck"),
    ).collect()
    tomb = [r for r in res if r["expired"]]
    assert len(tomb) == 1 and tomb[0]["user_id"] == 1 and tomb[0]["events"] == 3


def test_foreach_batch_upsert_matches_batch(spark, drop_zone, tmp_path):
    """T5 MERGE: per-micro-batch foreachBatch upsert into parquet state
    converges to the batch groupBy result regardless of chunking."""
    import os

    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir, exist_ok=True)
    q = upsert_stream_foreach_batch(
        read_event_stream(spark, drop_zone), state_dir, str(tmp_path / "ck")
    )
    q.awaitTermination()
    state = spark.read.parquet(os.path.join(state_dir, "current"))
    batch = (
        spark.read.parquet(f"{SF}/events.parquet")
        .groupBy("user_id", F.date_format("ts", "yyyy-MM-dd").alias("date"))
        .agg(F.count("*").alias("api_calls"))
    )
    assert _rows(state) == _rows(batch)


def test_extract_stream_matches_batch_and_resumes(spark, tmp_path):
    """Streaming extraction: (1) an availableNow pass over the staged
    drop zone produces EXACTLY the batch kernel's output on the same
    docs (span-sequence equality per doc); (2) staging more files and
    re-running with the same checkpoint extracts only the new docs —
    no reprocessing, no duplicates (exactly-once across restart);
    (3) an immediate restart with nothing new runs zero data batches."""
    from docling_nlp_api_spark.datagen import spans_df
    from docling_nlp_api_spark.operators.extract import extract
    from docling_nlp_api_spark.streaming import (
        run_extract_stream,
        stage_span_chunks,
    )

    src = str(tmp_path / "drop")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    stage_span_chunks(spark, src, n_docs=90, n_chunks=3)
    key = "spark.sql.streaming.numRecentProgressUpdates"
    spark.conf.unset(key)  # start from the default, whatever ran before
    before = spark.conf.get(key)
    n1 = run_extract_stream(spark, src, out, ckpt)
    assert n1 == 3  # one micro-batch per staged file
    assert spark.conf.get(key) == before  # the caller's conf is restored

    def canon(df):
        return {
            r["doc_id"]: (
                [tuple(s) for s in r["spans"]],
                r["status"],
                r["metadata"]["word_count"],
            )
            for r in df.collect()
        }

    got = canon(spark.read.parquet(out))
    want = canon(extract(spans_df(spark, 90)))
    assert got == want and len(got) == 90

    # later arrivals: 30 new docs land; same checkpoint -> only they run
    stage_span_chunks(spark, src, n_docs=30, n_chunks=1, start_doc=90)
    n2 = run_extract_stream(spark, src, out, ckpt)
    assert n2 == 1
    got2 = canon(spark.read.parquet(out))
    assert len(got2) == 120  # 90 old + 30 new, each exactly once
    want2 = canon(extract(spans_df(spark, 120)))
    assert got2 == want2

    # restart with nothing new: zero data micro-batches
    assert run_extract_stream(spark, src, out, ckpt) == 0


def test_session_stream_matches_batch_sessionize(spark, tmp_path):
    """T6: streaming session windows over the staged chunks must equal
    the batch sessionize() rollups modulo the documented deltas (emitted
    end = last event + gap; this corpus has no exact-boundary gaps, so
    the >=-vs-> split semantics agree)."""
    from docling_nlp_api_spark.operators.analytics import SESSION_GAP_US, sessionize
    from docling_nlp_api_spark.streaming import session_counts_stream

    drop = stage_event_chunks(
        spark, SF, str(tmp_path / "drop"), n_chunks=3, flush_horizon_days=3
    )
    res = run_available_now(
        session_counts_stream(read_event_stream(spark, drop)),
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ck"),
    ).filter(F.col("user_id") >= 0)

    batch = sessionize(spark.read.parquet(f"{SF}/events.parquet")).select(
        "user_id",
        "start_us",
        (F.col("end_us") + SESSION_GAP_US).alias("end_us"),
        "n_events",
    )
    got = _rows(res.select("user_id", "start_us", "end_us", "n_events"))
    want = _rows(batch)
    assert got == want and len(got) > 0


def test_session_window_boundary_semantics(spark, tmp_path):
    """Pin the boundary semantics: an exactly-gap-sized hole MERGES in
    session_window (the open session's end is inclusive) — identical to
    batch sessionize's strict `> gap` split, so the two definitions agree
    everywhere, not just on gap-free fixtures."""
    from docling_nlp_api_spark.operators.analytics import sessionize
    from docling_nlp_api_spark.streaming import session_counts_stream

    m = 60 * 1_000_000
    ev = spark.createDataFrame(
        [(0, 1, 0), (1, 1, 30 * m), (2, 1, 90 * m), (99, -1, 10_000 * m)],
        "event_id long, user_id long, us long",
    ).select(
        "event_id",
        "user_id",
        (F.col("us") / 1_000_000).cast("timestamp").alias("ts"),
        F.lit("t").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    _stage_flat(ev, tmp_path / "drop2", "chunk_000")
    res = run_available_now(
        session_counts_stream(read_event_stream(spark, str(tmp_path / "drop2"))),
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ck2"),
    ).filter(F.col("user_id") >= 0)
    # streaming: the exactly-30-min gap merges -> sessions of 2 and 1
    assert sorted(r.n_events for r in res.collect()) == [1, 2]
    # batch (strict >) agrees: events at 0 and 30min share a session
    batch = sessionize(ev.filter("user_id >= 0"))
    assert sorted(r.n_events for r in batch.collect()) == [1, 2]


def test_first_seen_stream_dedup_and_restart(spark, tmp_path):
    """T7 ingestion-time dedup: within-batch duplicates resolve to the
    batch-min doc_id, cross-batch duplicates are suppressed by state, and
    a RESTART over the same checkpoint with newly staged duplicate docs
    emits nothing for already-seen hashes (exactly-once across runs) but
    does emit genuinely new content."""
    from docling_nlp_api_spark.streaming import first_seen_stream, read_doc_stream

    drop = tmp_path / "drop"
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def run_to_parquet():
        # parquet sink (the production shape) — memory sinks cannot
        # recover from a checkpoint, file sinks can
        q = (
            first_seen_stream(read_doc_stream(spark, str(drop)))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r.doc_id for r in spark.read.parquet(out).collect()}

    c0 = spark.createDataFrame(
        [(2, "xx"), (1, "xx"), (3, "yy")], "doc_id long, text string"
    )
    c1 = spark.createDataFrame(
        [(4, "xx"), (5, "zz")], "doc_id long, text string"
    )
    _stage_flat(c0, drop, "chunk_000")
    _stage_flat(c1, drop, "chunk_001")
    got = run_to_parquet()
    assert got == {1, 3, 5}  # xx -> batch-min 1; yy -> 3; zz -> 5 (4 suppressed)

    # restart over the same checkpoint: re-offer xx plus new content ww
    c2 = spark.createDataFrame(
        [(6, "xx"), (7, "ww")], "doc_id long, text string"
    )
    _stage_flat(c2, drop, "chunk_002")
    got2 = run_to_parquet()
    assert got2 == {1, 3, 5, 7}  # ww emitted; xx stays suppressed, nothing re-emits


def test_stage_event_chunks_are_event_time_ordered(spark, tmp_path):
    """stage_event_chunks must cut chunks on EVENT TIME, not raw
    event_id ranges: for an events table whose ids are not ts-ordered
    (tools/make_star_tier.py hashes ts from event_id), id-range chunks
    interleave event time across micro-batches and watermarked streams
    silently drop the out-of-order rows. Chunk k's max ts must never
    exceed chunk k+1's min ts."""
    import glob
    import os

    from docling_nlp_api_spark.streaming.events import stage_event_chunks

    # ids deliberately anti-correlated with time
    rows = [
        (i, f"2024-01-{(28 - (i % 28)):02d} 12:00:00", i % 7, "view", 1.0, "{}")
        for i in range(200)
    ]
    src = str(tmp_path / "src")
    (
        spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
        )
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"),
                "user_id", "event_type", "value", "props")
        .write.parquet(os.path.join(src, "events.parquet"))
    )
    out = stage_event_chunks(spark, src, str(tmp_path / "drop"), n_chunks=4)
    bounds = []
    for f in sorted(glob.glob(os.path.join(out, "chunk_*.parquet"))):
        r = spark.read.parquet(f).agg(
            F.min("ts").alias("lo"), F.max("ts").alias("hi"), F.count("*").alias("n")
        ).first()
        assert r["n"] > 0
        bounds.append((r["lo"], r["hi"]))
    for (lo_a, hi_a), (lo_b, hi_b) in zip(bounds, bounds[1:]):
        assert hi_a <= lo_b, bounds
