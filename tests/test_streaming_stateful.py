"""Event-time watermark semantics and cross-batch stateful operators,
exercised through real streaming checkpoints (two availableNow passes
over a growing file source)."""

import glob
import os

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from platypus_ingestion_plugins_spark.streaming import replay
from platypus_ingestion_plugins_spark.streaming.stateful import sessionize_stream
from platypus_ingestion_plugins_spark.streaming.windows import (
    windowed_counts,
    with_event_time,
)

EV_SCHEMA = T.StructType(
    [T.StructField("k", T.StringType()), T.StructField("ts", T.LongType())]
)


def _drop(spark, src, rows):
    spark.createDataFrame([Row(k=k, ts=t) for k, t in rows], EV_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(src)


def _parquet_sink(transform, out):
    """replay.available_now sink: the transformed stream appended as
    parquet to ``out``."""
    return lambda stream: (
        transform(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
    )


def _run_stream(spark, src, ckpt, out, transform):
    stream = (
        spark.readStream.schema(EV_SCHEMA).option("maxFilesPerTrigger", 100).parquet(src)
    )
    q = (
        transform(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _read_out(spark, out):
    if not glob.glob(os.path.join(out, "*.parquet")):
        return []
    return spark.read.parquet(out).collect()


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode tumbling windows: a row arriving later than the
    watermark delay is discarded and never reopens a finalized window."""
    src, ckpt, out = (str(tmp_path / n) for n in ("src", "ckpt", "out"))

    def xf(stream):
        return windowed_counts(
            with_event_time(stream, "ts"),
            window_duration="10 seconds",
            watermark_delay="5 seconds",
        ).select(
            F.col("win.start").cast("long").alias("w_start"),
            "n_events",
        )

    # batch 1: windows [0,10) x3 rows, [10,20) x1, [20,30) x1 (max ts 25
    # -> watermark 20 after the batch; [0,10) and [10,20) finalize)
    _drop(spark, src, [("a", 1), ("a", 3), ("b", 9), ("a", 12), ("b", 25)])
    _run_stream(spark, src, ckpt, out, xf)
    first = {r.w_start: r.n_events for r in _read_out(spark, out)}
    assert first == {0: 3, 10: 1}

    # batch 2: ts=3 is later than the watermark (20) -> dropped; ts=41
    # advances the watermark to 36 -> [20,30) finalizes WITHOUT the late row
    _drop(spark, src, [("a", 3), ("a", 41)])
    _run_stream(spark, src, ckpt, out, xf)
    final = {r.w_start: r.n_events for r in _read_out(spark, out)}
    assert final[0] == 3, "late ts=3 must not reopen the finalized [0,10) window"
    assert final[20] == 1, "the [20,30) window must not contain the late row"


def test_session_counts_native_window_streaming(spark, tmp_path):
    """The built-in session_window variant (streaming/windows.
    session_counts): JVM-side merge state across micro-batches in
    append mode — a session left open by batch 1 is EXTENDED by a
    batch-2 event within the gap, and finalizes only once the
    watermark passes its close. Complement to sessionize_stream's
    row-level output; same gap semantics (exactly-gap merges)."""
    from platypus_ingestion_plugins_spark.streaming.windows import (
        session_counts,
        with_event_time,
    )

    src, ckpt, out = (str(tmp_path / n) for n in ("src", "ckpt", "out"))

    def xf(stream):
        return session_counts(
            with_event_time(stream, "ts"),
            gap="10 seconds",
            keys=("k",),
            watermark_delay="0 seconds",
        ).select(
            "k",
            F.unix_seconds("session.start").alias("s_start"),
            F.unix_seconds("session.end").alias("s_end"),
            "n_events",
        )

    # batch 1: a@1,a@5 open one session; b@100 drives the watermark to
    # 100, so a's [1, 15) finalizes in THIS batch; b's own stays open
    _drop(spark, src, [("a", 1), ("a", 5), ("b", 100)])
    _run_stream(spark, src, ckpt, out, xf)
    rows = {(r.k, r.s_start, r.s_end, r.n_events) for r in _read_out(spark, out)}
    assert ("a", 1, 15, 2) in rows, rows
    assert not any(r[0] == "b" for r in rows)

    # batch 2: b@110 is EXACTLY gap after b@100 -> merges (state carried
    # through the checkpoint); a@300 advances the watermark past its end
    _drop(spark, src, [("b", 110), ("a", 300)])
    _run_stream(spark, src, ckpt, out, xf)
    rows = {(r.k, r.s_start, r.s_end, r.n_events) for r in _read_out(spark, out)}
    assert ("b", 100, 120, 2) in rows, rows


def test_sessionize_stream_state_spans_batches(spark, tmp_path):
    """A session open at the end of batch 1 is closed by a batch-2 event
    after the gap — state carried through the checkpointed state store."""
    src, ckpt, out = (str(tmp_path / n) for n in ("src", "ckpt", "out"))

    def xf(stream):
        return sessionize_stream(stream, key_col="k", ts_col="ts", gap_s=10)

    # batch 1: key a has events 1,5 (one open session); key b has 100
    _drop(spark, src, [("a", 1), ("a", 5), ("b", 100)])
    _run_stream(spark, src, ckpt, out, xf)
    assert _read_out(spark, out) == []  # nothing closed yet

    # batch 2: a@50 exceeds the gap -> closes [1,5] (2 events) and opens
    # a new session; in-batch a@51,a@99 shows gap-split within a batch too
    _drop(spark, src, [("a", 50), ("a", 51), ("a", 99)])
    _run_stream(spark, src, ckpt, out, xf)
    rows = {(r.key, r.session_start, r.session_end, r.n_events) for r in _read_out(spark, out)}
    assert ("a", 1, 5, 2) in rows, rows

    # batch 3: another gap closes [50,51] as one session of 2 and [99,99]
    _drop(spark, src, [("a", 200)])
    _run_stream(spark, src, ckpt, out, xf)
    rows = {(r.key, r.session_start, r.session_end, r.n_events) for r in _read_out(spark, out)}
    assert ("a", 50, 51, 2) in rows
    assert ("a", 99, 99, 1) in rows
    # b's session (single event at 100) is still open -> not emitted
    assert not any(r[0] == "b" for r in rows)


def test_sessionize_state_eviction(spark, tmp_path):
    """Bounded state: an idle key's open session is emitted as closed
    and its state EVICTED once the event-time watermark passes
    session_end + gap (GroupStateTimeout.EventTimeTimeout). Without
    this, state grows with all-time key cardinality — the 100 TB
    scale-killer this operator had when it used NoTimeout."""
    src, ckpt, out = (str(tmp_path / n) for n in ("src", "ckpt", "out"))

    def xf(stream):
        # gap 10 s, 5 s allowed lateness: a's timeout lands at ts 20
        return sessionize_stream(stream, key_col="k", ts_col="ts", gap_s=10, late_s=5)

    _drop(spark, src, [("a", 10)])
    _run_stream(spark, src, ckpt, out, xf)  # watermark 5: nothing evictable

    _drop(spark, src, [("c", 100)])
    _run_stream(spark, src, ckpt, out, xf)  # watermark 95 > 20: a times out

    _drop(spark, src, [("d", 200)])
    _run_stream(spark, src, ckpt, out, xf)  # watermark 195 > 110: c times out

    rows = {(r.key, r.session_start, r.session_end, r.n_events)
            for r in _read_out(spark, out)}
    assert ("a", 10, 10, 1) in rows, rows   # emitted BY TIMEOUT, no closing event
    assert ("c", 100, 100, 1) in rows, rows
    # d's session is live (watermark 195 < its timeout 210) -> still open
    assert not any(k == "d" for k, *_ in rows), rows

    # a's state really was removed: a re-arrival starts a FRESH session
    # rather than extending evicted state (new session start 300, not 10)
    _drop(spark, src, [("a", 300), ("e", 400)])
    _run_stream(spark, src, ckpt, out, xf)
    rows = {(r.key, r.session_start, r.session_end, r.n_events)
            for r in _read_out(spark, out)}
    assert ("a", 300, 300, 1) in rows, rows


def test_stream_dedup_suppresses_across_batches(spark, tmp_path):
    """dropDuplicates state persists in the checkpoint: a batch-2 row
    duplicating a batch-1 row is never emitted."""
    src, ckpt, out = (str(tmp_path / n) for n in ("src", "ckpt", "out"))

    def xf(stream):
        return stream.select(F.sha2(F.col("k"), 256).alias("sha")).dropDuplicates(["sha"])

    _drop(spark, src, [("alpha", 1), ("beta", 2), ("alpha", 3)])
    _run_stream(spark, src, ckpt, out, xf)
    assert len(_read_out(spark, out)) == 2  # within-batch dedup
    _drop(spark, src, [("alpha", 4), ("gamma", 5)])
    _run_stream(spark, src, ckpt, out, xf)
    rows = _read_out(spark, out)
    assert len(rows) == 3  # alpha suppressed cross-batch; gamma new


def test_stream_dedup_within_watermark_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates within the watermark
    horizon are suppressed, and state older than the horizon is
    EVICTED — the bounded-state form an unbounded stream needs (plain
    dropDuplicates state grows forever). A duplicate arriving after
    its key's state was evicted is re-emitted: deduplication weakens to
    the horizon, state stays O(horizon), not O(stream)."""
    src, ckpt, out = (str(tmp_path / n) for n in ("src", "ckpt", "out"))

    def xf(stream):
        return (
            stream.select(
                F.col("k"), F.timestamp_seconds(F.col("ts")).alias("ets")
            )
            .withWatermark("ets", "10 seconds")
            .dropDuplicatesWithinWatermark(["k"])
        )

    # batch 1: dup of A within the horizon -> suppressed
    _drop(spark, src, [("A", 1), ("B", 2), ("A", 3)])
    _run_stream(spark, src, ckpt, out, xf)
    assert sorted(r.k for r in _read_out(spark, out)) == ["A", "B"]
    # batch 2 advances the watermark far beyond A's state; batch 3's A
    # arrives after eviction -> re-emitted
    _drop(spark, src, [("C", 100)])
    _run_stream(spark, src, ckpt, out, xf)
    _drop(spark, src, [("A", 101)])
    _run_stream(spark, src, ckpt, out, xf)
    ks = sorted(r.k for r in _read_out(spark, out))
    assert ks == ["A", "A", "B", "C"], ks


def test_stream_stream_interval_join(spark, tmp_path):
    """Two file streams joined on key within a 10 s event-time bound,
    through a real checkpoint over two drops; the final emitted set
    equals the batch interval join (nothing arrives late here, so the
    watermark only bounds state, never drops matches)."""
    from platypus_ingestion_plugins_spark.streaming.joins import interval_join

    la, lb = str(tmp_path / "imps"), str(tmp_path / "clicks")
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def drop(path, rows):
        spark.createDataFrame([Row(k=k, ts=t) for k, t in rows], EV_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(path)

    def run():
        def src(path, tscol):
            s = (
                spark.readStream.schema(EV_SCHEMA)
                .option("maxFilesPerTrigger", 100)
                .parquet(path)
            )
            return s.select("k", F.timestamp_seconds(F.col("ts")).alias(tscol))

        j = interval_join(
            src(la, "imp_ts"), src(lb, "click_ts"), key="k",
            left_ts="imp_ts", right_ts="click_ts", max_delay="10 seconds",
        ).select("k", "imp_ts", "click_ts")
        q = (
            j.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # drop 1: imp A@10 clicks A@15 (match), B@10 no click yet
    drop(la, [("A", 10), ("B", 10)])
    drop(lb, [("A", 15)])
    run()
    # drop 2: click B@19 (within 10s of imp B@10 -> cross-DROP match),
    # click A@50 (outside the interval -> no match)
    drop(lb, [("B", 19), ("A", 50)])
    run()
    got = {(r.k, int(r.imp_ts.timestamp()), int(r.click_ts.timestamp()))
           for r in _read_out(spark, out)}
    assert got == {("A", 10, 15), ("B", 10, 19)}


def test_sessionize_late_older_event_extends_session_start(spark, tmp_path):
    """An allowed-late event arriving in a later batch with a timestamp
    OLDER than the open session's first event must extend the session's
    span on both ends — the emitted session_start may never postdate a
    member event."""
    src, ckpt, out = (str(tmp_path / n) for n in ("src", "ckpt", "out"))

    def xf(stream):
        return sessionize_stream(stream, key_col="k", ts_col="ts", gap_s=10)

    # batch 1: open session (100, 100, 1)
    _drop(spark, src, [("a", 100)])
    _run_stream(spark, src, ckpt, out, xf)
    # batch 2: late in-gap event at 95 — same session, older timestamp
    _drop(spark, src, [("a", 95)])
    _run_stream(spark, src, ckpt, out, xf)
    # batch 3: a gap closes the session; it must span [95, 100] with 2 events
    _drop(spark, src, [("a", 500)])
    _run_stream(spark, src, ckpt, out, xf)
    rows = {(r.key, r.session_start, r.session_end, r.n_events) for r in _read_out(spark, out)}
    assert ("a", 95, 100, 2) in rows, rows


def test_sessionize_late_event_beyond_gap_splits_session(spark, tmp_path):
    """An allowed-late event older than the open session's start by MORE
    than gap_s must NOT merge into it (that would bridge a gap the batch
    engine keeps): it closes as its own session, and the open session's
    span is untouched."""
    src, ckpt, out = (str(tmp_path / n) for n in ("src", "ckpt", "out"))

    def xf(stream):
        return sessionize_stream(stream, key_col="k", ts_col="ts", gap_s=10)

    # batch 1: open session (100, 100, 1)
    _drop(spark, src, [("a", 100)])
    _run_stream(spark, src, ckpt, out, xf)
    # batch 2: two late events 45 s before the open session, chained to
    # each other -> one immediately-closed old session [50, 55]
    _drop(spark, src, [("a", 50), ("a", 55)])
    _run_stream(spark, src, ckpt, out, xf)
    rows = {(r.key, r.session_start, r.session_end, r.n_events) for r in _read_out(spark, out)}
    assert ("a", 50, 55, 2) in rows, rows
    # batch 3: a gap closes the open session — still exactly [100, 100]
    _drop(spark, src, [("a", 500)])
    _run_stream(spark, src, ckpt, out, xf)
    rows = {(r.key, r.session_start, r.session_end, r.n_events) for r in _read_out(spark, out)}
    assert ("a", 100, 100, 1) in rows, rows
    assert not any(r[1] == 50 and r[2] != 55 for r in rows), rows


def test_sessionize_late_events_bridge_to_open_session(spark, tmp_path):
    """The chain case the fixed-start classification got wrong: gap=10,
    open session (100); late batch [85, 92]. 92 is within gap of 100
    and extends the edge to 92; 85 is within gap of 92 — the batch
    engine's merged walk yields ONE session 85..100. No spurious
    (85,85,1) session may be emitted."""
    src, ckpt, out = (str(tmp_path / n) for n in ("src", "ckpt", "out"))

    def xf(stream):
        return sessionize_stream(stream, key_col="k", ts_col="ts", gap_s=10)

    _drop(spark, src, [("a", 100)])
    _run_stream(spark, src, ckpt, out, xf)
    _drop(spark, src, [("a", 85), ("a", 92)])
    _run_stream(spark, src, ckpt, out, xf)
    _drop(spark, src, [("a", 500)])
    _run_stream(spark, src, ckpt, out, xf)
    rows = {(r.key, r.session_start, r.session_end, r.n_events) for r in _read_out(spark, out)}
    assert ("a", 85, 100, 3) in rows, rows
    assert not any(r[1] == 85 and r[2] == 85 for r in rows), rows


FUNNEL_EV_SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("ts", T.LongType()),
        T.StructField("et", T.StringType()),
    ]
)


def _funnel_drop(spark, src, rows):
    spark.createDataFrame(
        [Row(k=k, ts=t, et=e) for k, t, e in rows], FUNNEL_EV_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)


def _run_funnel_stream(spark, src, ckpt, out, **kw):
    from platypus_ingestion_plugins_spark.streaming.stateful import (
        funnel_stream,
    )

    stream = (
        spark.readStream.schema(FUNNEL_EV_SCHEMA)
        .option("maxFilesPerTrigger", 100)
        .parquet(src)
    )
    q = (
        funnel_stream(
            stream, "k", "ts", "et", ["view", "click", "buy"],
            late_s=10**9, **kw,
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_funnel_stream_spans_batches(spark, tmp_path):
    """NEW r13: streaming funnel. A chain completed ACROSS
    micro-batches must emit the batch engine's greedy completion
    times, including the pending-candidate case where a later step's
    event arrives BEFORE its predecessor completes (boundary
    equality); out-of-order completions stall exactly like batch."""
    src, ckpt, out = (str(tmp_path / n) for n in ("src", "ckpt", "out"))
    # u1 completes across drops; u2 click-before-view stalls at view;
    # u3: click@10 arrives in drop 1, view@10 only in drop 2 — the
    # pending list must keep the click usable (ts == t1 boundary)
    _funnel_drop(spark, src, [
        ("u1", 100, "view"), ("u1", 150, "click"),
        ("u2", 50, "click"),
        ("u3", 10, "click"),
    ])
    _run_funnel_stream(spark, src, ckpt, out)
    _funnel_drop(spark, src, [
        ("u1", 200, "buy"),
        ("u2", 60, "view"),
        ("u3", 10, "view"),
    ])
    _run_funnel_stream(spark, src, ckpt, out)
    got = {
        (r["key"], r["step"]): (r["step_idx"], r["ts"])
        for r in _read_out(spark, out)
    }
    assert got == {
        ("u1", "view"): (1, 100),
        ("u1", "click"): (2, 150),
        ("u1", "buy"): (3, 200),
        ("u2", "view"): (1, 60),          # click@50 precedes view: stalls
        ("u3", "view"): (1, 10),
        ("u3", "click"): (2, 10),         # pending boundary-equality event
    }


def test_funnel_stream_no_reemission_after_conversion(spark, tmp_path):
    """Regression (caught by the oracle): a fully-converted user's
    LATER events must not re-run the chain and duplicate emissions —
    the completed-times tombstone has to survive in the state store."""
    src, ckpt, out = (str(tmp_path / n) for n in ("src", "ckpt", "out"))
    _funnel_drop(spark, src, [
        ("u1", 100, "view"), ("u1", 150, "click"), ("u1", 200, "buy"),
    ])
    _run_funnel_stream(spark, src, ckpt, out)
    _funnel_drop(spark, src, [
        ("u1", 300, "view"), ("u1", 350, "click"), ("u1", 400, "buy"),
    ])
    _run_funnel_stream(spark, src, ckpt, out)
    rows = _read_out(spark, out)
    assert len(rows) == 3
    assert {(r["step"], r["ts"]) for r in rows} == {
        ("view", 100), ("click", 150), ("buy", 200),
    }


def test_funnel_stream_deadline(spark, tmp_path):
    """The within-deadline variant: an out-of-window step event never
    fires, a later in-window one does."""
    src, ckpt, out = (str(tmp_path / n) for n in ("src", "ckpt", "out"))
    _funnel_drop(spark, src, [
        ("u1", 100, "view"), ("u1", 500, "click"),   # 400s > 240s window
        ("u2", 100, "view"), ("u2", 300, "click"),   # in window
    ])
    _run_funnel_stream(spark, src, ckpt, out, within=240)
    _funnel_drop(spark, src, [
        ("u2", 540, "buy"),                           # 240s after click: inclusive edge
    ])
    _run_funnel_stream(spark, src, ckpt, out, within=240)
    got = {(r["key"], r["step"]) for r in _read_out(spark, out)}
    assert got == {
        ("u1", "view"), ("u2", "view"), ("u2", "click"), ("u2", "buy"),
    }


def test_funnel_stream_hot_user_state_bounded(spark, tmp_path):
    """NEW r15 (VERDICT r14 task #9): a hot user replaying one step
    tens of thousands of times must leave at most ``max_pending``
    pending candidates in the state store — asserted by READING the
    store via the state data source — and the capped funnel must
    still complete with the exact greedy times (the kept-smallest
    rule preserves the minimum valid candidate)."""
    src, ckpt, out = (str(tmp_path / n) for n in ("src", "ckpt", "out"))
    n_hot = 20_000
    # u_bot: no view yet, n_hot clicks -> pend[click] is the hot list
    _funnel_drop(
        spark, src,
        [("u_bot", 1_000 + i, "click") for i in range(n_hot)],
    )
    _run_funnel_stream(spark, src, ckpt, out, max_pending=16)
    state = (
        spark.read.format("statestore")
        .load(ckpt)
        .selectExpr(
            "key.key AS k",
            "aggregate(value.groupState.pend, 0,"
            " (acc, p) -> acc + size(p)) AS n_pend",
        )
        .collect()
    )
    pend_by_key = {r["k"]: r["n_pend"] for r in state}
    assert pend_by_key["u_bot"] <= 16 * 3, pend_by_key
    # the cap kept the SMALLEST candidates, so the greedy completion
    # time (min candidate >= view time) is exact after view arrives
    _funnel_drop(spark, src, [("u_bot", 5, "view")])
    _run_funnel_stream(spark, src, ckpt, out, max_pending=16)
    got = {
        (r["step"], r["ts"]) for r in _read_out(spark, out)
        if r["key"] == "u_bot"
    }
    assert ("view", 5) in got and ("click", 1_000) in got, got
    import pytest as _pt

    with _pt.raises(ValueError, match="max_pending"):
        from platypus_ingestion_plugins_spark.streaming.stateful import (
            funnel_stream,
        )

        funnel_stream(
            spark.readStream.schema(FUNNEL_EV_SCHEMA).parquet(src),
            "k", "ts", "et", ["view", "click"], max_pending=0,
        )


def test_two_drop_single_run_equals_two_runs(spark, tmp_path):
    """The r17 drop shape (one availableNow query, two micro-batches,
    no-data batches off — streaming.replay.replay_two_drops) must
    reproduce the two-run replay byte for byte: the only thing that
    changed is how many query starts the replay pays, not what crosses
    the state store."""
    rows_lo = [("a", 10), ("a", 100), ("b", 10)]
    rows_hi = [("a", 5000), ("b", 20), ("b", 9000)]

    def build(df_rows):
        return spark.createDataFrame(
            [Row(k=k, t=t) for k, t in df_rows], "k string, t long"
        )

    def xform(stream):
        return sessionize_stream(
            stream, key_col="k", ts_col="t", gap_s=30, late_s=10**9
        )

    # reference: the pre-r17 two-run shape
    src, ckpt, out = (str(tmp_path / n) for n in ("s1", "c1", "o1"))
    build(rows_lo).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string, t long").parquet(src)
    for drop in (None, rows_hi):
        if drop is not None:
            build(drop).coalesce(1).write.mode("append").parquet(src)
        q = (
            xform(spark.readStream.schema("k string, t long").parquet(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    expected = sorted(tuple(r) for r in spark.read.parquet(out).collect())

    # the r17 helper, single-run branch (1 lo file, 1 hi file)
    src2, ckpt2, out2 = (str(tmp_path / n) for n in ("s2", "c2", "o2"))
    prev = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        replay.replay_two_drops(
            spark, build(rows_lo).coalesce(1), build(rows_hi).coalesce(1),
            src2, ckpt2, replay.available_now(
                spark, src2, ckpt2, _parquet_sink(xform, out2)),
        )
    finally:
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev)
    got = sorted(tuple(r) for r in spark.read.parquet(out2).collect())
    assert got == expected and len(got) > 0, (got, expected)
    # and the checkpoint proves TWO micro-batches (state crossed a
    # real batch boundary inside the single run)
    import os as _os
    commits = [
        n for n in _os.listdir(_os.path.join(ckpt2, "commits"))
        if n.isdigit()
    ]
    assert len(commits) == 2, commits


def test_two_drop_fallback_when_hi_fragments(spark, tmp_path):
    """If the second drop has MORE files than the first, single-run
    batching would split it mid-drop — the helper must fall back to
    the two-run shape and still produce the identical result."""
    rows_lo = [("a", 10), ("a", 100)]
    rows_hi = [("a", 5000), ("a", 9000), ("a", 20000), ("a", 40000)]

    def xform(stream):
        return sessionize_stream(
            stream, key_col="k", ts_col="t", gap_s=30, late_s=10**9
        )

    lo = spark.createDataFrame(
        [Row(k=k, t=t) for k, t in rows_lo], "k string, t long"
    ).coalesce(1)
    hi = spark.createDataFrame(
        [Row(k=k, t=t) for k, t in rows_hi], "k string, t long"
    ).repartition(4)  # 4 files > lo's 1 -> fallback branch
    src, ckpt, out = (str(tmp_path / n) for n in ("s", "c", "o"))
    replay.replay_two_drops(
        spark, lo, hi, src, ckpt,
        replay.available_now(spark, src, ckpt, _parquet_sink(xform, out)),
    )
    got = sorted(
        (r["key"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    )
    # every session but the last (still open) is emitted closed:
    # events 10,100 | 5000, 9000, 20000, 40000 with gap 30
    assert got == [
        ("a", 10, 10, 1), ("a", 100, 100, 1), ("a", 5000, 5000, 1),
        ("a", 9000, 9000, 1), ("a", 20000, 20000, 1),
    ], got
