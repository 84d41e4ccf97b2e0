"""Structured Streaming tests (SURVEY.md §7 phase 6).

Two layers:

1. **Batch-equivalence**: every windowed aggregation runs as a live
   stream (file source → availableNow → memory sink) and must produce
   exactly the batch query's result. This is the correctness contract
   for operators whose streaming semantics DuckDB can't oracle.
2. **Multi-batch semantics**: watermark late-data drop,
   dropDuplicatesWithinWatermark, and custom stateful progression are
   only observable across micro-batches — driven here with one file
   per micro-batch (maxFilesPerTrigger=1, mtime-ordered).
"""

from __future__ import annotations

import ast
import json
import os
import time
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_wordcounter_spark.registry import all_queries
from mapreduce_wordcounter_spark.session import ensure_utc
from mapreduce_wordcounter_spark.streaming.stateful import user_running_counts
from mapreduce_wordcounter_spark.streaming.windows import events_stream
from tests.conftest import SF_ORACLE

_QUERIES = all_queries()
_PKG = Path(__file__).resolve().parent.parent / "mapreduce_wordcounter_spark"

_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _canon(df):
    pdf = df.toPandas()
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(
        drop=True
    )


def _drain(stream_df, *, output_mode: str):
    """Run a streaming DataFrame to completion into a memory sink and
    return the sink table."""
    name = "t_" + uuid.uuid4().hex[:8]
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return stream_df.sparkSession.table(name)


def _write_batches(spark, tmp_path, batches):
    """One JSON-lines file per micro-batch, mtime-ordered so the file
    source replays them in sequence with maxFilesPerTrigger=1."""
    d = tmp_path / "stream_src"
    d.mkdir()
    t0 = time.time() - len(batches) * 10
    for i, rows in enumerate(batches):
        p = d / f"batch_{i}.json"
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (t0 + i * 10, t0 + i * 10))
    return str(d)


def _event_stream_from_json(spark, path):
    ensure_utc(spark)
    return (
        spark.readStream.schema(_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(path)
    )


def _ev(event_id, ts, user_id=1, event_type="click", value=1.0):
    return {
        "event_id": event_id,
        "ts": ts,
        "user_id": user_id,
        "event_type": event_type,
        "value": value,
    }


# ---------------------------------------------------------------------------
# Layer 1: batch-equivalence of the windowed aggregations
# ---------------------------------------------------------------------------


def test_stream_tumbling_equals_batch(spark):
    live = _QUERIES["stream_tumbling_live"](spark, SF_ORACLE)
    batch = _QUERIES["ev_tumbling_hourly"](spark, SF_ORACLE)
    assert _canon(live).equals(_canon(batch))


def test_stream_sliding_equals_batch(spark):
    agg = (
        events_stream(spark, SF_ORACLE)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
        )
    )
    live = _drain(agg, output_mode="complete")
    batch = _QUERIES["ev_sliding_1h_30m"](spark, SF_ORACLE).select(
        "window_start", "n"
    )
    assert _canon(live).equals(_canon(batch))


def test_stream_session_equals_batch(spark):
    agg = (
        events_stream(spark, SF_ORACLE)
        .groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )
    live = _drain(agg, output_mode="complete")
    batch = _QUERIES["ev_session_windows"](spark, SF_ORACLE)
    assert _canon(live).equals(_canon(batch))


def test_stream_stateful_equals_batch(spark):
    live = _QUERIES["stream_stateful_user_counts"](spark, SF_ORACLE)
    batch = (
        spark.read.parquet(f"{SF_ORACLE}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )
    assert _canon(live).equals(_canon(batch))


# ---------------------------------------------------------------------------
# State width: derived from the streamed rows, never from the result
# ---------------------------------------------------------------------------


def test_state_width_follows_input_rows(spark):
    """One state partition up to ROWS_PER_STATE_TASK rows, then one more
    per ROWS_PER_STATE_TASK, never fewer for more rows, never more than
    the cores."""
    from mapreduce_wordcounter_spark.streaming.windows import ROWS_PER_STATE_TASK
    from mapreduce_wordcounter_spark.tables import task_width

    p = spark.sparkContext.defaultParallelism

    def width(rows):
        return task_width(spark, rows, ROWS_PER_STATE_TASK)

    assert [width(r) for r in (0, 1, ROWS_PER_STATE_TASK)] == [1, 1, 1]
    assert width(ROWS_PER_STATE_TASK + 1) == min(2, p)
    rows = range(0, (p + 2) * ROWS_PER_STATE_TASK, 997)
    widths = [width(r) for r in rows]
    assert widths == sorted(widths)
    assert widths[-1] == p
    assert width(10**12) == p


@pytest.mark.parametrize("prior_ckpt", [None, "ckpt_base"])
def test_drain_restores_conf(spark, tmp_path, prior_ckpt):
    """A drain runs at its state width and puts the session width back
    after, also when the query fails. Its checkpoint is the writer's
    option: the session checkpoint conf stays as it was, unset or set."""
    from mapreduce_wordcounter_spark.streaming.windows import drain

    sp, ck = "spark.sql.shuffle.partitions", "spark.sql.streaming.checkpointLocation"
    if prior_ckpt is not None:
        prior_ckpt = str(tmp_path / prior_ckpt)
        spark.conf.set(ck, prior_ckpt)
    prior_sp = spark.conf.get(sp)
    p = spark.sparkContext.defaultParallelism
    src = _write_batches(spark, tmp_path, [[_ev(1, "2024-01-01 10:00:00")]])
    seen = []

    def record(df, epoch_id):
        seen.append((spark.conf.get(sp), spark.conf.get(ck, None)))

    def fail(df, epoch_id):
        record(df, epoch_id)
        raise RuntimeError("drain failed")

    try:
        own_ckpt = str(tmp_path / "own_ckpt")
        drain(
            _event_stream_from_json(spark, src), 1, batch=record, checkpoint=own_ckpt
        )
        assert seen == [("1", prior_ckpt)]
        assert "commits" in os.listdir(own_ckpt)
        assert spark.conf.get(sp) == prior_sp
        assert spark.conf.get(ck, None) == prior_ckpt

        with pytest.raises(Exception, match="drain failed"):
            drain(_event_stream_from_json(spark, src), 10**12, batch=fail)
        assert seen[-1] == (str(p), prior_ckpt)
        assert spark.conf.get(sp) == prior_sp
        assert spark.conf.get(ck, None) == prior_ckpt
    finally:
        spark.conf.unset(ck)


def test_polled_drain_surfaces_query_failure(spark, tmp_path):
    """A ``done=`` drain whose query dies raises the query's own error
    at once instead of polling on to the timeout."""
    from mapreduce_wordcounter_spark.streaming.windows import drain

    src = _write_batches(spark, tmp_path, [[_ev(1, "2024-01-01 10:00:00")]])

    def fail(df, epoch_id):
        raise RuntimeError("micro-batch failed")

    t0 = time.monotonic()
    with pytest.raises(Exception, match="micro-batch failed") as err:
        drain(
            _event_stream_from_json(spark, src),
            None,
            batch=fail,
            done=lambda q: False,
        )
    assert not isinstance(err.value, TimeoutError)
    assert time.monotonic() - t0 < 30


def test_stateful_result_independent_of_state_width(spark):
    """The same stateful drain at one state partition and at one per
    core: both equal the batch GROUP BY, so the width policy can only
    move cost, never the result. The width is read from the query's
    progress events."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    from mapreduce_wordcounter_spark.streaming.windows import drain

    widths, ended = [], threading.Semaphore(0)

    class Widths(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            ops = event.progress.stateOperators
            widths.append([op.numShufflePartitions for op in ops])

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            ended.release()

    batch = (
        spark.read.parquet(f"{SF_ORACLE}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )
    p = spark.sparkContext.defaultParallelism
    listener = Widths()
    spark.streams.addListener(listener)
    try:
        for rows, width in ((1, 1), (10**12, p)):
            widths.clear()
            out = user_running_counts(events_stream(spark, SF_ORACLE))
            live = drain(out, rows, "update")
            # listener events arrive in order: termination comes last
            assert ended.acquire(timeout=60)
            assert widths and all(w == [width] for w in widths), widths
            live = live.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
            assert _canon(live).equals(_canon(batch))
    finally:
        spark.streams.removeListener(listener)


_STREAM_CALLS = ("writeStream", "trigger", "awaitTermination")


def test_streams_run_only_through_drain():
    """Only streaming.windows.drain starts, triggers or waits on a
    streaming query, and no module names the session checkpoint conf:
    checkpoints go on the writer. The scan must find drain's own calls."""
    bad, in_drain = [], set()
    for path in sorted(_PKG.rglob("*.py")):
        text, rel = path.read_text(), path.relative_to(_PKG)
        if "spark.sql.streaming.checkpointLocation" in text:
            bad.append(f"{rel}: spark.sql.streaming.checkpointLocation")
        tree = ast.parse(text)
        own = set()
        if rel == Path("streaming/windows.py"):
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "drain":
                    own = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr in _STREAM_CALLS:
                if id(node) in own:
                    in_drain.add(node.attr)
                else:
                    bad.append(f"{rel}:{node.lineno}: .{node.attr}")
    assert in_drain == set(_STREAM_CALLS)
    assert not bad, bad


# ---------------------------------------------------------------------------
# Layer 2: multi-batch semantics (watermarks, streaming dedup, state)
# ---------------------------------------------------------------------------


def test_watermark_drops_late_event(spark, tmp_path):
    """Append-mode tumbling agg with a 10-minute watermark: an event
    arriving after the watermark sealed its window is dropped.

    Subtlety pinned here (empirically verified): the watermark
    *operative for late-row filtering* in micro-batch N is the one
    committed after batch N-1 — which was computed from data up through
    batch N-2. A late row landing exactly one batch after the
    watermark-advancing event is therefore still merged; one arriving
    two batches after is dropped. The late event below (batch 2) sits
    two batches after the 11:30 event (batch 0) that sealed its window.
    """
    src = _write_batches(
        spark,
        tmp_path,
        [
            # batch 0: 10:00-window events + 11:30 (→ wm 11:20, seals
            # the 10:00 window once committed)
            [
                _ev(1, "2024-01-01 10:00:00"),
                _ev(2, "2024-01-01 10:05:00"),
                _ev(3, "2024-01-01 11:30:00"),
            ],
            # batch 1: advances wm toward 12:00 (seals 11:00 window)
            [_ev(5, "2024-01-01 12:10:00")],
            # batch 2: event_id=4 is late into the sealed 10:00 window
            # → dropped by the watermark; 12:20 keeps the stream moving.
            [
                _ev(4, "2024-01-01 10:02:00"),
                _ev(6, "2024-01-01 12:20:00"),
            ],
        ],
    )
    agg = (
        _event_stream_from_json(spark, src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.date_format("w.start", "HH:mm").alias("ws"), "n")
    )
    got = {r["ws"]: r["n"] for r in _drain(agg, output_mode="append").collect()}
    # 10:00 window: 2 (late event_id=4 dropped); 11:00 window: 1;
    # 12:00 window: unsealed at end of input, never emitted in append.
    assert got == {"10:00": 2, "11:00": 1}


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Streaming dedup: a duplicate event_id replayed in a later
    micro-batch (within the watermark) is suppressed."""
    src = _write_batches(
        spark,
        tmp_path,
        [
            [_ev(1, "2024-01-01 10:00:00"), _ev(2, "2024-01-01 10:01:00")],
            [_ev(2, "2024-01-01 10:01:00"), _ev(3, "2024-01-01 10:02:00")],
        ],
    )
    dedup = (
        _event_stream_from_json(spark, src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    got = sorted(r["event_id"] for r in _drain(dedup, output_mode="append").collect())
    assert got == [1, 2, 3]


def test_checkpoint_recovery_preserves_dedup_state(spark, tmp_path):
    """Exactly-once across restarts: a dedup query checkpoints its
    state; a *new* query started from the same checkpoint must suppress
    a duplicate that was first seen before the restart — state and
    source offsets both recover."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def write_file(name, rows):
        p = src / name
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def run_once():
        stream = (
            spark.readStream.schema(_EVENT_SCHEMA)
            .json(str(src))
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id")
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()

    ensure_utc(spark)
    write_file("b0.json", [_ev(1, "2024-01-01 10:00:00"), _ev(2, "2024-01-01 10:01:00")])
    run_once()  # first run: sees 1, 2

    # restart with new data: 2 is a replay from BEFORE the restart
    write_file("b1.json", [_ev(2, "2024-01-01 10:01:00"), _ev(3, "2024-01-01 10:02:00")])
    run_once()  # recovered state must still remember event 2

    got = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3]


def test_stateful_running_count_progression(spark, tmp_path):
    """The applyInPandasWithState operator emits a monotone cumulative
    count per key per micro-batch — observable only across batches."""
    src = _write_batches(
        spark,
        tmp_path,
        [
            [_ev(1, "2024-01-01 10:00:00", user_id=7)],
            [
                _ev(2, "2024-01-01 10:01:00", user_id=7),
                _ev(3, "2024-01-01 10:01:30", user_id=8),
            ],
            [_ev(4, "2024-01-01 10:02:00", user_id=7)],
        ],
    )
    out = user_running_counts(_event_stream_from_json(spark, src))
    rows = _drain(out, output_mode="update").collect()
    by_user: dict[int, list[int]] = {}
    for r in sorted(rows, key=lambda r: r["n_events"]):
        by_user.setdefault(r["user_id"], []).append(r["n_events"])
    assert by_user == {7: [1, 2, 3], 8: [1]}


def test_user_profile_state_operator_equivalence(spark):
    """The per-user profile operator (running count + distinct event
    types) in its two state-API forms. The applyInPandasWithState twin
    is the TESTED path in every environment: its drained result must
    equal the batch GROUP BY. transformWithState needs google.protobuf
    (pyspark's state-server protocol), which this container lacks, so
    that form must register itself ONLY where it can run — and where
    it can, it must agree with the twin. No skip: the semantics are
    fully pinned through the twin regardless of the environment."""
    from mapreduce_wordcounter_spark.streaming.stateful import (
        _tws_available,
        stream_apws_user_profile,
        stream_tws_user_profile,
    )
    from mapreduce_wordcounter_spark.tables import load_table
    from tests.conftest import SF_SMOKE

    registered = "stream_tws_user_profile" in all_queries()
    assert registered == _tws_available()

    got = {
        (r["user_id"], r["n_events"], r["n_types"])
        for r in stream_apws_user_profile(spark, str(SF_SMOKE)).collect()
    }
    exp = {
        (r["user_id"], r["n_events"], r["n_types"])
        for r in load_table(spark, str(SF_SMOKE), "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .collect()
    }
    assert got == exp

    if _tws_available():  # extra cross-check where protobuf exists
        tws = {
            (r["user_id"], r["n_events"], r["n_types"])
            for r in stream_tws_user_profile(spark, str(SF_SMOKE)).collect()
        }
        assert tws == got


def test_user_profile_type_set_progression(spark, tmp_path):
    """Cross-batch state of the profile twin's distinct-type SET:
    a repeated type must not grow n_types, a new type must — only
    observable over multiple micro-batches."""
    from mapreduce_wordcounter_spark.streaming.stateful import (
        user_profile_apws,
    )

    src = _write_batches(
        spark,
        tmp_path,
        [
            [_ev(1, "2024-01-01 10:00:00", user_id=7, event_type="click")],
            [_ev(2, "2024-01-01 10:01:00", user_id=7, event_type="click")],
            [_ev(3, "2024-01-01 10:02:00", user_id=7, event_type="purchase")],
        ],
    )
    out = user_profile_apws(_event_stream_from_json(spark, src))
    rows = _drain(out, output_mode="update").collect()
    prog = sorted((r["n_events"], r["n_types"]) for r in rows)
    assert prog == [(1, 1), (2, 1), (3, 2)]


def test_user_profile_empty_string_type_survives_batches(spark, tmp_path):
    """State-encoding round-trip for degenerate values: an
    empty-string event_type is still one distinct type, and must not
    vanish when the state is serialized between micro-batches (a
    separator-joined encoding maps {''} to '' which decodes to the
    empty set — n_types would regress 1 -> 0)."""
    from mapreduce_wordcounter_spark.streaming.stateful import (
        user_profile_apws,
    )

    src = _write_batches(
        spark,
        tmp_path,
        [
            [_ev(1, "2024-01-01 10:00:00", user_id=7, event_type="")],
            [_ev(2, "2024-01-01 10:01:00", user_id=7, event_type="")],
            [_ev(3, "2024-01-01 10:02:00", user_id=7, event_type="click")],
        ],
    )
    out = user_profile_apws(_event_stream_from_json(spark, src))
    rows = _drain(out, output_mode="update").collect()
    prog = sorted((r["n_events"], r["n_types"]) for r in rows)
    assert prog == [(1, 1), (2, 1), (3, 2)]


def test_stream_stream_join_buffers_then_evicts(spark, tmp_path):
    """Stream-stream join semantics observable only across batches:
    (1) a click buffered in batch 0 joins a purchase arriving in batch
    1 (cross-batch state), and (2) once the watermark passes, the old
    click is evicted so a much-later matching purchase finds nothing.
    Watermark 1h + 30min range bound => clicks older than wm-30min are
    droppable state. The operative watermark lags one batch behind the
    committed one (see test_watermark_drops_late_rows), hence the
    spacer batch before the late purchase."""
    src = _write_batches(
        spark,
        tmp_path,
        [
            [_ev(1, "2024-01-01 10:00:00", user_id=1, event_type="click")],
            # the global watermark is the MIN across BOTH sides'
            # watermark nodes, so advancing only the click side would
            # pin the join watermark at the purchase side's max - 1h;
            # every advancing batch therefore carries both types
            # (users 2/99 never pair: no click/purchase of the same
            # user within 30 minutes).
            [
                _ev(2, "2024-01-01 10:10:00", user_id=1, event_type="purchase"),
                _ev(3, "2024-01-01 20:00:00", user_id=2, event_type="click"),
                _ev(7, "2024-01-01 20:00:00", user_id=99, event_type="purchase"),
            ],
            [
                _ev(4, "2024-01-01 20:05:00", user_id=2, event_type="click"),
                _ev(8, "2024-01-01 20:05:00", user_id=99, event_type="purchase"),
            ],
            [
                _ev(6, "2024-01-01 20:10:00", user_id=2, event_type="click"),
                _ev(9, "2024-01-01 20:10:00", user_id=99, event_type="purchase"),
            ],
            # by now the operative watermark (19:00 from batch 1,
            # committed with the one-batch lag) has evicted the 10:00
            # click (< 18:30 threshold) and filters the 10:15 purchase
            # as late input
            [_ev(5, "2024-01-01 10:15:00", user_id=1, event_type="purchase")],
        ],
    )
    ev = _event_stream_from_json(spark, src)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("click_id", "purchase_id")
    rows = {(r["click_id"], r["purchase_id"]) for r in _drain(joined, output_mode="append").collect()}
    assert rows == {(1, 2)}

def test_foreach_batch_upsert_multi_epoch(spark, tmp_path):
    """foreachBatch upsert sink: three micro-batches hit the same
    window key with growing counts; the target accumulates one
    epoch-stamped row per update, and latest-epoch-per-key resolution
    must equal the batch aggregate over all events (later epochs
    overwrite earlier — the MERGE semantic)."""
    from mapreduce_wordcounter_spark.streaming.windows import foreach_batch_upsert

    src = _write_batches(
        spark,
        tmp_path,
        [
            [_ev(1, "2024-01-01 10:05:00", value=1.0)],
            [_ev(2, "2024-01-01 10:15:00", value=2.0)],  # same 10:00 window
            [_ev(3, "2024-01-01 11:05:00", value=4.0)],  # new 11:00 window
        ],
    )
    agg = (
        _event_stream_from_json(spark, src)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.date_format("w.start", "HH:mm").alias("ws"), "n", "sum_value")
    )
    target = str(tmp_path / "upsert_target")
    final = foreach_batch_upsert(spark, agg, target, 3, key_cols=["ws"])
    got = {r["ws"]: (r["n"], r["sum_value"]) for r in final.collect()}
    assert got == {"10:00": (2, 3.0), "11:00": (1, 4.0)}
    # The raw target must show the upsert history: the 10:00 key was
    # written in two different epochs (update mode re-emits changed keys).
    raw = spark.read.parquet(target).toPandas()
    assert raw[raw.ws == "10:00"].epoch.nunique() == 2


def test_stream_foreach_batch_upsert_equals_batch(spark):
    live = _QUERIES["stream_foreach_batch_upsert"](spark, SF_ORACLE)
    batch = _QUERIES["ev_tumbling_hourly"](spark, SF_ORACLE)
    assert _canon(live).equals(_canon(batch))


def test_stream_wc_counts_equals_batch(spark):
    live = _QUERIES["stream_wc_counts"](spark, SF_ORACLE)
    batch = _QUERIES["wc_counts"](spark, SF_ORACLE)
    assert _canon(live).equals(_canon(batch))


def test_rocksdb_state_store_equals_batch(spark, tmp_path):
    """The 100 TB state-store posture, exercised: run the tumbling
    aggregation with the RocksDB state store provider (the session flag
    SPARK_GRAFT_ROCKSDB wires the same conf at build time) and require
    (a) batch equivalence and (b) evidence RocksDB actually held the
    state (its checkpoint layout: per-partition .zip snapshots, vs the
    default provider's .delta files)."""
    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    before = spark.conf.get(provider_conf, None)
    spark.conf.set(provider_conf, rocksdb)
    try:
        agg = (
            events_stream(spark, SF_ORACLE)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                "event_type",
                "n",
            )
        )
        name = "rocksdb_eq_" + uuid.uuid4().hex[:8]
        ckpt = str(tmp_path / "ckpt")
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        live = spark.table(name).toPandas()
    finally:
        if before is None:
            spark.conf.unset(provider_conf)
        else:
            spark.conf.set(provider_conf, before)
    batch = (
        _QUERIES["ev_tumbling_hourly"](spark, SF_ORACLE)
        .select("window_start", "event_type", "n")
        .toPandas()
    )
    key = ["window_start", "event_type"]
    assert (
        live.sort_values(key).reset_index(drop=True)[["window_start", "event_type", "n"]]
        .equals(batch.sort_values(key).reset_index(drop=True))
    )
    state_files = [
        os.path.join(r, f)
        for r, _, fs in os.walk(os.path.join(ckpt, "state"))
        for f in fs
    ]
    assert any(f.endswith(".zip") for f in state_files), state_files[:10]


def test_chained_stateful_distinct_with_watermark(spark, tmp_path):
    """Chained stateful operators under a watermark (the production
    form of stream_distinct_users_live): dropDuplicates on
    (window, user) feeding an append-mode windowed count. Pinned:
    (a) a same-window duplicate arriving in a LATER micro-batch is
    still deduplicated (dedup state spans batches), and (b) each
    sealed window emits exactly once with the distinct count.
    Spark 3.x rejected this plan (multiple stateful operators);
    Spark 4 watermark propagation makes it legal — this test is the
    capability pin."""
    src = _write_batches(
        spark,
        tmp_path,
        [
            # batch 0: two distinct users + a same-batch duplicate
            [
                _ev(1, "2024-01-01 10:00:00", user_id=1),
                _ev(2, "2024-01-01 10:05:00", user_id=2),
                _ev(3, "2024-01-01 10:06:00", user_id=1),
            ],
            # batch 1: cross-batch duplicate of user 2 in the 10:00
            # window + a new user — state must remember batch 0.
            [
                _ev(4, "2024-01-01 10:20:00", user_id=2),
                _ev(5, "2024-01-01 10:25:00", user_id=3),
            ],
            # batch 2: advance watermark far enough to seal 10:00.
            [_ev(6, "2024-01-01 12:10:00", user_id=9)],
            [_ev(7, "2024-01-01 13:30:00", user_id=9)],
        ],
    )
    dedup = (
        _event_stream_from_json(spark, src)
        .withWatermark("ts", "10 minutes")
        .select(F.window("ts", "1 hour").alias("w"), "user_id")
        .dropDuplicates(["w", "user_id"])
    )
    agg = (
        dedup.groupBy("w")
        .agg(F.count("*").alias("n_users"))
        .select(F.date_format("w.start", "HH:mm").alias("ws"), "n_users")
    )
    got = {r["ws"]: r["n_users"] for r in _drain(agg, output_mode="append").collect()}
    # 10:00 window: users {1, 2, 3} — both duplicates collapsed.
    # 12:00 sealed by the 13:30 event. 13:00 unsealed → not emitted.
    assert got == {"10:00": 3, "12:00": 1}


def test_stateful_max_emits_changes_only(spark, tmp_path):
    """user_max_cdc must emit one row per (user, micro-batch) ONLY
    when that user's running max increased: batch 1's lower value for
    user 1 emits nothing; user 2's higher value emits again."""
    from mapreduce_wordcounter_spark.streaming.stateful import user_max_cdc

    src = _write_batches(
        spark,
        tmp_path,
        [
            [
                _ev(1, "2024-01-01 10:00:00", user_id=1, value=5.0),
                _ev(2, "2024-01-01 10:01:00", user_id=2, value=1.0),
            ],
            # user 1: 3.0 < 5.0 → silent; user 2: 7.0 > 1.0 → emits.
            [
                _ev(3, "2024-01-01 10:10:00", user_id=1, value=3.0),
                _ev(4, "2024-01-01 10:11:00", user_id=2, value=7.0),
            ],
        ],
    )
    out = user_max_cdc(_event_stream_from_json(spark, src))
    rows = sorted(
        (r["user_id"], r["cur_max"])
        for r in _drain(out, output_mode="update").collect()
    )
    assert rows == [(1, 5.0), (2, 1.0), (2, 7.0)]
