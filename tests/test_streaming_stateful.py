"""applyInPandasWithState sessionization: state must carry across
microbatches, sessions close on gap, and the event-time timeout closes the
tail session once the watermark passes."""

import shutil
import uuid

import pytest

from conftest import TMP


_SCHEMA = "user_id long, ts timestamp"


def _write(spark, path, rows):
    spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_stateful_sessionize_across_microbatches(spark):
    from datetime import datetime

    from document_parser_spark.streaming.stateful import sessionize_stream

    workdir = f"{TMP}/state-{uuid.uuid4().hex[:8]}"
    name = f"sess_{uuid.uuid4().hex[:6]}"
    t = lambda s: datetime.fromtimestamp(1_700_000_000 + s)
    try:
        # batch 1: two events 100 s apart (one open session for user 1)
        _write(spark, f"{workdir}/in", [(1, t(0)), (1, t(100))])

        stream = (
            spark.readStream.schema(_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{workdir}/in")
        )
        q = (
            sessionize_stream(stream, gap_sec=600, watermark="0 seconds")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        assert spark.table(name).count() == 0  # session still open

        # batch 2: event 10,000 s later → closes session 1 (2 events) and,
        # by advancing the watermark past last+gap, times out nothing yet
        # for the new session
        _write(spark, f"{workdir}/in", [(1, t(10_000))])
        q.processAllAvailable()
        closed = spark.table(name).collect()
        assert len(closed) == 1
        s = closed[0]
        assert s["user_id"] == 1 and s["n_events"] == 2
        assert (s["session_end"] - s["session_start"]).total_seconds() == 100

        # batch 3: a far-future event for ANOTHER user advances the
        # watermark, so user 1's tail session closes via event-time timeout
        _write(spark, f"{workdir}/in", [(2, t(100_000))])
        q.processAllAvailable()
        rows = {(r["user_id"], r["n_events"]) for r in spark.table(name).collect()}
        assert (1, 1) in rows  # the t(10_000) singleton, closed by timeout
    finally:
        try:
            q.stop()
        except Exception:
            pass
        shutil.rmtree(workdir, ignore_errors=True)


def test_fold_events_late_event_does_not_move_session_backwards():
    """A mildly-late event (older than the stored session end) folds in via
    min/max; the session end must NOT regress, and the next event must be
    gap-measured from the true (max) end — ADVICE r02 regression."""
    from document_parser_spark.streaming.stateful import fold_events

    gap = 600_000_000  # 600 s in us
    s = lambda sec: sec * 1_000_000
    # open session at [0, 500 s] with 2 events
    state = (s(0), s(500), 2)
    # a late event at 100 s arrives: folds in, end stays 500 s
    closed, state = fold_events(state, [s(100)], gap)
    assert closed == [] and state == (s(0), s(500), 3)
    # next event at 900 s: 400 s after the TRUE end → same session.
    # (with the pre-fix overwrite the end would read 100 s and 900 s would
    # falsely split the session: 800 s > gap 600 s)
    closed, state = fold_events(state, [s(900)], gap)
    assert closed == [] and state == (s(0), s(900), 4)
    # a late event even before session start extends the start downward
    closed, state = fold_events(state, [-s(50)], gap)
    assert closed == [] and state == (-s(50), s(900), 5)
    # and a genuine gap still closes
    closed, state = fold_events(state, [s(2000)], gap)
    assert closed == [(-s(50), s(900), 5)] and state == (s(2000), s(2000), 1)


def test_fold_events_super_gap_late_event_closes_alone():
    """A within-watermark event more than gap before the open session start
    must close as its own earlier session, not drag session_start backwards
    across a super-gap boundary (batch would emit two sessions)."""
    from document_parser_spark.streaming.stateful import fold_events

    gap = 10 * 60 * 1_000_000
    h = 3_600_000_000  # 1h in us
    open_state = (10 * h, 10 * h, 1)   # session open at 10:00
    closed, state = fold_events(open_state, [9 * h], gap)
    assert closed == [(9 * h, 9 * h, 1)]
    assert state == (10 * h, 10 * h, 1)
    # two late events within gap of EACH OTHER merge into one closed session
    closed2, state2 = fold_events(open_state, [9 * h, 9 * h + gap // 2], gap)
    assert closed2 == [(9 * h, 9 * h + gap // 2, 2)]
    assert state2 == (10 * h, 10 * h, 1)
    # a late event within gap of the open START still folds in
    closed3, state3 = fold_events(open_state, [10 * h - gap // 2], gap)
    assert closed3 == []
    assert state3 == (10 * h - gap // 2, 10 * h, 2)


def test_stateful_super_gap_late_event_end_to_end(spark):
    """A within-watermark late event older than the open session by more
    than the gap must emit as its OWN closed session through the real
    applyInPandasWithState stream, leaving the open session intact."""
    from datetime import datetime

    from document_parser_spark.streaming.stateful import sessionize_stream

    workdir = f"{TMP}/stategap-{uuid.uuid4().hex[:8]}"
    name = f"sgap_{uuid.uuid4().hex[:6]}"
    t = lambda s: datetime.fromtimestamp(1_700_000_000 + s)
    try:
        # batch 1: open a session at t+3600
        _write(spark, f"{workdir}/in", [(1, t(3600))])
        stream = (
            spark.readStream.schema(_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{workdir}/in")
        )
        q = (
            sessionize_stream(stream, gap_sec=600, watermark="2 hours")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        assert spark.table(name).count() == 0

        # batch 2: late event one hour BEFORE the open session (inside the
        # 2 h watermark, outside the 10 min gap) → its own closed session
        _write(spark, f"{workdir}/in", [(1, t(0))])
        q.processAllAvailable()
        closed = spark.table(name).collect()
        assert len(closed) == 1
        assert closed[0]["n_events"] == 1
        assert closed[0]["session_start"] == closed[0]["session_end"] == t(0)
    finally:
        # stop BEFORE rmtree: an assertion failure must not leave the query
        # streaming from a deleted directory into the shared session
        try:
            q.stop()
        except Exception:
            pass
        shutil.rmtree(workdir, ignore_errors=True)
