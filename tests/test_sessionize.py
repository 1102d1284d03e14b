"""Gap-sessionization tests: batch twin correctness on hand-computed
sessions, streaming operator vs batch twin on the same data, and the
operator's per-key fold driven through a fake ``GroupState``."""

from __future__ import annotations

from datetime import datetime, timedelta

import pandas as pd
from pyspark.sql import functions as F

from usgs_earthquake_data_pipeline_spark.streaming.sessionize import (
    _fold,
    sessionize_batch,
    sessionize_stream,
)

T0 = datetime(2024, 1, 1, 12, 0, 0)


def _events():
    """Two users; user 1 has two sessions split by a >30min gap."""
    rows = [
        (1, T0, 10.0),
        (1, T0 + timedelta(minutes=10), 5.0),
        (1, T0 + timedelta(minutes=20), 1.0),
        # 40-minute gap → new session
        (1, T0 + timedelta(minutes=60), 2.0),
        (2, T0 + timedelta(minutes=5), 7.0),
    ]
    return rows


def test_batch_sessionization(spark):
    df = spark.createDataFrame(_events(), "user_id long, ts timestamp, value double")
    out = {
        (r.user_id, r.session_start, r.n_events, r.sum_value)
        for r in sessionize_batch(df, gap_seconds=1800).collect()
    }
    assert (1, T0, 3, 16.0) in out
    assert (1, T0 + timedelta(minutes=60), 1, 2.0) in out
    assert (2, T0 + timedelta(minutes=5), 1, 7.0) in out
    assert len(out) == 3


def test_stream_sessionization_matches_batch(spark, tmp_path):
    df = spark.createDataFrame(_events(), "user_id long, ts timestamp, value double")
    src = str(tmp_path / "src")
    df.write.parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .parquet(src)
    )
    sessions = sessionize_stream(stream, gap_seconds=1800, watermark="0 seconds")
    q = (
        sessions.writeStream.format("memory")
        .queryName("t_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, r.session_start, r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM t_sessions").collect()
    }
    # the watermark never advances past the final events in a single
    # availableNow run, so only sessions closed by a later event in the
    # SAME run are emitted: user 1's first session (closed by its
    # minute-60 event). Open sessions stay in state — correct streaming
    # semantics.
    assert (1, T0, 3, 16.0) in got


def test_stream_late_event_does_not_shrink_session(spark, tmp_path):
    """An in-watermark late event arriving in a LATER micro-batch must
    extend the open session's interval, not drag session_end (and the
    state timeout) backwards."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()

    def write(name, rows):
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                    "value": pa.array([r[2] for r in rows], pa.float64()),
                }
            ),
            str(src / name),
        )

    # batch 1: open session [T0, T0+20]
    write("a.parquet", [(1, T0, 10.0), (1, T0 + timedelta(minutes=20), 1.0)])
    # batch 2: late event inside the session, then a gap-breaker
    write(
        "b.parquet",
        [
            (1, T0 + timedelta(minutes=10), 5.0),
            (1, T0 + timedelta(minutes=80), 2.0),
        ],
    )
    now = time.time()
    os.utime(src / "a.parquet", (now - 100, now - 100))  # processed first
    os.utime(src / "b.parquet", (now, now))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sessions = sessionize_stream(stream, gap_seconds=1800, watermark="1 hour")
    q = (
        sessions.writeStream.format("memory")
        .queryName("t_sessions_late")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "streaming run did not terminate"
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM t_sessions_late").collect()
    }
    assert (1, T0, T0 + timedelta(minutes=20), 3, 16.0) in got


def test_batch_sessionization_on_driver_events(spark, sf_dir):
    from usgs_earthquake_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    sessions = sessionize_batch(ev, gap_seconds=600)
    # invariants: per-user event counts conserved; sessions don't overlap
    n_events = ev.count()
    assert sessions.agg(F.sum("n_events")).first()[0] == n_events
    overlap = (
        sessions.alias("a")
        .join(
            sessions.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.session_start") < F.col("b.session_start"))
            & (F.col("b.session_start") <= F.col("a.session_end")),
        )
        .count()
    )
    assert overlap == 0


# ---------------------------------------------------------------------------
# The streaming operator's per-key fold under a fake GroupState: the
# engine's micro-batch loop is replayed in-process, so arbitrary
# batchings are cheap to check against the batch twin.
# ---------------------------------------------------------------------------

GAP_US = 1800 * 1_000_000


class _FakeGroupState:
    """The slice of ``GroupState`` that :func:`_fold` touches."""

    def __init__(self):
        self._v = None
        self.timeout_ms = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None
        self.timeout_ms = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def _drive_fold(batches_per_user, watermarks_after):
    """Run ``_fold`` per user over micro-batches; after each batch, a
    key whose timeout lies below the watermark is called once more
    with ``hasTimedOut`` set and no rows (what the engine does as the
    event-time watermark advances)."""
    out = []
    for user_id, batches in batches_per_user.items():
        state = _FakeGroupState()
        for batch, wm_ms in zip(batches, watermarks_after):
            if batch:
                pdf = pd.DataFrame(batch, columns=["ts", "value"])
                pdf["ts"] = pd.to_datetime(pdf["ts"])
                out.extend(_fold(GAP_US, (user_id,), iter([pdf]), state))
            if state.exists and state.timeout_ms < wm_ms:
                state.hasTimedOut = True
                empty = pd.DataFrame({"ts": pd.to_datetime([]), "value": []})
                out.extend(_fold(GAP_US, (user_id,), iter([empty]), state))
                state.hasTimedOut = False
    if not out:
        return set()
    return {
        (
            r.user_id,
            r.session_start.to_pydatetime(),
            r.session_end.to_pydatetime(),
            r.n_events,
            r.sum_value,
        )
        for r in pd.concat(out, ignore_index=True).itertuples()
    }


def _batch_sessions(spark, rows):
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    return {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in sessionize_batch(df, gap_seconds=1800).collect()
    }


def test_fold_matches_batch_twin_in_one_batch(spark):
    """All events in one batch + watermark far ahead: emissions must
    equal sessionize_batch on the same rows."""
    rows = _events()
    batches = {}
    for uid, ts, v in rows:
        batches.setdefault(uid, [[]])[0].append((ts, v))
    wm = int((T0 + timedelta(days=1)).timestamp() * 1000)
    assert _drive_fold(batches, [wm]) == _batch_sessions(spark, rows)


def test_fold_late_event_extends_not_shrinks():
    """A late in-watermark event in a later batch must never move
    session_end (and with it the timeout) backwards."""
    state = _FakeGroupState()
    b1 = pd.DataFrame(
        {"ts": pd.to_datetime([T0 + timedelta(minutes=20)]), "value": [1.0]}
    )
    assert list(_fold(GAP_US, (1,), iter([b1]), state)) == []
    end_before, timeout_before = state.get[1], state.timeout_ms
    b2 = pd.DataFrame({"ts": pd.to_datetime([T0]), "value": [2.0]})  # late
    assert list(_fold(GAP_US, (1,), iter([b2]), state)) == []
    s_us, e_us, n, sv = state.get
    assert e_us == end_before and state.timeout_ms == timeout_before
    assert s_us == int(pd.Timestamp(T0).value // 1000)  # start extended back
    assert n == 2 and sv == 3.0


def test_fold_and_batch_twin_agree_across_random_batchings(spark):
    """Property-style cross-validation: the streaming operator's fold
    must emit the same closed sessions as sessionize_batch regardless
    of how events are split into micro-batches (seeded shuffles)."""
    import random

    rows = []
    rng = random.Random(42)
    for uid in (1, 2, 3):
        t = T0
        for _ in range(12):
            t = t + timedelta(minutes=rng.choice([5, 10, 25, 45]))
            rows.append((uid, t, float(rng.randint(1, 9))))
    want = _batch_sessions(spark, rows)

    for seed in (0, 1, 2):
        # the streaming contract: batches advance in time per key
        # (watermark order); ARBITRARY disorder is allowed only
        # WITHIN a batch. Cross-batch time travel into an already
        # gap-closed session is out of contract for any append-mode
        # sessionizer (the batch twin, with global hindsight, would
        # assign it differently) — so chunks are contiguous in time
        # and shuffled internally.
        batches_per_user = {}
        per_user = {}
        for uid, ts, v in rows:
            per_user.setdefault(uid, []).append((ts, v))
        rng2 = random.Random(seed)
        for uid, evs in per_user.items():
            evs = sorted(evs)
            c1, c2 = rng2.randint(1, len(evs) - 2), rng2.randint(2, len(evs) - 1)
            c1, c2 = min(c1, c2), max(c1, c2)
            chunks = [evs[:c1], evs[c1:c2], evs[c2:]]
            for chunk in chunks:
                rng2.shuffle(chunk)
            batches_per_user[uid] = chunks
        wm = int((T0 + timedelta(days=2)).timestamp() * 1000)
        # watermark passes everything only after the final batch
        got = _drive_fold(batches_per_user, [0, 0, wm])
        assert got == want, f"seed {seed}: fold diverged from batch twin"
