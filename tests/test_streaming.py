"""Structured Streaming ingest tests (ner_spark/streaming/stream.py).

Checks the three properties that make the streaming slice trustworthy:
1. batch parity — draining the fixture through the stream produces
   exactly the batch pipeline's triples (multiset equality);
2. incremental exactly-once — new files landing after a first drain are
   processed on the next run WITHOUT reprocessing old files (total output
   equals one batch pass over everything, no duplicates);
3. the watermarked event-time rollup matches the batch groupBy.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F


def _triples_multiset(df):
    rows = df.select("conv_id", "turn_idx", "subj", "pred", "obj").collect()
    out = {}
    for r in rows:
        k = tuple(r)
        out[k] = out.get(k, 0) + 1
    return out


@pytest.fixture(scope="module")
def stream_dirs(tmp_path_factory, fixtures_small):
    """Split the fixture transcripts into two landing files + one
    late-arriving file, simulating continuous ingest."""
    root = tmp_path_factory.mktemp("stream")
    in_dir = os.path.join(root, "landing")
    os.makedirs(in_dir)
    t = pq.read_table(os.path.join(fixtures_small, "transcripts.parquet"))
    n = t.num_rows
    a, b = n // 3, 2 * (n // 3)
    pq.write_table(t.slice(0, a), os.path.join(in_dir, "part-0.parquet"))
    pq.write_table(t.slice(a, b - a), os.path.join(in_dir, "part-1.parquet"))
    late = os.path.join(root, "late.parquet")
    pq.write_table(t.slice(b), late)
    return {
        "input": in_dir,
        "late_file": late,
        "out": os.path.join(root, "out"),
        "ckpt": os.path.join(root, "ckpt"),
        "root": str(root),
    }


def test_stream_batch_parity_and_incremental_resume(spark, stream_dirs, fixtures_small):
    from ner_spark.streaming.stream import run_triples_stream

    # -- first drain: 2/3 of the corpus ----------------------------------
    run_triples_stream(
        spark, stream_dirs["input"], stream_dirs["out"], stream_dirs["ckpt"]
    )
    got1 = _triples_multiset(spark.read.parquet(stream_dirs["out"]))

    from ner_spark.operators.extraction import mentions_to_triples
    from ner_spark.pipeline import build_mentions

    def batch_triples(df):
        return mentions_to_triples(build_mentions(df))

    batch1 = _triples_multiset(
        batch_triples(spark.read.parquet(stream_dirs["input"]))
    )
    assert got1 == batch1

    # -- late file lands; second drain processes ONLY the new file -------
    shutil.copy(
        stream_dirs["late_file"],
        os.path.join(stream_dirs["input"], "part-2.parquet"),
    )
    run_triples_stream(
        spark, stream_dirs["input"], stream_dirs["out"], stream_dirs["ckpt"]
    )
    got2 = _triples_multiset(spark.read.parquet(stream_dirs["out"]))

    full_batch = _triples_multiset(
        batch_triples(
            spark.read.parquet(os.path.join(fixtures_small, "transcripts.parquet"))
        )
    )
    # exactly-once: totals equal one batch pass, no duplicated old files
    assert got2 == full_batch
    # and the golden oracle agrees end-to-end
    golden = _triples_multiset(
        spark.read.parquet(os.path.join(fixtures_small, "reference_triples.parquet"))
    )
    assert got2 == golden


def test_windowed_rollup_matches_batch(spark, stream_dirs, tmp_path):
    from ner_spark.streaming.stream import (
        stream_transcripts,
        windowed_triple_counts,
    )

    agg = windowed_triple_counts(
        stream_transcripts(spark, stream_dirs["input"]), window="1 hour"
    )
    out = str(tmp_path / "rollup_out")
    q = (
        agg.writeStream.format("memory")
        .queryName("rollup")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["pred"]): r["n_triples"]
        for r in spark.sql("select * from rollup").collect()
    }

    # batch restatement of the same rollup
    from ner_spark.operators.extraction import distinct_pairs
    from ner_spark.operators.tagging import tag_and_extract

    t = spark.read.parquet(stream_dirs["input"])
    pairs = tag_and_extract(t).withColumn(
        "pair", F.explode(distinct_pairs(F.col("mentions")))
    )
    want = {
        (r["ws"], r["pred"]): r["n"]
        for r in pairs.groupBy(
            F.window("ts", "1 hour").getField("start").alias("ws"),
            F.col("pair.pred").alias("pred"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_stateful_new_triples_dedup(spark, stream_dirs, tmp_path):
    """applyInPandasWithState: across two drains of a growing landing
    dir, each conversation's (pred, obj) pair is emitted exactly once —
    state survives in the checkpoint between runs."""
    import os

    from ner_spark.streaming.stream import (
        stream_transcripts,
        streaming_new_triples,
    )

    ckpt = str(tmp_path / "state_ckpt")
    sink = str(tmp_path / "state_out")

    def drain():
        q = (
            streaming_new_triples(stream_transcripts(spark, stream_dirs["input"]))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return [
            ((r["conv_id"], r["pred"], r["obj"]), r["turn_idx"])
            for r in spark.read.parquet(sink).collect()
        ]

    all_rows = drain()  # input dir already holds all 3 files (prior test)
    keys = [k for (k, _t) in all_rows]
    # exactly-once per (conv, pred, obj) — no duplicates across batches
    assert len(keys) == len(set(keys))

    # distinct fact set equals the batch pipeline's per-conv pair set
    from ner_spark.operators.extraction import mentions_to_triples
    from ner_spark.pipeline import build_mentions

    batch = {
        (r["conv_id"], r["pred"], r["obj"])
        for r in mentions_to_triples(
            build_mentions(spark.read.parquet(stream_dirs["input"]))
        ).collect()
    }
    assert set(keys) == batch

    # a second drain with no new files emits nothing new
    n_before = len(all_rows)
    assert len(drain()) == n_before

    # incremental drain for ALREADY-SEEN conversations (state.exists=True):
    # re-send every conversation's turns with shifted turn_idx — all pairs
    # are already known, so nothing new may be emitted, and the query must
    # not crash restoring state
    import pyarrow as pa
    import pyarrow.parquet as pq2

    t = pq2.read_table(os.path.join(stream_dirs["input"], "part-0.parquet"))
    shifted = t.set_column(
        t.schema.get_field_index("turn_idx"),
        "turn_idx",
        pa.compute.add(t.column("turn_idx"), 100000).cast(pa.int32()),
    )
    pq2.write_table(shifted, os.path.join(stream_dirs["input"], "part-3.parquet"))
    after = drain()
    assert len(after) == n_before  # every re-sent pair suppressed by state


class _FakeState:
    """Minimal GroupState stand-in for driving the handler's branches
    deterministically (a real processing-time timer can't be forced to
    fire inside a test without wall-clock races)."""

    def __init__(self, seen=None, timed_out=False):
        self.exists = seen is not None
        self.get = (seen,) if seen is not None else None
        self.hasTimedOut = timed_out
        self.removed = False
        self.updated = None
        self.timeout_ms = None

    def remove(self):
        self.removed = True

    def update(self, v):
        self.updated = v

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def test_stateful_dedup_handler_ttl_branches():
    """The TTL plumbing of streaming_new_triples' handler: timers armed
    in milliseconds after every update; a timed-out invocation evicts
    the state and emits nothing; an evicted conversation's facts re-emit
    on resighting (the documented TTL trade)."""
    import pandas as pd

    from ner_spark.streaming.stream import _make_dedup, _pair_hash

    dedup = _make_dedup(state_ttl_ms=1000)
    pdf = pd.DataFrame(
        {"conv_id": ["c"] * 2, "turn_idx": [1, 2], "pred": ["brand", "brand"],
         "obj": ["ACME", "ACME"]}
    )

    # fresh conversation: one emission, state updated, timer armed in ms
    st = _FakeState()
    out = pd.concat(list(dedup(("c",), iter([pdf]), st)))
    assert len(out) == 1 and st.timeout_ms == 1000
    assert st.updated == ([_pair_hash("brand", "ACME")],)

    # known fact suppressed while state lives
    st2 = _FakeState(seen=list(st.updated[0]))
    out2 = pd.concat(list(dedup(("c",), iter([pdf]), st2)))
    assert len(out2) == 0 and st2.timeout_ms == 1000

    # timeout invocation: state evicted, nothing emitted
    st3 = _FakeState(seen=list(st.updated[0]), timed_out=True)
    out3 = pd.concat(list(dedup(("c",), iter([]), st3)))
    assert st3.removed and len(out3) == 0 and st3.updated is None

    # post-eviction resighting re-emits (fresh state again)
    st4 = _FakeState()
    out4 = pd.concat(list(dedup(("c",), iter([pdf]), st4)))
    assert len(out4) == 1


def test_dedup_timeout_empty_frame_is_schema_typed():
    """The eviction branch's empty frame must carry NEW_TRIPLES_SCHEMA's
    dtypes explicitly (turn_idx int32) — an all-object empty frame would
    leave Arrow coercion of object->int32 to chance on a live
    interval-trigger query, the one path AvailableNow tests never walk."""
    import pandas as pd

    from ner_spark.streaming.stream import _make_dedup

    dedup = _make_dedup(state_ttl_ms=1000)
    st = _FakeState(seen=[1, 2], timed_out=True)
    out = pd.concat(list(dedup(("c",), iter([]), st)))
    assert list(out.columns) == ["conv_id", "turn_idx", "subj", "pred", "obj"]
    assert str(out["turn_idx"].dtype) == "int32"
    assert str(out["conv_id"].dtype) == "object"


def test_ttl_available_now_incompatibility_pinned(spark, stream_dirs, tmp_path):
    """PINNED pyspark 4.1.2 behavior: a TTL-armed
    (ProcessingTimeTimeout) query under Trigger.AvailableNow does NOT
    terminate — the drain waits on pending processing-time timers. This
    test drives the raw combination and asserts the non-termination
    within a bounded window (then stops the query); if a future pyspark
    fixes the semantics this assertion flips and the guard in
    run_new_triples_stream should be revisited. The guard itself must
    refuse the combination up front rather than hang the caller."""
    import pytest

    from ner_spark.streaming.stream import (
        run_new_triples_stream,
        stream_transcripts,
        streaming_new_triples,
    )

    # the safe failure mode: refused in code, not documented-and-hoped
    with pytest.raises(ValueError, match="AvailableNow|interval trigger"):
        run_new_triples_stream(
            spark,
            stream_dirs["input"],
            str(tmp_path / "out_guard"),
            str(tmp_path / "ckpt_guard"),
            state_ttl_ms=3_600_000,
            available_now=True,
        )

    # the raw behavior, pinned: AvailableNow + TTL never drains
    q = (
        streaming_new_triples(
            stream_transcripts(spark, stream_dirs["input"]),
            state_ttl_ms=3_600_000,
        )
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out_pin"))
        .option("checkpointLocation", str(tmp_path / "ckpt_pin"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        terminated = q.awaitTermination(25)
        assert terminated is False, (
            "pyspark now terminates AvailableNow with pending timers — "
            "re-evaluate the run_new_triples_stream guard"
        )
    finally:
        q.stop()


def test_run_new_triples_stream_drains_without_ttl(spark, stream_dirs, tmp_path):
    """The guarded runner's happy path: TTL off + AvailableNow drains and
    emits each fact once (same semantics as the raw query)."""
    from ner_spark.streaming.stream import run_new_triples_stream

    sink = str(tmp_path / "out_ok")
    run_new_triples_stream(
        spark,
        stream_dirs["input"],
        sink,
        str(tmp_path / "ckpt_ok"),
    )
    rows = [
        (r["conv_id"], r["pred"], r["obj"])
        for r in spark.read.parquet(sink).collect()
    ]
    assert len(rows) == len(set(rows)) > 0


def test_ttl_eviction_live_interval_trigger(spark, stream_dirs, tmp_path):
    """The REAL ProcessingTimeTimeout path on a live interval-trigger
    query (closing the round-2 ADVICE gap: the timeout branch was only
    ever driven against a fake GroupState): facts emit once, the
    conversation idles past the TTL — empty micro-batches keep running
    because pending timers request them — the timer fires, the eviction
    branch's dtype-explicit empty frame crosses Arrow on the live query
    (a schema coercion bug here would kill the query), state evicts, and
    re-sent facts re-emit. Generous polling bounds keep this stable on a
    loaded box."""
    import shutil
    import time

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq2

    from ner_spark.streaming.stream import (
        stream_transcripts,
        streaming_new_triples,
    )

    root = tmp_path / "ttl_live"
    in_dir = root / "in"
    in_dir.mkdir(parents=True)
    src = pq2.read_table(os.path.join(stream_dirs["input"], "part-0.parquet"))
    small = src.slice(0, 120)
    pq2.write_table(small, str(in_dir / "a.parquet"))

    q = (
        streaming_new_triples(
            stream_transcripts(spark, str(in_dir)), state_ttl_ms=1500
        )
        .writeStream.format("parquet")
        .option("path", str(root / "out"))
        .option("checkpointLocation", str(root / "ckpt"))
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )

    def sink_count():
        try:
            return spark.read.parquet(str(root / "out")).count()
        except Exception:
            return 0

    try:
        deadline = time.time() + 90
        while time.time() < deadline and sink_count() == 0:
            time.sleep(1)
        n1 = sink_count()
        assert n1 > 0, "stream never emitted the first batch"

        time.sleep(8)  # idle far past the 1.5 s TTL: timers fire, state evicts

        shifted = small.set_column(
            small.schema.get_field_index("turn_idx"),
            "turn_idx",
            pc.add(small.column("turn_idx"), 500000).cast(pa.int32()),
        )
        pq2.write_table(shifted, str(in_dir / "b.parquet"))
        deadline = time.time() + 90
        n2 = n1
        while time.time() < deadline and n2 <= n1:
            time.sleep(1)
            n2 = sink_count()
        assert q.exception() is None, q.exception()
        # evicted state ⇒ the re-sent facts are novel again (the
        # documented TTL trade; downstream canonicalization dedups)
        assert n2 > n1, "no re-emission after TTL — state never evicted"
    finally:
        q.stop()
        shutil.rmtree(str(root), ignore_errors=True)


def test_session_windows_batch_matches_lag_device(spark):
    """The native session_window aggregation equals the lag+cumsum
    device on microsecond-exact data, including the boundary pins: a
    gap of EXACTLY 30 min merges; 30 min + 1 us splits."""
    import datetime

    from ner_spark.streaming.stream import session_windows

    base = datetime.datetime(2026, 1, 1)

    def at(us):
        return base + datetime.timedelta(microseconds=us)

    G = 1_800_000_000  # 30 min in us
    rows = [
        # u1: merge at exactly gap, then split at gap + 1us
        (1, 10, at(0)),
        (1, 11, at(G)),
        (1, 12, at(2 * G + 1)),
        # u2: sub-second jitter inside one session
        (2, 20, at(5)),
        (2, 21, at(999_999)),
        (2, 22, at(G + 999_998)),
        # u3: single event
        (3, 30, at(42)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    out = sorted(
        map(
            tuple,
            session_windows(df, gap="30 minutes").collect(),
        )
    )
    ep0 = int(base.replace(tzinfo=datetime.timezone.utc).timestamp())

    def eps(us):
        return ep0 + us // 1_000_000

    assert out == sorted(
        [
            (1, 2, eps(0), eps(G)),          # exactly-gap event merged
            (1, 1, eps(2 * G + 1), eps(2 * G + 1)),
            (2, 3, eps(5), eps(G + 999_998)),
            (3, 1, eps(42), eps(42)),
        ]
    )


def test_session_windows_streaming_matches_batch(spark, tmp_path):
    """AvailableNow drain of the same events through a watermarked
    session_windows equals the batch result (complete output mode)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ner_spark.streaming.stream import session_windows

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        # the fixture parquet carries TIMESTAMP_NTZ; watermarks demand
        # TIMESTAMP, so pin the type on both sides of the parity check
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id")
    )
    batch = {
        tuple(r): 1 for r in session_windows(ev, key_col="user_id").collect()
    }

    in_dir = os.path.join(tmp_path, "landing")
    os.makedirs(in_dir)
    ev.write.parquet(os.path.join(in_dir), mode="overwrite")
    src = spark.readStream.schema(ev.schema).parquet(in_dir)
    sess = session_windows(src, key_col="user_id", watermark="2 hours")
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180_000)
    got = {
        tuple(r): 1 for r in spark.sql("select * from sess_out").collect()
    }
    assert got == batch and len(got) > 0
