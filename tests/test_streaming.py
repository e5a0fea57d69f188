"""Structured Streaming tests: file-arrival ingest with watermark dedup,
driven with availableNow triggers over static fixture directories."""

from __future__ import annotations

import json
import os
import time

from ska_src_maltopuft_etl_spark.streaming import stream_run_summaries


def test_stream_run_summaries_dedup(spark, tmp_path):
    from tests.test_meertrap_pipeline import OBS, run_summary

    data = tmp_path / "stream_data"
    # two dirs share an identical summary (dup), one differs and is
    # pretty-printed (the reference's json.load takes both forms)
    for i, host in enumerate(["tpn-0-37", "tpn-0-37", "tpn-0-38"]):
        d = data / f"{host}_{1700000000 + i}"
        d.mkdir(parents=True)
        sb, start, stop = OBS[0] if host == "tpn-0-37" else OBS[1]
        (d / f"t0_{host}_run_summary.json").write_text(
            json.dumps(run_summary(sb, start, stop, host),
                       indent=2 if host == "tpn-0-38" else None)
        )

    # a truncated summary is quarantined, as by read_run_summaries
    bad = data / "tpn-0-39_1700000003"
    bad.mkdir()
    (bad / "t0_tpn-0-39_run_summary.json").write_text(
        json.dumps(run_summary(*OBS[1], "tpn-0-38"))[:200]
    )

    stream = stream_run_summaries(spark, str(data))
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("rs_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM rs_stream").collect()
    # 3 good files, 2 identical → 2 survivors
    assert len(rows) == 2
    assert {r["meerkat_id"] for r in rows} == {79119}
    assert all(r["utc_start"] is not None for r in rows)


def test_sessionize_events_stateful(spark, tmp_path):
    import json as _json

    from ska_src_maltopuft_etl_spark.streaming import sessionize_events

    data = tmp_path / "events_stream"
    data.mkdir()
    # batch 1: two events 1 min apart; batch 2 (separate file): an event
    # 2 h later → the first session closes and is emitted.
    (data / "a.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"user_id": 1, "ts": "2024-01-01T00:00:00.000Z", "value": 1.5},
                {"user_id": 1, "ts": "2024-01-01T00:01:00.000Z", "value": 2.5},
            ]
        )
    )
    (data / "b.json").write_text(
        _json.dumps({"user_id": 1, "ts": "2024-01-01T02:00:00.000Z", "value": 9.0})
    )

    schema = "user_id long, ts timestamp, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(data))
    )
    sessions = sessionize_events(stream, gap_minutes=30)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # must actually TERMINATE: the round-8 scale harness found that
    # the processing-time-timeout variant spins empty micro-batches
    # forever under AvailableNow (the old awaitTermination(120) here
    # timed out and masked it) — the event-time default drains.
    assert q.awaitTermination(120) is True
    rows = spark.sql("SELECT * FROM sessions").collect()
    assert len(rows) == 1
    s = rows[0]
    assert s["n_events"] == 2
    assert s["total_value"] == 4.0
    assert (s["session_end"] - s["session_start"]).total_seconds() == 60.0


def test_streaming_candidate_beam_resolution(spark, tmp_path):
    """SPCCL arrival stream → foreachBatch as-of join → resolved beams."""
    import datetime as dt

    from ska_src_maltopuft_etl_spark.sources.spccl import read_spccl
    from ska_src_maltopuft_etl_spark.streaming import resolve_beams_stream

    # static beam/observation dimension
    t0 = dt.datetime(2023, 11, 20, 21, 57, 11)
    beam_obs = spark.createDataFrame(
        [(0, True, t0, 101), (1, True, t0, 102)],
        "beam_number int, beam_coherent boolean, obs_t_min timestamp, beam_id int",
    )

    from tests.test_meertrap_pipeline import mjd, spccl_line

    data = tmp_path / "spccl_stream"
    d = data / "tpn-0-37_1700000000"
    d.mkdir(parents=True)
    start = dt.datetime(2023, 11, 20, 21, 57, 11, tzinfo=dt.timezone.utc)
    (d / "candA_beam.spccl.log").write_text(
        spccl_line(mjd(start + dt.timedelta(seconds=5)), 1.5, 2.0, 9.0, 0, "C",
                   "4:40:17.07", "-43:33:09.0"))
    (d / "candB_beam.spccl.log").write_text(
        spccl_line(mjd(start + dt.timedelta(seconds=9)), 2.5, 2.0, 9.0, 1, "C",
                   "4:40:17.07", "-43:33:09.0"))

    collected = []

    def sink(df, batch_id):
        collected.extend(df.collect())

    q = resolve_beams_stream(
        spark, str(data), beam_obs, sink,
        checkpoint_dir=str(tmp_path / "ckpt"), available_now=True,
    )
    q.awaitTermination(120)
    assert len(collected) == 2
    by_dm = {round(r["cand_dm"], 1): r["beam_id"] for r in collected}
    assert by_dm == {1.5: 101, 2.5: 102}
    # the stream reads each file as the batch source does: every
    # read_spccl column, paths prefixed and file names extension-cut
    batch = read_spccl(spark, str(data))
    assert sorted(tuple(r[c] for c in batch.columns) for r in collected) == sorted(
        tuple(r) for r in batch.collect()
    )


def test_stream_stream_interval_join(spark, tmp_path):
    """Two file streams joined on user within a 5-minute band; the band
    bounds the state store, and only in-band pairs emit."""
    import json as _json

    from ska_src_maltopuft_etl_spark.streaming import join_event_streams

    views = tmp_path / "views"
    clicks = tmp_path / "clicks"
    views.mkdir(); clicks.mkdir()
    (views / "v.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"user_id": 1, "v_ts": "2024-01-01T00:00:00.000Z", "page": "a"},
                {"user_id": 2, "v_ts": "2024-01-01T00:00:00.000Z", "page": "b"},
            ]
        )
    )
    (clicks / "c.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                # in band (2 min after view)
                {"user_id": 1, "c_ts": "2024-01-01T00:02:00.000Z", "target": "x"},
                # out of band (20 min after view)
                {"user_id": 2, "c_ts": "2024-01-01T00:20:00.000Z", "target": "y"},
                # before the view -> excluded
                {"user_id": 1, "c_ts": "2023-12-31T23:59:00.000Z", "target": "z"},
            ]
        )
    )
    v = spark.readStream.schema("user_id long, v_ts timestamp, page string").json(str(views))
    c = spark.readStream.schema("user_id long, c_ts timestamp, target string").json(str(clicks))
    joined = join_event_streams(v, c, "user_id", "v_ts", "c_ts", band_seconds=300)
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT page, target FROM ss_join").collect()
    assert [(r["page"], r["target"]) for r in rows] == [("a", "x")]


def test_stream_join_bucketed_naive_parity(spark, tmp_path):
    """The band-bucketed equi-key rewrite (the hot-key probe fix) must
    emit EXACTLY the naive formulation's pairs. Fixture hits the edges:
    match at distance 0, at exactly band_seconds, one second beyond,
    pairs straddling a bucket boundary, and a key collision."""
    import json as _json

    from ska_src_maltopuft_etl_spark.streaming import join_event_streams

    left_rows = [
        {"user_id": 1, "l_ts": "2024-01-01T00:04:30.000Z", "tag": "l1"},
        {"user_id": 1, "l_ts": "2024-01-01T00:09:00.000Z", "tag": "l2"},
        {"user_id": 2, "l_ts": "2024-01-01T00:04:30.000Z", "tag": "l3"},
    ]
    right_rows = [
        # same instant as l1 (distance 0, same bucket)
        {"user_id": 1, "r_ts": "2024-01-01T00:04:30.000Z", "mark": "r1"},
        # 04:59 -> bucket boundary at 05:00 not yet crossed; matches l1
        {"user_id": 1, "r_ts": "2024-01-01T00:04:59.000Z", "mark": "r2"},
        # 05:30 is in l1's band but in the NEXT 300s bucket (l1 sits in
        # bucket 0 = [00:00,05:00), r3 in bucket 1) -> exercises the
        # exploded bucket-1 arm of the rewrite
        {"user_id": 1, "r_ts": "2024-01-01T00:05:30.000Z", "mark": "r3"},
        # exactly band_seconds after l1 (inclusive upper edge)
        {"user_id": 1, "r_ts": "2024-01-01T00:09:30.000Z", "mark": "r4"},
        # one second beyond l1's band; still in l2's band
        {"user_id": 1, "r_ts": "2024-01-01T00:09:31.000Z", "mark": "r5"},
        # right key with no matching left key time-wise
        {"user_id": 2, "r_ts": "2024-01-01T00:20:00.000Z", "mark": "r6"},
    ]
    ldir = tmp_path / "pl"; rdir = tmp_path / "pr"
    ldir.mkdir(); rdir.mkdir()
    (ldir / "l.json").write_text("\n".join(_json.dumps(r) for r in left_rows))
    (rdir / "r.json").write_text("\n".join(_json.dumps(r) for r in right_rows))

    def run(bucketed, name):
        l = spark.readStream.schema("user_id long, l_ts timestamp, tag string").json(str(ldir))
        r = spark.readStream.schema("user_id long, r_ts timestamp, mark string").json(str(rdir))
        j = join_event_streams(
            l, r, "user_id", "l_ts", "r_ts", band_seconds=300, bucketed=bucketed
        )
        q = (
            j.selectExpr("tag", "mark")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120) is True
        return sorted(
            (row["tag"], row["mark"])
            for row in spark.sql(f"SELECT * FROM {name}").collect()
        )

    bucketed = run(True, "pj_bucketed")
    naive = run(False, "pj_naive")
    assert bucketed == naive
    assert bucketed == [
        ("l1", "r1"), ("l1", "r2"), ("l1", "r3"), ("l1", "r4"),
        ("l2", "r4"), ("l2", "r5"),
    ]


def test_sessionize_event_time_timeout_emission(spark, tmp_path):
    """A session must ALSO emit via the event-time timeout: a later
    event for a DIFFERENT user advances the watermark past user 1's
    session end + gap, firing hasTimedOut (round-8 branch — the other
    tests only exercise the gap-exceeded path)."""
    import json as _json

    from ska_src_maltopuft_etl_spark.streaming import sessionize_events

    data = tmp_path / "events_timeout"
    data.mkdir()
    (data / "a.json").write_text(
        _json.dumps(
            {"user_id": 1, "ts": "2024-01-01T00:00:00.000Z", "value": 2.0}
        )
    )
    # batch 2: user 2 at 06:00 -> watermark 05:00 (1h delay), far past
    # user 1's 00:00 + 30 min gap -> user 1's session times out.
    (data / "b.json").write_text(
        _json.dumps(
            {"user_id": 2, "ts": "2024-01-01T06:00:00.000Z", "value": 1.0}
        )
    )
    schema = "user_id long, ts timestamp, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(data))
    )
    q = (
        sessionize_events(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("sessions_timeout")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120) is True
    rows = spark.sql("SELECT * FROM sessions_timeout").collect()
    # user 1's session emitted by timeout; user 2's is still in flight
    assert len(rows) == 1
    assert rows[0]["user_id"] == 1
    assert rows[0]["n_events"] == 1
    assert rows[0]["total_value"] == 2.0


def test_sessionize_splits_gaps_within_one_batch(spark, tmp_path):
    """Round-9 regression: a single micro-batch carrying one key's rows
    across a gap must yield SEPARATE sessions. The round-8 update fn
    folded the whole batch into one [min,max] span, so an availableNow
    run over one file (= one batch) fused every session of a key — and
    emitted nothing at all when the fused span's timeout landed beyond
    the final watermark (stream-vs-batch certificate finding)."""
    import json as _json

    from ska_src_maltopuft_etl_spark.streaming import sessionize_events

    data = tmp_path / "events_inbatch"
    data.mkdir()
    # ONE file = ONE batch: three sessions for user 1 (00:00-00:10,
    # 02:00, 10:00) plus a user 2 row that pins the final watermark at
    # 09:30 (10:30 - 1h), sealing sessions 1 and 2 but not session 3.
    rows = [
        {"user_id": 1, "ts": "2024-01-01T00:10:00.000Z", "value": 3.0},
        {"user_id": 1, "ts": "2024-01-01T00:00:00.000Z", "value": 1.0},
        {"user_id": 1, "ts": "2024-01-01T00:05:00.000Z", "value": 2.0},
        {"user_id": 1, "ts": "2024-01-01T02:00:00.000Z", "value": 4.0},
        {"user_id": 1, "ts": "2024-01-01T10:00:00.000Z", "value": 5.0},
        {"user_id": 2, "ts": "2024-01-01T10:30:00.000Z", "value": 0.5},
    ]
    (data / "a.json").write_text("\n".join(_json.dumps(r) for r in rows))
    schema = "user_id long, ts timestamp, value double"
    stream = spark.readStream.schema(schema).json(str(data))
    q = (
        sessionize_events(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("sessions_inbatch")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120) is True
    got = sorted(
        (
            r["user_id"],
            r["session_start"].isoformat(),
            r["session_end"].isoformat(),
            r["n_events"],
            r["total_value"],
        )
        for r in spark.sql("SELECT * FROM sessions_inbatch").collect()
    )
    assert got == [
        # sessions 1 and 2 are split by in-batch gaps and SEALED by the
        # final 09:30 watermark (end + 30 min gap < 09:30), so both emit
        # (rows were written out of order: the update fn sorts by ts);
        (1, "2024-01-01T00:00:00", "2024-01-01T00:10:00", 3, 6.0),
        (1, "2024-01-01T02:00:00", "2024-01-01T02:00:00", 1, 4.0),
        # session 3 (10:00) and user 2's (10:30) stay open: watermark
        # ends at 09:30, before either session end + 30 min.
    ]


def _run_sessionize(spark, data_dir, query_name, gap_minutes=30,
                    max_files_per_trigger="1"):
    from ska_src_maltopuft_etl_spark.streaming import sessionize_events

    schema = "user_id long, ts timestamp, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(str(data_dir))
    )
    q = (
        sessionize_events(stream, gap_minutes=gap_minutes)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120) is True
    return sorted(
        (
            r["user_id"],
            r["session_start"].isoformat(),
            r["session_end"].isoformat(),
            r["n_events"],
            r["total_value"],
        )
        for r in spark.sql(f"SELECT * FROM {query_name}").collect()
    )


def test_sessionize_late_session_before_carried_state(spark, tmp_path):
    """Round-10 regression (r9 verdict 'What's wrong #2'): a whole LATE
    session arriving one micro-batch AFTER a newer one — legal while the
    watermark still admits it — must stay a separate session. The round-9
    fold compared only against the batch's earliest span and fused carried
    state across a genuine gap whenever first_start - prev_end <= gap
    (trivially true when negative)."""
    import json as _json

    data = tmp_path / "events_late_session"
    data.mkdir()
    # batch 1 (file sorts first lexicographically): the NEWER session.
    (data / "a.json").write_text(
        _json.dumps({"user_id": 1, "ts": "2024-01-01T05:00:00.000Z", "value": 8.0})
    )
    # batch 2: a whole session 4 h EARLIER (>> 30 min gap before 05:00),
    # still above the watermark (05:00 - 1 h = 04:00 > ... no: 01:00 < 04:00
    # would be dropped — so keep lateness inside the horizon via a 6 h wm).
    (data / "b.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"user_id": 1, "ts": "2024-01-01T01:00:00.000Z", "value": 1.0},
                {"user_id": 1, "ts": "2024-01-01T01:10:00.000Z", "value": 2.0},
            ]
        )
    )
    # batch 3: a far-future row for user 2 seals everything for user 1.
    (data / "c.json").write_text(
        _json.dumps({"user_id": 2, "ts": "2024-01-02T12:00:00.000Z", "value": 0.1})
    )

    from ska_src_maltopuft_etl_spark.streaming import sessionize_events

    schema = "user_id long, ts timestamp, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(data))
    )
    q = (
        sessionize_events(stream, gap_minutes=30, watermark="6 hours")
        .writeStream.format("memory")
        .queryName("late_session")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120) is True
    got = sorted(
        (
            r["user_id"],
            r["session_start"].isoformat(),
            r["session_end"].isoformat(),
            r["n_events"],
            r["total_value"],
        )
        for r in spark.sql("SELECT * FROM late_session").collect()
    )
    assert got == [
        # the late 01:00-01:10 session must NOT fuse into the 05:00 one
        (1, "2024-01-01T01:00:00", "2024-01-01T01:10:00", 2, 3.0),
        (1, "2024-01-01T05:00:00", "2024-01-01T05:00:00", 1, 8.0),
    ]


def test_sessionize_late_session_between_batch_spans(spark, tmp_path):
    """Round-10 regression, second shape: carried state belongs BETWEEN two
    spans of a later batch — positional insert must bridge/merge correctly.
    Here the carried 03:00 session bridges with a later batch's 03:20 row
    (20 min < gap) while a 00:00 row in the same batch stays separate."""
    import json as _json

    data = tmp_path / "events_between"
    data.mkdir()
    (data / "a.json").write_text(
        _json.dumps({"user_id": 1, "ts": "2024-01-01T03:00:00.000Z", "value": 4.0})
    )
    (data / "b.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                # earlier than carried state, genuine gap before it
                {"user_id": 1, "ts": "2024-01-01T00:00:00.000Z", "value": 1.0},
                # 20 min after carried state -> same session
                {"user_id": 1, "ts": "2024-01-01T03:20:00.000Z", "value": 2.0},
            ]
        )
    )
    (data / "c.json").write_text(
        _json.dumps({"user_id": 2, "ts": "2024-01-02T12:00:00.000Z", "value": 0.1})
    )

    from ska_src_maltopuft_etl_spark.streaming import sessionize_events

    schema = "user_id long, ts timestamp, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(data))
    )
    q = (
        sessionize_events(stream, gap_minutes=30, watermark="6 hours")
        .writeStream.format("memory")
        .queryName("between_spans")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120) is True
    got = sorted(
        (
            r["user_id"],
            r["session_start"].isoformat(),
            r["session_end"].isoformat(),
            r["n_events"],
            r["total_value"],
        )
        for r in spark.sql("SELECT * FROM between_spans").collect()
    )
    assert got == [
        (1, "2024-01-01T00:00:00", "2024-01-01T00:00:00", 1, 1.0),
        (1, "2024-01-01T03:00:00", "2024-01-01T03:20:00", 2, 6.0),
    ]


def test_sessionize_no_emit_before_watermark_seals(spark, tmp_path):
    """A session closed by an in-batch gap must NOT be emitted while the
    watermark can still admit rows that belong to it (ADVICE r9: premature
    in-batch emission made replays non-deterministic). With everything in
    ONE batch and a final watermark below end + gap, output must be empty."""
    import json as _json

    data = tmp_path / "events_unsealed"
    data.mkdir()
    rows = [
        {"user_id": 1, "ts": "2024-01-01T00:00:00.000Z", "value": 1.0},
        # in-batch gap > 30 min closes session 1 ...
        {"user_id": 1, "ts": "2024-01-01T01:30:00.000Z", "value": 2.0},
    ]
    (data / "a.json").write_text("\n".join(_json.dumps(r) for r in rows))
    # final watermark = 01:30 - 1 h = 00:30 == session-1 end + gap → NOT
    # strictly past it; nothing is sealed, nothing may emit.
    got = _run_sessionize(spark, data, "unsealed")
    assert got == []


def test_stream_join_left_outer_watermark_nulls(spark, tmp_path):
    """leftOuter stream-stream join: unmatched left events emit exactly
    once with null right columns WHEN the watermark closes their band;
    left events whose band the watermark has not yet passed stay
    pending (not emitted), and the bucketed rewrite must not duplicate
    or drop null-extended rows."""
    import json as _json

    from ska_src_maltopuft_etl_spark.streaming import join_event_streams

    left_rows = [
        # matched inside the band
        {"user_id": 1, "l_ts": "2024-01-01T00:00:00.000Z", "tag": "l_hit"},
        # no right row ever -> must surface as (l_miss, null) once the
        # watermark passes 00:00 + band
        {"user_id": 2, "l_ts": "2024-01-01T00:00:00.000Z", "tag": "l_miss"},
        # watermark clock: pushes final wm to 00:59; its own band
        # (until 01:05) is still open, so it must NOT emit
        {"user_id": 3, "l_ts": "2024-01-01T01:00:00.000Z", "tag": "l_pending"},
    ]
    right_rows = [
        {"user_id": 1, "r_ts": "2024-01-01T00:02:00.000Z", "mark": "r_hit"},
        # advances the right-side watermark too
        {"user_id": 9, "r_ts": "2024-01-01T01:00:00.000Z", "mark": "r_clock"},
    ]
    ldir = tmp_path / "lo_l"; rdir = tmp_path / "lo_r"
    ldir.mkdir(); rdir.mkdir()
    (ldir / "l.json").write_text("\n".join(_json.dumps(r) for r in left_rows))
    (rdir / "r.json").write_text("\n".join(_json.dumps(r) for r in right_rows))

    def run(bucketed, name):
        l = spark.readStream.schema(
            "user_id long, l_ts timestamp, tag string"
        ).json(str(ldir))
        r = spark.readStream.schema(
            "user_id long, r_ts timestamp, mark string"
        ).json(str(rdir))
        j = join_event_streams(
            l, r, "user_id", "l_ts", "r_ts", band_seconds=300,
            watermark="1 minute", bucketed=bucketed, how="leftOuter",
        )
        q = (
            j.selectExpr("tag", "mark")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120) is True
        return sorted(
            (row["tag"], row["mark"])
            for row in spark.sql(f"SELECT * FROM {name}").collect()
        )

    want = [("l_hit", "r_hit"), ("l_miss", None)]
    got_bucketed = run(True, "lo_bucketed")
    got_naive = run(False, "lo_naive")
    assert got_bucketed == want
    assert got_naive == want


def test_sessionize_null_ts_dropped_and_null_value_ignored(spark, tmp_path):
    """Round-13 streaming-fuzzer probe finding: a NULL event-time row
    used to enter the span math as NaT→int64-min and merge a
    session_end in year 1677 into a real session. Pinned semantics:
    NULL ts rows are dropped (no place on the time axis, the asof_join
    convention); NULL values contribute nothing to total_value (SQL
    SUM, all-NULL span → 0.0)."""
    import json as _json

    data = tmp_path / "events_nulls"
    data.mkdir()
    rows = [
        {"user_id": 1, "ts": "2024-01-01T00:00:00.000Z", "value": 1.0},
        {"user_id": 1, "ts": "2024-01-01T00:05:00.000Z", "value": None},
        {"user_id": 1, "ts": None, "value": 99.0},  # must vanish
        {"user_id": 2, "ts": None, "value": 7.0},  # all-NULL-ts group
        # value-less session for user 3: total must be 0.0, not NULL/NaN
        {"user_id": 3, "ts": "2024-01-01T00:01:00.000Z", "value": None},
        # watermark anchor seals everything above (wm = 11:00 with 1h)
        {"user_id": 9, "ts": "2024-01-01T12:00:00.000Z", "value": 0.0},
    ]
    (data / "a.json").write_text("\n".join(_json.dumps(r) for r in rows))
    got = _run_sessionize(spark, data, "sessions_nulls")
    assert got == [
        (1, "2024-01-01T00:00:00", "2024-01-01T00:05:00", 2, 1.0),
        (3, "2024-01-01T00:01:00", "2024-01-01T00:01:00", 1, 0.0),
    ]


def test_sessionize_empty_batch_rearms_timeout(spark, tmp_path):
    """Round-14 advice pin: a micro-batch whose rows for a stateful key
    all have NULL event times (dropped by the NULL-axis rule) takes the
    empty early return — which must defensively RE-ARM the event-time
    timeout from the stored spans, because the Scala GroupState contract
    documents timeouts as reset on every invocation. Batch layout:

    a: user 1 opens a session;
    b: user 1 arrives again with ONLY a NULL-ts row (empty after the
       notna filter -> early-return path for user 1's existing state);
    c: user 2 far in the future advances the watermark past user 1's
       end + gap -> the re-armed timeout must fire and emit."""
    import json as _json

    from ska_src_maltopuft_etl_spark.streaming import sessionize_events

    data = tmp_path / "events_rearm"
    data.mkdir()
    (data / "a.json").write_text(
        _json.dumps({"user_id": 1, "ts": "2024-01-01T00:00:00.000Z", "value": 2.0})
    )
    (data / "b.json").write_text(
        _json.dumps({"user_id": 1, "ts": None, "value": 5.0})
    )
    (data / "c.json").write_text(
        _json.dumps({"user_id": 2, "ts": "2024-01-01T06:00:00.000Z", "value": 1.0})
    )
    schema = "user_id long, ts timestamp, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(data))
    )
    q = (
        sessionize_events(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("sessions_rearm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120) is True
    rows = spark.sql("SELECT * FROM sessions_rearm").collect()
    # user 1's session emitted (NULL-ts row contributed nothing);
    # user 2's still open
    assert len(rows) == 1
    assert rows[0]["user_id"] == 1
    assert rows[0]["n_events"] == 1
    assert rows[0]["total_value"] == 2.0


def test_batch0_recovery_contract(spark, tmp_path):
    """Round-14 racy-restart finding #2 (streaming/recovery.py): a kill
    during the very FIRST offset-log write leaves residue in
    {ckpt}/offsets with no committed entry; Spark then treats the
    restart as a NEW query and refuses the non-empty directory
    (STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY) — on every retry. The
    remedy is provably exactly-once-safe (nothing was ever committed):

    1. the wedged signature raises on restart (pinned against the real
       engine, not just the fuzzer's observation);
    2. clear_aborted_batch0 clears it and the SAME checkpoint+sink then
       drains to the exact batch answer;
    3. the helper REFUSES a checkpoint with a committed entry and a
       sink with a committed _spark_metadata batch (the two unsafe
       lineages)."""
    from pyspark.errors import StreamingQueryException

    from ska_src_maltopuft_etl_spark.streaming import (
        clear_aborted_batch0,
        is_aborted_batch0,
        stream_with_watermark_dedup,
    )

    src = tmp_path / "b0_src"
    src.mkdir()
    pdf = spark.createDataFrame(
        [(1, 10, "2024-01-01 00:00:00", 1.0),
         (1, 10, "2024-01-01 00:00:00", 1.0),  # exact duplicate
         (2, 11, "2024-01-01 00:01:00", 2.0)],
        "event_id long, user_id long, ts string, value double",
    ).selectExpr("event_id", "user_id", "cast(ts as timestamp) ts", "value")
    pdf.coalesce(1).write.mode("overwrite").parquet(str(src))

    sink = str(tmp_path / "b0_sink")
    ckpt = str(tmp_path / "b0_ckpt")
    # forge the kill-during-batch-0 residue: offsets/ exists, holds only
    # an uncommitted temp file (HDFSMetadataLog's .N.<uuid>.tmp shape)
    os.makedirs(os.path.join(ckpt, "offsets"))
    with open(os.path.join(ckpt, "offsets", ".0.7f3a.tmp"), "w") as f:
        f.write("v1\n")
    assert is_aborted_batch0(ckpt)

    def start():
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, ts timestamp, value double"
            ).parquet(str(src))
        )
        return (
            stream_with_watermark_dedup(stream, "ts", ["event_id"])
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    try:
        q.awaitTermination(120)
        raise AssertionError("wedged checkpoint should refuse to start")
    except StreamingQueryException as exc:
        assert "STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY" in str(exc)

    assert clear_aborted_batch0(ckpt, sink_path=sink) is True
    q = start()
    assert q.awaitTermination(120) is True
    got = sorted(
        (r["event_id"], r["user_id"], r["value"])
        for r in spark.read.parquet(sink).collect()
    )
    assert got == [(1, 10, 1.0), (2, 11, 2.0)]

    # refusal path A: the now-committed checkpoint must never be cleared
    assert not is_aborted_batch0(ckpt)
    assert clear_aborted_batch0(ckpt, sink_path=sink) is False
    assert os.path.isdir(os.path.join(ckpt, "offsets"))

    # refusal path B: wedged ckpt + sink that already committed batches
    ckpt2 = str(tmp_path / "b0_ckpt2")
    os.makedirs(os.path.join(ckpt2, "offsets"))
    with open(os.path.join(ckpt2, "offsets", ".0.9e2b.tmp"), "w") as f:
        f.write("v1\n")
    assert clear_aborted_batch0(ckpt2, sink_path=sink) is False
    assert os.path.exists(os.path.join(ckpt2, "offsets", ".0.9e2b.tmp"))
