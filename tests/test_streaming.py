"""Structured Streaming tests: drive the streaming path with file
sources + availableNow triggers and compare against batch semantics."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from python_cdc_spark.cdc.apply import apply_changes
from python_cdc_spark.cdc.feed import read_feed_stream
from python_cdc_spark.streaming import (
    StreamingApplyChanges,
    streaming_dedup,
    tumbling_window_agg,
)


def _write_feed_file(path: str, events: list[dict]) -> None:
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _ev(lsn, op, key, new=None, ts="2024-01-01T00:00:00"):
    return {
        "lsn": lsn,
        "operation": op,
        "schema": "public",
        "table": "users",
        "columns": list((new or {"id": None}).keys()),
        "old_values": None if op == "INSERT" else {"id": key},
        "new_values": new,
        "ts": ts,
    }


@pytest.fixture()
def feed_dir(tmp_path):
    d = tmp_path / "feed"
    d.mkdir()
    return str(d)


def _run_apply(spark, feed_dir, tmp_path, n_buckets=8):
    stream = read_feed_stream(spark, feed_dir, max_files_per_trigger=1).withColumn(
        "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
    )
    applier = StreamingApplyChanges(
        spark, str(tmp_path / "state"), "key", n_buckets=n_buckets
    )
    q = applier.start(stream, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)
    return applier


def test_streaming_apply_matches_batch(spark, tmp_path, feed_dir):
    """availableNow streaming apply over 2 files == batch apply of all."""
    batch1 = [
        _ev(1, "INSERT", "1", {"id": "1", "name": "a", "blob": "big"}),
        _ev(2, "INSERT", "2", {"id": "2", "name": "b"}),
    ]
    batch2 = [
        # sentinel must coalesce with the value from the PREVIOUS batch
        _ev(3, "UPDATE", "1", {"id": "1", "name": "a2", "blob": "[unchanged]"}),
        _ev(4, "DELETE", "2", None),
        _ev(5, "INSERT", "3", {"id": "3", "name": "c"}),
    ]
    _write_feed_file(os.path.join(feed_dir, "f1.json"), batch1)
    _write_feed_file(os.path.join(feed_dir, "f2.json"), batch2)

    applier = _run_apply(spark, feed_dir, tmp_path)
    got = {
        r["key"]: dict(r["values"]) for r in applier.current_state().collect()
    }
    assert got == {
        "1": {"id": "1", "name": "a2", "blob": "big"},
        "3": {"id": "3", "name": "c"},
    }

    # batch apply over the union must agree
    from python_cdc_spark.cdc.feed import read_feed

    all_events = read_feed(spark, feed_dir).withColumn(
        "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
    )
    batch_state = {
        r["key"]: dict(r["values"]) for r in apply_changes(all_events, "key").collect()
    }
    assert got == batch_state


def test_streaming_apply_restart_idempotent(spark, tmp_path, feed_dir):
    """A second availableNow run over the same checkpoint must be a
    no-op (offsets committed), and adding a file resumes incrementally."""
    _write_feed_file(
        os.path.join(feed_dir, "f1.json"),
        [_ev(1, "INSERT", "1", {"id": "1", "v": "x"})],
    )
    applier = _run_apply(spark, feed_dir, tmp_path)
    assert applier.current_state().count() == 1

    # restart with no new data: state unchanged
    applier2 = _run_apply(spark, feed_dir, tmp_path)
    assert {r["key"] for r in applier2.current_state().collect()} == {"1"}

    # new file with a delete: key disappears after resume
    _write_feed_file(os.path.join(feed_dir, "f2.json"), [_ev(2, "DELETE", "1", None)])
    applier3 = _run_apply(spark, feed_dir, tmp_path)
    assert applier3.current_state().count() == 0


def test_streaming_tumbling_window(spark, tmp_path):
    """The window builder runs as a real stream (availableNow + memory
    sink, update mode) and matches its own batch execution."""
    rows = [
        ("2024-01-01 00:05:00", "click", 1.0),
        ("2024-01-01 00:55:00", "click", 2.0),
        ("2024-01-01 01:05:00", "view", 3.0),
    ]
    src = tmp_path / "ev"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        for ts, et, v in rows:
            f.write(json.dumps({"ts": ts, "event_type": et, "value": v}) + "\n")

    schema = "ts timestamp, event_type string, value double"
    stream = spark.readStream.schema(schema).json(str(src))
    agg = tumbling_window_agg(
        stream, "ts", "1 hour", ["event_type"],
        [F.count(F.lit(1)).alias("n")], watermark="1 hour",
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["event_type"]): r["n"]
        for r in spark.sql("select * from tumbling_test").collect()
    }
    assert got == {
        ("2024-01-01 00:00:00", "click"): 2,
        ("2024-01-01 01:00:00", "view"): 1,
    }


def test_streaming_dedup_within_watermark(spark, tmp_path):
    src = tmp_path / "dups"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        for i, ts in [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:00:30"), (2, "2024-01-01 00:01:00")]:
            f.write(json.dumps({"k": i, "ts": ts}) + "\n")
    stream = spark.readStream.schema("k bigint, ts timestamp").json(str(src))
    out = streaming_dedup(stream, ["k"], "ts", watermark="10 minutes", within_watermark=True)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ks = sorted(r["k"] for r in spark.sql("select * from dedup_test").collect())
    assert ks == [1, 2]


def test_monitor_lag_metrics(spark, tmp_path):
    """R16 analog: progress metrics surface from a finished stream."""
    from python_cdc_spark.cdc.monitor import lag_metrics, list_streams

    src = tmp_path / "m"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        f.write(json.dumps({"k": 1}) + "\n")
    stream = spark.readStream.schema("k bigint").json(str(src))
    q = (
        stream.writeStream.format("memory")
        .queryName("monitor_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    m = lag_metrics(q)
    assert m["query_id"]
    assert m["num_input_rows"] == 1
    assert isinstance(list_streams(spark), list)


def test_snapshot_bootstrap_then_stream(spark, tmp_path, feed_dir):
    """Snapshot-then-stream: state seeded from an existing table at a
    snapshot LSN, then the change stream attaches. Post-snapshot events
    apply (update with TOAST sentinel coalesces from the SNAPSHOT image,
    delete removes, insert adds); a late pre-snapshot event must lose to
    the snapshot row — the max-lsn fold handles the overlap with no
    explicit filtering."""
    snapshot = spark.createDataFrame(
        [("1", "Ada", "big"), ("2", "Lin", "blob2")], ["id", "name", "blob"]
    )
    _write_feed_file(
        os.path.join(feed_dir, "f1.json"),
        [
            # late WAL from before the snapshot point: must NOT apply
            _ev(90, "UPDATE", "1", {"id": "1", "name": "stale", "blob": "old"}),
            # sentinel coalesces from the snapshot image, not from WAL
            _ev(150, "UPDATE", "1", {"id": "1", "name": "Ada L", "blob": "[unchanged]"}),
            _ev(160, "DELETE", "2", None),
            _ev(170, "INSERT", "3", {"id": "3", "name": "New", "blob": "b3"}),
        ],
    )
    stream = read_feed_stream(spark, feed_dir, max_files_per_trigger=1).withColumn(
        "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
    )
    applier = StreamingApplyChanges(spark, str(tmp_path / "state"), "key", n_buckets=4)
    # the feed's events carry schema/table, so the seed declares them too
    applier.bootstrap(
        snapshot.withColumnRenamed("id", "key"),
        snapshot_lsn=100,
        schema="public",
        table="users",
    )
    # seeded state is immediately queryable, before the stream attaches
    assert {r["key"] for r in applier.current_state().collect()} == {"1", "2"}
    q = applier.start(stream, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)
    got = {r["key"]: dict(r["values"]) for r in applier.current_state().collect()}
    assert got == {
        "1": {"key": "1", "id": "1", "name": "Ada L", "blob": "big"},
        "3": {"id": "3", "name": "New", "blob": "b3"},
    }
    # re-seeding an already-seeded table is an error, not silent loss
    with pytest.raises(ValueError, match="already holds rows"):
        applier.bootstrap(
            snapshot.withColumnRenamed("id", "key"),
            snapshot_lsn=100,
            schema="public",
            table="users",
        )
    # a second TABLE may seed into the same multi-table state
    applier.bootstrap(
        spark.createDataFrame([("7", "9.5")], ["key", "total"]),
        snapshot_lsn=100,
        schema="public",
        table="orders",
    )
    keys = {(r["table"], r["key"]) for r in applier.current_state().collect()}
    assert keys == {("users", "1"), ("users", "3"), ("orders", "7")}


def test_health_endpoint_serves_while_stream_runs(spark, tmp_path, feed_dir):
    """R15 parity: the HTTP health endpoint must answer DURING a running
    StreamingApplyChanges query (200 + status=healthy, real lag metrics
    on /metrics) and flip to 503/stopped once the query ends — unlike
    the reference's static-OK server, a probe here actually probes."""
    import urllib.request

    from python_cdc_spark.cdc.monitor import HealthServer

    _write_feed_file(
        os.path.join(feed_dir, "f1.json"),
        [_ev(1, "INSERT", "1", {"id": "1", "v": "x"})],
    )
    stream = read_feed_stream(spark, feed_dir, max_files_per_trigger=1).withColumn(
        "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
    )
    applier = StreamingApplyChanges(spark, str(tmp_path / "state"), "key", n_buckets=4)
    # processingTime trigger: the query stays ACTIVE so the probe hits a
    # live stream (availableNow would race the assertion)
    q = applier.start(stream, str(tmp_path / "ckpt"), available_now=False)
    try:
        with HealthServer(spark, q, port=0) as srv:
            url = f"http://127.0.0.1:{srv.port}"
            with urllib.request.urlopen(f"{url}/health", timeout=10) as resp:
                assert resp.status == 200
                assert json.loads(resp.read())["status"] == "healthy"
            with urllib.request.urlopen(f"{url}/metrics", timeout=10) as resp:
                m = json.loads(resp.read())
                assert m["query_id"] == str(q.id) and m["is_active"] is True
            with urllib.request.urlopen(f"{url}/streams", timeout=10) as resp:
                assert any(s["id"] == str(q.id) for s in json.loads(resp.read()))
            try:
                urllib.request.urlopen(f"{url}/nope", timeout=10)
                assert False, "unknown route must 404"
            except urllib.error.HTTPError as e:
                assert e.code == 404
            q.stop()
            q.awaitTermination(60)
            try:
                urllib.request.urlopen(f"{url}/health", timeout=10)
                assert False, "stopped query must 503"
            except urllib.error.HTTPError as e:
                assert e.code == 503
                assert json.loads(e.read())["status"] == "stopped"
    finally:
        if q.isActive:
            q.stop()


def test_streaming_late_event_no_resurrection(spark, tmp_path, feed_dir):
    """A late event (lsn below a prior batch's delete boundary) must NOT
    resurrect the deleted row — the tombstone carries the boundary."""
    _write_feed_file(
        os.path.join(feed_dir, "f1.json"),
        [
            _ev(1, "INSERT", "1", {"id": "1", "v": "x"}),
            _ev(5, "DELETE", "1", None),
        ],
    )
    _write_feed_file(
        os.path.join(feed_dir, "f2.json"),
        [_ev(3, "UPDATE", "1", {"id": "1", "v": "late"})],  # lsn 3 < 5
    )
    applier = _run_apply(spark, feed_dir, tmp_path)
    assert applier.current_state().count() == 0


def test_stateful_running_counter(spark, tmp_path, feed_dir):
    """E24: applyInPandasWithState accumulates per-key state ACROSS
    micro-batches (2 files × maxFilesPerTrigger=1 → 2 batches)."""
    from python_cdc_spark.streaming.stateful import running_per_key_stats

    _write_feed_file(
        os.path.join(feed_dir, "f1.json"),
        [
            _ev(1, "INSERT", "1", {"id": "1", "value": "10.0"}),
            _ev(2, "INSERT", "2", {"id": "2", "value": "5.0"}),
        ],
    )
    _write_feed_file(
        os.path.join(feed_dir, "f2.json"),
        [_ev(3, "UPDATE", "1", {"id": "1", "value": "7.0"})],
    )
    stream = read_feed_stream(spark, feed_dir, max_files_per_trigger=1).withColumn(
        "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
    )
    out = running_per_key_stats(stream, "key")
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from stateful_test").collect()
    # last emission per key wins
    latest = {}
    for r in rows:
        if r["key"] not in latest or r["last_lsn"] > latest[r["key"]]["last_lsn"]:
            latest[r["key"]] = r
    assert latest["1"]["n_events"] == 2 and latest["1"]["total_value"] == 17.0
    assert latest["2"]["n_events"] == 1 and latest["2"]["total_value"] == 5.0


def test_stream_stream_interval_join(spark, tmp_path):
    """Two watermarked file streams joined on user within 10 minutes."""
    from python_cdc_spark.streaming.joins import stream_stream_interval_join

    pdir, cdir = tmp_path / "p", tmp_path / "c"
    pdir.mkdir(); cdir.mkdir()
    with open(pdir / "a.json", "w") as f:
        f.write(json.dumps({"user": 1, "ts": "2024-01-01 00:20:00", "amount": 9.5}) + "\n")
        f.write(json.dumps({"user": 2, "ts": "2024-01-01 00:20:00", "amount": 1.0}) + "\n")
    with open(cdir / "a.json", "w") as f:
        # in-window click for user 1, out-of-window click for user 2
        f.write(json.dumps({"user": 1, "ts": "2024-01-01 00:15:00", "page": "x"}) + "\n")
        f.write(json.dumps({"user": 2, "ts": "2024-01-01 00:05:00", "page": "y"}) + "\n")

    purchases = spark.readStream.schema("user bigint, ts timestamp, amount double").json(str(pdir))
    clicks = spark.readStream.schema("user bigint, ts timestamp, page string").json(str(cdir))
    joined = stream_stream_interval_join(purchases, clicks, "user", interval="10 minutes")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select user, r_page from ssj_test").collect()
    assert [(r["user"], r["r_page"]) for r in rows] == [(1, "x")]


def test_streaming_scd2_matches_batch(spark, tmp_path, feed_dir):
    """Incremental SCD2 over 2 micro-batches == batch scd2_history over
    the full feed (versions, validity intervals, currency flags)."""
    from python_cdc_spark.cdc.scd2 import scd2_history
    from python_cdc_spark.streaming.scd2_stream import StreamingScd2

    _write_feed_file(
        os.path.join(feed_dir, "f1.json"),
        [
            _ev(1, "INSERT", "1", {"id": "1", "s": "a"}, ts="2024-01-01T00:00:00"),
            _ev(2, "INSERT", "2", {"id": "2", "s": "x"}, ts="2024-01-01T00:00:01"),
            _ev(3, "UPDATE", "1", {"id": "1", "s": "b"}, ts="2024-01-01T00:00:02"),
        ],
    )
    _write_feed_file(
        os.path.join(feed_dir, "f2.json"),
        [
            _ev(4, "UPDATE", "1", {"id": "1", "s": "c"}, ts="2024-01-01T00:00:03"),
            _ev(5, "DELETE", "2", None, ts="2024-01-01T00:00:04"),
            _ev(6, "INSERT", "3", {"id": "3", "s": "n"}, ts="2024-01-01T00:00:05"),
        ],
    )
    stream = read_feed_stream(spark, feed_dir, max_files_per_trigger=1).withColumn(
        "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
    )
    scd2 = StreamingScd2(spark, str(tmp_path / "hist"), "key", n_buckets=4)
    q = scd2.start(stream, str(tmp_path / "ckpt_scd2"), available_now=True)
    q.awaitTermination(120)

    def snap(df):
        return sorted(
            (
                r["key"], r["version"],
                str(r["valid_from"]), str(r["valid_to"]), r["is_current"],
            )
            for r in df.collect()
        )

    from python_cdc_spark.cdc.feed import read_feed

    full = read_feed(spark, feed_dir).withColumn(
        "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
    )
    got = snap(scd2.history())
    want = snap(scd2_history(full, "key"))
    assert got == want
    # sanity: key 1 has 3 versions, key 2's single version closed by the
    # delete, key 3 open
    assert [v for k, v, *_ in got if k == "1"] == [1, 2, 3]
    assert [c for k, *_, c in got if k == "2"] == [False]
    assert [c for k, *_, c in got if k == "3"] == [True]


def test_scd2_snapshot_bootstrap_then_stream(spark, tmp_path, feed_dir):
    """SCD2 snapshot-then-stream: history seeded with one OPEN version 1
    per snapshot row; the first post-snapshot change must CLOSE that
    version at its event time and open version 2 — exactly as if the
    snapshot row had arrived as an INSERT."""
    from python_cdc_spark.streaming.scd2_stream import StreamingScd2

    snapshot = spark.createDataFrame([("1", "a"), ("2", "x")], ["id", "s"])
    _write_feed_file(
        os.path.join(feed_dir, "f1.json"),
        [
            _ev(150, "UPDATE", "1", {"id": "1", "s": "b"}, ts="2024-06-01T00:00:00"),
            _ev(160, "DELETE", "2", None, ts="2024-06-01T00:00:01"),
            _ev(170, "INSERT", "3", {"id": "3", "s": "n"}, ts="2024-06-01T00:00:02"),
        ],
    )
    stream = read_feed_stream(spark, feed_dir, max_files_per_trigger=1).withColumn(
        "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
    )
    scd2 = StreamingScd2(spark, str(tmp_path / "hist"), "key", n_buckets=4)
    scd2.bootstrap(
        snapshot.withColumnRenamed("id", "key"),
        snapshot_lsn=100,
        snapshot_ts="2024-01-01T00:00:00",
    )
    # seeded history: one open version per snapshot row
    seeded = {(r["key"], r["version"], r["is_current"]) for r in scd2.history().collect()}
    assert seeded == {("1", 1, True), ("2", 1, True)}
    q = scd2.start(stream, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)
    rows = sorted(
        (r["key"], r["version"], str(r["valid_from"]), str(r["valid_to"]),
         r["is_current"], r["operation"])
        for r in scd2.history().collect()
    )
    assert rows == [
        # snapshot version closed by the update at the update's ts
        ("1", 1, "2024-01-01 00:00:00", "2024-06-01 00:00:00", False, "INSERT"),
        ("1", 2, "2024-06-01 00:00:00", "None", True, "UPDATE"),
        # snapshot version closed by the delete (the recipe closes the
        # open version; deletes emit no history row of their own)
        ("2", 1, "2024-01-01 00:00:00", "2024-06-01 00:00:01", False, "INSERT"),
        ("3", 1, "2024-06-01 00:00:02", "None", True, "INSERT"),
    ]
    with pytest.raises(ValueError, match="empty history"):
        scd2.bootstrap(
            snapshot.withColumnRenamed("id", "key"),
            snapshot_lsn=100,
            snapshot_ts="2024-01-01T00:00:00",
        )


def test_wire_stream_mid_stream_ddl_refreshes_registry(spark, tmp_path):
    """An R-frame arriving mid-stream (ADD COLUMN DDL) must refresh the
    relation registry before later batches decode — the reference's
    registry-overwrite-on-R semantics (pg_output_parser.py:88-93) on
    micro-batches."""
    import datetime as dt
    import time

    from python_cdc_spark.cdc.pgoutput import encode_insert, encode_relation
    from python_cdc_spark.streaming import StreamingWireApplyChanges

    t0 = dt.datetime(2024, 1, 1)

    def frames_df(frames, lsn0):
        rows = [
            (lsn0 + i, t0 + dt.timedelta(seconds=lsn0 + i), bytearray(f))
            for i, f in enumerate(frames)
        ]
        return spark.createDataFrame(rows, "lsn bigint, ts timestamp, frame binary")

    wire_dir = str(tmp_path / "wire")
    # file 1: original 2-column schema + one insert
    frames_df(
        [
            encode_relation(9, "public", "users", ["id", "name"]),
            encode_insert(9, ["1", "Ada"]),
        ],
        lsn0=1,
    ).coalesce(1).write.mode("append").parquet(wire_dir)
    time.sleep(1.1)  # distinct mtimes: file source processes in mtime order
    # file 2: DDL adds a column -> new R frame, then a 3-column insert
    frames_df(
        [
            encode_relation(9, "public", "users", ["id", "name", "status"]),
            encode_insert(9, ["2", "Lin", "active"]),
        ],
        lsn0=10,
    ).coalesce(1).write.mode("append").parquet(wire_dir)

    stream = (
        spark.readStream.schema("lsn bigint, ts timestamp, frame binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(wire_dir)
    )
    applier = StreamingWireApplyChanges(
        spark,
        str(tmp_path / "state"),
        key_extractor=lambda ev: ev.withColumn(
            "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
        ),
        n_buckets=4,
    )
    q = applier.start_wire(stream, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)

    state = {r["key"]: dict(r["values"]) for r in applier.current_state().collect()}
    assert state["1"] == {"id": "1", "name": "Ada"}
    assert state["2"] == {"id": "2", "name": "Lin", "status": "active"}
    # registry persisted for restart: learned 3-column schema survives
    fresh = StreamingWireApplyChanges(
        spark, str(tmp_path / "state"), key_extractor=lambda ev: ev, n_buckets=4
    )
    assert fresh.registry[9]["columns"] == ["id", "name", "status"]


def test_wire_stream_intra_batch_ddl_is_lsn_versioned(spark, tmp_path):
    """A column RENAME landing in the MIDDLE of one micro-batch: the
    pre-DDL insert of the same batch must decode with the old column
    name (the serial consumer's semantics), not the batch's final
    schema. One file → one micro-batch → both relation versions and
    their DMLs fold together."""
    import datetime as dt

    from python_cdc_spark.cdc.pgoutput import encode_insert, encode_relation
    from python_cdc_spark.streaming import StreamingWireApplyChanges

    t0 = dt.datetime(2024, 1, 1)
    frames = [
        encode_relation(9, "public", "accounts", ["id", "amount"]),
        encode_insert(9, ["1", "10"]),
        encode_relation(9, "public", "accounts", ["id", "amount_usd"]),
        encode_insert(9, ["2", "20"]),
    ]
    rows = [
        (i + 1, t0 + dt.timedelta(seconds=i), bytearray(f))
        for i, f in enumerate(frames)
    ]
    wire_dir = str(tmp_path / "wire")
    spark.createDataFrame(
        rows, "lsn bigint, ts timestamp, frame binary"
    ).coalesce(1).write.mode("append").parquet(wire_dir)

    stream = spark.readStream.schema(
        "lsn bigint, ts timestamp, frame binary"
    ).parquet(wire_dir)
    applier = StreamingWireApplyChanges(
        spark,
        str(tmp_path / "state"),
        key_extractor=lambda ev: ev.withColumn(
            "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
        ),
        n_buckets=4,
    )
    q = applier.start_wire(stream, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)

    state = {r["key"]: dict(r["values"]) for r in applier.current_state().collect()}
    assert state["1"] == {"id": "1", "amount": "10"}
    assert state["2"] == {"id": "2", "amount_usd": "20"}
    # the carry for the NEXT batch is still latest-wins
    assert applier.registry[9]["columns"] == ["id", "amount_usd"]


def test_streaming_incremental_agg_matches_state(spark, tmp_path, feed_dir):
    """The continuously-maintained group aggregate (bucket-level IVM)
    must equal a direct aggregate of the final applied state, across
    micro-batch boundaries, group moves, and deletes."""
    from python_cdc_spark.streaming.ivm_stream import StreamingIncrementalAgg

    batch1 = [
        _ev(1, "INSERT", "1", {"id": "1", "grade": "a", "score": "1.5"}),
        _ev(2, "INSERT", "2", {"id": "2", "grade": "b", "score": "2.0"}),
        _ev(3, "INSERT", "3", {"id": "3", "grade": "b", "score": "4.0"}),
    ]
    batch2 = [
        # key 1 moves group a -> b (cross-batch retraction)
        _ev(4, "UPDATE", "1", {"id": "1", "grade": "b", "score": "1.0"}),
        # key 3's group vanishes entirely? no - key 2 deleted, b keeps 1,3
        _ev(5, "DELETE", "2", None),
        _ev(6, "INSERT", "4", {"id": "4", "grade": "c", "score": "8.25"}),
    ]
    _write_feed_file(os.path.join(feed_dir, "f1.json"), batch1)
    _write_feed_file(os.path.join(feed_dir, "f2.json"), batch2)

    stream = read_feed_stream(spark, feed_dir, max_files_per_trigger=1).withColumn(
        "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
    )
    maintainer = StreamingIncrementalAgg(
        spark,
        str(tmp_path / "state"),
        str(tmp_path / "agg"),
        group_field="grade",
        value_field="score",
        n_buckets=8,
    )
    q = maintainer.start(stream, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)

    got = {
        r["grp"]: (
            r["n_rows"], r["sum_value"], r["min_value"], r["max_value"],
            r["avg_value"],
        )
        for r in maintainer.aggregate().collect()
    }
    assert got == {
        "b": (2, 5.0, 1.0, 4.0, 2.5),
        "c": (1, 8.25, 8.25, 8.25, 8.25),
    }

    # must equal a direct aggregate over the final state
    sc = F.col("values")["score"].cast("decimal(30,10)")
    direct = {
        r["grp"]: (
            r["n_rows"], r["sum_value"], r["min_value"], r["max_value"],
            r["avg_value"],
        )
        for r in maintainer.current_state()
        .groupBy(F.col("values")["grade"].alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(sc), 4).cast("double").alias("sum_value"),
            F.min(sc).cast("double").alias("min_value"),
            F.max(sc).cast("double").alias("max_value"),
            (F.round(F.sum(sc), 4).cast("double") / F.count(F.lit(1)))
            .alias("avg_value"),
        )
        .collect()
    }
    assert got == direct


def test_stateful_running_counter_tws(spark, tmp_path, feed_dir):
    """E24 on the Spark 4 transformWithStateInPandas API: same
    cross-batch per-key fold, typed ValueState, RocksDB provider.
    Env-gated: the transformWithState driver worker needs
    google.protobuf (broken in this container) and the RocksDB state
    store — skips where either is unavailable; the operator plumbing
    (processor class, state schema, output contract) is still
    analyzer-checked by building the plan above."""
    from python_cdc_spark.streaming.stateful import running_per_key_stats_tws

    _write_feed_file(
        os.path.join(feed_dir, "f1.json"),
        [
            _ev(1, "INSERT", "1", {"id": "1", "value": "10.0"}),
            _ev(2, "INSERT", "2", {"id": "2", "value": "5.0"}),
        ],
    )
    _write_feed_file(
        os.path.join(feed_dir, "f2.json"),
        [_ev(3, "UPDATE", "1", {"id": "1", "value": "7.0"})],
    )
    stream = read_feed_stream(spark, feed_dir, max_files_per_trigger=1).withColumn(
        "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
    )
    out = running_per_key_stats_tws(stream, "key")
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            out.writeStream.format("memory")
            .queryName("stateful_tws_test")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    except Exception as ex:  # pragma: no cover - env-dependent
        pytest.skip(f"RocksDB state store unavailable: {str(ex)[:120]}")
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    rows = spark.sql("select * from stateful_tws_test").collect()
    latest = {}
    for r in rows:
        if r["key"] not in latest or r["last_lsn"] > latest[r["key"]]["last_lsn"]:
            latest[r["key"]] = r
    got = {
        k: (r["n_events"], r["total_value"], r["last_lsn"])
        for k, r in latest.items()
    }
    assert got == {"1": (2, 17.0, 3), "2": (1, 5.0, 2)}


def test_streaming_corpus_dedup_matches_batch(spark, tmp_path):
    """Documents streamed in two files, folded per micro-batch into the
    persisted dedup index, must yield the exact components a one-shot
    batch run over the full corpus produces."""
    from python_cdc_spark.io import table
    from python_cdc_spark.operators.components import connected_components
    from python_cdc_spark.operators.incremental_dedup import (
        _delta_tables,
        _verify_pairs,
    )
    from python_cdc_spark.streaming.dedup_stream import StreamingCorpusDedup

    docs = table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )
    base = docs.filter(F.col("doc_id") < 200)
    feed = tmp_path / "docfeed"
    feed.mkdir()
    # two stream files -> two micro-batches (maxFilesPerTrigger=1)
    docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 350)).coalesce(
        1
    ).write.json(str(feed / "f1"))
    docs.filter(F.col("doc_id") >= 350).coalesce(1).write.json(str(feed / "f2"))

    dd = StreamingCorpusDedup(spark, str(tmp_path / "dedup_index"))
    dd.bootstrap(base)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .json(str(feed))
    )
    q = dd.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    got = {(r["v"], r["component"]) for r in dd.components().collect()}

    cells, bands, sizes = _delta_tables(docs, "text", "doc_id")
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    pairs = _verify_pairs(cand, cells, sizes, 0.5)
    want = {
        (r["v"], r["component"])
        for r in connected_components(pairs, "id_a", "id_b").collect()
    }
    assert got == want and len(got) > 0


def test_streaming_corpus_dedup_replay_is_skipped(spark, tmp_path):
    """A replayed micro-batch (crash between index fold and checkpoint
    commit) must not double-fold: folding the same batch id twice
    leaves the index byte-identical — whether the skip marker survived
    the crash (fast path) or not (idempotent re-fold)."""
    from python_cdc_spark.io import table
    from python_cdc_spark.operators.incremental_dedup import read_index_table
    from python_cdc_spark.streaming.dedup_stream import StreamingCorpusDedup

    idx = str(tmp_path / "idx")
    docs = table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )
    dd = StreamingCorpusDedup(spark, idx)
    dd.bootstrap(docs.filter(F.col("doc_id") < 300))
    delta = docs.filter(F.col("doc_id") >= 300)
    dd.fold_batch(delta, batch_id=0)
    before = sorted(map(tuple, dd.components().collect()))
    n_cells = read_index_table(spark, idx, "cells").count()
    dd.fold_batch(delta, batch_id=0)  # replay, marker intact
    assert sorted(map(tuple, dd.components().collect())) == before
    assert read_index_table(spark, idx, "cells").count() == n_cells

    # harder replay: the crash also lost _folded.json (fold committed,
    # marker write never happened) — the re-fold must be idempotent
    import os

    os.remove(os.path.join(idx, "_folded.json"))
    dd.fold_batch(delta, batch_id=0)
    assert sorted(map(tuple, dd.components().collect())) == before
    assert read_index_table(spark, idx, "cells").count() == n_cells


def test_corpus_dedup_folded_ids_keep_a_bounded_tail(tmp_path):
    """``_folded.json`` keeps the last 1000 batch ids, not every id since
    the stream began (no Spark: the marker is plain JSON)."""
    from python_cdc_spark import fsops
    from python_cdc_spark.streaming.dedup_stream import StreamingCorpusDedup

    dd = StreamingCorpusDedup(None, str(tmp_path))
    fsops.publish_json(
        dd._folded_path, {"format": 1, "folded": list(range(1000))}
    )
    dd._mark_folded(1000)
    ids = dd._folded_ids()
    assert len(ids) == 1000 and 1000 in ids and 0 not in ids


@pytest.mark.parametrize("sink", ["StreamingPCA", "StreamingCorpusDedup"])
def test_sink_ledger_format_mismatch_refuses_resume(tmp_path, sink):
    """The PCA meta and the corpus-dedup replay ledger carry
    ``"format": 1`` on every commit, and every reader refuses an
    unstamped file (the pre-stamp layout) instead of reading it through
    (no Spark: both are plain JSON)."""
    import json as _json

    from python_cdc_spark import fsops
    from python_cdc_spark.streaming.dedup_stream import StreamingCorpusDedup
    from python_cdc_spark.streaming.pca_stream import StreamingPCA

    if sink == "StreamingPCA":
        st = StreamingPCA(None, str(tmp_path), dims=2, k=1)
        path, reads = st._meta_path, (st.model, st.rows_folded)
        st._commit(st._meta())
        unstamped = {"n": 0, "s": [0.0] * 2, "g": [0.0] * 4,
                     "folded": [], "dims": 2}
    else:
        st = StreamingCorpusDedup(None, str(tmp_path))
        path, reads = st._folded_path, (st._folded_ids,)
        st._mark_folded(0)
        unstamped = [0]
    assert _json.load(open(path))["format"] == 1
    fsops.publish_json(path, unstamped)
    for read in reads:
        with pytest.raises(ValueError, match="format"):
            read()


def test_wide_decode_row_gate(spark, tmp_path, monkeypatch):
    """A wire batch widened by the row gate (repartitioned to executor
    parallelism before the decode) merges the same state as one decoded
    at its file-count width."""
    import datetime as dt

    from python_cdc_spark.cdc.pgoutput import encode_insert, encode_relation
    from python_cdc_spark.streaming import StreamingWireApplyChanges
    from python_cdc_spark.streaming import apply_stream as ap

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (0, t0, bytearray(encode_relation(9, "public", "users", ["id", "name"])))
    ] + [
        (i, t0, bytearray(encode_insert(9, [str(i), f"user{i}"])))
        for i in range(1, 201)
    ]
    wire_dir = str(tmp_path / "wire")
    spark.createDataFrame(
        rows, "lsn bigint, ts timestamp, frame binary"
    ).coalesce(2).write.parquet(wire_dir)

    def build(tag):
        a = StreamingWireApplyChanges(
            spark,
            str(tmp_path / f"state_{tag}"),
            key_extractor=lambda ev: ev.withColumn(
                "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
            ),
            n_buckets=4,
        )
        a.merge_wire_batch(spark.read.parquet(wire_dir), batch_id=0)
        return sorted(
            (r["key"], dict(r["values"])["name"]) for r in a.current_state().collect()
        )

    monkeypatch.setattr(ap, "_WIDE_DECODE_ROWS", 1)  # force the wide path
    wide = build("wide")
    monkeypatch.setattr(ap, "_WIDE_DECODE_ROWS", 1 << 40)  # force narrow
    narrow = build("narrow")
    assert wide == narrow and len(wide) == 200


def test_wire_apply_latency_metric_exists_and_bounded(spark, tmp_path):
    """Capture→applied latency (VERDICT r4 #6): the wire applier must
    record per-batch lag between the newest frame's capture timestamp
    and state durability, expose a bounded summary, and serve it on the
    health endpoint's /metrics as apply_latency."""
    import datetime as dt
    import json as _json
    import urllib.request

    from python_cdc_spark.cdc.monitor import HealthServer
    from python_cdc_spark.cdc.pgoutput import encode_insert, encode_relation
    from python_cdc_spark.streaming import StreamingWireApplyChanges

    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    frames = [
        encode_relation(9, "public", "users", ["id", "name"]),
        encode_insert(9, ["1", "Ada"]),
        encode_insert(9, ["2", "Lin"]),
    ]
    rows = [(i + 1, now, bytearray(f)) for i, f in enumerate(frames)]
    wire_dir = str(tmp_path / "wire")
    spark.createDataFrame(
        rows, "lsn bigint, ts timestamp, frame binary"
    ).coalesce(1).write.mode("append").parquet(wire_dir)

    stream = spark.readStream.schema(
        "lsn bigint, ts timestamp, frame binary"
    ).parquet(wire_dir)
    applier = StreamingWireApplyChanges(
        spark,
        str(tmp_path / "state"),
        key_extractor=lambda ev: ev.withColumn(
            "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
        ),
        n_buckets=4,
    )
    q = applier.start_wire(stream, str(tmp_path / "ckpt"), available_now=True)
    try:
        report_ready = False
        import time as _time

        deadline = _time.monotonic() + 120
        while _time.monotonic() < deadline:
            rep = applier.latency_report()
            if rep["batches_measured"] > 0:
                report_ready = True
                break
            _time.sleep(0.25)
        assert report_ready, "no latency sample recorded"
        rep = applier.latency_report()
        # bounded: frames were captured moments ago, so the e2e lag is
        # wall-clock batch time, not hours
        assert 0.0 <= rep["capture_to_apply_sec_p50"] < 120.0
        assert rep["capture_to_apply_sec_max"] >= rep["capture_to_apply_sec_p50"]
        last = rep["last"]
        assert last["n_rows"] == 3
        assert last["capture_to_apply_sec"] == pytest.approx(
            last["applied_at"] - last["max_capture_ts"], abs=0.01
        )
        with HealthServer(spark, q, extra_metrics=applier.latency_report) as hs:
            with urllib.request.urlopen(
                f"http://127.0.0.1:{hs.port}/metrics", timeout=10
            ) as resp:
                body = _json.loads(resp.read())
        assert body["apply_latency"]["batches_measured"] >= 1
        assert body["apply_latency"]["capture_to_apply_sec_p50"] < 120.0
        # the last batch: its fold plan, commit kind (a first batch on
        # empty state lands as the base), deepest run count, and data
        # frames in vs events folded
        assert body["apply_latency"]["last_fold_plan"] == "array_fold"
        assert body["apply_latency"]["last_batch"] == {
            "fold_plan": "array_fold",
            "commit_kind": "base",
            "max_bucket_runs": 0,
            "events_folded": 2,
            "data_frames_in": 2,
        }
    finally:
        q.stop()
        q.awaitTermination(60)


def test_streaming_sketch_matches_batch(spark, tmp_path):
    """HLL registers and CM counters folded over two micro-batches must
    equal the one-shot batch sketch over the full key set; a replayed
    batch id must be a no-op; a leftover version dir from a crashed
    attempt must not break the next fold."""
    from python_cdc_spark.io import table
    from python_cdc_spark.streaming.sketch_stream import (
        StreamingSketchAggregator,
    )

    li = table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey"
    )
    feed = tmp_path / "keyfeed"
    feed.mkdir()
    li.filter(F.col("l_orderkey") % 2 == 0).coalesce(1).write.json(
        str(feed / "f1")
    )
    li.filter(F.col("l_orderkey") % 2 == 1).coalesce(1).write.json(
        str(feed / "f2")
    )

    agg = StreamingSketchAggregator(
        spark, str(tmp_path / "sketch_state"), "l_orderkey"
    )
    stream = (
        spark.readStream.schema("l_orderkey long")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .json(str(feed))
    )
    q = agg.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    # streamed state == one-shot batch sketch over the whole key set
    got_regs = {(r["bucket"], r["r"]) for r in agg.registers().collect()}
    want_regs = {
        (r["bucket"], r["r"]) for r in agg._batch_hll(li).collect()
    }
    assert got_regs == want_regs
    got_cm = {(r["i"], r["bucket"], r["n"]) for r in agg.counters().collect()}
    want_cm = {
        (r["i"], r["bucket"], r["n"]) for r in agg._batch_cm(li).collect()
    }
    assert got_cm == want_cm

    # estimator sanity: raw HLL within 20% of exact at n/m ~ 6
    exact = li.distinct().count()
    assert abs(agg.distinct_estimate() / exact - 1.0) < 0.2

    # CM point estimates are never under the exact frequencies
    top = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "l_orderkey")
        .limit(10)
    )
    est = agg.frequency_estimate(top.select("l_orderkey"))
    joined = top.join(est, "l_orderkey").collect()
    assert len(joined) == 10
    assert all(r["cm_estimate"] >= r["exact_n"] for r in joined)

    # replayed batch id is a no-op (meta guard)
    before = agg._meta()
    replay = spark.read.schema("l_orderkey long").json(
        str(feed / "f1")
    )
    agg.fold_batch(replay, batch_id=0)
    assert agg._meta() == before
    assert {
        (r["i"], r["bucket"], r["n"]) for r in agg.counters().collect()
    } == want_cm

    # leftover version dir from a crashed attempt: next fold rewrites it
    cur = agg._meta()["version"]
    leftover = agg._vdir(cur + 1)
    os.makedirs(os.path.join(leftover, "hll"), exist_ok=True)
    with open(os.path.join(leftover, "junk"), "w") as f:
        f.write("partial write")
    extra = spark.createDataFrame([(10**9 + 7,)], "l_orderkey long")
    agg.fold_batch(extra, batch_id=99)
    assert agg._meta()["version"] == cur + 1
    assert not os.path.exists(os.path.join(leftover, "junk"))
    n_after = agg.counters().agg(F.sum("n")).collect()[0][0]
    n_want = agg._batch_cm(li).agg(F.sum("n")).collect()[0][0]
    assert n_after == n_want + 4  # one new key -> d=4 more cell counts


def test_streaming_rollup_matches_batch(spark, tmp_path):
    """Fact rows streamed in two micro-batches, folded into the cube,
    must yield the same rewrite answers (including the HLL distinct
    measure) as a one-shot cube over the full table; a replayed batch
    id must be a no-op."""
    from python_cdc_spark.io import table
    from python_cdc_spark.plans.rollup import RollupCatalog
    from python_cdc_spark.streaming.rollup_stream import (
        StreamingRollupMaintenance,
    )

    li = table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_discount",
        "l_quantity", "l_returnflag",
    )
    base = li.filter(F.col("l_orderkey") % 3 == 0)
    dims = {"l_returnflag": "l_returnflag"}
    meas = {
        "rev": ("sum", "l_extendedprice * (1 - l_discount)"),
        "n": ("count", "1"),
        "max_qty": ("max", "l_quantity"),
        "parts": ("hll", "l_partkey"),
    }

    feed = tmp_path / "factfeed"
    feed.mkdir()
    schema = (
        "l_orderkey long, l_partkey long, l_extendedprice double, "
        "l_discount double, l_quantity double, l_returnflag string"
    )
    li.filter(F.col("l_orderkey") % 3 == 1).coalesce(1).write.json(
        str(feed / "f1")
    )
    li.filter(F.col("l_orderkey") % 3 == 2).coalesce(1).write.json(
        str(feed / "f2")
    )

    sr = StreamingRollupMaintenance(
        spark, str(tmp_path / "cube"), "sales", dims, meas
    )
    sr.bootstrap(base, fingerprint="seed")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .json(str(feed))
    )
    q = sr.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    full = RollupCatalog(spark, str(tmp_path / "full"))
    full.define("sales", li, dims, meas, fingerprint="full")
    req = (["l_returnflag"], ["rev", "n", "max_qty", "parts"])
    got = sorted(map(tuple, sr.rewrite(*req).collect()))
    want = sorted(map(tuple, full.rewrite(*req).collect()))
    assert got == want

    # replay of an already-folded micro-batch must not change the cube
    meta_before = sr.catalog._meta("sales")
    replay = spark.read.schema(schema).json(str(feed / "f1"))
    sr.fold_batch(replay, batch_id=0)
    assert sr.catalog._meta("sales") == meta_before
    assert sorted(map(tuple, sr.rewrite(*req).collect())) == want


def _cdc_rollup_cfg():
    dims = {"grp": "grp"}
    meas = {
        "n": ("count", "1"),
        "total": ("sum", "v"),
        "mx": ("max", "v"),
        "users": ("hll", "cast(key as bigint)"),
    }
    typed = {"grp": "string", "v": "double"}
    return dims, meas, typed


def test_streaming_cdc_rollup_matches_batch(spark, tmp_path, feed_dir):
    """FLAGSHIP INTEGRATION, streaming twin: an I/U/D CDC stream (update
    moves a row across groups; delete kills a group; TOAST sentinel
    carries a value) maintains a cube whose every measure kind — count,
    exact-decimal sum, max, HLL — equals a from-scratch cube over the
    final applied state."""
    from python_cdc_spark.plans.rollup import RollupCatalog
    from python_cdc_spark.streaming.rollup_stream import (
        StreamingCdcRollupMaintenance,
    )

    batch1 = [
        _ev(1, "INSERT", "1", {"id": "1", "grp": "a", "v": "10"}),
        _ev(2, "INSERT", "2", {"id": "2", "grp": "a", "v": "20"}),
        _ev(3, "INSERT", "3", {"id": "3", "grp": "b", "v": "30"}),
    ]
    batch2 = [
        _ev(4, "UPDATE", "2", {"id": "2", "grp": "b", "v": "25"}),
        _ev(5, "DELETE", "3", None),
        _ev(6, "INSERT", "4", {"id": "4", "grp": "c", "v": "40"}),
        # sentinel: v carries 40 forward while grp changes
        _ev(7, "UPDATE", "4", {"id": "4", "grp": "d", "v": "[unchanged]"}),
    ]
    _write_feed_file(os.path.join(feed_dir, "f1.json"), batch1)
    _write_feed_file(os.path.join(feed_dir, "f2.json"), batch2)

    dims, meas, typed = _cdc_rollup_cfg()
    mb = StreamingCdcRollupMaintenance(
        spark, str(tmp_path / "state"), str(tmp_path / "cube"), "c",
        dims, meas, typed, n_buckets=8,
    )
    mb.init_cube(fingerprint="seed")
    stream = read_feed_stream(spark, feed_dir, max_files_per_trigger=1).withColumn(
        "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
    )
    q = mb.start(stream, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)

    # final state: 1=(a,10), 2=(b,25), 4=(d,40); key 3 deleted
    full = RollupCatalog(spark, str(tmp_path / "full"))
    full.define("c", mb.typed_state(), dims, meas)
    req = (["grp"], ["n", "total", "mx", "users"])
    got = sorted(map(tuple, mb.rewrite(*req).collect()))
    want = sorted(map(tuple, full.rewrite(*req).collect()))
    assert got == want
    assert [r[0] for r in got] == ["a", "b", "d"]  # b lost key 3, got key 2


def test_streaming_cdc_rollup_replay_after_state_commit(spark, tmp_path, feed_dir):
    """The nasty crash window: the STATE merge committed but the cube
    fold did not. On replay, before == after in the live state, so a
    naive fold would be a silent no-op and the cube would stay stale
    forever. The pre-batch version pin must time-travel to the true
    pre-batch state and fold the real delta."""
    from python_cdc_spark.plans.rollup import RollupCatalog
    from python_cdc_spark.schemas import CDC_EVENT_SCHEMA
    from python_cdc_spark.streaming.apply_stream import StreamingApplyChanges
    from python_cdc_spark.streaming.rollup_stream import (
        StreamingCdcRollupMaintenance,
    )

    dims, meas, typed = _cdc_rollup_cfg()
    mb = StreamingCdcRollupMaintenance(
        spark, str(tmp_path / "state"), str(tmp_path / "cube"), "c",
        dims, meas, typed, n_buckets=8,
    )
    mb.init_cube(fingerprint="seed")

    def ev_df(events):
        rows = [dict(e, ts=None) for e in events]
        return spark.createDataFrame(rows, CDC_EVENT_SCHEMA).withColumn(
            "key",
            F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"]),
        )

    b1 = ev_df([
        _ev(1, "INSERT", "1", {"id": "1", "grp": "a", "v": "10"}),
        _ev(2, "INSERT", "2", {"id": "2", "grp": "b", "v": "20"}),
    ])
    mb.merge_batch(b1, batch_id=0)

    # simulate the crash: batch 1's STATE commit happens (base-class
    # merge, bypassing the cube fold), with the pin journaled first —
    # exactly the on-disk picture a real crash leaves behind
    b2 = ev_df([
        _ev(3, "UPDATE", "2", {"id": "2", "grp": "a", "v": "25"}),
        _ev(4, "DELETE", "1", None),
    ])
    pins = mb._pins()
    pins["1"] = mb.store.version
    mb._write_pins(pins)
    StreamingApplyChanges.merge_batch(mb, b2, batch_id=1)

    # replay of batch 1 (what the checkpoint does after restart)
    mb.merge_batch(b2, batch_id=1)

    full = RollupCatalog(spark, str(tmp_path / "full"))
    full.define("c", mb.typed_state(), dims, meas)
    req = (["grp"], ["n", "total", "mx", "users"])
    got = sorted(map(tuple, mb.rewrite(*req).collect()))
    want = sorted(map(tuple, full.rewrite(*req).collect()))
    assert got == want
    assert [r[0] for r in got] == ["a"]  # only key 2 lives, in grp a
    assert "1" not in mb._pins()  # pin cleaned up after the fold


def _truncate_ev_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "lsn bigint, operation string, schema string, table string, "
        "new_values map<string,string>, key string",
    )


def test_streaming_truncate_in_later_batch_clears_other_buckets(spark, tmp_path):
    """A TRUNCATE arriving in a batch AFTER keys were committed to other
    buckets must still clear them: the truncate event is keyless (hashes
    to one bucket), so the merge must widen to every live bucket — the
    round-6 regression where truncated rows survived in buckets the
    truncate batch never touched (ADVICE r6 #1)."""
    from python_cdc_spark.streaming.apply_stream import StreamingApplyChanges

    applier = StreamingApplyChanges(spark, str(tmp_path / "state"), "key", n_buckets=8)
    b1 = [(i, "INSERT", "public", "users", {"id": str(i)}, str(i)) for i in range(1, 13)]
    applier.merge_batch(_truncate_ev_df(spark, b1), 0)
    state1 = applier.store.read()
    n_live_buckets = state1.select("bucket").distinct().count()
    assert n_live_buckets > 1  # keys really spread over several buckets
    assert applier.current_state().count() == 12

    # batch 2: truncate (keyless) + one post-truncate insert
    b2 = [
        (100, "TRUNCATE", "public", "users", None, None),
        (101, "INSERT", "public", "users", {"id": "42"}, "42"),
    ]
    applier.merge_batch(_truncate_ev_df(spark, b2), 1)
    assert {r["key"] for r in applier.current_state().collect()} == {"42"}

    # batch 3: a LATE pre-truncate event must not resurrect (tombstones
    # at the truncate LSN survived in every bucket)
    b3 = [(50, "UPDATE", "public", "users", {"id": "3", "name": "GHOST"}, "3")]
    applier.merge_batch(_truncate_ev_df(spark, b3), 2)
    assert {r["key"] for r in applier.current_state().collect()} == {"42"}


def test_streaming_truncate_scoped_to_its_table(spark, tmp_path):
    """In a multi-table stream (events carry schema/table), a TRUNCATE
    of one table must not tombstone another table's rows — and equal key
    values in different tables must not merge (ADVICE r6 #2)."""
    from python_cdc_spark.streaming.apply_stream import StreamingApplyChanges

    applier = StreamingApplyChanges(spark, str(tmp_path / "state"), "key", n_buckets=8)
    b1 = [
        (1, "INSERT", "public", "users", {"id": "1", "name": "Ada"}, "1"),
        (2, "INSERT", "public", "orders", {"id": "1", "total": "9"}, "1"),
        (3, "INSERT", "public", "orders", {"id": "2", "total": "5"}, "2"),
    ]
    applier.merge_batch(_truncate_ev_df(spark, b1), 0)
    # batch 2 (later batch, different buckets): truncate users ONLY
    applier.merge_batch(
        _truncate_ev_df(spark, [(10, "TRUNCATE", "public", "users", None, None)]), 1
    )
    state = {
        (r["table"], r["key"]): dict(r["values"])
        for r in applier.current_state().collect()
    }
    assert set(state) == {("orders", "1"), ("orders", "2")}
    assert state[("orders", "1")]["total"] == "9"  # same key value as users.1

    # users re-insert after its truncate lives; orders untouched
    applier.merge_batch(
        _truncate_ev_df(
            spark, [(20, "INSERT", "public", "users", {"id": "1", "name": "B"}, "1")]
        ),
        2,
    )
    keys = {(r["table"], r["key"]) for r in applier.current_state().collect()}
    assert keys == {("orders", "1"), ("orders", "2"), ("users", "1")}


def test_streaming_mode_mismatch_raises(spark, tmp_path):
    """A stream must be consistently single- or multi-table: merging a
    schema/table-less batch into multi-table state (or vice versa) is a
    key-space mismatch and must fail loudly, not fold wrong."""
    from python_cdc_spark.streaming.apply_stream import StreamingApplyChanges

    applier = StreamingApplyChanges(spark, str(tmp_path / "state"), "key", n_buckets=4)
    applier.merge_batch(
        _truncate_ev_df(spark, [(1, "INSERT", "public", "users", {"id": "1"}, "1")]), 0
    )
    bare = spark.createDataFrame(
        [(2, "INSERT", {"id": "2"}, "2")],
        "lsn bigint, operation string, new_values map<string,string>, key string",
    )
    with pytest.raises(ValueError, match="single-table or\n?.*multi-table|multi-table"):
        applier.merge_batch(bare, 1)


@pytest.mark.parametrize(
    "sketch_cls, fmt",
    [("StreamingSketchAggregator", 2), ("MgStreamSketch", 1)],
)
def test_sketch_state_format_mismatch_refuses_resume(
    spark, tmp_path, sketch_cls, fmt
):
    """Sketch state written under an older hash geometry must refuse to
    resume (ADVICE r6 #5): folding masked-key placements into unmasked
    registers never errors, it just corrupts estimates. The format tag
    in _meta.json is the guard; an unversioned meta is treated as the
    old format."""
    import json as _json

    from python_cdc_spark.streaming import sketch_stream

    path = str(tmp_path / "sk")
    agg = getattr(sketch_stream, sketch_cls)(spark, path, "k")
    agg.fold_batch(spark.createDataFrame([(1,), (2,)], "k bigint"), batch_id=0)
    meta_path = os.path.join(path, "_meta.json")
    meta = _json.load(open(meta_path))
    assert meta["format"] == fmt  # stamped on every commit

    # tamper: simulate state persisted by the pre-mask build
    del meta["format"]
    with open(meta_path, "w") as f:
        _json.dump(meta, f)
    fresh = getattr(sketch_stream, sketch_cls)(spark, path, "k")
    with pytest.raises(ValueError, match="format"):
        fresh.fold_batch(
            spark.createDataFrame([(3,)], "k bigint"), batch_id=1
        )


def test_streaming_cdc_rollup_replay_algebraic_cube(spark, tmp_path):
    """The crash-window pin for a sum/count-only cube: the ALGEBRAIC
    fold consumes signed minus images derived from the pre-batch state,
    so it needs the version pin on replay just like the sketch path —
    and with sketch cubes now routed to the rebuild plan
    (state_complete), this is the case that keeps the pin machinery
    genuinely exercised."""
    from python_cdc_spark.plans.rollup import RollupCatalog
    from python_cdc_spark.schemas import CDC_EVENT_SCHEMA
    from python_cdc_spark.streaming.apply_stream import StreamingApplyChanges
    from python_cdc_spark.streaming.rollup_stream import (
        StreamingCdcRollupMaintenance,
    )

    dims = {"grp": "grp"}
    meas = {"n": ("count", "1"), "total": ("sum", "v")}
    typed = {"grp": "string", "v": "double"}
    mb = StreamingCdcRollupMaintenance(
        spark, str(tmp_path / "state"), str(tmp_path / "cube"), "c",
        dims, meas, typed, n_buckets=8,
    )
    mb.init_cube(fingerprint="seed")

    def ev_df(events):
        rows = [dict(e, ts=None) for e in events]
        return spark.createDataFrame(rows, CDC_EVENT_SCHEMA).withColumn(
            "key",
            F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"]),
        )

    b1 = ev_df([
        _ev(1, "INSERT", "1", {"id": "1", "grp": "a", "v": "10"}),
        _ev(2, "INSERT", "2", {"id": "2", "grp": "b", "v": "20"}),
    ])
    mb.merge_batch(b1, batch_id=0)

    b2 = ev_df([
        _ev(3, "UPDATE", "2", {"id": "2", "grp": "a", "v": "25"}),
        _ev(4, "DELETE", "1", None),
    ])
    # crash: state commit lands with the pin journaled, cube fold lost
    pins = mb._pins()
    pins["1"] = mb.store.version
    mb._write_pins(pins)
    StreamingApplyChanges.merge_batch(mb, b2, batch_id=1)

    mb.merge_batch(b2, batch_id=1)  # checkpoint replay

    full = RollupCatalog(spark, str(tmp_path / "full"))
    full.define("c", mb.typed_state(), dims, meas)
    req = (["grp"], ["n", "total"])
    got = sorted(map(tuple, mb.rewrite(*req).collect()))
    want = sorted(map(tuple, full.rewrite(*req).collect()))
    assert got == want
    assert got[0][0] == "a" and got[0][1] == 1  # only key 2 lives
    assert "1" not in mb._pins()


def test_wire_stream_origin_filter_across_batches(spark, tmp_path):
    """``origin='none'`` must drop a replayed transaction even when its
    ``O`` marker and its DML arrive in DIFFERENT micro-batches (the
    carry persists beside the registry), reset at the next local BEGIN,
    survive a restart, and re-seed correctly on crash replay (the
    before/after batch pin)."""
    import datetime as dt
    import time

    from python_cdc_spark.cdc.pgoutput import (
        encode_begin,
        encode_commit,
        encode_insert,
        encode_origin,
        encode_relation,
    )
    from python_cdc_spark.streaming import StreamingWireApplyChanges

    t0 = dt.datetime(2024, 1, 1)

    def frames_df(frames, lsn0):
        rows = [
            (lsn0 + i, t0 + dt.timedelta(seconds=lsn0 + i), bytearray(f))
            for i, f in enumerate(frames)
        ]
        return spark.createDataFrame(
            rows, "lsn bigint, ts timestamp, frame binary"
        )

    wire_dir = str(tmp_path / "wire")
    # batch 0: local insert 1, then a replayed txn OPENS (B + O, no DML yet)
    frames_df(
        [
            encode_relation(9, "public", "users", ["id"]),
            encode_begin(),
            encode_insert(9, ["1"]),
            encode_commit(),
            encode_begin(),
            encode_origin(99, "region_b"),
        ],
        lsn0=1,
    ).coalesce(1).write.mode("append").parquet(wire_dir)
    time.sleep(1.1)
    # batch 1: the replayed txn's DML + commit, then a local txn
    batch1_frames = [
        encode_insert(9, ["2"]),
        encode_insert(9, ["3"]),
        encode_commit(),
        encode_begin(),
        encode_insert(9, ["4"]),
        encode_commit(),
    ]
    frames_df(batch1_frames, lsn0=10).coalesce(1).write.mode(
        "append"
    ).parquet(wire_dir)

    stream = (
        spark.readStream.schema("lsn bigint, ts timestamp, frame binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(wire_dir)
    )
    applier = StreamingWireApplyChanges(
        spark,
        str(tmp_path / "state"),
        key_extractor=lambda ev: ev.withColumn(
            "key",
            F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"]),
        ),
        n_buckets=4,
        origin="none",
    )
    q = applier.start_wire(stream, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)

    state = sorted(r["key"] for r in applier.current_state().collect())
    assert state == ["1", "4"]  # 2 and 3 were region_b's replay — dropped

    # crash replay of batch 1: the pin re-seeds with the carry it saw
    # the FIRST time (region_b), not its own post-batch marker (local)
    applier.merge_wire_batch(frames_df(batch1_frames, lsn0=10), batch_id=1)
    assert applier._origin_state["before"] == "region_b"
    assert applier._origin_state["after"] is None
    assert sorted(r["key"] for r in applier.current_state().collect()) == [
        "1", "4"
    ]

    # restart: a fresh applier resumes the persisted carry
    fresh = StreamingWireApplyChanges(
        spark,
        str(tmp_path / "state"),
        key_extractor=lambda ev: ev,
        n_buckets=4,
        origin="none",
    )
    assert fresh._origin_state["after"] is None


def _wire_feed(spark, n_txns: int, lsn0: int = 1):
    """A fixed pgoutput feed as an in-memory (lsn, ts, frame) batch: one
    Relation frame, then ``n_txns`` two-insert transactions over 50
    keys, every third one replayed from a remote origin."""
    import datetime as dt

    from python_cdc_spark.cdc.pgoutput import (
        encode_begin,
        encode_commit,
        encode_insert,
        encode_origin,
        encode_relation,
    )

    frames = [encode_relation(9, "public", "users", ["id", "v"])]
    for t in range(n_txns):
        frames.append(encode_begin())
        if t % 3 == 0:
            frames.append(encode_origin(99, "region_b"))
        frames += [
            encode_insert(9, [str((2 * t + j) % 50), f"{lsn0}-{t}-{j}"])
            for j in range(2)
        ]
        frames.append(encode_commit())
    t0 = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(lsn0 + i, t0, bytearray(f)) for i, f in enumerate(frames)],
        "lsn bigint, ts timestamp, frame binary",
    )


def _wire_applier(spark, state_path, **kw):
    from python_cdc_spark.streaming import StreamingWireApplyChanges

    return StreamingWireApplyChanges(
        spark,
        state_path,
        key_extractor=lambda ev: ev.withColumn(
            "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
        ),
        n_buckets=4,
        **kw,
    )


def test_wire_batch_creates_missing_state_parent(spark, tmp_path):
    """The registry and origin-carry files sit beside the state path and
    are saved before the store's first commit: a state path whose parent
    directory does not exist yet must not fail the first batch."""
    state_path = str(tmp_path / "not_yet" / "state")
    applier = _wire_applier(spark, state_path, origin="none")
    applier.merge_wire_batch(_wire_feed(spark, 6), batch_id=0)
    assert os.path.isfile(state_path + "_registry.json")
    assert os.path.isfile(state_path + "_origin.json")
    # txns 0 and 3 were region_b's replays (keys 0, 1, 6, 7)
    assert sorted(int(r["key"]) for r in applier.current_state().collect()) == [
        2, 3, 4, 5, 8, 9, 10, 11,
    ]


def _wire_batch_receipt(spark, tmp_path, origin, warm=1):
    """``(jobs, stages)`` of one warm wire micro-batch merged with
    ``origin`` after ``warm`` batches have left prior state, the state's
    row count and the merge's commit kind."""
    sc = spark.sparkContext
    applier = _wire_applier(spark, str(tmp_path / "state"), origin=origin)
    for bid in range(warm):  # prior state
        applier.merge_wire_batch(_wire_feed(spark, 60, lsn0=1 + 1000 * bid), bid)
    batch = _wire_feed(spark, 60, lsn0=1000 * warm + 1)
    group = f"wire_receipt_{origin}_{warm}"  # the tracker keeps finished groups
    sc.setJobGroup(group, group)
    try:
        applier.merge_wire_batch(batch, batch_id=warm)
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)
    kind = applier.last_batch["commit_kind"]
    return (len(jobs), stages), applier.current_state().count(), kind


def test_wire_batch_job_count(spark, tmp_path):
    """Job receipt for one warm wire micro-batch (origin filter on): the
    frames are sorted and materialised once, lazily, by the one
    per-partition pre-decode scan, which answers the lag stamp, row
    count, TRUNCATE presence, R frames, LSN ranges and each partition's
    last origin marker; the decode resolves and filters origins in its
    own loop (no separate origins plan); the batch is folded on its own
    and committed as a delta run (no prior-state read, no bucket probe),
    and the array fold starts from the store's bucket clustering, so
    Spark drops the commit's repartition and the fold runs inside the
    executor-width write tasks. Each of those lost jobs or stages; a
    re-added scan, re-run or shuffle shows up here."""
    receipt, n_state, kind = _wire_batch_receipt(spark, tmp_path, "none")
    assert kind == "run"
    assert receipt == (4, 6)
    assert n_state == 50


def test_wire_batch_job_count_origin_any(spark, tmp_path):
    """The same receipt with origin filtering off (the catch-up path):
    the per-partition scan only changes shape, and nothing is added."""
    receipt, n_state, kind = _wire_batch_receipt(spark, tmp_path, "any")
    assert kind == "run"
    assert receipt == (4, 6)
    assert n_state == 50


def test_wire_batch_job_count_compaction(spark, tmp_path, monkeypatch):
    """Job receipt for a compacting wire batch: the overdue buckets'
    base and runs are scanned into the batch's one fold and written
    back as a new base by the same write, so compaction adds scans to
    the write's map stage but no job or stage of its own."""
    from python_cdc_spark.streaming import state_store

    monkeypatch.setattr(state_store, "_MAX_RUNS", 0)  # one run is overdue
    receipt, n_state, kind = _wire_batch_receipt(spark, tmp_path, "any", warm=2)
    assert kind == "compaction"
    assert receipt == (4, 6)
    assert n_state == 50


def _origin_feed():
    """``(lsn, frame)`` rows of seven transactions over keys 1-7: local
    ones, two replayed from ``region_b`` and one from ``region_c``,
    whose ``O`` frame shares its LSN with (and is listed after) the
    transaction's first DML."""
    from python_cdc_spark.cdc.pgoutput import (
        encode_begin,
        encode_commit,
        encode_delete,
        encode_insert,
        encode_origin,
        encode_relation,
        encode_update,
    )

    txns = [
        (None, [encode_insert(9, ["1", "a"]), encode_insert(9, ["2", "a"])]),
        ("region_b", [encode_insert(9, ["3", "b"]), encode_update(9, ["1", "b"])]),
        (None, [encode_insert(9, ["4", "c"]), encode_delete(9, ["2", None])]),
        ("region_c", [encode_insert(9, ["5", "d"])]),
        (None, [encode_update(9, ["3", "e"])]),
        ("region_b", [encode_insert(9, ["6", "f"]), encode_delete(9, ["4", None])]),
        (None, [encode_insert(9, ["7", "g"])]),
    ]
    rows = [(1, encode_relation(9, "public", "users", ["id", "v"]))]
    for origin, dml in txns:
        rows.append((len(rows) + 1, encode_begin()))
        if origin == "region_c":
            lsn = len(rows) + 1  # marker and first DML share one LSN
            rows += [(lsn, dml[0]), (lsn, encode_origin(7, origin))]
            dml = dml[1:]
        elif origin is not None:
            rows.append((len(rows) + 1, encode_origin(7, origin)))
        rows += [(len(rows) + 1 + i, f) for i, f in enumerate(dml)]
        rows.append((len(rows) + 1, encode_commit()))
    return rows


def _frames_in_parts(spark, rows, cuts, path):
    """``rows`` as an (lsn, ts, frame) file-source batch with one parquet
    file, hence one partition, per slice between consecutive ``cuts``."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    schema = "lsn bigint, ts timestamp, frame binary"
    bounds = [0, *cuts, len(rows)]
    for a, b in zip(bounds, bounds[1:]):
        spark.createDataFrame(
            [(lsn, t0, bytearray(f)) for lsn, f in rows[a:b]], schema
        ).coalesce(1).write.mode("append").parquet(path)
    out = spark.read.schema(schema).parquet(path)
    assert out.rdd.getNumPartitions() == len(bounds) - 1
    return out


def test_in_decode_origins_match_as_of_path(spark, tmp_path, monkeypatch):
    """The wire path resolves origins inside the decode from per-partition
    seeds; the state it merges must equal the kept as-of path
    (annotate_origins -> filter_by_origin -> apply_changes_all_tables)
    over the same frames. Every batch has a transaction spanning two
    partitions and a marker sharing its DML's LSN; the cases add
    overlapping partitions (round-robin, so the batch is range-
    repartitioned), an allow-list, a replayed batch id (re-seeded from
    ``before``) and a widened batch."""
    from python_cdc_spark.cdc.apply import apply_changes_all_tables
    from python_cdc_spark.cdc.origins import annotate_origins, filter_by_origin
    from python_cdc_spark.cdc.pgoutput import decode_frames
    from python_cdc_spark.streaming import apply_stream as ap

    rows = _origin_feed()
    o_at = [i for i, (_, f) in enumerate(rows) if f[:1] == b"O"]
    # cut right after region_b's first O (its DML is in the next
    # partition), inside the next local txn, and after the last O
    cuts = [o_at[0] + 1, o_at[0] + 5, o_at[-1] + 1]
    whole = _frames_in_parts(spark, rows, cuts, str(tmp_path / "whole"))

    def state(df):
        return sorted(
            (r["key"], r["values"]["v"], r["last_lsn"]) for r in df.collect()
        )

    def as_of(origin):
        events = decode_frames(spark, whole)
        kept = filter_by_origin(
            annotate_origins(spark, events, whole, bucket_width=8), origin
        ).drop("origin")
        return state(apply_changes_all_tables(
            kept.withColumn("key", F.coalesce(
                F.col("new_values")["id"], F.col("old_values")["id"]
            ))
        ))

    overlapped = []
    real_overlapping = ap._overlapping
    monkeypatch.setattr(
        ap, "_overlapping",
        lambda parts: overlapped.append(real_overlapping(parts)) or overlapped[-1],
    )
    first, rest = rows[: o_at[-1] + 1], rows[o_at[-1] + 1:]
    cases = {
        "overlap": ("none", [(0, whole.repartition(3))]),
        "allow": (["region_b"], [(0, whole)]),
        "replay": ("none", [
            (0, _frames_in_parts(spark, first, [o_at[0] + 1], str(tmp_path / "a"))),
            (1, _frames_in_parts(spark, rest, [], str(tmp_path / "b"))),
            (1, spark.read.parquet(str(tmp_path / "b"))),
        ]),
    }
    want = {"none": as_of("none"), "allow": as_of(["region_b"])}
    assert [k for k, _, _ in want["none"]] == ["1", "3", "4", "7"]
    assert [k for k, _, _ in want["allow"]] == ["1", "3", "6", "7"]
    for name, (origin, batches) in cases.items():
        applier = _wire_applier(spark, str(tmp_path / name), origin=origin)
        for bid, frames in batches:
            applier.merge_wire_batch(frames, batch_id=bid)
        got = state(applier.current_state())
        assert got == want["allow" if name == "allow" else "none"], name
        if name == "overlap":
            assert overlapped[-1] is True
        if name == "replay":
            assert applier._origin_state == {
                "batch_id": 1, "before": "region_b", "after": None
            }
    monkeypatch.setattr(ap, "_WIDE_DECODE_ROWS", 1)
    applier = _wire_applier(spark, str(tmp_path / "wide"), origin="none")
    applier.merge_wire_batch(whole, batch_id=0)
    assert state(applier.current_state()) == want["none"]


def test_malformed_origin_name_does_not_fail_the_batch(spark, tmp_path):
    """An ``O`` frame whose name is not UTF-8 must not fail the micro-batch
    (a streaming query would fail on it at every restart): the name
    decodes with U+FFFD replacement on both the in-decode and the
    Spark-side path, and the transaction still counts as remote."""
    import datetime as dt
    import struct

    from python_cdc_spark.cdc.origins import annotate_origins
    from python_cdc_spark.cdc.pgoutput import (
        decode_frames,
        encode_begin,
        encode_insert,
        encode_relation,
    )

    bad_o = b"O" + struct.pack(">q", 7) + b"\xff\xfeabc\x00"
    frames = [
        encode_relation(9, "public", "users", ["id", "v"]),
        encode_begin(), bad_o, encode_insert(9, ["1", "remote"]),
        encode_begin(), encode_insert(9, ["2", "local"]),
    ]
    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i + 1, t0, bytearray(f)) for i, f in enumerate(frames)],
        "lsn bigint, ts timestamp, frame binary",
    ).coalesce(1)
    name = "\ufffd\ufffdabc"
    applier = _wire_applier(spark, str(tmp_path / "state"), origin="none")
    applier.merge_wire_batch(df, batch_id=0)
    assert [r["key"] for r in applier.current_state().collect()] == ["2"]
    ann = annotate_origins(spark, decode_frames(spark, df), df)
    assert sorted(
        (r["new_values"]["id"], r["origin"]) for r in ann.collect()
    ) == [("1", name), ("2", None)]
    kept = decode_frames(spark, df, origin_seeds={0: None}, origin=[name])
    assert kept.count() == 2


def test_fold_plan_auto_detects_bucket_skew(spark, tmp_path, monkeypatch):
    """The merge picks the single-shuffle array plan for a balanced
    batch and falls back to the skew-safe argmax plan when one bucket
    holds a hot key's burst (the probe's histogram is the free skew
    signal). State must be correct regardless of which plan merged
    which batch."""
    from python_cdc_spark.schemas import CDC_EVENT_SCHEMA
    from python_cdc_spark.streaming import StreamingApplyChanges
    from python_cdc_spark.streaming import apply_stream

    monkeypatch.setattr(apply_stream, "_AUTO_SKEW_MIN_ROWS", 10)  # test size
    applier = StreamingApplyChanges(
        spark, str(tmp_path / "state"), "key", n_buckets=4
    )

    def events_df(rows):
        import datetime as dt

        rows = [{**r, "ts": dt.datetime(2024, 1, 1)} for r in rows]
        return spark.createDataFrame(rows, CDC_EVENT_SCHEMA).withColumn(
            "key", F.col("new_values")["id"]
        )

    balanced = [
        _ev(i + 1, "INSERT", str(i % 20), {"id": str(i % 20), "v": str(i)})
        for i in range(40)
    ]
    applier.merge_batch(events_df(balanced), 0)
    assert applier.last_fold_plan == "array_fold"

    hot = [
        _ev(100 + i, "UPDATE", "7", {"id": "7", "v": f"h{i}"})
        for i in range(60)
    ] + [_ev(200, "INSERT", "3", {"id": "3", "v": "cold"})]
    applier.merge_batch(events_df(hot), 1)
    assert applier.last_fold_plan == "argmax"

    applier.merge_batch(
        events_df([_ev(300, "UPDATE", "7", {"id": "7", "v": "final"})]), 2
    )
    assert applier.last_fold_plan == "array_fold"

    state = {
        r["key"]: dict(r["values"])
        for r in applier.current_state().collect()
    }
    assert state["7"] == {"id": "7", "v": "final"}
    assert state["3"] == {"id": "3", "v": "cold"}
    assert len(state) == 20


def test_streaming_pca_matches_batch(spark, tmp_path):
    """PCA suffstats are an exact monoid, so the model after streaming
    the corpus in two micro-batches must equal a one-shot fit over the
    union — same eigenvalues, same sign-canonicalized components.
    Replay of a committed batch id must be a no-op, and a restarted
    instance must resume the persisted state."""
    import numpy as np

    from python_cdc_spark.io import table
    from python_cdc_spark.operators.pca import pca_fit
    from python_cdc_spark.streaming import StreamingPCA

    emb = table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    feed_dir = str(tmp_path / "feed")
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(feed_dir)
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(feed_dir)

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    pca = StreamingPCA(spark, str(tmp_path / "state"), dims=64, k=8)
    q = pca.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    want = pca_fit(emb, "embedding", k=8, dims=64)
    got = pca.model()
    assert got["n"] == want["n"] == emb.count()
    assert np.allclose(got["mean"], want["mean"], atol=1e-12)
    assert np.allclose(
        got["explained_variance"], want["explained_variance"], atol=1e-9
    )
    assert np.allclose(got["components"], want["components"], atol=1e-7)

    # crash-replay: re-folding an already-committed batch id is a no-op
    n_before = pca.rows_folded()
    pca.fold_batch(emb, batch_id=0)
    assert pca.rows_folded() == n_before

    # restart resumes persisted state; dims mismatch refuses
    fresh = StreamingPCA(spark, str(tmp_path / "state"), dims=64, k=8)
    assert fresh.rows_folded() == n_before
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dims"):
        StreamingPCA(spark, str(tmp_path / "state"), dims=32).fold_batch(
            emb, batch_id=99
        )


def test_streaming_apply_across_batches_matches_one_shot_fold(spark, tmp_path):
    """Streamed == batch: merging a feed batch by batch must end in the
    one-shot batch fold's state of the concatenated feed (the pinned
    cross-batch semantics). Two feeds:

    - MULTI-TABLE: colliding key values across tables stay separate,
      TOAST sentinels carry prior columns forward across batches, and a
      late event below a key's delete horizon must NOT resurrect the
      row.
    - SINGLE-TABLE: a late event below a delete horizon, then a TRUNCATE
      batch that clears every key committed before it."""
    from python_cdc_spark.cdc.apply import (
        apply_changes_with_tombstones,
        apply_changes_with_tombstones_multi,
    )
    from python_cdc_spark.schemas import UNCHANGED_SENTINEL
    from python_cdc_spark.streaming.apply_stream import StreamingApplyChanges

    def stream_and_fold(name, batches, to_df, fold, key):
        applier = StreamingApplyChanges(
            spark, str(tmp_path / name), "key", n_buckets=8
        )
        fed = []
        for bid, rows in enumerate(batches):
            applier.merge_batch(to_df(rows), bid)
            fed += rows
            got = {
                key(r): dict(r["values"])
                for r in applier.current_state().collect()
            }
            full = fold(to_df(fed), "key", plan="array_fold").filter(
                F.col("values").isNotNull()
            )
            assert got == {key(r): dict(r["values"]) for r in full.collect()}, bid
        return got

    b1 = [
        (1, "INSERT", "public", "users", {"id": "1", "name": "Ada", "mail": "a@x"}, "1"),
        (2, "INSERT", "public", "orders", {"id": "1", "total": "9"}, "1"),
        (3, "INSERT", "public", "users", {"id": "2", "name": "Lin"}, "2"),
        (4, "DELETE", "public", "users", None, "2"),
    ]
    b2 = [
        # sentinel: mail must carry forward from batch 1
        (10, "UPDATE", "public", "users",
         {"id": "1", "name": "Ada L", "mail": UNCHANGED_SENTINEL}, "1"),
        # same key VALUE, other table: must not touch users.1
        (11, "UPDATE", "public", "orders", {"id": "1", "total": "12"}, "1"),
        # LATE event below users.2's delete horizon (del_lsn=4): the
        # carried tombstone keeps it dead
        (2, "UPDATE", "public", "users", {"id": "2", "name": "GHOST"}, "2"),
    ]
    got = stream_and_fold(
        "multi", [b1, b2], lambda rows: _truncate_ev_df(spark, rows),
        apply_changes_with_tombstones_multi, lambda r: (r["table"], r["key"]),
    )
    assert got == {
        ("users", "1"): {"id": "1", "name": "Ada L", "mail": "a@x"},
        ("orders", "1"): {"id": "1", "total": "12"},
    }

    s1 = [
        (1, "INSERT", "public", "t", {"id": "1", "v": "a"}, "1"),
        (2, "INSERT", "public", "t", {"id": "2", "v": "b"}, "2"),
        (3, "DELETE", "public", "t", None, "2"),
        (4, "INSERT", "public", "t", {"id": "3", "v": "c"}, "3"),
    ]
    s2 = [
        (10, "UPDATE", "public", "t", {"id": "1", "v": "a2"}, "1"),
        (2, "UPDATE", "public", "t", {"id": "2", "v": "GHOST"}, "2"),  # late
        (11, "INSERT", "public", "t", {"id": "4", "v": "d"}, "4"),
    ]
    s3 = [
        (20, "TRUNCATE", "public", "t", None, None),
        (21, "INSERT", "public", "t", {"id": "5", "v": "e"}, "5"),
    ]
    got = stream_and_fold(
        "single", [s1, s2, s3],
        lambda rows: _truncate_ev_df(spark, rows).drop("schema", "table"),
        apply_changes_with_tombstones, lambda r: r["key"],
    )
    assert got == {"5": {"id": "5", "v": "e"}}


def _layered_applier(spark, path):
    from python_cdc_spark.streaming.apply_stream import StreamingApplyChanges

    return StreamingApplyChanges(spark, path, "key", n_buckets=4)


def _mor_ev(lsn, op, key, **vals):
    """One single-table event row for ``_truncate_ev_df``."""
    image = None if op in ("DELETE", "TRUNCATE") else {"id": key, **vals}
    return (lsn, op, "public", "t", image, key)


def _one_shot(spark, rows):
    """The one-shot fold's live rows of ``rows``: ``{key: values}``."""
    from python_cdc_spark.cdc.apply import apply_changes_with_tombstones_multi

    full = apply_changes_with_tombstones_multi(
        _truncate_ev_df(spark, rows), "key", plan="array_fold"
    ).filter(F.col("values").isNotNull())
    return {r["key"]: dict(r["values"]) for r in full.collect()}


def _live(df):
    return {
        r["key"]: dict(r["values"])
        for r in df.filter(F.col("values").isNotNull()).collect()
    }


def test_merge_on_read_matches_one_shot_fold_across_compactions(
    spark, tmp_path, monkeypatch
):
    """Merge-on-read state equals the one-shot fold of the concatenated
    feed after every batch, across run commits and the compactions
    between them: TOAST sentinels resolve across runs and across a
    compaction, a late event below a key's delete horizon (it reaches
    below the committed LSN, so its batch compacts) does not resurrect
    the key, and a TRUNCATE clears keys held in runs. ``read_at`` of
    every earlier version returns the state as it was then, across the
    compactions."""
    from python_cdc_spark.schemas import UNCHANGED_SENTINEL as U
    from python_cdc_spark.streaming import state_store

    monkeypatch.setattr(state_store, "_MAX_RUNS", 1)  # two runs compact
    applier = _layered_applier(spark, str(tmp_path / "state"))
    applier.retention = 20  # keep every version for read_at
    e = _mor_ev
    batches = [
        [e(1, "INSERT", "1", a="a1", b="b1"), e(2, "INSERT", "2", a="a2", b="b2"),
         e(3, "INSERT", "3", a="a3", b="b3"), e(4, "DELETE", "3")],
        [e(10, "UPDATE", "1", a="a1'", b=U), e(11, "INSERT", "4", a="a4", b="b4")],
        [e(20, "UPDATE", "1", a=U, b="b1'"), e(21, "UPDATE", "2", a=U, b=U)],
        [e(30, "UPDATE", "4", a="a4'", b=U), e(31, "INSERT", "5", a="a5", b="b5")],
        [e(40, "UPDATE", "1", a="a1''", b=U)],
        [e(2, "UPDATE", "3", a="GHOST", b="GHOST")],  # late, below del_lsn 4
        [e(60, "UPDATE", "2", a="a2'", b=U)],
        [e(70, "TRUNCATE", None), e(71, "INSERT", "6", a="a6", b="b6")],
        [e(80, "UPDATE", "1", a=U, b="b1''"), e(81, "UPDATE", "6", a=U, b="b6'")],
    ]
    fed, kinds, history = [], [], []
    for bid, rows in enumerate(batches):
        applier.merge_batch(_truncate_ev_df(spark, rows), bid)
        fed += rows
        kinds.append(applier.last_batch["commit_kind"])
        got = _live(applier.current_state())
        assert got == _one_shot(spark, fed), bid
        history.append((applier.store.version, got))
    assert kinds[:2] == ["base", "run"]
    assert "compaction" in kinds[2:4]  # key 1's bucket: two runs
    assert kinds[5] == "compaction"  # the late event
    assert kinds[6] == "run"
    assert kinds[7] == "compaction"  # the TRUNCATE
    assert kinds[8] == "run"
    assert got == {"1": {"id": "1", "b": "b1''"}, "6": {"id": "6", "a": "a6", "b": "b6'"}}
    for version, state in history:
        assert _live(applier.store.read_at(version)) == state, version


def test_replayed_run_batch_duplicates_its_run(spark, tmp_path):
    """A batch whose run was committed but whose streaming commit was
    not is replayed under the same batch id: it commits the same run
    again, and the duplicate folds to the same state."""
    from python_cdc_spark.schemas import UNCHANGED_SENTINEL as U

    applier = _layered_applier(spark, str(tmp_path / "state"))
    b0 = [_mor_ev(i, "INSERT", str(i), a=f"a{i}", b=f"b{i}") for i in range(1, 9)]
    b1 = [_mor_ev(10 + i, "UPDATE", str(i), a=U, b=f"b{i}'") for i in range(1, 5)]
    b1.append(_mor_ev(20, "DELETE", "5"))
    applier.merge_batch(_truncate_ev_df(spark, b0), 0)
    applier.merge_batch(_truncate_ev_df(spark, b1), 1)
    once = _live(applier.current_state())
    applier.merge_batch(_truncate_ev_df(spark, b1), 1)  # the replay
    assert applier.last_batch["commit_kind"] == "run"
    manifest = json.load(open(os.path.join(applier.state_path, "_manifest.json")))
    assert max(len(e["runs"]) for e in manifest["buckets"].values()) == 2
    assert _live(applier.current_state()) == once == _one_shot(spark, b0 + b1)


def test_crash_mid_compaction_keeps_layers_and_replay_converges(
    spark, tmp_path, monkeypatch
):
    """A compacting commit that dies after its version is written and
    before the manifest swap leaves the base and runs it was folding
    readable as they were; the replayed batch compacts them and
    converges on the one-shot fold, and the crashed attempt's version
    dir is vacuum fodder."""
    from python_cdc_spark.schemas import UNCHANGED_SENTINEL as U
    from python_cdc_spark.streaming import state_store
    from python_cdc_spark.streaming.state_store import BucketedStateStore

    monkeypatch.setattr(state_store, "_MAX_RUNS", 0)  # one run compacts
    applier = _layered_applier(spark, str(tmp_path / "state"))
    b0 = [_mor_ev(i, "INSERT", str(i), a=f"a{i}", b=f"b{i}") for i in range(1, 9)]
    b1 = [_mor_ev(10 + i, "UPDATE", str(i), a=U, b=f"b{i}'") for i in range(1, 9)]
    b2 = [_mor_ev(30, "UPDATE", "1", a="a1'", b=U), _mor_ev(31, "DELETE", "2")]
    applier.merge_batch(_truncate_ev_df(spark, b0), 0)
    applier.merge_batch(_truncate_ev_df(spark, b1), 1)
    assert applier.last_batch["commit_kind"] == "run"
    before = _live(applier.current_state())
    crashed = os.path.join(applier.state_path, f"v{applier.store.version + 1}")

    def crash(self, manifest, expected_token):
        raise RuntimeError("crash before the manifest swap")

    with monkeypatch.context() as m:
        m.setattr(BucketedStateStore, "_save_manifest", crash)
        with pytest.raises(RuntimeError, match="crash"):
            applier.merge_batch(_truncate_ev_df(spark, b2), 2)
    assert os.path.isdir(crashed)  # written, never committed
    assert _live(applier.current_state()) == before == _one_shot(spark, b0 + b1)
    applier.merge_batch(_truncate_ev_df(spark, b2), 2)  # the replay
    assert applier.last_batch["commit_kind"] == "compaction"
    assert _live(applier.current_state()) == _one_shot(spark, b0 + b1 + b2)
    assert not os.path.isdir(crashed)


def test_wire_registry_pin_survives_crash_before_commit(spark, tmp_path, monkeypatch):
    """A wire batch publishes the relation registry its ``R`` frames
    produce before its state commit. If it dies in between, the replayed
    batch must still decode its pre-DDL frames with the schema in force
    before its own ``R`` frame (the registry is pinned per batch id like
    the origin carry), not the one its first attempt published. Both
    carry files are format-stamped."""
    import datetime as dt

    from python_cdc_spark.cdc.pgoutput import encode_insert, encode_relation
    from python_cdc_spark.streaming.state_store import BucketedStateStore

    t0 = dt.datetime(2024, 1, 1)

    def frames_df(rows):
        return spark.createDataFrame(
            [(lsn, t0, bytearray(f)) for lsn, f in rows],
            "lsn bigint, ts timestamp, frame binary",
        )

    b0 = frames_df([
        (1, encode_relation(9, "public", "accounts", ["id", "amount"])),
        (2, encode_insert(9, ["1", "10"])),
    ])
    b1 = frames_df([
        (10, encode_insert(9, ["3", "30"])),
        (11, encode_relation(9, "public", "accounts", ["id", "amount_usd"])),
        (12, encode_insert(9, ["2", "20"])),
    ])
    path = str(tmp_path / "state")
    _wire_applier(spark, path).merge_wire_batch(b0, batch_id=0)

    def crash(self, *a, **kw):
        raise RuntimeError("crash before the state commit")

    with monkeypatch.context() as m:
        m.setattr(BucketedStateStore, "commit", crash)
        with pytest.raises(RuntimeError, match="crash"):
            _wire_applier(spark, path).merge_wire_batch(b1, batch_id=1)
    fresh = _wire_applier(spark, path)  # restart after the crash
    fresh.merge_wire_batch(b1, batch_id=1)
    assert _live(fresh.current_state()) == {
        "1": {"id": "1", "amount": "10"},
        "3": {"id": "3", "amount": "30"},
        "2": {"id": "2", "amount_usd": "20"},
    }
    assert fresh.registry[9]["columns"] == ["id", "amount_usd"]
    for suffix in ("_registry.json", "_origin.json"):
        with open(path + suffix, "w") as fh:
            json.dump({"batch_id": None, "before": None, "after": None}, fh)
        with pytest.raises(ValueError, match="format"):
            _wire_applier(spark, path)
        os.remove(path + suffix)


def test_streaming_ann_index_matches_rebuild_and_replays_safely(spark, tmp_path):
    """StreamingAnnIndex over availableNow micro-batches == from-scratch
    placement of the post-apply corpus under the same frozen quantizer;
    a replayed micro-batch converges to the same state (evict-then-place
    idempotence, no batch ledger needed); drift counters advance."""
    import json as _json
    import os

    from python_cdc_spark.io import table
    from python_cdc_spark.operators.similarity import kmeans_assign
    from python_cdc_spark.queries.llm_similarity import (
        _DIMS,
        _fitted_cdc_base_centroids,
    )
    from python_cdc_spark.streaming.ann_stream import StreamingAnnIndex

    sf = "/root/testdata/sf0.001"
    e = table(spark, sf, "embeddings").select("vec_id", "embedding")
    base = e.filter(F.col("vec_id") % 10 != 0)
    cent = _fitted_cdc_base_centroids(spark, sf)
    payload = {"head_val": F.col("embedding")[0].cast("double")}

    si = StreamingAnnIndex(
        spark, str(tmp_path / "idx"), payload=payload, dims=_DIMS, exact=True
    )
    n0 = si.bootstrap(base, cent)
    assert n0 == base.count()

    vecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id").isin([10, 20, 17, 27, 13, 23])).collect()
    }
    batch1 = [
        {"op": "I", "vec_id": 10, "embedding": vecs[10]},
        {"op": "U", "vec_id": 17, "embedding": vecs[17][::-1]},
        {"op": "D", "vec_id": 13, "embedding": vecs[13]},
    ]
    batch2 = [
        {"op": "I", "vec_id": 20, "embedding": vecs[20]},
        {"op": "U", "vec_id": 27, "embedding": vecs[27][::-1]},
        {"op": "D", "vec_id": 23, "embedding": vecs[23]},
    ]
    ddir = tmp_path / "deltas"
    ddir.mkdir()
    for i, rows in enumerate([batch1, batch2]):
        with open(ddir / f"d{i}.json", "w") as fh:
            for row in rows:
                fh.write(_json.dumps(row) + "\n")

    schema = "op string, vec_id long, embedding array<double>"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(ddir))
    )
    q = si.start(stream, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)

    got = {
        int(r["neighbor_id"]): (int(r["cell"]), float(r["head_val"]))
        for r in si.lists().collect()
    }
    # from-scratch placement of the post-apply corpus, same quantizer
    final = (
        e.filter((F.col("vec_id") % 10 != 0) | F.col("vec_id").isin([10, 20]))
        .filter(~F.col("vec_id").isin([13, 23]))
        .withColumn(
            "embedding",
            F.when(
                F.col("vec_id").isin([17, 27]), F.reverse("embedding")
            ).otherwise(F.col("embedding")),
        )
    )
    expect = {
        int(r["vec_id"]): (
            int(r["cell"]),
            float(r["embedding"][0]),
        )
        for r in kmeans_assign(
            final, cent, "vec_id", "embedding", exact=True, dims=_DIMS
        ).collect()
    }
    assert got == expect
    assert si.appended_fraction() > 0

    # replay idempotence: re-merge batch2 directly — state must not move
    v_before = si.store.version
    replay = spark.createDataFrame(
        [(r["op"], r["vec_id"], r["embedding"]) for r in batch2], schema
    )
    si.merge_batch(replay)
    again = {
        int(r["neighbor_id"]): (int(r["cell"]), float(r["head_val"]))
        for r in si.lists().collect()
    }
    assert again == got
    assert si.store.version == v_before + 1  # a new version, same contents

    # a replayed batch id re-commits its cells but is not counted again
    # toward the drift fraction (the stream merged batch ids 0 and 1)
    frac = si.appended_fraction()
    si.merge_batch(replay, batch_id=1)
    assert si.appended_fraction() == frac

    # probe path: partition-pruned read returns exactly the probed cells
    some_cell = next(iter(got.values()))[0]
    probed = si.probe_cells([some_cell])
    assert {int(r["cell"]) for r in probed.collect()} == {some_cell}


def test_streaming_bm25_index_matches_rebuild_and_replays_safely(spark, tmp_path):
    """StreamingBm25Index over availableNow micro-batches == a from-
    scratch build over the post-apply corpus (postings, doclen, df,
    globals, and the search ranking); a redelivered micro-batch is a
    ledger no-op — counter arithmetic can never double-count."""
    from python_cdc_spark.operators.bm25_index import (
        build_bm25_index,
        read_df_table,
        read_doclen,
        read_globals,
        read_postings,
        read_ptr,
    )
    from python_cdc_spark.streaming.bm25_stream import StreamingBm25Index

    base = [
        (1, "join scan filter alpha beta"),
        (2, "merge join gamma"),
        (3, "scan scan scan delta"),
        (4, "filter epsilon"),
        (5, "zeta eta theta"),
    ]
    batch1 = [
        ("DELETE", 3, None),
        ("UPDATE", 2, "filter filter iota"),
        ("INSERT", 9, "join merge kappa"),
    ]
    batch2 = [
        ("INSERT", 11, "scan filter lambda"),
        ("UPDATE", 9, "join join mu"),
        ("DELETE", 4, None),
    ]
    post = [
        (1, "join scan filter alpha beta"),
        (2, "filter filter iota"),
        (5, "zeta eta theta"),
        (9, "join join mu"),
        (11, "scan filter lambda"),
    ]
    terms = ("join", "scan", "filter", "merge")

    si = StreamingBm25Index(spark, str(tmp_path / "idx"))
    assert si.bootstrap(spark.createDataFrame(base, "doc_id long, text string")) == 5

    ddir = tmp_path / "deltas"
    ddir.mkdir()
    for i, rows in enumerate([batch1, batch2]):
        with open(ddir / f"d{i}.json", "w") as fh:
            for op, did, text in rows:
                fh.write(json.dumps({"operation": op, "doc_id": did, "text": text}) + "\n")
        # the file source orders batches by MODIFICATION TIME, and CDC
        # folds do not commute — pin the intended order explicitly
        os.utime(ddir / f"d{i}.json", (1_000_000 + i, 1_000_000 + i))
    schema = "operation string, doc_id long, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(ddir))
    )
    q = si.start(stream, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)

    def snap(path):
        g = read_globals(spark, path)
        return {
            "postings": sorted(
                map(tuple, read_postings(spark, path).drop("bucket").collect())
            ),
            "doclen": sorted(
                map(tuple, read_doclen(spark, path).drop("bucket").collect())
            ),
            "df": sorted(map(tuple, read_df_table(spark, path).collect())),
            "globals": (int(g["n_docs"]), int(g["sum_dl"])),
        }

    rebuilt = str(tmp_path / "rebuilt")
    build_bm25_index(
        spark, spark.createDataFrame(post, "doc_id long, text string"), rebuilt
    )
    assert snap(si.path) == snap(rebuilt)
    got = sorted(map(tuple, si.search(terms, 20).collect()))
    from python_cdc_spark.operators.bm25_index import bm25_search

    assert got == sorted(map(tuple, bm25_search(spark, rebuilt, terms, 20).collect()))

    # redelivery: same batch id, same rows (the Structured Streaming
    # contract) — the ledger makes it a no-op, pointer untouched
    ptr = read_ptr(si.path)
    replay = spark.createDataFrame(batch2, schema)
    # batch ids were assigned in file order: d1.json was batch 1
    stats = si.merge_batch(replay, batch_id=1)
    assert stats["replayed"]
    assert read_ptr(si.path) == ptr
    assert snap(si.path) == snap(rebuilt)


def test_streaming_bm25_multi_image_batch_compacts_or_refuses(spark, tmp_path):
    """A micro-batch carrying two ops for one doc_id must not merge both
    images' tokens into one document (the r11 ADVICE finding): with a
    seq column the batch compacts to the LAST image per key; without
    one it is refused, never folded wrong."""
    import pytest
    from python_cdc_spark.operators.bm25_index import build_bm25_index, read_postings
    from python_cdc_spark.streaming.bm25_stream import StreamingBm25Index

    base = [(1, "join scan"), (2, "merge join")]
    schema = "operation string, doc_id long, text string, lsn long"
    multi = [
        ("INSERT", 7, "first image alpha", 10),
        ("UPDATE", 7, "second image beta", 11),
        ("DELETE", 2, None, 12),
    ]

    si = StreamingBm25Index(spark, str(tmp_path / "idx"), seq_col="lsn")
    si.bootstrap(spark.createDataFrame(base, "doc_id long, text string"))
    si.merge_batch(spark.createDataFrame(multi, schema), batch_id=0)
    post = {
        (r["doc_id"], r["token"]): r["tf"]
        for r in read_postings(spark, si.path).collect()
    }
    # only the LAST image of doc 7 landed; doc 2 is gone
    assert (7, "second") in post and (7, "first") not in post
    assert (7, "alpha") not in post and (7, "beta") in post
    assert not any(d == 2 for d, _ in post)

    si2 = StreamingBm25Index(spark, str(tmp_path / "idx2"))  # no seq_col
    si2.bootstrap(spark.createDataFrame(base, "doc_id long, text string"))
    with pytest.raises(ValueError, match="multiple images"):
        si2.merge_batch(
            spark.createDataFrame(multi, schema).drop("lsn"), batch_id=0
        )
    # a clean one-image batch still folds without a seq column
    ok = si2.merge_batch(
        spark.createDataFrame([("INSERT", 9, "gamma delta")],
                              "operation string, doc_id long, text string"),
        batch_id=1,
    )
    assert not ok["replayed"] and ok["new_docs"] == 1
