"""BucketedStateStore: crash-atomic manifest commits over immutable
version dirs (the fix for round-1's non-atomic dynamic overwrite)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from python_cdc_spark.streaming.state_store import BucketedStateStore


def _df(spark, rows):
    return spark.createDataFrame(rows, "key string, val long, bucket int")


@pytest.fixture()
def store(spark, tmp_path):
    return BucketedStateStore(spark, str(tmp_path / "state"))


def test_roundtrip_and_bucket_pruned_read(spark, store):
    store.commit(_df(spark, [("a", 1, 0), ("b", 2, 1)]), touched=[0, 1])
    got = {(r["key"], r["val"], r["bucket"]) for r in store.read().collect()}
    assert got == {("a", 1, 0), ("b", 2, 1)}
    only0 = store.read([0]).collect()
    assert [(r["key"], r["bucket"]) for r in only0] == [("a", 0)]


def _files_per_bucket(df):
    """bucket -> the set of data files its rows were read from."""
    out: dict[int, set[str]] = {}
    for r in df.select("bucket", F.input_file_name().alias("f")).collect():
        out.setdefault(r["bucket"], set()).add(r["f"])
    return out


def test_commit_writes_one_file_per_task(spark, store):
    """``commit`` owns the bucket clustering: whatever partitioning the
    caller's plan left, a version is written by ``min(touched,
    parallelism)`` tasks — fewer tasks than buckets here — as at most
    that many parquet files, and each bucket's rows sit in exactly one
    of them."""
    sc = spark.sparkContext
    par = sc.defaultParallelism
    n = 2 * par + 1
    # round-robin buckets over contiguous input slices: every bucket
    # arrives spread over all of the input partitions
    rows = [(f"k{i}", i, i % n) for i in range(10 * n)]
    df = spark.createDataFrame(rows, "key string, val long, bucket int")
    sc.setJobGroup("commit_layout", "commit_layout")
    try:
        v = store.commit(df, touched=list(range(n)))
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    write_job = max(tracker.getJobIdsForGroup("commit_layout"))
    write_stage = max(tracker.getJobInfo(write_job).stageIds)
    assert tracker.getStageInfo(write_stage).numTasks == par < n
    vdir = os.path.join(store.path, f"v{v}")
    parquet = [f for f in os.listdir(vdir) if f.endswith(".parquet")]
    assert 0 < len(parquet) <= min(n, par)
    assert not [d for d in os.listdir(vdir) if os.path.isdir(os.path.join(vdir, d))]
    per_bucket = _files_per_bucket(store.read())
    assert sorted(per_bucket) == list(range(n))
    assert all(len(files) == 1 for files in per_bucket.values()), per_bucket
    assert store.read().count() == 10 * n
    # a one-bucket commit is one task and one file
    v = store.commit(_df(spark, [("z", 1, 3)]), touched=[3])
    vdir = os.path.join(store.path, f"v{v}")
    assert len([f for f in os.listdir(vdir) if f.endswith(".parquet")]) == 1


def test_untouched_buckets_survive_later_commits(spark, store):
    store.commit(_df(spark, [("a", 1, 0), ("b", 2, 1)]), touched=[0, 1])
    store.commit(_df(spark, [("b", 20, 1)]), touched=[1])
    got = {(r["key"], r["val"]) for r in store.read().collect()}
    assert got == {("a", 1), ("b", 20)}
    manifest = json.load(open(os.path.join(store.path, "_manifest.json")))
    assert {b: e["base"] for b, e in manifest["buckets"].items()} == {"0": 1, "1": 2}
    assert all(e["runs"] == [] for e in manifest["buckets"].values())


def test_crash_before_manifest_swap_preserves_old_state(spark, store):
    store.commit(_df(spark, [("a", 1, 0)]), touched=[0])
    # simulate a crash mid-commit: the new version's files land on disk
    # but the process dies before the manifest rename
    _df(spark, [("a", 99, 0)]).write.parquet(os.path.join(store.path, "v2"))
    got = [(r["key"], r["val"]) for r in store.read().collect()]
    assert got == [("a", 1)]  # old manifest, old state — fully consistent
    # recovery: the orphan is unreferenced garbage, vacuum reclaims it
    removed = store.vacuum()
    assert removed == [os.path.join(store.path, "v2")]
    assert [(r["key"], r["val"]) for r in store.read().collect()] == [("a", 1)]


def test_emptied_bucket_leaves_manifest(spark, store):
    store.commit(_df(spark, [("a", 1, 0), ("b", 2, 1)]), touched=[0, 1])
    # bucket 0 folds to zero rows (e.g. every key fully expired)
    store.commit(_df(spark, [("b", 3, 1)]), touched=[0, 1])
    got = {(r["key"], r["val"]) for r in store.read().collect()}
    assert got == {("b", 3)}
    manifest = json.load(open(os.path.join(store.path, "_manifest.json")))
    assert "0" not in manifest["buckets"]


def test_vacuum_reclaims_superseded_versions(spark, store):
    store.commit(_df(spark, [("a", 1, 0)]), touched=[0])
    store.commit(_df(spark, [("a", 2, 0)]), touched=[0])
    removed = store.vacuum()
    assert removed == [os.path.join(store.path, "v1")]
    assert [(r["key"], r["val"]) for r in store.read().collect()] == [("a", 2)]


def test_empty_store_reads_none(store):
    assert store.read() is None
    assert store.read([0, 5]) is None
    assert store.vacuum() == []


def test_read_scans_only_versions_holding_wanted_buckets(spark, store):
    """A touched-bucket read opens only the version dirs the manifest
    maps those buckets to — the scan never opens a version that holds
    none of them."""
    store.commit(_df(spark, [("a", 1, 0), ("b", 2, 1), ("c", 3, 2)]), [0, 1, 2])
    store.commit(_df(spark, [("b", 20, 1)]), [1])
    files = {f for fs in _files_per_bucket(store.read([1])).values() for f in fs}
    assert files and all("/v2/" in f for f in files)
    files = {f for fs in _files_per_bucket(store.read([0, 2])).values() for f in fs}
    assert files and all("/v1/" in f for f in files)


def test_read_drops_stale_rows_of_rewritten_buckets(spark, store):
    """A version dir keeps the rows of buckets a later version rewrote;
    the per-version bucket filter must hide them from every read and
    time-travel read."""
    v1 = store.commit(
        _df(spark, [("a", 1, 0), ("b", 2, 1), ("c", 3, 2)]), [0, 1, 2]
    )
    v2 = store.commit(_df(spark, [("b", 20, 1)]), [1])

    def rows(df):
        return sorted((r["key"], r["val"], r["bucket"]) for r in df.collect())

    assert rows(store.read()) == [("a", 1, 0), ("b", 20, 1), ("c", 3, 2)]
    assert rows(store.read([0, 1])) == [("a", 1, 0), ("b", 20, 1)]
    assert rows(store.read_at(v1)) == [("a", 1, 0), ("b", 2, 1), ("c", 3, 2)]
    assert rows(store.read_at(v2)) == [("a", 1, 0), ("b", 20, 1), ("c", 3, 2)]


def test_legacy_manifest_is_refused(spark, store):
    """Manifests of the directory-per-bucket layout (no ``format``) are
    refused by name instead of being read through a fallback path."""
    os.makedirs(store.path)
    legacy = os.path.join(store.path, "_manifest.json")
    with open(legacy, "w") as fh:
        json.dump({"version": 1, "buckets": {"0": 1}}, fh)
    for op in (
        store.read,
        lambda: store.commit(_df(spark, [("a", 1, 0)]), [0]),
    ):
        with pytest.raises(ValueError, match="rebuild") as err:
            op()
        assert legacy in str(err.value)


def test_format2_manifest_is_refused(spark, store):
    """Manifests of the flat bucket -> version layout (``"format": 2``)
    are refused, not read as a base-only format-3 store."""
    os.makedirs(store.path)
    flat = os.path.join(store.path, "_manifest.json")
    with open(flat, "w") as fh:
        json.dump({"format": 2, "version": 1, "buckets": {"0": 1}}, fh)
    with pytest.raises(ValueError, match="format 2") as err:
        store.read()
    assert flat in str(err.value)


def test_bucket_filter_is_one_pushed_in(spark, store):
    """Each version's bucket filter reaches the parquet scan as one
    pushed ``In`` filter."""
    store.commit(_df(spark, [("a", 1, 0), ("b", 2, 1), ("c", 3, 2)]), [0, 1, 2])
    plan = store.read([0, 2])._jdf.queryExecution().executedPlan().toString()
    assert "In(bucket, [0,2])" in plan, plan


def test_run_commits_fold_on_read(spark, tmp_path):
    """A store with a fold appends a run commit's rows to the buckets
    that hold state (a bucket with none takes them as its base), reads
    a run-free bucket as it is and folds the others' layers, and
    replaces the ``compact`` buckets wholesale."""
    store = BucketedStateStore(
        spark, str(tmp_path / "state"),
        fold=lambda df: df.groupBy("bucket", "key").agg(F.max("val").alias("val")),
    )
    store.commit(_df(spark, [("a", 1, 0), ("b", 2, 1)]), [0, 1])
    v = store.commit(_df(spark, [("a", 5, 0), ("c", 3, 2)]), [0, 1, 2], compact=[])
    assert store.last_commit["kind"] == "run"
    manifest = json.load(open(os.path.join(store.path, "_manifest.json")))
    assert manifest["buckets"]["0"] == {"base": 1, "rows": 1, "runs": [v], "run_rows": 1}
    assert manifest["buckets"]["2"] == {"base": v, "rows": 1, "runs": [], "run_rows": 0}

    def rows(df):
        return sorted((r["key"], r["val"], r["bucket"]) for r in df.collect())

    assert rows(store.read()) == [("a", 5, 0), ("b", 2, 1), ("c", 3, 2)]
    assert store.overdue() == []
    store.commit(_df(spark, [("a", 7, 0)]), [0, 1, 2], compact=[])
    assert store.overdue() == [0]  # two run rows over a one-row base
    store.commit(_df(spark, [("a", 7, 0)]), [0, 1, 2], compact=[0])
    assert store.last_commit["kind"] == "compaction"
    assert store.overdue() == []
    assert rows(store.read()) == [("a", 7, 0), ("b", 2, 1), ("c", 3, 2)]


def test_crash_replay_commits_over_orphan(spark, store):
    """ADVICE r2 (updated r13): a crash after the v<N> write but before
    the manifest swap used to wedge the stream — the replayed
    micro-batch recomputed the same new_version and errorifexists
    threw. Under the stage-and-claim protocol the replay CLAIMS THE
    NEXT free slot instead of deleting the orphan (which could be a
    racing writer's committed dir); the orphan stays unreferenced for
    vacuum."""
    store.commit(_df(spark, [("a", 1, 0)]), touched=[0])
    # crash happened here: v2 on disk, manifest still at v1
    _df(spark, [("a", 99, 0)]).write.parquet(os.path.join(store.path, "v2"))
    # the replayed batch (possibly with different data) must succeed
    v = store.commit(_df(spark, [("a", 2, 0)]), touched=[0])
    assert v == 3  # claimed past the orphan, never reused/deleted it
    assert [(r["key"], r["val"]) for r in store.read().collect()] == [("a", 2)]
    removed = store.vacuum()
    assert any(r.endswith("v2") for r in removed)


def test_snapshot_written_after_commit_point(spark, store):
    """ADVICE r2: the per-version snapshot must not exist for a version
    the main manifest never committed — read_at may never serve
    uncommitted state."""
    store.commit(_df(spark, [("a", 1, 0)]), touched=[0])
    # simulate pre-fix debris: a snapshot for a version beyond the
    # committed manifest (crash between snapshot and swap, old layout)
    snap = os.path.join(store.path, "_manifest_v9.json")
    json.dump({"version": 9, "buckets": {"0": 9}}, open(snap, "w"))
    with pytest.raises(FileNotFoundError):
        store.read_at(9)


def test_vacuum_prunes_old_snapshots(spark, store):
    for i in range(4):
        store.commit(_df(spark, [("a", i, 0)]), touched=[0])
    snaps = lambda: sorted(
        f for f in os.listdir(store.path) if f.startswith("_manifest_v")
    )
    assert len(snaps()) == 4
    # retain_last=2 keeps 2 SUPERSEDED snapshots below the always-live
    # current (the unified maintenance semantics, aligned r13)
    store.vacuum(retain_last=2)
    assert snaps() == ["_manifest_v2.json", "_manifest_v3.json", "_manifest_v4.json"]
    store.vacuum()
    assert snaps() == ["_manifest_v4.json"]


def test_whole_state_read_is_built_once_per_commit(spark, tmp_path):
    """Reads between two commits reuse one whole-state frame (a layered
    read's fold plan is built once); a commit invalidates it, and
    bucket-restricted reads and ``read_at`` are never served from it."""
    store = BucketedStateStore(
        spark, str(tmp_path / "state"),
        fold=lambda df: df.groupBy("bucket", "key").agg(F.max("val").alias("val")),
    )

    def rows(df):
        return sorted((r["key"], r["val"], r["bucket"]) for r in df.collect())

    v1 = store.commit(_df(spark, [("a", 1, 0), ("b", 2, 1)]), [0, 1])
    store.commit(_df(spark, [("a", 5, 0)]), [0, 1], compact=[])  # a run
    first = store.read()
    assert store.read() is first
    assert rows(first) == [("a", 5, 0), ("b", 2, 1)]
    assert store.read([1]) is not first
    store.commit(_df(spark, [("c", 3, 1)]), [0, 1], compact=[])
    assert store.read() is not first
    assert rows(store.read()) == [("a", 5, 0), ("b", 2, 1), ("c", 3, 1)]
    assert rows(store.read_at(v1)) == [("a", 1, 0), ("b", 2, 1)]


def test_time_travel_read_at(spark, tmp_path):
    """read_at(v) must reproduce the state as of commit v while the
    retention window keeps its files; vacuum(retain_last) preserves
    exactly that window."""
    import pytest

    from python_cdc_spark.streaming.state_store import BucketedStateStore

    store = BucketedStateStore(spark, str(tmp_path / "st"))
    df1 = spark.createDataFrame([(0, "a", 1)], ["bucket", "k", "x"])
    v1 = store.commit(df1, [0])
    df2 = spark.createDataFrame([(0, "a", 2), (1, "b", 9)], ["bucket", "k", "x"])
    v2 = store.commit(df2, [0, 1])
    store.vacuum(retain_last=2)

    at1 = {(r["k"], r["x"]) for r in store.read_at(v1).collect()}
    at2 = {(r["k"], r["x"]) for r in store.read_at(v2).collect()}
    assert at1 == {("a", 1)}
    assert at2 == {("a", 2), ("b", 9)}

    with pytest.raises(FileNotFoundError):
        store.read_at(99)

    # zero-retention vacuum reclaims v1's superseded bucket data
    store.vacuum()
    cur = {(r["k"], r["x"]) for r in store.read().collect()}
    assert cur == at2
