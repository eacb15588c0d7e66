"""CDC semantics tests — the reference's golden sequence and the
edge cases from FIXTURES.md §A2."""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from python_cdc_spark.cdc import (
    apply_changes,
    golden_sequence_events,
    latest_per_key,
    scd2_history,
)
from python_cdc_spark.cdc.apply import apply_changes_typed
from python_cdc_spark.schemas import CDC_EVENT_SCHEMA

T0 = dt.datetime(2024, 1, 1)


def _ev(lsn, op, key, new=None, old=None, table="users"):
    return (
        lsn,
        op,
        "public",
        table,
        list((new or old or {"id": None}).keys()),
        old,
        new,
        T0 + dt.timedelta(seconds=lsn),
    )


def _feed(spark, rows):
    df = spark.createDataFrame(rows, CDC_EVENT_SCHEMA)
    # key extraction: id column of whichever image is present
    return df.withColumn(
        "key",
        F.coalesce(F.col("new_values").getItem("id"), F.col("old_values").getItem("id")),
    )


def test_golden_sequence_end_state_empty(spark):
    """INSERT → UPDATE → DELETE of one row leaves no state
    (reference's expected outcome, test_changes.py:73-91)."""
    feed = golden_sequence_events(spark).withColumn(
        "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
    )
    state = apply_changes(feed, "key")
    assert state.count() == 0


def test_golden_sequence_mid_state(spark):
    """After INSERT + UPDATE only, state reflects the update."""
    feed = golden_sequence_events(spark)
    feed = feed.filter(F.col("operation") != "DELETE").withColumn(
        "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
    )
    state = apply_changes_typed(
        feed, "key", {"name": "string", "status": "string", "email": "string"}
    ).collect()
    assert len(state) == 1
    row = state[0]
    assert row["name"] == "Updated User"
    assert row["status"] == "inactive"
    assert row["email"] == "test@example.com"


def test_unchanged_sentinel_coalesces(spark):
    """An UPDATE carrying '[unchanged]' must keep the prior value
    (pg_output_parser.py:112-113 semantics)."""
    rows = [
        _ev(1, "INSERT", None, new={"id": "1", "name": "a", "blob": "big-value"}),
        _ev(2, "UPDATE", None, new={"id": "1", "name": "b", "blob": "[unchanged]"}),
    ]
    state = apply_changes(_feed(spark, rows), "key").collect()[0]
    assert state["values"]["blob"] == "big-value"
    assert state["values"]["name"] == "b"


def test_delete_then_reinsert_fresh_row(spark):
    """Columns set before a DELETE must not leak into the re-inserted
    row (delete-boundary semantics)."""
    rows = [
        _ev(1, "INSERT", None, new={"id": "1", "name": "old", "extra": "stale"}),
        _ev(2, "DELETE", None, old={"id": "1"}),
        _ev(3, "INSERT", None, new={"id": "1", "name": "new"}),
    ]
    state = apply_changes(_feed(spark, rows), "key").collect()[0]
    assert state["values"] == {"id": "1", "name": "new"}


def test_key_only_old_image_delete(spark):
    """DELETE with a key-only ('K') old image still removes the row."""
    rows = [
        _ev(1, "INSERT", None, new={"id": "7", "name": "x"}),
        _ev(2, "DELETE", None, old={"id": "7"}),  # key-only image
    ]
    assert apply_changes(_feed(spark, rows), "key").count() == 0


def test_apply_changes_order_invariant(spark):
    """Permutation property (SURVEY.md §5.2): shuffling event arrival
    order must not change the final state — lsn defines order."""
    ops = [
        _ev(1, "INSERT", None, new={"id": "1", "name": "a", "v": "0"}),
        _ev(2, "UPDATE", None, new={"id": "1", "v": "1"}),
        _ev(3, "UPDATE", None, new={"id": "1", "name": "c", "v": "[unchanged]"}),
        _ev(4, "INSERT", None, new={"id": "2", "name": "z"}),
        _ev(5, "DELETE", None, old={"id": "2"}),
        _ev(6, "UPDATE", None, new={"id": "1", "v": "6"}),
        _ev(7, "INSERT", None, new={"id": "2", "name": "z2"}),
    ]
    rng = random.Random(42)
    baseline = None
    for _ in range(4):
        perm = ops[:]
        rng.shuffle(perm)
        state = apply_changes(_feed(spark, perm), "key")
        got = sorted(
            (r["key"], tuple(sorted(r["values"].items()))) for r in state.collect()
        )
        if baseline is None:
            baseline = got
        assert got == baseline
    assert baseline == [
        ("1", (("id", "1"), ("name", "c"), ("v", "6"))),
        ("2", (("id", "2"), ("name", "z2"))),
    ]


def test_split_fold_matches_apply_typed_on_both_halves(spark):
    """``apply_changes_typed_split`` folds both states in one aggregate:
    its ``before`` rows equal ``apply_changes_typed`` of the prefix and
    its ``after`` rows that of the whole feed, through TOAST
    carry-forward, a NULL cell, an all-sentinel UPDATE, delete and
    re-insert across the split, and keys on one side only; ``touched``
    marks the keys with events past the split."""
    from python_cdc_spark.cdc.apply import apply_changes_typed_split

    cols = {"name": "string", "v": "double"}
    feed = _feed(spark, [
        _ev(1, "INSERT", None, new={"id": "1", "name": "a", "v": "1.5"}),
        _ev(2, "INSERT", None, new={"id": "2", "name": "b", "v": "2"}),
        _ev(3, "UPDATE", None, new={"id": "1", "name": "[unchanged]", "v": None}),
        _ev(4, "DELETE", None, old={"id": "2"}),
        _ev(5, "UPDATE", None, new={"id": "1", "name": "[unchanged]", "v": "[unchanged]"}),
        _ev(6, "INSERT", None, new={"id": "2", "name": "c"}),
        _ev(7, "INSERT", None, new={"id": "3", "name": "d", "v": "7"}),
        _ev(8, "DELETE", None, old={"id": "1"}),
        _ev(9, "UPDATE", None, new={"id": "3", "v": "[unchanged]", "name": "e"}),
    ]).localCheckpoint()
    events = feed.select("lsn", "key").collect()

    def typed(df):
        return sorted(tuple(r) for r in apply_changes_typed(df, "key", cols).collect())

    def side(rows, name):
        return sorted(
            (r["key"], *[r[name][c] for c in ("last_lsn", *cols)])
            for r in rows
            if r[name]["live"]
        )

    after = typed(feed)
    for split in (2, 5, 7):  # before a delete, a sentinel-only update, a re-insert
        rows = apply_changes_typed_split(feed, "key", cols, split).collect()
        assert side(rows, "before") == typed(feed.filter(F.col("lsn") <= split))
        assert side(rows, "after") == after
        assert {r["key"] for r in rows if r["touched"]} == {
            e["key"] for e in events if e["lsn"] > split
        }


def test_scd2_versions(spark):
    rows = [
        _ev(1, "INSERT", None, new={"id": "1", "s": "a"}),
        _ev(2, "UPDATE", None, new={"id": "1", "s": "b"}),
        _ev(3, "DELETE", None, old={"id": "1"}),
    ]
    hist = scd2_history(_feed(spark, rows), "key").orderBy("version").collect()
    assert [r["version"] for r in hist] == [1, 2]
    assert hist[0]["valid_to"] == hist[1]["valid_from"]
    # the DELETE closes version 2
    assert hist[1]["valid_to"] is not None
    assert not hist[1]["is_current"]


def test_latest_per_key(spark):
    rows = [
        _ev(1, "INSERT", None, new={"id": "1", "s": "a"}),
        _ev(5, "UPDATE", None, new={"id": "1", "s": "b"}),
        _ev(3, "UPDATE", None, new={"id": "1", "s": "c"}),
    ]
    latest = latest_per_key(_feed(spark, rows), ["key"]).collect()
    assert len(latest) == 1
    assert latest[0]["lsn"] == 5


def test_apply_changes_all_tables(spark):
    """One pass materializes independent per-table states; same key in
    different tables does not collide. An empty-string key or schema (a
    valid Postgres text value) comes back as ``''``, not NULL, from both
    the live-row fold and the tombstoned multi-table fold."""
    from python_cdc_spark.cdc.apply import (
        apply_changes_all_tables,
        apply_changes_with_tombstones_multi,
    )

    blank_schema = _ev(5, "INSERT", None, new={"id": "2", "v": "blank-schema"})
    rows = [
        _ev(1, "INSERT", None, new={"id": "1", "v": "users-row"}, table="users"),
        _ev(2, "INSERT", None, new={"id": "1", "v": "orders-row"}, table="orders"),
        _ev(3, "DELETE", None, old={"id": "1"}, table="orders"),
        _ev(4, "INSERT", None, new={"id": "", "v": "blank-key"}),
        blank_schema[:2] + ("",) + blank_schema[3:],
    ]
    feed = _feed(spark, rows)
    got = {
        (r["schema"], r["table"], r["key"]): dict(r["values"])
        for r in apply_changes_all_tables(feed, "key").collect()
    }
    assert got == {
        ("public", "users", "1"): {"id": "1", "v": "users-row"},
        ("public", "users", ""): {"id": "", "v": "blank-key"},
        ("", "users", "2"): {"id": "2", "v": "blank-schema"},
    }
    multi = {
        (r["schema"], r["table"], r["key"]): (
            None if r["values"] is None else dict(r["values"])
        )
        for r in apply_changes_with_tombstones_multi(feed, "key").collect()
    }
    assert multi == {**got, ("public", "orders", "1"): None}


def test_scd2_sentinel_carry_forward(spark):
    """History rows carry TOASTed cells forward from prior versions —
    the literal '[unchanged]' sentinel never leaks into version values
    unless there is nothing to carry — and carry-forward resets at
    DELETE boundaries (a recreated row starts from scratch)."""
    rows = [
        _ev(1, "INSERT", None, new={"id": "1", "body": "blob-v1", "s": "a"}),
        _ev(2, "UPDATE", None, new={"id": "1", "body": "[unchanged]", "s": "b"}),
        _ev(3, "UPDATE", None, new={"id": "1", "body": "[unchanged]", "s": None}),
        _ev(4, "DELETE", None, old={"id": "1"}),
        # new generation: sentinel with no prior value stays literal
        _ev(5, "INSERT", None, new={"id": "1", "body": "[unchanged]", "s": "z"}),
    ]
    hist = scd2_history(_feed(spark, rows), "key").orderBy("version").collect()
    assert [dict(r["values"])["body"] for r in hist] == [
        "blob-v1",
        "blob-v1",  # carried from v1
        "blob-v1",  # still carried
        "[unchanged]",  # fresh generation: nothing to carry
    ]
    # genuine NULL is preserved, not skipped over, by the carry
    assert dict(hist[2]["values"])["s"] is None


def test_incremental_agg_lifecycle_edges(spark):
    """Signed-delta maintenance must survive group moves, delete
    retraction, double deletes, deletes of dead keys, and reinserts —
    and equal the aggregate of the final applied state."""
    from python_cdc_spark.cdc.ivm import incremental_group_aggregate

    rows = [
        # key 1: insert a=1.0, move to group b=2.0, delete, reinsert a=5.0
        ("1", 1, "INSERT", "a", "1.0"),
        ("1", 2, "UPDATE", "b", "2.0"),
        ("1", 3, "DELETE", None, None),
        ("1", 4, "INSERT", "a", "5.0"),
        # key 2: double delete (second delete retracts nothing)
        ("2", 5, "INSERT", "b", "3.0"),
        ("2", 6, "DELETE", None, None),
        ("2", 7, "DELETE", None, None),
        # key 3: delete of a never-live key (retracts nothing)
        ("3", 8, "DELETE", None, None),
        # key 4: plain update chain within one generation
        ("4", 9, "INSERT", "a", "10.0"),
        ("4", 10, "UPDATE", "a", "11.5"),
    ]
    feed = spark.createDataFrame(rows, ["key", "lsn", "operation", "g", "v"])
    got = {
        r["grp"]: (r["n_rows"], r["sum_value"])
        for r in incremental_group_aggregate(
            feed, key="key", lsn="lsn", op="operation",
            group_col="g", value_col="v",
        ).collect()
    }
    # final state: key1 -> (a, 5.0), key4 -> (a, 11.5); keys 2,3 dead;
    # group b nets to zero support and must be absent
    assert got == {"a": (2, 16.5)}


def test_cdc_origin_filtered_prepared_oracle(spark, duck):
    """The r8-prepared origin query already passes the driver-grade
    oracle diff at the correctness scale factor (tests/oracle.py is the
    strictest local reading of the driver's hash): the marker-machinery
    resolution must equal the oracle's direct per-transaction rule."""
    from python_cdc_spark.queries.cdc_queries import (
        CDC_ORIGIN_FILTERED_ORACLE,
        cdc_origin_filtered,
    )
    from tests.conftest import SF_CORRECT
    from tests.oracle import assert_matches_oracle

    df = cdc_origin_filtered(spark, SF_CORRECT)
    assert_matches_oracle(df, duck, CDC_ORIGIN_FILTERED_ORACLE,
                          name="cdc_origin_filtered")
