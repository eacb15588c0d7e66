"""Property-based test: apply_changes vs a sequential reference
interpreter over randomized CDC event sequences (SURVEY.md §5.2).

The reference model replays events one at a time in lsn order exactly as
a single-threaded consumer applying rows to a dict would — the ground
truth the distributed fold must reproduce under any partitioning.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from python_cdc_spark.cdc.apply import apply_changes
from python_cdc_spark.schemas import CDC_EVENT_SCHEMA, UNCHANGED_SENTINEL

KEYS = ["k1", "k2", "k3"]
COLS = ["a", "b", "c"]
VALUES = ["x", "y", None, UNCHANGED_SENTINEL]

event_st = st.tuples(
    st.sampled_from(["INSERT", "UPDATE", "DELETE"]),
    st.sampled_from(KEYS),
    st.dictionaries(st.sampled_from(COLS), st.sampled_from(VALUES), max_size=3),
)


def reference_apply(events):
    """Sequential single-threaded interpreter (the semantics of a naive
    consumer applying the feed row by row)."""
    state: dict[str, dict] = {}
    for lsn, (op, key, vals) in enumerate(events, start=1):
        if op == "DELETE":
            state.pop(key, None)
            continue
        row = state.setdefault(key, {})
        row["id"] = key
        for c, v in vals.items():
            if v == UNCHANGED_SENTINEL:
                continue  # TOASTed column: keep prior value
            row[c] = v
    return {k: dict(v) for k, v in state.items()}


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(st.lists(event_st, min_size=1, max_size=25))
def test_apply_matches_sequential_reference(spark, events):
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for lsn, (op, key, vals) in enumerate(events, start=1):
        new = None if op == "DELETE" else {**vals, "id": key}
        old = {"id": key} if op != "INSERT" else None
        rows.append(
            (lsn, op, "public", "t", COLS, old, new, t0 + dt.timedelta(seconds=lsn))
        )
    df = spark.createDataFrame(rows, CDC_EVENT_SCHEMA).withColumn(
        "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
    )
    got = {
        r["key"]: {k: v for k, v in r["values"].items()}
        for r in apply_changes(df, "key").collect()
    }
    assert got == reference_apply(events)


def _norm_tomb(df):
    return sorted(
        (
            (
                r["key"],
                None if r["values"] is None else dict(r["values"]),
                r["last_lsn"],
                r["del_lsn"],
            )
            for r in df.collect()
        ),
        key=lambda t: (t[0] is not None, t[0] or ""),
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(st.lists(event_st, min_size=1, max_size=25))
def test_fold_plans_agree(spark, events):
    """The argmax and array_fold physical plans must be value-identical
    on the full tombstoned output (values incl. map entry order,
    last_lsn, del_lsn) for any event sequence."""
    from python_cdc_spark.cdc.apply import apply_changes_with_tombstones

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for lsn, (op, key, vals) in enumerate(events, start=1):
        new = None if op == "DELETE" else {**vals, "id": key}
        old = {"id": key} if op != "INSERT" else None
        rows.append(
            (lsn, op, "public", "t", COLS, old, new, t0 + dt.timedelta(seconds=lsn))
        )
    df = spark.createDataFrame(rows, CDC_EVENT_SCHEMA).withColumn(
        "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
    )
    a = apply_changes_with_tombstones(df, "key", plan="argmax")
    b = apply_changes_with_tombstones(df, "key", plan="array_fold")
    assert _norm_tomb(a) == _norm_tomb(b)


def test_fold_plans_agree_truncate_multi_and_hint(spark):
    """Plan agreement through the hard corners: multi-table feed with a
    TRUNCATE scoped to one table, TOAST sentinels, delete-then-reinsert,
    and the has_truncates=False fast path on a truncate-free feed."""
    from python_cdc_spark.cdc.apply import (
        apply_changes_with_tombstones,
        apply_changes_with_tombstones_multi,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ev(lsn, op, schema, table, key, new):
        return (
            lsn, op, schema, table, COLS,
            {"id": key} if key and op != "INSERT" else None,
            new, t0 + dt.timedelta(seconds=lsn),
        )

    rows = [
        ev(1, "INSERT", "public", "t1", "k1", {"id": "k1", "a": "1"}),
        ev(2, "INSERT", "public", "t2", "k1", {"id": "k1", "a": "9"}),
        ev(3, "UPDATE", "public", "t1", "k1",
           {"id": "k1", "a": UNCHANGED_SENTINEL, "b": "2"}),
        ev(4, "TRUNCATE", "public", "t1", None, None),
        ev(5, "INSERT", "public", "t1", "k2", {"id": "k2", "c": None}),
        ev(6, "DELETE", "public", "t2", "k1", None),
        ev(7, "INSERT", "public", "t2", "k1", {"id": "k1", "b": "7"}),
        # keyless row: its NULL key is a group of its own on both plans
        ev(8, "INSERT", "public", "t2", None, {"a": "2"}),
    ]
    df = spark.createDataFrame(rows, CDC_EVENT_SCHEMA).withColumn(
        "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
    )

    def norm_multi(out):
        return sorted(
            (
                (
                    r["schema"], r["table"], r["key"],
                    None if r["values"] is None else dict(r["values"]),
                    r["last_lsn"], r["del_lsn"],
                )
                for r in out.collect()
            ),
            key=lambda t: (t[0], t[1], t[2] is not None, t[2] or ""),
        )

    a = norm_multi(apply_changes_with_tombstones_multi(df, "key", plan="argmax"))
    b = norm_multi(
        apply_changes_with_tombstones_multi(df, "key", plan="array_fold")
    )
    assert a == b
    # t1's truncate tombstoned k1 but not t2's same-valued key
    as_map = {(s, t, k): v for s, t, k, v, _, _ in a}
    assert as_map[("public", "t1", "k1")] is None
    assert as_map[("public", "t2", "k1")] == {"id": "k1", "b": "7"}
    assert as_map[("public", "t1", "k2")] == {"id": "k2", "c": None}
    assert as_map[("public", "t2", None)] == {"a": "2"}

    # a carried bucket (a function of the key) changes no value, and
    # every output row, the truncate's synthesized deletes included,
    # keeps its own key's bucket
    bkt = F.pmod(F.xxhash64(F.col("key")), F.lit(4))
    for plan in ("argmax", "array_fold"):
        out = apply_changes_with_tombstones_multi(
            df.withColumn("bucket", bkt), "key", plan=plan, bucket_col="bucket"
        )
        assert norm_multi(out) == a
        assert out.filter(F.col("bucket") != bkt).count() == 0

    # truncate-free feed: the has_truncates=False fast path must equal
    # the unconditional-expansion default on both plans
    clean = df.filter(F.col("operation") != "TRUNCATE")
    for plan in ("argmax", "array_fold"):
        assert _norm_tomb(
            apply_changes_with_tombstones(clean, "key", plan=plan,
                                          has_truncates=False)
        ) == _norm_tomb(apply_changes_with_tombstones(clean, "key", plan=plan))
