"""Apply-changes: materialize current state from a CDC event feed (E18).

This is the engine's flagship custom operator — the capability the whole
reference exists to enable but never implements (its sink just
pretty-prints events, ``/root/reference/cdc_consumer.py:58-68``).

Semantics (matching pgoutput behavior as decoded by
``/root/reference/utils/pg_output_parser.py``):

- Events are ordered per key by ``lsn`` (commit order; the reference
  tracks it as ``msg.data_start``, ``postgre_cdc_consumer.py:99``).
- DELETE removes the row; a later INSERT recreates it from scratch.
- INSERT/UPDATE set the columns present in ``new_values``; a value equal
  to the ``[unchanged]`` TOAST sentinel (``pg_output_parser.py:112-113``)
  leaves the previous value in place.
- UPDATE/DELETE may carry key-only old images (replica identity ``K``,
  ``pg_output_parser.py:175``) — apply therefore keys on the explicit
  ``key`` column, never on the full old image.

Scale design: pure DataFrame composition — three hash shuffles, all on
the row key (or key+column), no Python UDFs, no collect. Per-column
argmax (``max_by`` over lsn) instead of per-key ``collect_list`` keeps
hot keys from concentrating whole histories on one task: the explode
spreads a key's events across its columns, and AQE skew-join handles the
rest. At 100 TB the feed shuffles once on key for the delete-boundary
join and once on (key, column) for the argmax.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from python_cdc_spark.schemas import OP_DELETE, UNCHANGED_SENTINEL


def latest_per_key(
    df: DataFrame, key_cols: list[str], order_col: str = "lsn"
) -> DataFrame:
    """Latest event per key by ``order_col`` (window argmax, E9/E18
    building block). Deterministic for unique ``order_col``."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _delete_boundary(events: DataFrame, keys: list[str]) -> DataFrame:
    """Per key (``keys`` are the grouping columns): the lsn of the last
    DELETE (row lifetimes restart after it), or -1 if never deleted."""
    return (
        events.groupBy(*keys)
        .agg(
            F.coalesce(
                F.max(F.when(F.col("operation") == OP_DELETE, F.col("lsn"))),
                F.lit(-1).cast("long"),
            ).alias("__last_delete_lsn"),
        )
    )


def _join_null_safe(
    left: DataFrame, right: DataFrame, on: list[str], how: str = "inner"
) -> DataFrame:
    """``left.join(right, on, how)`` where a NULL in an ``on`` column
    matches NULL: a keyless row is a group of its own, as ``groupBy``
    (and so the array fold) treats it."""
    r = right.select(
        *[F.col(c).alias(f"__r_{c}") for c in on],
        *[c for c in right.columns if c not in on],
    )
    cond = [F.col(c).eqNullSafe(F.col(f"__r_{c}")) for c in on]
    return left.join(r, cond, how).drop(*[f"__r_{c}" for c in on])


def expand_truncates(
    events: DataFrame, key_col: str, bucket_col: str | None = None
) -> DataFrame:
    """Honor TRUNCATE events (pgoutput ``T`` frames decode to one
    keyless event per relation): a truncate at LSN T clears the whole
    relation, i.e. acts as a DELETE at T for EVERY key of that table.
    Expanding it into those per-key deletes (keys drawn from the feed
    itself, which in the streaming path includes the prior state
    re-encoded as events) lets the ordinary delete-boundary fold do the
    rest — including tombstones at T, so a late event below the
    boundary can never resurrect a truncated row across batches.

    Cost shape: the boundary table is O(tables) and broadcast; the key
    enumeration reuses the feed's own key set (grouped per table when
    ``schema``/``table`` columns are present, one global boundary
    otherwise). With no truncate in the feed the broadcast side is
    empty and AQE prunes the join to nothing.

    ``bucket_col`` (a function of the key) is carried into the DELETE
    rows it synthesizes, so a bucket-grouped fold sees them in their
    key's bucket."""
    carry = [bucket_col] if bucket_col else []
    is_t = F.col("operation") == "TRUNCATE"
    group_cols = [c for c in ("schema", "table") if c in events.columns]
    rest = events.filter(~is_t)
    t = events.filter(is_t)
    if group_cols:
        bnd = t.groupBy(*group_cols).agg(F.max("lsn").alias("__trunc_lsn"))
        keyed = (
            rest.select(*group_cols, key_col, *carry)
            .distinct()
            .join(F.broadcast(bnd), group_cols)
        )
    else:
        bnd = t.agg(F.max("lsn").alias("__trunc_lsn")).filter(
            F.col("__trunc_lsn").isNotNull()
        )
        keyed = (
            rest.select(key_col, *carry).distinct().crossJoin(F.broadcast(bnd))
        )
    # synthesize DELETE@T rows matching the feed's full schema
    cols = []
    for c, dtype in rest.dtypes:
        if c == key_col or c in group_cols or c in carry:
            cols.append(F.col(c))
        elif c == "lsn":
            cols.append(F.col("__trunc_lsn").cast(dtype).alias("lsn"))
        elif c == "operation":
            cols.append(F.lit(OP_DELETE).alias("operation"))
        else:
            cols.append(F.lit(None).cast(dtype).alias(c))
    return rest.unionByName(keyed.select(*cols))


def _fold_array(events: DataFrame, keys: list[str]) -> DataFrame:
    """Single-shuffle fold plan: ONE groupBy(key) — over ``keys``, the
    key led by the carried bucket when there is one, which a feed
    clustered on that bucket satisfies with no shuffle at all — collects
    each key's events and a JVM ``aggregate`` over the lsn-sorted array
    replays them — DELETE resets the accumulator (and records the boundary),
    a non-delete event merges its non-sentinel cells later-wins and
    advances ``last_lsn`` iff it carried any. Catalyst higher-order
    functions throughout; no Python, no extra shuffles.

    Trade-off vs the argmax plan (module docstring): one shuffle
    instead of three-plus-a-join, but ``collect_list`` concentrates a
    key's whole in-feed history on one task (no map-side combine, no
    per-column spreading), so the argmax plan remains the safer choice
    for feeds with adversarially hot keys. For the streaming state
    merge — where each batch contributes a bounded number of events per
    key and prior state exactly one — the array plan's fold measures
    ~1.7× faster: 2.34 vs 3.90 s per 125k-event batch
    (``BENCH_APPLY_PROFILE.json``)."""
    sent = UNCHANGED_SENTINEL.replace("'", "''")
    filt = (
        "map_filter(coalesce(e.new_values, cast(map() as "
        f"map<string,string>)), (k2, v2) -> v2 is null or v2 != '{sent}')"
    )
    step = f"""named_struct(
      'vals', case
          when e.operation = '{OP_DELETE}'
            then cast(map() as map<string,string>)
          when cardinality({filt}) > 0
            then map_concat(
              map_filter(acc.vals, (k, v) -> not map_contains_key({filt}, k)),
              {filt})
          else acc.vals end,
      'last_lsn', case
          when e.operation = '{OP_DELETE}' then cast(null as bigint)
          when cardinality({filt}) > 0 then e.lsn
          else acc.last_lsn end,
      'del_lsn', case
          when e.operation = '{OP_DELETE}' then e.lsn
          else acc.del_lsn end)"""
    fold = f"""aggregate(
      array_sort(
        collect_list(struct(lsn, operation, new_values)),
        (l, r) -> case when l.lsn < r.lsn then -1
                       when l.lsn > r.lsn then 1 else 0 end),
      named_struct(
        'vals', cast(map() as map<string,string>),
        'last_lsn', cast(null as bigint),
        'del_lsn', cast(null as bigint)),
      (acc, e) -> {step})"""
    return (
        events.groupBy(*keys)
        .agg(F.expr(fold).alias("__a"))
        .select(
            *keys,
            # sorted entries match the argmax plan's map key order, so
            # the two plans are value-identical downstream (the driver's
            # hash stringifies maps in entry order)
            F.expr(
                "case when cardinality(__a.vals) > 0 then "
                "map_from_entries(array_sort(map_entries(__a.vals))) end"
            ).alias("values"),
            F.col("__a.last_lsn").alias("last_lsn"),
            F.col("__a.del_lsn").alias("del_lsn"),
        )
    )


def _fold(
    events: DataFrame,
    keys: list[str],
    plan: str,
    has_truncates: bool | None,
    bucket_col: str | None,
) -> DataFrame:
    """The tombstoned fold both public entry points share. ``keys`` are
    the state's identity columns, the row key last (``[key]`` or
    ``[schema, table, key]``); the grouping is ``[bucket_col, *keys]``,
    so a feed clustered on the bucket folds with no exchange of its
    own. Returns ``(*keys, values, last_lsn, del_lsn[, bucket_col])``."""
    key_col = keys[-1]
    group = [bucket_col, *keys] if bucket_col else keys
    out = [
        *keys, "values", "last_lsn", "del_lsn",
        *([bucket_col] if bucket_col else []),
    ]
    if has_truncates is None or has_truncates:
        events = expand_truncates(events, key_col, bucket_col)
    if plan == "array_fold":
        return _fold_array(events, group).select(*out)
    if plan != "argmax":
        raise ValueError(f"unknown fold plan {plan!r}")
    boundaries = _delete_boundary(events, group)
    live = (
        _join_null_safe(
            events.filter(F.col("operation") != OP_DELETE), boundaries, group
        )
        .filter(F.col("lsn") > F.col("__last_delete_lsn"))
    )
    # Explode images to (key, column, value, lsn); the sentinel marks a
    # column NOT carried by this event, so it must not win the argmax.
    cells = (
        live.select(*group, "lsn", F.explode("new_values").alias("column", "value"))
        .filter(F.col("value").isNull() | (F.col("value") != UNCHANGED_SENTINEL))
    )
    latest_cells = cells.groupBy(*group, "column").agg(
        F.max_by("value", "lsn").alias("value"), F.max("lsn").alias("__lsn")
    )
    state = latest_cells.groupBy(*group).agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("column", "value")))
        ).alias("values"),
        F.max("__lsn").alias("last_lsn"),
    )
    return (
        _join_null_safe(boundaries, state, group, "left")
        .withColumn(
            "del_lsn",
            F.when(F.col("__last_delete_lsn") >= 0, F.col("__last_delete_lsn")),
        )
        .select(*out)
    )


def apply_changes_with_tombstones(
    events: DataFrame,
    key_col: str = "key",
    plan: str = "argmax",
    has_truncates: bool | None = None,
    bucket_col: str | None = None,
) -> DataFrame:
    """Fold a CDC feed into per-key state INCLUDING tombstones.

    Returns ``(key_col, values, last_lsn, del_lsn)`` where ``values`` is
    null for keys whose final standing event is DELETE, and ``del_lsn``
    records the last delete boundary. Tombstones are what make
    incremental (cross-batch) merging correct: a late event with
    ``lsn < del_lsn`` arriving in a later batch must NOT resurrect the
    row, so the boundary has to survive state collapsing.

    TRUNCATE events are honored by expansion into per-key deletes at
    the truncate LSN (``expand_truncates``) before the fold, so they
    inherit the same ordering, tombstone, and no-resurrection
    semantics. A caller that has already probed the feed (the streaming
    merge computes this per batch anyway) can pass
    ``has_truncates=False`` to skip the expansion's distinct-keys
    shuffle; ``None`` (the default) expands unconditionally — safe for
    any feed.

    ``plan`` selects the physical strategy: ``"argmax"`` (three keyed
    shuffles, hot-key histories spread across columns — the default)
    or ``"array_fold"`` (one shuffle, per-key event-array replay in
    JVM higher-order functions — see :func:`_fold_array` for when each
    wins). Both produce identical values.

    ``bucket_col`` names a column that is a function of the key (the
    state store's ``bucket``). It becomes the LEADING grouping column of
    every shuffle and is carried through the fold into the output (last
    column), so a feed already clustered on it folds with no exchange of
    its own and the result stays clustered for the store's commit. The
    values are the same with or without it.
    """
    return _fold(events, [key_col], plan, has_truncates, bucket_col)


def apply_changes_with_tombstones_multi(
    events: DataFrame,
    key_col: str = "key",
    plan: str = "argmax",
    has_truncates: bool | None = None,
    bucket_col: str | None = None,
) -> DataFrame:
    """Tombstoned fold for a MULTI-TABLE feed: state is keyed by
    ``(schema, table, key)``, so equal key values in different tables
    never merge and TRUNCATE expansion stays per-table (a ``T`` frame
    for one relation must not tombstone another relation's rows —
    pgoutput scopes ``T`` to the listed relids, which decode_frames
    preserves as one event per relation).

    The fold groups on the real ``schema``, ``table`` and ``key_col``
    columns — there is no composite key string — so every value,
    ``''`` included, comes back exactly as it went in. A NULL in any of
    the three is a group of its own on both plans (the argmax plan's
    joins are null-safe).

    Returns ``(schema, table, key_col, values, last_lsn, del_lsn)``,
    plus ``bucket_col`` when asked for. As in
    :func:`apply_changes_with_tombstones`, ``bucket_col`` leads the
    grouping and is carried through.
    """
    return _fold(
        events, ["schema", "table", key_col], plan, has_truncates, bucket_col
    )


def apply_changes_all_tables(
    events: DataFrame, key_col: str = "key", plan: str = "argmax"
) -> DataFrame:
    """Apply-changes for a multi-table feed in one pass: the live rows
    of :func:`apply_changes_with_tombstones_multi`, keyed by (schema,
    table, key), so one job materializes every replicated table — the
    shape of a real publication with many tables (the reference's
    ``init.sql:15`` publishes per-table; a fleet of tables shares the
    WAL stream). Output adds ``schema``/``table``.
    ``plan`` selects the physical fold strategy (argmax/array_fold, see
    :func:`apply_changes_with_tombstones` — value-identical, pinned by
    tests/test_apply_property.py).
    """
    return (
        apply_changes_with_tombstones_multi(events, key_col, plan=plan)
        .filter(F.col("values").isNotNull())
        .select("schema", "table", key_col, "values", "last_lsn")
    )


def apply_changes(
    events: DataFrame, key_col: str = "key", plan: str = "argmax"
) -> DataFrame:
    """Fold a CDC feed into current state: one row per live key with a
    ``values`` map of the latest non-sentinel column values.

    Returns ``(key_col, values: map<string,string>, last_lsn)``. Keys
    whose final standing event is DELETE (with no later INSERT/UPDATE)
    disappear — the reference's end state after its golden sequence
    (``test_changes.py:73-91``: the test row is gone).
    """
    return (
        apply_changes_with_tombstones(events, key_col, plan=plan)
        .filter(F.col("values").isNotNull())
        .select(key_col, "values", "last_lsn")
    )


def apply_changes_typed(
    events: DataFrame, key_col: str, columns: dict[str, str]
) -> DataFrame:
    """Apply-changes with the ``values`` map pivoted to typed columns.

    ``columns`` maps output column name → Spark cast type (the cast layer
    for the reference's untyped string values, SURVEY.md §7 hard-part 4).
    """
    state = apply_changes(events, key_col)
    cols: list[Column] = [F.col(key_col), F.col("last_lsn")]
    for name, dtype in columns.items():
        cols.append(F.col("values").getItem(name).cast(dtype).alias(name))
    return state.select(*cols)


def apply_changes_typed_split(
    events: DataFrame, key_col: str, columns: dict[str, str], split: int
) -> DataFrame:
    """:func:`apply_changes_typed` of the events at or below LSN ``split``
    and of all of them, from ONE keyed aggregate (one shuffle for both
    states). Returns ``(key_col, touched, before, after)``: ``touched``
    says the key has an event above ``split``; ``before`` and ``after``
    are structs ``(live, last_lsn, *columns)``, ``live`` false where the
    key has no row in that state.

    Each column's value is the latest event, by LSN, among the key's
    DELETEs and the events carrying a cell for it (the TOAST sentinel
    carries none): a DELETE winning means the column has no value after
    the key's last delete, as in the tombstoned fold. The same race
    over DELETEs and events carrying any cell decides ``live`` and
    ``last_lsn``. TRUNCATE is not expanded, so on a feed without it
    (``cdc/feed.events_as_cdc_feed``) both states equal
    :func:`apply_changes_typed`'s."""
    lsn = F.col("lsn")
    deleted = F.col("operation") == OP_DELETE
    vals = F.coalesce(F.col("new_values"), F.create_map().cast("map<string,string>"))

    def carries(v: Column) -> Column:
        return v.isNull() | (v != UNCHANGED_SENTINEL)

    race = deleted | (F.size(F.map_filter(vals, lambda k, v: carries(v))) > 0)

    def state(upto: Column) -> Column:
        out = [
            F.coalesce(~F.max_by(deleted, F.when(race & upto, lsn)), F.lit(False)).alias("live"),
            F.max(F.when(race & upto, lsn)).alias("last_lsn"),
        ]
        for name, dtype in columns.items():
            has = deleted | (F.map_contains_key(vals, name) & carries(vals[name]))
            out.append(
                F.max_by(F.when(~deleted, vals[name]), F.when(has & upto, lsn))
                .cast(dtype)
                .alias(name)
            )
        return F.struct(*out)

    return events.groupBy(key_col).agg(
        (F.max(lsn) > F.lit(split)).alias("touched"),
        state(lsn <= F.lit(split)).alias("before"),
        state(F.lit(True)).alias("after"),
    )


def state_as_events(state: DataFrame, key_col: str = "key") -> DataFrame:
    """Re-encode folded state rows as a minimal event feed so the fold's
    sentinel / delete-boundary semantics compose across batches: a live
    row becomes INSERT@last_lsn, a tombstone DELETE@del_lsn (BOTH rows
    for keys that were deleted then re-inserted). Table-identity columns
    (multi-table state) ride along. One pass over ``state`` (each row
    expands to its one or two events), so a scan under it runs once.
    The replay-path building block of the streaming merge and of the
    merge-on-read state's read fold (``streaming/apply_stream.py``)."""
    aux = [F.col(c) for c in ("schema", "table") if c in state.columns]
    insert = F.when(
        F.col("values").isNotNull(),
        F.struct(
            F.col("last_lsn").alias("lsn"),
            F.lit("INSERT").alias("operation"),
            F.col("values").alias("new_values"),
        ),
    )
    delete = F.when(
        F.col("del_lsn").isNotNull(),
        F.struct(
            F.col("del_lsn").alias("lsn"),
            F.lit(OP_DELETE).alias("operation"),
            F.lit(None).cast("map<string,string>").alias("new_values"),
        ),
    )
    return state.select(
        F.explode(F.filter(F.array(insert, delete), lambda e: e.isNotNull())).alias("__e"),
        *aux,
        F.col(key_col),
    ).select("__e.lsn", "__e.operation", "__e.new_values", *aux, F.col(key_col))
