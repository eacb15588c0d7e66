"""Replication-origin tracking (pgoutput ``O`` frames) and loop filtering.

PostgreSQL emits an Origin frame inside a transaction — between BEGIN
and the first DML — when that transaction was itself replayed from
another node (replication origins; cf. the ``origin`` publication /
subscription parameter, values ``any`` | ``none``). Subscribers in
bidirectional topologies filter origin-carrying transactions to break
replication loops. The reference's dispatch falls through on ``O``
(``pg_output_parser.py:32-39``, no loop filtering); this module
implements the subscriber semantics on top of the control-frame codec.

Semantics: the origin of a DML event is the name carried by the most
recent marker frame at-or-before the event's LSN, where BEGIN resets
the origin to NULL (local) and ``O`` sets it. That is a global as-of
over the LSN axis.

The streaming wire path (``StreamingWireApplyChanges.merge_wire_batch``)
does not use this module's as-of: it resolves origins inside the frame
decode (``pgoutput.decode_frames`` with per-partition seeds, the
serial loop cut into LSN-contiguous partitions), seeding each partition
from the per-partition last markers of :func:`last_marker_col`. The
bucket-parallel as-of below remains for feeds of pre-decoded events or
markers and for the composite queries, and both paths share
:func:`filter_by_origin`'s spec rules (``pgoutput.origin_allow_list``)
and the ``O`` name slice (``pgoutput.origin_frame_name``).

Scale shape (the part that matters at 100 TB): txn markers are
O(transactions) while events are O(rows), and there is no natural
partition key for a global ordered scan. We use the bucket-parallel
prefix-carry pattern (same as ``operators/ranking.py``): LSNs hash to
range buckets, a within-bucket window resolves events whose governing
marker is in their own bucket, and the cross-bucket carry is computed
from per-bucket LAST-marker aggregates — O(non-empty buckets) rows
collected to the driver, forward-filled, and broadcast back. No global
sort, no single-partition window over row-scale data.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_cdc_spark.cdc.pgoutput import EVENT_TAGS, origin_allow_list


def _origin_name(frame_col: str) -> Column:
    """The name an ``O`` frame carries. All-JVM: it is the trailing
    cstring of the frame (tag byte + Int64 commit LSN + name + NUL),
    sliced with binary substring — no UDF. Invalid UTF-8 is replaced
    with U+FFFD (``pgoutput.origin_frame_name`` decodes the same way),
    so a malformed name marks its transaction remote instead of failing
    the whole batch with ``MALFORMED_CHARACTER_CODING``."""
    return F.make_valid_utf8(
        F.expr(
            f"substring({frame_col}, 10, length({frame_col}) - 10)"
        ).cast("string")
    )


def last_marker_col(frame_col: str = "frame") -> Column:
    """Aggregate over frames: ``struct(lsn, origin)`` of the last
    transaction marker by LSN — origin NULL for a BEGIN (reset to
    local), the name for an Origin frame — or NULL when the frames hold
    no marker. Non-marker rows have a NULL ordering, which ``max_by``
    skips, so this composes into any other aggregate over the same
    frames (one scan answers both)."""
    tag = F.substring(frame_col, 1, 1)
    return F.max_by(
        F.struct(
            "lsn", F.when(tag == "O", _origin_name(frame_col)).alias("origin")
        ),
        F.when(tag.isin("B", "O"), F.col("lsn")),
    )


def txn_markers(frames: DataFrame, frame_col: str = "frame") -> DataFrame:
    """``(lsn, origin)`` for every BEGIN (origin NULL — local) and
    Origin frame (origin = its name)."""
    tag = F.substring(frame_col, 1, 1)
    begins = frames.filter(tag == F.lit("B")).select(
        "lsn", F.lit(None).cast("string").alias("origin")
    )
    origins = frames.filter(tag == F.lit("O")).select(
        "lsn", _origin_name(frame_col).alias("origin")
    )
    return begins.unionByName(origins)


def annotate_origins(
    spark: SparkSession,
    events: DataFrame,
    frames: DataFrame,
    frame_col: str = "frame",
    bucket_width: int = 1 << 16,
    initial_origin: str | None = None,
) -> DataFrame:
    """Add an ``origin`` column to decoded DML events: the replaying
    node's name for origin-carrying transactions, NULL for local ones.

    ``initial_origin`` seeds the carry for events that precede every
    marker in ``frames`` — the streaming resume case, where the
    governing marker arrived in an earlier micro-batch.

    The occupied-bucket probe runs against ``frames`` (tag-sliced to the
    event-bearing messages, ``pgoutput.EVENT_TAGS``), not against
    ``events``: this function's contract is that ``events`` was decoded
    FROM ``frames`` (decode only ever drops frames), so the frame-derived
    bucket set is a superset of the events' — and a superset is exact
    here, because a
    bucket's carry depends only on the markers BELOW it (extra carry
    rows join no event row). Probing the binary frames avoids running
    the whole Arrow decode once per invocation just to learn which
    buckets exist (the r14 composite profile measured the decode pass
    twice per run for exactly this reason).

    The probe and the per-bucket last-marker aggregate (the two scalar
    inputs to the cross-bucket carry) are computed in ONE aggregate over
    ``frames`` — one Spark job and one scan instead of two of each; both
    results are O(non-empty buckets), driver-safe by the module's scale
    contract.
    """
    tag = F.substring(frame_col, 1, 1)
    bucket = (F.col("lsn") / F.lit(int(bucket_width))).cast("bigint")
    probe = (
        frames.groupBy(bucket.alias("__b"))
        .agg(
            F.max(tag.isin(*EVENT_TAGS).cast("int")).alias("__has_ev"),
            last_marker_col(frame_col).alias("__last"),
        )
        .collect()
    )
    event_buckets = [r["__b"] for r in probe if r["__has_ev"] == 1]
    marker_lasts = sorted(
        (r["__b"], r["__last"]["origin"]) for r in probe if r["__last"] is not None
    )
    return annotate_origins_from_markers(
        spark,
        events,
        txn_markers(frames, frame_col),
        bucket_width=bucket_width,
        initial_origin=initial_origin,
        event_buckets=event_buckets,
        marker_lasts=marker_lasts,
    )


def annotate_origins_from_markers(
    spark: SparkSession,
    events: DataFrame,
    markers: DataFrame,
    bucket_width: int = 1 << 16,
    initial_origin: str | None = None,
    event_buckets: list[int] | None = None,
    marker_lasts: list[tuple[int, str | None]] | None = None,
) -> DataFrame:
    """Core of :func:`annotate_origins` over pre-decoded txn markers
    ``(lsn, origin)`` — origin NULL for BEGIN (reset to local), a name
    for Origin frames. Takes markers directly so feeds that never pass
    through the binary codec (tests, derived feeds) use the same
    resolution machinery.

    ``event_buckets`` lets a caller that already knows which buckets its
    events occupy (or any SUPERSET — extra buckets only add carry rows
    that join nothing) skip the distinct-buckets probe over ``events``;
    ``marker_lasts`` likewise skips the per-bucket last-marker collect
    (sorted ``(bucket, origin)``, one row per marker-bearing bucket).
    Left as None, they come from one aggregate over the DataFrames."""
    bucket = (F.col("lsn") / F.lit(int(bucket_width))).cast("bigint")

    if marker_lasts is None:
        # the marker frame then feeds two consumers — the within-bucket
        # union and the per-bucket last-marker aggregate below — so
        # materialize it once (lazy: the aggregate's collect is the
        # first action and pins it). When marker_lasts is supplied the
        # union is the only consumer and the checkpoint would be pure
        # overhead.
        markers = markers.localCheckpoint(eager=False)

    # Within-bucket resolution: markers sort before events at the same
    # LSN (__is_ev ascending) so a marker is visible to a same-LSN DML.
    mk = markers.select(
        "lsn",
        F.lit(0).alias("__is_ev"),
        F.struct(F.col("origin")).alias("__m"),
    ).withColumn("__b", bucket)
    ev = (
        events.withColumn("__b", bucket)
        .withColumn("__is_ev", F.lit(1))
        .withColumn("__m", F.lit(None).cast("struct<origin:string>"))
    )
    u = ev.unionByName(mk, allowMissingColumns=True)
    w = (
        Window.partitionBy("__b")
        .orderBy("lsn", "__is_ev")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn("__wm", F.last("__m", ignorenulls=True).over(w))

    # Cross-bucket carry: last marker per marker-bucket (≤ 1 row per
    # bucket — metadata scale), forward-filled on the driver across the
    # distinct buckets events actually occupy, broadcast-joined back.
    # Whichever of the two the caller did not supply comes from ONE
    # grouped aggregate over the markers and events tagged by side (one
    # collect, not one per probe).
    sides = []
    if marker_lasts is None:
        sides.append(
            markers.select(
                bucket.alias("__b"),
                F.struct("origin").alias("__m"),
                F.col("lsn").alias("__at"),
                F.lit(False).alias("__ev"),
            )
        )
    if event_buckets is None:
        sides.append(
            events.select(
                bucket.alias("__b"),
                F.lit(None).cast("struct<origin:string>").alias("__m"),
                F.lit(None).cast("long").alias("__at"),
                F.lit(True).alias("__ev"),
            )
        )
    if sides:
        probe = sides[0] if len(sides) == 1 else sides[0].unionByName(sides[1])
        rows = (
            probe.groupBy("__b")
            .agg(
                F.max_by("__m", "__at").alias("__last"),  # NULL __at: events
                F.max("__ev").alias("__has_ev"),
            )
            .collect()
        )
        if marker_lasts is None:
            marker_lasts = sorted(
                (r["__b"], r["__last"]["origin"]) for r in rows if r["__last"] is not None
            )
        if event_buckets is None:
            event_buckets = [r["__b"] for r in rows if r["__has_ev"]]
    event_buckets = sorted(event_buckets)
    carry_rows = []
    carry = initial_origin
    i = 0
    for b in event_buckets:
        while i < len(marker_lasts) and marker_lasts[i][0] < b:
            carry = marker_lasts[i][1]
            i += 1
        if carry is not None:
            carry_rows.append((b, carry))
    if carry_rows:
        from python_cdc_spark.functions.literals import literal_df

        # JVM-side literal (not createDataFrame): this join runs once
        # per apply batch, and a pickled-RDD side would add a
        # Python-worker job to every broadcast materialization
        carry_df = literal_df(
            spark, carry_rows, [("__b", "bigint"), ("__carry", "string")]
        )
        u = u.join(F.broadcast(carry_df), "__b", "left")
    else:
        u = u.withColumn("__carry", F.lit(None).cast("string"))

    resolved = F.when(
        F.col("__wm").isNotNull(), F.col("__wm")["origin"]
    ).otherwise(F.col("__carry"))
    return (
        u.filter(F.col("__is_ev") == 1)
        .withColumn("origin", resolved)
        .drop("__b", "__is_ev", "__m", "__wm", "__carry")
    )


def filter_by_origin(
    events: DataFrame, origin: str | Iterable[str] = "any"
) -> DataFrame:
    """Apply the subscription's ``origin`` parameter to annotated
    events: ``"any"`` keeps everything, ``"none"`` keeps only locally
    originated transactions (origin NULL — the loop-breaking setting),
    and an iterable of names keeps local txns plus those origins (an
    extension PostgreSQL spells as per-origin filtering in custom
    output plugins). The rules are ``pgoutput.origin_allow_list``'s,
    which the in-decode filter applies too."""
    allowed = origin_allow_list(origin)
    if allowed is None:
        return events
    keep = F.col("origin").isNull()
    if allowed:
        keep = keep | F.col("origin").isin(sorted(allowed))
    return events.filter(keep)


def last_marker(frames: DataFrame, frame_col: str = "frame"):
    """The (lsn, origin) of the feed's final marker, or None — the
    carry state a streaming consumer persists across micro-batches. A
    caller already aggregating over ``frames`` should fold
    :func:`last_marker_col` into that aggregate instead (one scan)."""
    m = frames.agg(last_marker_col(frame_col).alias("m")).first()["m"]
    if m is None:
        return None
    return {"lsn": m["lsn"], "origin": m["origin"]}
