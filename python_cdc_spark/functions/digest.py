"""Content tags for CDC deltas.

A maintained index names each folded delta by a tag computed from the
delta's content, so a replay of the same delta finds its own earlier
fold (a tag directory or a ledger entry) instead of folding twice. The
tag is the row count plus two 60-bit digests, each the SUM of a slice
of every row's sha256: sums commute, so the tag is the same under any
partitioning or row order. Tags are persisted in ledgers and directory
names, so their format must not change.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Row
from pyspark.sql import functions as F


def _digest60(key: Column, start: int) -> Column:
    # 15 hex digits = 60 bits of the row's sha256, summed exactly
    return F.sum(
        F.conv(F.substring(F.sha2(key, 256), start, 15), 16, 10).cast(
            "decimal(38,0)"
        )
    )


def _tag_aggs(key: Column) -> list[Column]:
    return [
        F.count(F.lit(1)).alias("n"),
        _digest60(key, 1).alias("d1"),
        _digest60(key, 17).alias("d2"),
    ]


def _tag(row) -> str:
    return f"n{row['n']}_a{row['d1']}_b{row['d2']}"


def content_tag(df: DataFrame, key: Column, *extra: Column) -> tuple[str, Row]:
    """``(tag, row)`` from ONE aggregate over ``df``: the tag digests the
    string column ``key`` of every row, and ``row`` also holds the
    ``extra`` aggregates, so a caller that needs other per-delta figures
    gets them from the same Spark job."""
    row = df.agg(*_tag_aggs(key), *extra).first()
    return _tag(row), row


def tagged_checkpoint(
    df: DataFrame, key: Column, *extra: Column
) -> tuple[DataFrame, str, dict]:
    """``(checkpoint, tag, figures)``: ``df`` eagerly checkpointed, with
    the :func:`content_tag` of ``key`` and the ``extra`` aggregates
    observed on the checkpoint's own job — one Spark job where a
    checkpoint plus a tag aggregate cost three. ``extra`` must be
    plain aggregates (an ``Observation`` takes no DISTINCT)."""
    obs = Observation()
    out = df.observe(obs, *_tag_aggs(key), *extra).localCheckpoint(eager=True)
    figures = obs.get
    return out, _tag(figures), figures
