"""Exact heavy hitters (operators/heavy_hitters.py): the Misra-Gries
candidate pass must PRUNE under capacity pressure yet never lose a true
heavy hitter, and the two-pass result must equal a full groupBy+HAVING
exactly — the E11 frequent-items guarantee."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from python_cdc_spark.operators.heavy_hitters import (
    exact_heavy_hitters,
    mg_candidates,
)


def _zipfish(spark):
    """key k_i repeated ceil(3000/i) times, i in 1..5000 — vocabulary
    5000 with a genuinely heavy head (k_1: 3000 … k_5: 600) and a long
    flat tail, shuffled across 8 partitions."""
    return (
        spark.range(1, 5001)
        .select(
            F.concat(F.lit("k"), F.col("id")).alias("key"),
            F.explode(
                F.sequence(F.lit(1), F.ceil(F.lit(3000) / F.col("id")).cast("int"))
            ).alias("rep"),
        )
        .repartition(8)
        .select("key")
    )


def test_mg_exact_under_pruning(spark):
    df = _zipfish(spark).localCheckpoint(eager=True)
    vocab = df.distinct().count()
    assert vocab == 5000

    # capacity 64 << vocab: every partition summary MUST have pruned
    cands = mg_candidates(df, "key", 64)
    n_cands = cands.distinct().count()
    assert n_cands <= 8 * 64 < vocab

    got = sorted(
        map(tuple, exact_heavy_hitters(df, "key", capacity=64, inv_phi=50).collect())
    )
    n = df.count()
    want = sorted(
        map(
            tuple,
            df.groupBy("key")
            .agg(F.count(F.lit(1)).cast("long").alias("freq"))
            .filter(F.col("freq") * 50 >= F.lit(n))
            .collect(),
        )
    )
    assert got == want and len(got) >= 5  # k1..k5 are all ≥ N/50


def test_guarantee_precondition_is_static(spark):
    df = _zipfish(spark)
    with pytest.raises(ValueError, match="capacity \\+ 1 > inv_phi"):
        exact_heavy_hitters(df, "key", capacity=49, inv_phi=50)


def test_streaming_mg_matches_batch_heavy_hitters(spark, tmp_path):
    """The streaming MG summary (streaming/sketch_stream.py
    MgStreamSketch) folded over micro-batches must preserve the merged
    guarantee: stream-candidates + exact recount equals the one-pass
    batch exact_heavy_hitters over the same data. Replay is a no-op for
    both the summary and the running total; a fresh instance resumes
    the committed state. NULL keys (more of them than any real key) are
    not items, as in the batch operator: neither counted in total() nor
    kept as a candidate."""
    from python_cdc_spark.streaming.sketch_stream import MgStreamSketch

    nulls = spark.range(4000).select(F.lit(None).cast("string").alias("key"))
    df = _zipfish(spark).unionByName(nulls).localCheckpoint(eager=True)
    n = df.filter(F.col("key").isNotNull()).count()
    mg = MgStreamSketch(spark, str(tmp_path / "mg"), "key", capacity=64)
    split = F.coalesce(F.crc32(F.col("key")), F.lit(0)) % 4
    splits = [df.filter(split == i) for i in range(4)]
    for i, part in enumerate(splits):
        mg.fold_batch(part, batch_id=i)
    assert mg.total() == n
    assert mg.summary().count() <= 64
    assert mg.candidates().filter(F.col("key").isNull()).count() == 0

    before = sorted(map(tuple, mg.summary().collect()))
    mg.fold_batch(splits[0], batch_id=0)  # checkpoint replay
    assert mg.total() == n
    assert sorted(map(tuple, mg.summary().collect())) == before

    got = sorted(
        map(
            tuple,
            df.join(F.broadcast(mg.candidates()), "key")
            .groupBy("key")
            .agg(F.count(F.lit(1)).cast("long").alias("freq"))
            .filter(F.col("freq") * 50 >= F.lit(n))
            .collect(),
        )
    )
    want = sorted(
        map(tuple, exact_heavy_hitters(df, "key", capacity=64, inv_phi=50).collect())
    )
    assert got == want and len(got) >= 5

    fresh = MgStreamSketch(spark, str(tmp_path / "mg"), "key", capacity=64)
    assert fresh.total() == n
    assert sorted(map(tuple, fresh.summary().collect())) == before


def test_nullable_key_column_matches_null_filtered_group_by(spark):
    """ADVICE r12: on a nullable column N must be counted over the
    NULL-FILTERED frame (value_counts and the recount join both drop
    NULLs), so the result equals GROUP BY + HAVING over
    ``WHERE key IS NOT NULL`` — pinned with enough NULL rows that the
    unfiltered N would flip the verdict for a borderline key."""
    # 60 'a', 40 'b', 900 NULLs → non-null N = 100. With inv_phi=2 the
    # threshold is freq*2 >= 100: 'a' passes, 'b' misses. Counting N
    # over ALL 1000 rows (the old bug) would reject BOTH.
    rows = [("a",)] * 60 + [("b",)] * 40 + [(None,)] * 900
    df = spark.createDataFrame(rows, "key string").repartition(4)
    got = {
        (r["key"], r["freq"])
        for r in exact_heavy_hitters(df, "key", capacity=16, inv_phi=2).collect()
    }
    assert got == {("a", 60)}
