"""Deduplication operator family for LLM corpus pipelines (E25, E26).

Four tiers, increasing tolerance for fuzz:

- ``exact_dedup``          — sha2 content hash, hash-groupBy.
- ``ngram_jaccard_pairs``  — exact Jaccard over word n-gram sets via an
  inverted-index self-join (no O(n²) cross-join).
- ``minhash_signatures`` / ``lsh_candidate_pairs`` — MinHash + banded
  LSH: the 100 TB-scale near-dup path. Hash functions are simulated by
  ``md5(seed || gram)`` and MinHash takes the lexicographic min — a
  valid random-permutation MinHash that is reproducible on any engine
  with an md5() function (which keeps the whole pipeline
  oracle-checkable, unlike engine-native murmur hashes).
- ``simhash``              — weighted bitwise fingerprint from token
  hashes; equal fingerprints ⇒ near-identical token distributions.

Scale notes:
- Every join is an equi-join on a hash/band key (AQE splits skewed hot
  grams); the LSH join shuffles only (band_id, band_key, id) tuples.
- MinHash/SimHash are expressed RELATIONALLY (explode → hash per row →
  hash-agg mins) so every stage runs inside whole-stage codegen; nested
  higher-order-function folds over arrays are interpreted per element
  and measured ~30× slower.
- ``_spread`` repartitions compute-bound narrow stages only when the
  scan produced fewer partitions than the cluster has cores (small-file
  inputs); at real scale the scan already yields enough partitions and
  no extra shuffle happens.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from python_cdc_spark.functions.text import (
    normalized_text,
    tokens,
    word_ngrams_from_tokens,
)

def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Ensure at least default-parallelism partitions before an
    expression-heavy narrow stage (hash-work per row dwarfs the shuffle
    cost of a few KB of text). With ``cols`` the rows are hash-spread on
    them, so a later aggregation keyed on them needs no shuffle."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism, *cols)
    return df


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup groups: one row per distinct normalized content hash
    with the canonical (min) id and the duplicate count."""
    h = F.sha2(normalized_text(F.col(text_col)), 256)
    return (
        df.select(F.col(id_col).alias("id"), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _gram_cells(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, gram) pairs, distinct per document. Tokens are projected
    into a column before the gram transform — inline tokenization
    re-runs the regex split per gram element (r13: 12.6 s -> 0.45 s
    for the sf0.1 gram pass; see word_ngrams_from_tokens)."""
    # spread on the id: the per-document aggregations over the cells
    # (signatures, set sizes) then run without a shuffle
    base = _spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")), "id"
    )
    toked = base.select("id", tokens(F.col("__text")).alias("__toks"))
    return toked.select(
        "id",
        F.explode(
            F.array_distinct(word_ngrams_from_tokens(F.col("__toks"), n))
        ).alias("gram"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs sharing at
    least one gram (inverted index join), filtered by threshold.

    Returns (id_a, id_b, shared, size_a, size_b, jaccard), id_a < id_b.
    """
    cells = _gram_cells(df, text_col, id_col, n)
    sizes = cells.groupBy("id").agg(F.count(F.lit(1)).alias("set_size"))
    a = cells.alias("a")
    b = cells.alias("b")
    shared = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("set_size").alias("size_b"))
    jac = F.col("shared").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("shared")
    ).cast("double")
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "shared", "size_a", "size_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 12,
    one_permutation: bool = False,
    cells: DataFrame | None = None,
) -> DataFrame:
    """Per-document MinHash signature (k permutation minima) as columns
    mh_0..mh_{k-1}. Documents too short for any n-gram are dropped (no
    signature is defined for an empty set).

    Shape: explode grams → one md5 per (doc, gram) row → groupBy(doc)
    with k MIN aggregates. Deliberately relational rather than an
    array-fold: explode/hash/hash-agg all run inside whole-stage
    codegen, whereas nested higher-order-function folds are interpreted
    per element (~30× slower measured at sf0.1).

    Hash families:
    - seeded (default): mh_i = min md5('<i>|' || gram) — k independent
      permutations, k md5 per row.
    - one-permutation (k ≤ 8): mh_i = min of the i-th 4-hex chunk of
      ONE md5 per gram — the standard one-permutation-hashing trade
      (slightly dependent permutations, k× less hashing).
    """
    cells = cells if cells is not None else _gram_cells(df, text_col, id_col, n)
    if one_permutation:
        if k * 4 > 32:
            raise ValueError("one-permutation mode supports k<=8 (32 hex chars)")
        h = F.md5("gram")
        mins = [
            F.min(F.substring(h, 1 + 4 * i, 4)).alias(f"mh_{i}") for i in range(k)
        ]
    else:
        mins = [
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("gram")))).alias(f"mh_{i}")
            for i in range(k)
        ]
    return cells.groupBy("id").agg(*mins)


def lsh_candidate_pairs(
    signatures: DataFrame, k: int = 12, bands: int = 4
) -> DataFrame:
    """Banded LSH over MinHash signatures: docs sharing any band key are
    candidate near-duplicates. Returns distinct (id_a, id_b) pairs.

    The s-curve threshold is ≈(1/bands)^(bands/k) Jaccard — 0.63 for
    (k=12, b=4), 0.5 for the one-permutation (k=8, b=4) configuration
    the registry queries use. The band join shuffles only
    (band_id, band_key, id) tuples, never documents.
    """
    r = k // bands
    band_keys = [
        F.md5(F.concat_ws("|", *[F.col(f"mh_{b * r + j}") for j in range(r)])).alias(
            f"band_{b}"
        )
        for b in range(bands)
    ]
    banded = signatures.select("id", *band_keys)
    stacked = banded.select(
        "id",
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(b) for b in range(bands)]),
                F.array(*[F.col(f"band_{b}") for b in range(bands)]),
            )
        ).alias("band_id", "band_key"),
    # the self-join below consumes ``stacked`` twice; checkpoint so the
    # signature pipeline (gram explode + md5 per cell) runs once, not
    # once per join side
    ).localCheckpoint(eager=False)
    x = stacked.alias("x")
    y = stacked.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """Weighted SimHash fingerprint from the first ``bits`` bits of each
    token's md5. Per bit: sign of Σ(±token_count); fingerprint is the
    packed bit vector. Near-identical token bags collide.

    Shape: explode → (id, token) counts → one aggregation with ``bits``
    conditional sums (a single hash shuffle on id; md5 computed once
    per distinct (id, token)).
    """
    base = _spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")))
    tok_counts = (
        base.select("id", F.explode(tokens(F.col("__text"))).alias("token"))
        .groupBy("id", "token")
        .agg(F.count(F.lit(1)).alias("w"))
        .withColumn("h", F.md5("token"))
    )

    def bit_of(hex_col: Column, j: int) -> Column:
        # nibble j//4 of the md5 hex → bit j%4 (hex chars are 4 bits)
        nib = F.instr(
            F.lit("0123456789abcdef"), F.substring(hex_col, j // 4 + 1, 1)
        ) - 1
        return F.shiftright(nib, 3 - j % 4) % 2

    bit_sums = [
        F.sum(
            F.when(bit_of(F.col("h"), j) == 1, F.col("w")).otherwise(-F.col("w"))
        ).alias(f"s_{j}")
        for j in range(bits)
    ]
    sums = tok_counts.groupBy("id").agg(*bit_sums)
    fingerprint = None
    for j in range(bits):
        term = F.when(F.col(f"s_{j}") > 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    return sums.select("id", fingerprint.alias("simhash"))
