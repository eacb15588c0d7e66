"""Shared expression helpers keeping Spark and DuckDB bit-identical.

Floating-point summation is order-dependent; Spark's partial aggregation
order differs run-to-run and from DuckDB's. Routing each addend through a
fixed-scale decimal makes the accumulation exact (hence order-independent).

One subtlety: the per-row double→decimal cast itself is NOT bit-identical
across engines (DuckDB scales by 10^s in double arithmetic, which is
inexact above ~2^53/10^s, so a handful of rows round the 10th digit
differently). The divergence is bounded by one unit of the last decimal
digit per row, so the two exact decimal totals differ by ~1e-9. Rounding
the decimal total to 4 digits (exact decimal rounding, identical
half-away-from-zero semantics in both engines) absorbs that, and the
final decimal→double cast of equal decimals is identical.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Scale chosen so TPC-H-ish money/quantity products fit: values < 1e18,
# 10 fractional digits — far more than the inputs' true precision, so
# per-row rounding loses nothing.
DEC = "decimal(30,10)"
_OUT_SCALE = 4


def dec_sum(col: Column, alias: str) -> Column:
    """Order-independent SUM over doubles, result typed double."""
    return F.round(F.sum(col.cast(DEC)), _OUT_SCALE).cast("double").alias(alias)


def dec_avg(col: Column, alias: str) -> Column:
    """Order-independent AVG: rounded exact decimal sum divided by count
    in double arithmetic (identical operands → identical IEEE result)."""
    return (
        F.round(F.sum(col.cast(DEC)), _OUT_SCALE).cast("double") / F.count(col)
    ).alias(alias)


def sql_dec_sum(expr: str, alias: str) -> str:
    return (
        f"CAST(ROUND(SUM(CAST({expr} AS DECIMAL(30,10))), {_OUT_SCALE}) AS DOUBLE)"
        f" AS {alias}"
    )


def sql_dec_avg(expr: str, alias: str) -> str:
    return (
        f"CAST(ROUND(SUM(CAST({expr} AS DECIMAL(30,10))), {_OUT_SCALE}) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )


# Post-CDC document corpus for the CDC-maintained index gates
# (dedup index, BM25 index) — ONE definition so the two gates cannot
# drift: base = doc_id < ~60% boundary; the delta INSERTs the rest,
# UPDATEs every 17th base doc (text || ' upd'), DELETEs every 23rd
# (unless it was updated). Deterministic on both engines.
CDC_CORPUS_CTES = """bounds AS (SELECT (MAX(doc_id) * 3) // 5 AS b FROM documents),
    corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id < (SELECT b FROM bounds) AND doc_id % 17 = 0
                  THEN text || ' upd' ELSE text END AS text
      FROM documents
      WHERE NOT (doc_id < (SELECT b FROM bounds)
                 AND doc_id % 23 = 0 AND doc_id % 17 <> 0)
    )"""


def cdc_corpus_split(spark, sf_dir: str):
    """The Spark side of ``CDC_CORPUS_CTES`` (r10 ADVICE: one
    definition so the maintained-index gates cannot drift from the
    shared oracle corpus) over the ``documents`` table of ``sf_dir``.
    Returns ``(base, delta)``: the pre-CDC base corpus (doc_id < the
    ~60% boundary) and the I/U/D delta whose fold over it yields exactly
    the oracle's ``corpus`` CTE. The boundary's ``MAX(doc_id)`` comes
    from the parquet footers (``io.column_range``), not a Spark job."""
    from pyspark.sql import functions as F

    from python_cdc_spark.io import column_range, table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    b = (int(column_range(spark, sf_dir, "documents", "doc_id")[1]) * 3) // 5
    is_upd = (F.col("doc_id") < b) & (F.col("doc_id") % 17 == 0)
    is_del = (
        (F.col("doc_id") < b)
        & (F.col("doc_id") % 23 == 0)
        & (F.col("doc_id") % 17 != 0)
    )
    delta = docs.filter((F.col("doc_id") >= b) | is_upd | is_del).select(
        F.when(F.col("doc_id") >= b, F.lit("INSERT"))
        .when(is_upd, F.lit("UPDATE"))
        .otherwise(F.lit("DELETE"))
        .alias("operation"),
        "doc_id",
        F.when(is_upd, F.concat(F.col("text"), F.lit(" upd")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return docs.filter(F.col("doc_id") < b), delta


def cached_pristine_base(cache_dir: str, fingerprint: str, params: dict, build, work_dir: str) -> bool:
    """Gate-cost separation for the CDC-maintained-index gates (r10
    verdict #3, the ``cdc_pipeline_composite`` pattern): the expensive
    BASE index build is cached once per testdata fingerprint and kept
    PRISTINE; each gate invocation file-copies it into ``work_dir`` and
    folds there, so the per-run cost is copy + fold + read — the
    production shape — instead of a from-scratch rebuild.

    ``build(cache_dir)`` runs only on a cache miss. Returns True on a
    miss (receipts can report cold/warm). The copy keeps every byte,
    including the structure's own pointers/markers.

    The copy is a HARDLINK tree (metadata-only, ~free at any index
    size — r12 verdict #5: fixture transport dominated the narrow-gate
    bench rows). Safe because every maintained structure's data files
    are IMMUTABLE (folds write new version/delta dirs) and pointers
    are only ever replaced via temp+rename — a new inode, never an
    in-place truncate — so a fold in the work dir can never write
    through a shared inode into the pristine cache. Falls back to a
    byte copy per file on EXDEV/cross-device."""
    import os
    import shutil

    fresh = ensure_cached_base(cache_dir, fingerprint, params, build)

    def _link_or_copy(src, dst):
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)

    shutil.copytree(
        cache_dir, work_dir, dirs_exist_ok=True,
        copy_function=_link_or_copy,
        # *.tmp/*.lock never belong to a committed index; excluding
        # them also guarantees no writer can open-for-write (truncate)
        # a path that would share an inode with the cache
        ignore=shutil.ignore_patterns("_gate_meta.json", "*.tmp", "*.lock"),
    )
    return fresh


def ensure_cached_base(cache_dir: str, fingerprint: str, params: dict, build) -> bool:
    """The build-or-reuse half of ``cached_pristine_base`` without the
    work-dir copy — for gates that fold IN PLACE on the cached base
    (fold delta, read, fold the inverse delta back; the copy-free shape
    of r12 verdict #5). Returns True on a cache miss/rebuild."""
    import os
    import shutil

    from python_cdc_spark import fsops

    meta_path = os.path.join(cache_dir, "_gate_meta.json")
    meta = fsops.read_json(meta_path, {})
    fresh = not (
        meta.get("fingerprint") == fingerprint and meta.get("params") == params
    )
    if fresh:
        shutil.rmtree(cache_dir, ignore_errors=True)
        os.makedirs(cache_dir, exist_ok=True)
        build(cache_dir)
        fsops.publish_json(meta_path, {"fingerprint": fingerprint, "params": params})
    return fresh
