"""Parquet readers for the driver's analytic tables.

Thin by design: ``spark.read.parquet`` already gives predicate pushdown,
column pruning, partition pruning and vectorized decode; wrapping it in
anything imperative would only hide those from Catalyst.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_cdc_spark.schemas import ANALYTIC_TABLES
from python_cdc_spark.session import cluster

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_TABLE_CACHE: dict[tuple[str, str], DataFrame] = {}

# Inferred parquet schemas memoized per (sf_dir, table) for this
# process: schema inference costs one Spark job per schemaless
# spark.read.parquet call (r13 measurement), and a harness run calls
# table() hundreds of times over the same files. METADATA memo only —
# rows are always re-read from parquet; testdata changes arrive as a
# new process (the driver regenerates between rounds).
_SCHEMA_CACHE: dict[tuple[str, str], object] = {}


def enable_table_cache(spark: SparkSession, sf_dir: str) -> None:
    """Cache every driver table for repeated access (bench/interactive).

    Each table is read once, persisted, and materialized; subsequent
    ``table()`` calls return the in-memory relation, so a run of many
    queries pays the parquet scan once instead of per query. NOT for
    the 100 TB path (there you want scans with pushdown, not a cache) —
    this amortizes the fixed IO constant in repeated small-scale runs.
    """
    for name in ANALYTIC_TABLES:
        key = (sf_dir, name)
        if key not in _TABLE_CACHE:
            df = table(spark, sf_dir, name).cache()
            df.count()
            _TABLE_CACHE[key] = df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table. Filters/projections applied by the caller
    push down to the parquet scan (verify with ``.explain``: PushedFilters,
    ReadSchema).

    Timestamp normalization: the driver's generator has shipped both
    TIMESTAMP(NANOS) (read as long via the legacy conf, rebuilt to
    micros) and plain ``timestamp[us]`` with no timezone (which Spark 4
    infers as TIMESTAMP_NTZ). All timestamps are normalized to
    session-timezone TIMESTAMP (the session runs UTC) so instant
    semantics — ``unix_micros``, window arithmetic — work uniformly and
    match DuckDB's naive-timestamp oracle reading.
    """
    cached = _TABLE_CACHE.get((sf_dir, name))
    if cached is not None:
        return cached
    path = os.path.join(sf_dir, f"{name}.parquet")

    def _open() -> DataFrame:
        # first open per (sf_dir, table) infers and memoizes the schema
        # (the inference is itself one Spark job); every later open in
        # this process passes it explicitly — zero-job open. The memo
        # is inferred UNDER the session's nanosAsLong conf, so reuse
        # sees the same types inference produced.
        sch = _SCHEMA_CACHE.get((sf_dir, name))
        if sch is not None:
            return spark.read.schema(sch).parquet(path)
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[(sf_dir, name)] = df.schema
        return df

    if name == "events":
        # nanosAsLong is set session-wide in get_spark/tune_for_harness;
        # the fallback set here only runs for bare sessions (e.g. ad-hoc
        # shells) that skipped both entry points.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _open()
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _ntz_to_ltz(df)
    return _ntz_to_ltz(_open())


def _ntz_to_ltz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TIMESTAMP. The session timezone
    is pinned to UTC, so the wall-clock values are reinterpreted as UTC
    instants — byte-identical micros, same values DuckDB sees."""
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    target_files_per_partition: int = 1,
) -> None:
    """Hive-style partitioned parquet sink — the layout that makes
    partition PRUNING (not just row-group pushdown) work on re-read: a
    filter on a partition column eliminates whole directories before
    any file is opened (``PartitionFilters`` in the scan node).

    ``session.cluster`` co-locates each output partition's rows into
    ``target_files_per_partition`` of the executor-width write tasks
    first — without it, every task writes a file into every partition
    directory, the classic small-files explosion (tasks × partitions
    files; at 100 TB that's millions of tiny files and a crushed
    namenode/listing path).
    """
    cols = [F.col(c) for c in partition_cols]
    if target_files_per_partition > 1:
        # salt so each output partition spreads over N write tasks
        cols.append(F.spark_partition_id() % target_files_per_partition)
    cluster(df, cols).write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_tables(tables: dict[str, DataFrame], out: str) -> None:
    """Write each ``{name: frame}`` as the parquet directory
    ``<out>/<name>`` in ONE Spark job (one write job floor instead of
    one per table): the frames union by name under a table
    discriminator, the write partitions by it at one task per table
    (``session.cluster``), and each partition directory is renamed to
    its table's name. A table with no rows still gets its (empty)
    directory. ``out`` is the caller's own staging directory.

    Every file carries the union's columns, the other tables'
    null-filled, so read each table back with its own schema: a
    fixed-schema read prunes the rest at the scan. Columns that two
    frames share by name must share their type."""
    tag = "__table"
    frames = [df.withColumn(tag, F.lit(name)) for name, df in tables.items()]
    union = frames[0]
    for df in frames[1:]:
        union = union.unionByName(df, allowMissingColumns=True)
    cluster(union, [tag], len(frames)).write.mode("overwrite").partitionBy(tag).parquet(out)
    for name in tables:
        part = os.path.join(out, f"{tag}={name}")
        if os.path.isdir(part):
            os.rename(part, os.path.join(out, name))
        else:
            os.makedirs(os.path.join(out, name))


def column_range(spark: SparkSession, sf_dir: str, name: str, col: str) -> tuple:
    """``(min, max)`` of integer column ``col`` of analytic table ``name``.

    Read from the parquet footers' row-group statistics in this process —
    exact for integers, and no Spark job (Spark's own parquet reader
    cannot answer MIN/MAX from footers). A file without statistics for
    the column, or one this process cannot open, falls back to one
    aggregate over the table."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    lo = hi = None
    try:
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if not f.startswith(("_", "."))  # Spark's hidden-file rule
        )
        for f in files:
            md = pq.ParquetFile(f).metadata
            j = md.schema.names.index(col)
            kind = md.schema.column(j)
            if kind.physical_type not in ("INT32", "INT64") or kind.logical_type.type not in (
                "NONE", "INT",
            ):
                raise ValueError(f"{col} is not a plain integer column")
            for i in range(md.num_row_groups):
                c = md.row_group(i).column(j)
                st = c.statistics
                if c.num_values == 0 or (st is not None and st.null_count == c.num_values):
                    continue  # no non-null value in this row group
                if st is None or not st.has_min_max:
                    raise ValueError(f"no statistics for {col} in {f}")
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
    except (OSError, ValueError):
        return tuple(table(spark, sf_dir, name).agg(F.min(col), F.max(col)).first())
    return lo, hi


def compact_parquet(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Rewrite a parquet directory into ~``target_file_bytes`` files.

    Streaming sinks and touched-bucket merges accrete small files; at
    scale the file LISTING becomes the bottleneck long before the bytes
    do. Compaction = read → repartition to ceil(bytes/target) → write
    new dir → swap. The swap is rename-based: readers holding the old
    DataFrame keep their snapshot (immutable files moved, not edited),
    but it is not atomic against concurrent writers — single-maintainer
    by design, like the state store. Returns the new file count.
    """
    import shutil

    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-total // target_file_bytes))
    tmp = path.rstrip("/") + ".compact.tmp"
    old = path.rstrip("/") + ".compact.old"
    spark.read.parquet(path).repartition(n_files).write.mode(
        "errorifexists"
    ).parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_files


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read all driver tables as a dict of DataFrames."""
    return {name: table(spark, sf_dir, name) for name in ANALYTIC_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every driver table as a temp view for ``spark.sql`` use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8) -> DataFrame:
    """Append a ``__zkey`` column: the Z-order (Morton) interleave of the
    given numeric columns, each coded by EQUAL-FREQUENCY rank.

    Per-column codes come from sampled quantile boundaries
    (``approxQuantile`` — a driver-side list of 2^bits-1 doubles,
    metadata-scale, the same sampling Delta's OPTIMIZE ZORDER uses),
    not min/max scaling: equal-width codes collapse on skewed
    distributions (an exponential column puts ~90% of rows in the
    lowest top-bits band and the interleave stops discriminating that
    dimension). The bucket lookup and interleave are pure column
    expressions inside whole-stage codegen. With k columns the key
    uses k*bits bits — keep k*bits <= 62."""
    if len(cols) * bits > 62:
        raise ValueError("zorder key overflows a long: reduce bits or cols")
    if bits > 10:
        # the quantile-boundary array is a 2^bits literal embedded once
        # per interleave bit — at bits=16 that's a ~28 MiB task binary
        # and minutes of codegen. 256-1024 buckets per dim is plenty to
        # discriminate file-granularity min/max stats.
        raise ValueError("bits > 10 explodes the literal boundary array")
    n_buckets = 1 << bits
    qs = [i / n_buckets for i in range(1, n_buckets)]
    codes = []
    for c in cols:
        bounds = df.stat.approxQuantile(c, qs, 1.0 / (4 * n_buckets))
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        codes.append(
            F.size(
                F.filter(arr, lambda b: b <= F.col(c).cast("double"))
            ).cast("long")
        )
    z = F.lit(0).cast("long")
    n = len(codes)
    for i in range(bits):
        for k, c in enumerate(codes):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), i * n + k)
            )
    return df.select(*df.columns, z.alias("__zkey"))


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 32,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet sink: rows are range-partitioned and
    sorted by the Morton key of ``cols``, so each output file covers a
    small hyper-rectangle of the key space and its parquet footer
    min/max stats become SELECTIVE on every clustered column — scans
    with a predicate on ANY of them skip most files/row-groups (the
    multi-dimensional generalization of sort-by-one-column layout).

    This is a one-time layout cost (one range shuffle + local sort),
    amortized over every subsequent scan — same contract as the ANN
    index. Measure the effect with ``scan_pruning_stats``."""
    zdf = zorder_key(df, cols, bits=bits)
    (
        zdf.repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode(mode)
        .parquet(path)
    )


def scan_pruning_stats(
    path: str, col: str, lo, hi
) -> tuple[int, int]:
    """(total_row_groups, row_groups_a_reader_must_touch) for the
    predicate ``lo <= col <= hi``, judged from parquet footer min/max —
    the exact stats Spark's parquet source uses for row-group skipping,
    so this measures real scan pruning without timing noise."""
    import pyarrow.parquet as pq

    total = touched = 0
    for root, _, files in os.walk(path):
        for fname in files:
            if not fname.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, fname)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[col]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                total += 1
                if st is None or st.min is None:
                    touched += 1
                elif not (st.max < lo or st.min > hi):
                    touched += 1
    return total, touched
