"""CDC-maintained BM25 text index: positional postings + stats under I/U/D.

The fourth CDC-maintained structure (rollup cube, ANN lists, dedup
index, now the text-search index): a persisted inverted index whose
postings, document lengths, document frequencies, and corpus stats
track a replicated corpus through INSERT/UPDATE/DELETE in
O(delta + touched buckets), never O(corpus).

Everything BM25 needs is ALGEBRAIC, which makes this the simplest of
the four folds:

- ``postings`` (token, doc_id, tf, positions) live in per-bucket
  version directories keyed by ``bucket = crc32(doc_id) % N`` — and
  because the bucket is a pure function of the id, a fold knows its
  touched partitions from the DELTA ALONE (the ANN fold needs a
  victim-location scan; here there is nothing to look up). Only
  touched buckets get new version directories — untouched buckets
  keep their current directory byte-for-byte. ``positions`` holds the
  token's 1-based in-document offsets (sorted), so the index answers
  PHRASE queries by adjacency join — and a fold preserves positions
  for free, since eviction and placement are row-level.
- ``doclen`` (doc_id, dl) is DERIVED: dl == Σ tf over the doc's
  postings, so the fold never reads the old doclen buckets at all —
  kept + new postings rows regroup into the touched buckets' new
  doclen directories in the same pass.
- ``df`` (token → document frequency) updates by counter arithmetic:
  +1 per (token, new doc), −1 per (token, evicted doc), where the
  evicted docs' tokens come from the touched buckets' postings (a
  directory-pruned read, delta-scale). Vocabulary-scale table,
  rewritten whole (bounded: vocab grows ~log corpus).
- ``globals`` (n_docs, sum_dl) updates by two additions.

Fold shape (r11 verdict #2: ONE multi-output pass, not ~12 sequential
jobs): the delta's checkpoint job observes its tag and touched buckets;
then ONE combined frame — tokenized new postings ∪ the touched buckets'
old postings flagged evicted-or-kept — is materialized once, and every
output (df deltas, new postings buckets, new doclen buckets, and the
globals deltas observed on the bucket write) derives from it lazily.
Four actions in all: the two checkpoints and the two output writes.

Crash exactness (r10 verdict #2 / ADVICE): counter arithmetic is NOT
replay-idempotent, so the fold is staged-then-published — all new
bucket directories and the new meta (df) version are written first,
then ONE atomic ``os.replace`` of the ``_ptr`` manifest makes the whole
fold visible: {meta version, bucket → version map, folded tags, corpus
globals}. The pointer carries ``"format": 2`` and readers refuse any
other (``fsops.check_format``): every unstamped pointer — including
pre-r12 ones without ``pos`` and pre-r14 ones whose globals sit in a
per-meta ``globals.parquet`` — raises a ``ValueError`` that says to
rebuild, instead of being read through a fallback. A crash at any
earlier point leaves the previous pointer — and therefore a fully
consistent previous index — in place; deleting the
superseded directories afterward is pure cleanup, retried by the next
fold. Replays are no-ops via the content-tag ledger in the pointer
(streaming passes explicit ``cdcbatch_<id>`` tags; the batch path
derives a tag from a digest over op, id, AND text — text included so
two different deltas over the same id multiset cannot collide).

Search (``bm25_search``) reproduces the registered
``text_bm25_search`` scoring exactly — rational idf
(N − df + 0.5)/(df + 0.5) with no log, per-term contribution routed
through DECIMAL(18,9) before the per-doc sum — so a maintained index
answers bit-identically to a from-scratch computation over the same
corpus, and the DuckDB oracle can gate it. ``bm25_phrase_search``
does the same for an exact phrase: anchor = position − term offset,
a doc position where every phrase term lands on the same anchor is
one occurrence; scoring is BM25 over the phrase's occurrence counts.
At 100 TB the postings filter ``token IN (...)`` is a pushed
predicate over the touched bucket files, and the doclen read is
DIRECTORY-PRUNED to the buckets the matched postings actually hit
(a ≤N_BUCKETS-element metadata collect) — a rare-term query reads a
handful of doclen directories, not the corpus.

Positions are OPTIONAL (``build_bm25_index(store_positions=False)``):
a positions-off index stores the same schema with an all-null
positions column (~2× smaller postings), folds inherit the mode from
the pointer, term search is unchanged in results and plan (it never
selects positions — the parquet read is column-pruned either way),
and phrase search refuses the index with a clear error instead of
returning an empty result. The trade: pay positional storage only for
corpora that serve phrase queries.

Single writer; LOCAL path (same constraint as the other maintained
structures: the pointer uses ``os`` primitives while parquet goes
through Spark's Hadoop FS).
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from python_cdc_spark import fsops
from python_cdc_spark.functions.digest import tagged_checkpoint
from python_cdc_spark.functions.literals import literal_df
from python_cdc_spark.functions.text import tokens
from python_cdc_spark.session import cluster, run_concurrent


def phrase_df(spark: SparkSession, phrase: tuple[str, ...]) -> DataFrame:
    """(i, term) rows for a phrase, 1-based — JVM-side literal table."""
    return literal_df(
        spark,
        [(i + 1, t) for i, t in enumerate(phrase)],
        [("i", "int"), ("term", "string")],
    )

_N_BUCKETS = 64
_PTR = "_ptr"
#: ``format`` stamp of the pointer (module docstring)
_FORMAT = 2
_POSTINGS_SCHEMA = "doc_id long, token string, tf long, positions array<int>, bucket int"
_DOCLEN_SCHEMA = "doc_id long, dl long, bucket int"


def _bucket(col: F.Column) -> F.Column:
    return (F.crc32(col.cast("string")) % _N_BUCKETS).cast("int")


def _doc_tf(
    docs: DataFrame, text_col: str, id_col: str, with_positions: bool = True
) -> DataFrame:
    """(doc_id, token, tf, positions, bucket) — the same tokenization the
    registered BM25 query (and its oracle twin) uses; positions are the
    token's 1-based offsets, sorted (collect_list order is partition-
    dependent, the sort makes the stored bytes deterministic).

    ``with_positions=False`` (a positions-OFF index) emits a NULL
    positions column: the schema stays identical, so folds and reads
    never branch, but the parquet column is all-null (~2× smaller
    postings — the documented storage/feature trade: term search never
    reads positions either way, phrase search requires them)."""
    tok = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "token"),
    )
    if not with_positions:
        return (
            tok.groupBy("doc_id", "token")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .withColumn("positions", F.lit(None).cast("array<int>"))
            .withColumn("bucket", _bucket(F.col("doc_id")))
        )
    return tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf"),
        F.sort_array(F.collect_list((F.col("pos") + 1).cast("int"))).alias("positions"),
    ).withColumn("bucket", _bucket(F.col("doc_id")))


# --- pointer ---------------------------------------------------------------


def _ptr_path(path: str) -> str:
    return os.path.join(path, _PTR)


def read_ptr(path: str) -> dict:
    """{"format", "meta": M, "postings": {b: v}, "doclen": {b: v},
    "folds": [...], "pos": bool, "globals": {...}} — ``pos`` records
    whether this index stores positional postings; folds inherit it,
    phrase search requires it."""
    return _read_ptr_with_token(path)[0]


def _read_ptr_with_token(path: str) -> tuple[dict, object]:
    """Pointer plus its identity token — every writer reads through
    this so its eventual ``_write_ptr`` can be conditional (optimistic
    concurrency at the pointer swap; fsops.cas_publish). A missing
    pointer reads as an empty index; one without the current format
    is refused."""
    ptr, tok = fsops.read_json_with_token(_ptr_path(path))
    if tok is None:
        return {"meta": -1, "postings": {}, "doclen": {}, "folds": []}, tok
    return fsops.check_format(ptr, _FORMAT, _ptr_path(path)), tok


def _write_ptr(path: str, ptr: dict, expected_token: object) -> None:
    """The commit point: conditional on the pointer not having moved
    since this writer's read — two racing folds/builds resolve to
    exactly one winner, the loser raising ConcurrentWriterError with
    its staged dirs left for vacuum."""
    fsops.cas_publish(_ptr_path(path), {**ptr, "format": _FORMAT}, expected_token)


def _bucket_dir(path: str, table: str, bucket: int, version: int) -> str:
    return os.path.join(path, table, f"b{int(bucket):04d}_v{int(version):06d}")


def _meta_dir(path: str, version: int) -> str:
    return os.path.join(path, f"meta_v{int(version):06d}")


def vacuum_plan(path: str, ptr: dict) -> tuple[list[str], set[str]]:
    """``(removable, live)``, both relative to the index root. ``live``
    is every directory ``ptr`` references; ``removable`` is every other
    meta/bucket version dir plus crashed writers' staging dirs that
    never got claimed. YOUNG staging may belong to a live concurrent
    writer, so staging is removable only past the age gate
    (``fsops.STAGING_TTL_SECS``). The one derivation behind both the
    fold's :func:`_cleanup` and ``maintenance.vacuum``."""
    live = {os.path.relpath(_meta_dir(path, ptr["meta"]), path)} if ptr["meta"] >= 0 else set()
    for table in ("postings", "doclen"):
        for b, v in ptr[table].items():
            live.add(os.path.relpath(_bucket_dir(path, table, int(b), v), path))
    removable = [
        e
        for e in fsops.list_dir(path)
        if (e.startswith("meta_v") and e not in live)
        or fsops.is_stale_staging(path, e)
    ]
    for table in ("postings", "doclen"):
        root = os.path.join(path, table)
        removable += [
            os.path.join(table, e)
            for e in fsops.list_dir(root)
            if (e.startswith("b") and os.path.join(table, e) not in live)
            or fsops.is_stale_staging(root, e)
        ]
    return removable, live


def _cleanup(path: str, ptr: dict) -> None:
    """Delete every directory the pointer does not reference — old
    versions of rewritten buckets, superseded meta, and partial writes
    from a crashed fold (:func:`vacuum_plan`). Pure cleanup: readers
    only follow the pointer, so a crash mid-cleanup costs disk, never
    correctness."""
    for rel in vacuum_plan(path, ptr)[0]:
        fsops.remove_tree(os.path.join(path, rel))


# --- reads -----------------------------------------------------------------


def _read_table(
    spark: SparkSession,
    path: str,
    table: str,
    schema: str,
    ptr: dict | None = None,
    buckets: list[int] | None = None,
) -> DataFrame:
    """Current rows of postings/doclen, optionally pruned to a bucket
    subset — pruning is directory enumeration, so unprobed buckets are
    never opened (the 100 TB read path)."""
    ptr = ptr if ptr is not None else read_ptr(path)
    want = None if buckets is None else {int(b) for b in buckets}
    dirs = [
        _bucket_dir(path, table, int(b), v)
        for b, v in ptr[table].items()
        if want is None or int(b) in want
    ]
    if not dirs:
        return spark.createDataFrame([], schema)
    # explicit schema (the bucket layout is fixed): skips the one-job
    # parquet footer inference Spark runs per schemaless read call
    return spark.read.schema(schema).parquet(*dirs)


def read_postings(spark: SparkSession, path: str, buckets: list[int] | None = None) -> DataFrame:
    return _read_table(spark, path, "postings", _POSTINGS_SCHEMA, buckets=buckets)


def read_doclen(spark: SparkSession, path: str, buckets: list[int] | None = None) -> DataFrame:
    return _read_table(spark, path, "doclen", _DOCLEN_SCHEMA, buckets=buckets)


def read_df_table(spark: SparkSession, path: str) -> DataFrame:
    ptr = read_ptr(path)
    return spark.read.schema("token string, df long").parquet(
        os.path.join(_meta_dir(path, ptr["meta"]), "df.parquet")
    )


def read_globals(spark: SparkSession, path: str):
    """``{"n_docs": int, "sum_dl": int}``. Two counters do not need a
    parquet file and a Spark job per read: they ride in the pointer
    itself (same atomic publish as the meta version they belong to)."""
    g = read_ptr(path)["globals"]
    return {"n_docs": int(g["n_docs"]), "sum_dl": int(g["sum_dl"])}


def _write_meta(
    spark: SparkSession, path: str, version: int, df_table: DataFrame
) -> int:
    """Stage the df table, then claim the first free ``meta_v*`` slot
    at-or-past the hinted version (fsops.claim). Returns the CLAIMED
    version — the pointer must record this, not the hint. The two
    corpus globals ride in the pointer (read_globals), not in a parquet
    file here — one fewer write job per fold and one fewer read job
    per search."""
    staging = fsops.staging(path)
    df_table.write.mode("overwrite").parquet(os.path.join(staging, "df.parquet"))
    return fsops.claim(staging, functools.partial(_meta_dir, path), version)


def _claim_bucket_slots(
    path: str, table: str, staged_root: str, allowed: set[int], versions: dict
) -> dict[str, int]:
    """Rename every staged ``pb=<b>`` partition dir under ``staged_root``
    into its versioned bucket location (metadata-only)."""
    out = {}
    for entry in fsops.list_dir(staged_root):
        if not entry.startswith("pb="):
            continue
        b = int(entry.split("=", 1)[1])
        # a staged bucket outside the touched set means the frame and the
        # delta's bucketing drifted — corrupting an un-versioned bucket
        assert b in allowed, f"staged bucket {b} outside touched set for {table}"
        # claim the first FREE versioned slot past the current one: the
        # losing pointer's unreferenced slots are reclaimed by vacuum
        out[str(b)] = fsops.claim(
            os.path.join(staged_root, entry),
            functools.partial(_bucket_dir, path, table, b),
            int(versions.get(str(b), -1)) + 1,
        )
    return out


def _write_buckets_fused(
    path: str,
    postings: DataFrame,
    touched: list[int],
    ptr: dict,
    counters: Observation | None = None,
) -> tuple[dict[str, int], dict[str, int]]:
    """Stage the touched buckets of BOTH per-bucket tables — postings
    and the derived doclen — in ONE Spark write (r13 verdict #5),
    partitioned by (kind, pb). The staged ``kind=<table>/pb=<b>`` dirs
    rename into exactly the same versioned bucket locations as before —
    the directory-pruned read contract is untouched, and each read's
    fixed schema prunes the other kind's null-filled columns at the
    parquet scan.

    ``postings`` rows are clustered on their bucket at executor width
    (``session.cluster``): a task holds whole buckets, so each staged
    bucket dir gets ONE file, and a doc's doclen (dl = Σ tf) is a window
    over its rows inside that task — no aggregation shuffle of its own.
    Each row is written as itself plus, for one row per doc, the doc's
    doclen row. The fold's rows carry ``__new``/``__ev`` flags (one
    source branch each, so they partition the window with the doc):
    ``__ev`` rows, the evicted old images, are written as nothing, and
    ``counters`` observes the evicted and placed docs' counts and
    lengths (``ev_n``, ``ev_s``, ``nw_n``, ``nw_s``) on the write itself.
    Returns (postings entries, doclen entries)."""
    flags = [c for c in ("__new", "__ev") if c in postings.columns]
    doc = Window.partitionBy("doc_id", "bucket", *flags)
    rows = cluster(postings, ["bucket"], len(touched)).select(
        "*",
        F.sum("tf").over(doc).cast("long").alias("dl"),
        (F.row_number().over(doc.orderBy("token")) == 1).alias("__first"),
    )
    if counters is not None:
        first, ev, new = F.col("__first"), F.col("__ev"), F.col("__new")
        rows = rows.observe(
            counters,
            F.count(F.when(first & ev, 1)).alias("ev_n"),
            F.sum(F.when(first & ev, F.col("dl"))).alias("ev_s"),
            F.count(F.when(first & new, 1)).alias("nw_n"),
            F.sum(F.when(first & new, F.col("dl"))).alias("nw_s"),
        )
    kinds = F.when(F.col("__first"), F.array(F.lit("postings"), F.lit("doclen"))).otherwise(
        F.array(F.lit("postings"))
    )
    if "__ev" in flags:
        kinds = F.when(F.col("__ev"), F.array().cast("array<string>")).otherwise(kinds)
    is_p = F.col("kind") == "postings"
    staged = rows.select("*", F.explode(kinds).alias("kind")).select(
        "doc_id",
        F.when(is_p, F.col("token")).alias("token"),
        F.when(is_p, F.col("tf")).alias("tf"),
        F.when(is_p, F.col("positions")).alias("positions"),
        F.when(~is_p, F.col("dl")).alias("dl"),
        "bucket",
        "kind",
        F.col("bucket").alias("pb"),
    )
    staging = fsops.staging(path)
    # already clustered on the bucket: Spark drops this repartition
    (
        cluster(staged, ["bucket"], len(touched))
        .write.partitionBy("kind", "pb")
        .mode("overwrite")
        .parquet(staging)
    )
    allowed = {int(b) for b in touched}
    # the staging lives at the index root, so a first build must create
    # the per-table parents before the renames
    os.makedirs(os.path.join(path, "postings"), exist_ok=True)
    os.makedirs(os.path.join(path, "doclen"), exist_ok=True)
    p_out = _claim_bucket_slots(
        path, "postings", os.path.join(staging, "kind=postings"), allowed,
        ptr["postings"],
    )
    d_out = _claim_bucket_slots(
        path, "doclen", os.path.join(staging, "kind=doclen"), allowed,
        ptr["doclen"],
    )
    fsops.remove_tree(staging)
    return p_out, d_out


# --- build / fold ----------------------------------------------------------


def build_bm25_index(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    store_positions: bool = True,
) -> int:
    """Batch bootstrap: bucketed positional postings + derived doclen,
    df, globals — staged fully, then published by one pointer swap
    (rebuild over a live index is itself crash-safe: readers keep the
    old pointer until the swap). One tokenize pass: doclen, df, and
    globals all derive from the checkpointed postings.

    ``store_positions=False`` builds a positions-OFF index: the
    postings schema is unchanged (positions all-null, so folds/reads
    never branch) but the stored bytes drop ~2×. Term search is
    identical in results AND plan (it never selects positions — the
    parquet read is column-pruned); phrase search refuses the index
    with a clear error. The mode is recorded in the pointer and every
    CDC fold inherits it."""
    old, tok = _read_ptr_with_token(path)
    tf = _doc_tf(docs, text_col, id_col, store_positions).localCheckpoint(eager=True)
    meta_v = old["meta"] + 1
    g = tf.agg(
        F.countDistinct("doc_id").alias("n"), F.sum("tf").alias("s")
    ).first()
    df_table = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # versions continue past the previous generation's, so staging can
    # never overwrite a directory the live pointer still references;
    # the two staged outputs are path-disjoint → concurrent jobs
    # (postings + derived doclen fused into ONE bucket write, r14)
    all_buckets = list(range(_N_BUCKETS))
    (p_entries, d_entries), meta_v = run_concurrent(
        spark,
        functools.partial(_write_buckets_fused, path, tf, all_buckets, old),
        functools.partial(_write_meta, spark, path, meta_v, df_table),
    )
    ptr = {
        "meta": meta_v,
        "postings": p_entries,
        "doclen": d_entries,
        "folds": [],
        "pos": bool(store_positions),
        "globals": {"n_docs": int(g["n"] or 0), "sum_dl": int(g["s"] or 0)},
    }
    _write_ptr(path, ptr, tok)
    _cleanup(path, ptr)
    return int(g["n"] or 0)


def cdc_bm25_update(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    op_col: str = "operation",
    batch_tag: str | None = None,
) -> dict:
    """Fold an I/U/D document delta into the index. Returns fold stats
    (touched/total buckets, counter movements) for receipts.

    All-or-nothing: new bucket + meta directories are staged, then the
    pointer swap publishes them atomically. Replaying a folded tag
    (crash after publish, or an at-least-once stream redelivering a
    batch) is a no-op via the pointer's fold ledger.

    One multi-output pass (r11 verdict #2): the delta checkpoint's own
    job observes the replay tag and the touched bucket set, then ONE
    combined frame (new postings ∪ touched old postings flagged
    evicted/kept) feeds every output — df counters, globals, new
    postings buckets, and new doclen buckets (doclen is Σ tf, so the old
    doclen dirs are never even read). The counters are observed on the
    bucket write: no probe job of its own.
    """
    delta = delta.select(
        F.col(op_col).alias("__op"),
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias(text_col),
    )
    # observed on the checkpoint: replay tag digests + the touched bucket
    # set (a pure function of the delta's ids — crc32 bucketing needs no
    # index probe)
    key = F.concat_ws(
        ":",
        F.col("__op"),
        F.col("doc_id").cast("string"),
        F.coalesce(F.col(text_col), F.lit("\x00")),
    )
    delta, tag, row = tagged_checkpoint(
        delta, key, F.collect_set(_bucket(F.col("doc_id"))).alias("bs")
    )
    if batch_tag is not None:
        tag = batch_tag
    touched = sorted(int(b) for b in row["bs"])
    ptr, tok = _read_ptr_with_token(path)
    if tag in ptr["folds"]:
        return {"replayed": True, "tag": tag, "n_docs": int(read_globals(spark, path)["n_docs"])}

    # evict-then-place (the ANN fold's discipline): every delta id's old
    # image leaves before I/U images land, so an INSERT for an id that
    # already exists upserts instead of silently double-counting
    victims = delta.select("doc_id").distinct().withColumn("__ev", F.lit(True))
    new_docs = delta.filter(F.col("__op").isin("INSERT", "UPDATE")).select(
        "doc_id", text_col
    )
    tp = _read_table(spark, path, "postings", _POSTINGS_SCHEMA, ptr, touched)
    combined = (
        _doc_tf(new_docs, text_col, "doc_id", with_positions=ptr["pos"])
        .select("doc_id", "token", "tf", "positions", "bucket")
        .withColumn("__new", F.lit(True))
        .withColumn("__ev", F.lit(False))
        .unionByName(
            tp.select("doc_id", "token", "tf", "positions", "bucket")
            .withColumn("__new", F.lit(False))
            .join(F.broadcast(victims), "doc_id", "left")
            .withColumn("__ev", F.coalesce(F.col("__ev"), F.lit(False)))
            .select("doc_id", "token", "tf", "positions", "bucket", "__new", "__ev")
        )
        .localCheckpoint(eager=True)
    )
    # df counters by UNION + one groupBy — no join: the old table's rows
    # carry their df, placed rows +1, evicted rows −1, one shuffle total
    old_df = read_df_table(spark, path)
    new_df = (
        old_df.unionByName(
            combined.filter(F.col("__new") | F.col("__ev")).select(
                "token",
                F.when(F.col("__new"), F.lit(1)).otherwise(F.lit(-1)).cast("long").alias("df"),
            )
        )
        .groupBy("token")
        .agg(F.sum("df").alias("df"))
        .filter(F.col("df") > 0)
    )

    # --- stage touched buckets + meta, then publish --------------------
    # the two staged outputs share no paths and both derive from the
    # checkpointed frame, so they run as CONCURRENT Spark jobs — the
    # publish (pointer swap) still happens only after both landed. The
    # bucket write drops the evicted rows and observes the fold counters
    # (r14: a doc's rows share their flags per source branch, so each
    # doc counts once per image, new and/or old — distinct-free).
    counters = Observation()
    meta_v = ptr["meta"] + 1
    # the CLAIMED meta slot (≥ the hint) comes back from _write_meta
    meta_v, (p_entries, d_entries) = run_concurrent(
        spark,
        functools.partial(_write_meta, spark, path, meta_v, new_df),
        functools.partial(_write_buckets_fused, path, combined, touched, ptr, counters),
    )
    st = counters.get
    g = read_globals(spark, path)
    n_docs = int(g["n_docs"]) - int(st["ev_n"] or 0) + int(st["nw_n"] or 0)
    sum_dl = int(g["sum_dl"]) - int(st["ev_s"] or 0) + int(st["nw_s"] or 0)
    nxt = {
        "meta": meta_v,
        "postings": {
            **{b: v for b, v in ptr["postings"].items() if int(b) not in touched},
            **p_entries,
        },
        "doclen": {
            **{b: v for b, v in ptr["doclen"].items() if int(b) not in touched},
            **d_entries,
        },
        # ledger bounded at 64: a replay can only be the crashed latest
        # fold (batch) or a post-checkpoint redelivery (streaming, ≤ a
        # few batches) — far inside the window, and the pointer stays KB
        "folds": (ptr["folds"] + [tag])[-64:],
        "pos": ptr["pos"],  # folds inherit the index's positions mode
        "globals": {"n_docs": int(n_docs), "sum_dl": int(sum_dl)},
    }
    _write_ptr(path, nxt, tok)  # the commit point (CAS on the read token)
    _cleanup(path, nxt)
    return {
        "replayed": False,
        "tag": tag,
        "touched_buckets": len(touched),
        "total_buckets": _N_BUCKETS,
        "evicted_docs": int(st["ev_n"] or 0),
        "new_docs": int(st["nw_n"] or 0),
        "n_docs": n_docs,
    }


# --- search ----------------------------------------------------------------


def _matched_postings(post: DataFrame) -> tuple[DataFrame, list[int]]:
    """``post`` (term-matched postings) checkpointed — a search scans it
    twice, for the doclen bucket set and for the match — with the
    buckets it hits (≤ N_BUCKETS values) observed on the checkpoint's
    own job: the doclen read is pruned to them with no probe job."""
    obs = Observation()
    post = post.observe(obs, F.collect_set("bucket").alias("bs")).localCheckpoint(
        eager=True
    )
    return post, sorted(int(b) for b in obs.get["bs"])


def bm25_search(
    spark: SparkSession,
    path: str,
    terms: tuple[str, ...],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k BM25 retrieval from the maintained index — scoring
    identical to the registered ``text_bm25_search`` (rational idf, per
    -term DECIMAL(18,9) routing, (score DESC, doc_id) tiebreak).

    The doclen read is pruned to the buckets the term-matched postings
    hit (≤ N_BUCKETS ids collected, metadata-scale), so a rare-term
    query never scans corpus-scale doclen. The global top-k window is
    compiled by Spark's InferWindowGroupLimit to
    ``TakeOrderedAndProject(limit=k)`` — pinned in tests/test_plans.py.
    """
    g = read_globals(spark, path)
    n_docs, sum_dl = int(g["n_docs"]), int(g["sum_dl"])
    avgdl = float(sum_dl) / n_docs if n_docs else 0.0
    ptr = read_ptr(path)
    df_t = read_df_table(spark, path).filter(F.col("token").isin(*terms))
    tf, hit_buckets = _matched_postings(
        _read_table(spark, path, "postings", _POSTINGS_SCHEMA, ptr)
        .filter(F.col("token").isin(*terms))
        .select("doc_id", "token", "tf", "bucket")
    )
    dl = _read_table(spark, path, "doclen", _DOCLEN_SCHEMA, ptr, hit_buckets).select(
        "doc_id", "dl"
    )
    contrib = (
        tf.select("doc_id", "token", "tf")
        .join(F.broadcast(df_t), "token")
        .join(dl, "doc_id")
        .select(
            "doc_id",
            (
                ((F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * (F.col("tf") * (k1 + 1.0))
                / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
            ).cast("decimal(18,9)").alias("c"),
        )
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("c").cast("double").alias("score"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def bm25_phrase_search(
    spark: SparkSession,
    path: str,
    phrase: tuple[str, ...],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k EXACT-PHRASE retrieval from the maintained index's
    positional postings. A phrase occurrence is an anchor position
    where every phrase term lands at its offset: term i (1-based) at
    position p contributes anchor p − i + 1, and an anchor covered by
    all len(phrase) DISTINCT offsets is one occurrence. Scoring is
    BM25 over the per-doc occurrence count, with df = number of docs
    containing the phrase (computed at query time from the matched
    postings — delta-scale, never corpus-scale: term-pushed postings
    read, bucket-pruned doclen read, broadcast phrase map).

    Returns (doc_id, phrase_tf, score, rnk) — the same shape as the
    registered ``text_bm25_phrase_search`` so the DuckDB oracle can
    gate a CDC-maintained index byte-for-byte.
    """
    ptr = read_ptr(path)
    if not ptr["pos"]:
        raise ValueError(
            "phrase search needs positional postings; this index was "
            "built with store_positions=False (term search still works)"
        )
    g = read_globals(spark, path)
    n_docs, sum_dl = int(g["n_docs"]), int(g["sum_dl"])
    avgdl = float(sum_dl) / n_docs if n_docs else 0.0
    ph = phrase_df(spark, phrase)
    post, hit_buckets = _matched_postings(
        _read_table(spark, path, "postings", _POSTINGS_SCHEMA, ptr)
        .filter(F.col("token").isin(*phrase))
        .select("doc_id", "token", "positions", "bucket")
    )
    occ = (
        post.join(F.broadcast(ph), post["token"] == ph["term"])
        .select("doc_id", "i", F.explode("positions").alias("pos"))
        .select("doc_id", "i", (F.col("pos") - F.col("i") + 1).alias("anchor"))
        .groupBy("doc_id", "anchor")
        .agg(F.countDistinct("i").alias("hits"))
        .filter(F.col("hits") == len(phrase))
    )
    ptf = occ.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("phrase_tf"))
    pdf = ptf.agg(F.count(F.lit(1)).alias("df"))
    dl = _read_table(spark, path, "doclen", _DOCLEN_SCHEMA, ptr, hit_buckets).select(
        "doc_id", "dl"
    )
    scored = (
        ptf.join(dl, "doc_id")
        .crossJoin(F.broadcast(pdf))
        .select(
            "doc_id",
            "phrase_tf",
            (
                ((F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * (F.col("phrase_tf") * (k1 + 1.0))
                / (
                    F.col("phrase_tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
                )
            ).cast("decimal(18,9)").cast("double").alias("score"),
        )
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "phrase_tf", "score", "rnk")
    )
