#!/usr/bin/env python
"""Delta-width sweep for the BM25 CDC fold — the O(touched) receipt.

The registered gate folds the shared fixture delta (~45% corpus churn,
touching all 64 buckets), so its bench row shows the WORST case. This
tool folds deltas of increasing width into the same sf1 base index and
records touched buckets + wall seconds per fold, against the
from-scratch rebuild time — the narrow-delta end is where a production
CDC feed lives, and fold cost there must track the DELTA, not the
corpus (operators/bm25_index.py's O(delta + touched buckets) claim).

``--corpus-scale`` flips the sweep's axis: instead of widening the
delta at one corpus size, it folds the SAME constant 15-id narrow
delta (queries/llm_text.py ``narrow_delta`` — the registry gate's) into
full-corpus base indexes at sf0.1 / sf1 / sf10 and records fold
seconds per scale. The O(delta + touched buckets) claim predicts a
~FLAT line while the corpus grows 100× (pristine-base build time is
reported separately; no per-fold copy — each scale folds into its own
freshly built base, so the fold timing is pure fold).

Usage: python tools/bench_bm25_cdc.py [sf_dir]
       python tools/bench_bm25_cdc.py --corpus-scale [sf10_dir]
Prints ONE JSON line → BENCH_BM25_CDC.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WIDTHS = (8, 64, 512, 4096)


def corpus_scale_main() -> None:
    from python_cdc_spark.io import table
    from python_cdc_spark.operators.bm25_index import (
        bm25_search,
        build_bm25_index,
        cdc_bm25_update,
    )
    from python_cdc_spark.queries.llm_text import narrow_delta
    from python_cdc_spark.session import get_spark

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf10 = argv[0] if argv else os.path.join(repo, ".sf10")
    scales = [
        ("sf0.1", "/root/testdata/sf0.1"),
        ("sf1", os.path.join(repo, ".sf1")),
        ("sf10", sf10),
    ]
    scales = [s for s in scales if os.path.isdir(s[1])]
    spark = get_spark()
    out: dict = {"metric": "bm25_cdc_narrow_fold_corpus_scale", "unit": "sec",
                 "delta_rows": 15, "per_scale": []}
    for label, sf_dir in scales:
        docs = table(spark, sf_dir, "documents").select("doc_id", "text")
        delta = narrow_delta(docs).localCheckpoint(eager=True)
        with tempfile.TemporaryDirectory() as tmp:
            idx = os.path.join(tmp, "idx")
            t0 = time.time()
            n = build_bm25_index(spark, docs, idx)
            build_sec = time.time() - t0
            t0 = time.time()
            stats = cdc_bm25_update(spark, idx, delta)
            fold_sec = time.time() - t0
            t0 = time.time()
            k = bm25_search(spark, idx, ("join", "scan"), 10).count()
            out["per_scale"].append({
                "scale": label,
                "corpus_docs": n,
                "build_sec": round(build_sec, 2),
                "fold_sec": round(fold_sec, 2),
                "touched_buckets": stats["touched_buckets"],
                "total_buckets": stats["total_buckets"],
                "search_sec": round(time.time() - t0, 2),
                "search_rows": k,
            })
            print(f"# {label}: docs={n} build={build_sec:.1f}s "
                  f"fold={fold_sec:.1f}s touched={stats['touched_buckets']}",
                  file=sys.stderr, flush=True)
    print(json.dumps(out))


def main() -> None:
    from pyspark.sql import functions as F

    from python_cdc_spark.operators.bm25_index import (
        bm25_search,
        build_bm25_index,
        cdc_bm25_update,
    )
    from python_cdc_spark.queries.helpers import cdc_corpus_split
    from python_cdc_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/repo/.sf1"
    )
    spark = get_spark()
    base, gate_delta = cdc_corpus_split(spark, sf_dir)
    gate_delta = gate_delta.localCheckpoint(eager=True)

    out: dict = {"metric": "bm25_cdc_delta_width_sweep", "sf_dir": sf_dir,
                 "unit": "sec", "folds": []}
    with tempfile.TemporaryDirectory() as tmp:
        pristine = os.path.join(tmp, "pristine")
        t0 = time.time()
        n = build_bm25_index(spark, base, pristine)
        out["rebuild_sec"] = round(time.time() - t0, 2)
        out["base_docs"] = n

        # deterministic width slices of the gate delta (crc32 order)
        ranked = gate_delta.withColumn(
            "__r",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy(
                    F.crc32(F.col("doc_id").cast("string")), F.col("doc_id")
                )
            ),
        ).localCheckpoint(eager=True)
        for w in WIDTHS:
            work = os.path.join(tmp, f"w{w}")
            shutil.copytree(pristine, work)
            delta = ranked.filter(F.col("__r") <= w).drop("__r")
            t0 = time.time()
            stats = cdc_bm25_update(spark, work, delta)
            fold_sec = time.time() - t0
            t0 = time.time()
            k = bm25_search(spark, work, ("join", "scan"), 10).count()
            out["folds"].append({
                "delta_rows": w,
                "touched_buckets": stats["touched_buckets"],
                "total_buckets": stats["total_buckets"],
                "fold_sec": round(fold_sec, 2),
                "fold_over_rebuild": round(fold_sec / out["rebuild_sec"], 3),
                "search_sec": round(time.time() - t0, 2),
                "search_rows": k,
            })
            shutil.rmtree(work, ignore_errors=True)

        # the gate's own wide delta (~45% churn) for the worst-case row
        work = os.path.join(tmp, "gate")
        shutil.copytree(pristine, work)
        t0 = time.time()
        stats = cdc_bm25_update(spark, work, gate_delta)
        fold_sec = time.time() - t0
        out["folds"].append({
            "delta_rows": gate_delta.count(),
            "touched_buckets": stats["touched_buckets"],
            "total_buckets": stats["total_buckets"],
            "fold_sec": round(fold_sec, 2),
            "fold_over_rebuild": round(fold_sec / out["rebuild_sec"], 3),
            "gate_fixture": True,
        })
    print(json.dumps(out))


if __name__ == "__main__":
    if "--corpus-scale" in sys.argv[1:]:
        corpus_scale_main()
    else:
        main()
