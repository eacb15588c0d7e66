#!/usr/bin/env python
"""Vacuum-under-load receipt (r11 verdict #6).

`BENCH_VACUUM.json` proved bounded storage with SEQUENTIAL fold-then-
vacuum at sf0.01. This tool is the runtime analog of the crash-mid-
vacuum pin, at sf1: it interleaves CDC folds of the BM25 index with
vacuum sweeps AND concurrent reader threads, under the single-writer
model (one folding thread; vacuum and readers overlap freely).

Per wave: fold a delta slice, then run `vacuum()` CONCURRENTLY with R
reader threads that resolve the committed pointer and execute term +
phrase searches while the sweep deletes superseded directories. Every
read must (a) not error and (b) hash-equal the post-fold answer read
quietly after the wave — a reader that opened the pointer mid-vacuum
keeps a complete directory set because vacuum deletes only
unreferenced dirs. The dedup grace-window analog (a reader of the
PREVIOUS components version surviving fold+vacuum) is pinned in
tests/test_maintenance.py::test_reader_during_vacuum_stays_readable.

Usage: python tools/bench_vacuum_load.py [sf_dir] [--folds 6] [--readers 3]
Prints ONE JSON line → BENCH_VACUUM_LOAD.json.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_TERM_SETS = [
    ("join", "scan"),
    ("filter", "merge"),
    ("table", "window", "group"),
]
_PHRASE = ("merge", "join")


def main() -> None:
    from pyspark.sql import functions as F

    from python_cdc_spark.maintenance import vacuum
    from python_cdc_spark.operators.bm25_index import (
        bm25_phrase_search,
        bm25_search,
        build_bm25_index,
        cdc_bm25_update,
    )
    from python_cdc_spark.queries.helpers import cdc_corpus_split
    from python_cdc_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf1"
    )
    folds = int(sys.argv[sys.argv.index("--folds") + 1]) if "--folds" in sys.argv else 6
    readers = (
        int(sys.argv[sys.argv.index("--readers") + 1])
        if "--readers" in sys.argv
        else 3
    )
    spark = get_spark()
    base, delta = cdc_corpus_split(spark, sf_dir)
    delta = delta.withColumn(
        "__wave", F.pmod(F.crc32(F.col("doc_id").cast("string")), F.lit(folds))
    ).localCheckpoint(eager=True)

    def snapshot(idx: str) -> list:
        rows = []
        for terms in _TERM_SETS:
            rows.append(sorted(map(tuple, bm25_search(spark, idx, terms, 20).collect())))
        rows.append(
            sorted(map(tuple, bm25_phrase_search(spark, idx, _PHRASE, 20).collect()))
        )
        return rows

    out: dict = {"metric": "vacuum_under_load", "sf_dir": sf_dir,
                 "folds": folds, "readers": readers, "waves": []}
    with tempfile.TemporaryDirectory() as tmp:
        idx = os.path.join(tmp, "idx")
        t0 = time.time()
        n = build_bm25_index(spark, base, idx)
        out["build_sec"] = round(time.time() - t0, 2)
        out["base_docs"] = n

        for w in range(folds):
            wave = delta.filter(F.col("__wave") == w).drop("__wave")
            t0 = time.time()
            stats = cdc_bm25_update(spark, idx, wave)
            fold_sec = time.time() - t0

            # the fold's own sweep already ran, so give the concurrent
            # vacuum REAL deletions: clone the live meta + a live bucket
            # dir as unreferenced debris (what a crashed stage leaves),
            # forcing the sweep to delete while the readers are mid-scan
            import shutil as _sh

            from python_cdc_spark.operators.bm25_index import read_ptr

            ptr = read_ptr(idx)
            _sh.copytree(
                os.path.join(idx, f"meta_v{ptr['meta']:06d}"),
                os.path.join(idx, f"meta_v{900 + w:06d}"),
            )
            b, v = next(iter(ptr["postings"].items()))
            _sh.copytree(
                os.path.join(idx, "postings", f"b{int(b):04d}_v{int(v):06d}"),
                os.path.join(idx, "postings", f"b{int(b):04d}_v{900 + w:06d}"),
            )
            read_errors, mismatches = [], 0
            t0 = time.time()

            def one_reader(i: int):
                try:
                    return snapshot(idx)
                except Exception as ex:  # noqa: BLE001 — receipt records it
                    read_errors.append(f"{type(ex).__name__}: {str(ex)[:120]}")
                    return None

            with ThreadPoolExecutor(max_workers=readers + 1) as pool:
                f_vac = pool.submit(vacuum, spark, idx)
                f_reads = [pool.submit(one_reader, i) for i in range(readers)]
                vac = f_vac.result()
                reads = [f.result() for f in f_reads]
            load_sec = time.time() - t0

            quiet = snapshot(idx)  # the post-fold truth, no concurrency
            for r in reads:
                if r is not None and r != quiet:
                    mismatches += 1
            out["waves"].append({
                "wave": w,
                "fold_sec": round(fold_sec, 2),
                "vacuum_removed": len(vac["removed"]),
                "reclaimed_bytes": vac["reclaimed_bytes"],
                "concurrent_sec": round(load_sec, 2),
                "read_errors": read_errors,
                "reader_mismatches": mismatches,
                "n_docs": stats.get("n_docs"),
            })

    out["total_read_errors"] = sum(len(w["read_errors"]) for w in out["waves"])
    out["total_reader_mismatches"] = sum(w["reader_mismatches"] for w in out["waves"])
    out["ok"] = out["total_read_errors"] == 0 and out["total_reader_mismatches"] == 0
    print(json.dumps(out))


if __name__ == "__main__":
    main()
