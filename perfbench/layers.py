"""Which engine functions the traced run wraps, and the per-layer metrics
computed from the spans and the Spark event log afterwards.

Every per-layer metric is listed in ``LAYER_METRICS`` with the end-to-end
metric and the workload it should move. A traced run reports all of them;
a layer the workload does not run reads 0 (no time spent, no jobs).
"""

from __future__ import annotations

import os

from common import median

MIX = [
    "q1_pricing_summary",
    "cdc_apply_changes",
    "rollup_cdc_maintained",
    "bm25_index_cdc_maintained",
    "dedup_index_cdc_maintained",
    "ann_index_cdc_maintained",
]

C, W, Q = "wire (catch-up phase)", "wire (steady phase)", "query_mix"
TP, L50, L95 = "throughput_per_s", "latency_p50_s", "latency.p95_s"

# name: (unit, better, moves, on)
LAYER_METRICS: dict[str, tuple[str, str, str, str]] = {
    "latency.p95_s": ("s", "lower", f"the tail of {L50}", "all"),
    "pgoutput.decode_s": ("s", "lower", TP, C),
    "pgoutput.frames_in": ("count", "higher", TP, C),
    "pgoutput.events_out": ("count", "higher", TP, C),
    "pgoutput.frames_dropped": ("count", "lower", TP, C),
    "apply.fold_s": ("s", "lower", TP, C),
    "apply.rows_folded": ("count", "lower", TP, C),
    "apply.useful_ratio": ("ratio", "higher", TP, C),
    "apply.shuffle_bytes": ("bytes", "lower", TP, C),
    "apply.argmax_batches": ("count", "lower", TP, C),
    "state_store.commit_s": ("s", "lower", f"{L50} on {W}, {TP}", C),
    "state_store.vacuum_s": ("s", "lower", f"{L50} on {W}, {TP}", C),
    "state_store.buckets_touched": ("count", "lower", f"{L50} on {W}, {TP}", C),
    "state_store.bytes_written": ("bytes", "lower", f"{L50} on {W}, {TP}", C),
    "state_store.state_rows": ("count", "lower", f"{L50} on {W}, {TP}", C),
    "state_store.state_bytes": ("bytes", "lower", f"{L50} on {W}, {TP}", C),
    "state_store.read_s": ("s", "lower", "reader.p50_s", W),
    "reader.p50_s": ("s", "lower", "reader latency beside commits", W),
    "reader.p95_s": ("s", "lower", "reader latency beside commits", W),
    "reader.reads": ("count", "higher", "reader throughput beside commits", W),
    "reader.failed": ("count", "lower", "failed count", W),
    "origins.annotate_s": ("s", "lower", L50, W),
    "origins.jobs": ("count", "lower", L50, W),
    "origins.events_filtered": ("count", "higher", L50, W),
    "apply_stream.batch_s": ("s", "lower", f"{L50}, {L95}", W),
    "apply_stream.jobs_per_batch": ("count", "lower", f"{L50}, {L95}", W),
    "apply_stream.stages_per_batch": ("count", "lower", f"{L50}, {L95}", W),
    "stream.wait_s": ("s", "lower", f"{L50}, {L95}", W),
    "stream.trigger_overhead_s": ("s", "lower", f"{L50}, {L95}", W),
    "stream.backlog_files": ("count", "lower", f"{L50}, {L95}", W),
    "stream.applied_over_offered": ("ratio", "higher", "validity check of the open loop", W),
    "mix.pass_s": ("s", "lower", f"{TP}, {L50}, {L95}", Q),
    "rollup.refresh_cdc_s": ("s", "lower", f"{TP}, {L95}", Q),
    "rollup.rewrite_s": ("s", "lower", f"{TP}, {L95}", Q),
    "bm25_index.fold_s": ("s", "lower", f"{TP}, {L95}", Q),
    "incremental_dedup.fold_s": ("s", "lower", f"{TP}, {L95}", Q),
    "ann_index.fold_s": ("s", "lower", f"{TP}, {L95}", Q),
}
for _q in MIX:
    LAYER_METRICS[f"query.{_q}_s"] = ("s", "lower", f"{TP}, {L50}, {L95}", Q)
    LAYER_METRICS[f"query.{_q}_jobs"] = ("count", "lower", f"{TP}, {L50}, {L95}", Q)
    LAYER_METRICS[f"query.{_q}_shuffle_bytes"] = ("bytes", "lower", f"{TP}, {L50}, {L95}", Q)
LAYER_METRICS.update({
    "spark.jobs": ("count", "lower", "process.peak_rss_mb and all of the above", "all"),
    "spark.stages": ("count", "lower", "process.peak_rss_mb and all of the above", "all"),
    "spark.shuffle_write_bytes": ("bytes", "lower", "process.peak_rss_mb and all of the above", "all"),
    "spark.gc_s": ("s", "lower", "process.peak_rss_mb and all of the above", "all"),
    "spark.executor_run_s": ("s", "lower", "process.peak_rss_mb and all of the above", "all"),
    "generator.late_s": ("s", "lower", "validity check of the open loop", W),
    "process.peak_rss_mb": ("MB", "lower", "memory footprint", "all"),
    "trace.window_attributed_jobs": ("count", "lower", "attribution quality", "all"),
    "trace.overhead_s": ("s", "lower", "traced minus untraced timed work", "all"),
    "baseline.local1_events_per_s": ("1/s", "higher", TP, C),
    "baseline.localn_events_per_s": ("1/s", "higher", TP, C),
    "baseline.local1_over_localn": ("ratio", "lower", TP, C),
})


# Metrics proposed for this benchmark that it does not report, and why;
# the traced run writes them into its trace file.
DROPPED = {
    "events_per_s": "reported as throughput_per_s: every workload reports every "
    "end-to-end metric, so the names are workload-neutral",
    "lag_p50_s": "reported as latency_p50_s (wire)",
    "lag_p95_s": "demoted to latency.p95_s: every workload must report every "
    "end-to-end metric, and query_mix's six per-query samples per run do not "
    "support a 95th percentile (its run-to-run spread reached the 0.25 cap)",
    "read_p50_s, read_p95_s": "demoted to reader.p50_s, reader.p95_s: only wire has a reader",
    "mix_s": "demoted to mix.pass_s; query_mix reports queries/s as throughput_per_s",
    "peak_rss_mb": "demoted to process.peak_rss_mb: it ranged 1.6-2.1 GB between "
    "runs of one workload, outside a tenth",
    "error_rate": "zero on a healthy run; failures are `failed` out of "
    "`attempted` in the result line",
    "query.<name>_* for 11 of the 17 named queries": "query_mix runs 6 queries "
    "covering every named layer, so two workloads fit the run budget",
}


# ---------------------------------------------------------------------------
# wrapping
# ---------------------------------------------------------------------------


def du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _arg(args, kwargs, i: int, name: str):
    return kwargs[name] if name in kwargs else args[i]


def _post_decode(rec, args, kwargs, out):
    from pyspark.sql import functions as F

    frames = _arg(args, kwargs, 1, "frames")
    tag = F.substring("frame", 1, 1)
    row = frames.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(tag.isin("I", "U", "D", "T").cast("long")).alias("data"),
    ).first()
    rec["frames_in"] = int(row["n"])
    rec["data_frames"] = int(row["data"] or 0)
    rec["events_out"] = out.count()


def _post_filter(rec, args, kwargs, out):
    rec["rows_in"] = _arg(args, kwargs, 0, "events").count()
    rec["rows_out"] = out.count()


def _post_fold(rec, args, kwargs, out):
    rec["rows_folded"] = _arg(args, kwargs, 0, "events").count()


def _post_merge(rec, args, kwargs, out):
    rec["batch_events"] = _arg(args, kwargs, 1, "batch").count()
    rec["plan"] = args[0].last_fold_plan


def _post_commit(rec, args, kwargs, out):
    store = args[0]
    rec["buckets"] = len(_arg(args, kwargs, 2, "touched"))
    rec["bytes_written"] = du(os.path.join(store.path, f"v{out}"))


def wrap_wire(tr, eager: bool) -> None:
    """Span every wire-path layer. With ``eager`` each layer's output is
    materialised in its span and counted afterwards."""
    from python_cdc_spark.cdc import apply, origins, pgoutput
    from python_cdc_spark.streaming.apply_stream import (
        StreamingApplyChanges,
        StreamingWireApplyChanges,
    )
    from python_cdc_spark.streaming.state_store import BucketedStateStore

    tr.eager = eager

    def post(fn):
        return fn if eager else None

    tr.wrap(pgoutput, "decode_frames", "pgoutput.decode", post(_post_decode))
    tr.wrap(origins, "annotate_origins", "origins.annotate")
    tr.wrap(origins, "filter_by_origin", "origins.filter", post(_post_filter))
    tr.wrap(origins, "last_marker", "origins.last_marker")
    # decoded wire events carry schema/table, so the merge always folds
    # with the multi-table variant (which calls the single-table one)
    tr.wrap(apply, "apply_changes_with_tombstones_multi", "apply.fold", post(_post_fold))
    tr.wrap(BucketedStateStore, "commit", "state_store.commit", post(_post_commit))
    tr.wrap(BucketedStateStore, "vacuum", "state_store.vacuum")
    tr.wrap(StreamingApplyChanges, "merge_batch", "apply_stream.merge_batch", post(_post_merge))
    tr.wrap(StreamingWireApplyChanges, "merge_wire_batch", "apply_stream.batch")


def wrap_mix(tr) -> None:
    from python_cdc_spark.operators import ann_index, bm25_index, incremental_dedup
    from python_cdc_spark.plans.rollup import RollupCatalog

    tr.eager = True
    tr.wrap(RollupCatalog, "refresh_cdc", "rollup.refresh_cdc")
    tr.wrap(RollupCatalog, "rewrite", "rollup.rewrite")
    tr.wrap(bm25_index, "cdc_bm25_update", "bm25_index.fold")
    tr.wrap(incremental_dedup, "cdc_dedup_index_update", "incremental_dedup.fold")
    tr.wrap(ann_index, "maintain_ivf_lists_cdc", "ann_index.fold")


# ---------------------------------------------------------------------------
# metrics from spans
# ---------------------------------------------------------------------------


def within(tr, root: str) -> list[dict]:
    """Spans that started inside any span called ``root`` (spans opened by
    the streaming thread have no parent on the caller's stack, so the
    window is what ties them to the phase)."""
    wins = [(s["start"], s["end"]) for s in tr.spans if s["name"] == root]
    return [
        s for s in tr.spans
        if s["name"] != root and any(a <= s["start"] <= b for a, b in wins)
    ]


def _costs_under(costs: dict, spans: list[dict], name: str, all_spans: list[dict]) -> dict:
    """Spark costs charged to the spans called ``name`` in ``spans`` and to
    their descendants."""
    from spans import add_costs, zero_costs

    by_id = {s["id"]: s for s in all_spans}
    roots = {s["id"] for s in spans if s["name"] == name}
    out = zero_costs()
    for sid, c in costs["spans"].items():
        p = sid
        while p is not None:
            if p in roots:
                add_costs(out, c)
                break
            p = by_id[p]["parent"]
    return out


def wire_metrics(tr, costs: dict) -> dict:
    """Per-layer metrics of the wire workload. Times are seconds per
    micro-batch from the eager layer replays (catch-up batches for decode,
    fold and commit; steady batches for origins); job and stage counts per
    batch come from the spans-only traced open loop, whose plans are the
    engine's own."""
    replay = within(tr, "run.replay")
    steady = within(tr, "run.replay_steady")
    traced = within(tr, "run.traced")
    n_replay = max(1, sum(1 for s in replay if s["name"] == "apply_stream.batch"))
    n_traced = max(1, sum(1 for s in traced if s["name"] == "apply_stream.batch"))
    n_steady = max(1, sum(1 for s in steady if s["name"] == "apply_stream.batch"))

    def busy(name, spans=replay, n=n_replay):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name) / n

    def attr_sum(name, key):
        return sum(s.get(key, 0) for s in replay if s["name"] == name)

    m = {}
    m["pgoutput.decode_s"] = busy("pgoutput.decode")
    m["pgoutput.frames_in"] = attr_sum("pgoutput.decode", "frames_in")
    m["pgoutput.events_out"] = attr_sum("pgoutput.decode", "events_out")
    m["pgoutput.frames_dropped"] = (
        attr_sum("pgoutput.decode", "data_frames") - m["pgoutput.events_out"]
    )
    m["apply.fold_s"] = busy("apply.fold")
    m["apply.rows_folded"] = attr_sum("apply.fold", "rows_folded")
    batch_events = attr_sum("apply_stream.merge_batch", "batch_events")
    m["apply.useful_ratio"] = batch_events / m["apply.rows_folded"] if m["apply.rows_folded"] else 0.0
    m["apply.shuffle_bytes"] = (
        _costs_under(costs, replay, "apply.fold", tr.spans)["shuffle_write_bytes"] / n_replay
    )
    m["apply.argmax_batches"] = sum(
        1 for s in replay if s["name"] == "apply_stream.merge_batch" and s.get("plan") == "argmax"
    )
    m["state_store.commit_s"] = busy("state_store.commit")
    m["state_store.vacuum_s"] = busy("state_store.vacuum")
    m["state_store.buckets_touched"] = attr_sum("state_store.commit", "buckets") / n_replay
    m["state_store.bytes_written"] = attr_sum("state_store.commit", "bytes_written") / n_replay
    m["origins.annotate_s"] = sum(
        busy(n, steady, n_steady)
        for n in ("origins.annotate", "origins.filter", "origins.last_marker")
    )
    m["origins.jobs"] = sum(
        _costs_under(costs, traced, n, tr.spans)["jobs"]
        for n in ("origins.annotate", "origins.filter", "origins.last_marker")
    ) / n_traced
    m["origins.events_filtered"] = sum(
        s.get("rows_in", 0) - s.get("rows_out", 0)
        for s in steady if s["name"] == "origins.filter"
    )
    batch = _costs_under(costs, traced, "apply_stream.batch", tr.spans)
    m["apply_stream.batch_s"] = median(
        [s["end"] - s["start"] for s in traced if s["name"] == "apply_stream.batch"] or [0.0]
    )
    m["apply_stream.jobs_per_batch"] = batch["jobs"] / n_traced
    m["apply_stream.stages_per_batch"] = batch["stages"] / n_traced
    return m


def spark_totals(tr, costs: dict, root: str) -> dict:
    """Spark costs of everything that ran inside the ``root`` spans,
    streaming-thread spans included."""
    from spans import add_costs, zero_costs

    ids = {s["id"] for s in tr.spans if s["name"] == root}
    ids |= {s["id"] for s in within(tr, root)}
    c = zero_costs()
    for sid in ids:
        if sid in costs["spans"]:
            add_costs(c, costs["spans"][sid])
    return {
        "spark.jobs": c["jobs"],
        "spark.stages": c["stages"],
        "spark.shuffle_write_bytes": c["shuffle_write_bytes"],
        "spark.gc_s": c["gc_s"],
        "spark.executor_run_s": c["executor_run_s"],
    }


def stream_metrics(progress: list[dict], batches: dict, gen_log: list[dict]) -> dict:
    """Trigger overhead and queueing from ``recentProgress`` and the
    generator log: ``wait_s`` is how long a file sat written before the
    batch that applied it started."""
    import datetime as dt

    written = {r["file"]: r["written"] for r in gen_log}
    started = {}
    overhead = []
    for p in progress:
        d = p.get("durationMs", {})
        if "addBatch" not in d:
            continue
        started[p["batchId"]] = dt.datetime.fromisoformat(
            p["timestamp"].replace("Z", "+00:00")
        ).timestamp()
        overhead.append((d.get("triggerExecution", 0) - d["addBatch"]) / 1000.0)
    waits, per_batch = [], []
    for bid, (_, files) in batches.items():
        per_batch.append(len(files))
        if bid in started:
            waits.extend(started[bid] - written[f] for f in files if f in written)
    return {
        "stream.wait_s": median(waits) if waits else 0.0,
        "stream.trigger_overhead_s": median(overhead) if overhead else 0.0,
        "stream.backlog_files": median(per_batch) if per_batch else 0.0,
    }


def mix_metrics(tr, costs: dict) -> dict:
    """Jobs and shuffle bytes per query, and the maintained structures'
    fold/refresh time, from the traced pass."""
    spans = within(tr, "run.traced_pass")
    m = {}
    for q in MIX:
        c = _costs_under(costs, spans, f"query.{q}", tr.spans)
        m[f"query.{q}_jobs"] = c["jobs"]
        m[f"query.{q}_shuffle_bytes"] = c["shuffle_write_bytes"]
    for span, metric in (
        ("rollup.refresh_cdc", "rollup.refresh_cdc_s"),
        ("rollup.rewrite", "rollup.rewrite_s"),
        ("bm25_index.fold", "bm25_index.fold_s"),
        ("incremental_dedup.fold", "incremental_dedup.fold_s"),
        ("ann_index.fold", "ann_index.fold_s"),
    ):
        m[metric] = sum(s["end"] - s["start"] for s in spans if s["name"] == span)
    return m
