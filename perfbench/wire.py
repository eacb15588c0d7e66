"""The ``wire`` workload: a consumer that starts behind, drains its
backlog, then tails a live feed with a reader beside the writer.

- Catch-up phase: a pre-generated backlog (wide rows, uniform keys over a
  key space larger than one batch, ~10% DELETEs) drained by
  ``start_wire(available_now=True)`` with ``origin="any"``, one file per
  micro-batch. Decode, fold and commit do the work; origins are bypassed.
  It sets ``throughput_per_s``: the events of every batch after the first
  over the time from the first commit to the last.
- Steady phase: an open loop. A separate generator process writes one file
  every 0.5 s on a fixed schedule (Zipf keys, narrow rows, ~30% remote
  transactions to filter out, one mid-run DDL); the engine tails the
  directory with a 1 s processing-time trigger and ``origin="none"`` while
  one closed-loop reader thread runs aggregate and point reads on
  ``current_state()``. Per-batch fixed cost, origins and the state-store
  read path dominate. It sets ``latency_p50_s`` (and ``latency.p95_s``).

Both phases drive the engine only through ``start_wire`` /
``merge_wire_batch`` and ``current_state``, and both end by comparing the
final state with ``wiregen.serial_state`` over the same frames.

Per-event latency is computed after the run, with no Spark job on the
timed path: the file source's per-batch file lists (``sources/0/<id>``, or
``<id>.compact`` every tenth batch, in the checkpoint) say which batch
applied each file, the commit log's
``commits/<id>`` modification time says when that batch became durable,
and the generator's log says when each event was due.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import threading
import time

import layers
import wiregen
from common import Result, median, pct
from wiregen import STEADY_INTERVAL, STEADY_KEYS, STEADY_RATE

WARM_EVENTS = 300
STEADY_WARMUP_S = 3.0  # events due this early in the schedule are not timed
STEADY_TRIGGER = "1 second"
REPLAY_BATCHES = 2  # steady batches the traced run replays layer by layer
READ_PAUSE_S = 0.5  # the reader's think time between reads
# validity of the open loop: the generator may write a file at most one
# interval after it was due, and the engine must apply the feed at least
# this fast relative to the schedule, or the loop was not open at the
# offered rate and the lag it reports is not the lag at that rate. With
# four or five batches in a run the estimate itself ranged 0.91-1.22 over
# 34 runs of a stream that keeps up (4 cores, 1000 events/s), hence 0.8
MIN_APPLIED_OVER_OFFERED = 0.8
FRAME_SCHEMA = "lsn bigint, ts timestamp, frame binary"


def _key_extractor(ev):
    from pyspark.sql import functions as F

    return ev.withColumn(
        "key", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
    )


def _applier(ctx, state_dir: str, origin: str):
    from python_cdc_spark.streaming import StreamingWireApplyChanges

    return StreamingWireApplyChanges(
        ctx.spark, state_dir, key_extractor=_key_extractor, origin=origin
    )


def _source_files(src: str, bid: int) -> list[str] | None:
    """The files batch ``bid`` read, from the file source's metadata log.
    Every tenth batch (the log's compaction interval) is written as
    ``<id>.compact``, which holds every entry since the stream started;
    only the entries of batch ``bid`` are kept from it."""
    for name, compact in ((str(bid), False), (f"{bid}.compact", True)):
        path = os.path.join(src, name)
        if os.path.isfile(path):
            break
    else:
        return None
    files = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line.startswith("{"):
                continue  # the log-format version marker
            entry = json.loads(line)
            if compact and entry.get("batchId") != bid:
                continue
            files.append(os.path.basename(entry["path"]))
    return files


def _batches(ckpt: str) -> dict[int, tuple[float, list[str]]]:
    """``{batch_id: (commit_time, [file names])}`` from a checkpoint."""
    out = {}
    src = os.path.join(ckpt, "sources", "0")
    commits = os.path.join(ckpt, "commits")
    if not os.path.isdir(src) or not os.path.isdir(commits):
        return out
    for name in os.listdir(commits):
        if not name.isdigit():
            continue
        files = _source_files(src, int(name))
        if files is not None:
            out[int(name)] = (os.stat(os.path.join(commits, name)).st_mtime, files)
    return out


def _drain_rate(ckpt: str, per_file: dict) -> tuple[float, int, float, int]:
    """A drain's rate from its checkpoint: the events of every batch after
    the first over the time from the first commit to the last, so neither
    the streaming query's start nor the first batch on empty state counts.
    Returns (events/s, timed events, timed seconds, batches)."""
    batches = _batches(ckpt)
    order = sorted(batches)
    events = sum(per_file[f] for bid in order[1:] for f in batches[bid][1])
    seconds = batches[order[-1]][0] - batches[order[0]][0]
    return events / seconds, events, seconds, len(order)


def _state_matches(applier, model: dict) -> tuple[bool, str]:
    got = {r["key"]: dict(r["values"]) for r in applier.current_state().collect()}
    if got == model:
        return True, f"{len(got)} keys match the serial model"
    missing = len(set(model) - set(got))
    extra = len(set(got) - set(model))
    differ = sum(1 for k in set(got) & set(model) if got[k] != model[k])
    return False, f"state mismatch: {missing} missing, {extra} extra, {differ} differ"


def _stream(ctx, wire_dir: str, max_files: int | None = None):
    reader = ctx.spark.readStream.schema(FRAME_SCHEMA)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.parquet(wire_dir)


def _drain(ctx, wire_dir: str, tag: str, origin: str = "any"):
    """One backlog drain on fresh state, one file per micro-batch: returns
    (applier, start, end, checkpoint)."""
    state = os.path.join(ctx.work, f"state-{tag}")
    ckpt = os.path.join(ctx.work, f"ckpt-{tag}")
    applier = _applier(ctx, state, origin)
    t0 = time.time()
    q = applier.start_wire(_stream(ctx, wire_dir, 1), ckpt, available_now=True)
    q.awaitTermination()
    t1 = time.time()
    if q.exception() is not None:
        raise RuntimeError(f"drain {tag} failed: {q.exception()}")
    return applier, t0, t1, ckpt


def _warm_up(ctx) -> float:
    """Set-up: a fresh applier drains one steady-shaped file with origin
    filtering on, and both kinds of read run once on its state, so decode,
    origins, fold, commit and the read path have all run before anything
    is timed."""
    warm = os.path.join(ctx.work, "warm")
    os.makedirs(warm)
    _, _, lsns, ts, frames, _, _ = next(
        wiregen.steady_schedule(ctx.seed + 7919, WARM_EVENTS / STEADY_INTERVAL,
                                STEADY_INTERVAL, STEADY_INTERVAL)
    )
    wiregen.write_file(os.path.join(warm, "wire-00000.parquet"), lsns, ts, frames)
    t0 = time.time()
    applier, _, _, _ = _drain(ctx, warm, "warm", origin="none")
    reader = _Reader(applier, ctx.seed)
    reader.read(0)
    reader.read(1)
    return time.time() - t0


def _state_size(applier, res: Result) -> None:
    """Rows the store holds (tombstones included) and its bytes on disk
    (the live version and the versions it retains)."""
    res.layer["state_store.state_bytes"] = (layers.du(applier.state_path), "bytes")
    res.layer["state_store.state_rows"] = (applier.store.read().count(), "count")


def _catchup(ctx, res: Result, backlog: str, model: dict, per_file: dict) -> None:
    """Drain the whole backlog on fresh state, one file per batch."""
    applier, t0, t1, ckpt = _drain(ctx, backlog, "catchup")
    rate, events, seconds, n_batches = _drain_rate(ckpt, per_file)
    res.attempted += n_batches
    ok, why = _state_matches(applier, model)
    res.check(ok, f"catch-up: {why}")
    res.throughput = rate
    res.info.update(
        catchup_events=sum(per_file.values()), catchup_batches=n_batches,
        catchup_timed_events=events, catchup_timed_s=seconds, catchup_wall_s=t1 - t0,
    )


# ---------------------------------------------------------------------------
# steady phase
# ---------------------------------------------------------------------------


class _Reader(threading.Thread):
    """Closed-loop reader on ``current_state()``: alternates a whole-state
    aggregate with a point lookup of a random key, pausing between reads
    like a client polling a dashboard."""

    def __init__(self, applier, seed: int, tracer=None) -> None:
        super().__init__(name="perfbench-reader", daemon=True)
        self.applier = applier
        self.rng = random.Random(seed)
        self.stop_evt = threading.Event()
        self.lat: list[float] = []
        self.failed = 0
        self.errors: list[str] = []
        self.tracer = tracer

    def read(self, i: int) -> None:
        from pyspark.sql import functions as F

        st = self.applier.current_state()
        if i % 2 == 0:
            st.agg(F.count(F.lit(1)), F.max("last_lsn")).collect()
        else:
            st.filter(F.col("key") == str(self.rng.randrange(STEADY_KEYS))).collect()

    def run(self) -> None:
        i = 0
        while not self.stop_evt.is_set():
            t0 = time.time()
            try:
                if self.tracer is not None:
                    with self.tracer.span("state_store.read", own_thread_only=True):
                        self.read(i)
                else:
                    self.read(i)
                self.lat.append(time.time() - t0)
            except Exception as exc:  # a failed read is counted, not fatal
                self.failed += 1
                self.errors.append(repr(exc)[:300])
            i += 1
            self.stop_evt.wait(READ_PAUSE_S)


def _spawn_generator(ctx, tag: str) -> subprocess.Popen:
    """Start the open-loop generator; it encodes its whole schedule, says
    ``ready`` and waits for its start time on stdin."""
    gen = subprocess.Popen(
        [sys.executable, os.path.join(ctx.bench_dir, "wiregen.py"), "steady",
         "--seed", str(ctx.seed), "--out", os.path.join(ctx.work, f"wire-{tag}"),
         "--log", os.path.join(ctx.work, f"gen-{tag}.jsonl"),
         "--seconds", str(ctx.seconds)],
        env=ctx.child_env, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    ctx.children.append(gen)
    return gen


def prepare(ctx) -> dict:
    """Before the session starts: the backlog and the generators are
    produced by processes of their own, beside the JVM's start-up."""
    backlog = os.path.join(ctx.work, "backlog")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(ctx.bench_dir, "wiregen.py"), "backlog",
         "--seed", str(ctx.seed), "--out", backlog],
        env=ctx.child_env, stdout=subprocess.PIPE, text=True,
    )
    ctx.children.append(proc)
    gens = {"steady": _spawn_generator(ctx, "steady")}
    if ctx.trace:
        gens["traced"] = _spawn_generator(ctx, "traced")
    return {"backlog": backlog, "backlog_proc": proc, "gens": gens}


def _open_loop(ctx, tag: str, gen: subprocess.Popen, tracer=None):
    """One open-loop phase: the generator's schedule + a tailing stream +
    the reader, with every layer spanned when ``tracer`` is given. Returns
    a dict of raw observations."""
    wire = os.path.join(ctx.work, f"wire-{tag}")
    os.makedirs(wire, exist_ok=True)
    log = os.path.join(ctx.work, f"gen-{tag}.jsonl")
    ckpt = os.path.join(ctx.work, f"ckpt-{tag}")
    applier = _applier(ctx, os.path.join(ctx.work, f"state-{tag}"), "none")
    if tracer is not None:
        layers.wrap_wire(tracer, eager=False)
    q = (
        _stream(ctx, wire).writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime=STEADY_TRIGGER)
        .foreachBatch(lambda df, bid: applier.merge_wire_batch(df, bid))
        .start()
    )
    # start_wire records the checkpoint for its per-batch input-size
    # signal; it has no processing-time trigger, so the stream is built
    # here around the same public merge_wire_batch
    applier._wire_ckpt = ckpt
    if gen.stdout.readline().strip() != "ready":
        raise RuntimeError("generator failed before its schedule")
    start = time.time() + 0.5
    gen.stdin.write(f"{start!r}\n")
    gen.stdin.close()
    reader = _Reader(applier, ctx.seed, tracer)
    reader.start()
    try:
        rc = gen.wait(timeout=ctx.seconds + 60)
        if rc != 0:
            raise RuntimeError(f"generator exited with {rc}")
        names = sorted(n for n in os.listdir(wire) if n.endswith(".parquet"))
        deadline = time.time() + 90
        while time.time() < deadline:
            done = {f for _, fs in _batches(ckpt).values() for f in fs}
            if done >= set(names) or q.exception() is not None:
                break
            time.sleep(0.2)
        else:
            raise RuntimeError("stream did not catch up with the generator")
    finally:
        reader.stop_evt.set()
        reader.join(timeout=60)
        q.stop()
        q.awaitTermination(60)
        if tracer is not None:
            tracer.unwrap_all()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    with open(log) as fh:
        gen_log = [json.loads(line) for line in fh]
    return {
        "wire": wire, "ckpt": ckpt, "applier": applier,
        "reader": reader, "gen_log": gen_log, "start": start,
        "batches": _batches(ckpt), "progress": list(q.recentProgress),
    }


def _lag(obs: dict) -> tuple[list[float], float, int, float]:
    """Per-event lag samples (seconds) for events due after the warm-up
    cut, applied over offered, the number of batches, and the generator's
    worst lateness.

    Applied over offered is how many seconds of the schedule the engine
    applies per second: one over the least-squares slope of each timed
    event's commit time on its due time. A stream that keeps up has a lag
    that does not grow, slope 1; a saturated one falls further behind the
    longer the run, slope above 1."""
    file_commit = {}
    for committed, files in obs["batches"].values():
        for f in files:
            file_commit[f] = committed
    cut = obs["start"] + STEADY_WARMUP_S
    due: list[float] = []
    done: list[float] = []
    for rec in obs["gen_log"]:
        for d in rec["dml_due"]:
            if d >= cut:
                due.append(d)
                done.append(file_commit[rec["file"]])
    mx, my = sum(due) / len(due), sum(done) / len(done)
    slope = sum((x - mx) * (y - my) for x, y in zip(due, done)) / sum(
        (x - mx) ** 2 for x in due
    )
    late = max(rec["written"] - rec["due"] for rec in obs["gen_log"])
    samples = [y - x for x, y in zip(due, done)]
    return samples, 1.0 / slope, len(obs["batches"]), late


def _steady(ctx, res: Result, gen) -> dict:
    obs = _open_loop(ctx, "steady", gen)
    samples, applied_over_offered, n_batches, late = _lag(obs)
    model = wiregen.serial_state(wiregen.read_frames(obs["wire"]), origin="none")
    ok, why = _state_matches(obs["applier"], model)
    res.check(ok, f"steady: {why}")
    res.check(
        late <= STEADY_INTERVAL,
        f"open loop: generator at most {late:.3f} s late (limit {STEADY_INTERVAL} s)",
    )
    res.check(
        applied_over_offered >= MIN_APPLIED_OVER_OFFERED,
        f"open loop: applied/offered {applied_over_offered:.3f} "
        f"(limit {MIN_APPLIED_OVER_OFFERED})",
    )
    reader = obs["reader"]
    res.attempted += n_batches + len(reader.lat) + reader.failed
    res.failed += reader.failed
    if reader.errors:
        res.info["reader_errors"] = reader.errors[:5]
    res.latency = samples
    res.info.update(
        steady_batches=n_batches, reads=len(reader.lat), read_failed=reader.failed,
        generator_late_s=late, rate_eps=STEADY_RATE,
        applied_over_offered=applied_over_offered,
    )
    res.layer["generator.late_s"] = (late, "s")
    res.layer["reader.reads"] = (len(reader.lat), "count")
    res.layer["reader.failed"] = (reader.failed, "count")
    res.layer["reader.p50_s"] = (median(reader.lat) if reader.lat else 0.0, "s")
    res.layer["reader.p95_s"] = (pct(reader.lat, 95) if reader.lat else 0.0, "s")
    res.layer["stream.applied_over_offered"] = (applied_over_offered, "ratio")
    return obs


def run(ctx, prep: dict) -> Result:
    res = Result()
    backlog = prep["backlog"]
    out, _ = prep["backlog_proc"].communicate(timeout=120)
    if prep["backlog_proc"].returncode != 0:
        raise RuntimeError("backlog generator failed")
    res.info["backlog"] = json.loads(out)
    model = wiregen.serial_state(wiregen.read_frames(backlog))
    per_file = wiregen.dml_per_file(backlog)
    warm_s = _warm_up(ctx)
    res.setup = [ctx.session_s + warm_s]
    res.info.update(session_s=ctx.session_s, warm_s=warm_s)
    _catchup(ctx, res, backlog, model, per_file)
    obs = _steady(ctx, res, prep["gens"]["steady"])
    if ctx.trace:
        _trace(ctx, res, obs, backlog, model, per_file, prep["gens"]["traced"])
    return res


def _trace(ctx, res: Result, untraced: dict, backlog: str, model: dict,
           per_file: dict, gen) -> None:
    """Traced phases, in order:

    1. ``run.traced``: the open loop again with spans only, so plans are
       the engine's own: job and stage counts per batch, origins jobs,
       reader spans, and the tracing overhead on lag.
    2. ``run.replay``: the backlog drained with every layer materialised
       in its own span (busy time of decode, fold, commit, vacuum).
    3. ``run.replay_steady``: the traced loop's first batches replayed the
       same way through ``merge_wire_batch`` (busy time of origins).
    4. The single-threaded baseline: the backlog drained on ``local[1]``.
    """
    tr = ctx.tracer
    with tr.span("run.traced"):
        obs = _open_loop(ctx, "traced", gen, tracer=tr)
    samples, _, _, _ = _lag(obs)
    wire_model = wiregen.serial_state(wiregen.read_frames(obs["wire"]), origin="none")
    ok, why = _state_matches(obs["applier"], wire_model)
    res.check(ok, f"traced steady: {why}")
    res.layer["trace.overhead_s"] = (pct(samples, 50) - pct(res.latency, 50), "s")
    res.layer.update(
        (k, (v, layers.LAYER_METRICS[k][0]))
        for k, v in layers.stream_metrics(
            untraced["progress"], untraced["batches"], untraced["gen_log"]
        ).items()
    )
    reads = [s["end"] - s["start"] for s in tr.spans if s["name"] == "state_store.read"]
    res.layer["state_store.read_s"] = (median(reads) if reads else 0.0, "s")

    layers.wrap_wire(tr, eager=True)
    try:
        with tr.span("run.replay"):
            applier, _, _, _ = _drain(ctx, backlog, "replay")
        with tr.span("run.replay_steady"):
            steady_applier = _applier(ctx, os.path.join(ctx.work, "state-replay-steady"), "none")
            for bid in sorted(obs["batches"])[:REPLAY_BATCHES]:
                files = [os.path.join(obs["wire"], f) for f in obs["batches"][bid][1]]
                steady_applier.merge_wire_batch(
                    ctx.spark.read.schema(FRAME_SCHEMA).parquet(*files), bid
                )
    finally:
        tr.unwrap_all()
    ok, why = _state_matches(applier, model)
    res.check(ok, f"catch-up layer replay: {why}")
    _state_size(applier, res)

    multi = res.throughput
    ctx.restart_spark(cpus=1)
    _, _, _, ckpt = _drain(ctx, backlog, "local1")
    one = _drain_rate(ckpt, per_file)[0]
    res.layer["baseline.local1_events_per_s"] = (one, "1/s")
    res.layer["baseline.localn_events_per_s"] = (multi, "1/s")
    res.layer["baseline.local1_over_localn"] = (one / multi, "ratio")
