"""The ``query_mix`` workload: one closed-loop client passing repeatedly
over a fixed list of registry queries.

Set-up writes the seeded tables, opens a DuckDB connection over them,
computes each query's oracle result once (both beside the session's
start-up), and runs one untimed pass, which
builds every index, rollup and fixture the queries maintain (their
CWD-relative caches live in the run's own directory). Timed passes follow
until the run's time is up; every pass's output is compared with the
oracle.
"""

from __future__ import annotations

import os
import time

import tables
from common import Result, median
from layers import MIX

SCALE = 0.003  # about 18,000 line items
CONCURRENT_BUILDS = (
    "rollup_cdc_maintained",
    "bm25_index_cdc_maintained",
    "dedup_index_cdc_maintained",
)


def _rows(df_cols, rows):
    from tests.oracle import _norm

    cols = sorted(df_cols)
    return cols, sorted(tuple(str(_norm(r[c])) for c in cols) for r in rows)


def _run_query(ctx, name: str):
    from python_cdc_spark.queries import QUERIES

    t0 = time.time()
    df = QUERIES[name].fn(ctx.spark, ctx.sf_dir)
    rows = df.collect()
    return time.time() - t0, df.columns, rows


def _oracle(sf_dir: str, seed: int, out: dict) -> None:
    """Write the tables and compute each query's DuckDB result."""
    import duckdb

    from python_cdc_spark.queries import QUERIES
    from tests.oracle import duck_rows

    try:
        out["rows"] = tables.write_tables(sf_dir, seed, SCALE)
        con = duckdb.connect()
        try:
            con.execute("SET memory_limit='2GB'")
            con.execute("SET threads=2")
            for t in out["rows"]:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                )
            out["expected"] = {n: duck_rows(con, QUERIES[n].oracle) for n in MIX}
        finally:
            con.close()
    except Exception as exc:  # re-raised by run() on the main thread
        out["error"] = exc


def prepare(ctx) -> dict:
    """Before the session starts: tables and oracle results are made on a
    thread beside the JVM's start-up."""
    import threading

    ctx.sf_dir = os.path.join(ctx.work, "sf")
    out: dict = {}
    th = threading.Thread(target=_oracle, args=(ctx.sf_dir, ctx.seed, out), daemon=True)
    th.start()
    return {"thread": th, "out": out}


def run(ctx, prep: dict) -> Result:
    res = Result()
    prep["thread"].join()
    if "error" in prep["out"]:
        raise prep["out"]["error"]
    res.info["rows"] = prep["out"]["rows"]
    expected = prep["out"]["expected"]
    t_cold = time.time()

    def check(name, cols, rows, phase):
        ok = _rows(cols, rows) == expected[name]
        res.check(ok, f"query_mix {phase} {name}: " + ("matches" if ok else "MISMATCH vs DuckDB oracle"))

    # The untimed pass: index, rollup and fixture builds. The three
    # maintained structures that keep their own directories build side by
    # side; the rest run one at a time, because the ANN index's fold
    # switches a session-wide write mode while it runs.
    from concurrent.futures import ThreadPoolExecutor

    cold = {}
    with ThreadPoolExecutor(max_workers=len(CONCURRENT_BUILDS)) as pool:
        futures = {n: pool.submit(_run_query, ctx, n) for n in CONCURRENT_BUILDS}
        for name, fut in futures.items():
            cold[name], cols, rows = fut.result()
            check(name, cols, rows, "setup")
    for name in MIX:
        if name not in futures:
            cold[name], cols, rows = _run_query(ctx, name)
            check(name, cols, rows, "setup")
    res.info["cold_s"] = cold
    res.setup = [ctx.session_s + time.time() - t_cold]

    per_query: dict[str, list[float]] = {n: [] for n in MIX}
    passes: list[float] = []
    # passes run back to back while the next one, judged by the last,
    # still ends inside the window; there is always at least one
    t_start = time.time()
    while not passes or time.time() - t_start + passes[-1] <= ctx.seconds:
        p0 = time.time()
        for name in MIX:
            dt, cols, rows = _run_query(ctx, name)
            per_query[name].append(dt)
            check(name, cols, rows, f"pass {len(passes)}")
            res.attempted += 1
        passes.append(time.time() - p0)
    res.throughput = sum(len(v) for v in per_query.values()) / sum(passes)
    res.latency = [t for v in per_query.values() for t in v]
    res.info.update(passes=len(passes), pass_s=passes,
                    warm_s={n: median(v) for n, v in per_query.items()})
    res.layer["mix.pass_s"] = (median(passes), "s")
    for name in MIX:
        res.layer[f"query.{name}_s"] = (median(per_query[name]), "s")
    if ctx.trace:
        _mix_trace(ctx, res, check, median(passes))
    return res


def _mix_trace(ctx, res: Result, check, untraced_pass: float) -> None:
    import layers

    tr = ctx.tracer
    layers.wrap_mix(tr)
    try:
        with tr.span("run.traced_pass") as root:
            for name in MIX:
                with tr.span(f"query.{name}"):
                    _, cols, rows = _run_query(ctx, name)
                check(name, cols, rows, "traced pass")
    finally:
        tr.unwrap_all()
    res.layer["trace.overhead_s"] = (root["end"] - root["start"] - untraced_pass, "s")
