"""Wire-to-state CDC benchmark.

    python3 perfbench/run.py --workload wire --seed 1 --seconds 15 --trace 0

Workloads: ``wire`` (a backlog drain, then an open loop with a reader
beside the writer) and ``query_mix`` (a closed loop over registry
queries). See ``perfbench/README.md``.

With ``--trace 0`` the last line of standard output is one JSON object
with the end-to-end metrics; with ``--trace 1`` it carries the per-layer
metrics, and the spans plus each metric's tags are written to
``.perfbench_work/traces/``. Every run checks the engine's output: the
final state of a wire workload against a serial model of the consumer
loop, and every ``query_mix`` result against its DuckDB oracle.

Everything the run writes lives under ``.perfbench_work/`` in the
checkout, and the run stops every process it starts.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import subprocess
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("wire", "query_mix")
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
}


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _driver_mem() -> str:
    """A heap well below physical memory: a quarter of RAM, at most 3 GiB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mb = min(3072, total // (4 * 1024 * 1024))
    return f"{mb}m"


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


class Context:
    """What a workload needs: the session, its own directories, the seed
    and window, the tracer, and the child processes to reap."""

    def __init__(self, args, work: str) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.trace = bool(args.trace)
        self.work = work
        self.bench_dir = BENCH_DIR
        self.cpus = _cpus()
        self.children: list[subprocess.Popen] = []
        self.child_env = dict(os.environ)
        self.spark = None
        self.tracer = None
        self.event_log = os.path.join(work, "eventlog")
        self.jvm_peak_kb = 0
        self.session_s = 0.0

    def _conf(self, event_log: bool) -> dict:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # explicit either way: the first session's settings become the
            # JVM's defaults for any later session in this process
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            os.makedirs(self.event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.dir": "file://" + self.event_log,
                "spark.eventLog.compress": "false",
            })
        return conf

    def start_spark(self, cpus: int | None = None, event_log: bool = True) -> None:
        from python_cdc_spark.session import get_spark

        master = f"local[{cpus}]" if cpus else None
        conf = self._conf(event_log and self.trace)
        t0 = time.time()
        self.spark = get_spark(app_name="perfbench", master=master, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.time() - t0
        if self.tracer is not None:
            self.tracer.spark = self.spark

    def restart_spark(self, cpus: int) -> None:
        """A fresh session on ``cpus`` cores. It writes no event log: the
        traced spans are attributed from the first session's log alone, and
        a second application numbers its jobs and stages from 0 again."""
        self._sample_jvm()
        self.spark.stop()
        self.start_spark(cpus, event_log=False)

    def _jvm(self):
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return getattr(gw, "proc", None) if gw is not None else None

    def _sample_jvm(self) -> None:
        proc = self._jvm()
        if proc is None:
            return
        try:
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        self.jvm_peak_kb = max(self.jvm_peak_kb, int(line.split()[1]))
        except OSError:
            pass

    def shutdown(self) -> None:
        """Stop the generator processes, the session and the JVM, and wait
        for each to exit."""
        for p in self.children:
            if p.poll() is None:
                p.terminate()
            try:
                p.wait(timeout=20)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
        if self.spark is None:
            return
        from pyspark import SparkContext

        self._sample_jvm()
        proc = self._jvm()
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None


def _peak_rss_mb(ctx: Context) -> float:
    """Peak resident memory of the JVM plus this Python process."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (ctx.jvm_peak_kb + own_kb) / 1024.0


def _end_to_end(res) -> dict:
    from common import median, pct

    return {
        "setup_s": median(res.setup),
        "throughput_per_s": res.throughput,
        "latency_p50_s": pct(res.latency, 50),
    }


def _per_layer(ctx: Context, res) -> tuple[dict, dict]:
    import layers
    from common import pct

    tr = ctx.tracer
    costs = tr.attribute(ctx.event_log)
    m = {k: v for k, (v, _) in res.layer.items()}
    if ctx.workload == "wire":
        m.update(layers.wire_metrics(tr, costs))
        m.update(layers.spark_totals(tr, costs, "run.traced"))
    else:
        m.update(layers.mix_metrics(tr, costs))
        m.update(layers.spark_totals(tr, costs, "run.traced_pass"))
    m["trace.window_attributed_jobs"] = costs["window_attributed_jobs"]
    m["process.peak_rss_mb"] = _peak_rss_mb(ctx)
    m["latency.p95_s"] = pct(res.latency, 95)
    out = {}
    for name, (unit, _, _, _) in layers.LAYER_METRICS.items():
        out[name] = {"value": float(m.get(name, 0.0)), "unit": unit}
    tags = {
        name: {"moves": moves, "on": on, "measured": name in m}
        for name, (_, _, moves, on) in layers.LAYER_METRICS.items()
    }
    return out, {"costs_total": costs["total"], "tags": tags, "dropped": layers.DROPPED}


def main() -> int:
    ap = argparse.ArgumentParser(description="Wire-to-state CDC benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "python_cdc_spark")):
        print("perfbench: the engine package python_cdc_spark is not in this "
              "checkout; nothing to measure", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("cwd", "tmp", "local", "ann"):
        os.makedirs(os.path.join(work, d))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": _driver_mem(),
        "SPARK_GRAFT_ANN_DIR": os.path.join(work, "ann"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, BENCH_DIR, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        # every JVM, Spark's launcher included, skips its hsperfdata file
        # in the system /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    sys.path[:0] = [ROOT, BENCH_DIR]
    # the engine's caches (.bm25_cache, .dedup_cache, .rollup_cache,
    # spark-warehouse) are relative to the working directory
    os.chdir(os.path.join(work, "cwd"))

    import mix
    import wire
    from spans import Tracer

    ctx = Context(args, work)
    module = {"wire": wire, "query_mix": mix}[args.workload]
    t_start = time.time()
    try:
        prep = module.prepare(ctx)
        ctx.start_spark()
        if ctx.trace:
            ctx.tracer = Tracer(ctx.spark)
        res = module.run(ctx, prep)
    except Exception:
        traceback.print_exc()
        ctx.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        return 1
    ctx.shutdown()

    import pyspark

    env = {
        "nproc": ctx.cpus,
        "heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "git_commit": _git_commit(),
        "seed": args.seed,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "wall_s": time.time() - t_start,
        "peak_rss_mb": _peak_rss_mb(ctx),
    }
    if ctx.trace:
        metrics, extra = _per_layer(ctx, res)
        ctx.tracer.write(
            os.path.join(work_root, "traces", f"{args.workload}-{args.seed}.json"),
            {"env": env, "metrics": metrics, "info": res.info, **extra},
        )
    else:
        metrics = {
            k: {"value": float(v), "unit": END_TO_END[k]}
            for k, v in _end_to_end(res).items()
        }
    for p in res.problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps({"env": env, "info": res.info}, default=str), file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": res.correct,
        "attempted": int(max(res.attempted, 1)),
        "failed": int(res.failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
