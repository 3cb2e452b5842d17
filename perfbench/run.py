"""Benchmark entry point for croawl_spark.

    python3 perfbench/run.py --workload {crawl,query_battery} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. One run starts one Spark session at
``local[<cores>]`` with shuffle partitions = 2 x cores, runs the workload
closed-loop from this one Python process, checks its outputs, and prints every
metric by name with its unit. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``; the per-layer metrics of a traced
run, with the Spark event log on, with ``--trace 1``).

Everything the run writes goes under ``.perfbench_work/`` in the root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("crawl", "query_battery")
E2E_UNITS = {
    "setup_s": "s",
    "total_s": "s",
    "items_per_s": "1/s",
    "cpu_ms_per_item": "ms",
}


class Context:
    """What a workload needs from this script: the session, the run's seed,
    length and directories, and (traced runs only) the tracer."""

    def __init__(self, args, work: str, cores: int):
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.cores = cores
        self.pid = os.getpid()
        self.spark = None
        self.session_s = 0.0
        self.tracer = None
        self.eventlog_dir = os.path.join(work, "eventlog")
        self.root = str(ROOT)
        self.sf_dir = None
        self.oracle = None
        self.children: list = []

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def group(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        from perfbench.trace import job_group

        return job_group(self.spark.sparkContext, name)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep Spark's and Python's temporary files inside the run directory and
    let the Python workers import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # -XX:-UsePerfData: the JVM would otherwise map a counters file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def _stop_spark(ctx: Context) -> None:
    """Stop the session, then the JVM, then wait for every child to end."""
    from perfbench import procstat

    if ctx.spark is not None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            ctx.spark.stop()
            if gateway is not None:
                gateway.shutdown()
        except Exception:  # a broken gateway (e.g. after SIGTERM): end the JVM below
            traceback.print_exc()
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        ctx.spark = None
    for child in ctx.children:
        if child.poll() is None:
            child.kill()
        child.wait(timeout=10)
    deadline = time.time() + 20
    while len(procstat.tree_pids(ctx.pid)) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in procstat.tree_pids(ctx.pid)[1:]:
        with contextlib.suppress(OSError):
            os.kill(pid, 9)


def _run(args, ctx: Context) -> dict:
    """Returns {"correct", "attempted", "failed", "metrics", "report"}."""
    from perfbench import procstat

    if args.workload == "crawl":
        from perfbench import crawl as workload
    else:
        from perfbench import queries as workload
    workload.prepare(ctx)

    from croawl_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        from perfbench.trace import Tracer

        ctx.tracer = Tracer()
        os.makedirs(ctx.eventlog_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": ctx.eventlog_dir,
            "spark.eventLog.compress": "false",  # no zstandard module here
        })
    host = procstat.HostContext()
    rss = procstat.RssSampler(ctx.pid).start()
    t0 = time.perf_counter()
    ctx.spark = get_spark(f"perfbench-{args.workload}", master=f"local[{ctx.cores}]",
                          shuffle_partitions=2 * ctx.cores, extra_conf=conf)
    ctx.spark.range(1).count()
    ctx.session_s = time.perf_counter() - t0

    rec = workload.run(ctx)
    attempted, failed, problems = workload.check(ctx, rec)
    inputs = workload.layer_inputs(ctx, rec) if args.trace else None
    _stop_spark(ctx)
    peak_rss_mb = rss.stop()

    if args.trace:
        from perfbench import layers, microbench

        metrics = layers.summarize(ctx, rec, inputs, microbench.run(ctx.seed))
        metrics["peak_rss_mb"] = peak_rss_mb
        units = layers.UNITS
    else:
        metrics, units = rec["e2e"], E2E_UNITS
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": ctx.cores,
        "session_s": ctx.session_s,
        "host": host.finish(),
        "e2e": rec["e2e"],
        "peak_rss_mb": peak_rss_mb,
        "detail": rec["detail"],
        "failed_frac": failed / attempted,
        "problems": problems,
    }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        "report": report,
    }


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "croawl_spark" / "__init__.py").is_file():
        print(f"croawl_spark not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    base = ROOT / ".perfbench_work"
    work = str(base / f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _isolate(work)
    cores = len(os.sched_getaffinity(0))
    ctx = Context(args, work, cores)
    # a SIGTERM still stops the JVM and the workers in the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out = _run(args, ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _stop_spark(ctx)
        shutil.rmtree(work, ignore_errors=True)
    rep = out.pop("report")
    for k, v in out["metrics"].items():
        print(f"{k:40s} {v['value']:.6g} {v['unit']}")
    print("report " + json.dumps(rep, default=str))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
