"""The ``crawl`` workload: bootstrap a seeded URL list, then run the crawl
as the streaming micro-batch loop (``streaming.jobs.stream_crawl``), and
check the fetch log and seen set against the single-process oracle
(``tests/oracle_sim.simulate``) run on the same seeds.

Run as ``python3 perfbench/crawl.py oracle '<json>'`` it computes the
oracle digests in a child process (see ``start_oracle``).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

# The enlarged synthetic web with tag-dense pages: per-URL parse work is
# a real share of each cycle. Set before croawl_spark.synth is imported.
UNIVERSE = {
    "CROAWL_SYNTH_HOSTS": "400",
    "CROAWL_SYNTH_PATHS": "20000",
    "CROAWL_SYNTH_META_TAGS": "120",
}
N_SEEDS = 1500
K_PER_HOST = 8
N_BUCKETS = 16
M_BITS = 1 << 12  # small enough that the filter shows false positives
COMPACT_EVERY = 2  # the frontier is compacted on every second cycle
CYCLE_S = 10.0  # approximate wall of one cycle at local[4]


def n_cycles_for(seconds: float) -> int:
    return max(2, round(seconds / CYCLE_S))


def make_seeds(seed: int) -> list[str]:
    from croawl_spark import synth

    # three messy spellings per page, so bootstrap dedups after canonicalizing
    return [synth.target_url(f"perfbench-{seed}-{i // 3}", i % 3) for i in range(N_SEEDS)]


def _digest(rows) -> str:
    return hashlib.sha256(json.dumps(rows).encode()).hexdigest()


def fetch_rows_by_cycle(rows) -> dict[str, str]:
    """rows: (cycle, fetch_seq, canon_url, host, status, kind, bytes)."""
    by: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: r[1]):
        by.setdefault(r[0], []).append(list(r))
    return {str(c): _digest(v) for c, v in sorted(by.items())}


# ---------------------------------------------------------------------------
# oracle (child process)
# ---------------------------------------------------------------------------


def _oracle_main(args: dict) -> None:
    os.nice(19)  # yield the cores to the Spark run it overlaps with
    root = args["root"]
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.join(root, "tests"))
    from oracle_sim import simulate

    fetch_log, seen, _ = simulate(make_seeds(args["seed"]), args["cycles"], args["k"])
    out = {
        "fetch": fetch_rows_by_cycle(fetch_log),
        "seen": _digest(sorted(seen.items())),
        "n_fetch": len(fetch_log),
        "n_seen": len(seen),
    }
    tmp = args["out"] + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, args["out"])


def prepare(ctx) -> None:
    """Before the session starts: select the synthetic web (read when
    croawl_spark.synth is imported) and start the oracle for this seed in
    a child process, unless its digests are cached."""
    os.environ.update(UNIVERSE)
    cycles = n_cycles_for(ctx.seconds)
    key = _digest([ctx.seed, N_SEEDS, cycles, K_PER_HOST, sorted(UNIVERSE.items())])[:16]
    cache = os.path.join(os.path.dirname(ctx.work), "oracle_cache")
    os.makedirs(cache, exist_ok=True)
    path = os.path.join(cache, f"{key}.json")
    proc = None
    if not os.path.exists(path):
        args = {"root": ctx.root, "seed": ctx.seed, "cycles": cycles, "k": K_PER_HOST,
                "out": path}
        proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "oracle", json.dumps(args)],
            stdout=subprocess.DEVNULL,
        )
        ctx.children.append(proc)
    ctx.oracle = (path, proc)


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------


def run(ctx) -> dict:
    """ctx: run.Context. Returns the workload record (see run.py)."""
    from croawl_spark.plans import cycle as cycle_mod
    from croawl_spark.plans.cycle import CrawlConfig, bootstrap
    from croawl_spark.sources import tableio as tableio_mod
    from croawl_spark.streaming.jobs import stream_crawl

    from perfbench import procstat
    from perfbench.trace import traced_tableio

    spark, tracer = ctx.spark, ctx.tracer
    n_cycles = n_cycles_for(ctx.seconds)
    cfg = CrawlConfig(k_per_host=K_PER_HOST, n_salt=8, n_buckets=N_BUCKETS,
                      m_bits=M_BITS, frontier_compact_every=COMPACT_EVERY)
    seeds = make_seeds(ctx.seed)
    io_base = tableio_mod.TableIO
    io_cls = io_base if tracer is None else traced_tableio(io_base, tracer)

    # set-up: one bootstrap, the first Spark work of the session. A second
    # and third one would cost ~16 s a run, which the run budget lacks.
    base = os.path.join(ctx.work, "warehouse")
    t0 = time.perf_counter()
    with ctx.group("boot"):
        bootstrap(spark, seeds, io_cls(spark, base), cfg)
    setup_s = time.perf_counter() - t0

    orig_run_cycle = cycle_mod.run_cycle
    marks: list[tuple[float, float, float]] = []  # (start, end, cpu at end)
    results: list[dict] = []

    def timed_run_cycle(spark_, io_, c, cfg_):
        t0 = time.perf_counter()
        with ctx.span(f"cycle:{c}"), ctx.group(f"cycle:{c}"):
            m = orig_run_cycle(spark_, io_, c, cfg_)
        marks.append((t0, time.perf_counter(), procstat.tree_cpu_s(ctx.pid)))
        results.append(m)
        return m

    cycle_mod.run_cycle = timed_run_cycle
    tableio_mod.TableIO = io_cls  # stream_crawl builds its own TableIO
    try:
        cpu0 = procstat.tree_cpu_s(ctx.pid)
        t_start = time.perf_counter()
        with ctx.span("stream"):
            stream_crawl(spark, seeds, n_cycles, base, cfg, resume=True)
        t_stream = time.perf_counter() - t_start
    finally:
        cycle_mod.run_cycle = orig_run_cycle
        tableio_mod.TableIO = io_base

    ends = [t_start] + [e for _, e, _ in marks]
    cycle_s = [b - a for a, b in zip(ends, ends[1:])]  # commit to commit
    items = sum(m["scheduled"] + m["parsed"] for m in results)
    wall = ends[-1] - t_start
    e2e = {
        "setup_s": setup_s,
        "total_s": wall,
        "items_per_s": items / wall,
        "cpu_ms_per_item": (marks[-1][2] - cpu0) * 1000.0 / items,
    }
    rec = {
        "e2e": e2e,
        "steps": [f"cycle:{c}" for c in range(len(results))],
        "detail": {
            "cycle_s": cycle_s,
            "cycles": len(results),
            "scheduled": sum(m["scheduled"] for m in results),
            "parsed": sum(m["parsed"] for m in results),
            "stream_s": t_stream,
            "cycle_span_s": sum(e - s for s, e, _ in marks),
        },
        "warehouse": base,
        "io": io_base(spark, base),
        "cfg": cfg,
    }
    return rec


def check(ctx, rec: dict) -> tuple[int, int, list[str]]:
    """Compare each cycle's fetch-log slice and the final seen set with the
    oracle. Returns (attempted, failed, problems)."""
    io = rec["io"]
    with ctx.group("check"):
        fl = io.read_log("fetch_log").select(
            "cycle", "fetch_seq", "canon_url", "host", "status", "content_kind", "bytes"
        ).toPandas()
        seen = io.read_log("seen").select("canon_url", "disc_seq").toPandas()
    rows = [
        (int(c), int(s), u, h, int(st), k, int(b))
        for c, s, u, h, st, k, b in fl.itertuples(index=False, name=None)
    ]
    got = fetch_rows_by_cycle(rows)
    got_seen = _digest(sorted((u, int(d)) for u, d in seen.itertuples(index=False, name=None)))
    oracle_path, oracle_proc = ctx.oracle
    if oracle_proc is not None:
        oracle_proc.wait(timeout=150)
    with open(oracle_path) as f:
        want = json.load(f)
    problems = []
    attempted = rec["detail"]["cycles"]
    failed = 0
    for c in range(attempted):
        if got.get(str(c)) != want["fetch"].get(str(c)):
            failed += 1
            problems.append(f"cycle {c}: fetch log differs from the oracle")
    if got_seen != want["seen"]:
        problems.append(f"seen set differs from the oracle ({len(seen)} vs {want['n_seen']})")
        failed = max(failed, 1)
    return attempted, failed, problems


def _fp_observed(ctx, rec: dict) -> dict:
    """False positives of the seen filter, from the committed tables: each
    cycle's seen delta was new at that cycle, so every ``maybe_seen`` hit
    when probing it against the previous cycle's filter snapshot is a
    false positive."""
    from pyspark.sql import functions as F

    from croawl_spark.operators.seenfilter import probe_filter, projected_fp

    io, cfg = rec["io"], rec["cfg"]
    geo = int(io.counters().get("filter_m_bits", cfg.m_bits))
    observed = base = 0
    projected = 0.0
    if geo != cfg.m_bits:
        # the auto-sizer started a new filter generation; which cycles used
        # which geometry is not committed, so no count is given
        return {"observed": observed, "base": base, "projected": projected}
    with ctx.group("check"):
        for c in range(rec["detail"]["cycles"]):
            before = io.read_log("seen", c - 1)
            delta = io.read_log("seen", c).join(before, ["url_hash", "canon_url"], "left_anti")
            filt = io.read_snapshot("seen_filter", c - 1)
            row = probe_filter(delta, filt, cfg.n_buckets, geo).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("maybe_seen").cast("long")).alias("fp"),
            ).collect()[0]
            n_before = before.count()
            n, fp = int(row["n"]), int(row["fp"] or 0)
            observed += fp
            base += n
            projected += n * projected_fp(-(-n_before // cfg.n_buckets), geo)
    return {"observed": observed, "base": base, "projected": projected}


def layer_inputs(ctx, rec: dict) -> dict:
    """What the per-layer summary needs from the committed tables."""
    files, size = _stored_files(rec)
    return {"files": files, "bytes": size, "fp": _fp_observed(ctx, rec)}


def _stored_files(rec: dict) -> tuple[int, int]:
    """(parquet files, bytes) written for the measured cycles."""
    files = size = 0
    wanted = {f"cycle={c}" for c in range(rec["detail"]["cycles"])}
    for dirpath, _, names in os.walk(rec["warehouse"]):
        if not any(part in wanted for part in dirpath.split(os.sep)):
            continue
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


if __name__ == "__main__" and len(sys.argv) == 3 and sys.argv[1] == "oracle":
    _oracle_main(json.loads(sys.argv[2]))
