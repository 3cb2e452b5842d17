"""Per-layer metrics of a traced run, reduced from the Spark event log, the
benchmark's spans and the committed tables.

A *step* is one crawl cycle or one run of one query leaf. Metrics that
do not apply to a workload (the query leaves on ``crawl``, the TableIO and
streaming layers on ``query_battery``) read 0, and none of those is a time:
layer times are given as shares of executor run time.
"""

from __future__ import annotations

import statistics

from perfbench.queries import LEAVES
from perfbench.trace import LAYERS, assign_steps, read_eventlog, union_s

UNITS: dict[str, str] = {
    "spark.session_s": "s",
    "peak_rss_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.run_s": "s",
    "spark.busy_core_frac": "frac",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "step.jobs": "count",
    "step.stages": "count",
    "step.single_task_stage_frac": "frac",
    "step.busy_core_frac": "frac",
    "step.shuffle_write_bytes": "B",
    "step.spill_bytes": "B",
    **{f"{layer}.run_frac": "frac" for layer in LAYERS},
    "fetch_parse.tasks_per_stage": "count",
    "fetch_parse.busy_core_frac": "frac",
    "ranking.shuffle_write_bytes": "B",
    "extract.us_per_page": "us",
    "synth.gen_page_us": "us",
    "urls.canon_us_per_url": "us",
    "tableio.write_calls": "count",
    "tableio.write_jobs": "count",
    "tableio.untagged_jobs": "count",
    "tableio.files_written": "count",
    "tableio.bytes_written": "B",
    "tableio.bytes_per_url": "B",
    "tableio.write_frac": "frac",
    "tableio.commit_frac": "frac",
    "streaming.overhead_frac": "frac",
    "seenfilter.fp_observed": "count",
    "seenfilter.fp_base": "count",
    "seenfilter.fp_projected": "count",
    "traced.total_s": "s",
    "traced.items_per_s": "1/s",
    **{f"query.{leaf}.share": "frac" for leaf in LEAVES},
    **{f"query.{leaf}.jobs": "count" for leaf in LEAVES},
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def summarize(ctx, rec: dict, crawl_inputs: dict | None, micro: dict) -> dict[str, float]:
    """crawl_inputs: the crawl workload's ``layer_inputs``; None for the
    query battery. micro: the microbenchmark figures."""
    jobs, stages = read_eventlog(ctx.eventlog_dir)
    tracer = ctx.tracer
    step_names = set(rec["steps"])
    steps = [s for s in tracer.spans if s.name in step_names]
    prefix = "cycle:" if crawl_inputs is not None else "query:"
    job_step = {
        j: s for j, s in assign_steps(jobs, steps, prefix).items() if s in step_names
    }
    st_in = [st for st in stages.values() if st.job in job_step]
    per_step: dict[str, dict] = {
        s.name: {"wall": s.end - s.start, "jobs": 0, "stages": 0, "single": 0, "run": 0.0,
                 "shuffle": 0, "spill": 0}
        for s in steps
    }
    for j, s in job_step.items():
        per_step[s]["jobs"] += 1
    for st in st_in:
        d = per_step[job_step[st.job]]
        d["stages"] += 1
        d["single"] += st.n_tasks == 1
        d["run"] += st.run_s
        d["shuffle"] += st.shuffle_write
        d["spill"] += st.spill
    cores = ctx.cores
    wall = sum(d["wall"] for d in per_step.values())
    run_s = sum(st.run_s for st in st_in)
    n_stages = len(st_in)
    m: dict[str, float] = {name: 0.0 for name in UNITS}
    m.update({
        "spark.session_s": ctx.session_s,
        "spark.jobs": len(job_step),
        "spark.stages": n_stages,
        "spark.tasks": sum(st.n_tasks for st in st_in),
        "spark.run_s": run_s,
        "spark.busy_core_frac": run_s / (wall * cores) if wall else 0.0,
        "spark.shuffle_write_bytes": sum(st.shuffle_write for st in st_in),
        "spark.spill_bytes": sum(st.spill for st in st_in),
        "step.jobs": _mean(d["jobs"] for d in per_step.values()),
        "step.stages": _mean(d["stages"] for d in per_step.values()),
        "step.single_task_stage_frac": (
            sum(d["single"] for d in per_step.values()) / n_stages if n_stages else 0.0),
        "step.busy_core_frac": statistics.median(
            d["run"] / (d["wall"] * cores) for d in per_step.values()),
        "step.shuffle_write_bytes": _mean(d["shuffle"] for d in per_step.values()),
        "step.spill_bytes": _mean(d["spill"] for d in per_step.values()),
    })
    for layer in LAYERS:
        layer_run = sum(st.run_s for st in st_in if st.layer == layer)
        m[f"{layer}.run_frac"] = layer_run / run_s if run_s else 0.0
    fp_stages = [st for st in st_in if st.layer == "fetch_parse"]
    if fp_stages:
        m["fetch_parse.tasks_per_stage"] = _mean(st.n_tasks for st in fp_stages)
        m["fetch_parse.busy_core_frac"] = sum(st.run_s for st in fp_stages) / max(
            sum((st.end - st.submit) * cores for st in fp_stages), 1e-9)
    m["ranking.shuffle_write_bytes"] = sum(
        st.shuffle_write for st in st_in if st.layer == "ranking") / len(per_step)
    m.update(micro)
    m["traced.total_s"] = rec["e2e"]["total_s"]
    m["traced.items_per_s"] = rec["e2e"]["items_per_s"]

    if crawl_inputs is not None:
        windows = [(s.start, s.end) for s in steps]

        def in_steps(span) -> bool:
            return any(a <= span.start and span.end <= b for a, b in windows)

        writes = [s for s in tracer.named("tableio:write:") if in_steps(s)]
        commits = [s for s in tracer.named("tableio:commit:") if in_steps(s)]
        det = rec["detail"]
        m.update({
            "tableio.write_calls": len(writes),
            "tableio.write_jobs": sum(
                1 for j in job_step if (jobs[j].group or "").startswith("tableio:")),
            "tableio.untagged_jobs": sum(1 for j in job_step if not jobs[j].group),
            "tableio.files_written": crawl_inputs["files"],
            "tableio.bytes_written": crawl_inputs["bytes"],
            "tableio.bytes_per_url": crawl_inputs["bytes"] / det["scheduled"],
            "tableio.write_frac": union_s([(s.start, s.end) for s in writes]) / wall,
            "tableio.commit_frac": sum(s.end - s.start for s in commits) / wall,
            "streaming.overhead_frac": (det["stream_s"] - det["cycle_span_s"]) / det["stream_s"],
            "seenfilter.fp_observed": crawl_inputs["fp"]["observed"],
            "seenfilter.fp_base": crawl_inputs["fp"]["base"],
            "seenfilter.fp_projected": crawl_inputs["fp"]["projected"],
        })
    else:
        total = sum(rec["per_leaf_s"].values())
        for leaf, v in rec["per_leaf_s"].items():
            m[f"query.{leaf}.share"] = v / total
        for leaf in LEAVES:
            counts = [
                sum(1 for j, s in job_step.items() if s == f"query:{leaf}:{p}")
                for p in range(rec["detail"]["passes"])
            ]
            m[f"query.{leaf}.jobs"] = statistics.median(counts)
    return m
