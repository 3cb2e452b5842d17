"""The ``query_battery`` workload: 20 headline query leaves of
``plans.verify_queries`` over seeded generated tables, in a seed-permuted
order. The first pass over the leaves runs each of them cold in the fresh
session.

Each leaf is timed by writing its full result to Spark's ``noop`` sink, so
no column is pruned away as a ``count()`` would allow. Correctness is
checked afterwards against the DuckDB ``ORACLE`` SQL.
"""

from __future__ import annotations

import math
import os
import random
import re
import statistics
import time

from perfbench import datagen

SF = 0.01
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
# 20 of the 30 headline leaves of the repository's query benchmark
# (bench.py), one per mechanism. Left out for the run budget, each beside
# a kept leaf of the same shape: topk, stream_window, pack_sequences,
# doc_chunks, doc_perplexity, corpus_report, join_interval,
# dedup_cluster_star, dedup_substring_rm, dedup_substring_inc.
LEAVES = [
    "agg_hash", "join_inner", "join_asof_emul", "win_rank", "dedup_exact",
    "dedup_minhash", "ann_cosine", "span_extract", "dedup_cluster",
    "dedup_incremental", "corpus_clean", "bm25", "join_range", "host_rank",
    "contamination", "dedup_embed_lsh", "rep_filter", "pii_scrub",
    "dedup_substring", "domain_mix",
]
# Set-up warms the fresh session on two leaves outside the measured set:
# a parquet scan and an Arrow UDF, which starts the first Python worker.
# Without it, whichever leaf the seed puts first pays those first-time
# costs, and the geometric mean moves by ~8% with the seed.
WARMUP = ("scan_parquet", "url_canonicalize")
N_SETUPS = 3
CHECK_GROUPS = 6  # each run checks every 6th oracle leaf, rotating by seed


def prepare(ctx) -> None:
    """Write the seeded input tables (before the session starts)."""
    ctx.sf_dir = os.path.join(ctx.work, "tables")
    datagen.write_tables(ctx.sf_dir, ctx.seed, SF)


def _run_leaf(ctx, fn, tag: str) -> float:
    with ctx.span(tag), ctx.group(tag):
        t0 = time.perf_counter()
        fn(ctx.spark, ctx.sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


def run(ctx) -> dict:
    from croawl_spark.plans.verify_queries import QUERIES

    from perfbench import procstat

    setups = []
    for i in range(N_SETUPS):
        t0 = time.perf_counter()
        for leaf in WARMUP:
            _run_leaf(ctx, QUERIES[leaf], f"setup:{leaf}:{i}")
        setups.append(time.perf_counter() - t0)

    # passes over all leaves until ``seconds`` have been measured; the first
    # pass runs every leaf cold, as a fresh batch job meets it
    rng = random.Random(ctx.seed)
    errors: dict[str, str] = {}
    passes: list[dict[str, float]] = []
    cpu0, t_start = procstat.tree_cpu_s(ctx.pid), time.perf_counter()
    while not passes or time.perf_counter() - t_start < ctx.seconds:
        p = len(passes)
        order = LEAVES[:]
        rng.shuffle(order)
        times = {}
        for leaf in order:
            try:
                times[leaf] = _run_leaf(ctx, QUERIES[leaf], f"query:{leaf}:{p}")
            except Exception as e:  # a failing leaf is counted, the rest still run
                errors.setdefault(leaf, f"{type(e).__name__}: {str(e)[:300]}")
        passes.append(times)
    cpu = procstat.tree_cpu_s(ctx.pid) - cpu0

    ok = [leaf for leaf in LEAVES if all(leaf in ps for ps in passes)]
    per_leaf = {leaf: statistics.median(ps[leaf] for ps in passes) for leaf in ok}
    runs = sum(len(ps) for ps in passes)
    e2e = {
        "setup_s": statistics.median(setups),
        "total_s": statistics.median(sum(ps.values()) for ps in passes),
        "items_per_s": 1.0 / math.exp(
            statistics.fmean(math.log(v) for v in per_leaf.values())),
        "cpu_ms_per_item": cpu * 1000.0 / runs,
    }
    return {
        "e2e": e2e,
        "steps": [f"query:{leaf}:{p}" for p in range(len(passes)) for leaf in LEAVES],
        "per_leaf_s": per_leaf,
        "errors": errors,
        "detail": {
            "setup_runs_s": setups,
            "passes": len(passes),
            "pass_s": [sum(ps.values()) for ps in passes],
        },
    }


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return v


def _rows(pdf, cols):
    return sorted(
        (tuple(_norm(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)),
        key=repr,
    )


_CTE = re.compile(r"\b(\w+) AS \((?=\s*SELECT)", re.IGNORECASE)


def _oracle_sql(sql: str) -> str:
    """Ask DuckDB to materialize each CTE once. The results are the same;
    without it the unrolled PageRank oracle re-evaluates its chain of CTEs
    and takes ~45 s at this scale."""
    if sql.lstrip().upper().startswith("WITH"):
        return _CTE.sub(r"\1 AS MATERIALIZED (", sql)
    return sql


def layer_inputs(ctx, rec: dict) -> None:
    return None  # the per-layer summary reads only the event log and spans


def check(ctx, rec: dict) -> tuple[int, int, list[str]]:
    """Compare this run's share of the oracle leaves with DuckDB. Returns
    (attempted, failed, problems); a leaf that raised also counts failed."""
    import duckdb

    from croawl_spark.plans.verify_queries import ORACLE, QUERIES

    problems = [f"{leaf}: {err}" for leaf, err in sorted(rec["errors"].items())]
    bad = set(rec["errors"])
    with_oracle = sorted(leaf for leaf in LEAVES if leaf in ORACLE)
    chosen = with_oracle[ctx.seed % CHECK_GROUPS::CHECK_GROUPS]
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(ctx.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        for leaf in chosen:
            if leaf in bad:
                continue
            with ctx.group(f"check:{leaf}"):
                got = QUERIES[leaf](ctx.spark, ctx.sf_dir).toPandas()
            want = con.sql(_oracle_sql(ORACLE[leaf])).df()
            cols = sorted(got.columns)
            if sorted(want.columns) != cols:
                problems.append(f"{leaf}: columns {cols} vs oracle {sorted(want.columns)}")
            elif _rows(got, cols) != _rows(want, cols):
                problems.append(f"{leaf}: rows differ from the oracle ({len(got)} vs {len(want)})")
            else:
                continue
            bad.add(leaf)
    finally:
        con.close()
    rec["checked"] = chosen
    return len(LEAVES), len(bad), problems
