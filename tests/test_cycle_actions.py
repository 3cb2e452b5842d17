"""The crawl cycle's Spark-action budget and the counts it takes from work
already done: the sequence totals of ``global_sequence``, the observed
parsed/span totals of the metrics write, and schema-carrying TableIO reads
(with the inferred fallback for segments written without a sidecar)."""

from __future__ import annotations

import glob
import json
import os
import time
import uuid

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from croawl_spark import synth
from croawl_spark.operators.ranking import global_sequence
from croawl_spark.plans.cycle import CrawlConfig, bootstrap, run_cycle
from croawl_spark.sources.tableio import SCHEMA_FILE, TableIO
from tests.oracle_sim import simulate

N_SEEDS = 60
CFG = CrawlConfig(k_per_host=2, n_salt=4, n_buckets=16, m_bits=1 << 12)
# Spark jobs of one cycle (no frontier compaction) on the
# default 50 x 2000 synthetic universe: its checkpoints and its writes.
CYCLE_JOB_BUDGET = 49


def _jobs_between_markers(spark, fn):
    """(fn(), jobs started while fn ran, jobs of those in fn's job group).

    Job ids are sequential per SparkContext; a marker job runs before and
    after ``fn``, and every id between the two is a job ``fn`` started, in
    whatever thread and group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    marker, group = f"marker-{uuid.uuid4().hex}", f"cycle-{uuid.uuid4().hex}"

    def run_marker(old: set[int]) -> set[int]:
        sc.setJobGroup(marker, marker)
        spark.range(1).collect()
        for _ in range(500):  # the status store is fed by the listener bus
            new = set(tracker.getJobIdsForGroup(marker)) - old
            if new:
                return new
            time.sleep(0.01)
        raise AssertionError("marker job not reported")

    before = run_marker(set())
    sc.setJobGroup(group, group)
    out = fn()
    after = run_marker(before)
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    # the listener bus is ordered: the cycle's jobs are in the store once
    # the later marker is
    return out, min(after) - max(before) - 1, len(tracker.getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    seeds = synth.gen_seeds(N_SEEDS)
    io = TableIO(spark, str(tmp_path_factory.mktemp("cycle_actions") / "warehouse"))
    bootstrap(spark, seeds, io, CFG)
    cycles = [_jobs_between_markers(spark, lambda c=c: run_cycle(spark, io, c, CFG))
              for c in range(2)]
    return seeds, io, cycles


def test_cycle_job_budget(crawl):
    _, _, cycles = crawl
    for _, n_jobs, n_tagged in cycles:
        assert n_jobs <= CYCLE_JOB_BUDGET
        # the write pool's jobs inherit the caller's job group
        assert n_tagged == n_jobs


def test_cycle_totals_equal_committed_metrics(crawl):
    _, io, cycles = crawl
    metrics = io.read_log("metrics")
    for out, _, _ in cycles:
        row = metrics.filter(F.col("cycle") == out["cycle"]).agg(
            F.sum("urls_scheduled").alias("scheduled"),
            F.sum("urls_parsed").alias("parsed"),
            F.sum("spans_parsed").alias("spans"),
        ).collect()[0]
        assert out["scheduled"] > 0 and out["parsed"] > 0
        assert (out["scheduled"], out["parsed"], out["spans"]) == (
            row["scheduled"], row["parsed"], row["spans"]
        )
        fl = io.read_log("fetch_log").filter(F.col("cycle") == out["cycle"])
        assert fl.count() == out["scheduled"]
        assert fl.filter(F.col("status") == 200).count() == out["parsed"]


def test_legacy_segments_without_schema_sidecar_resume(spark, crawl):
    """Warehouses written before the sidecar: every read infers, and the
    crawl resumes onto the oracle's fetch log and seen set."""
    seeds, io, _ = crawl
    sidecars = glob.glob(os.path.join(io.base, "*", "cycle=*", SCHEMA_FILE))
    assert sidecars
    for path in sidecars:
        seg = os.path.dirname(path)
        with open(path) as f:
            recorded = StructType.fromJson(json.load(f))
        assert recorded == spark.read.parquet(seg).schema, seg
        os.remove(path)
    run_cycle(spark, io, 2, CFG)
    want_log, want_seen, _ = simulate(seeds, 3, CFG.k_per_host)
    got_log = [
        tuple(r)
        for r in io.read_log("fetch_log").orderBy("fetch_seq").select(
            "cycle", "fetch_seq", "canon_url", "host", "status", "content_kind", "bytes"
        ).collect()
    ]
    assert got_log == [tuple(r) for r in want_log]
    got_seen = {r["canon_url"]: r["disc_seq"] for r in io.read_log("seen").collect()}
    assert got_seen == want_seen


def _row_number_oracle(df, order_cols, start):
    w = Window.orderBy(*order_cols)
    return df.withColumn("seq", (F.row_number().over(w) + start - 1).cast("long"))


@pytest.mark.parametrize(
    "n_rows,n_parts,start",
    [
        (0, 8, 0),       # empty input
        (1, 8, 5),       # one row
        (50, 1, 0),      # every row in one range partition
        (3, 16, 0),      # more range partitions than rows
        (200, 4, 1000),  # start != 0
    ],
)
def test_global_sequence_equals_row_number(spark, n_rows, n_parts, start):
    # a total order with ties in its leading column
    df = spark.range(n_rows).select(
        (F.col("id") % 7).alias("a"), (F.lit(1000) - F.col("id")).alias("b")
    )
    got, total = global_sequence(df, ["a", "b"], "seq", start=start, n_parts=n_parts)
    want = _row_number_oracle(df, ["a", "b"], start)
    assert total == n_rows
    key = lambda r: (r["a"], r["b"], r["seq"])  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))
