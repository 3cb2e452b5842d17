"""Salted two-phase window ranking (W1) + deterministic top-k.

The per-host politeness priority queue from BASELINE.json ("salted
window-ranked batches to defuse hot-host skew"): a plain
``row_number() OVER (PARTITION BY host ORDER BY ...)`` puts every URL of a
hot host into ONE task — at the 10^10-URL design point a zipfian host owning
30% of the frontier would serialize the whole stage. The fix is two-phase:

  phase 1: partition by (host, salt) where salt = pmod(url_hash, S);
           rank within each of the S subgroups and keep ranks <= k.
           Each subgroup survives with at most k rows, so phase 2 sees
           at most k*S rows per host regardless of host size.
  phase 2: exact re-rank of the survivors partitioned by host alone;
           keep ranks <= k.

Both phases order by data-derived columns only (depth, disc_seq, ...), never
by partition id or wall clock, so the result is byte-identical at local[8]
and local[32] — the cluster-size-invariance the driver's scaling rule
requires (SURVEY.md §4 MANUAL determinism rules).

Correctness argument: the true per-host top-k by a total order is a subset of
the union of per-subgroup top-k's (any row in the true top-k is within the
top-k of whatever subgroup it landed in), so phase 1 never drops a winner.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def salted_topk(
    df: DataFrame,
    group_col: str,
    order_cols: list[Column | str],
    k: int,
    salt_src: str = "url_hash",
    n_salt: int = 16,
    rank_name: str = "host_rank",
) -> DataFrame:
    """Deterministic per-group top-k with salt-based skew defusal.

    order_cols MUST form a total order within a group (e.g. include a
    unique tiebreaker like disc_seq) — otherwise determinism is lost.
    """
    salt = F.pmod(F.col(salt_src), F.lit(n_salt))
    w1 = Window.partitionBy(F.col(group_col), salt).orderBy(*order_cols)
    pruned = (
        df.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1")
    )
    w2 = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        pruned.withColumn(rank_name, F.row_number().over(w2))
        .filter(F.col(rank_name) <= k)
    )


def global_sequence(
    df: DataFrame,
    order_cols: list[str],
    seq_name: str,
    start: int = 0,
    n_parts: int | None = None,
    eager_input: bool = False,
) -> tuple[DataFrame, int]:
    """Cluster-size-invariant global sequence: dense rank over a total order,
    computed WITHOUT a single-partition window. Returns ``(ranked, n_rows)``.

    Two-phase: range-partition on the order columns (parallel sort), then
    rank within each partition plus the cumulative offset of earlier
    partitions. The per-partition row counts come from an ``observe()`` on
    the ``_pid`` checkpoint itself (one ``count(when(_pid = i))`` per range
    partition, computed as the rows stream into the checkpoint), and the
    offsets ride into the rank as a literal array indexed by ``_pid`` — so
    a call costs the checkpoint and nothing else: no count job, no offsets
    frame, and callers get the row total without a ``count()``. The result
    depends only on the data (order_cols must be a total order) — range
    boundaries chosen by sampling affect task placement, never the output.
    NEVER ``monotonically_increasing_id`` (partition-dependent values).

    The rank window stays partitioned by ``_pid``: AQE coalesces that
    exchange by bytes, so small inputs rank in one task while large ones
    keep up to ``n_parts``.

    ``eager_input`` (r06): the range exchange SAMPLES its child to pick
    boundaries, so the segment of the input plan above its last shuffle
    runs twice (sample pass + map pass). Callers whose input ends in
    non-trivial post-shuffle work (window top-k, anti-join probes) pass
    True to checkpoint the input once; values are unaffected either way.
    """
    from pyspark.sql import Observation

    spark = df.sparkSession
    if eager_input:
        df = df.localCheckpoint()
    if n_parts is None:
        n_parts = max(spark.sparkContext.defaultParallelism, 8)
    pid = F.col("_pid")
    obs = Observation()
    parted = (
        df.repartitionByRange(n_parts, *[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
        .observe(obs, *[F.count(F.when(pid == i, 1)).alias(f"n{i}") for i in range(n_parts)])
        .localCheckpoint()
    )
    counts = obs.get
    offsets, acc = [], start
    for i in range(n_parts):
        offsets.append(acc)
        acc += int(counts[f"n{i}"])
    off = F.get(F.array(*[F.lit(o).cast("long") for o in offsets]), pid)
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    ranked = parted.withColumn(
        seq_name, (F.row_number().over(w) + off - 1).cast("long")
    ).drop("_pid")
    return ranked, acc - start
