"""Partition counts for compute-heavy map stages.

A parquet scan can never produce more non-empty tasks than the input has row
groups, no matter what ``spark.sql.files.maxPartitionBytes`` /
``minPartitionNum`` say — a single-row-group file (or an unsplittable gzip)
pins the whole map stage to one core.  For operators whose map side does
orders-of-magnitude more work than the scan itself (shingle explode + md5,
window hashing, per-batch numpy kernels), that starvation dominates the
query: the engine measured 26s -> 2s on the minhash-signature stage at
local[32] purely from re-spreading a 6 MB single-row-group scan.

:func:`spread` is the scale-adaptive fix (optimization guide §2.5 "input
skew ... otherwise repartition immediately after the read"): IF the plan
already has at least ``defaultParallelism`` partitions (the normal case for
real multi-file tables at cluster scale) it is a no-op; only a starved scan
pays the one extra exchange, and what it shuffles is the raw input — cheap
by the premise that the downstream map work, not the scan, is the cost.
Pass ``key`` when a later aggregation groups by that column: the hash
repartition then doubles as the aggregation's exchange (partitioning is
preserved through project/explode, so the groupBy reuses it and the plan
nets ZERO extra shuffles).

The opposite case is a DataFrame the engine builds from a row count it
already knows on the driver (a grid's cell range, driver-side rows): it gets
:func:`partitions_for_rows` partitions, one per :data:`ROWS_PER_TASK` rows,
capped at the one-per-core count :func:`spread` fills, so a small Python
stage runs as a few tasks instead of one per core; downstream Python stages
inherit the count.  From ``defaultParallelism * ROWS_PER_TASK`` rows up the
count is ``defaultParallelism``, exactly as before.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

# Every Python task pays a fixed worker set-up whatever its rows: PySpark's
# per-task ``importlib.invalidate_caches()`` re-reads the zip directories on
# ``sys.path``, 0.2-0.3 CPU-s (4-core VM, Python 3.11).  The heaviest
# per-tile kernel downstream of a grid, zonal stats, costs 0.4-0.8 ms per
# chip.  2,000 tiles give a task ~4x its set-up in kernel work, so the
# set-up stays under ~20% of the task's CPU.  The price is wall time below
# ~5k tiles: on 4 cores, make_grid + zonal over 2.5k-3.6k tiles ran
# 1.8-2.3 s in 2 tasks against 1.5-1.7 s in 4; from ~7k tiles up the rule
# gives all 4.
ROWS_PER_TASK = 2_000


def partitions_for_rows(spark: SparkSession, rows: int) -> int:
    """``clamp(ceil(rows / ROWS_PER_TASK), 1, defaultParallelism)``: no
    more Python tasks than the rows keep busy, never more than cores."""
    cap = spark.sparkContext.defaultParallelism
    n = min(max(-(-rows // ROWS_PER_TASK), 1), cap)
    log.debug("partitions_for_rows: %d rows -> %d partitions (cap %d)", rows, n, cap)
    return n


def spread(df: DataFrame, key: str | None = None, min_parts: int | None = None) -> DataFrame:
    """Ensure ``df`` has at least ``min_parts`` (default
    ``sparkContext.defaultParallelism``) partitions before a compute-heavy
    map stage.  No-op when the plan is already wide enough; hash-partition
    by ``key`` when given (deterministic, and reusable by a downstream
    groupBy on the same column), round-robin otherwise."""
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    have = df.rdd.getNumPartitions()
    log.debug("spread: %d partitions, target %d, no-op %s, key %s",
              have, target, have >= target, key)
    if have >= target:
        return df
    if key is not None:
        return df.repartition(target, F.col(key))
    return df.repartition(target)
