"""Partition counts of DataFrames built from a row count known on the driver.

Every Python task pays a fixed worker set-up whatever its rows, so a small
stage split over every core spends more in that set-up than in its kernel.
``partitions_for_rows`` sizes such DataFrames by their rows instead; the
pipeline test below pins how many Python worker runs the tile pipeline makes,
so a change that adds hidden Python tasks shows up as a diff.
"""

import re
import time

import pytest
from pyspark.sql import functions as F

from geetiles_spark import cache
from geetiles_spark.operators import grid, joins, random_parts, zonal
from geetiles_spark.operators.partitioning import ROWS_PER_TASK, partitions_for_rows

R = ROWS_PER_TASK


@pytest.mark.parametrize(
    "rows,want",
    [(0, 1), (1, 1), (R, 1), (R + 1, 2), (3 * R + 1, 4), (8 * R, 8), (10**9, 8)],
)
def test_partitions_for_rows(spark, rows, want):
    # the session fixture runs local[8]
    assert spark.sparkContext.defaultParallelism == 8
    assert partitions_for_rows(spark, rows) == want


def test_make_grid_range_sized_by_cells(spark, aoi_box):
    tiles = grid.make_grid(spark, aoi_box, 500)
    assert tiles.rdd.getNumPartitions() == 1
    # an explicit count still wins
    assert grid.make_grid(spark, aoi_box, 500, num_partitions=8).rdd.getNumPartitions() == 8


def test_random_partitions_row_order_kept(spark, aoi_box):
    foreign = random_parts.make_random_partitions(spark, aoi_box, 1500, seed=7)
    assert foreign.rdd.getNumPartitions() == 1
    idx = [r["row_idx"] for r in foreign.collect()]
    assert idx == sorted(idx)


# Reads the Spark 4.1 SQL status store through private JVM accessors
# (``_jsparkSession.sharedState().statusStore()``) and parses the text Spark
# renders for a size metric: a bare "1.2 KiB" when one task updated it, else
# "total (min, med, max (stage S.A: task T))".  A change of either makes
# this helper fail rather than miscount.
_MAX_STAGE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


def _python_runs(spark, gid: str, exec_offset: int) -> int:
    """Python worker runs of job group ``gid``: for each Python plan node
    that sent data to Python, the number of tasks that ran it.  A node run
    by one task prints a bare value; one run by several prints the stage of
    its largest task, and all tasks of that stage ran it."""
    sc = spark.sparkContext
    sql_store = spark._jsparkSession.sharedState().statusStore()
    jobs = {int(j) for j in sc.statusTracker().getJobIdsForGroup(gid)}
    deadline = time.monotonic() + 30
    runs, seen = 0, set()
    it = sql_store.executionsList(exec_offset, 1 << 20).iterator()
    while it.hasNext():
        e = it.next()
        ids = set()
        jit = e.jobs().keys().iterator()
        while jit.hasNext():
            ids.add(int(jit.next()))
        if not ids & jobs:
            continue
        # the status store is filled by an asynchronous listener
        while not sql_store.execution(e.executionId()).get().completionTime().isDefined():
            assert time.monotonic() < deadline, "SQL execution not completed"
            time.sleep(0.05)
        vals = sql_store.executionMetrics(e.executionId())
        nodes = sql_store.planGraph(e.executionId()).allNodes().iterator()
        while nodes.hasNext():
            mit = nodes.next().metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                acc = int(m.accumulatorId())
                v = vals.get(acc)
                # a cached plan repeats under every scan of its cache
                if m.name() != "data sent to Python workers" or acc in seen or not v.isDefined():
                    continue
                seen.add(acc)
                text = v.get()
                stage = _MAX_STAGE.search(text)
                if stage:
                    runs += sc.statusTracker().getStageInfo(int(stage.group(1))).numTasks
                else:
                    assert "(" not in text, f"unrecognised metric text {text!r}"
                    runs += float(text.split()[0].replace(",", "")) > 0
    return runs


def test_tile_pipeline_python_task_count(spark, aoi_box):
    """make_grid -> compute_proportions_fused -> intersect_join_cells +
    foreign_proportions_cells on aoi_box: five Python stages (grid
    generator, zonal, both cell explodes, the exact refine), one task each.
    With one partition per core (seven for the seven foreign polygons)
    local[8] ran 39."""
    sc = spark.sparkContext
    offset = int(spark._jsparkSession.sharedState().statusStore().executionsCount())
    gid = "python-task-count"
    sc.setJobGroup(gid, gid, False)
    try:
        with cache.persist_scope():
            tiles = grid.make_grid(spark, aoi_box, 500)
            foreign = random_parts.make_random_partitions(spark, aoi_box, 1500, seed=7)
            foreign = foreign.withColumn("props", F.create_map(F.lit("10"), F.lit(1.0)))
            for df in (
                zonal.compute_proportions_fused(tiles, "esaworldcover-2020"),
                joins.intersect_join_cells(tiles, foreign),
                joins.foreign_proportions_cells(tiles, foreign),
            ):
                df.write.format("noop").mode("overwrite").save()
    finally:
        sc._jsc.clearJobGroup()
    assert _python_runs(spark, gid, offset) == 5
