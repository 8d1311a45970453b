"""Physical-plan regression guards: the properties that make the engine's
plans survive a 100x scale-up, asserted over the real contract queries.

- no CartesianProduct anywhere, ever;
- BroadcastNestedLoopJoin only where a theta join against a tiny broadcast
  catalog is the INTENDED plan (the interval+spatial bbox join — ~25 events
  broadcast; at catalog scale the cell join replaces it);
- relational scans push their filters into the parquet reader and prune
  columns (q1 must not read l_comment).
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as E  # noqa: E402

SF = "/root/testdata/sf0.001"

# bbox theta join vs broadcast event catalog: BNLJ is the right physical
# plan for a ~25-row broadcast side; everything else must be hash/equi
# vocab_topk: Catalyst constant-folds the literal join key of the 1-row
# global-total attach into an Identity broadcast -> BNLJ with a ONE-row
# build side over k<=256 probe rows (O(k) work, the optimal scalar attach)
BNLJ_ALLOWED = {"interval_spatial_join", "interval_spatial_join_exact", "vocab_topk"}


def _all_queries():
    # plan laws cover the demoted cross-strategy twins too — they remain
    # shipped code paths
    return {**E.queries(), **E.extra_queries()}


def _plan(spark, name):
    return (
        _all_queries()[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
    )


class TestPlanShapes:
    def test_no_cartesian_products(self, spark):
        for name in _all_queries():
            plan = _plan(spark, name)
            assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
            if name not in BNLJ_ALLOWED:
                assert "BroadcastNestedLoopJoin" not in plan, (
                    f"{name} plans a nested-loop join"
                )

    def test_q1_pushdown_and_pruning(self, spark):
        plan = _plan(spark, "q1_pricing_summary")
        assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
        # column pruning: the wide comment column must not be read
        assert "l_comment" not in plan

    def test_banded_joins_are_equi(self, spark):
        for name in ("simhash_hamming_pairs", "dedup_minhash_lsh"):
            plan = _plan(spark, name)
            assert (
                "SortMergeJoin" in plan
                or "ShuffledHashJoin" in plan
                or "BroadcastHashJoin" in plan
            ), f"{name} lost its equi join"

    def test_small_dims_broadcast(self, spark):
        plan = _plan(spark, "q5_local_supplier")
        assert "BroadcastHashJoin" in plan  # nation/region dims

    def test_banded_pair_joins_have_no_distinct(self, spark):
        """Report-once replaced every terminal distinct() on pair outputs —
        at candidate scale that distinct is the dominant shuffle."""
        import re

        for name in ("dedup_minhash_lsh", "simhash_hamming_pairs", "embedding_lsh_pairs"):
            plan = _plan(spark, name)
            assert not re.search(r"HashAggregate\(keys=\[doc_a", plan), name
            assert not re.search(r"HashAggregate\(keys=\[id_a", plan), name

    def test_skew_stages_absent_when_no_hot_buckets(self, spark):
        """VERDICT r3 #2 pay-as-you-go: the contract fixtures have no hot
        bucket, so the plan must be the plain equi-join — no anti/semi
        (hot-split) stages, no salt explode."""
        for name in ("dedup_minhash_lsh", "simhash_hamming_pairs", "ngram_jaccard_pairs"):
            plan = _plan(spark, name)
            assert "LeftAnti" not in plan, f"{name} kept the hot-split anti join"
            assert "LeftSemi" not in plan, f"{name} kept the hot-split semi join"


class TestSpatialJoinRefineNodes:
    """The exact refine of the cell joins, pip and kNN runs as a Python map
    named ``refine``: plans and per-node counters (rows in and out of
    ``MapInPandas refine(...)``) find it by that name, so a renamed closure
    would silently zero the counted candidates and keep ratios."""

    @staticmethod
    def _executed_plan(df):
        from geetiles_spark import cache

        with cache.persist_scope():
            df.collect()
            return df._jdf.queryExecution().executedPlan().toString()

    def test_cell_joins_broadcast_on_cell_and_refine(self, spark, tiles_box, foreign_box):
        import re

        from geetiles_spark.operators import joins

        for df in (
            joins.intersect_join_cells(tiles_box, foreign_box),
            joins.foreign_proportions_cells(tiles_box, foreign_box),
        ):
            plan = self._executed_plan(df)
            assert "MapInPandas refine(" in plan
            assert re.search(r"BroadcastHashJoin \[cell#\d+L?\], \[cell#\d+L?\]", plan)

    def test_pip_and_knn_refine(self, spark, tiles_box):
        import numpy as np
        import pandas as pd
        from pyspark.sql import functions as F

        from geetiles_spark.geo import geom
        from geetiles_spark.operators import joins

        pts = tiles_box.select(
            F.col("tile_id").alias("id"),
            ((F.col("minx") + F.col("maxx")) / 2).alias("lon"),
            ((F.col("miny") + F.col("maxy")) / 2).alias("lat"),
        )
        # a triangle: not its bbox, so pip takes the Python refine path
        tri = geom.ring_close(np.array([[6.08, 49.68], [6.12, 49.68], [6.08, 49.72]]))
        polys = spark.createDataFrame(
            pd.DataFrame(
                [{"tile_id": "T", "geometry_wkb": geom.polygon_to_wkb(tri),
                  "minx": 6.08, "miny": 49.68, "maxx": 6.12, "maxy": 49.72}]
            )
        )
        pip = joins.point_in_polygon_join(pts, polys, id_col="id")
        knn = joins.knn_join_cells(pts, [("q0", 6.10, 49.70)], k=5)
        for df in (pip, knn):
            assert "MapInPandas refine(" in self._executed_plan(df)
