"""geo_dataset: the paper's tile pipeline, from AOI to committed dataset.

One iteration takes the seeded AOI to a committed tile dataset:

    grid.make_grid -> zonal.compute_proportions_fused
    -> random_parts.make_random_partitions (foreign polygons with props)
    -> joins.intersect_join_cells + joins.foreign_proportions_cells
    -> split.split -> Catalog.write

At about 1.3k tiles the Python workers use over half of an iteration's
CPU, almost all of it per-task cost outside the numpy kernels: the zonal
kernel itself is about 3%.  The two cell joins take over half the layer
time, and the shuffles carry under 1 MB.

The traced run also serves the seeded request script beside the dataset:
it writes the observation points with ``spatial_store.spatial_cluster_write``
and answers a ``read_aoi`` bbox read, a ``knn_join_cells`` probe (k=10) and
a ``point_in_polygon_join`` over an AOI read, each checked against an
independent answer.  These many small reads with a fixed per-request cost
are timed per layer only: at about 4 s per request mix on a 4-core machine,
serving them in every timed iteration would not fit the run.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geetiles_spark import cache
from geetiles_spark.catalog import Catalog
from geetiles_spark.geo import geom, hashing, s2, utm
from geetiles_spark.operators import grid, joins, random_parts, spatial_store, split, zonal
from geetiles_spark.sources.datasets import get_dataset_definition

from checks import Digest, even_odd

CHIP_M = 1500.0
FOREIGN_M = 6000.0
LABELS = "esaworldcover-2020"
SPLIT = dict(nbands=10, angle=0.3, train_pct=0.6, test_pct=0.2, val_pct=0.2)
K = 10
# the exact-refine stage of the cell joins, pip and kNN: its input rows are
# the candidates, its output rows the kept pairs
REFINE = "MapInPandas[refine]"


def expected_tiles(aoi: np.ndarray, chip_m: float) -> tuple[set, int]:
    """(tile ids, how many of them get props), from the numpy kernel chain
    alone (no Spark).  The tiles are the grid of ``make_grid`` over the
    AOI's UTM envelope, each cell's degree-aligned box, kept when it
    intersects the AOI by the exact polygon test.  A tile gets props unless
    its label chip is nodata: ``synth_chip`` returns None, or the
    post-processed chip sums to 0 on a dataset where that means nodata."""
    ring = geom.ring_close(np.asarray(aoi, dtype=np.float64))
    cx, cy = grid.polygon_centroid(ring)
    zone = int(utm.utm_zone(np.float64(cx), np.float64(cy)))
    south = cy < 0
    ex, ny = utm.lonlat_to_utm(ring[:, 0], ring[:, 1], zone, south)
    gx_n = int((ex.max() - ex.min()) // chip_m)
    gy_n = int((ny.max() - ny.min()) // chip_m)
    gx, gy = np.divmod(np.arange(gx_n * gy_n), gy_n)
    clon, clat = utm.utm_to_lonlat(gx * chip_m + ex.min(), gy * chip_m + ny.min(), zone, south)
    x0, y0 = utm.lonlat_to_utm(clon, clat, zone, south)
    x1, _ = utm.lonlat_to_utm(clon + 0.001, clat, zone, south)
    _, y2 = utm.lonlat_to_utm(clon, clat + 0.001, zone, south)
    dlon = ((chip_m - 1.0) / 2.0) / ((x1 - x0) * 1000.0)
    dlat = ((chip_m - 1.0) / 2.0) / ((y2 - y0) * 1000.0)
    bx0, by0, bx1, by1 = clon - dlon, clat - dlat, clon + dlon, clat + dlat
    keep = geom.boxes_intersect_polygon(bx0, by0, bx1, by1, ring)
    ids = [str(t) for t in hashing.region_hash_batch(bx0[keep], by0[keep], bx1[keep], by1[keep])]
    ddef = get_dataset_definition(LABELS)
    with_props = 0
    for tid in ids:
        arr = ddef.synth_chip(tid, 100, 100)
        if arr is None:
            continue
        if getattr(ddef, "zero_sum_is_nodata", False) and ddef.post_process_chip(arr).sum() == 0:
            continue
        with_props += 1
    return set(ids), with_props


def with_foreign_props(foreign):
    """Give each foreign polygon a label-proportion map derived from its id
    (three classes, summing to 1), as a codegen expression."""
    h = F.abs(F.xxhash64("tile_id"))
    a = (h % 97 + 1).cast("double")
    b = (F.shiftright(h, 8) % 89 + 1).cast("double")
    c = (F.shiftright(h, 16) % 83 + 1).cast("double")
    s = a + b + c
    return foreign.withColumn(
        "props", F.create_map(F.lit("10"), a / s, F.lit("40"), b / s, F.lit("80"), c / s)
    )


def _polys_df(spark, polygons: list) -> "DataFrame":  # noqa: F821
    rows = []
    for i, p in enumerate(polygons):
        r = np.asarray(p, dtype=np.float64)
        rows.append(
            {
                "tile_id": f"p{i}",
                "geometry_wkb": geom.polygon_to_wkb(r),
                "minx": float(r[:, 0].min()), "miny": float(r[:, 1].min()),
                "maxx": float(r[:, 0].max()), "maxy": float(r[:, 1].max()),
            }
        )
    return spark.createDataFrame(pd.DataFrame(rows))


class GeoDataset:
    name = "geo_dataset"

    def __init__(self, spark, inp: dict, work: str):
        self.spark = spark
        self.aoi = inp["aoi"]
        self.fseed = inp["foreign_seed"]
        self.points_path = os.path.join(inp["dir"], "points.parquet")
        self.pts = inp["points"]
        self.requests = inp["requests"]
        self.catalog = Catalog(os.path.join(work, "catalog"))

    # ------------------------------------------------------------ untraced

    def iteration(self) -> tuple:
        """One committed dataset; returns the digest of the committed rows,
        observed inside the write job."""
        with cache.persist_scope():
            tiles = grid.make_grid(self.spark, self.aoi, CHIP_M)
            props = zonal.compute_proportions_fused(tiles, LABELS)
            foreign = self._foreign()
            j1 = joins.intersect_join_cells(tiles, foreign)
            j2 = joins.foreign_proportions_cells(tiles, foreign)
            sp = split.split(tiles, **SPLIT)
            final = Digest(self._final(sp, props, j1, j2))
            self.catalog.write(final.df, "tiles")
        return final.value()

    def _final(self, sp, props, j1, j2):
        return (
            sp.drop("geometry_wkb")
            .join(props, "tile_id", "left")
            .join(j1, "tile_id", "left")
            .join(j2.select("tile_id", "props_at_foreign"), "tile_id", "left")
        )

    def _foreign(self):
        return with_foreign_props(
            random_parts.make_random_partitions(self.spark, self.aoi, FOREIGN_M, seed=self.fseed)
        )

    def check(self) -> list[str]:
        """Independent checks on the committed tiles."""
        fails = []
        want_ids, want_props = expected_tiles(self.aoi, CHIP_M)
        df = self.catalog.read(self.spark, "tiles")
        psum = F.aggregate(F.map_values("props"), F.lit(0.0), lambda acc, x: acc + x)
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("tile_id").alias("ids"),
            F.count("foreign_id").alias("fids"),
            F.count("props").alias("props"),
            # null for a tile without props, which max() skips: the count
            # above covers those
            F.max(F.abs(psum - 1.0)).alias("perr"),
        ).first()
        ids = {row["tile_id"] for row in df.select("tile_id").collect()}
        if ids != want_ids:
            fails.append(
                f"tiles {r['n']} ({len(ids - want_ids)} unexpected, "
                f"{len(want_ids - ids)} missing) != numpy kernel chain {len(want_ids)}"
            )
        if r["ids"] != r["n"] or r["fids"] != r["n"]:
            fails.append("tiles without exactly one foreign_id")
        if r["props"] != want_props:
            fails.append(f"tiles with props {r['props']} != numpy kernel chain {want_props}")
        if r["props"] and (r["perr"] is None or r["perr"] > 1e-9):
            fails.append(f"props do not sum to 1 (max error {r['perr']})")
        return fails

    # -------------------------------------------------------------- traced

    def traced_iteration(self, layer) -> None:
        """Each layer call of the iteration on its own, on cached inputs."""
        spark = self.spark
        with cache.persist_scope():
            tiles = layer.call("grid", lambda: grid.make_grid(spark, self.aoi, CHIP_M))
            layer.record("grid.rows", layer.cached_rows["grid"])
            props = layer.call("zonal", lambda: zonal.compute_proportions_fused(tiles, LABELS))
            layer.record("zonal.rows", layer.cached_rows["zonal"])
            layer.record("zonal.arrow_mb", layer.counters["zonal"].arrow_mb)
            foreign = layer.call("random_parts", self._foreign)
            layer.record("random_parts.rows", layer.cached_rows["random_parts"])
            j1 = layer.call("joins.intersect", lambda: joins.intersect_join_cells(tiles, foreign))
            c = layer.counters["joins.intersect"]
            cand = c.node_rows_in.get(REFINE, 0)
            layer.record("joins.intersect.candidates", cand)
            layer.record("joins.intersect.keep_ratio", c.node_rows.get(REFINE, 0) / max(cand, 1))
            j2 = layer.call("joins.fprops", lambda: joins.foreign_proportions_cells(tiles, foreign))
            sp = layer.call("split", lambda: split.split(tiles, **SPLIT))
            final = self._final(sp, props, j1, j2)
            layer.write("catalog", lambda: self.catalog.write(final, "tiles"))
            layer.catalog_stats(self.catalog, ("tiles",))

    def traced_extra(self, layer) -> tuple[int, list[str]]:
        """The serve step and the direct kernel calls; returns (requests
        attempted, failures)."""
        fails = self._trace_serve(layer)
        self._kernels(layer)
        return len(self.requests), fails

    def _request_df(self, req: dict):
        spark = self.spark
        if req["kind"] == "read_aoi":
            return spatial_store.read_aoi(self.catalog, spark, "obs", *req["bbox"]).select("id")
        if req["kind"] == "knn":
            return joins.knn_join_cells(
                self.catalog.read(spark, "obs"), _queries(req), k=K
            ).select("query_id", "point_id")
        aoi = spatial_store.read_aoi(self.catalog, spark, "obs", *req["bbox"])
        return joins.point_in_polygon_join(
            aoi, _polys_df(spark, req["polygons"]), id_col="id"
        ).select("point_id", "tile_id")

    def _trace_serve(self, layer) -> list[str]:
        spark = self.spark
        pts = spark.read.parquet(self.points_path)
        layer.write("spatial_store", lambda: spatial_store.spatial_cluster_write(self.catalog, "obs", pts))
        n_files = len(glob.glob(os.path.join(self.catalog.snapshot_path("obs"), "*", "*.parquet")))
        fails = []
        for req in self.requests:
            kind = req["kind"]
            name = {"read_aoi": "spatial_store.read", "knn": "joins.knn", "pip": "joins.pip"}[kind]
            df = layer.call(name, lambda: self._request_df(req), persist=False)
            c = layer.counters[name]
            cand = c.node_rows_in.get(REFINE, 0)
            if kind == "read_aoi":
                scanned = sum(v for k, v in c.node_rows.items() if k.startswith("Scan"))
                layer.record(f"{name}.files_read_ratio", c.files_read / max(n_files, 1))
                layer.record(f"{name}.rows_scanned_per_row", scanned / max(layer.cached_rows[name], 1))
            elif kind == "knn":
                layer.record(f"{name}.candidates_per_query", cand / len(req["queries"]))
            else:
                layer.record(f"{name}.keep_ratio", c.node_rows.get(REFINE, 0) / max(cand, 1))
            if _digest_rows(df.collect()) != self._oracle_answer(req):
                fails.append(f"{req['id']} ({kind}) differs from its independent answer")
        return fails

    def _oracle_answer(self, req: dict) -> tuple:
        """The answer computed without the engine's serving path: numpy
        filters and an even-odd test on the generated points, or brute-force
        ``joins.knn_join`` for kNN."""
        if req["kind"] == "knn":
            brute = joins.knn_join(self.catalog.read(self.spark, "obs"), _queries(req), k=K)
            return _digest_rows(brute.select("query_id", "point_id").collect())
        x0, y0, x1, y1 = req["bbox"]
        lon, lat = self.pts["lon"].to_numpy(), self.pts["lat"].to_numpy()
        inside = (lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)
        ids = self.pts["id"].to_numpy()[inside]
        if req["kind"] == "read_aoi":
            return _digest_rows([(int(i),) for i in ids])
        pts = np.stack([lon[inside], lat[inside]], axis=1)
        rows = []
        for k, p in enumerate(req["polygons"]):
            hit = even_odd(pts, np.asarray(p, dtype=np.float64))
            rows += [(int(i), f"p{k}") for i in ids[hit]]
        return _digest_rows(rows)

    def _kernels(self, layer) -> None:
        """Direct driver calls to the geo kernels on the generated inputs."""
        lon, lat = self.pts["lon"].to_numpy(), self.pts["lat"].to_numpy()
        cx, cy = grid.polygon_centroid(geom.ring_close(self.aoi))
        zone = int(utm.utm_zone(np.float64(cx), np.float64(cy)))
        layer.kernel("geo.utm_ns_per_pt", len(lon), 1e9, lambda: utm.lonlat_to_utm(lon, lat, zone))
        layer.kernel("geo.s2_ns_per_pt", len(lon), 1e9, lambda: s2.cell_id(lon, lat, 20))
        tiles = self.catalog.read(self.spark, "tiles").select("tile_id", "minx", "miny", "maxx", "maxy").toPandas()
        layer.kernel(
            "geo.hash_ns_per_tile", len(tiles), 1e9,
            lambda: hashing.region_hash_batch(tiles["minx"], tiles["miny"], tiles["maxx"], tiles["maxy"]),
        )
        ddef = get_dataset_definition(LABELS)
        ids = tiles["tile_id"].head(300).tolist()

        def chips():
            for tid in ids:
                arr = ddef.synth_chip(tid, 100, 100)
                if arr is not None:
                    zonal.proportions_kernel(ddef.post_process_chip(arr), ddef, None)

        layer.kernel("zonal.kernel_us_per_chip", len(ids), 1e6, chips)


def _queries(req: dict) -> list[tuple[str, float, float]]:
    return [(f"q{i}", float(x), float(y)) for i, (x, y) in enumerate(req["queries"])]


def _digest_rows(rows) -> tuple[int, int]:
    """Order-insensitive (count, checksum) of a request's answer rows."""
    acc = 0
    for r in rows:
        acc = (acc + hash(tuple(r))) & ((1 << 64) - 1)
    return len(rows), acc

