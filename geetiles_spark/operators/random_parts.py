"""G3: random recursive partitions ("katana", ``geet random``).

Reference (``/root/reference/geetiles/partitions.py:513-567``): recursively
split the AOI (in UTM meters) across its shorter bbox dimension at a random
fraction ``1 / (2*(1+(U-0.5)*2v))`` of the extent, stopping when
``max(w, h) <= threshold`` or depth 250.  The reference draws from the global
``np.random`` state (non-reproducible, ``partitions.py:533``); we use a
seeded generator drawn in recursion order (depth-first, a-then-b) so fixtures
are deterministic — documented divergence.

The post-split "align to lonlat" step calls ``utils.align_to_lonlat``, which
**does not exist** in the reference package; the exception handler at
``partitions.py:102-104`` makes alignment a silent no-op.  We reproduce the
actual behaviour (no alignment) faithfully (SURVEY §2.7 F10).

One AOI splits into at most ~4^depth cells bounded by area/threshold² — a
driver-side recursion, exactly like the reference; the *result* becomes a
distributed DataFrame.  Splitting MANY AOIs runs the same kernel inside
mapInPandas, one AOI per input row (:func:`make_random_partitions_many`,
VERDICT r2 #7), with a per-AOI rng derived from (seed, aoi_id) so results
are independent of partitioning and identical to the driver-side recursion.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..geo import geom, hashing, utm
from .grid import TILE_SCHEMA, polygon_centroid
from .partitioning import partitions_for_rows


def katana(
    ring: np.ndarray,
    threshold: float,
    rng: np.random.Generator,
    count: int = 0,
    random_variance: float = 0.1,
) -> list[np.ndarray]:
    """Recursive binary split of a polygon ring (planar coords)."""
    assert random_variance >= 0
    minx, miny, maxx, maxy = geom.ring_bounds(ring)
    width = maxx - minx
    height = maxy - miny
    random_factor = 2.0 * (1.0 + (rng.random() - 0.5) * random_variance * 2.0)

    if max(width, height) <= threshold or count == 250:
        return [ring]
    if height >= width:
        a = geom.box_ring(minx, miny, maxx, miny + height / random_factor)
        b = geom.box_ring(minx, miny + height / random_factor, maxx, maxy)
    else:
        a = geom.box_ring(minx, miny, minx + width / random_factor, maxy)
        b = geom.box_ring(minx + width / random_factor, miny, maxx, maxy)
    result: list[np.ndarray] = []
    for d in (a, b):
        c = geom.clip_polygon_convex(ring, d)
        if len(c) >= 4 and geom.ring_area(c) > 0:
            result.extend(katana(c, threshold, rng, count + 1, random_variance))
    return result


def split_one_aoi(
    aoi_ring: np.ndarray,
    max_rectangle_size: float,
    random_variance: float,
    rng: np.random.Generator,
) -> list[dict]:
    """Project -> katana -> reproject -> tile rows for ONE AOI (the shared
    kernel of the driver-side and distributed entry points)."""
    aoi_ring = geom.ring_close(np.asarray(aoi_ring, dtype=np.float64))
    env_c = geom.polygon_centroid_of_envelope_ring(aoi_ring)
    zone = int(utm.utm_zone(np.float64(env_c[0]), np.float64(env_c[1])))
    south = env_c[1] < 0
    ex, ny = utm.lonlat_to_utm(aoi_ring[:, 0], aoi_ring[:, 1], zone, south)
    ring_utm = np.stack([ex, ny], axis=1)

    parts = katana(ring_utm, max_rectangle_size, rng, 0, random_variance)

    rows = []
    for i, p in enumerate(parts):
        area_km2 = geom.ring_area(p) / 1e6
        lon, lat = utm.utm_to_lonlat(p[:, 0], p[:, 1], zone, south)
        ring4326 = np.stack([lon, lat], axis=1)
        bx0, by0, bx1, by1 = geom.ring_bounds(ring4326)
        rows.append(
            {
                "row_idx": i,
                "tile_id": hashing.region_hash_from_bounds(bx0, by0, bx1, by1),
                "geometry_wkb": geom.polygon_to_wkb(ring4326),
                "minx": bx0,
                "miny": by0,
                "maxx": bx1,
                "maxy": by1,
                "area_km2": area_km2,
            }
        )
    return rows


def katana_hashed_boxes(
    x0: float,
    y0: float,
    x1: float,
    y1: float,
    threshold: float,
    random_variance: float = 0.1,
    salt: str = "katana",
) -> list[tuple[str, float, float, float, float]]:
    """Hash-randomized rectangle katana: the reference's recursive split
    rule, but the random factor of each node derives from the sha256 of its
    TREE PATH (``'{salt}/{path}'``, path = 'a'/'b' choices from the root) —
    no generator state, no float formatting.  That makes the stateful
    recursion language-neutral: a DuckDB recursive CTE reproduces every
    leaf bit-for-bit (``oracle_sql.random_partitions_hashed_oracle_sql``),
    which the seeded-numpy :func:`katana` (PCG64 state in recursion order)
    cannot offer.  Operates on an axis-aligned UTM box, so every node stays
    a box (no polygon clipping inside the recursion).

    Returns DFS-ordered ``(path, x0, y0, x1, y1)`` leaves; lexicographic
    path order == recursion order ('a' < 'b', prefix-free)."""
    out: list[tuple[str, float, float, float, float]] = []

    def rec(path: str, bx0: float, by0: float, bx1: float, by1: float, depth: int):
        w = bx1 - bx0
        h = by1 - by0
        if max(w, h) <= threshold or depth == 250:
            out.append((path, bx0, by0, bx1, by1))
            return
        import hashlib

        u = int(
            hashlib.sha256(f"{salt}/{path}".encode()).hexdigest()[:12], 16
        ) / 2.0 ** 48
        factor = 2.0 * (1.0 + (u - 0.5) * random_variance * 2.0)
        if h >= w:
            ya = by0 + h / factor
            rec(path + "a", bx0, by0, bx1, ya, depth + 1)
            rec(path + "b", bx0, ya, bx1, by1, depth + 1)
        else:
            xa = bx0 + w / factor
            rec(path + "a", bx0, by0, xa, by1, depth + 1)
            rec(path + "b", xa, by0, bx1, by1, depth + 1)

    rec("", x0, y0, x1, y1, 0)
    return out


def make_random_partitions_hashed(
    spark: SparkSession,
    aoi_ring: np.ndarray,
    max_rectangle_size: float,
    random_variance: float = 0.1,
    salt: str = "katana",
) -> DataFrame:
    """Tiles DataFrame from :func:`katana_hashed_boxes` over the AOI's UTM
    envelope (row_idx = recursion order).  The fully-oracled twin of
    :func:`make_random_partitions`."""
    aoi_ring = geom.ring_close(np.asarray(aoi_ring, dtype=np.float64))
    env_c = geom.polygon_centroid_of_envelope_ring(aoi_ring)
    zone = int(utm.utm_zone(np.float64(env_c[0]), np.float64(env_c[1])))
    south = env_c[1] < 0
    ex, ny = utm.lonlat_to_utm(aoi_ring[:, 0], aoi_ring[:, 1], zone, south)
    leaves = katana_hashed_boxes(
        float(ex.min()), float(ny.min()), float(ex.max()), float(ny.max()),
        max_rectangle_size, random_variance, salt,
    )
    rows = []
    for i, (_path, bx0, by0, bx1, by1) in enumerate(leaves):
        ring_utm = geom.box_ring(bx0, by0, bx1, by1)
        lon, lat = utm.utm_to_lonlat(ring_utm[:, 0], ring_utm[:, 1], zone, south)
        gx0, gy0, gx1, gy1 = (
            float(lon.min()), float(lat.min()), float(lon.max()), float(lat.max())
        )
        rows.append(
            {
                "row_idx": i,
                "tile_id": hashing.region_hash_from_bounds(gx0, gy0, gx1, gy1),
                "geometry_wkb": geom.polygon_to_wkb(np.stack([lon, lat], axis=1)),
                "minx": gx0,
                "miny": gy0,
                "maxx": gx1,
                "maxy": gy1,
                "area_km2": (bx1 - bx0) * (by1 - by0) / 1e6,
            }
        )
    schema = T.StructType(
        TILE_SCHEMA.fields + [T.StructField("area_km2", T.DoubleType())]
    )
    return spark.createDataFrame(pd.DataFrame(rows), schema=schema).coalesce(
        partitions_for_rows(spark, len(rows))
    )


def make_random_partitions(
    spark: SparkSession,
    aoi_ring: np.ndarray,
    max_rectangle_size: float,
    random_variance: float = 0.1,
    seed: int = 42,
) -> DataFrame:
    """Katana-split the AOI (projected to UTM), reproject pieces to 4326,
    return a tiles DataFrame (row_idx order = recursion order, matching the
    reference's list order)."""
    rows = split_one_aoi(
        aoi_ring, max_rectangle_size, random_variance, np.random.default_rng(seed)
    )
    pdf = pd.DataFrame(rows)
    # fresh StructType: StructType.add mutates in place
    schema = T.StructType(
        TILE_SCHEMA.fields + [T.StructField("area_km2", T.DoubleType())]
    )
    # coalesce concatenates partitions in order: row order is kept
    return spark.createDataFrame(pdf, schema=schema).coalesce(
        partitions_for_rows(spark, len(pdf))
    )


def aoi_rng(seed: int, aoi_id) -> np.random.Generator:
    """Per-AOI generator seeded by (seed, crc32(aoi_id)) — stable across
    partitionings, so the distributed katana is reproducible row-for-row."""
    import zlib

    return np.random.default_rng([seed, zlib.crc32(str(aoi_id).encode())])


def make_random_partitions_many(
    aois: DataFrame,
    max_rectangle_size: float,
    random_variance: float = 0.1,
    seed: int = 42,
    id_col: str = "aoi_id",
    wkb_col: str = "geometry_wkb",
) -> DataFrame:
    """Distributed many-AOI katana (VERDICT r2 #7): the seeded recursion
    runs INSIDE mapInPandas, one AOI per input row — a million admin shapes
    split in parallel with no driver involvement.  Per-AOI rng from
    :func:`aoi_rng`, so each AOI's pieces equal
    ``split_one_aoi(..., aoi_rng(seed, aoi_id))`` exactly, regardless of
    how rows are partitioned."""
    from collections.abc import Iterator

    id_type = aois.schema[id_col].dataType
    schema = T.StructType(
        [T.StructField(id_col, id_type)]
        + TILE_SCHEMA.fields
        + [T.StructField("area_km2", T.DoubleType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for aid, wkb in zip(pdf[id_col], pdf[wkb_col]):
                ring = geom.wkb_to_polygon(bytes(wkb))
                rows = split_one_aoi(
                    ring, max_rectangle_size, random_variance, aoi_rng(seed, aid)
                )
                for r in rows:
                    r[id_col] = aid
                out.extend(rows)
            if out:
                yield pd.DataFrame(out)[[f.name for f in schema.fields]]

    return aois.select(id_col, wkb_col).mapInPandas(run, schema)


__all__ = [
    "katana",
    "split_one_aoi",
    "aoi_rng",
    "make_random_partitions",
    "make_random_partitions_many",
    "polygon_centroid",
]
