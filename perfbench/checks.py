"""Output checks shared by the workloads."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.observation import Observation


def _canonical(df: DataFrame, name: str):
    """Column as a value whose hash does not depend on row order, map key
    order, or float summation order (doubles rounded to 9 decimals)."""
    dt = df.schema[name].dataType
    c = F.col(name)
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return F.round(c, 9)
    if isinstance(dt, T.MapType):
        entries = F.array_sort(F.map_entries(c))
        return F.to_json(
            F.transform(entries, lambda e: F.struct(e["key"].alias("k"), F.round(e["value"], 9).alias("v")))
        )
    if isinstance(dt, T.BinaryType):
        return F.sha2(c, 256)
    return c


class Digest:
    """Order-insensitive digest of the rows a DataFrame produces: (rows,
    sum of per-row xxhash64), taken by observe() inside whatever job
    consumes the DataFrame, so checking a commit costs no extra job."""

    def __init__(self, df: DataFrame):
        cols = sorted(df.columns)
        h = F.xxhash64(*[_canonical(df, c) for c in cols]).cast("decimal(38,0)")
        self._obs = Observation()
        self.df = df.observe(self._obs, F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"))

    def value(self) -> tuple[int, int]:
        r = self._obs.get
        return int(r["n"]), int(r["h"] or 0)


def even_odd(pts: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd point-in-polygon test (ray cast to +x), one row per point."""
    x, y = pts[:, 0][:, None], pts[:, 1][:, None]
    x0, y0 = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
    x1, y1 = ring[1:, 0][None, :], ring[1:, 1][None, :]
    straddle = (y0 > y) != (y1 > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xcross = x0 + (y - y0) * (x1 - x0) / (y1 - y0)
    return (np.count_nonzero(straddle & (x < xcross), axis=1) % 2) == 1
