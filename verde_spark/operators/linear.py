"""Piecewise-linear (Delaunay) interpolation — verde's ``Linear`` gridder
(scipygridder.py:115-149) without scipy.

The reference delegates to ``scipy.interpolate.LinearNDInterpolator``
(Delaunay triangulation + barycentric interpolation, NaN outside the
hull). No scipy exists in this environment, so the triangulation is a
from-scratch Bowyer-Watson implemented in NumPy — O(n²) insertion, fine
for the per-tile point counts this engine feeds it (decimated blocks).

Distribution strategy is the same as Spline (SURVEY §2.7 G3): data points
are halo-exploded onto tiles, prediction cogroups each tile's nodes with
its points, and the triangulation is tile-local — a sufficient halo makes
the piecewise-linear surface seamless across tiles because the triangles
used near a boundary are built from the same points on both sides.
"""

from __future__ import annotations

from typing import Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..coordinates import BlockGrid
from ..base import BaseGridder
from ..geometry import get_region
from .spline import _halo_explode, _tile_grid


def delaunay(points: np.ndarray) -> np.ndarray:
    """Bowyer-Watson Delaunay triangulation; returns (m, 3) vertex indices.

    Coordinates are standardized (mean/std) before the circumcircle tests
    for numerical robustness — the same trick verde applies for qhull
    (mask.py:204-211).
    """
    pts = np.asarray(points, dtype="float64")
    n = len(pts)
    if n < 3:
        return np.empty((0, 3), dtype=int)
    mean = pts.mean(axis=0)
    std = pts.std(axis=0)
    std[std == 0] = 1.0
    p = (pts - mean) / std

    # super-triangle well outside the data
    m = 1e3
    sup = np.array([[-m, -m], [m, -m], [0.0, m]])
    verts = np.vstack([p, sup])
    tris = [(n, n + 1, n + 2)]

    def circum(tri):
        a, b, c = verts[tri[0]], verts[tri[1]], verts[tri[2]]
        d = 2 * (a[0] * (b[1] - c[1]) + b[0] * (c[1] - a[1]) + c[0] * (a[1] - b[1]))
        if d == 0:
            return np.array([np.inf, np.inf]), np.inf
        ux = (
            (a[0] ** 2 + a[1] ** 2) * (b[1] - c[1])
            + (b[0] ** 2 + b[1] ** 2) * (c[1] - a[1])
            + (c[0] ** 2 + c[1] ** 2) * (a[1] - b[1])
        ) / d
        uy = (
            (a[0] ** 2 + a[1] ** 2) * (c[0] - b[0])
            + (b[0] ** 2 + b[1] ** 2) * (a[0] - c[0])
            + (c[0] ** 2 + c[1] ** 2) * (b[0] - a[0])
        ) / d
        center = np.array([ux, uy])
        r2 = np.sum((verts[tri[0]] - center) ** 2)
        return center, r2

    centers = {tris[0]: circum(tris[0])}
    for i in range(n):
        pt = verts[i]
        bad = []
        for tri in tris:
            c, r2 = centers[tri]
            if np.sum((pt - c) ** 2) <= r2 * (1 + 1e-12):
                bad.append(tri)
        # boundary polygon = edges of bad triangles not shared by two
        edge_count: dict = {}
        for tri in bad:
            for e in ((tri[0], tri[1]), (tri[1], tri[2]), (tri[2], tri[0])):
                key = (min(e), max(e))
                edge_count[key] = edge_count.get(key, 0) + 1
        boundary = [e for e, cnt in edge_count.items() if cnt == 1]
        for tri in bad:
            tris.remove(tri)
            del centers[tri]
        for e in boundary:
            tri = (e[0], e[1], i)
            tris.append(tri)
            centers[tri] = circum(tri)
    out = [t for t in tris if max(t) < n]
    return np.array(out, dtype=int) if out else np.empty((0, 3), dtype=int)


def linear_interpolate(
    data_pts: np.ndarray, data_vals: np.ndarray, query_pts: np.ndarray
) -> np.ndarray:
    """Barycentric piecewise-linear interpolation; NaN outside the hull
    (scipy LinearNDInterpolator semantics, boundary-inclusive)."""
    tris = delaunay(data_pts)
    out = np.full(len(query_pts), np.nan)
    if len(tris) == 0:
        return out
    a = data_pts[tris[:, 0]]
    b = data_pts[tris[:, 1]]
    c = data_pts[tris[:, 2]]
    det = (b[:, 1] - c[:, 1]) * (a[:, 0] - c[:, 0]) + (c[:, 0] - b[:, 0]) * (a[:, 1] - c[:, 1])
    det[det == 0] = np.nan
    # chunk queries; for each, test all triangles vectorized
    chunk = max(1, 2_000_000 // max(len(tris), 1))
    eps = 1e-9
    for lo in range(0, len(query_pts), chunk):
        q = query_pts[lo : lo + chunk]
        # barycentric coords of every query vs every triangle
        w1 = (
            (b[None, :, 1] - c[None, :, 1]) * (q[:, None, 0] - c[None, :, 0])
            + (c[None, :, 0] - b[None, :, 0]) * (q[:, None, 1] - c[None, :, 1])
        ) / det[None, :]
        w2 = (
            (c[None, :, 1] - a[None, :, 1]) * (q[:, None, 0] - c[None, :, 0])
            + (a[None, :, 0] - c[None, :, 0]) * (q[:, None, 1] - c[None, :, 1])
        ) / det[None, :]
        w3 = 1.0 - w1 - w2
        inside = (w1 >= -eps) & (w2 >= -eps) & (w3 >= -eps)
        has = inside.any(axis=1)
        idx = inside.argmax(axis=1)
        rows = np.nonzero(has)[0]
        t = idx[rows]
        vals = (
            w1[rows, t] * data_vals[tris[t, 0]]
            + w2[rows, t] * data_vals[tris[t, 1]]
            + w3[rows, t] * data_vals[tris[t, 2]]
        )
        out[lo + rows] = vals
    return out


class Linear(BaseGridder):
    """Distributed piecewise-linear gridder (verde scipygridder.py:115-149)."""

    def __init__(self, tile_spacing: Optional[float] = None, halo: Optional[float] = None):
        self.tile_spacing = tile_spacing
        self.halo = halo
        self.points_: Optional[DataFrame] = None
        self.tile_grid_: Optional[BlockGrid] = None
        self.region_: Optional[Tuple[float, float, float, float]] = None

    def fit(
        self,
        df: DataFrame,
        data_col: str = "scalars",
        weight_col: Optional[str] = None,  # ignored (scipy gridders warn too)
        easting: str = "easting",
        northing: str = "northing",
        region=None,
    ) -> "Linear":
        self.region_ = region if region is not None else get_region(df, easting, northing)
        self.tile_grid_, pad = _tile_grid(self.region_, self.tile_spacing, self.halo)
        pts = df.select(
            F.col(easting).alias("easting"),
            F.col(northing).alias("northing"),
            F.col(data_col).alias("data"),
        )
        self.points_ = _halo_explode(pts, self.tile_grid_, pad, "easting", "northing").select(
            "tile", "easting", "northing", "data"
        )
        return self

    def predict(
        self,
        df: DataFrame,
        output_col: str = "prediction",
        easting: str = "easting",
        northing: str = "northing",
    ) -> DataFrame:
        if self.points_ is None or self.tile_grid_ is None:
            raise RuntimeError("Linear is not fitted.")
        tiled = df.withColumn("tile", self.tile_grid_.label_expr(easting, northing))
        out_fields = [f for f in tiled.schema.fields if f.name != "tile"]
        schema = T.StructType(out_fields + [T.StructField(output_col, T.DoubleType())])
        e_name, n_name = easting, northing

        def evaluate(key, nodes: pd.DataFrame, points: pd.DataFrame) -> pd.DataFrame:
            nodes = nodes.drop(columns=["tile"]).copy()
            if len(nodes) == 0:
                nodes[output_col] = pd.Series(dtype="float64")
                return nodes
            if len(points) < 3:
                nodes[output_col] = np.nan
                return nodes
            dp = np.column_stack(
                [points["easting"].to_numpy("float64"), points["northing"].to_numpy("float64")]
            )
            qp = np.column_stack(
                [nodes[e_name].to_numpy("float64"), nodes[n_name].to_numpy("float64")]
            )
            nodes[output_col] = linear_interpolate(dp, points["data"].to_numpy("float64"), qp)
            return nodes

        return (
            tiled.groupBy("tile")
            .cogroup(self.points_.groupBy("tile"))
            .applyInPandas(evaluate, schema)
        )

