"""Clough-Tocher C1 cubic interpolation — verde's ``Cubic`` gridder
(scipygridder.py:152-186) without scipy.

The reference delegates to ``scipy.interpolate.CloughTocher2DInterpolator``:
Delaunay triangulation, globally-estimated vertex gradients (curvature
minimization), then a piecewise cubic Bezier patch per triangle using the
Clough-Tocher centroid split, C1 across all edges, NaN outside the hull.
No scipy exists in this environment, so all three stages are implemented
from scratch in NumPy:

* triangulation: the Bowyer-Watson implementation shared with ``Linear``;
* gradients: minimize the sum over triangulation edges of the bending
  energy of the edge-restricted Hermite cubic,
  ``E = Σ_e ∫ h''(t)² dt`` — setting ``∂E/∂∇f_i = 0`` gives per-vertex
  2×2 systems coupled to the neighbours, solved by vectorized Jacobi
  iteration (the same functional scipy's
  ``estimate_gradients_2d_global`` minimizes);
* evaluation: the reduced Hsieh-Clough-Tocher element — the cross-edge
  normal derivative at each exterior-edge midpoint is the average of the
  vertex normal derivatives, which pins the three interior Bezier points
  of the split; the remaining interior points follow from C1 continuity
  across the internal edges (ring averages toward the centroid).

The element reproduces quadratics exactly when given exact gradients
(``test_cubic.py`` asserts this) and is C1 everywhere.

Distribution strategy is identical to ``Linear`` (SURVEY §2.7 G3):
halo-explode data points onto tiles, cogroup tile nodes with tile points,
triangulate per tile — a sufficient halo makes patches near a boundary
identical on both sides, so the tiled surface is seamless.
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
from .linear import delaunay
from .spline import _halo_explode, _tile_grid


def estimate_gradients(
    points: np.ndarray,
    values: np.ndarray,
    tris: np.ndarray,
    maxiter: int = 400,
    tol: float = 1e-6,
) -> np.ndarray:
    """Per-vertex (d/dx, d/dy) minimizing Σ_edges ∫ h''² of edge cubics.

    Stationarity at vertex i: ``Q_i ∇f_i = s_i(∇f_neighbours)`` with
    ``Q_i = Σ_e 4·e eᵀ/L³`` and ``s_i = Σ_e (6(f_j−f_i) − 2 ∇f_j·e) e/L³``
    (e = P_j − P_i).  Exact for linear fields by construction.  Solved by
    Jacobi sweeps (vectorized scatter/gather), like scipy's Gauss-Seidel.
    """
    n = len(points)
    grads = np.zeros((n, 2))
    if len(tris) == 0 or n < 2:
        return grads
    # undirected edge set -> both directions
    e_all = np.vstack([tris[:, [0, 1]], tris[:, [1, 2]], tris[:, [2, 0]]])
    e_all = np.unique(np.sort(e_all, axis=1), axis=0)
    src = np.concatenate([e_all[:, 0], e_all[:, 1]])
    dst = np.concatenate([e_all[:, 1], e_all[:, 0]])
    ev = points[dst] - points[src]
    L3 = np.maximum(np.hypot(ev[:, 0], ev[:, 1]) ** 3, 1e-300)
    ex, ey = ev[:, 0], ev[:, 1]
    qxx = np.zeros(n); qxy = np.zeros(n); qyy = np.zeros(n)
    np.add.at(qxx, src, 4 * ex * ex / L3)
    np.add.at(qxy, src, 4 * ex * ey / L3)
    np.add.at(qyy, src, 4 * ey * ey / L3)
    det = qxx * qyy - qxy * qxy
    # collinear neighbourhoods: ridge-regularize the 2x2 solve
    bad = det <= 1e-12 * np.maximum(qxx * qyy, 1e-300)
    if bad.any():
        bump = 1e-6 * (qxx[bad] + qyy[bad]) + 1e-300
        qxx = qxx.copy(); qyy = qyy.copy()
        qxx[bad] += bump; qyy[bad] += bump
        det = qxx * qyy - qxy * qxy
    df = values[dst] - values[src]
    base = 6.0 * df / L3
    for _ in range(maxiter):
        gdot = grads[dst, 0] * ex + grads[dst, 1] * ey
        coef = base - 2.0 * gdot / L3
        sx = np.zeros(n); sy = np.zeros(n)
        np.add.at(sx, src, coef * ex)
        np.add.at(sy, src, coef * ey)
        gx = (qyy * sx - qxy * sy) / det
        gy = (qxx * sy - qxy * sx) / det
        new = np.column_stack([gx, gy])
        err = np.abs(new - grads).max()
        grads = new
        if err < tol * (1.0 + np.abs(grads).max()):
            break
    return grads


def _control_net(points, values, grads, tris):
    """All 19 Bezier control values per macro-triangle, vectorized.

    Naming c_{abcd}: barycentric exponents of (V1, V2, V3, centroid).
    """
    p1, p2, p3 = points[tris[:, 0]], points[tris[:, 1]], points[tris[:, 2]]
    f1, f2, f3 = values[tris[:, 0]], values[tris[:, 1]], values[tris[:, 2]]
    g1, g2, g3 = grads[tris[:, 0]], grads[tris[:, 1]], grads[tris[:, 2]]
    pc = (p1 + p2 + p3) / 3.0

    def ddot(g, a, b):  # directional derivative of g along (b - a)
        return g[:, 0] * (b[:, 0] - a[:, 0]) + g[:, 1] * (b[:, 1] - a[:, 1])

    c = {}
    c["3000"], c["0300"], c["0030"] = f1, f2, f3
    c["2100"] = f1 + ddot(g1, p1, p2) / 3.0
    c["2010"] = f1 + ddot(g1, p1, p3) / 3.0
    c["1200"] = f2 + ddot(g2, p2, p1) / 3.0
    c["0210"] = f2 + ddot(g2, p2, p3) / 3.0
    c["0120"] = f3 + ddot(g3, p3, p2) / 3.0
    c["1020"] = f3 + ddot(g3, p3, p1) / 3.0
    c["2001"] = (c["3000"] + c["2100"] + c["2010"]) / 3.0
    c["0201"] = (c["0300"] + c["1200"] + c["0210"]) / 3.0
    c["0021"] = (c["0030"] + c["0120"] + c["1020"]) / 3.0

    def b111(pa, pb, fa, fb, ga, gb, ea, eb, ba, bb):
        """Interior point of the micro-triangle on edge (A,B): reduced-HCT
        condition — mid-edge normal derivative = avg of vertex normals.

        ea/eb: edge control points near A/B; ba/bb: ring-1 points on the
        internal edges A→centroid / B→centroid.
        """
        t = pb - pa
        nvec = np.column_stack([-t[:, 1], t[:, 0]])
        # orient toward the centroid
        mid = (pa + pb) / 2.0
        flip = ((pc - mid) * nvec).sum(axis=1) < 0
        nvec[flip] *= -1.0
        nvec /= np.maximum(np.hypot(nvec[:, 0], nvec[:, 1]), 1e-300)[:, None]
        gbar = 0.5 * ((ga + gb) * nvec).sum(axis=1)
        # barycentric displacement of nvec w.r.t. (A, B, centroid)
        ax, ay = pa[:, 0] - pc[:, 0], pa[:, 1] - pc[:, 1]
        bx, by = pb[:, 0] - pc[:, 0], pb[:, 1] - pc[:, 1]
        den = ax * by - bx * ay
        den = np.where(np.abs(den) < 1e-300, np.nan, den)
        du = (nvec[:, 0] * by - bx * nvec[:, 1]) / den
        dv = (ax * nvec[:, 1] - nvec[:, 0] * ay) / den
        dw = -du - dv
        dw = np.where(np.abs(dw) < 1e-300, np.nan, dw)
        return (
            gbar / 3.0
            - 0.25 * (du * fa + dv * ea + dw * ba)
            - 0.25 * (du * eb + dv * fb + dw * bb)
            - 0.5 * (du * ea + dv * eb)
        ) * 2.0 / dw

    c["1101"] = b111(p1, p2, f1, f2, g1, g2, c["2100"], c["1200"], c["2001"], c["0201"])
    c["0111"] = b111(p2, p3, f2, f3, g2, g3, c["0210"], c["0120"], c["0201"], c["0021"])
    c["1011"] = b111(p1, p3, f1, f3, g1, g3, c["2010"], c["1020"], c["2001"], c["0021"])

    c["1002"] = (c["2001"] + c["1101"] + c["1011"]) / 3.0
    c["0102"] = (c["0201"] + c["1101"] + c["0111"]) / 3.0
    c["0012"] = (c["0021"] + c["1011"] + c["0111"]) / 3.0
    c["0003"] = (c["1002"] + c["0102"] + c["0012"]) / 3.0
    return c


# micro-triangle selection: k = argmin(l_k); rows give, per case, the net
# (b300 b030 b003 b210 b120 b201 b021 b102 b012 b111) as c_{abcd} keys.
_MICRO = {
    2: ("3000", "0300", "0003", "2100", "1200", "2001", "0201", "1002", "0102", "1101"),
    0: ("0300", "0030", "0003", "0210", "0120", "0201", "0021", "0102", "0012", "0111"),
    1: ("0030", "3000", "0003", "1020", "2010", "0021", "2001", "0012", "1002", "1011"),
}


def ct_interpolate(
    data_pts: np.ndarray,
    data_vals: np.ndarray,
    query_pts: np.ndarray,
    gradients: Optional[np.ndarray] = None,
) -> np.ndarray:
    """Clough-Tocher interpolation; NaN outside the hull.

    ``gradients`` (n, 2) overrides the global estimation (used by tests to
    check exact quadratic reproduction).
    """
    out = np.full(len(query_pts), np.nan)
    tris = delaunay(data_pts)
    if len(tris) == 0:
        return out
    if gradients is None:
        gradients = estimate_gradients(data_pts, data_vals, tris)
    c = _control_net(data_pts, data_vals, gradients, tris)

    a = data_pts[tris[:, 0]]
    b = data_pts[tris[:, 1]]
    cc = data_pts[tris[:, 2]]
    det = (b[:, 1] - cc[:, 1]) * (a[:, 0] - cc[:, 0]) + (cc[:, 0] - b[:, 0]) * (a[:, 1] - cc[:, 1])
    det = np.where(det == 0, np.nan, det)
    eps = 1e-9
    chunk = max(1, 2_000_000 // max(len(tris), 1))
    for lo in range(0, len(query_pts), chunk):
        q = query_pts[lo : lo + chunk]
        l1 = (
            (b[None, :, 1] - cc[None, :, 1]) * (q[:, None, 0] - cc[None, :, 0])
            + (cc[None, :, 0] - b[None, :, 0]) * (q[:, None, 1] - cc[None, :, 1])
        ) / det[None, :]
        l2 = (
            (cc[None, :, 1] - a[None, :, 1]) * (q[:, None, 0] - cc[None, :, 0])
            + (a[None, :, 0] - cc[None, :, 0]) * (q[:, None, 1] - cc[None, :, 1])
        ) / det[None, :]
        l3 = 1.0 - l1 - l2
        inside = (l1 >= -eps) & (l2 >= -eps) & (l3 >= -eps)
        has = inside.any(axis=1)
        tidx = inside.argmax(axis=1)
        rows = np.nonzero(has)[0]
        if len(rows) == 0:
            continue
        t = tidx[rows]
        lam = np.column_stack([l1[rows, t], l2[rows, t], l3[rows, t]])
        np.clip(lam, 0.0, None, out=lam)
        lam /= lam.sum(axis=1, keepdims=True)
        kmin = lam.argmin(axis=1)
        vals = np.empty(len(rows))
        for k in (0, 1, 2):
            sel = kmin == k
            if not sel.any():
                continue
            ts, ls = t[sel], lam[sel]
            i, j = (k + 1) % 3, (k + 2) % 3
            u = ls[:, i] - ls[:, k]
            v = ls[:, j] - ls[:, k]
            w = 3.0 * ls[:, k]
            net = [c[key][ts] for key in _MICRO[k]]
            b300, b030, b003, b210, b120, b201, b021, b102, b012, bmid = net
            vals[sel] = (
                u**3 * b300 + v**3 * b030 + w**3 * b003
                + 3 * u**2 * v * b210 + 3 * u * v**2 * b120
                + 3 * u**2 * w * b201 + 3 * u * w**2 * b102
                + 3 * v**2 * w * b021 + 3 * v * w**2 * b012
                + 6 * u * v * w * bmid
            )
        out[lo + rows] = vals
    return out


class Cubic(BaseGridder):
    """Distributed Clough-Tocher gridder (verde scipygridder.py:152-186).

    Same tile + halo cogroup strategy as ``Linear``; per-tile NumPy body.
    """

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
    ) -> "Cubic":
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
            raise RuntimeError("Cubic is not fitted.")
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
            nodes[output_col] = ct_interpolate(dp, points["data"].to_numpy("float64"), qp)
            return nodes

        return (
            tiled.groupBy("tile")
            .cogroup(self.points_.groupBy("tile"))
            .applyInPandas(evaluate, schema)
        )

