"""Small NumPy/pandas oracles the benchmark checks the engine's outputs with.

Each oracle recomputes a sample of an output on the driver from the raw
input, without Spark: block means by pandas groupby, cell counts by
integer arithmetic, brute-force k nearest neighbours, a direct
Green's-matrix solve of spline tiles, even-odd point-in-polygon and mask
counts.  Grid geometry (block edges and steps) is read from the
engine's ``BlockGrid`` parameters; every reduction is recomputed here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

GEO_PATTERN = r"geo:(-?\d+\.\d+),(-?\d+\.\d+)"  # geo:<lat>,<lon>
TWO_PI_OVER = 2 * 3.141592653589793 / 2.5


def field(east, north):
    """The synthetic data field every workload grids (mirrors the Spark
    column expression the workloads build)."""
    return 1000.0 * np.sin(TWO_PI_OVER * east) * np.cos(TWO_PI_OVER * north)


def read_points(parquet_dir: str) -> pd.DataFrame:
    """(easting, northing, scalars) parsed from the page table's text."""
    text = pd.read_parquet(parquet_dir, columns=["text"])["text"]
    latlon = text.str.extract(GEO_PATTERN).astype("float64")
    east, north = latlon[1].to_numpy(), latlon[0].to_numpy()
    return pd.DataFrame({"easting": east, "northing": north, "scalars": field(east, north)})


def axis_index(coord, axis) -> np.ndarray:
    """Clamped block index of *coord* along a ``BlockGrid`` axis."""
    edge = axis.start - axis.step / 2
    raw = np.floor((np.asarray(coord) - edge) / axis.step).astype("int64")
    return np.clip(raw, 0, axis.size - 1)


def block_labels(east, north, grid) -> np.ndarray:
    return axis_index(north, grid.north) * grid.n_east + axis_index(east, grid.east)


def block_mean(pts: pd.DataFrame, grid, tol: float = 1e-15) -> pd.DataFrame:
    """Unweighted block mean with verde's variance-derived weights."""
    g = pts.assign(block=block_labels(pts["easting"], pts["northing"], grid)).groupby("block")
    out = g[["easting", "northing", "scalars"]].mean()
    var = g["scalars"].var(ddof=1).fillna(0.0).to_numpy()
    positive = var > tol
    minvar = var[positive].min() if positive.any() else np.nan
    out["weight_scalars"] = np.where(positive, minvar / np.where(positive, var, 1.0), 1.0)
    return out


def cell_ids(east, north, res: int) -> np.ndarray:
    """Quadtree cell id: resolution, row and column packed in one int64."""
    n = 1 << res
    ix = np.clip(np.floor((np.asarray(east) + 180.0) / 360.0 * n), 0, n - 1).astype("int64")
    iy = np.clip(np.floor((np.asarray(north) + 90.0) / 180.0 * n), 0, n - 1).astype("int64")
    return (np.int64(res) << 58) | (iy << 29) | ix


# -- spline ------------------------------------------------------------------


def greens(de, dn) -> np.ndarray:
    """Biharmonic Green's function r^2 (ln r - 1), 0 at r = 0."""
    r = np.sqrt(de * de + dn * dn)
    safe = np.where(r > 0, r, 1.0)
    return np.where(r > 0, r * r * (np.log(safe) - 1.0), 0.0)


def tile_points(bm: pd.DataFrame, tiles, tile: int, pad: float) -> pd.DataFrame:
    """Block means whose padded reach overlaps *tile* (the halo rule)."""
    e, n = bm["easting"].to_numpy(), bm["northing"].to_numpy()
    tx, ty = tile % tiles.n_east, tile // tiles.n_east
    inside = (
        (axis_index(e - pad, tiles.east) <= tx) & (tx <= axis_index(e + pad, tiles.east))
        & (axis_index(n - pad, tiles.north) <= ty) & (ty <= axis_index(n + pad, tiles.north))
    )
    return bm[inside]


def spline_tile(points: pd.DataFrame, damping: float):
    """Forces of one tile: column-scaled, weighted, damped normal equations."""
    e, n = points["easting"].to_numpy(), points["northing"].to_numpy()
    jac = greens(e[:, None] - e, n[:, None] - n)
    scale = jac.std(axis=0)
    scale[scale < 10 * np.finfo("float64").eps] = 1.0
    sw = np.sqrt(points["weight_scalars"].to_numpy())
    a = jac / scale * sw[:, None]
    b = points["scalars"].to_numpy() * sw
    p = np.linalg.solve(a.T @ a + damping * np.eye(a.shape[1]), a.T @ b)
    return e, n, p / scale


def spline_eval(forces, east, north) -> np.ndarray:
    fe, fn, f = forces
    return greens(np.asarray(east)[:, None] - fe, np.asarray(north)[:, None] - fn) @ f


# -- neighbours, masks, polygons ---------------------------------------------


def knn_mean(data_e, data_n, data_v, qe, qn, k: int) -> np.ndarray:
    """Brute-force mean of the k nearest data values per query."""
    d2 = (np.asarray(qe)[:, None] - data_e) ** 2 + (np.asarray(qn)[:, None] - data_n) ** 2
    nearest = np.argpartition(d2, k - 1, axis=1)[:, :k]
    return data_v[nearest].mean(axis=1)


def distance_mask_count(data_e, data_n, qe, qn, maxdist: float) -> int:
    count = 0
    for lo in range(0, len(qe), 2000):
        d2 = (qe[lo : lo + 2000, None] - data_e) ** 2 + (qn[lo : lo + 2000, None] - data_n) ** 2
        count += int((np.sqrt(d2.min(axis=1)) <= maxdist).sum())
    return count


def convex_hull_count(data_e, data_n, qe, qn) -> int:
    """Targets inside the convex hull (monotone chain, then half-planes)."""
    pts = sorted(set(zip(data_e.tolist(), data_n.tolist())))

    def half(seq):
        out = []
        for p in seq:
            while len(out) >= 2 and (
                (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
            ) <= 0:
                out.pop()
            out.append(p)
        return out

    hull = np.array(half(pts)[:-1] + half(pts[::-1])[:-1])
    a, b = hull, np.roll(hull, -1, axis=0)
    cross = (b[:, 0] - a[:, 0]) * (qn[:, None] - a[:, 1]) - (b[:, 1] - a[:, 1]) * (qe[:, None] - a[:, 0])
    return int((cross >= 0).all(axis=1).sum())


def heptagons(region, count_per_axis: int, seed: int):
    """Fixed, seed-jittered heptagons on a lattice over *region*."""
    rng = np.random.RandomState(seed)
    w, e, s, n = region
    dx, dy = (e - w) / count_per_axis, (n - s) / count_per_axis
    polys = []
    for j in range(count_per_axis):
        for i in range(count_per_axis):
            cx, cy = w + (i + 0.5) * dx, s + (j + 0.5) * dy
            angles = np.sort(rng.uniform(0, 2 * np.pi, 7))
            radii = rng.uniform(0.25, 0.45, 7)
            polys.append(
                [(float(cx + r * dx * np.cos(t)), float(cy + r * dy * np.sin(t)))
                 for r, t in zip(radii, angles)]
            )
    return polys


def inside_polygon(x, y, verts) -> np.ndarray:
    """Even-odd ray crossing (rightward ray), the usual convention."""
    inside = np.zeros(len(x), dtype=bool)
    for (ax, ay), (bx, by) in zip(verts, verts[1:] + verts[:1]):
        straddles = (ay > y) != (by > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xcross = ax + (bx - ax) * (y - ay) / (by - ay)
        inside ^= straddles & (x < xcross)
    return inside


def partition_by_sum(counts, parts: int) -> np.ndarray:
    """Split points giving contiguous chunks of ~equal sum."""
    cumulative = np.cumsum(counts)
    ideal = np.arange(1, parts) * (cumulative[-1] // parts)
    return np.searchsorted(cumulative, ideal, side="right")
