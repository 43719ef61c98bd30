"""Region masks — distance and convex-hull (verde mask.py:17-219).

``distance_mask``: True where the nearest data point is within *maxdist*
— the k=1 search of the broadcast kNN cell index inside an Arrow UDF
(small data side), or the k=1 specialization of the kNN cell join.

``convexhull_mask``: the hull of N points is tiny however large N is, so
it is computed distributively (per-partition Andrew-monotone-chain hulls
via mapInPandas → hull-of-hulls at the driver) and the membership test is
broadcast back as a **conjunction of half-plane predicates** — pure
Catalyst arithmetic, codegen'd, pushdown-friendly. Boundary points count
as inside, matching ``Delaunay.find_simplex`` (mask.py:212-216).

No scipy/qhull anywhere: the reference standardizes coordinates only for
qhull numerics (mask.py:204-211); half-plane tests don't need it.
"""

from __future__ import annotations

from typing import Iterable, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .neighbors import BROADCAST_THRESHOLD, CellIndex, knn_join

# ---------------------------------------------------------------------------
# convex hull
# ---------------------------------------------------------------------------


def _monotone_chain(points: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain; returns CCW hull vertices (no repeat)."""
    pts = np.unique(points, axis=0)  # sorts lexicographically
    if len(pts) <= 2:
        return pts

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower: list = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list = []
    for p in pts[::-1]:
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return np.array(lower[:-1] + upper[:-1])


def convex_hull(
    df: DataFrame,
    easting: str = "easting",
    northing: str = "northing",
) -> np.ndarray:
    """CCW hull vertices of the points in *df* — distributed hull-of-hulls.

    Each Arrow batch reduces to its own hull (≤ a few dozen points), the
    union collects to the driver, and the final hull runs there. One narrow
    pass over the data, no shuffle.
    """
    import pyspark.sql.types as T

    schema = T.StructType(
        [T.StructField("he", T.DoubleType()), T.StructField("hn", T.DoubleType())]
    )

    def partial_hull(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            pts = np.column_stack(
                [pdf[easting].to_numpy("float64"), pdf[northing].to_numpy("float64")]
            )
            if len(pts) == 0:
                continue
            hull = _monotone_chain(pts)
            yield pd.DataFrame({"he": hull[:, 0], "hn": hull[:, 1]})

    partials = df.select(easting, northing).mapInPandas(partial_hull, schema).toPandas()
    pts = np.column_stack([partials["he"].to_numpy(), partials["hn"].to_numpy()])
    return _monotone_chain(pts)


def inside_hull_expr(
    hull: np.ndarray,
    easting: Column | str = "easting",
    northing: Column | str = "northing",
) -> Column:
    """Boolean Column: point inside (or on) the CCW convex hull.

    For each hull edge (a→b): cross(b−a, p−a) >= 0. A conjunction of pure
    arithmetic predicates — broadcast as literals, whole-stage codegen.
    """
    e = F.col(easting) if isinstance(easting, str) else easting
    n = F.col(northing) if isinstance(northing, str) else northing
    m = len(hull)
    if m == 0:
        return F.lit(False)
    if m == 1:
        return (e == float(hull[0, 0])) & (n == float(hull[0, 1]))
    if m == 2:
        # degenerate segment: on-segment test
        ax, ay = map(float, hull[0])
        bx, by = map(float, hull[1])
        cross = (F.lit(bx - ax)) * (n - F.lit(ay)) - (F.lit(by - ay)) * (e - F.lit(ax))
        within = (
            (e >= F.lit(min(ax, bx))) & (e <= F.lit(max(ax, bx)))
            & (n >= F.lit(min(ay, by))) & (n <= F.lit(max(ay, by)))
        )
        return (cross == 0) & within
    pred = F.lit(True)
    for i in range(m):
        ax, ay = map(float, hull[i])
        bx, by = map(float, hull[(i + 1) % m])
        cross = F.lit(bx - ax) * (n - F.lit(ay)) - F.lit(by - ay) * (e - F.lit(ax))
        pred = pred & (cross >= 0)
    return pred


def convexhull_mask(
    data: DataFrame,
    targets: DataFrame,
    mask_col: str = "in_hull",
    data_easting: str = "easting",
    data_northing: str = "northing",
    easting: str = "easting",
    northing: str = "northing",
    projection=None,
) -> DataFrame:
    """verde ``convexhull_mask`` (mask.py:116-219): True where a target point
    lies inside the convex hull of the data points.

    ``projection`` (verde mask.py:120,146-152): a vectorized
    ``(east, north) -> (east', north')`` callable applied to BOTH the data
    and the target coordinates before the hull test — the same F5 CRS hook
    as ``distance_mask``, so the hull is convex in *projected* space.
    The data side projects inside the distributed hull pass (Arrow UDF);
    the target side projects into temp columns that are dropped after the
    half-plane test.
    """
    if projection is not None:
        from .projections import project_points

        data = project_points(
            data, projection, easting=data_easting, northing=data_northing
        )
        targets_p = project_points(
            targets, projection, easting=easting, northing=northing,
            out_easting="__pe", out_northing="__pn",
        )
        hull = convex_hull(data, data_easting, data_northing)
        return targets_p.withColumn(
            mask_col, inside_hull_expr(hull, "__pe", "__pn")
        ).drop("__pe", "__pn")
    hull = convex_hull(data, data_easting, data_northing)
    return targets.withColumn(mask_col, inside_hull_expr(hull, easting, northing))


# ---------------------------------------------------------------------------
# distance mask
# ---------------------------------------------------------------------------


def distance_mask(
    data: DataFrame | Sequence,
    targets: DataFrame,
    maxdist: float,
    mask_col: str = "in_range",
    data_easting: str = "easting",
    data_northing: str = "northing",
    easting: str = "easting",
    northing: str = "northing",
    broadcast_threshold: int = BROADCAST_THRESHOLD,
    projection=None,
) -> DataFrame:
    """verde ``distance_mask`` (mask.py:17-113): True where the nearest data
    point is within *maxdist* (Euclidean, boundary-inclusive ``<=``).

    ``projection`` (verde mask.py:57-66): an array-in/array-out callable
    ``(east, north) -> (east', north')`` applied to BOTH the data and the
    target coordinates before the distance test — the F5 CRS hook, so
    *maxdist* is measured in projected (Cartesian) units. Data-side
    projection runs driver-side on the (small) broadcast arrays or through
    the Arrow ``project_points`` UDF on the distributed path; it never
    touches per-row Python.

    Small data side (≤ *broadcast_threshold* points, the common decimated
    case) → broadcast a k=1 :class:`~verde_spark.operators.neighbors.CellIndex`
    and test ``distance <= maxdist`` with a vectorized pandas UDF (one
    index search per Arrow batch). Large data side → distributed k=1 cell
    join. Data points with a null or NaN coordinate are left out.
    """
    if not isinstance(data, DataFrame):
        de = np.atleast_1d(np.asarray(data[0], dtype="float64")).ravel()
        dn = np.atleast_1d(np.asarray(data[1], dtype="float64")).ravel()
        if projection is not None:
            de, dn = projection(de, dn)
        return _distance_mask_broadcast(
            targets, de, dn, maxdist, mask_col, easting, northing, projection
        )
    # one limited collect decides the strategy AND fetches the broadcast
    # coords (count + toPandas would scan the data twice)
    pdf = data.select(data_easting, data_northing).limit(broadcast_threshold + 1).toPandas()
    if len(pdf) <= broadcast_threshold:
        de = pdf[data_easting].to_numpy("float64")
        dn = pdf[data_northing].to_numpy("float64")
        if projection is not None:
            de, dn = projection(de, dn)
        return _distance_mask_broadcast(
            targets, de, dn, maxdist, mask_col, easting, northing, projection
        )
    qid = "__qid"
    # target columns move to a private namespace around the join (the
    # KNeighbors.predict pattern): knn_join refuses query frames whose
    # own distance/rank columns its output would overwrite
    safe = {c: f"__q{i}" for i, c in enumerate(targets.columns)}
    targets_id = targets.select(
        *[F.col(c).alias(safe[c]) for c in targets.columns]
    ).withColumn(qid, F.monotonically_increasing_id())
    data_pts = data.select(data_easting, data_northing)
    q_easting, q_northing = safe[easting], safe[northing]
    if projection is not None:
        from .projections import project_points

        data_pts = project_points(
            data_pts, projection, easting=data_easting, northing=data_northing
        )
        targets_id = project_points(
            targets_id, projection,
            easting=safe[easting], northing=safe[northing],
            out_easting="__pe", out_northing="__pn",
        )
        q_easting, q_northing = "__pe", "__pn"
    joined = knn_join(
        data_pts,
        targets_id,
        k=1,
        data_easting=data_easting,
        data_northing=data_northing,
        query_easting=q_easting,
        query_northing=q_northing,
        query_id=qid,
        broadcast_threshold=0,
    )
    aggs = [F.first(F.col(safe[c])).alias(c) for c in targets.columns] + [
        (F.min("distance") <= F.lit(float(maxdist))).alias(mask_col)
    ]
    return joined.groupBy(qid).agg(*aggs).drop(qid)


def _distance_mask_broadcast(
    targets: DataFrame,
    data_east: np.ndarray,
    data_north: np.ndarray,
    maxdist: float,
    mask_col: str,
    easting: str,
    northing: str,
    projection=None,
) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    index = targets.sparkSession.sparkContext.broadcast(CellIndex(data_east, data_north))
    maxd = float(maxdist)

    @pandas_udf("boolean")
    def near(e: pd.Series, n: pd.Series) -> pd.Series:
        qe = e.to_numpy("float64")
        qn = n.to_numpy("float64")
        if projection is not None:
            qe, qn = projection(qe, qn)
        return pd.Series(index.value.nearest_distance(qe, qn) <= maxd)

    return targets.withColumn(mask_col, near(F.col(easting), F.col(northing)))
