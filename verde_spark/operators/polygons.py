"""Point-in-polygon predicates and the point↔polygon spatial join.

The north rule names "point-in-polygon" as a first-class capability next
to kNN and the cell index.  Verde itself only has the convex special case
(``convexhull_mask``, mask.py:116-219); general polygons are designed
fresh, Spark-first.

The membership test is the even-odd ray-crossing rule, in two forms that
evaluate the same formula in the same operation order:

* ``point_in_polygon_expr``: a **pure Catalyst expression**.  Polygon
  vertices live in an ``array<struct<x,y>>`` column, edges come from
  ``arrays_zip`` with the rotated array, and the crossing count is
  ``F.aggregate`` over the edge array.  Spark runs that fold interpreted,
  once per row (``ArrayAggregate`` is ``CodegenFallback``), so it suits
  one fixed polygon or a small table, not a join's candidate stream.
* :class:`PolygonIndex`: the polygon table on the driver, edges in CSR
  form and bounding boxes bucketed by square cell, tested in NumPy one
  Arrow batch at a time.

``polygon_join`` picks its plan by the size of the polygon side:

* **Broadcast kernel** — at most :data:`BROADCAST_THRESHOLD` polygons
  holding at most :data:`BROADCAST_VERTICES` vertices (the vertex counts
  of a limited head decide, then the side is collected as Arrow).
  The driver builds a :class:`PolygonIndex` and broadcasts it; one
  scalar Arrow UDF over ``(easting, northing)`` returns each point's
  containing-polygon list, so only the two coordinates cross into Python
  and no row is interpreted.  ``inner`` explodes the list and
  broadcast-hash-joins a driver-built polygon frame; ``semi``/``anti``
  filter on the list's size.
* **Cell-cover join** — larger polygon sides.  Cover each polygon's bbox
  with coarse square cells (integer floor-division ids, the same
  arithmetic family as the block/tile keys), explode the cover, equi-join
  on the point's cell id, then the exact Catalyst test.  This is the
  100 TB path: an AQE/skew-manageable shuffled **equi-join** whose
  candidate set is proportional to polygon area, never a cartesian.

Boundary semantics: even-odd with the half-open rule — a point exactly on
a horizontal-upper edge counts per the ``(y1>y) != (y2>y)`` strictness;
vertices are counted once.  This matches the classic PNPOLY contract.
Points with a null or NaN coordinate are inside no polygon.
"""

from __future__ import annotations

from typing import Optional, Sequence, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geometry import _sql_double, _sql_name
from .neighbors import _chunks, _expand

#: Most rows and vertices of a polygon side that ``polygon_join`` collects
#: and broadcasts; larger sides take the cell-cover join.  Measured with
#: ``tools/polygon_crossover.py`` (100k points, 4 cores): the kernel used
#: at most about two thirds of the cell join's CPU time at every size, and
#: less wall time up to 50k polygons, the same at 100k and more at 200k,
#: where its serial driver work dominates.  Its lead grows with the
#: vertex count (up to 5.1M measured); the vertex bound holds the edge
#: arrays of the driver's index, and of each worker's copy, to 64 MB.
BROADCAST_THRESHOLD = 100_000
BROADCAST_VERTICES = 2_000_000

_VERTICES = pa.list_(pa.struct([("x", pa.float64()), ("y", pa.float64())]))

# cells the broadcast index covers the polygon bboxes with, at most, per
# covered polygon; a quarter-width cell covers a median bbox with 25-36
_COVER = 64
# candidate cell sides (cell_spacing doubled 0..63 times) one aggregate
# of _cell_cover counts the cover at
_DOUBLINGS = 64


def polygon_literal(vertices: Sequence[Tuple[float, float]]) -> Column:
    """A driver-side vertex list as an ``array<struct<x,y>>`` literal."""
    return F.array(
        *[
            F.struct(F.lit(float(x)).alias("x"), F.lit(float(y)).alias("y"))
            for x, y in vertices
        ]
    )


def _edges(verts: Column) -> Column:
    """array of (a, b) vertex pairs for each polygon edge (closing wrap).

    Degenerate polygons (< 2 vertices — e.g. an empty vertex array from
    upstream geometry cleaning) yield an EMPTY edge list: the membership
    fold then evaluates to not-inside instead of ``slice`` crashing the
    whole join on a negative length."""
    n = F.size(verts)
    rotated = F.concat(F.slice(verts, 2, n - 1), F.slice(verts, 1, 1))
    empty = F.array().cast(
        "array<struct<a:struct<x:double,y:double>,b:struct<x:double,y:double>>>"
    )
    return F.when(
        n >= 2, F.arrays_zip(verts.alias("a"), rotated.alias("b"))
    ).otherwise(empty)


def point_in_polygon_expr(x: Column, y: Column, verts: Column) -> Column:
    """Even-odd ray-crossing membership as a boolean Column.

    ``aggregate`` accumulates, per edge (a→b), whether a rightward ray
    from (x, y) crosses it:
      (a.y > y) != (b.y > y)  AND  x < a.x + (b.x−a.x)·(y−a.y)/(b.y−a.y)
    Odd total ⇒ inside.
    """
    def cross(acc, e):
        ax, ay = e["a"]["x"], e["a"]["y"]
        bx, by = e["b"]["x"], e["b"]["y"]
        straddles = (ay > y) != (by > y)
        xcross = ax + (bx - ax) * (y - ay) / (by - ay)
        return acc + F.when(straddles & (x < xcross), 1).otherwise(0)

    return F.aggregate(_edges(verts), F.lit(0), cross) % 2 == 1


def point_in_polygon(
    df: DataFrame,
    vertices: Sequence[Tuple[float, float]],
    easting: str = "easting",
    northing: str = "northing",
    col_name: str = "inside",
) -> DataFrame:
    """Add a boolean membership column for one fixed polygon."""
    return df.withColumn(
        col_name,
        point_in_polygon_expr(F.col(easting), F.col(northing), polygon_literal(vertices)),
    )


def _poly_bbox(polys: DataFrame, verts_col: str) -> DataFrame:
    v = F.col(verts_col)
    return polys.withColumn("__xmin", F.array_min(v.getField("x"))) \
        .withColumn("__xmax", F.array_max(v.getField("x"))) \
        .withColumn("__ymin", F.array_min(v.getField("y"))) \
        .withColumn("__ymax", F.array_max(v.getField("y")))


def _default_spacing(widths) -> float:
    """Cell side for polygons of bbox *widths* (None or NaN for no bbox): a
    quarter of the median width, floored at 1e-12; 1.0 with no widths."""
    w = np.asarray(widths, "float64")
    w = w[np.isfinite(w)]
    return max(float(np.median(w)) / 4.0, 1e-12) if len(w) else 1.0


def _cell_cover(
    polys: DataFrame, verts_col: str, cell_spacing: Optional[float]
) -> Tuple[DataFrame, float]:
    """Explode each ``_poly_bbox`` row into the square cells ``(__cx,
    __cy)`` its bbox touches, and return the cover with the cell side.

    The side is bounded as ``PolygonIndex`` bounds its own: ``cell_spacing``
    (default: the median bbox width / 4 over the polygons with an edge and
    a finite bbox), doubled until those polygons cover at most ``_COVER``
    cells each.  One aggregate action decides it: the cover count at each
    of ``_DOUBLINGS`` candidate sides, and the largest bbox side for the
    rare table that needs more doublings.
    """
    covered = polys.where(
        f"size({_sql_name(verts_col)}) >= 2 AND "
        "abs(__xmin) + abs(__xmax) + abs(__ymin) + abs(__ymax) < double('inf')"
    )
    if cell_spacing is None:
        side = covered.selectExpr(
            "coalesce(greatest(percentile(__xmax - __xmin, 0.5) / 4, 1e-12), 1.0) AS __s0"
        )
        covered = covered.crossJoin(F.broadcast(side))
    else:
        covered = covered.selectExpr("*", f"{_sql_double(cell_spacing)} AS __s0")

    def cells(lo, hi, k):
        s = f"(__s0 * power(2, {k}))"
        return f"(CAST(floor({hi} / {s}) AS DOUBLE) - CAST(floor({lo} / {s}) AS DOUBLE) + 1)"

    counts = [
        f"sum({cells('__xmin', '__xmax', k)} * {cells('__ymin', '__ymax', k)}) AS c{k}"
        for k in range(_DOUBLINGS)
    ]
    row = covered.selectExpr(
        "count(1) AS n", "first(__s0) AS s0",
        "max(greatest(__xmax - __xmin, __ymax - __ymin)) AS extent", *counts,
    ).first()
    if row["n"] == 0:
        s = 1.0 if cell_spacing is None else float(cell_spacing)
    else:
        fits = [k for k in range(_DOUBLINGS) if row[f"c{k}"] <= _COVER * row["n"]]
        s = row["s0"] * 2.0 ** (fits[0] if fits else _DOUBLINGS)
        while not fits and s < row["extent"]:  # then each bbox touches ≤ 2 x 2 cells
            s *= 2

    def explode(lo, hi):
        return F.explode(F.sequence(
            F.floor(F.col(lo) / s).cast("long"), F.floor(F.col(hi) / s).cast("long")
        ))

    return polys.withColumn("__cx", explode("__xmin", "__xmax")).withColumn(
        "__cy", explode("__ymin", "__ymax")
    ), s


class PolygonIndex:
    """A polygon table on the driver: the broadcast side of ``polygon_join``.

    ``vertices`` is a pyarrow ``list<struct<x, y>>`` array, one vertex
    list per polygon, or a sequence of ``(x, y)`` lists that converts to
    one (null lists, vertices and coordinates allowed; a null vertex or
    coordinate reads as NaN).  Edges are kept in CSR form
    (``edge_start`` offsets into the ``ax, ay → bx, by`` arrays) with the
    closing wrap of ``_edges``; a polygon with fewer than 2 vertices has no
    edge.  Square cells cover every bbox, stored as a cell → polygon CSR
    over the sorted cell keys.  The cell side is ``cell_spacing`` (default:
    the median bbox width / 4 over the polygons with an edge), doubled
    until the cover holds at most ``_COVER`` cells per polygon.
    """

    def __init__(self, vertices, cell_spacing: Optional[float] = None):
        if isinstance(vertices, pa.ChunkedArray):
            vertices = vertices.combine_chunks()
        elif not isinstance(vertices, pa.Array):
            vertices = pa.array(vertices, _VERTICES)
        count = pc.list_value_length(vertices).fill_null(0).to_numpy().astype("int64")
        flat = vertices.flatten()
        xy = np.column_stack([
            pc.struct_field(flat, c).cast(pa.float64()).to_numpy(zero_copy_only=False) for c in "xy"
        ])
        first = np.cumsum(count) - count
        # bbox over the non-null vertices, as array_min/array_max
        nonempty = count > 0
        box = np.full((4, len(count)), np.nan)
        for row, reduce in enumerate([np.fmin, np.fmax] * 2 if nonempty.any() else []):
            box[row, nonempty] = reduce.reduceat(xy[:, row // 2], first[nonempty])
        self.xmin, self.xmax, self.ymin, self.ymax = box

        edges = np.where(count >= 2, count, 0)
        self.edge_start = np.concatenate([[0], np.cumsum(edges)])
        poly, a = _expand(first, first + edges)
        b = a + 1
        wrap = b == first[poly] + count[poly]
        b[wrap] = first[poly[wrap]]
        self.ax, self.ay = xy[a, 0], xy[a, 1]
        self.bx, self.by = xy[b, 0], xy[b, 1]

        covered = np.flatnonzero((edges > 0) & np.isfinite(box).all(axis=0))
        if cell_spacing is None:
            cell_spacing = _default_spacing(self.xmax[covered] - self.xmin[covered])
        self.cell = float(cell_spacing)
        # with nothing to cover the origin is inf and the grid empty, so
        # every point falls outside it
        self.west = float(self.xmin[covered].min(initial=np.inf))
        self.south = float(self.ymin[covered].min(initial=np.inf))
        lo_hi = [self.xmin, self.xmax, self.ymin, self.ymax]
        origin = [self.west, self.west, self.south, self.south]
        while True:
            cx0, cx1, cy0, cy1 = (self._cells(c[covered], o) for c, o in zip(lo_hi, origin))
            cover = ((cx1 - cx0 + 1) * (cy1 - cy0 + 1)).sum()
            extent = (cx1.max(initial=-1) + 1) * (cy1.max(initial=-1) + 1)
            # one large polygon among many small ones, or a zero median
            # width, would make the cover unbounded; a coarser cell only
            # adds candidates, which the bbox filter drops
            if not (cover > _COVER * len(covered) or extent > 2.0**62):
                break
            self.cell *= 2
        cx0, cx1, cy0, cy1 = (c.astype("int64") for c in (cx0, cx1, cy0, cy1))
        self.nx, self.ny = int(cx1.max(initial=-1)) + 1, int(cy1.max(initial=-1)) + 1
        row, cy = _expand(cy0, cy1 + 1)
        cell, cx = _expand(cx0[row], cx1[row] + 1)
        key = cy[cell] * self.nx + cx
        order = np.argsort(key, kind="stable")
        key = key[order]
        cut = np.flatnonzero(np.diff(key, prepend=-1))
        self.keys, self.start = key[cut], np.append(cut, len(key))
        self.cell_poly = covered[row[cell]][order]

    def _cells(self, coord: np.ndarray, origin: float) -> np.ndarray:
        """Float cell index: NaN for NaN, unbounded for far points."""
        with np.errstate(invalid="ignore"):
            return np.floor((coord - origin) / self.cell)

    def contains(self, x, y) -> Tuple[np.ndarray, np.ndarray]:
        """``(offsets, polygons)`` of each point's containing-polygon list,
        in point order, polygons ascending: point i is inside
        ``polygons[offsets[i]:offsets[i + 1]]``.

        A point's cell gives its candidate polygons, its closed bbox keeps
        some, and the crossing test runs over every (candidate, edge) pair
        with ``point_in_polygon_expr``'s operation order, so both agree
        bit for bit, points on edges and vertices included.  Points with a
        non-finite coordinate fall in no cell.
        """
        x = np.asarray(x, "float64")
        y = np.asarray(y, "float64")
        cx, cy = self._cells(x, self.west), self._cells(y, self.south)
        point = np.flatnonzero((cx >= 0) & (cx < self.nx) & (cy >= 0) & (cy < self.ny))
        key = cy[point].astype("int64") * self.nx + cx[point].astype("int64")
        slot = np.searchsorted(self.keys, key)
        hit = self.keys[np.minimum(slot, len(self.keys) - 1)] == key
        point, slot = point[hit], slot[hit]
        lo, hi = self.start[slot], self.start[slot + 1]
        found = []
        for a, b in _chunks(hi - lo):
            seg, pos = _expand(lo[a:b], hi[a:b])
            pt, poly = point[a:b][seg], self.cell_poly[pos]
            px, py = x[pt], y[pt]
            near = (
                (px >= self.xmin[poly]) & (px <= self.xmax[poly])
                & (py >= self.ymin[poly]) & (py <= self.ymax[poly])
            )
            pt, poly = pt[near], poly[near]
            e0, e1 = self.edge_start[poly], self.edge_start[poly + 1]
            for c, d in _chunks(e1 - e0):
                pair, edge = _expand(e0[c:d], e1[c:d])
                ex, ey = x[pt[c:d]][pair], y[pt[c:d]][pair]
                ax, ay, bx, by = self.ax[edge], self.ay[edge], self.bx[edge], self.by[edge]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cross = ((ay > ey) != (by > ey)) & (ex < ax + (bx - ax) * (ey - ay) / (by - ay))
                inside = np.bincount(pair[cross], minlength=d - c) % 2 == 1
                found.append((pt[c:d][inside], poly[c:d][inside]))
        pt, poly = (np.concatenate(f) for f in zip(*found))
        offsets = np.zeros(len(x) + 1, "int64")
        np.cumsum(np.bincount(pt, minlength=len(x)), out=offsets[1:])
        return offsets, poly


def _contains_udf(index):
    """Scalar Arrow UDF: each point's containing-polygon positions in the
    broadcast :class:`PolygonIndex` *index*."""

    @F.arrow_udf("array<int>")
    def contains(x: pa.Array, y: pa.Array) -> pa.Array:
        offsets, poly = index.value.contains(
            x.to_numpy(zero_copy_only=False), y.to_numpy(zero_copy_only=False)
        )
        return pa.ListArray.from_arrays(
            pa.array(offsets, pa.int32()), pa.array(poly, pa.int32())
        )

    return contains


def _small_side(polygons: DataFrame, verts_col: str) -> Optional[pa.Table]:
    """The polygon table collected as Arrow when it is small enough to
    broadcast, else None.  The vertex counts of a limited head decide
    first, so a large side is never collected."""
    if BROADCAST_THRESHOLD <= 0:
        return None
    head = polygons.select(F.size(verts_col)).limit(BROADCAST_THRESHOLD + 1)
    sizes = head.toArrow().column(0)
    # size() of a null array is -1, or null under ANSI
    verts = pc.sum(pc.max_element_wise(sizes, 0)).as_py() or 0
    if len(sizes) > BROADCAST_THRESHOLD or verts > BROADCAST_VERTICES:
        return None
    return polygons.toArrow()


def _broadcast_join(points, polygons, table, verts_col, x, y, cell_spacing, how, pid):
    """``polygon_join`` against the collected polygon *table*."""
    spark = points.sparkSession
    index = PolygonIndex(table.column(verts_col), cell_spacing)
    hits = _contains_udf(spark.sparkContext.broadcast(index))(x.cast("double"), y.cast("double"))
    if how == "anti":
        return points.filter(F.size(hits) == 0)
    if how == "semi":
        return points.filter(F.size(hits) > 0).dropDuplicates([pid])
    schema = T.StructType(polygons.schema.fields + [T.StructField("__pi", T.IntegerType(), False)])
    positions = pa.array(np.arange(table.num_rows, dtype="int32"))
    frame = spark.createDataFrame(table.append_column("__pi", positions), schema)
    pairs = points.select("*", F.explode(hits).alias("__pi"))
    return pairs.join(F.broadcast(frame), "__pi").drop("__pi")


def polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    verts_col: str = "vertices",
    easting: str = "easting",
    northing: str = "northing",
    method: str = "cells",
    cell_spacing: Optional[float] = None,
    how: str = "inner",
    point_id: Optional[str] = None,
) -> DataFrame:
    """Join points to the polygons that contain them.

    ``polygons`` must carry ``verts_col: array<struct<x,y>>`` plus any id
    columns.  ``how``:
      - ``"inner"`` (default): one row per (point, containing polygon),
        the point columns then the polygon columns;
      - ``"semi"``: the point rows inside at least one polygon;
      - ``"anti"``: the point rows outside every polygon.

    ``point_id``: a unique point id column used as the semi dedup key (and
    the cell join's anti key).  When absent one is synthesized as
    ``xxhash64`` of the full row, so the shuffle key is a single long
    instead of every point column (with wide payload tables the full-width
    key was the plan's dominant cost — VERDICT r2); fully identical rows
    collapse to one in semi mode exactly as the previous all-column
    ``dropDuplicates`` did, and a 64-bit collision (≈ birthday at ~2^32
    distinct rows) can misclassify one point — pass a real id column
    where that matters.

    The plan is picked by size: a polygon side of at most
    :data:`BROADCAST_THRESHOLD` rows and :data:`BROADCAST_VERTICES`
    vertices takes the broadcast kernel, a larger one covers each polygon
    bbox with square cells of ``cell_spacing`` (default: median bbox
    width / 4) and equi-joins on the point's cell id.  Both plans return
    the same rows.  ``method`` (``"cells"`` or ``"bbox"``) is accepted for
    compatibility and selects nothing.
    """
    x, y = F.col(easting), F.col(northing)
    if how not in ("inner", "semi", "anti"):
        raise ValueError(f"unknown how: {how!r}")
    if method not in ("cells", "bbox"):
        raise ValueError(f"unknown method: {method!r}")
    pid = point_id
    if how != "inner" and pid is None:
        pid = "__pid"
        points = points.withColumn(pid, F.xxhash64(*points.columns))
    table = _small_side(polygons, verts_col)
    if table is not None:
        out = _broadcast_join(points, polygons, table, verts_col, x, y, cell_spacing, how, pid)
        return out.drop("__pid") if pid != point_id else out

    cover, s = _cell_cover(_poly_bbox(polygons, verts_col), verts_col, cell_spacing)
    pts = points.withColumn("__cx", F.floor(x / s).cast("long")).withColumn(
        "__cy", F.floor(y / s).cast("long")
    )
    joined = pts.join(cover, ["__cx", "__cy"], "inner").drop("__cx", "__cy")
    exact = point_in_polygon_expr(x, y, F.col(verts_col))
    pairs = joined.filter(exact).drop("__xmin", "__xmax", "__ymin", "__ymax")
    if how == "inner":
        return pairs
    # single-long dedup/anti key: the distinct-id table is narrow however
    # wide the point payload is, and the final join carries the payload
    # through untouched
    inside_ids = pairs.select(pid).dropDuplicates()
    if how == "semi":
        # dropDuplicates on the id alone keeps semi output row-distinct
        # (the previous all-column dropDuplicates contract) at a narrow key
        out = points.join(inside_ids, on=pid, how="left_semi").dropDuplicates([pid])
    else:
        out = points.join(inside_ids, on=pid, how="left_anti")
    return out.drop("__pid") if pid != point_id else out


def zonal_stats(
    nodes: DataFrame,
    polygons: DataFrame,
    value_col: str,
    verts_col: str = "vertices",
    easting: str = "easting",
    northing: str = "northing",
    stats: Sequence[str] = ("count", "mean", "min", "max"),
    method: str = "cells",
) -> DataFrame:
    """Raster→vector zonal statistics: aggregate a grid-node (or point)
    table per containing polygon.

    Composition of ``polygon_join`` (the broadcast kernel for a small
    polygon side, the cell-cover equi-join for a large one) with algebraic
    aggregates — map-side combinable, AQE-skew-splittable; the classic
    raster↔vector operator the north rule names.  ``stats`` ⊆
    {count, mean, min, max, sum, stddev}.
    """
    fns = {
        "count": lambda c: F.count(c),
        "mean": lambda c: F.avg(c),
        "min": lambda c: F.min(c),
        "max": lambda c: F.max(c),
        "sum": lambda c: F.sum(c),
        "stddev": lambda c: F.stddev_samp(c),
    }
    unknown = set(stats) - set(fns)
    if unknown:
        raise ValueError(f"unknown stats: {sorted(unknown)}")
    keys = [c for c in polygons.columns if c != verts_col]
    if not keys:
        # groupBy() with zero keys would silently collapse every polygon
        # into one global aggregate row
        raise ValueError(
            "zonal_stats needs at least one polygon id column besides "
            f"{verts_col!r}; add one (e.g. monotonically_increasing_id) first"
        )
    pairs = polygon_join(
        nodes, polygons, verts_col=verts_col, easting=easting,
        northing=northing, method=method, how="inner",
    )
    aggs = [fns[s](F.col(value_col)).alias(f"{s}_{value_col}") for s in stats]
    return pairs.groupBy(*keys).agg(*aggs)


def rasterize(
    polygons: DataFrame,
    region: Sequence[float],
    shape=None,
    spacing=None,
    value_col: Optional[str] = None,
    fill: Optional[float] = None,
    agg: str = "max",
    verts_col: str = "vertices",
    method: str = "broadcast",
    cell_spacing: Optional[float] = None,
    value_name: str = "value",
    max_broadcast_polygons: int = 1024,
) -> DataFrame:
    """Vector→raster: burn polygon values onto a regular grid.

    The inverse of :func:`zonal_stats` and the remaining corner of the
    north rule's "raster↔vector" pair (raster→vector = ``grid_to_table``
    / ``zonal_stats``; vector→raster = this).  Returns the node table
    ``(iy, ix, northing, easting, <value_name>)`` where each node gets
    ``agg`` of ``value_col`` over every polygon containing it (``1`` per
    polygon when ``value_col`` is None) and ``fill`` (default null) when
    no polygon contains it.  ``agg`` ∈ {max, min, sum, count}; max/min —
    the usual burn-priority rules — are order-independent, so the output
    is deterministic under any physical plan.

    Two physical strategies, chosen like ``polygon_join``'s:

    - ``method="broadcast"`` (default; requires ≤ *max_broadcast_polygons*
      rows): collect the polygon table to the driver and evaluate
      membership as ONE Catalyst projection over a polygon-array literal —
      **zero joins, zero shuffles**; the whole raster materializes at
      scan speed however many nodes the grid has.  This is the plan you
      want at 100 TB node counts with a broadcastable polygon set.
    - ``method="cells"``: the many-polygons path — cover each polygon
      bbox with square cells (``cell_spacing``, default: median bbox
      width / 4), explode the cover, LEFT equi-join nodes on their cell
      id, exact-test, and aggregate per node.  One shuffled equi-join +
      one map-side-combined aggregation; candidate count tracks polygon
      area, never the cross product.
    """
    aggs_proj = {
        "max": lambda arr: F.array_max(arr),
        "min": lambda arr: F.array_min(arr),
        "sum": lambda arr: F.aggregate(
            F.filter(arr, lambda v: v.isNotNull()),
            F.lit(None).cast("double"),
            lambda acc, v: F.coalesce(acc + v, v),
        ),
        "count": lambda arr: F.when(
            F.size(F.filter(arr, lambda v: v.isNotNull())) > 0,
            F.size(F.filter(arr, lambda v: v.isNotNull())).cast("double"),
        ),
    }
    aggs_grp = {
        "max": F.max,
        "min": F.min,
        "sum": F.sum,
        "count": lambda c: F.when(F.count(c) > 0, F.count(c).cast("double")),
    }
    if agg not in aggs_proj:
        raise ValueError(f"agg must be one of {sorted(aggs_proj)}, got {agg!r}")

    spark = polygons.sparkSession
    from ..coordinates import grid_coordinates

    nodes = grid_coordinates(spark, region, shape=shape, spacing=spacing)
    x, y = F.col("easting"), F.col("northing")
    fill_lit = F.lit(None if fill is None else float(fill)).cast("double")
    vcol = F.col(value_col).cast("double") if value_col else F.lit(1.0)

    if method == "broadcast":
        rows = polygons.select(
            F.col(verts_col).alias("v"), vcol.alias("val")
        ).collect()
        # NULL burn values can't burn anything: drop those polygons, same
        # as the cells path where SQL aggregates ignore NULL __val (and a
        # None in the sort key / F.lit(float(...)) below would crash)
        rows = [r for r in rows if r["val"] is not None]
        if len(rows) > max_broadcast_polygons:
            raise ValueError(
                f"{len(rows)} polygons > max_broadcast_polygons="
                f"{max_broadcast_polygons}; use method='cells'"
            )
        # deterministic expression order (collect order is plan-dependent)
        rows = sorted(rows, key=lambda r: (r["val"], str(r["v"])))
        per_poly = [
            F.when(
                point_in_polygon_expr(
                    x, y, polygon_literal([(p["x"], p["y"]) for p in r["v"]])
                ),
                F.lit(float(r["val"])),
            )
            for r in rows
        ]
        arr = F.array(*per_poly) if per_poly else F.array().cast("array<double>")
        burned = F.coalesce(aggs_proj[agg](arr), fill_lit)
        return nodes.select(
            "iy", "ix", "northing", "easting", burned.alias(value_name)
        )

    if method != "cells":
        raise ValueError(f"unknown method: {method!r}")

    polys = _poly_bbox(polygons.select(F.col(verts_col), vcol.alias("__val")), verts_col)
    cover, s = _cell_cover(polys, verts_col, cell_spacing)
    pts = nodes.withColumn("__cx", F.floor(x / s).cast("long")).withColumn(
        "__cy", F.floor(y / s).cast("long")
    )
    joined = pts.join(cover, ["__cx", "__cy"], "left")
    hit_val = F.when(
        point_in_polygon_expr(x, y, F.col(verts_col)), F.col("__val")
    )
    return joined.groupBy("iy", "ix", "northing", "easting").agg(
        F.coalesce(aggs_grp[agg](hit_val), fill_lit).alias(value_name)
    )


def polygon_area_expr(verts: Column | str) -> Column:
    """Signed shoelace area of an ``array<struct<x,y>>`` polygon — one
    ``aggregate`` over the closing edge list, no UDF.  Positive for
    counter-clockwise vertex order."""
    v = F.col(verts) if isinstance(verts, str) else verts
    cross = F.aggregate(
        _edges(v),
        F.lit(0.0),
        lambda acc, e: acc + (e["a"]["x"] * e["b"]["y"] - e["b"]["x"] * e["a"]["y"]),
    )
    return cross / F.lit(2.0)


def polygon_properties(
    polygons: DataFrame, verts_col: str = "vertices"
) -> DataFrame:
    """area / centroid / bbox per polygon — all Catalyst ``aggregate``
    expressions over the vertex array (raster↔vector support layer; the
    centroid is the area-weighted polygon centroid, not the vertex mean).

    One projection, zero shuffles, zero Python: a single map stage.  Spark
    interprets each ``aggregate`` fold once per row (``ArrayAggregate`` is
    ``CodegenFallback``), so the stage is not whole-stage code-generated.
    """
    v = F.col(verts_col)
    area = polygon_area_expr(v)

    def _centroid(which: str) -> Column:
        # Cx = 1/(6A) Σ (x_a + x_b)(x_a·y_b − x_b·y_a)  (same for y);
        # degenerate polygons (area 0: <3 verts or collinear) fall back to
        # the vertex mean instead of dividing by zero
        weighted = (
            F.aggregate(
                _edges(v),
                F.lit(0.0),
                lambda acc, e: acc
                + (e["a"][which] + e["b"][which])
                * (e["a"]["x"] * e["b"]["y"] - e["b"]["x"] * e["a"]["y"]),
            )
            / (F.lit(6.0) * area)
        )
        vertex_mean = F.aggregate(
            F.transform(v, lambda p: p[which]), F.lit(0.0), lambda a, x: a + x
        ) / F.size(v)
        return F.when(area != 0, weighted).otherwise(vertex_mean)

    xs = F.transform(v, lambda p: p["x"])
    ys = F.transform(v, lambda p: p["y"])
    return polygons.withColumns(
        {
            "area": F.abs(area),
            "signed_area": area,
            "centroid_x": _centroid("x"),
            "centroid_y": _centroid("y"),
            "bbox_w": F.array_min(xs),
            "bbox_e": F.array_max(xs),
            "bbox_s": F.array_min(ys),
            "bbox_n": F.array_max(ys),
        }
    )
