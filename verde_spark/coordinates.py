"""Coordinate generation and spatial block partitioning.

Point sets (grids, lines, profiles, scatters) are DataFrames of double
columns; the axis arithmetic replicates verde's ``np.linspace``-based
generation (verde coordinates.py:192-590) so grid values and block/cell
assignments match the reference bit-for-bit where tests demand it.

The core scale primitive is :class:`BlockGrid` — verde's ``block_split``
(coordinates.py:848-944) re-expressed as **pure integer column arithmetic**
instead of a KD-tree: a nearest pixel-registered block center is exactly a
clamped floor division. The label expression is Catalyst-codegen'd, so the
shuffle key for every block aggregation costs no Python and no index build.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence, Tuple

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .geometry import (
    _sql_double, _sql_name, check_region, get_region, shape_to_spacing, spacing_to_size,
)

Region = Tuple[float, float, float, float]


# ---------------------------------------------------------------------------
# 1D axes
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Axis:
    """An evenly spaced 1D sequence, ``values[i] = start + i*step``.

    ``forced_stop`` mirrors np.linspace forcing the last element to *stop*
    exactly (verde generates axes with linspace; coordinates.py:287).
    """

    start: float
    step: float
    size: int
    forced_stop: Optional[float] = None

    def value(self, i: int) -> float:
        if self.forced_stop is not None and i == self.size - 1:
            return self.forced_stop
        return self.start + i * self.step

    def values(self) -> np.ndarray:
        vals = self.start + np.arange(self.size, dtype="float64") * self.step
        if self.forced_stop is not None and self.size > 0:
            vals[-1] = self.forced_stop
        return vals

    def expr(self, index: Column) -> Column:
        """Column expression computing the axis value from an integer index."""
        base = F.lit(self.start) + index.cast("double") * F.lit(self.step)
        if self.forced_stop is None:
            return base
        return F.when(index == F.lit(self.size - 1), F.lit(self.forced_stop)).otherwise(base)


def line_axis(
    start: float,
    stop: float,
    size: Optional[int] = None,
    spacing: Optional[float] = None,
    adjust: str = "spacing",
    pixel_register: bool = False,
) -> Axis:
    """Replicates verde ``line_coordinates`` (coordinates.py:192-289).

    With *spacing*: size/stop from :func:`spacing_to_size`. Pixel
    registration shifts to interval centers and drops one point; the shift
    is ``(values[1]-values[0])/2`` computed exactly as the reference does.
    """
    if size is not None and spacing is not None:
        raise ValueError("Both size and spacing provided. Only one is allowed.")
    if size is None and spacing is None:
        raise ValueError("Either a size or a spacing must be provided.")
    if spacing is not None:
        size, stop = spacing_to_size(start, stop, spacing, adjust)
    elif pixel_register:
        size = size + 1  # type: ignore[operator]
    assert size is not None
    step = (stop - start) / (size - 1) if size > 1 else 0.0
    if pixel_register:
        # values[:-1] + (values[1]-values[0])/2 ; the forced endpoint is the
        # dropped element, so centers are start + i*step + half exactly.
        half = ((start + step) - start) / 2
        return Axis(start=start + half, step=step, size=size - 1, forced_stop=None)
    return Axis(start=start, step=step, size=size, forced_stop=stop)


def line_coordinates(*args, **kwargs) -> np.ndarray:
    """NumPy values of :func:`line_axis` (verde-compatible convenience)."""
    return line_axis(*args, **kwargs).values()


# ---------------------------------------------------------------------------
# Grids / scatters / profiles as DataFrames
# ---------------------------------------------------------------------------


def _resolve_axes(
    region: Sequence[float],
    shape=None,
    spacing=None,
    adjust: str = "spacing",
    pixel_register: bool = False,
) -> Tuple[Axis, Axis]:
    """(east_axis, north_axis) for a regular grid (verde coordinates.py:548-576)."""
    w, e, s, n = check_region(region)
    if shape is not None and spacing is not None:
        raise ValueError("Both grid shape and spacing provided. Only one is allowed.")
    if shape is None and spacing is None:
        raise ValueError("Either a grid shape or a spacing must be provided.")
    if shape is not None:
        n_north, n_east = shape
        east = line_axis(w, e, size=n_east, pixel_register=pixel_register)
        north = line_axis(s, n, size=n_north, pixel_register=pixel_register)
    else:
        try:
            s_north, s_east = (float(v) for v in spacing)  # type: ignore[misc]
        except TypeError:
            s_north = s_east = float(spacing)  # type: ignore[arg-type]
        east = line_axis(w, e, spacing=s_east, adjust=adjust, pixel_register=pixel_register)
        north = line_axis(s, n, spacing=s_north, adjust=adjust, pixel_register=pixel_register)
    return east, north


def grid_coordinates(
    spark: SparkSession,
    region: Sequence[float],
    shape=None,
    spacing=None,
    adjust: str = "spacing",
    pixel_register: bool = False,
    extra_coords=None,
    easting: str = "easting",
    northing: str = "northing",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Node table of a regular grid: ``(iy, ix, northing, easting, ...)``.

    Verde's ``grid_coordinates`` (coordinates.py:292-590) meshgrid, in
    row-major (northing-major) order — row index = ``iy*n_east + ix`` matches
    the raveled reference arrays. Built from a single ``spark.range`` (no
    join, no shuffle, arbitrarily parallel); values are linspace-exact.
    """
    east, north = _resolve_axes(region, shape, spacing, adjust, pixel_register)
    total = east.size * north.size
    nodes = spark.range(0, total, 1, num_partitions) if num_partitions else spark.range(total)
    out = nodes.select(
        (F.col("id") / east.size).cast("long").alias("iy"),
        (F.col("id") % east.size).alias("ix"),
    ).select(
        "iy",
        "ix",
        north.expr(F.col("iy")).alias(northing),
        east.expr(F.col("ix")).alias(easting),
    )
    if extra_coords is not None:
        for i, value in enumerate(np.atleast_1d(extra_coords)):
            name = "extra_coord" if i == 0 else f"extra_coord_{i}"
            out = out.withColumn(name, F.lit(float(value)))
    return out


def scatter_points(
    region: Sequence[float],
    size: int,
    random_state=None,
    extra_coords=None,
) -> Tuple[np.ndarray, ...]:
    """Uniform random points in *region*, NumPy-seeded for parity.

    Verde draws per-dimension ``RandomState(seed).uniform`` in order
    (easting, northing) (coordinates.py:120-189); Spark's ``rand()`` cannot
    reproduce that sequence, so fixtures are generated driver-side and
    parallelized. Returns NumPy arrays; use :func:`scatter_points_df` for a
    DataFrame.
    """
    w, e, s, n = check_region(region)
    rng = np.random.RandomState(random_state) if not isinstance(random_state, np.random.RandomState) else random_state
    coords = [rng.uniform(w, e, size), rng.uniform(s, n, size)]
    if extra_coords is not None:
        for value in np.atleast_1d(extra_coords):
            coords.append(np.full(size, float(value)))
    return tuple(coords)


def scatter_points_df(
    spark: SparkSession,
    region: Sequence[float],
    size: int,
    random_state=None,
    extra_coords=None,
    easting: str = "easting",
    northing: str = "northing",
) -> DataFrame:
    """DataFrame form of :func:`scatter_points` (Arrow-batched createDataFrame)."""
    import pandas as pd

    coords = scatter_points(region, size, random_state, extra_coords)
    names = [easting, northing] + [
        "extra_coord" if i == 0 else f"extra_coord_{i}" for i in range(len(coords) - 2)
    ]
    return spark.createDataFrame(pd.DataFrame(dict(zip(names, coords))))


def profile_coordinates(point1, point2, size: int, extra_coords=None):
    """Points along a straight segment + distances (verde coordinates.py:698-765)."""
    if size <= 0:
        raise ValueError(f"Invalid profile size '{size}'. Must be > 0.")
    diffs = [i - j for i, j in zip(point2, point1)]
    separation = float(np.hypot(*diffs))
    distances = np.linspace(0, separation, size)
    angle = float(np.arctan2(diffs[1], diffs[0]))
    coordinates = [
        point1[0] + distances * np.cos(angle),
        point1[1] + distances * np.sin(angle),
    ]
    if extra_coords is not None:
        for value in np.atleast_1d(extra_coords):
            coordinates.append(np.full(size, float(value)))
    return tuple(coordinates), distances


def longitude_continuity(region: Sequence[float], longitude: Column | str = "longitude"):
    """Choose the [0,360) or [-180,180) longitude interval for *region* and
    return ``(modified_region, longitude_column_expr)``.

    Port of verde coordinates.py:1381-1467: the decision is driver-side on
    the 4-tuple; the coordinate shift is a pure modulo column expression
    (``pmod``) applied lazily to any number of rows.
    """
    w, e, s, n = region[:4]
    if w > 360 or w < -180 or e > 360 or e < -180:
        raise ValueError("Invalid longitude region. Bounds should be < 360 and > -180 degrees.")
    if s > 90 or s < -90 or n > 90 or n < -90:
        raise ValueError("Invalid latitude region. Bounds should be < 90 and > -90 degrees.")
    if abs(e - w) > 360:
        raise ValueError("East and West must not be separated by more than 360 degrees.")
    lon = F.col(longitude) if isinstance(longitude, str) else longitude
    all_globe = bool(np.allclose(abs(e - w), 360))
    w_new, e_new = w % 360, e % 360
    interval_360 = True
    if all_globe:
        w_new, e_new = 0, 360
    if w_new > e_new:
        interval_360 = False
        e_new = ((e_new + 180) % 360) - 180
        w_new = ((w_new + 180) % 360) - 180
    new_region = (w_new, e_new, s, n)
    if interval_360:
        lon_expr = F.pmod(lon, F.lit(360.0))
    else:
        lon_expr = F.pmod(lon + F.lit(180.0), F.lit(360.0)) - F.lit(180.0)
    return new_region, lon_expr


# ---------------------------------------------------------------------------
# Block partitioning — the shuffle key
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class BlockGrid:
    """A pixel-registered grid of block centers over a region.

    Semantics of verde ``block_split`` (coordinates.py:848-944): block label
    = index of the nearest block center, row-major northing-major
    (``iy*n_east + ix``). Because the centers are pixel-registered, the
    nearest center is a clamped floor division.  ``label_sql`` is its one
    definition, as SQL text with DOUBLE literals: ``label_expr`` parses it
    into one codegen-friendly Spark expression (no KD-tree, no UDF), and
    the DuckDB oracles run the same text.

    Boundary semantics: a point exactly on an interior block edge is
    equidistant from two centers; we assign it to the higher-index block
    (floor), where the reference's KD-tree tie-break is backend-dependent.
    Verde's own tests never place points on block edges.
    """

    region: Region
    east: Axis  # centers along easting
    north: Axis  # centers along northing

    @classmethod
    def from_region(
        cls,
        region: Sequence[float],
        spacing=None,
        shape=None,
        adjust: str = "spacing",
    ) -> "BlockGrid":
        region = check_region(region)
        east, north = _resolve_axes(region, shape=shape, spacing=spacing, adjust=adjust, pixel_register=True)
        return cls(region=region, east=east, north=north)

    @property
    def n_east(self) -> int:
        return self.east.size

    @property
    def n_north(self) -> int:
        return self.north.size

    @property
    def n_blocks(self) -> int:
        return self.east.size * self.north.size

    def _index_sql(self, coord: str, axis: Axis) -> str:
        """SQL text of the clamped block index of *coord* (SQL text) along
        *axis*: centers at ``axis.start + i*axis.step``, so the nearest
        index is ``floor((x - edge)/step)`` with edge = start - step/2 =
        the region's West/South."""
        edge = axis.start - axis.step / 2
        return (
            f"LEAST({axis.size - 1}, GREATEST(0, CAST(FLOOR((({coord}) - "
            f"{_sql_double(edge)}) / {_sql_double(axis.step)}) AS BIGINT)))"
        )

    def label_sql(self, easting: str = "easting", northing: str = "northing") -> str:
        """SQL text of the integer block label, over the SQL names or
        expressions *easting* and *northing*.  Spark parses it in
        ``label_expr`` and the DuckDB oracles run it as is; the literals
        are DOUBLEs in both."""
        ix = self._index_sql(easting, self.east)
        iy = self._index_sql(northing, self.north)
        return f"({iy} * {self.n_east} + {ix})"

    def label_expr(self, easting: str = "easting", northing: str = "northing") -> Column:
        """Integer block label column (the shuffle key) of the columns
        named *easting* and *northing*: ``label_sql`` in one parse."""
        return F.expr(self.label_sql(_sql_name(easting), _sql_name(northing))).alias("block")

    def center_exprs(self, label: Column | str = "block") -> Tuple[Column, Column]:
        """(center_easting, center_northing) reconstructed from a label."""
        lab = F.col(label) if isinstance(label, str) else label
        ix = lab % F.lit(self.n_east)
        iy = (lab / F.lit(self.n_east)).cast("long")
        return self.east.expr(ix), self.north.expr(iy)

    def centers(self) -> Tuple[np.ndarray, np.ndarray]:
        """All center coordinates, raveled row-major (verde block_split return)."""
        ee, nn = np.meshgrid(self.east.values(), self.north.values())
        return ee.ravel(), nn.ravel()


def block_split(
    df: DataFrame,
    spacing=None,
    shape=None,
    adjust: str = "spacing",
    region: Optional[Sequence[float]] = None,
    easting: str = "easting",
    northing: str = "northing",
) -> Tuple[DataFrame, BlockGrid]:
    """Label every point with its block index (verde coordinates.py:848-944).

    Returns ``(df with 'block' column, BlockGrid)``. If *region* is None it
    is computed from the data (one min/max agg job, like the reference's
    ``get_region`` default).
    """
    if region is None:
        region = get_region(df, easting, northing)
    grid = BlockGrid.from_region(region, spacing=spacing, shape=shape, adjust=adjust)
    return df.withColumn("block", grid.label_expr(easting, northing)), grid
