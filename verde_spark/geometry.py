"""Region (bounding-box) math and point-in-region predicates.

A *region* is a driver-side 4-tuple ``(W, E, S, N)``; points live in a
DataFrame as two double columns. Scalar helpers replicate the reference
arithmetic bit-for-bit (verde coordinates.py:19-117, :593-695) because
cell-assignment parity depends on them; the DataFrame-side predicates are
plain Catalyst expressions so they push down into parquet scans.
"""

from __future__ import annotations

from typing import Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Region = Tuple[float, float, float, float]


def check_region(region: Sequence[float]) -> Region:
    """Validate a (W, E, S, N) region. Mirrors verde coordinates.py:19-50."""
    if len(region) != 4:
        raise ValueError(f"Invalid region {region}. Only 4 values allowed.")
    w, e, s, n = (float(v) for v in region)
    if w > e:
        raise ValueError(f"Invalid region {region} (W, E, S, N). Must have W <= E.")
    if s > n:
        raise ValueError(f"Invalid region {region} (W, E, S, N). Must have S <= N.")
    return (w, e, s, n)


def _sql_name(name: str) -> str:
    """*name* as Spark SQL text that resolves like ``F.col(name)``: each
    dot-separated part back-quoted."""
    return ".".join("`" + part.replace("`", "``") + "`" for part in name.split("."))


def _sql_double(value: float) -> str:
    """A DOUBLE literal of *value* that Spark and DuckDB both read exactly:
    the shortest round-trip digits in exponent form (both read ``0.07``
    as a DECIMAL)."""
    text = repr(float(value))
    return f"({text if 'e' in text else text + 'E0'})"


def get_region(df: DataFrame, easting: str = "easting", northing: str = "northing") -> Region:
    """Bounding region of the points in *df* (verde coordinates.py:53-81).

    One distributed min/max aggregation; the result is a tiny driver value.
    """
    e, n = _sql_name(easting), _sql_name(northing)
    row = df.selectExpr(f"min({e})", f"max({e})", f"min({n})", f"max({n})").first()
    return tuple(row)


def pad_region(region: Sequence[float], pad) -> Region:
    """Extend the borders of a region by *pad* (verde coordinates.py:84-117).

    *pad* is a scalar or ``(pad_north, pad_east)``.
    """
    w, e, s, n = check_region(region)
    try:
        pad_n, pad_e = (float(p) for p in pad)  # type: ignore[misc]
    except TypeError:
        pad_n = pad_e = float(pad)
    return (w - pad_e, e + pad_e, s - pad_n, n + pad_n)


def inside(
    region: Sequence[float],
    easting: Column | str = "easting",
    northing: Column | str = "northing",
) -> Column:
    """Boundary-inclusive point-in-region predicate (verde coordinates.py:768-845).

    Returns a boolean Column ``W<=e<=E AND S<=n<=N`` — a pure Catalyst
    conjunction, so Spark pushes it into the scan (PushedFilters).
    """
    w, e, s, n = check_region(region)
    east = F.col(easting) if isinstance(easting, str) else easting
    north = F.col(northing) if isinstance(northing, str) else northing
    return (east >= F.lit(w)) & (east <= F.lit(e)) & (north >= F.lit(s)) & (north <= F.lit(n))


def spacing_to_size(start: float, stop: float, spacing: float, adjust: str = "spacing"):
    """Number of points between start and stop given a spacing.

    Bit-for-bit port of the reference arithmetic (verde coordinates.py:593-639):
    ``size = int(round((stop-start)/spacing)) + 1``; a size of 1 is bumped to
    2; ``adjust='region'`` recomputes ``stop = start + (size-1)*spacing``.
    Every block/grid operator shares this so cell assignments agree exactly.
    """
    if adjust not in ("spacing", "region"):
        raise ValueError(f"Invalid value for *adjust* '{adjust}'. Should be 'spacing' or 'region'")
    size = int(round((stop - start) / spacing)) + 1
    if size == 1:
        size += 1
    if adjust == "region":
        stop = start + (size - 1) * spacing
    return size, stop


def shape_to_spacing(region: Sequence[float], shape, pixel_register: bool = False):
    """Grid spacing from region + shape (verde coordinates.py:642-695)."""
    spacing = []
    for i, n_points in enumerate(reversed(tuple(shape))):
        if not pixel_register:
            n_points -= 1
        spacing.append((region[2 * i + 1] - region[2 * i]) / n_points)
    return tuple(reversed(spacing))


def project_region(region: Sequence[float], projection, density: int = 101) -> Region:
    """Bounding box of *region* under a (vectorized) projection callable.

    Mirrors verde projections.py:21-53: sample a density×density grid of the
    region, project, take min/max. The sample is tiny (10 201 points) so it
    runs driver-side with NumPy — no Spark job needed.
    """
    import numpy as np

    w, e, s, n = check_region(region)
    east = np.linspace(w, e, density)
    north = np.linspace(s, n, density)
    ee, nn = np.meshgrid(east, north)
    pe, pn = projection(ee.ravel(), nn.ravel())
    return (float(pe.min()), float(pe.max()), float(pn.min()), float(pn.max()))
