"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship pipeline (geotag → block-mean decimate →
tiled biharmonic spline → regular grid) on sf0.001. ``queries`` exposes
one callable per implemented operator from SURVEY.md §2 over the
driver-provided tables; ``oracle_sql`` gives the DuckDB-equivalent SQL.

Oracle-parity rules used throughout (see SURVEY.md §5):
- derived coordinates use only IEEE-exact ops (+,-,*,/ mod, floor) — no
  libm — so Spark and DuckDB compute bit-identical doubles;
- aggregated floats are either exactly representable (integer-valued
  data, block centers) or rounded to 9 decimals on BOTH sides;
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from verde_spark import (
    BlockGrid,
    CheckerBoard,
    Spline,
    Trend,
    block_mean,
    block_reduce,
    inside,
)
from verde_spark.coordinates import grid_coordinates
from verde_spark.functions.cells import cell_encode, cell_encode_sql
from verde_spark.operators.masks import convexhull_mask, distance_mask
from verde_spark.operators.neighbors import knn_join

# ---------------------------------------------------------------------------
# shared derivations (must stay IEEE-exact and mirrored in the SQL below)
# ---------------------------------------------------------------------------

REGION = (-5.0, 0.0, 5.0, 10.0)
GRID = BlockGrid.from_region(REGION, spacing=1.0)
# 0.5-spacing decimation grid + its center lattice and an interior node box
# (shared by the three value-checked gridder queries)
GRID05 = BlockGrid.from_region(REGION, spacing=0.5)
CENTER_REGION = (-4.75, -0.25, 5.25, 9.75)
INNER_REGION = (-4.0, -1.0, 6.0, 9.0)


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → synthetic point set; decorrelated multiplicative hashing,
    integer-valued data so aggregate sums are exact in both engines."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        F.col("event_id"),
        (F.lit(-5.0) + F.lit(5.0) * ((F.col("event_id") * 7919) % 9973) / F.lit(9973.0)).alias(
            "easting"
        ),
        (F.lit(5.0) + F.lit(5.0) * ((F.col("event_id") * 4409) % 9967) / F.lit(9967.0)).alias(
            "northing"
        ),
        (F.col("event_id") % 97).cast("double").alias("scalars"),
        (F.lit(1) + F.col("event_id") % 3).cast("double").alias("weight"),
    )


_POINTS_SQL = """
    SELECT event_id,
           -5.0 + 5.0 * ((event_id * 7919) % 9973) / 9973.0 AS easting,
           5.0 + 5.0 * ((event_id * 4409) % 9967) / 9967.0 AS northing,
           CAST(event_id % 97 AS DOUBLE) AS scalars,
           CAST(1 + event_id % 3 AS DOUBLE) AS weight
    FROM events
"""

_LABEL_SQL = GRID.label_sql("easting", "northing")


def _rolling_centers_values() -> str:
    """VALUES rows for the rolling-window centers (same axes the operator
    computes: region shrunk by size/2, grid-line registered)."""
    from verde_spark.coordinates import _resolve_axes

    half = 1.0
    w, e, s, n = REGION
    east_ax, north_ax = _resolve_axes(
        (w + half, e - half, s + half, n - half), spacing=2.0, adjust="spacing"
    )
    rows = []
    for iy in range(north_ax.size):
        for ix in range(east_ax.size):
            rows.append(
                f"({iy * east_ax.size + ix}, {east_ax.value(ix)!r}, {north_ax.value(iy)!r})"
            )
    return ", ".join(rows)


def _center_sql() -> tuple[str, str]:
    ex, nx = GRID.east, GRID.north
    ce = f"({ex.start!r} + (block % {GRID.n_east}) * {ex.step!r})"
    cn = f"({nx.start!r} + CAST(FLOOR(block / {GRID.n_east}) AS BIGINT) * {nx.step!r})"
    return ce, cn


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: geotagged pages → cell block-mean → tiled spline → grid."""
    from verde_spark.operators.spline import spline_solve_grid

    sf_dir = "/root/testdata/sf0.001"
    pts = _points(spark, sf_dir)
    # decimate (one shuffle, algebraic agg), then the fused per-tile
    # solve+evaluate grouped pass (one Python stage, tested exactly equal to the
    # two-pass fit().grid() path)
    dec, _ = block_mean(pts, spacing=0.5, region=REGION, sort=False)
    return spline_solve_grid(
        dec, region=REGION, shape=(20, 20), tile_spacing=2.5, halo=1.25,
        damping=1e-8, weight_col="weight_scalars", output_col="prediction",
    )


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def _q_block_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, _ = block_reduce(
        _points(spark, sf_dir),
        "mean",
        region=REGION,
        spacing=1.0,
        center_coordinates=True,
        data_cols=("scalars",),
        grid=GRID,
    )
    return out.select("block", "easting", "northing", "scalars")


def _q_block_mean_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, _ = block_reduce(
        _points(spark, sf_dir),
        "mean",
        region=REGION,
        spacing=1.0,
        center_coordinates=True,
        data_cols=("scalars",),
        weight_cols=("weight",),
        grid=GRID,
    )
    return out.select("block", "easting", "northing", "scalars")


def _q_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir).withColumn("block", GRID.label_expr())
    return (
        pts.groupBy("block")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("scalars").alias("min_val"),
            F.max("scalars").alias("max_val"),
            F.sum("scalars").alias("sum_val"),
        )
        .orderBy("block")
    )


def _q_block_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, _ = block_reduce(
        _points(spark, sf_dir),
        "median",
        region=REGION,
        spacing=1.0,
        center_coordinates=True,
        data_cols=("scalars",),
        grid=GRID,
    )
    return out.select("block", "scalars")


def _q_block_mean_uncertainty(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, _ = block_mean(
        _points(spark, sf_dir),
        region=REGION,
        spacing=1.0,
        center_coordinates=True,
        weight_cols=("weight",),
        uncertainty=True,
        grid=GRID,
    )
    # weighted mean is exact (integer-valued sums); the propagated-variance
    # weight needs the global-min rescale → round on both sides.
    return out.select(
        "block", "scalars", F.round("weight_scalars", 9).alias("weight_scalars")
    )


def _q_inside(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir)
    return pts.filter(inside((-3.0, -1.0, 6.0, 8.0))).select(
        "event_id", "easting", "northing"
    )


def _q_get_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir)
    return pts.agg(
        F.min("easting").alias("w"),
        F.max("easting").alias("e"),
        F.min("northing").alias("s"),
        F.max("northing").alias("n"),
    )


def _q_grid_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return grid_coordinates(spark, REGION, spacing=0.5).select(
        "iy", "ix", "northing", "easting"
    )


def _q_checkerboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # synthetic source evaluated on a grid; sin/cos are libm → round(6).
    # `+ 0.0` normalizes -0.0 to +0.0: JVM sin at a sign-change node yields
    # ±2e-16 with engine-dependent sign, and round() preserves the signed
    # zero, which hashes differently even though -0.0 == 0.0.
    cb = CheckerBoard(region=REGION)
    nodes = grid_coordinates(spark, REGION, spacing=0.5)
    return nodes.select(
        "iy", "ix", (F.round(cb.predict_expr(), 6) + F.lit(0.0)).alias("value")
    )


def _q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir).cache()
    queries = pts.filter(F.col("event_id") < 20).select(
        F.col("event_id").alias("query_id"),
        F.col("easting").alias("qe"),
        F.col("northing").alias("qn"),
    )
    out = knn_join(
        pts.select("event_id", "easting", "northing"),
        queries,
        k=3,
        query_easting="qe",
        query_northing="qn",
        query_id="query_id",
    )
    return out.select(
        "query_id", F.col("nb_event_id").alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
        F.round("distance", 9).alias("distance"),
    ).orderBy("query_id", "rank")


def _q_distance_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir).filter(F.col("event_id") % 100 == 0)
    nodes = grid_coordinates(spark, REGION, spacing=0.5)
    out = distance_mask(pts, nodes, maxdist=0.75)
    return out.select("iy", "ix", "in_range").orderBy("iy", "ix")


def _poly_props_sql() -> str:
    """Shoelace properties of _POLY as SQL over an edge VALUES list."""
    n = len(_POLY)
    rows = []
    for i in range(n):
        ax, ay = _POLY[i]
        bx, by = _POLY[(i + 1) % n]
        rows.append(f"({ax!r}, {ay!r}, {bx!r}, {by!r})")
    values = ", ".join(rows)
    xs = ", ".join(repr(x) for x, _ in _POLY)
    ys = ", ".join(repr(y) for _, y in _POLY)
    return f"""
        WITH e(ax, ay, bx, by) AS (VALUES {values}),
        s AS (
          SELECT sum(ax*by - bx*ay) / 2.0 AS sa,
                 sum((ax+bx) * (ax*by - bx*ay)) AS cx6,
                 sum((ay+by) * (ax*by - bx*ay)) AS cy6
          FROM e
        )
        SELECT round(abs(sa), 9) + 0.0 AS area,
               round(sa, 9) + 0.0 AS signed_area,
               round(cx6 / (6.0 * sa), 9) + 0.0 AS centroid_x,
               round(cy6 / (6.0 * sa), 9) + 0.0 AS centroid_y,
               round(least({xs}), 9) + 0.0 AS bbox_w,
               round(greatest({xs}), 9) + 0.0 AS bbox_e,
               round(least({ys}), 9) + 0.0 AS bbox_s,
               round(greatest({ys}), 9) + 0.0 AS bbox_n
        FROM s
    """


def _q_salted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew salting (north rule): the two-level salted mean must equal the
    plain per-block mean EXACTLY — integer-valued data keeps every partial
    sum exact, so the salt decomposition is arithmetically invisible."""
    from verde_spark.operators.salting import salted_mean

    pts = _points(spark, sf_dir).withColumn("block", GRID.label_expr())
    out = salted_mean(pts, key="block", value="scalars", n_salts=8)
    return out.select("block", "mean", "n").orderBy("block")


def _q_polygon_properties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shoelace area / centroid / bbox of the shared _POLY as Catalyst
    aggregates; round(9) absorbs the fold-order ulp between engines."""
    from verde_spark.operators.polygons import polygon_literal, polygon_properties

    df = spark.range(1).select(polygon_literal(_POLY).alias("vertices"))
    out = polygon_properties(df)
    return out.select(
        *[
            (F.round(c, 9) + F.lit(0.0)).alias(c)
            for c in ("area", "signed_area", "centroid_x", "centroid_y",
                      "bbox_w", "bbox_e", "bbox_s", "bbox_n")
        ]
    )


def _q_mask_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster→vector: RLE-vectorize the distance-mask grid (one window +
    one groupBy, both keyed by grid row)."""
    from verde_spark.sources.grid_io import mask_to_runs

    pts = _points(spark, sf_dir).filter(F.col("event_id") % 100 == 0)
    nodes = grid_coordinates(spark, REGION, spacing=0.5)
    masked = distance_mask(pts, nodes, maxdist=0.75)
    return mask_to_runs(masked, flag_col="in_range").orderBy("iy", "start_ix")


def _q_convexhull(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hull of the 4 bbox corners of a sub-rectangle → membership must equal
    # the inside() predicate: a known-geometry oracle for the hull machinery.
    import pandas as pd

    corners = spark.createDataFrame(
        pd.DataFrame(
            {"easting": [-4.0, -1.0, -1.0, -4.0], "northing": [6.0, 6.0, 9.0, 9.0]}
        )
    )
    nodes = grid_coordinates(spark, REGION, spacing=0.5)
    out = convexhull_mask(corners, nodes)
    return out.select("iy", "ix", "in_hull").orderBy("iy", "ix")


def _q_cell_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir)
    return (
        pts.select(cell_encode("easting", "northing", 6).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cell")
    )


def _q_geotag_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # build a geotag string from exact coordinates, parse it back with the
    # production regex — validates the text→(lon,lat) extractor both sides.
    from verde_spark.functions.text import geotag_lat, geotag_lon

    pts = _points(spark, sf_dir).filter(F.col("event_id") < 1000)
    tagged = pts.select(
        "event_id",
        F.format_string("geo:%.6f,%.6f", F.col("northing"), F.col("easting")).alias("text"),
    )
    return tagged.select(
        "event_id",
        geotag_lat("text").alias("lat"),
        geotag_lon("text").alias("lon"),
    )


def _q_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    pts = _points(spark, sf_dir).withColumn(
        "plane",
        F.lit(10.0) + F.lit(2.0) * F.col("easting") - F.lit(0.4) * F.col("northing"),
    )
    trend = Trend(degree=1).fit(pts, data_col="plane")
    coefs = [round(float(c), 6) for c in trend.coef_]
    return spark.createDataFrame(
        pd.DataFrame({"coef_idx": range(3), "coef": coefs})
    )


def _q_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points(spark, sf_dir)
    pred = pts.withColumn("pred", F.col("scalars") * 0.5 + 10.0)
    agg = pred.agg(
        F.sum((F.col("scalars") - F.col("pred")) * (F.col("scalars") - F.col("pred"))).alias(
            "ss_res"
        ),
        F.sum("scalars").alias("sd"),
        F.sum(F.col("scalars") * F.col("scalars")).alias("sd2"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    return agg.select(
        F.round(
            F.lit(1.0) - F.col("ss_res") / (F.col("sd2") - F.col("sd") * F.col("sd") / F.col("n")),
            9,
        ).alias("r2")
    )


def _q_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from verde_spark.operators.windows import rolling_window

    pts = _points(spark, sf_dir)
    out, _ = rolling_window(pts, size=2.0, spacing=2.0, region=REGION)
    return (
        out.groupBy(
            F.col("window").alias("win_id"), "center_easting", "center_northing"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("scalars").alias("sum_val"))
        .orderBy("win_id")
    )


def _q_expanding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from verde_spark.operators.windows import expanding_window

    pts = _points(spark, sf_dir)
    out = expanding_window(pts, center=(-2.5, 7.5), sizes=[1.0, 2.0, 4.0])
    return (
        out.filter(F.col("min_size_idx").isNotNull())
        .groupBy(F.col("min_size_idx").cast("long").alias("min_size_idx"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("min_size_idx")
    )


def _q_spline_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked tiled spline solve via the exact-interpolation property.

    An undamped biharmonic spline with forces at the data points solves a
    square consistent system, so it reproduces its inputs exactly
    (reference contract: verde tests/test_spline.py:94-98, spline.py:458-463;
    measured residual ~1e-11 here).  The grid nodes are placed AT the block
    centers of the decimation, so every occupied center's prediction equals
    its block value — which IS DuckDB-expressible.  Decimation uses ``min``
    (integer-valued data), so round(3) sits far from any rounding boundary;
    block means p/n can land exactly on one (e.g. 3/16 = 0.1875).
    Point-free centers (not SQL-predictable) are semi-joined away by block
    label — integer arithmetic, no float equality.
    """
    from verde_spark.operators.blockreduce import block_reduce

    dec, _ = block_reduce(
        _points(spark, sf_dir), "min", region=REGION, spacing=0.5,
        center_coordinates=True, data_cols=("scalars",), grid=GRID05, sort=False,
    )
    sp = Spline(damping=None, tile_spacing=2.5, halo=1.25).fit(dec, region=REGION)
    out = sp.grid(spark, region=CENTER_REGION, shape=(10, 10), output_col="prediction")
    return (
        out.withColumn("block", (F.col("iy") * 10 + F.col("ix")).cast("long"))
        .join(dec.select("block"), "block", "semi")
        .select("block", (F.round("prediction", 3) + F.lit(0.0)).alias("prediction"))
        .orderBy("block")
    )


def _q_project_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 projection hook through the Arrow-UDF path, value-checked: a
    linear map (2e+1, 0.5n−3) is IEEE-exact in both engines (×2 and ×0.5
    are exponent shifts; the adds round identically)."""
    from verde_spark.operators.projections import project_points

    pts = _points(spark, sf_dir)
    out = project_points(
        pts, lambda e, n: (2.0 * e + 1.0, 0.5 * n - 3.0),
        out_easting="pe", out_northing="pn",
    )
    return out.select("event_id", "pe", "pn").orderBy("event_id")


def _q_longitude_continuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: dateline-crossing region (355°..5°) forces the ±180 interval;
    the operator returns a pmod column expression applied lazily."""
    from verde_spark.coordinates import longitude_continuity

    pts = _points(spark, sf_dir).withColumn(
        "lon", ((F.col("event_id") * 13) % 360).cast("double")
    )
    new_region, lon_expr = longitude_continuity((355.0, 5.0, 5.0, 10.0), "lon")
    assert new_region[:2] == (-5.0, 5.0)
    return pts.select("event_id", lon_expr.alias("lon_fixed")).orderBy("event_id")


# concave polygon inside REGION; no horizontal edges (keeps the crossing
# division well-defined in both engines without CASE-guard differences)
_POLY = [(-4.5, 5.5), (-0.5, 6.2), (-2.5, 7.8), (-0.2, 9.3), (-3.8, 9.6), (-4.8, 7.1)]


def _poly_crossing_sql(poly=None) -> str:
    """Even-odd crossing count as SQL with the same operation order as
    ``point_in_polygon_expr`` (IEEE-exact parity)."""
    poly = _POLY if poly is None else poly
    terms = []
    n = len(poly)
    for i in range(n):
        ax, ay = poly[i]
        bx, by = poly[(i + 1) % n]
        terms.append(
            f"CASE WHEN (({ay!r} > northing) <> ({by!r} > northing)) AND "
            f"(easting < {ax!r} + ({bx!r} - {ax!r}) * (northing - {ay!r}) / ({by!r} - {ay!r})) "
            "THEN 1 ELSE 0 END"
        )
    return " + ".join(terms)


def _q_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from verde_spark.operators.polygons import point_in_polygon

    pts = _points(spark, sf_dir)
    return (
        point_in_polygon(pts, _POLY, col_name="inside")
        .groupBy("inside")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("inside")
    )


def _q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from verde_spark.operators.polygons import zonal_stats

    pts = _points(spark, sf_dir)
    polys = spark.createDataFrame(
        [("p1", [{"x": float(x), "y": float(y)} for x, y in _POLY])],
        schema="poly_id string, vertices array<struct<x:double,y:double>>",
    )
    # count + sum only: scalars are integer-valued, so sums are exact in
    # both engines (no float rounding concerns)
    return zonal_stats(pts, polys, "scalars", stats=("count", "sum"), method="bbox")


def _q_linear_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked tiled Delaunay gridder via affine reproduction.

    Barycentric interpolation reproduces any plane exactly (reference:
    scipy LinearNDInterpolator contract, our tests/test_linear.py:26-36;
    measured error ~5e-15 here), and a blocked *mean* keeps plane data on
    the plane (mean of a linear function = function of the mean coords), so
    the full pipeline — decimate → tiled triangulation with halo → grid —
    must return plane(node) on every interior node.  Plane coefficients
    (10, 2, −0.5) put node values on an exact binary lattice (multiples of
    0.125), so round(6) has no boundary risk.
    """
    from verde_spark import Linear
    from verde_spark.operators.blockreduce import block_reduce

    pts = _points(spark, sf_dir).withColumn(
        "plane",
        F.lit(10.0) + F.lit(2.0) * F.col("easting") - F.lit(0.5) * F.col("northing"),
    )
    dec, _ = block_reduce(
        pts, "mean", region=REGION, spacing=0.5, data_cols=("plane",),
        grid=GRID05, sort=False,
    )
    out = (
        Linear(tile_spacing=2.5, halo=1.5)
        .fit(dec, region=REGION, data_col="plane")
        .grid(spark, region=INNER_REGION, shape=(13, 13), output_col="prediction")
    )
    return out.select(
        "iy", "ix", (F.round("prediction", 6) + F.lit(0.0)).alias("prediction")
    ).orderBy("iy", "ix")


def _q_cubic_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked Clough-Tocher gridder via linear-field reproduction.

    Reduced-HCT patches with estimated gradients reproduce linear fields
    (gradient estimation is exact for planes — tests/test_cubic.py:25-33,
    51-60; measured error ~5e-8 here).  Single tile: the gradient solve is
    global over the triangulation, so this checks the C1 patch evaluation
    and the cogroup plumbing; the tiled path is value-checked by
    ``linear_grid`` (same halo machinery).  Plane (4, −1.6, 0.2) puts node
    values on a 0.05 lattice — no round(4) boundary within 5e-5.
    """
    from verde_spark import Cubic
    from verde_spark.operators.blockreduce import block_reduce

    pts = _points(spark, sf_dir).withColumn(
        "plane2",
        F.lit(4.0) - F.lit(1.6) * F.col("easting") + F.lit(0.2) * F.col("northing"),
    )
    dec, _ = block_reduce(
        pts, "mean", region=REGION, spacing=0.5, data_cols=("plane2",),
        grid=GRID05, sort=False,
    )
    out = (
        Cubic(tile_spacing=None)
        .fit(dec, region=REGION, data_col="plane2")
        .grid(spark, region=INNER_REGION, shape=(13, 13), output_col="prediction")
    )
    return out.select(
        "iy", "ix", (F.round("prediction", 4) + F.lit(0.0)).alias("prediction")
    ).orderBy("iy", "ix")


# second burn polygon for the rasterize query: triangle inside REGION, no
# horizontal edges, vertices off the 0.5 node lattice
_TRI2 = [(-3.2, 5.7), (-0.7, 6.9), (-2.1, 9.4)]


def _q_rasterize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector→raster burn onto the 11×11 REGION grid (north rule:
    raster↔vector).  Two overlapping polygons with burn values 2 and 5,
    ``agg="max"`` priority, fill 0 — every arm (both memberships, the
    overlap resolution, and the fill) is exercised.  Membership is the
    same even-odd crossing arithmetic as ``point_in_polygon`` (IEEE-exact
    SQL parity via ``_poly_crossing_sql``); burn values and max are exact
    in both engines."""
    from verde_spark.operators.polygons import rasterize

    polys = spark.createDataFrame(
        [
            (2.0, [{"x": float(x), "y": float(y)} for x, y in _POLY]),
            (5.0, [{"x": float(x), "y": float(y)} for x, y in _TRI2]),
        ],
        schema="val double, vertices array<struct<x:double,y:double>>",
    )
    return rasterize(
        polys, REGION, spacing=0.5, value_col="val", fill=0.0, agg="max"
    ).orderBy("iy", "ix")


def _q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text extraction (input_hint invariant: byte-identical
    extracted text per url vs the reference extractor).  Each document's
    text is wrapped in an HTML envelope carrying every spec arm — style
    block, comment containing a tag, attributes, script with markup
    inside a string, all five entities — and the pure-Catalyst
    ``extract_text`` chain must reproduce DuckDB's replay of the same
    spec (``extract_text_sql``) byte-for-byte; tests additionally pin
    both to the Python reference extractor."""
    from verde_spark.functions.extract import extract_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 500
    )
    html = F.concat(
        F.lit(_HTML_PREFIX), F.col("text"), F.lit(_HTML_SUFFIX)
    ).cast("binary")
    return docs.select(
        "doc_id", extract_text(html).alias("text_out")
    ).orderBy("doc_id")


def _extract_sql(col_expr: str) -> str:
    from verde_spark.functions.extract import extract_text_sql

    return extract_text_sql(col_expr)


_HTML_PREFIX = (
    '<html><head><style>p { color: red; }</style></head>'
    '<body class="main"><!-- note with a <b>tag</b> inside --><p>'
)
_HTML_SUFFIX = (
    '</p><script type="text/javascript">var s = "<i>not text</i>";</script>'
    " &amp;&lt;tail&gt;</body></html>"
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The correctness artifact records at most 50 queries.
    return {
        "block_mean": _q_block_mean,
        "block_mean_weighted": _q_block_mean_weighted,
        "block_stats": _q_block_stats,
        "block_median": _q_block_median,
        "block_mean_uncertainty": _q_block_mean_uncertainty,
        "inside_filter": _q_inside,
        "get_region": _q_get_region,
        "grid_nodes": _q_grid_nodes,
        "checkerboard": _q_checkerboard,
        "knn_join": _q_knn,
        "distance_mask": _q_distance_mask,
        "convexhull_mask": _q_convexhull,
        "rolling_window": _q_rolling_window,
        "expanding_window": _q_expanding_window,
        "mask_runs": _q_mask_runs,
        "spline_grid": _q_spline_grid,
        "linear_grid": _q_linear_grid,
        "cubic_grid": _q_cubic_grid,
        "point_in_polygon": _q_point_in_polygon,
        "polygon_properties": _q_polygon_properties,
        "zonal_stats": _q_zonal_stats,
        "rasterize_grid": _q_rasterize,
        "salted_mean": _q_salted_mean,
        "cell_counts": _q_cell_counts,
        "geotag_roundtrip": _q_geotag_roundtrip,
        "trend_coefficients": _q_trend,
        "r2_score": _q_r2,
        "project_points": _q_project_points,
        "longitude_continuity": _q_longitude_continuity,
        "extract_text": _q_extract_text,
    }


def oracle_sql() -> dict[str, str]:
    ce, cn = _center_sql()
    label = _LABEL_SQL
    # grid node axes (linspace with forced endpoint)
    def axis_case(var, start, stop, size):
        step = (stop - start) / (size - 1)
        return (
            f"CASE WHEN {var} = {size - 1} THEN {stop!r} "
            f"ELSE {start!r} + {var} * {step!r} END"
        )

    e_nodes = axis_case("ix", -5.0, 0.0, 11)
    n_nodes = axis_case("iy", 5.0, 10.0, 11)
    grid_nodes_sql = f"""
        SELECT CAST(i // 11 AS BIGINT) AS iy, CAST(i % 11 AS BIGINT) AS ix,
               {n_nodes.replace('iy', '(i // 11)')} AS northing,
               {e_nodes.replace('ix', '(i % 11)')} AS easting
        FROM (SELECT UNNEST(range(121)) AS i)
    """
    # 13×13 interior node box for the linear/cubic plane-reproduction oracles
    ie = axis_case("ix", INNER_REGION[0], INNER_REGION[1], 13)
    in_ = axis_case("iy", INNER_REGION[2], INNER_REGION[3], 13)
    inner_nodes_sql = f"""
        SELECT CAST(i // 13 AS BIGINT) AS iy, CAST(i % 13 AS BIGINT) AS ix,
               {in_.replace('iy', '(i // 13)')} AS northing,
               {ie.replace('ix', '(i % 13)')} AS easting
        FROM (SELECT UNNEST(range(169)) AS i)
    """
    oracles = {
        "block_mean": f"""
            WITH pts AS ({_POINTS_SQL}),
            agg AS (
              SELECT {label} AS block, avg(scalars) AS scalars
              FROM pts GROUP BY 1
            )
            SELECT block, {ce} AS easting, {cn} AS northing, scalars
            FROM agg ORDER BY block
        """,
        "block_mean_weighted": f"""
            WITH pts AS ({_POINTS_SQL}),
            agg AS (
              SELECT {label} AS block, sum(weight*scalars)/sum(weight) AS scalars
              FROM pts GROUP BY 1
            )
            SELECT block, {ce} AS easting, {cn} AS northing, scalars
            FROM agg ORDER BY block
        """,
        "block_stats": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT {label} AS block, count(*) AS n,
                   min(scalars) AS min_val, max(scalars) AS max_val,
                   sum(scalars) AS sum_val
            FROM pts GROUP BY 1 ORDER BY block
        """,
        "block_median": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT {label} AS block, median(scalars) AS scalars
            FROM pts GROUP BY 1 ORDER BY block
        """,
        "block_mean_uncertainty": f"""
            WITH pts AS ({_POINTS_SQL}),
            agg AS (
              SELECT {label} AS block,
                     sum(weight*scalars)/sum(weight) AS scalars,
                     1.0/sum(weight) AS var
              FROM pts GROUP BY 1
            ),
            scaled AS (
              SELECT block, scalars,
                     CASE WHEN var > 1e-15
                          THEN (SELECT min(var) FROM agg WHERE var > 1e-15) / var
                          ELSE 1.0 END AS w
              FROM agg
            )
            SELECT block, scalars, round(w, 9) AS weight_scalars
            FROM scaled ORDER BY block
        """,
        "inside_filter": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT event_id, easting, northing FROM pts
            WHERE easting >= -3.0 AND easting <= -1.0
              AND northing >= 6.0 AND northing <= 8.0
        """,
        "get_region": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT min(easting) AS w, max(easting) AS e,
                   min(northing) AS s, max(northing) AS n
            FROM pts
        """,
        "grid_nodes": grid_nodes_sql,
        "checkerboard": f"""
            -- + 0.0 normalizes -0.0 (sign of the ~1e-16 libm residue at
            -- sign-change nodes differs per engine; round keeps signed zero)
            WITH nodes AS ({grid_nodes_sql})
            SELECT iy, ix,
                   round(1000.0 * sin(2*pi()/2.5 * easting)
                                * cos(2*pi()/2.5 * northing), 6) + 0.0 AS value
            FROM nodes
        """,
        "knn_join": f"""
            WITH pts AS ({_POINTS_SQL}),
            q AS (SELECT event_id AS query_id, easting AS qe, northing AS qn
                  FROM pts WHERE event_id < 20),
            cand AS (
              SELECT q.query_id, p.event_id AS neighbor_id,
                     sqrt((p.easting-q.qe)*(p.easting-q.qe)
                        + (p.northing-q.qn)*(p.northing-q.qn)) AS distance,
                     row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY sqrt((p.easting-q.qe)*(p.easting-q.qe)
                                   + (p.northing-q.qn)*(p.northing-q.qn)) ASC,
                                p.event_id ASC
                     ) AS rank
              FROM q CROSS JOIN pts p
            )
            SELECT query_id, neighbor_id, rank, round(distance, 9) AS distance
            FROM cand WHERE rank <= 3 ORDER BY query_id, rank
        """,
        "rolling_window": f"""
            WITH pts AS ({_POINTS_SQL}),
            centers AS (
              SELECT * FROM (VALUES {_rolling_centers_values()})
                AS t(win_id, center_easting, center_northing)
            )
            SELECT c.win_id, c.center_easting, c.center_northing,
                   count(*) AS n, sum(p.scalars) AS sum_val
            FROM centers c JOIN pts p
              ON abs(p.easting - c.center_easting) <= 1.0
             AND abs(p.northing - c.center_northing) <= 1.0
            GROUP BY 1, 2, 3 ORDER BY c.win_id
        """,
        "expanding_window": f"""
            WITH pts AS ({_POINTS_SQL}),
            cheb AS (
              SELECT scalars,
                     greatest(abs(easting - (-2.5)), abs(northing - 7.5)) AS d
              FROM pts
            )
            SELECT CAST(CASE WHEN d <= 0.5 THEN 0 WHEN d <= 1.0 THEN 1
                        WHEN d <= 2.0 THEN 2 END AS BIGINT) AS min_size_idx,
                   count(*) AS n
            FROM cheb WHERE d <= 2.0
            GROUP BY 1 ORDER BY min_size_idx
        """,
        "distance_mask": f"""
            WITH pts AS ({_POINTS_SQL}),
            data AS (SELECT easting, northing FROM pts WHERE event_id % 100 = 0),
            nodes AS ({grid_nodes_sql})
            SELECT iy, ix,
                   EXISTS(SELECT 1 FROM data d
                          WHERE (d.easting-nodes.easting)*(d.easting-nodes.easting)
                              + (d.northing-nodes.northing)*(d.northing-nodes.northing)
                              <= 0.75*0.75) AS in_range
            FROM nodes ORDER BY iy, ix
        """,
        "salted_mean": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT {_LABEL_SQL} AS block,
                   sum(1.0 * scalars) / sum(1.0) AS mean,
                   count(*) AS n
            FROM pts GROUP BY 1 ORDER BY block
        """,
        "polygon_properties": _poly_props_sql(),
        "mask_runs": f"""
            WITH pts AS ({_POINTS_SQL}),
            data AS (SELECT easting, northing FROM pts WHERE event_id % 100 = 0),
            nodes AS ({grid_nodes_sql}),
            flags AS (
              SELECT iy, ix,
                     EXISTS(SELECT 1 FROM data d
                            WHERE (d.easting-nodes.easting)*(d.easting-nodes.easting)
                                + (d.northing-nodes.northing)*(d.northing-nodes.northing)
                                <= 0.75*0.75) AS in_range
              FROM nodes
            ),
            grp AS (
              SELECT iy, ix,
                     ix - row_number() OVER (PARTITION BY iy ORDER BY ix) AS g
              FROM flags WHERE in_range
            )
            SELECT iy, min(ix) AS start_ix, max(ix) AS end_ix,
                   count(*) AS run_length
            FROM grp GROUP BY iy, g
            ORDER BY iy, start_ix
        """,
        "convexhull_mask": f"""
            WITH nodes AS ({grid_nodes_sql})
            SELECT iy, ix,
                   (easting >= -4.0 AND easting <= -1.0
                    AND northing >= 6.0 AND northing <= 9.0) AS in_hull
            FROM nodes ORDER BY iy, ix
        """,
        "cell_counts": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT {cell_encode_sql('easting', 'northing', 6)} AS cell, count(*) AS n
            FROM pts GROUP BY 1 ORDER BY cell
        """,
        "geotag_roundtrip": f"""
            WITH pts AS ({_POINTS_SQL}),
            tagged AS (
              SELECT event_id, printf('geo:%.6f,%.6f', northing, easting) AS text
              FROM pts WHERE event_id < 1000
            )
            SELECT event_id,
                   TRY_CAST(regexp_extract(text, 'geo:(-?\\d+\\.\\d+),(-?\\d+\\.\\d+)', 1) AS DOUBLE) AS lat,
                   TRY_CAST(regexp_extract(text, 'geo:(-?\\d+\\.\\d+),(-?\\d+\\.\\d+)', 2) AS DOUBLE) AS lon
            FROM tagged
        """,
        "trend_coefficients": f"""
            -- closed-form 3x3 normal-equation solve (Cramer) for the plane
            -- fit 10 + 2e - 0.4n; rounding to 6 decimals absorbs float noise
            WITH pts AS ({_POINTS_SQL}),
            d AS (SELECT easting AS e, northing AS n,
                         10.0 + 2.0*easting - 0.4*northing AS z FROM pts),
            s AS (
              SELECT count(*)::DOUBLE AS s00, sum(e) AS s10, sum(n) AS s01,
                     sum(e*e) AS s20, sum(e*n) AS s11, sum(n*n) AS s02,
                     sum(z) AS t0, sum(e*z) AS t1, sum(n*z) AS t2
              FROM d
            ),
            solved AS (
              SELECT
                (s00*(s20*s02-s11*s11) - s10*(s10*s02-s11*s01) + s01*(s10*s11-s20*s01)) AS det,
                (t0*(s20*s02-s11*s11) - s10*(t1*s02-s11*t2) + s01*(t1*s11-s20*t2)) AS d0,
                (s00*(t1*s02-t2*s11) - t0*(s10*s02-s11*s01) + s01*(s10*t2-t1*s01)) AS d1,
                (s00*(s20*t2-s11*t1) - s10*(s10*t2-t1*s01) + t0*(s10*s11-s20*s01)) AS d2
              FROM s
            )
            SELECT CAST(UNNEST([0, 1, 2]) AS BIGINT) AS coef_idx,
                   UNNEST([round(d0/det, 6), round(d1/det, 6), round(d2/det, 6)]) AS coef
            FROM solved
        """,
        "r2_score": f"""
            WITH pts AS ({_POINTS_SQL}),
            p AS (SELECT scalars, scalars*0.5 + 10.0 AS pred FROM pts)
            SELECT round(1.0 - sum((scalars-pred)*(scalars-pred))
                       / (sum(scalars*scalars) - sum(scalars)*sum(scalars)/count(*)), 9) AS r2
            FROM p
        """,
        "project_points": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT event_id, 2.0 * easting + 1.0 AS pe, 0.5 * northing - 3.0 AS pn
            FROM pts ORDER BY event_id
        """,
        "longitude_continuity": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT event_id,
                   (((CAST((event_id * 13) % 360 AS DOUBLE) + 180.0) % 360.0 + 360.0) % 360.0 - 180.0)
                     AS lon_fixed
            FROM pts ORDER BY event_id
        """,
        "point_in_polygon": f"""
            WITH pts AS ({_POINTS_SQL}),
            flags AS (
              SELECT (({_poly_crossing_sql()}) % 2) = 1 AS inside FROM pts
            )
            SELECT inside, count(*) AS n FROM flags
            GROUP BY inside ORDER BY inside
        """,
        "zonal_stats": f"""
            WITH pts AS ({_POINTS_SQL}),
            flags AS (
              SELECT scalars, (({_poly_crossing_sql()}) % 2) = 1 AS ins FROM pts
            )
            SELECT 'p1' AS poly_id, count(*) AS count_scalars,
                   sum(scalars) AS sum_scalars
            FROM flags WHERE ins
        """,
        "spline_grid": f"""
            WITH pts AS ({_POINTS_SQL}),
            agg AS (
              SELECT {GRID05.label_sql()} AS block, min(scalars) AS p
              FROM pts GROUP BY 1
            )
            SELECT block, round(p, 3) + 0.0 AS prediction
            FROM agg ORDER BY block
        """,
        "linear_grid": f"""
            WITH nodes AS ({inner_nodes_sql})
            SELECT iy, ix,
                   round(10.0 + 2.0 * easting - 0.5 * northing, 6) + 0.0 AS prediction
            FROM nodes ORDER BY iy, ix
        """,
        "cubic_grid": f"""
            WITH nodes AS ({inner_nodes_sql})
            SELECT iy, ix,
                   round(4.0 - 1.6 * easting + 0.2 * northing, 4) + 0.0 AS prediction
            FROM nodes ORDER BY iy, ix
        """,
        "rasterize_grid": f"""
            WITH nodes AS ({grid_nodes_sql}),
            hits AS (
              SELECT iy, ix, max(v) AS value FROM (
                SELECT iy, ix,
                       CASE WHEN (({_poly_crossing_sql()}) % 2) = 1
                            THEN 2.0 END AS v
                FROM nodes
                UNION ALL
                SELECT iy, ix,
                       CASE WHEN (({_poly_crossing_sql(_TRI2)}) % 2) = 1
                            THEN 5.0 END AS v
                FROM nodes
              ) GROUP BY iy, ix
            )
            SELECT n.iy, n.ix, n.northing, n.easting,
                   coalesce(h.value, 0.0) AS value
            FROM nodes n JOIN hits h ON n.iy = h.iy AND n.ix = h.ix
            ORDER BY n.iy, n.ix
        """,
        "extract_text": f"""
            SELECT doc_id,
                   {_extract_sql(f"'{_HTML_PREFIX}' || text || '{_HTML_SUFFIX}'")} AS text_out
            FROM documents WHERE doc_id < 500 ORDER BY doc_id
        """,
    }
    return oracles
