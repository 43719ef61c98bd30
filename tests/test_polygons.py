"""Point-in-polygon predicate + join — north-rule capability with no verde
counterpart (verde only has the convex hull special case).  Checked
against an independent NumPy PNPOLY implementation."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from verde_spark.operators import neighbors, polygons
from verde_spark.operators.polygons import (
    PolygonIndex,
    point_in_polygon,
    point_in_polygon_expr,
    polygon_join,
    polygon_literal,
)

# concave "arrow" polygon, no horizontal edges
ARROW = [(0.0, 0.1), (4.0, 1.1), (2.0, 3.2), (5.0, 5.3), (1.0, 6.4), (-1.0, 3.3)]


def pnpoly(x, y, verts):
    """Classic even-odd ray crossing (independent reference)."""
    inside = np.zeros_like(x, dtype=bool)
    n = len(verts)
    for i in range(n):
        ax, ay = verts[i]
        bx, by = verts[(i + 1) % n]
        straddles = (ay > y) != (by > y)
        xcross = ax + (bx - ax) * (y - ay) / np.where(by == ay, np.inf, by - ay)
        inside ^= straddles & (x < xcross)
    return inside


def test_point_in_polygon_matches_reference(spark):
    rng = np.random.RandomState(0)
    x = rng.uniform(-2, 6, 500)
    y = rng.uniform(-1, 7, 500)
    want = pnpoly(x, y, ARROW)
    assert 50 < want.sum() < 450  # the fixture actually discriminates
    df = spark.createDataFrame(pd.DataFrame({"easting": x, "northing": y}))
    got = (
        point_in_polygon(df, ARROW)
        .orderBy("easting")
        .select("inside")
        .toPandas()["inside"]
        .to_numpy()
    )
    order = np.argsort(x)
    np.testing.assert_array_equal(got, want[order])


def test_polygon_join_methods_agree(spark, monkeypatch):
    rng = np.random.RandomState(1)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "pid": np.arange(400),
                "easting": rng.uniform(-2, 12, 400),
                "northing": rng.uniform(-2, 12, 400),
            }
        )
    )
    polys = spark.createDataFrame(
        pd.DataFrame(
            {
                "poly_id": ["arrow", "diamond"],
                "vertices": [
                    [{"x": float(x), "y": float(y)} for x, y in ARROW],
                    [
                        {"x": 8.0, "y": 5.1},
                        {"x": 11.0, "y": 8.2},
                        {"x": 8.0, "y": 11.3},
                        {"x": 5.0, "y": 8.4},
                    ],
                ],
            }
        ),
        schema="poly_id string, vertices array<struct<x:double,y:double>>",
    )
    a = (
        polygon_join(pts, polys, method="bbox")
        .select("pid", "poly_id")
        .toPandas()
        .sort_values(["pid", "poly_id"])
        .reset_index(drop=True)
    )
    b = (
        polygon_join(pts, polys, method="cells")
        .select("pid", "poly_id")
        .toPandas()
        .sort_values(["pid", "poly_id"])
        .reset_index(drop=True)
    )
    assert len(a) > 10
    pd.testing.assert_frame_equal(a, b)
    # both calls above take the broadcast kernel; force the cell-cover
    # join so two distinct physical plans are compared
    monkeypatch.setattr(polygons, "BROADCAST_THRESHOLD", 0)
    c = (
        polygon_join(pts, polys, method="cells")
        .select("pid", "poly_id")
        .toPandas()
        .sort_values(["pid", "poly_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, c)


def test_polygon_join_semi_anti_partition(spark):
    rng = np.random.RandomState(2)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "pid": np.arange(300),
                "easting": rng.uniform(-2, 6, 300),
                "northing": rng.uniform(-1, 7, 300),
            }
        )
    )
    polys = spark.createDataFrame(
        pd.DataFrame(
            {
                "poly_id": ["arrow"],
                "vertices": [[{"x": float(x), "y": float(y)} for x, y in ARROW]],
            }
        ),
        schema="poly_id string, vertices array<struct<x:double,y:double>>",
    )
    semi = polygon_join(pts, polys, how="semi").select("pid").toPandas()["pid"]
    anti = polygon_join(pts, polys, how="anti").select("pid").toPandas()["pid"]
    assert len(semi) + len(anti) == 300
    assert set(semi) & set(anti) == set()
    assert len(semi) > 30


def test_zonal_stats(spark):
    from verde_spark.operators.polygons import zonal_stats

    rng = np.random.RandomState(3)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "easting": rng.uniform(-2, 6, 800),
                "northing": rng.uniform(-1, 7, 800),
                "value": rng.uniform(0, 10, 800),
            }
        )
    )
    polys = spark.createDataFrame(
        pd.DataFrame(
            {
                "poly_id": ["arrow"],
                "vertices": [[{"x": float(x), "y": float(y)} for x, y in ARROW]],
            }
        ),
        schema="poly_id string, vertices array<struct<x:double,y:double>>",
    )
    got = zonal_stats(pts, polys, "value", stats=("count", "mean", "sum")).toPandas()
    # reference via pnpoly
    pdf = pts.toPandas()
    mask = pnpoly(pdf["easting"].to_numpy(), pdf["northing"].to_numpy(), ARROW)
    assert got.loc[0, "count_value"] == mask.sum()
    np.testing.assert_allclose(got.loc[0, "mean_value"], pdf["value"][mask].mean())
    np.testing.assert_allclose(got.loc[0, "sum_value"], pdf["value"][mask].sum())


def test_point_in_polygon_random_star_polygons(spark):
    # randomized robustness: 20 random star-shaped (simple) polygons with
    # 5-12 vertices, all tested against the independent PNPOLY reference in
    # ONE Spark job (rows = polygon x point pairs)
    rng = np.random.RandomState(11)
    polys = []
    for pid in range(20):
        nv = rng.randint(5, 13)
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rad = rng.uniform(0.5, 3.0, nv)
        cx, cy = rng.uniform(-5, 5, 2)
        verts = [(cx + r * np.cos(a), cy + r * np.sin(a)) for a, r in zip(ang, rad)]
        polys.append((pid, verts))
    pts = rng.uniform(-8, 8, (200, 2))

    rows = []
    for pid, verts in polys:
        for i, (x, y) in enumerate(pts):
            rows.append((pid, i, float(x), float(y)))
    pair_df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["pid", "qid", "easting", "northing"])
    )
    poly_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "pid": [pid for pid, _ in polys],
                "vertices": [
                    [{"x": float(x), "y": float(y)} for x, y in verts]
                    for _, verts in polys
                ],
            }
        ),
        schema="pid bigint, vertices array<struct<x:double,y:double>>",
    )
    got = (
        pair_df.join(poly_df, "pid")
        .withColumn(
            "inside",
            point_in_polygon_expr(
                F.col("easting"), F.col("northing"), F.col("vertices")
            ),
        )
        .select("pid", "qid", "inside")
        .toPandas()
        .sort_values(["pid", "qid"])
        .reset_index(drop=True)
    )
    want = np.concatenate(
        [pnpoly(pts[:, 0], pts[:, 1], verts) for _, verts in polys]
    )
    np.testing.assert_array_equal(got["inside"].to_numpy(), want)


def test_zonal_stats_requires_polygon_id_column(spark):
    import pandas as pd
    import pytest as _pytest

    from verde_spark.operators.polygons import zonal_stats

    pts = spark.createDataFrame(
        pd.DataFrame({"easting": [0.5], "northing": [0.5], "v": [1.0]})
    )
    polys = spark.createDataFrame(
        [([{"x": 0.0, "y": 0.0}, {"x": 1.0, "y": 0.0}, {"x": 0.0, "y": 1.0}],)],
        schema="vertices array<struct<x:double,y:double>>",
    )
    with _pytest.raises(ValueError, match="id column"):
        zonal_stats(pts, polys, "v")


def test_polygon_properties(spark):
    from verde_spark.operators.polygons import polygon_literal, polygon_properties

    # CCW unit square offset to (2,3) + a CW triangle
    square = [(2.0, 3.0), (3.0, 3.0), (3.0, 4.0), (2.0, 4.0)]
    tri = [(0.0, 0.0), (0.0, 2.0), (4.0, 0.0)]  # CW → negative signed area
    df = spark.range(2).withColumn(
        "vertices",
        F.when(F.col("id") == 0, polygon_literal(square)).otherwise(
            polygon_literal(tri)
        ),
    )
    got = polygon_properties(df).orderBy("id").toPandas()
    assert got["area"].tolist() == [1.0, 4.0]
    assert got["signed_area"].tolist() == [1.0, -4.0]
    assert got["centroid_x"].tolist() == [2.5, pytest.approx(4 / 3)]
    assert got["centroid_y"].tolist() == [3.5, pytest.approx(2 / 3)]
    assert got[["bbox_w", "bbox_e", "bbox_s", "bbox_n"]].values.tolist() == [
        [2.0, 3.0, 3.0, 4.0],
        [0.0, 4.0, 0.0, 2.0],
    ]
    # zero Python, zero shuffle: pure projection plan
    plan = polygon_properties(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_polygon_properties_degenerate(spark):
    from verde_spark.operators.polygons import polygon_literal, polygon_properties

    seg = [(0.0, 0.0), (4.0, 2.0)]  # 2 vertices: zero area
    df = spark.range(1).withColumn("vertices", polygon_literal(seg))
    got = polygon_properties(df).toPandas()
    assert got["area"][0] == 0.0
    assert got["centroid_x"][0] == 2.0 and got["centroid_y"][0] == 1.0


# ---------------------------------------------------------------------------
# rasterize (vector→raster)
# ---------------------------------------------------------------------------

TRI = [(1.0, 0.2), (6.0, 2.3), (2.0, 5.6)]


def _poly_df(spark, polys):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "val": [v for v, _ in polys],
                "vertices": [
                    [{"x": float(x), "y": float(y)} for x, y in verts]
                    for _, verts in polys
                ],
            }
        ),
        schema="val double, vertices array<struct<x:double,y:double>>",
    )


def _raster_reference(region, shape, polys, agg, fill):
    w, e, s, n = region
    xs = np.linspace(w, e, shape[1])
    ys = np.linspace(s, n, shape[0])
    xx, yy = np.meshgrid(xs, ys)
    out = np.full(shape, np.nan)
    hits = np.zeros(shape)
    for val, verts in polys:
        m = pnpoly(xx, yy, verts)
        if agg == "max":
            out[m] = np.fmax(out[m], val)
        elif agg == "sum":
            out[m] = np.where(np.isnan(out[m]), val, out[m] + val)
        elif agg == "count":
            hits[m] += 1
    if agg == "count":
        out = np.where(hits > 0, hits, np.nan)
    if fill is not None:
        out = np.where(np.isnan(out), fill, out)
    return out


@pytest.mark.parametrize("method", ["broadcast", "cells"])
@pytest.mark.parametrize("agg", ["max", "sum", "count"])
def test_rasterize_matches_reference(spark, method, agg):
    from verde_spark.operators.polygons import rasterize

    region = (-2.0, 7.0, -1.0, 7.0)
    shape = (19, 19)
    polys = [(2.0, ARROW), (5.0, TRI)]
    want = _raster_reference(region, shape, polys, agg, fill=0.0)
    got = (
        rasterize(
            _poly_df(spark, polys), region, shape=shape,
            value_col="val", fill=0.0, agg=agg, method=method,
        )
        .orderBy("iy", "ix")
        .toPandas()["value"]
        .to_numpy()
        .reshape(shape)
    )
    assert (want > 0).any() and (want == 0).any()  # non-vacuous
    np.testing.assert_array_equal(got, want)
    if agg == "max":  # overlap region must show the larger burn value
        assert (want == 5.0).any() and (want == 2.0).any()


def test_rasterize_no_value_col_and_null_fill(spark):
    from verde_spark.operators.polygons import rasterize

    region = (-2.0, 7.0, -1.0, 7.0)
    got = rasterize(
        _poly_df(spark, [(1.0, TRI)]).drop("val"), region, shape=(9, 9)
    ).toPandas()
    inside = got["value"].notna()
    assert inside.any() and (~inside).any()
    assert (got.loc[inside, "value"] == 1.0).all()


def test_rasterize_empty_polygon_table(spark):
    from verde_spark.operators.polygons import rasterize

    empty = _poly_df(spark, []).limit(0)
    got = rasterize(empty, (0.0, 1.0, 0.0, 1.0), shape=(4, 4), fill=-1.0)
    vals = got.toPandas()["value"]
    assert len(vals) == 16 and (vals == -1.0).all()


def test_rasterize_broadcast_is_zero_shuffle(spark):
    from verde_spark.operators.polygons import rasterize

    plan = (
        rasterize(_poly_df(spark, [(1.0, TRI)]), (0.0, 6.0, 0.0, 6.0), shape=(50, 50), value_col="val")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "Join" not in plan
    assert "Python" not in plan


def test_rasterize_broadcast_null_burn_value(spark):
    # ADVICE r3: a NULL in value_col crashed the broadcast path (None in
    # the sort key); spec'd behavior: null-valued polygons burn nothing,
    # matching the cells path where SQL aggregates ignore NULL values
    import pandas as pd

    from verde_spark.operators.polygons import rasterize

    region = (-2.0, 7.0, -1.0, 7.0)
    polys = spark.createDataFrame(
        pd.DataFrame(
            {
                "val": [3.0, None],
                "vertices": [
                    [{"x": float(x), "y": float(y)} for x, y in TRI],
                    [{"x": 0.0, "y": 0.0}, {"x": 1.0, "y": 0.0}, {"x": 0.5, "y": 1.0}],
                ],
            }
        )
    )
    got = rasterize(polys, region, shape=(9, 9), value_col="val").toPandas()
    inside = got["value"].notna()
    assert inside.any()
    assert (got.loc[inside, "value"] == 3.0).all()  # only the non-null burns


def test_degenerate_empty_polygon_contains_nothing(spark):
    """An empty vertex array (upstream geometry-cleaning artifact) is
    not-inside for every point — not a negative-length slice crash that
    fails the whole join (review r5)."""
    from verde_spark.operators.polygons import point_in_polygon_expr

    polys = spark.createDataFrame(
        [
            (1, [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)]),
            (2, []),
        ],
        "poly_id long, vertices array<struct<x double, y double>>",
    )
    pts = spark.createDataFrame([(1.0, 1.0)], "x double, y double")
    got = (
        pts.crossJoin(polys)
        .select(
            "poly_id",
            point_in_polygon_expr(
                F.col("x"), F.col("y"), F.col("vertices")
            ).alias("inside"),
        )
        .collect()
    )
    by_id = {r["poly_id"]: r["inside"] for r in got}
    assert by_id[1] is True and by_id[2] is False


# ---------------------------------------------------------------------------
# broadcast kernel (PolygonIndex) against brute force and the cell join
# ---------------------------------------------------------------------------


def _star_polygons(rng, n, region):
    w, e, s, north = region
    polys = []
    for _ in range(n):
        nv = rng.integers(3, 13)
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rad = rng.uniform(0.5, 6.0, nv)
        cx, cy = rng.uniform(w, e), rng.uniform(s, north)
        polys.append([(cx + r * np.cos(a), cy + r * np.sin(a)) for a, r in zip(ang, rad)])
    return polys


@pytest.mark.parametrize("n_points,chunk", [(20_000, None), (2_000, 16)])
def test_polygon_index_matches_brute_force(monkeypatch, n_points, chunk):
    if chunk is not None:
        # chunk boundaries now fall between one point's candidate polygons
        monkeypatch.setattr(neighbors, "_CHUNK", chunk)
    rng = np.random.default_rng(5)
    polys = _star_polygons(rng, 200, (0.0, 100.0, 0.0, 100.0))
    # degenerate entries: no vertex array, 0, 1 and 2 vertices, a null vertex
    polys += [None, [], [(50.0, 50.0)], [(10.0, 10.0), (90.0, 90.0)],
              [(40.0, 40.0), (None, None), (60.0, 40.0), (50.0, 60.0)]]
    x = rng.uniform(-20, 120, n_points)  # some points outside every bbox
    y = rng.uniform(-20, 120, n_points)
    # points planted on vertices and at the middle of edges
    verts = np.array([p for v in polys[:200] for p in v])
    k = min(500, n_points // 4)
    x[:k], y[:k] = verts[:k, 0], verts[:k, 1]
    x[k:2 * k] = (verts[:k, 0] + verts[1:k + 1, 0]) / 2
    y[k:2 * k] = (verts[:k, 1] + verts[1:k + 1, 1]) / 2
    x[2 * k], y[2 * k + 1] = np.nan, np.nan

    offsets = _assert_brute_force(PolygonIndex(polys), polys, x, y)
    assert offsets[-1] > n_points // 10  # the fixture discriminates
    assert np.diff(offsets).max() >= 2  # overlapping polygons


def _assert_brute_force(index, polys, x, y):
    """``index.contains`` equals PNPOLY over every polygon; the offsets."""
    offsets, poly = index.contains(x, y)
    assert offsets[0] == 0 and offsets[-1] == len(poly) and (np.diff(offsets) >= 0).all()
    got_point = np.repeat(np.arange(len(x)), np.diff(offsets))
    want = []
    for i, v in enumerate(polys):
        if v is not None and len(v) >= 2:
            inside = pnpoly(x, y, np.array(v, "float64"))
            want += [(j, i) for j in np.flatnonzero(inside)]
    want = np.array(want).reshape(-1, 2)
    want = want[np.lexsort((want[:, 1], want[:, 0]))]
    # already in point order with polygons ascending
    np.testing.assert_array_equal(got_point, want[:, 0])
    np.testing.assert_array_equal(poly, want[:, 1])
    return offsets


def _cover_case(case):
    """``(polygons, x, y)`` whose median bbox width makes a tiny cell."""
    rng = np.random.default_rng(6)
    corners = rng.uniform(0, 40, (1000, 2))
    if case == "one_large":
        # the median width sets a 0.0025 cell: 2.6e8 cells for the square
        polys = [[(a, b), (a + 0.01, b), (a, b + 0.01)] for a, b in corners]
        polys.append([(0.0, 0.0), (40.0, 0.0), (40.0, 40.0), (0.0, 40.0)])
    else:
        # 1-vertex rows have no edge and no cover; vertical slits have a
        # zero width, so the median width is 0 and the cell 1e-12
        polys = [[(a, b)] for a, b in corners[:800]]
        polys += [[(a, b), (a, b + 5.0)] for a, b in corners[800:990]]
        polys += [[(a, b), (a + 3.0, b), (a, b + 3.0)] for a, b in corners[990:]]
    x, y = rng.uniform(-5, 45, 5000), rng.uniform(-5, 45, 5000)
    # inside the tiny triangles of the first case
    x[:100], y[:100] = corners[:100, 0] + 0.002, corners[:100, 1] + 0.002
    return polys, x, y


@pytest.mark.parametrize("case", ["one_large", "zero_width"])
def test_polygon_index_cover_is_bounded(case):
    polys, x, y = _cover_case(case)
    index = PolygonIndex(polys)
    covered = sum(v is not None and len(v) >= 2 for v in polys)
    assert len(index.cell_poly) <= polygons._COVER * covered
    offsets = _assert_brute_force(index, polys, x, y)
    assert offsets[-1] > 50


@pytest.mark.parametrize("case", ["one_large", "zero_width"])
def test_cell_cover_is_bounded(spark, monkeypatch, case):
    from verde_spark.coordinates import grid_coordinates
    from verde_spark.operators.polygons import rasterize

    polys, x, y = _cover_case(case)
    boxes = np.array([[f(np.array(v)[:, c]) for c in (0, 1) for f in (np.min, np.max)]
                      for v in polys if len(v) >= 2])
    sides, cell_cover = [], polygons._cell_cover

    def cells(s):
        n = np.floor(boxes[:, 1::2] / s) - np.floor(boxes[:, 0::2] / s) + 1
        return (n[:, 0] * n[:, 1]).sum()

    def checked(*args):
        # the NumPy count of the cover the side makes, before Spark runs
        # it; half the side would exceed the bound, so no doubling is spare
        cover, s = cell_cover(*args)
        assert cells(s) <= polygons._COVER * len(boxes) < cells(s / 2)
        sides.append(s)
        return cover, s

    monkeypatch.setattr(polygons, "_cell_cover", checked)
    monkeypatch.setattr(polygons, "BROADCAST_THRESHOLD", 0)
    poly_df = spark.createDataFrame(
        [(i, [{"x": float(a), "y": float(b)} for a, b in v]) for i, v in enumerate(polys)],
        "poly_id long, vertices array<struct<x:double,y:double>>",
    )
    pts = spark.createDataFrame(pd.DataFrame({"pid": np.arange(len(x)), "easting": x, "northing": y}))
    pairs = polygon_join(pts, poly_df, point_id="pid").select("pid", "poly_id").toPandas()
    offsets, poly = PolygonIndex(polys).contains(x, y)
    want = sorted(zip(np.repeat(np.arange(len(x)), np.diff(offsets)).tolist(), poly.tolist()))
    assert sorted(map(tuple, pairs.to_numpy().tolist())) == want and len(want) > 50

    region, shape = (-5.0, 45.0, -5.0, 45.0), (41, 41)
    raster = rasterize(poly_df.select("vertices"), region, shape=shape, agg="count",
                       method="cells", fill=0.0).orderBy("iy", "ix").toPandas()
    nodes = grid_coordinates(spark, region, shape=shape).orderBy("iy", "ix").toPandas()
    offsets, _ = PolygonIndex(polys).contains(nodes["easting"], nodes["northing"])
    np.testing.assert_array_equal(raster["value"], np.diff(offsets))
    assert len(sides) == 2


def test_cell_cover_beyond_the_candidate_doublings(spark):
    # zero median width: 1e-12 doubled 63 times still cuts the 1e9 square
    # into ~1e4 cells, so the side grows to the largest bbox side instead
    polys = polygons._poly_bbox(spark.createDataFrame(
        [([{"x": 0.0, "y": 0.0}, {"x": 0.0, "y": 1.0}],),
         ([{"x": 5.0, "y": 0.0}, {"x": 5.0, "y": 1.0}],),
         ([{"x": 0.0, "y": 0.0}, {"x": 1e9, "y": 0.0}, {"x": 1e9, "y": 1e9}],)],
        "vertices array<struct<x:double,y:double>>",
    ), "vertices")
    cover, s = polygons._cell_cover(polys, "vertices", None)
    assert 1e9 <= s < 2e9
    assert cover.count() <= polygons._COVER * 3


def test_polygon_index_empty_and_no_candidates():
    offsets, poly = PolygonIndex([]).contains([0.0, np.nan], [0.0, 1.0])
    np.testing.assert_array_equal(offsets, [0, 0, 0])
    assert len(poly) == 0
    index = PolygonIndex([[(0.0, 0.0), (1.0, 0.0), (0.0, 1.0)]], cell_spacing=0.1)
    offsets, poly = index.contains(np.zeros(0), np.zeros(0))
    np.testing.assert_array_equal(offsets, [0])
    offsets, poly = index.contains([0.2, 5.0, -1e300, np.inf], [0.2, 5.0, 0.2, 0.2])
    np.testing.assert_array_equal(offsets, [0, 1, 1, 1, 1])
    np.testing.assert_array_equal(poly, [0])


SQUARE = [(10.0, 0.0), (12.0, 0.0), (12.0, 2.0), (10.0, 2.0)]
OVERLAP = ([(20.0, 0.0), (24.0, 0.0), (24.0, 4.0), (20.0, 4.0)],
           [(22.0, 2.0), (26.0, 1.0), (25.0, 6.0)])


@pytest.fixture(scope="module")
def parity_tables(spark):
    """Polygons with edge cases and points planted on them."""
    polys = [
        (0, ARROW), (1, SQUARE), (2, OVERLAP[0]), (3, OVERLAP[1]),
        (4, []), (5, [(1.0, 1.0)]), (6, [(0.0, 0.0), (30.0, 6.0)]), (7, None),
    ]
    poly_df = spark.createDataFrame(
        [(i, None if v is None else [{"x": float(a), "y": float(b)} for a, b in v])
         for i, v in polys],
        "poly_id long, vertices array<struct<x:double,y:double>>",
    )
    rng = np.random.RandomState(4)
    pts = [(float(a), float(b)) for a, b in ARROW]  # vertices
    for (ax, ay), (bx, by) in zip(ARROW, ARROW[1:] + ARROW[:1]):
        for t in (0.25, 0.5, 0.75):  # on (or within rounding of) edges
            pts.append((ax + t * (bx - ax), ay + t * (by - ay)))
    # SQUARE's (1, 0) (inside) and (0.5, 2) (outside), shifted by 10
    pts += [(11.0, 0.0), (10.5, 2.0), (10.0, 1.0), (12.0, 1.0), (11.0, 1.0)]
    pts += [(23.0, 2.5), (22.0, 2.0), (1.0, 1.0), (15.0, 3.0)]
    pts += [(float(a), float(b)) for a, b in zip(rng.uniform(-2, 27, 300), rng.uniform(-1, 7, 300))]
    pts += [(float("nan"), 1.0), (11.0, float("nan")), (None, 1.0), (11.0, None)]
    pt_df = spark.createDataFrame(
        [(i, a, b, f"p{i}") for i, (a, b) in enumerate(pts)],
        "pid long, easting double, northing double, tag string",
    )
    return pt_df, poly_df


def _rows(df):
    """Collected rows as sortable tuples, NaN made comparable."""
    def norm(v):
        return "nan" if isinstance(v, float) and v != v else v
    return sorted((tuple(norm(v) for v in r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("how", ["inner", "semi", "anti"])
@pytest.mark.parametrize("point_id", [None, "pid"])
def test_broadcast_kernel_matches_cell_join(spark, monkeypatch, parity_tables, how, point_id):
    pts, polys = parity_tables
    kernel = polygon_join(pts, polys, how=how, point_id=point_id)
    monkeypatch.setattr(polygons, "BROADCAST_THRESHOLD", 0)
    cells = polygon_join(pts, polys, how=how, point_id=point_id)
    assert "ArrowEvalPython" in kernel._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in cells._jdf.queryExecution().executedPlan().toString()
    assert kernel.schema == cells.schema  # names, order, types, nullability
    got, want = _rows(kernel), _rows(cells)
    assert got == want
    ids = {r[0] for r in got}
    last = pts.count()
    nulls = set(range(last - 4, last))  # the null and NaN coordinates
    if how == "anti":
        assert nulls <= ids  # null/NaN coordinates are outside every polygon
    else:
        assert not nulls & ids
    if how == "inner":
        pairs = {(r[0], r[4]) for r in got}
        n0 = len(ARROW) * 4
        assert (n0, 1) in pairs and (n0 + 1, 1) not in pairs  # (1, 0) in, (0.5, 2) out
        assert (n0 + 5, 2) in pairs and (n0 + 5, 3) in pairs  # one point, two rows
        assert not {p for _, p in pairs} & {4, 5, 6, 7}  # degenerate: nothing inside


@pytest.mark.parametrize("bound", ["BROADCAST_THRESHOLD", "BROADCAST_VERTICES"])
def test_side_over_either_bound_takes_cell_join(spark, monkeypatch, parity_tables, bound):
    pts, polys = parity_tables
    size = polys.select(
        F.count(F.lit(1)) if bound == "BROADCAST_THRESHOLD"
        else F.sum(F.greatest(F.size("vertices"), F.lit(0)))
    ).first()[0]
    monkeypatch.setattr(polygons, bound, size)
    kernel = polygon_join(pts, polys, how="semi", point_id="pid")
    monkeypatch.setattr(polygons, bound, size - 1)
    cells = polygon_join(pts, polys, how="semi", point_id="pid")
    assert "ArrowEvalPython" in kernel._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in cells._jdf.queryExecution().executedPlan().toString()
    assert _rows(kernel) == _rows(cells)


def test_empty_polygon_table(spark, monkeypatch):
    from verde_spark.operators.polygons import rasterize, zonal_stats

    pts = spark.createDataFrame(
        pd.DataFrame({"easting": [0.5, 2.0], "northing": [0.5, 2.0], "v": [1.0, 2.0]})
    )
    empty = spark.createDataFrame(
        [], "poly_id long, vertices array<struct<x:double,y:double>>"
    )
    assert polygon_join(pts, empty).count() == 0
    assert polygon_join(pts, empty, how="anti").count() == 2
    assert zonal_stats(pts, empty, "v").count() == 0
    got = rasterize(empty.drop("poly_id"), (0.0, 1.0, 0.0, 1.0), shape=(3, 3),
                    method="cells", fill=-1.0).toPandas()["value"]
    assert len(got) == 9 and (got == -1.0).all()
    monkeypatch.setattr(polygons, "BROADCAST_THRESHOLD", 0)
    assert polygon_join(pts, empty).count() == 0
    assert polygon_join(pts, empty, how="semi").count() == 0
