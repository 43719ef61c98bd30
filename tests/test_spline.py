"""Spline gridding goldens ported from verde tests/test_spline.py."""

import numpy as np
import numpy.testing as npt
import pandas as pd
import pytest
from pyspark.sql import functions as F

from verde_spark import CheckerBoard, Spline, r2_score
from verde_spark.coordinates import grid_coordinates


def test_spline_exact(spark):
    # verde tests/test_spline.py:77-98: exact interpolation at data points
    region = (100, 500, -800, -700)
    synth = CheckerBoard(region=region)
    data = synth.scatter(spark, size=1500, random_state=1).cache()
    spline = Spline().fit(data)
    pred = spline.predict(data, "pred").toPandas()
    npt.assert_allclose(pred["pred"], pred["scalars"], rtol=1e-5)
    # score ~ 1
    scored = spline.predict(data, "pred")
    assert r2_score(scored, "scalars", "pred") > 0.99999
    # interior grid matches the truth to rtol 5e-2
    grid_region, shape = (270, 320, -770, -720), (5, 5)
    got = spline.grid(spark, region=grid_region, shape=shape, output_col="pred").toPandas()
    truth = synth.predict_numpy(got["easting"].to_numpy(), got["northing"].to_numpy())
    npt.assert_allclose(got["pred"], truth, rtol=5e-2)


def test_spline_weights_outlier(spark):
    # verde tests/test_spline.py:120-136: damped weighted fit ignores outlier
    synth = CheckerBoard()
    east, north, scalars = synth.scatter_numpy(size=2000, random_state=1)
    data_outlier = scalars.copy()
    data_outlier[500] += 100e3
    weights = np.ones_like(scalars)
    weights[500] = 1e-10
    df = spark.createDataFrame(
        pd.DataFrame(
            {"easting": east, "northing": north, "scalars": data_outlier, "weight": weights}
        )
    ).cache()
    spline = Spline(damping=1e-8).fit(df, weight_col="weight")
    pred = spline.predict(df, "pred").toPandas().sort_values("easting")
    truth = synth.predict_numpy(pred["easting"].to_numpy(), pred["northing"].to_numpy())
    npt.assert_allclose(pred["pred"], truth, rtol=1e-2, atol=10)


def test_spline_solve_grid_fused_matches_two_pass(spark):
    # the fused single grouped pass must equal fit().grid() exactly
    from verde_spark.operators.spline import spline_solve_grid

    region = (100, 500, -800, -700)
    synth = CheckerBoard(region=region)
    data = synth.scatter(spark, size=800, random_state=2).cache()
    two_pass = (
        Spline(damping=1e-8, tile_spacing=200.0, halo=100.0)
        .fit(data, region=region)
        .grid(spark, region=region, shape=(12, 12), output_col="pred")
        .orderBy("iy", "ix")
        .toPandas()
    )
    fused = (
        spline_solve_grid(
            data, region=region, shape=(12, 12), tile_spacing=200.0, halo=100.0,
            damping=1e-8, output_col="pred",
        )
        .orderBy("iy", "ix")
        .toPandas()
    )
    npt.assert_allclose(fused["pred"], two_pass["pred"], rtol=1e-12)


def test_spline_tiled_matches_global(spark):
    # distributed seams check: tiled solve with halo ≈ single global solve
    region = (100, 500, -800, -700)
    synth = CheckerBoard(region=region)
    data = synth.scatter(spark, size=1500, random_state=0).cache()
    tiled = Spline(damping=1e-10, tile_spacing=200.0, halo=100.0).fit(data)
    grid_region, shape = (270, 320, -770, -720), (8, 8)
    got = tiled.grid(spark, region=grid_region, shape=shape, output_col="pred").toPandas()
    truth = synth.predict_numpy(got["easting"].to_numpy(), got["northing"].to_numpy())
    npt.assert_allclose(got["pred"], truth, rtol=8e-2)


def test_spline_solve_grid_resumable(spark, tmp_path):
    # checkpointed fused solve == plain fused solve; resume skips all tiles
    from verde_spark.checkpoint import TileCheckpoint
    from verde_spark.operators.spline import spline_solve_grid, spline_solve_grid_resumable

    region = (100, 500, -800, -700)
    synth = CheckerBoard(region=region)
    data = synth.scatter(spark, size=600, random_state=3).cache()
    kwargs = dict(
        region=region, shape=(10, 10), tile_spacing=200.0, halo=100.0,
        damping=1e-8, output_col="pred",
    )
    plain = spline_solve_grid(data, **kwargs).orderBy("iy", "ix").toPandas()
    path = str(tmp_path / "ckpt")
    out1 = spline_solve_grid_resumable(data, checkpoint_path=path, **kwargs)
    got1 = out1.orderBy("iy", "ix").toPandas()
    npt.assert_allclose(got1["pred"], plain["pred"], rtol=1e-12)
    # lineage manifest: one completed row per tile with metrics
    man = TileCheckpoint(path).manifest(spark).toPandas()
    assert set(man["status"]) == {"ok"}
    assert (man["rows_in"] > 0).all() and (man["rows_out"] > 0).all()
    n_tiles = man["tile"].nunique()
    # resume: nothing left -> same result, manifest unchanged
    got2 = (
        spline_solve_grid_resumable(data, checkpoint_path=path, **kwargs)
        .orderBy("iy", "ix")
        .toPandas()
    )
    npt.assert_allclose(got2["pred"], plain["pred"], rtol=1e-12)
    man2 = TileCheckpoint(path).manifest(spark).toPandas()
    assert man2["tile"].nunique() == n_tiles
    assert len(man2) == len(man)


def test_spline_resumable_covers_point_free_tiles(spark, tmp_path):
    # data covering only part of the region: tiles with no points must
    # still emit their grid nodes (NaN), identical to the plain fused path
    from verde_spark.operators.spline import spline_solve_grid, spline_solve_grid_resumable

    region = (0, 400, 0, 400)
    synth = CheckerBoard(region=(0, 180, 0, 180))
    data = synth.scatter(spark, size=300, random_state=7).cache()
    kwargs = dict(
        region=region, shape=(10, 10), tile_spacing=100.0, halo=50.0,
        damping=1e-8, output_col="pred",
    )
    plain = spline_solve_grid(data, **kwargs).orderBy("iy", "ix").toPandas()
    path = str(tmp_path / "ckpt")
    got = (
        spline_solve_grid_resumable(data, checkpoint_path=path, **kwargs)
        .orderBy("iy", "ix")
        .toPandas()
    )
    assert len(got) == len(plain) == 100
    # NaN pattern and values must match exactly (NaN-safe comparison)
    npt.assert_array_equal(got["pred"].isna().to_numpy(), plain["pred"].isna().to_numpy())
    assert plain["pred"].isna().sum() > 0  # the sparse layout really has empty tiles
    ok = ~plain["pred"].isna()
    npt.assert_allclose(got["pred"][ok], plain["pred"][ok], rtol=1e-12)


def test_spline_solve_grid_custom_coordinate_names(spark):
    """easting=/northing= must be forwarded to the node table (review
    r5: defaults-only nodes crashed on UNRESOLVED_COLUMN) and give the
    same grid as default names on the same data."""
    from pyspark.sql import functions as F

    from verde_spark.operators.spline import spline_solve_grid

    region = (100, 500, -800, -700)
    synth = CheckerBoard(region=region)
    data = synth.scatter(spark, size=400, random_state=5).cache()
    want = (
        spline_solve_grid(
            data, region=region, shape=(8, 8), tile_spacing=200.0,
            halo=100.0, damping=1e-8, output_col="pred",
        )
        .orderBy("iy", "ix")
        .toPandas()
    )
    renamed = data.select(
        F.col("easting").alias("lon"),
        F.col("northing").alias("lat"),
        "scalars",
    )
    got = (
        spline_solve_grid(
            renamed, region=region, shape=(8, 8), tile_spacing=200.0,
            halo=100.0, damping=1e-8, easting="lon", northing="lat",
            output_col="pred",
        )
        .orderBy("iy", "ix")
        .toPandas()
    )
    assert list(got.columns) == ["iy", "ix", "lat", "lon", "pred"]
    npt.assert_allclose(got["pred"], want["pred"], rtol=1e-12)


def _checker_points(spark, region, size, seed):
    synth = CheckerBoard(region=region)
    east, north, scalars = synth.scatter_numpy(size=size, random_state=seed)
    pdf = pd.DataFrame({"easting": east, "northing": north, "scalars": scalars})
    return pdf, spark.createDataFrame(pdf).cache()


def test_spline_force_coords_single_tile_matches_numpy(spark):
    # forces away from the data: one rectangular solve, equal to the
    # direct NumPy Jacobian + least squares of the whole table
    from verde_spark.lstsq import least_squares
    from verde_spark.operators.spline import spline_jacobian, spline_predict

    # undamped, 16 forces for 300 points: well enough conditioned that the
    # order rows reach the tile moves the result by about 2e-11
    region = (0, 10, 0, 10)
    pdf, data = _checker_points(spark, region, 300, 11)
    fe, fn = np.meshgrid(np.linspace(0.5, 9.5, 4), np.linspace(0.7, 9.3, 4))
    fe, fn = fe.ravel(), fn.ravel()
    spline = Spline(force_coords=(fe, fn)).fit(data)
    got = spline.predict(data, "pred").toPandas().sort_values(["easting", "northing"])
    east, north = pdf["easting"].to_numpy(), pdf["northing"].to_numpy()
    jac = spline_jacobian(east, north, fe, fn)
    forces = least_squares(jac, pdf["scalars"].to_numpy())
    want = spline_predict(
        got["easting"].to_numpy(), got["northing"].to_numpy(), fe, fn, forces
    )
    npt.assert_allclose(got["pred"].to_numpy(), want, rtol=1e-10)


def test_spline_force_coords_at_data_equals_square_tiled(spark):
    # forces placed on the data points: the cogrouped rectangular path
    # solves the same per-tile systems as the square path
    region = (0, 100, 0, 100)
    pdf, data = _checker_points(spark, region, 400, 12)
    kwargs = dict(damping=1e-6, tile_spacing=50.0, halo=20.0)
    square = Spline(**kwargs).fit(data, region=region)
    rect = Spline(
        force_coords=(pdf["easting"].to_numpy(), pdf["northing"].to_numpy()), **kwargs
    ).fit(data, region=region)
    nodes = grid_coordinates(spark, region, shape=(9, 9))
    want = square.predict(nodes, "pred").orderBy("iy", "ix").toPandas()
    got = rect.predict(nodes, "pred").orderBy("iy", "ix").toPandas()
    assert not want["pred"].isna().any()
    npt.assert_allclose(got["pred"], want["pred"], rtol=1e-12)


@pytest.mark.parametrize(
    "shape, easting, northing",
    [((9, 9), "easting", "northing"), ((17, 33), "easting", "northing"), ((9, 9), "lon", "lat")],
)
def test_spline_solve_grid_node_set_is_grid_coordinates(spark, shape, easting, northing):
    # nodes made inside the tile kernel: these shapes put nodes exactly on
    # tile edges, so each must land in exactly one tile, bit-identical to
    # the grid_coordinates table
    from verde_spark.operators.spline import spline_solve_grid

    region = (0, 400, 0, 400)
    _, data = _checker_points(spark, region, 500, 13)
    data = data.select(
        F.col("easting").alias(easting), F.col("northing").alias(northing), "scalars"
    )
    got = spline_solve_grid(
        data, region=region, shape=shape, tile_spacing=100.0, damping=1e-8,
        easting=easting, northing=northing,
    ).toPandas()
    cols = ["iy", "ix", easting, northing]
    want = grid_coordinates(spark, region, shape=shape, easting=easting, northing=northing)
    want = want.toPandas()[cols].sort_values(["iy", "ix"]).reset_index(drop=True)
    assert len(got) == len(want) == shape[0] * shape[1]
    assert not got.duplicated(["iy", "ix"]).any()
    got = got[cols].sort_values(["iy", "ix"]).reset_index(drop=True)
    for col in cols:
        npt.assert_array_equal(got[col].to_numpy(), want[col].to_numpy())
