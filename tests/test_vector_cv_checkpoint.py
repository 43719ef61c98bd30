"""Vector gridders, SplineCV, projections, checkpoint/resume."""

import numpy as np
import numpy.testing as npt
import pandas as pd
import pytest
from pyspark.sql import functions as F

from verde_spark import CheckerBoard, KNeighbors, Spline, Trend, r2_score
from verde_spark.checkpoint import TileCheckpoint, run_resumable
from verde_spark.operators.projections import project_grid, project_points
from verde_spark.operators.splinecv import SplineCV
from verde_spark.operators.vector import Vector, VectorSpline2D, greens_func_2d


def _vector_scatter(spark, size=600, seed=2):
    # smooth coupled vector field over the default CheckerBoard region
    synth = CheckerBoard(region=(0, 5000, -5000, 0))
    east, north, val = synth.scatter_numpy(size=size, random_state=seed)
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "easting": east,
                "northing": north,
                "east_component": val,
                "north_component": 0.5 * val,
            }
        )
    ).cache()


def test_vector_independent_components(spark):
    df = _vector_scatter(spark)
    vec = Vector(
        [
            ("east_component", lambda: Spline()),
            ("north_component", lambda: Spline()),
        ]
    ).fit(df)
    pred = vec.predict(df).toPandas()
    npt.assert_allclose(pred["east_component_pred"], pred["east_component"], rtol=1e-4, atol=1e-6)
    npt.assert_allclose(pred["north_component_pred"], pred["north_component"], rtol=1e-4, atol=1e-6)


def test_vector_spline2d_exact_at_data(spark):
    # verde tests/test_vector.py semantics: coupled spline recovers the data
    df = _vector_scatter(spark, size=400)
    vs = VectorSpline2D(mindist=10e3, damping=None).fit(df)
    pred = vs.predict(df).toPandas()
    npt.assert_allclose(pred["east_component_pred"], pred["east_component"], rtol=1e-3, atol=0.5)
    npt.assert_allclose(pred["north_component_pred"], pred["north_component"], rtol=1e-3, atol=0.5)


def test_greens_func_2d_uncoupled_at_poisson_minus1():
    # poisson = -1 → over_r2 term vanishes → g_ne = 0 (uncoupled)
    g_ee, g_nn, g_ne = greens_func_2d(np.array([1.0, 2.0]), np.array([2.0, 1.0]), 0.0, -1.0)
    npt.assert_allclose(g_ne, 0.0)
    npt.assert_allclose(g_ee, g_nn[::-1])


def test_splinecv_grid_search(spark):
    # with blocked CV, held-out blocks are spatially disjoint from train —
    # the winner is whichever damping generalizes, and the refit must score
    # well on the data. (verde's own test uses row-wise ShuffleSplit, where
    # exact interpolation wins; blocked CV legitimately prefers damping.)
    synth = CheckerBoard(region=(100, 500, -800, -700))
    data = synth.scatter(spark, size=400, random_state=0).cache()
    cv = SplineCV(dampings=[1e-12, 1e4], parallel_candidates=2).fit(data)
    assert len(cv.scores_) == 2
    assert cv.damping_ == [1e-12, 1e4][int(np.argmax(cv.scores_))]
    # refitting with the exact (undamped) spline reproduces the data
    exact = SplineCV(dampings=[None], parallel_candidates=1).fit(data)
    pred = exact.predict(data, "pred")
    assert r2_score(pred, "scalars", "pred") > 0.999


def test_project_points_linear(spark):
    df = spark.createDataFrame(pd.DataFrame({"easting": [1.0, 2.0], "northing": [3.0, 4.0]}))
    out = project_points(df, lambda e, n: (10 * e, 10 * n)).toPandas()
    npt.assert_allclose(sorted(out["easting"]), [10.0, 20.0])
    npt.assert_allclose(sorted(out["northing"]), [30.0, 40.0])


def test_project_grid_linear_roundtrip(spark):
    # linear projection of a smooth grid re-interpolated with kNN stays close
    synth = CheckerBoard(region=(0, 10, -10, 0), w_east=10, w_north=10)
    table = synth.grid(spark, shape=(40, 40)).select("easting", "northing", "scalars")
    out = project_grid(
        table,
        lambda e, n: (2 * e, 2 * n),
        KNeighbors(k=1),
        spacing=0.5,
        antialias=False,
    ).toPandas()
    inner = out[
        (out["easting"] > 2) & (out["easting"] < 18)
        & (out["northing"] > -18) & (out["northing"] < -2)
    ]
    truth = synth.predict_numpy(
        inner["easting"].to_numpy() / 2, inner["northing"].to_numpy() / 2
    )
    npt.assert_allclose(inner["scalars"], truth, atol=120)
    # extrapolated corners are masked to null inside the hull mask
    assert out["scalars"].notna().sum() > 0


def test_checkpoint_resume(spark, tmp_path):
    path = str(tmp_path / "ckpt")
    pdf = pd.DataFrame({"tile": [0, 0, 1, 1, 2], "x": [1.0, 2.0, 3.0, 4.0, 5.0]})
    inputs = spark.createDataFrame(pdf)

    calls = []

    def stage(df):
        calls.append(df.select("tile").distinct().count())
        return df.groupBy("tile").agg(F.sum("x").alias("total"))

    out1 = run_resumable(spark, inputs, stage, path)
    assert sorted(r["tile"] for r in out1.select("tile").collect()) == [0, 1, 2]
    assert calls == [3]

    # resume: nothing left to do → stage not called again
    out2 = run_resumable(spark, inputs, stage, path)
    assert calls == [3]
    got = {r["tile"]: r["total"] for r in out2.collect()}
    assert got == {0: 3.0, 1: 7.0, 2: 5.0}

    # new tile arrives → only that tile recomputes
    more = spark.createDataFrame(
        pd.DataFrame({"tile": [0, 3], "x": [99.0, 9.0]})
    )
    out3 = run_resumable(spark, inputs.unionByName(more), stage, path)
    assert calls == [3, 1]  # one new tile only
    got3 = {r["tile"]: r["total"] for r in out3.collect()}
    assert got3[3] == 9.0 and got3[0] == 3.0  # tile 0 kept its checkpoint

    # manifest carries lineage + metrics
    man = TileCheckpoint(path).manifest(spark).toPandas()
    assert set(man.columns) >= {"tile", "rows_in", "rows_out", "checksum", "stage_seconds", "status"}


def test_chain_decimate_detrend_spline(spark):
    # EP2 integration (verde tests/test_minimal.py shape): BlockMean →
    # Trend → Spline chain scores ≈ 1 on a smooth field + trend
    from verde_spark import BlockReduce, Chain

    synth = CheckerBoard(region=(0, 5000, -5000, 0))
    east, north, val = synth.scatter_numpy(size=3000, random_state=5)
    data = val + 10.0 + 0.05 * east - 0.02 * north
    df = spark.createDataFrame(
        pd.DataFrame({"easting": east, "northing": north, "scalars": data})
    ).cache()
    chain = Chain(
        [
            ("mean", BlockReduce("mean", spacing=250.0)),
            ("trend", Trend(degree=1)),
            ("spline", Spline(damping=1e-10)),
        ]
    ).fit(df)
    score = chain.score(df)
    assert score > 0.97


def test_checkpoint_write_is_incremental(spark, tmp_path):
    # a stage write must never re-read previously checkpointed data: after
    # corrupting stage-1's parquet files, a stage-2 write still succeeds,
    # and its manifest rows cover only the new tiles (append-only manifest).
    import os

    path = str(tmp_path / "ckpt")
    ckpt = TileCheckpoint(path)
    df1 = spark.createDataFrame(pd.DataFrame({"tile": [0, 0, 1], "x": [1.0, 2.0, 3.0]}))
    man1 = ckpt.write(df1)
    assert sorted(r["tile"] for r in man1.collect()) == [0, 1]

    # corrupt every stage-1 data file — any rescan would now fail
    for root, _dirs, files in os.walk(ckpt.data_path):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(root, f), "wb") as fh:
                    fh.write(b"not parquet")

    df2 = spark.createDataFrame(pd.DataFrame({"tile": [2, 3], "x": [4.0, 5.0]}))
    man2 = ckpt.write(df2)
    assert sorted(r["tile"] for r in man2.collect()) == [2, 3]
    full = ckpt.manifest(spark).toPandas()
    assert sorted(full["tile"]) == [0, 1, 2, 3]
    assert (full["rows_out"] > 0).all()


def test_checkpoint_orphan_attempt_excluded(spark, tmp_path):
    # a crash between the data append and the manifest append leaves an
    # uncommitted attempt directory; load() must never surface its rows,
    # and the tile's re-run on resume must not double-count (ADVICE r2:
    # the manifest row is the commit marker for its attempt)
    import os

    path = str(tmp_path / "ckpt")
    ckpt = TileCheckpoint(path)
    ckpt.write(spark.createDataFrame(pd.DataFrame({"tile": [0, 1], "x": [1.0, 2.0]})))
    # simulate the crash: attempt data on disk, manifest append never ran
    spark.createDataFrame(pd.DataFrame({"tile": [2], "x": [99.0]})).write.partitionBy(
        "tile"
    ).mode("append").parquet(os.path.join(ckpt.data_path, "attempt=deadbeef"))
    assert {r["tile"]: r["x"] for r in ckpt.load(spark).collect()} == {0: 1.0, 1: 2.0}
    # tile 2 was never committed → still in the resume set; its re-run
    # lands exactly once despite the orphan rows sitting next to it
    assert 2 not in {
        r["tile"] for r in ckpt.completed_tiles(spark).collect()
    }
    ckpt.write(spark.createDataFrame(pd.DataFrame({"tile": [2], "x": [7.0]})))
    got = sorted((r["tile"], r["x"]) for r in ckpt.load(spark).collect())
    assert got == [(0, 1.0), (1, 2.0), (2, 7.0)]


def test_run_resumable_count_col_ignores_sentinels(spark, tmp_path):
    # rows_in lineage counts only non-null count_col rows (sentinel padding)
    path = str(tmp_path / "ckpt")
    pdf = pd.DataFrame({"tile": [0, 0, 1], "x": [1.0, 2.0, None]})
    inputs = spark.createDataFrame(pdf)

    def stage(df):
        return df.groupBy("tile").agg(F.count("x").alias("n"))

    run_resumable(spark, inputs, stage, path, count_col="x")
    man = TileCheckpoint(path).manifest(spark).toPandas().set_index("tile")
    assert man.loc[0, "rows_in"] == 2
    assert man.loc[1, "rows_in"] == 0  # sentinel-only tile still completed


def test_vector_grid_methods(spark):
    """Vector and VectorSpline2D expose .grid like the reference (both
    inherit BaseGridder there); multi-output here, custom input column
    names supported."""
    import warnings

    import verde_spark as vd

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        pdf = vd.datasets.fetch_california_gps().sample(300, random_state=2)
    df = spark.createDataFrame(pdf)
    vs2d = vd.VectorSpline2D(damping=1e-6)
    vs2d.fit(df, data_cols=("velocity_east", "velocity_north"),
             easting="longitude", northing="latitude")
    out = vs2d.grid(spark, spacing=1.0)
    assert {"east_component_pred", "north_component_pred"} <= set(out.columns)
    assert out.count() > 50
    vec = vd.Vector([("velocity_up", lambda: vd.Spline(damping=1e-6))])
    vec.fit(df, easting="longitude", northing="latitude")
    g = vec.grid(spark, spacing=1.0)
    assert "velocity_up_pred" in g.columns
    assert g.count() == out.count()


def test_clone_reconstructs_unfitted(spark):
    """base.clone: sklearn semantics — constructor params preserved,
    fitted state dropped, nested estimators (Chain steps) deep-cloned."""
    import verde_spark as vd
    from verde_spark.base import clone, get_params

    df = _vector_scatter(spark)
    t = Trend(degree=2).fit(df, data_col="east_component")
    c = clone(t)
    assert c.degree == 2 and c.coef_ is None and t.coef_ is not None
    chain = vd.Chain([("t", Trend(degree=1)), ("s", Spline(damping=1e-3))])
    cc = clone(chain)
    assert cc.steps[0][1] is not chain.steps[0][1]
    assert get_params(cc.steps[1][1])["damping"] == 1e-3


def test_cross_val_score_accepts_instance(spark):
    """Reference API: cross_val_score(estimator_instance, ...) — cloned
    per fold (model_selection.py:771); same scores as the factory form."""
    from verde_spark.model_selection import cross_val_score

    df = _vector_scatter(spark)
    inst = cross_val_score(Trend(degree=1), df, data_col="east_component")
    fact = cross_val_score(lambda: Trend(degree=1), df, data_col="east_component")
    npt.assert_allclose(inst, fact, rtol=1e-12)
    assert len(inst) == 5


def test_trend_inherits_basegridder(spark):
    """Trend records region_ at fit and exposes grid/score like the
    reference (trend.py:133, BaseGridder inheritance)."""
    df = _vector_scatter(spark)
    t = Trend(degree=1).fit(df, data_col="east_component")
    assert t.region_ is not None
    w, e, s, n = t.region_
    assert w < e and s < n
    g = t.grid(spark, spacing=1000.0)
    assert g.count() > 0
    assert isinstance(t.score(df, data_col="east_component"), float)


def test_vector_reference_style_components(spark):
    """Vector accepts bare estimator instances (reference form) with
    default east/north component columns, data_col override at fit, and
    clone-per-fit (no fitted-state leak on refit)."""
    df = _vector_scatter(spark)
    vec = Vector([Trend(degree=1), Trend(degree=1)])
    vec.fit(df)  # default east_component / north_component
    cols = [c for c, _ in vec.fitted_]
    assert cols == ["east_component", "north_component"]
    first_fitted = vec.fitted_[0][1]
    g = vec.grid(spark, spacing=1000.0)
    assert {"east_component_pred", "north_component_pred"} <= set(g.columns)
    # data_col override maps positionally
    vec.fit(df, data_col=("north_component", "east_component"))
    assert [c for c, _ in vec.fitted_] == ["north_component", "east_component"]
    # refit built fresh estimators (prototype instances were not mutated)
    assert vec.fitted_[0][1] is not first_fitted
    score = vec.score(df)  # linear trend on a sinusoidal field: R² ~ 0
    assert isinstance(score, float) and np.isfinite(score)


def test_vector_data_cols_plural_and_score_override(spark):
    """data_cols (plural, matching VectorSpline2D.score) works at fit and
    score; passing both spellings raises; score(data_cols=...) compares
    component i against the given column i."""
    import pytest

    df = _vector_scatter(spark)
    vec = Vector([Trend(degree=1), Trend(degree=1)])
    vec.fit(df, data_cols=("east_component", "north_component"))
    assert [c for c, _ in vec.fitted_] == ["east_component", "north_component"]
    with pytest.raises(TypeError, match="not both"):
        vec.fit(df, data_col=("east_component",), data_cols=("east_component",))
    s_default = vec.score(df)
    s_named = vec.score(df, data_cols=("east_component", "north_component"))
    assert s_default == s_named


def test_scipygridder_full_basegridder_surface(spark):
    """The reference's ScipyGridder inherits BaseGridder, so filter /
    score / scatter / profile must all work — including as a non-final
    Chain step (which calls filter on every earlier step)."""
    import warnings

    import pandas as pd

    from verde_spark import Chain, ScipyGridder, Trend

    rng = np.random.RandomState(3)
    pdf = pd.DataFrame({
        "easting": rng.uniform(0, 10, 150),
        "northing": rng.uniform(0, 10, 150),
        "scalars": rng.uniform(-2, 2, 150),
    })
    df = spark.createDataFrame(pdf)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", FutureWarning)
        g = ScipyGridder("nearest").fit(df)
        assert g.score(df) == 1.0          # nearest reproduces its own data
        assert g.filter(df).count() == 150
        assert g.scatter(spark, size=20).count() == 20
        assert g.profile(spark, (0, 0), (10, 10), 15).count() == 15
        chain = Chain([("trend", Trend(degree=1)),
                       ("nearest", ScipyGridder("nearest"))])
        chain.fit(df)
        assert chain.grid(spark, spacing=2.0).count() > 0


def test_checkpoint_empty_stage_output_tile_completes(spark, tmp_path):
    """A tile whose stage output is EMPTY still earns an ok manifest row
    (rows_out = 0) when input_counts drive the todo set — otherwise
    resume recomputes it on every run forever (review r5)."""
    path = str(tmp_path / "ckpt")
    calls = {"n": 0}

    def stage(df):
        calls["n"] += 1
        return df.filter(F.col("x") > 100.0)  # drops EVERYTHING

    inputs = spark.createDataFrame(
        pd.DataFrame({"tile": [0, 0, 1], "x": [1.0, 2.0, 3.0]})
    )
    out1 = run_resumable(spark, inputs, stage, path)
    assert out1.count() == 0 and calls["n"] == 1
    # both tiles are complete; a second run must NOT re-run the stage
    out2 = run_resumable(spark, inputs, stage, path)
    assert out2.count() == 0 and calls["n"] == 1
    ckpt = TileCheckpoint(path)
    man = ckpt.manifest(spark).toPandas()
    assert sorted(man["tile"]) == [0, 1]
    assert (man["rows_out"] == 0).all()


def test_checkpoint_load_without_manifest_is_empty(spark, tmp_path):
    """Orphan-attempt-only checkpoint (crash before the FIRST manifest
    append): load() returns zero committed rows, not an AttributeError
    (review r5)."""
    import os

    path = str(tmp_path / "ckpt")
    ckpt = TileCheckpoint(path)
    spark.createDataFrame(
        pd.DataFrame({"tile": [0], "x": [1.0]})
    ).write.partitionBy("tile").mode("append").parquet(
        os.path.join(ckpt.data_path, "attempt=deadbeef")
    )
    got = ckpt.load(spark)
    assert got.count() == 0 and "attempt" not in got.columns


def test_checkpoint_load_raises_on_corrupt_data(spark, tmp_path):
    """A corrupt data file fails the load; only a checkpoint with no data
    files falls back to the empty frame of the schema snapshot."""
    import os

    ckpt = TileCheckpoint(str(tmp_path / "ckpt"))
    ckpt.write(spark.createDataFrame(pd.DataFrame({"tile": [0, 1], "x": [1.0, 2.0]})))
    for root, _dirs, files in os.walk(ckpt.data_path):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(root, f), "wb") as fh:
                    fh.write(b"not parquet")
    with pytest.raises(Exception, match="(?i)parquet|footer"):
        ckpt.load(spark).collect()


def test_checkpoint_load_raises_on_corrupt_manifest(spark, tmp_path):
    import os

    ckpt = TileCheckpoint(str(tmp_path / "ckpt"))
    ckpt.write(spark.createDataFrame(pd.DataFrame({"tile": [0, 1], "x": [1.0, 2.0]})))
    for f in os.listdir(ckpt.manifest_path):
        if f.endswith(".parquet"):
            with open(os.path.join(ckpt.manifest_path, f), "wb") as fh:
                fh.write(b"not parquet")
    with pytest.raises(Exception, match="(?i)parquet|footer"):
        ckpt.load(spark).collect()


def test_checkpoint_schema_snapshot_honours_uri(spark, tmp_path, monkeypatch):
    """The schema snapshot goes through the Hadoop FS API, so a
    ``file://`` checkpoint keeps it beside its data (a local ``open()``
    would create a relative ``file:`` directory instead)."""
    import os

    root = tmp_path / "ckpt"
    monkeypatch.chdir(tmp_path)
    ckpt = TileCheckpoint(root.as_uri())
    empty = spark.createDataFrame(pd.DataFrame({"tile": [0], "x": [1.0]})).filter(
        F.lit(False)
    )
    ckpt.write(empty)
    assert os.path.isfile(root / "_schema.json")
    assert not os.path.exists(tmp_path / "file:")
    got = ckpt.load(spark)
    assert got.count() == 0 and got.columns == ["tile", "x"]
