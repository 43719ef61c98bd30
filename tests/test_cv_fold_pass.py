"""Cross-validation folds in one grouped pass, and grid expressions from
one SQL parse: each new path against the path it replaced."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from verde_spark import BlockGrid, Chain, KNeighbors, Spline, Trend
from verde_spark.geometry import get_region
from verde_spark.model_selection import (
    BlockKFold,
    BlockShuffleSplit,
    KFoldRows,
    cross_val_score,
    r2_score,
)
from verde_spark.operators.spline import _halo_explode


def _column_index(coord, axis):
    # the Column arithmetic BlockGrid.label_expr used before it parsed
    # label_sql: the reference both new expressions must equal bit for bit
    edge = axis.start - axis.step / 2
    raw = F.floor((coord - F.lit(edge)) / F.lit(axis.step)).cast("long")
    return F.least(F.lit(axis.size - 1), F.greatest(F.lit(0), raw))


def _column_label(grid, e="easting", n="northing"):
    return _column_index(F.col(n), grid.north) * F.lit(grid.n_east) + _column_index(F.col(e), grid.east)


def _column_halo(df, grid, pad, e="easting", n="northing"):
    east, north, p = F.col(e), F.col(n), F.lit(pad)
    ix = F.sequence(_column_index(east - p, grid.east), _column_index(east + p, grid.east))
    iy = F.sequence(_column_index(north - p, grid.north), _column_index(north + p, grid.north))
    return (
        df.withColumn("__ix", F.explode(ix))
        .withColumn("__iy", F.explode(iy))
        .withColumn("tile", F.col("__iy") * F.lit(grid.n_east) + F.col("__ix"))
        .drop("__ix", "__iy")
    )


def _edge_points(grid, rng, n_random=400):
    """Points on every planted block edge, their ``nextafter`` neighbours,
    points outside the region, and uniform ones."""
    w, e, s, n = grid.region

    def edges(axis, count):
        start = axis.start - axis.step / 2
        cut = start + np.arange(0, axis.size + 1, max(1, axis.size // count)) * axis.step
        return np.concatenate([cut, np.nextafter(cut, -np.inf), np.nextafter(cut, np.inf)])

    east, north = edges(grid.east, 40), edges(grid.north, 40)
    m = max(len(east), len(north))
    east, north = np.resize(east, m), np.resize(north[::-1], m)
    east = np.concatenate([east, rng.uniform(w, e, n_random), [w - 1.0, e + 1.0]])
    north = np.concatenate([north, rng.uniform(s, n, n_random), [n + 1.0, s - 1.0]])
    return east, north


REGIONS = [
    ((0.0, 1.0, 0.0, 1.0), 0.07),
    ((0.0, 1.0, 0.0, 1.0), 0.1),
    ((-3.7, -1.2, -8.9, -5.5), 0.1),
    ((-3.7, -1.2, -8.9, -5.5), 0.07),
    ((1e6, 1e6 + 0.3, 1e6 + 0.2, 1e6 + 0.45), 1e-5),
]


@pytest.mark.parametrize("region, spacing", REGIONS)
def test_label_expr_equals_column_arithmetic(spark, region, spacing):
    grid = BlockGrid.from_region(region, spacing=spacing)
    east, north = _edge_points(grid, np.random.default_rng(0))
    pdf = pd.DataFrame({"easting": east, "northing": north})
    df = spark.createDataFrame(pdf).union(
        spark.createDataFrame([(None, 0.5)], "easting double, northing double")
    )
    got = df.select(grid.label_expr().alias("new"), _column_label(grid).alias("old")).toPandas()
    assert len(got) == len(pdf) + 1
    # GREATEST skips the null, so a null coordinate clamps to index 0 in both
    assert got["new"].tolist() == got["old"].tolist()
    # the planted edges land in more than one block: the fixture discriminates
    assert got["new"].nunique() > 10


def test_label_expr_keeps_long_type_and_quotes_names(spark):
    grid = BlockGrid.from_region((0.0, 1.0, 0.0, 1.0), spacing=0.07)
    df = spark.createDataFrame([(0.35, 0.71)], "`east m` double, `north-m` double")
    out = df.select(grid.label_expr("east m", "north-m"), _column_label(grid, "east m", "north-m").alias("old"))
    assert out.schema["block"].dataType.simpleString() == "bigint"
    assert out.first()["block"] == out.first()["old"] == 9 * grid.n_east + 4


@pytest.mark.parametrize("region, spacing, pad", [
    ((0.0, 1.0, 0.0, 1.0), 0.25, 0.07),
    ((-3.7, -1.2, -8.9, -5.5), 0.5, 0.1),
    ((1e6, 1e6 + 0.3, 1e6 + 0.2, 1e6 + 0.45), 0.05, 1e-5),
])
def test_halo_explode_same_row_tile_multiset(spark, region, spacing, pad):
    grid = BlockGrid.from_region(region, spacing=spacing)
    east, north = _edge_points(grid, np.random.default_rng(1))
    # points one pad away from the planted edges, so ±pad lands on them
    east = np.concatenate([east, east + pad, east - pad])
    north = np.concatenate([north, north - pad, north + pad])
    df = spark.createDataFrame(pd.DataFrame({"id": np.arange(len(east)), "easting": east, "northing": north}))

    def pairs(out):
        return sorted(map(tuple, out.select("id", "tile").toPandas().to_numpy().tolist()))

    new, old = pairs(_halo_explode(df, grid, pad, "easting", "northing")), pairs(_column_halo(df, grid, pad))
    assert new == old
    assert len(new) > len(east)  # halo rows exist


def _points(spark, n=600, seed=3):
    rng = np.random.default_rng(seed)
    e, nn = rng.uniform(0, 10, n), rng.uniform(-5, 5, n)
    # a few points exactly on CV block edges
    e[:20], nn[20:40] = np.round(e[:20]), np.round(nn[20:40])
    return spark.createDataFrame(pd.DataFrame({
        "easting": e, "northing": nn,
        "scalars": np.sin(e / 3) + np.cos(nn / 2) + 0.01 * rng.normal(size=n),
        "w": rng.uniform(0.5, 2.0, n),
    }))


CVS = {
    "kfold": lambda: BlockKFold(spacing=1.0, n_splits=3, shuffle=True, random_state=0),
    "shuffle": lambda: BlockShuffleSplit(spacing=1.0, n_splits=2, test_size=0.3, random_state=2),
    "rows": lambda: KFoldRows(n_splits=3),
}


@pytest.mark.parametrize("cv", ["kfold", "shuffle"])
def test_block_stats_train_region_is_get_region(spark, cv):
    df = _points(spark)
    splitter = CVS[cv]()
    folds = list(splitter._split_regions(df))
    assert len(folds) == splitter.n_splits
    for (train, test, region), (train0, test0) in zip(folds, splitter.split(df)):
        assert region == get_region(train)
        assert region == get_region(train0)
        assert test.count() == test0.count() > 0


@pytest.mark.parametrize("weight_col", [None, "w"])
@pytest.mark.parametrize("cv", sorted(CVS))
def test_fused_fold_scores_equal_fit_predict(spark, cv, weight_col):
    df = _points(spark)
    params = dict(damping=1e-4, tile_spacing=4.0, halo=1.0)
    expected = []
    for train, test in CVS[cv]().split(df):
        pred = Spline(**params).fit(train, weight_col=weight_col).predict(test, "__pred")
        expected.append(r2_score(pred, "scalars", "__pred", weight_col))
    got = cross_val_score(Spline(**params), df, cv=CVS[cv](), weight_col=weight_col)
    np.testing.assert_allclose(got, expected, rtol=1e-12)
    assert min(got) > 0.9


def test_fused_fold_nan_where_a_tile_has_no_train_rows(spark):
    # tiles of 2 over (0, 10): the padded tile (3.5, 6.5) holds no train row
    rng = np.random.default_rng(4)
    e, n = rng.uniform(0, 10, 300), rng.uniform(0, 2, 300)
    df = spark.createDataFrame(pd.DataFrame({"easting": e, "northing": n, "scalars": e + n}))
    train, test = df.filter("easting < 3 OR easting > 7"), df.filter("easting BETWEEN 3 AND 7")
    spline = Spline(damping=1e-6, tile_spacing=2.0, halo=0.5)
    got = spline._fit_predict(train, test, "scalars", None, "easting", "northing").toPandas()
    want = Spline(damping=1e-6, tile_spacing=2.0, halo=0.5).fit(train).predict(test, "__pred").toPandas()
    assert sorted(got.columns) == ["__pred", "easting", "northing", "scalars"]
    merged = got.merge(want, on=["easting", "northing"], suffixes=("", "_want"))
    assert len(merged) == len(want) == test.count()
    np.testing.assert_array_equal(merged["__pred"].isna(), merged["__pred_want"].isna())
    assert merged["__pred"].isna().any() and merged["__pred"].notna().any()
    ok = merged["__pred"].notna()
    np.testing.assert_allclose(merged.loc[ok, "__pred"], merged.loc[ok, "__pred_want"], rtol=1e-12)


def _count_calls(monkeypatch, cls, calls):
    for name in ("fit", "predict"):
        original = getattr(cls, name)

        def wrapped(self, *args, _original=original, _name=name, **kwargs):
            calls.append((cls.__name__, _name))
            return _original(self, *args, **kwargs)

        monkeypatch.setattr(cls, name, wrapped)


@pytest.mark.parametrize("make", ["spline", "force_coords", "chain", "kneighbors"])
def test_only_plain_splines_skip_fit_predict(spark, monkeypatch, make):
    df = _points(spark, n=300)
    calls = []
    for cls in (Spline, Chain, KNeighbors):
        _count_calls(monkeypatch, cls, calls)
    force = np.meshgrid(np.linspace(0, 10, 6), np.linspace(-5, 5, 6))
    estimator = {
        "spline": lambda: Spline(damping=1e-4, tile_spacing=5.0),
        "force_coords": lambda: Spline(damping=1e-4, force_coords=force, tile_spacing=5.0),
        "chain": lambda: Chain([("trend", Trend(degree=1)), ("spline", Spline(damping=1e-4))]),
        "kneighbors": lambda: KNeighbors(k=3),
    }[make]
    scores = cross_val_score(estimator, df, cv=CVS["kfold"]())
    assert len(scores) == 3 and np.isfinite(scores).all()
    if make == "spline":
        assert calls == []
    else:
        owner = {"force_coords": "Spline", "chain": "Chain", "kneighbors": "KNeighbors"}[make]
        assert [c for c in calls if c[0] == owner] == [(owner, "fit"), (owner, "predict")] * 3


def _jobs(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_block_kfold_spline_cv_job_count(spark):
    # 27 jobs when each fold ran get_region, a fit stage and a predict
    # cogroup; the fused pass and the block-stats regions leave 15
    df = _points(spark).cache()
    df.count()
    cv = BlockKFold(spacing=1.0, n_splits=3, shuffle=True, random_state=0)
    params = dict(damping=1e-4, tile_spacing=4.0, halo=1.0)
    jobs = _jobs(spark, "cv-fold-pass-jobs", lambda: cross_val_score(Spline(**params), df, cv=cv))
    df.unpersist()
    assert jobs <= 15
