"""Trend + model-selection goldens (verde tests/test_trend.py,
tests/test_model_selection.py, trend.py doctests)."""

import numpy as np
import numpy.testing as npt
import pandas as pd
import pytest
from pyspark.sql import functions as F

from verde_spark import (
    BlockKFold,
    BlockShuffleSplit,
    Trend,
    r2_score,
    train_test_split,
)
from verde_spark.coordinates import grid_coordinates
from verde_spark.model_selection import partition_by_sum
from verde_spark.operators.trend import polynomial_power_combinations


def test_polynomial_power_combinations():
    assert polynomial_power_combinations(1) == ((0, 0), (1, 0), (0, 1))
    assert polynomial_power_combinations(2) == (
        (0, 0), (1, 0), (0, 1), (2, 0), (1, 1), (0, 2),
    )


def test_trend_exact_recovery(spark):
    # verde tests/test_trend.py:27-43: recover coefficients of a plane
    coefs = [10.0, 2.0, -0.4]
    nodes = grid_coordinates(spark, (1, 5, -5, -1), shape=(5, 5))
    df = nodes.withColumn(
        "scalars",
        F.lit(coefs[0]) + F.lit(coefs[1]) * F.col("easting") + F.lit(coefs[2]) * F.col("northing"),
    )
    trend = Trend(degree=1).fit(df)
    npt.assert_allclose(trend.coef_, coefs, rtol=1e-8, atol=1e-10)
    pred = trend.predict(df, "pred").toPandas()
    npt.assert_allclose(pred["pred"], pred["scalars"], rtol=1e-8)


def test_trend_weighted_ignores_outlier(spark):
    # verde tests/test_trend.py (weights variant): huge outlier, zero-ish weight
    coefs = [10.0, 2.0, -0.4]
    nodes = grid_coordinates(spark, (1, 5, -5, -1), shape=(10, 10)).toPandas()
    data = coefs[0] + coefs[1] * nodes["easting"] + coefs[2] * nodes["northing"]
    data = data.to_numpy().copy()
    weights = np.ones_like(data)
    data[20] += 1e4
    weights[20] = 1e-10
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "easting": nodes["easting"],
                "northing": nodes["northing"],
                "scalars": data,
                "weight": weights,
            }
        )
    )
    trend = Trend(degree=1).fit(df, weight_col="weight")
    npt.assert_allclose(trend.coef_, coefs, rtol=1e-6)


def test_partition_by_sum_golden():
    # verde utils.py:920-941 doctest
    array = [5, 6, 4, 6, 8, 1, 2, 6, 3, 3]
    npt.assert_array_equal(partition_by_sum(array, parts=2), [4])
    npt.assert_array_equal(partition_by_sum(array, parts=5), [1, 3, 4, 7])
    with pytest.raises(ValueError):
        partition_by_sum([1, 2], parts=5)


def _scatter_df(spark, n=1000, seed=0, region=(0, 10, -10, 0)):
    rng = np.random.RandomState(seed)
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "easting": rng.uniform(region[0], region[1], n),
                "northing": rng.uniform(region[2], region[3], n),
                "scalars": rng.normal(size=n),
            }
        )
    ).cache()


def test_block_shuffle_split(spark):
    df = _scatter_df(spark)
    splitter = BlockShuffleSplit(spacing=2.5, n_splits=3, test_size=0.2, random_state=0)
    n = df.count()
    for train, test in splitter.split(df):
        n_train, n_test = train.count(), test.count()
        assert n_train + n_test == n
        # balancing keeps the point ratio near the block ratio (verde
        # tests/test_model_selection.py:78-91 checks 1% on real data)
        assert 0.1 < n_test / n < 0.35
        # disjoint
        assert train.join(test, ["easting", "northing"], "inner").count() == 0


def test_block_kfold_covers_everything(spark):
    df = _scatter_df(spark)
    kfold = BlockKFold(spacing=2.5, n_splits=4, shuffle=True, random_state=0)
    n = df.count()
    total_test = 0
    for train, test in kfold.split(df):
        n_train, n_test = train.count(), test.count()
        assert n_train + n_test == n
        total_test += n_test
    assert total_test == n  # folds partition the data


@pytest.mark.parametrize(
    "cls, n_splits", [(BlockKFold, 3), (BlockShuffleSplit, 4)],
    ids=["BlockKFold", "BlockShuffleSplit"],
)
def test_block_splitters_get_n_splits(cls, n_splits):
    assert cls(spacing=1, n_splits=n_splits).get_n_splits() == n_splits


def test_block_kfold_balance(spark):
    df = _scatter_df(spark, n=2000)
    kfold = BlockKFold(spacing=2.5, n_splits=4, shuffle=False, balance=True)
    sizes = [test.count() for _, test in kfold.split(df)]
    n = sum(sizes)
    for s in sizes:
        assert abs(s / n - 0.25) < 0.06


def test_train_test_split_blocked(spark):
    df = _scatter_df(spark)
    train, test = train_test_split(df, spacing=2.5, test_size=0.2, random_state=0)
    n = df.count()
    assert train.count() + test.count() == n
    assert test.count() > 0


def test_r2_score_perfect_and_weighted(spark):
    pdf = pd.DataFrame(
        {"d": [1.0, 2.0, 3.0, 4.0], "p": [1.0, 2.0, 3.0, 4.0], "w": [1.0, 1.0, 1.0, 1.0]}
    )
    df = spark.createDataFrame(pdf)
    assert r2_score(df, "d", "p") == pytest.approx(1.0)
    # sklearn cross-check (precomputed): y=[3,-0.5,2,7], pred=[2.5,0,2,8] → 0.9486081
    df2 = spark.createDataFrame(
        pd.DataFrame({"d": [3.0, -0.5, 2.0, 7.0], "p": [2.5, 0.0, 2.0, 8.0]})
    )
    assert r2_score(df2, "d", "p") == pytest.approx(0.948608137)


def test_readme_migration_example(spark):
    """The README's switch-your-import workflow runs verbatim: datasets →
    blocked split → Chain(BlockReduce, Spline) with NON-DEFAULT column
    names → grid → held-out score. Regression for the Chain step protocol
    (singular data_col/weight_col must reach the BlockReduce wrapper —
    the round-1 TypeError fallback silently dropped custom easting/
    northing and broke any table not using the default names)."""
    import warnings

    import verde_spark as vd

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        df = spark.createDataFrame(vd.datasets.fetch_texas_wind())
        train, test = vd.train_test_split(
            df, spacing=2.0, easting="longitude", northing="latitude",
            random_state=0,
        )
        chain = vd.Chain([
            ("mean", vd.BlockReduce("mean", spacing=0.5)),
            ("spline", vd.Spline()),
        ])
        chain.fit(train, easting="longitude", northing="latitude",
                  data_col="air_temperature_c")
        grid = chain.grid(spark, spacing=0.5)
        assert grid.count() > 100
        score = chain.score(test, easting="longitude", northing="latitude",
                            data_col="air_temperature_c")
    assert 0.7 < score <= 1.0


def test_score_with_sklearn_scorer_names(spark):
    """score_with: each named scorer matches its NumPy definition, sklearn
    sign conventions included (reference cross_val_score scoring param,
    model_selection.py:647-650)."""
    import numpy as np
    import pandas as pd

    from verde_spark.model_selection import score_with

    rng = np.random.RandomState(5)
    d = rng.uniform(-3, 7, 400)
    p = d + rng.normal(0, 0.5, 400)
    df = spark.createDataFrame(pd.DataFrame({"d": d, "p": p}))
    err = d - p
    want = {
        "neg_mean_squared_error": -np.mean(err**2),
        "neg_root_mean_squared_error": -np.sqrt(np.mean(err**2)),
        "neg_mean_absolute_error": -np.mean(np.abs(err)),
        "neg_median_absolute_error": -np.median(np.abs(err)),
        "max_error": -np.max(np.abs(err)),
        "explained_variance": 1 - np.var(err) / np.var(d),
        "r2": 1 - np.sum(err**2) / np.sum((d - d.mean()) ** 2),
    }
    for name, expect in want.items():
        npt.assert_allclose(score_with(name, df, "d", "p"), expect, rtol=1e-9,
                            err_msg=name)
    # weighted MSE
    w = rng.uniform(0.5, 2.0, 400)
    dfw = spark.createDataFrame(pd.DataFrame({"d": d, "p": p, "w": w}))
    npt.assert_allclose(
        score_with("neg_mean_squared_error", dfw, "d", "p", "w"),
        -np.average(err**2, weights=w), rtol=1e-9)
    with pytest.raises(ValueError, match="Unknown scoring"):
        score_with("accuracy", df, "d", "p")


def test_cross_val_score_scoring_param(spark):
    """cross_val_score(scoring=...) routes through score_with; a perfect
    estimator scores 0.0 under neg_mean_squared_error."""
    import numpy as np
    import pandas as pd

    from verde_spark import Trend
    from verde_spark.model_selection import cross_val_score

    rng = np.random.RandomState(3)
    e, n = rng.uniform(0, 10, 300), rng.uniform(0, 10, 300)
    df = spark.createDataFrame(pd.DataFrame(
        {"easting": e, "northing": n, "scalars": 3 + 2 * e - n}))
    scores = cross_val_score(Trend(degree=1), df,
                             scoring="neg_mean_squared_error")
    npt.assert_allclose(scores, 0.0, atol=1e-12)


def test_kfold_rows_contiguous_scale_path_matches_exact(spark):
    """KFoldRows(shuffle=False) beyond exact_threshold must keep
    sklearn's contiguous order-preserving folds (review r5: the hash
    fallback silently randomized membership) — the chunked two-level
    rank path must reproduce the exact driver path fold-for-fold."""
    from verde_spark.model_selection import KFoldRows

    df = spark.createDataFrame(
        [(int(i), float(i)) for i in range(97)], "id long, x double"
    ).repartition(7)

    def folds(cv):
        return [
            sorted(r["id"] for r in test.collect())
            for _, test in cv.split(df)
        ]

    exact = folds(KFoldRows(n_splits=5, shuffle=False, index_col="id"))
    chunked = folds(
        KFoldRows(
            n_splits=5, shuffle=False, index_col="id", exact_threshold=10
        )
    )
    assert chunked == exact
    # contiguity + sklearn sizes: 97 = 20+20+19+19+19
    assert [len(f) for f in exact] == [20, 20, 19, 19, 19]
    assert exact[0] == list(range(20))
    with pytest.raises(ValueError, match="numeric"):
        sdf = spark.createDataFrame([("a", 1.0)], "id string, x double")
        next(
            KFoldRows(
                n_splits=2, shuffle=False, index_col="id",
                exact_threshold=0,
            ).split(sdf)
        )


def test_kfold_rows_chunked_path_rejects_duplicate_index(spark):
    """The chunked shuffle=False path checks index uniqueness like the
    exact path does."""
    from verde_spark.model_selection import KFoldRows

    dup = spark.createDataFrame(
        [(int(i) // 2, float(i)) for i in range(20)], "id long, x double"
    )
    with pytest.raises(ValueError, match="not unique"):
        next(
            KFoldRows(
                n_splits=2, shuffle=False, index_col="id",
                exact_threshold=0,
            ).split(dup)
        )


def test_train_test_split_partial_fractions_discard_remainder(spark):
    """train_size + test_size < 1 discards the remainder (review r5:
    randomSplit normalizes weights, silently inflating both splits)."""
    from verde_spark.model_selection import train_test_split

    df = spark.range(20_000)
    train, test = train_test_split(
        df, test_size=0.25, train_size=0.25, random_state=7
    )
    n_train, n_test = train.count(), test.count()
    assert abs(n_train - 5000) < 600 and abs(n_test - 5000) < 600
    assert n_train + n_test < 14_000  # remainder really discarded
