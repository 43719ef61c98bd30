"""Blocked model selection — splits, folds, scoring (verde model_selection.py).

Split *decisions* operate on the tiny table of distinct block ids,
per-block point counts and per-block coordinate bounds (thousands of rows
however big the input, from one groupBy), so they run driver-side with
seeded NumPy exactly like the reference runs sklearn. Fold *membership*
goes back into the cluster as one parsed ``label IN (…)`` filter per side
(the ``BlockGrid.label_sql`` text; a hash-set lookup, no shuffle), and
each fold's train region is read off the block bounds, so no fit scans
for it.

Per fold, ``cross_val_score`` then runs one plan: for a ``Spline``, ONE
grouped pass that solves each tile's train points and evaluates its test
rows (``Spline._fit_predict``); for other estimators, ``fit`` then
``predict``. Scoring is one aggregate action per fold.

RNG note: the reference delegates to sklearn's ShuffleSplit/KFold; we
reimplement their exact permutation algorithms over
``np.random.RandomState`` (the same generator sklearn uses), so seeded
splits match sklearn's where the reference's tests pin them.
"""

from __future__ import annotations

import math
import warnings
from typing import Iterator, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .coordinates import BlockGrid
from .base import BaseBlockCrossValidator
from .geometry import _sql_name, get_region


# ---------------------------------------------------------------------------
# scoring
# ---------------------------------------------------------------------------


def r2_score(
    df: DataFrame,
    data_col: str,
    pred_col: str,
    weight_col: Optional[str] = None,
) -> float:
    """Weighted R² (sklearn definition, used by verde base/utils.py:15-66):
    ``1 − Σw(d−p)² / Σw(d−d̄_w)²`` — one aggregate pass."""
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    d, p = F.col(data_col), F.col(pred_col)
    row = df.agg(
        F.sum(w * (d - p) * (d - p)).alias("ss_res"),
        F.sum(w * d).alias("swd"),
        F.sum(w * d * d).alias("swd2"),
        F.sum(w).alias("sw"),
    ).first()
    ss_tot = row["swd2"] - row["swd"] ** 2 / row["sw"]
    if ss_tot == 0:
        return 1.0 if row["ss_res"] == 0 else 0.0
    return 1.0 - row["ss_res"] / ss_tot


def score_with(
    scoring,
    df: DataFrame,
    data_col: str,
    pred_col: str,
    weight_col: Optional[str] = None,
) -> float:
    """Score predictions with an sklearn-style scorer name (the reference's
    ``scoring`` parameter, model_selection.py:647-650, routed through
    sklearn ``check_scoring``). Each named scorer is ONE weighted aggregate
    pass; sklearn sign conventions kept (``neg_*`` and ``max_error``
    scorers return negated errors, greater-is-better). A callable gets the
    Spark-shaped signature ``scoring(df, data_col, pred_col, weight_col)``.
    """
    if scoring is None or scoring == "r2":
        return r2_score(df, data_col, pred_col, weight_col)
    if callable(scoring):
        return float(scoring(df, data_col, pred_col, weight_col))
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    err = F.col(data_col) - F.col(pred_col)
    wmean = lambda x: F.sum(w * x) / F.sum(w)  # noqa: E731
    if scoring == "neg_mean_squared_error":
        return float(-df.agg(wmean(err * err)).first()[0])
    if scoring == "neg_root_mean_squared_error":
        return float(-math.sqrt(df.agg(wmean(err * err)).first()[0]))
    if scoring == "neg_mean_absolute_error":
        return float(-df.agg(wmean(F.abs(err))).first()[0])
    if scoring == "neg_median_absolute_error":
        # sklearn's median_absolute_error ignores sample_weight pre-1.4;
        # exact median is fine at fold scale (percentile_approx at 100 TB)
        return float(-df.agg(F.median(F.abs(err))).first()[0])
    if scoring == "max_error":
        return float(-df.agg(F.max(F.abs(err))).first()[0])
    if scoring == "explained_variance":
        row = df.agg(
            wmean(err).alias("me"),
            wmean(err * err).alias("me2"),
            wmean(F.col(data_col)).alias("md"),
            wmean(F.col(data_col) * F.col(data_col)).alias("md2"),
        ).first()
        var_err = row["me2"] - row["me"] ** 2
        var_d = row["md2"] - row["md"] ** 2
        if var_d == 0:
            return 1.0 if var_err == 0 else 0.0
        return float(1.0 - var_err / var_d)
    raise ValueError(
        f"Unknown scoring {scoring!r}. One of r2, neg_mean_squared_error, "
        "neg_root_mean_squared_error, neg_mean_absolute_error, "
        "neg_median_absolute_error, max_error, explained_variance, or a "
        "callable(df, data_col, pred_col, weight_col)."
    )


def r2_score_multi(
    df: DataFrame,
    pairs: Sequence[Tuple[str, str]],
    weight_cols: Optional[Sequence[Optional[str]]] = None,
) -> List[float]:
    """Per-component R² for several (data_col, pred_col) *pairs* in ONE
    aggregate pass over *df*.  The reference's multi-component ``score``
    averages these across components (base/utils.py:15-66); callers do
    ``float(np.mean(r2_score_multi(...)))``."""
    aggs = []
    for i, (dc, pc) in enumerate(pairs):
        w = (
            F.col(weight_cols[i])
            if weight_cols is not None and weight_cols[i] is not None
            else F.lit(1.0)
        )
        d, p = F.col(dc), F.col(pc)
        aggs += [
            F.sum(w * (d - p) * (d - p)).alias(f"res{i}"),
            F.sum(w * d).alias(f"swd{i}"),
            F.sum(w * d * d).alias(f"swd2{i}"),
            F.sum(w).alias(f"sw{i}"),
        ]
    row = df.agg(*aggs).first()
    scores = []
    for i in range(len(pairs)):
        ss_tot = row[f"swd2{i}"] - row[f"swd{i}"] ** 2 / row[f"sw{i}"]
        if ss_tot == 0:
            scores.append(1.0 if row[f"res{i}"] == 0 else 0.0)
        else:
            scores.append(1.0 - row[f"res{i}"] / ss_tot)
    return scores


# ---------------------------------------------------------------------------
# sklearn-equivalent driver-side shufflers (no sklearn in this environment)
# ---------------------------------------------------------------------------


def _validate_shuffle_split(n: int, test_size, train_size) -> Tuple[int, int]:
    """sklearn model_selection._split._validate_shuffle_split semantics."""
    if test_size is None and train_size is None:
        test_size = 0.1
    if test_size is not None:
        n_test = int(np.ceil(test_size * n)) if isinstance(test_size, float) else int(test_size)
    if train_size is not None:
        n_train = int(np.floor(train_size * n)) if isinstance(train_size, float) else int(train_size)
    if test_size is None:
        n_test = n - n_train
    if train_size is None:
        n_train = n - n_test
    if n_train + n_test > n:
        raise ValueError(f"train_size + test_size exceed n={n}")
    if n_test < 1 or n_train < 1:
        raise ValueError("Resulting train/test set is empty.")
    return n_train, n_test


def shuffle_split_indices(
    n: int, n_splits: int, test_size=None, train_size=None, random_state=None
) -> Iterator[Tuple[np.ndarray, np.ndarray]]:
    """sklearn ShuffleSplit._iter_indices: per split a fresh permutation;
    test = perm[:n_test], train = perm[n_test:n_test+n_train]."""
    n_train, n_test = _validate_shuffle_split(n, test_size, train_size)
    rng = (
        random_state
        if isinstance(random_state, np.random.RandomState)
        else np.random.RandomState(random_state)
    )
    for _ in range(n_splits):
        permutation = rng.permutation(n)
        yield permutation[n_test : (n_test + n_train)], permutation[:n_test]


def kfold_indices(
    n: int, n_splits: int, shuffle: bool = False, random_state=None
) -> Iterator[Tuple[np.ndarray, np.ndarray]]:
    """sklearn KFold: contiguous folds of size n//k (+1 for first n%k),
    over an optional seeded permutation."""
    indices = np.arange(n)
    if shuffle:
        rng = (
            random_state
            if isinstance(random_state, np.random.RandomState)
            else np.random.RandomState(random_state)
        )
        rng.shuffle(indices)
    fold_sizes = np.full(n_splits, n // n_splits, dtype=int)
    fold_sizes[: n % n_splits] += 1
    current = 0
    for size in fold_sizes:
        test = indices[current : current + size]
        train = np.concatenate([indices[:current], indices[current + size :]])
        yield np.sort(train), np.sort(test)
        current += size


def partition_by_sum(array, parts: int) -> np.ndarray:
    """Split points so contiguous chunks have ~equal sum — exact port of
    verde utils.py:855-970 (cumsum + right-searchsorted on ideal sums)."""
    array = np.atleast_1d(array).ravel()
    if parts > array.size:
        raise ValueError(
            f"Cannot partition an array of size {array.size} into {parts} parts of equal sum."
        )
    cumulative_sum = array.cumsum()
    ideal_sum = cumulative_sum[-1] // parts
    ideal_cumsum = np.arange(1, parts) * ideal_sum
    indices = np.searchsorted(cumulative_sum, ideal_cumsum, side="right")
    if np.unique(indices).size != indices.size:
        raise ValueError(
            f"Could not find partition points to split the array into {parts} parts of equal sum."
        )
    return indices


# ---------------------------------------------------------------------------
# block cross-validators
# ---------------------------------------------------------------------------


def _block_counts(
    df: DataFrame, grid: BlockGrid, easting: str, northing: str
) -> pd.DataFrame:
    """Per block, sorted by ``block``: the point count ``cnt`` and the
    bounds ``w, e, s, n`` of its points — one groupBy, tiny driver-side
    result (≤ n_blocks rows)."""
    e, n = _sql_name(easting), _sql_name(northing)
    aggs = ["count(1) AS cnt", f"min({e}) AS w", f"max({e}) AS e", f"min({n}) AS s", f"max({n}) AS n"]
    return (
        df.groupBy(grid.label_expr(easting, northing))
        .agg(*[F.expr(a) for a in aggs])
        .orderBy("block")
        .toPandas()
    )


class _BlockSplitter(BaseBlockCrossValidator):
    """The splitting shared by the blocked CVs: subclasses decide the test
    block ids of each fold from the ``_block_counts`` table."""

    def _test_blocks(self, stats: pd.DataFrame) -> Iterator[np.ndarray]:
        raise NotImplementedError

    def get_n_splits(self) -> int:
        return self.n_splits

    def _stats(
        self, df: DataFrame, easting: str, northing: str, grid: Optional[BlockGrid] = None
    ) -> Tuple[BlockGrid, pd.DataFrame]:
        # a grid the caller already derived skips get_region's table scan
        if grid is None:
            region = get_region(df, easting, northing)
            grid = BlockGrid.from_region(region, spacing=self.spacing, shape=self.shape)
        return grid, _block_counts(df, grid, easting, northing)

    def _split_regions(
        self, df: DataFrame, easting: str = "easting", northing: str = "northing"
    ) -> Iterator[Tuple[DataFrame, DataFrame, Tuple[float, float, float, float]]]:
        """``split``'s ``(train, test)`` folds, each with its train region.

        Membership is one parsed ``label IN (…)`` predicate per side.  The
        train region is the min/max of the per-block bounds over the blocks
        outside the test set: exactly ``get_region(train)``, with no job.
        """
        grid, stats = self._stats(df, easting, northing)
        label = grid.label_sql(_sql_name(easting), _sql_name(northing))
        for test_blocks in self._test_blocks(stats):
            ids = ", ".join(str(int(b)) for b in test_blocks)
            rest = stats[~stats["block"].isin(test_blocks)]
            region = (rest["w"].min(), rest["e"].max(), rest["s"].min(), rest["n"].max())
            yield (
                df.filter(f"{label} NOT IN ({ids})"),
                df.filter(f"{label} IN ({ids})"),
                tuple(float(v) for v in region),
            )

    def split(
        self, df: DataFrame, easting: str = "easting", northing: str = "northing"
    ) -> Iterator[Tuple[DataFrame, DataFrame]]:
        for train, test, _ in self._split_regions(df, easting, northing):
            yield train, test


class KFoldRows:
    """Row-wise shuffled KFold — the reference ``cross_val_score``'s
    DEFAULT cv (verde model_selection.py:759-760: ``KFold(shuffle=True,
    random_state=0, n_splits=5)`` over rows, not blocks).

    Split decisions are row-position permutations.  When the row count
    fits driver-side (≤ ``exact_threshold``) the folds replicate
    sklearn KFold's exact permutation algorithm (seeded
    ``np.random.RandomState``, :func:`kfold_indices`) and membership
    returns to the cluster as a broadcast (row index → fold) mapping
    join — bit-identical fold membership to the reference on the same
    row order.  Beyond the threshold a driver-side permutation of every
    row is no longer viable: ``shuffle=True`` uses fold =
    ``pmod(xxhash64(index, seed), k)`` — deterministic, uniform, fully
    distributed (a documented approximation with the same statistical
    contract) — while ``shuffle=False`` keeps sklearn's CONTIGUOUS
    order-preserving folds exactly via a two-level rank (range-chunked
    ``percentile_approx`` sketch + per-chunk ``row_number`` + bounded
    cross-chunk offsets; no single-partition sort, numeric/temporal
    ``index_col`` required).

    Row identity: ``index_col`` names a stable unique row id (the scale
    path — no global sort needed in hash mode).  Without it a synthetic
    zero-based index in the DataFrame's current order is derived via
    ``row_number`` over ``monotonically_increasing_id`` (one global
    window — fine at fixture sizes, pass ``index_col`` at scale).
    """

    def __init__(self, n_splits: int = 5, shuffle: bool = True, random_state=0,
                 index_col: Optional[str] = None, exact_threshold: int = 2_000_000):
        if n_splits < 2:
            raise ValueError(f"Number of splits must be >=2. Given {n_splits}.")
        self.n_splits = n_splits
        self.shuffle = shuffle
        self.random_state = random_state
        self.index_col = index_col
        self.exact_threshold = exact_threshold

    def get_n_splits(self) -> int:
        return self.n_splits

    def split(
        self, df: DataFrame, easting: str = "easting", northing: str = "northing"
    ) -> Iterator[Tuple[DataFrame, DataFrame]]:
        # easting/northing accepted for splitter-interface symmetry with the
        # blocked CVs; row-wise folds don't use coordinates
        from pyspark.sql import Window

        idx = self.index_col
        synthetic = idx is None
        if synthetic:
            idx = "__ridx"
            win = Window.orderBy(F.monotonically_increasing_id())
            df = df.withColumn(idx, F.row_number().over(win) - 1)
        n = df.count()
        if n <= self.exact_threshold:
            if synthetic:
                ids = np.arange(n)  # __ridx already IS the 0-based position
            else:
                ids = df.select(idx).orderBy(idx).toPandas()[idx].to_numpy()
                if len(np.unique(ids)) != n:
                    raise ValueError(f"index_col {idx!r} is not unique")
            fold_of = np.empty(n, dtype=np.int64)
            for i, (_, test) in enumerate(
                kfold_indices(n, self.n_splits, self.shuffle, self.random_state)
            ):
                fold_of[test] = i
            mapping = df.sparkSession.createDataFrame(
                pd.DataFrame({idx: ids, "__fold": fold_of})
            )
            labeled = df.join(F.broadcast(mapping), idx)
        elif self.shuffle:
            seed = self.random_state if isinstance(self.random_state, int) else 0
            labeled = df.withColumn(
                "__fold",
                F.pmod(F.xxhash64(F.col(idx), F.lit(seed)), F.lit(self.n_splits)),
            )
        else:
            # shuffle=False asked for sklearn's CONTIGUOUS order-
            # preserving folds — the hash fallback would silently
            # randomize membership.  Exact global positions without a
            # single-partition sort (the chunked roc_auc shape): a
            # percentile_approx sketch range-chunks the index, the
            # within-chunk rank is hash-partitioned, and cross-chunk
            # offsets come from a tiny counts aggregate; sketch quality
            # only balances chunks, never touches exactness.
            if df.schema[idx].dataType.typeName() not in (
                "long", "integer", "short", "byte", "double", "float",
                "decimal", "date", "timestamp",
            ):
                raise ValueError(
                    f"KFoldRows(shuffle=False) beyond exact_threshold "
                    f"needs a numeric/temporal index_col for range "
                    f"chunking; got {df.schema[idx].dataType.simpleString()}"
                )
            # duplicates would share a chunk rank and straddle fold edges
            if not synthetic and df.select(idx).distinct().count() != n:
                raise ValueError(f"index_col {idx!r} is not unique")
            k = self.n_splits
            nb = 64
            probs = [i / nb for i in range(1, nb)]
            qdf = df.agg(F.percentile_approx(idx, probs).alias("__qs"))
            chunk = F.aggregate(
                F.col("__qs"),
                F.lit(0),
                lambda acc, b: acc
                + F.when(F.col(idx) >= b, 1).otherwise(0),
            )
            t = (
                df.crossJoin(F.broadcast(qdf))
                .withColumn("__ck", chunk)
                .drop("__qs")
            )
            w_in = Window.partitionBy("__ck").orderBy(idx)
            w_ck = Window.orderBy("__ck").rowsBetween(
                Window.unboundedPreceding, -1
            )
            offs = (
                t.groupBy("__ck")
                .agg(F.count(F.lit(1)).alias("__cn"))
                .select(
                    "__ck",
                    F.coalesce(F.sum("__cn").over(w_ck), F.lit(0)).alias(
                        "__off"
                    ),
                )
            )
            pos = (
                F.row_number().over(w_in) - F.lit(1) + F.col("__off")
            ).cast("long")
            base, rem = n // k, n % k
            # sklearn fold sizes: the first n%k folds take one extra row
            fold = F.when(
                pos < F.lit((base + 1) * rem),
                F.floor(pos / F.lit(float(base + 1))),
            ).otherwise(
                F.lit(rem)
                + F.floor(
                    (pos - F.lit((base + 1) * rem))
                    / F.lit(float(base if base else 1))
                )
            )
            labeled = (
                t.join(F.broadcast(offs), "__ck")
                .withColumn("__fold", fold.cast("int"))
                .drop("__ck", "__off")
            )
        drop = ["__fold", "__ridx"] if synthetic else ["__fold"]
        for i in range(self.n_splits):
            yield (
                labeled.filter(F.col("__fold") != i).drop(*drop),
                labeled.filter(F.col("__fold") == i).drop(*drop),
            )


class BlockShuffleSplit(_BlockSplitter):
    """verde BlockShuffleSplit (model_selection.py:23-215): shuffle blocks
    into train/test; generate ``balancing`` candidate shuffles per split and
    keep the one whose point ratio best matches the block ratio."""

    def __init__(
        self,
        spacing=None,
        shape=None,
        n_splits: int = 10,
        test_size=0.1,
        train_size=None,
        random_state=None,
        balancing: int = 10,
    ):
        if balancing < 1:
            raise ValueError("The *balancing* argument must be >= 1. To disable balancing, use 1.")
        self.spacing = spacing
        self.shape = shape
        self.n_splits = n_splits
        self.test_size = test_size
        self.train_size = train_size
        self.random_state = random_state
        self.balancing = balancing

    def split_blocks(
        self,
        df: DataFrame,
        easting: str = "easting",
        northing: str = "northing",
        grid: Optional[BlockGrid] = None,
    ) -> Iterator[Tuple[np.ndarray, np.ndarray]]:
        """Yield (train_block_ids, test_block_ids) per split.  Pass the
        *grid* when the caller already derived it — ``get_region`` is a
        full min/max table scan."""
        return self._block_splits(self._stats(df, easting, northing, grid)[1])

    def _block_splits(self, stats: pd.DataFrame) -> Iterator[Tuple[np.ndarray, np.ndarray]]:
        block_ids, counts = stats["block"].to_numpy(), stats["cnt"].to_numpy()
        count_of = dict(zip(block_ids.tolist(), counts.tolist()))
        shuffle = shuffle_split_indices(
            len(block_ids),
            self.n_splits * self.balancing,
            self.test_size,
            self.train_size,
            self.random_state,
        )
        for _ in range(self.n_splits):
            candidates, balance = [], []
            for _ in range(self.balancing):
                train_idx, test_idx = next(shuffle)
                train_blocks = block_ids[train_idx]
                test_blocks = block_ids[test_idx]
                train_pts = sum(count_of[b] for b in train_blocks.tolist())
                test_pts = sum(count_of[b] for b in test_blocks.tolist())
                balance.append(abs(train_pts / test_pts - train_idx.size / test_idx.size))
                candidates.append((train_blocks, test_blocks))
            yield candidates[int(np.argmin(balance))]

    def _test_blocks(self, stats: pd.DataFrame) -> Iterator[np.ndarray]:
        return (test for _, test in self._block_splits(stats))


class BlockKFold(_BlockSplitter):
    """verde BlockKFold (model_selection.py:218-423): K folds over blocks,
    optionally shuffled and balanced by per-block point counts via
    :func:`partition_by_sum`."""

    def __init__(
        self,
        spacing=None,
        shape=None,
        n_splits: int = 5,
        shuffle: bool = False,
        random_state=None,
        balance: bool = True,
    ):
        if n_splits < 2:
            raise ValueError(f"Number of splits must be >=2 for BlockKFold. Given {n_splits}.")
        self.spacing = spacing
        self.shape = shape
        self.n_splits = n_splits
        self.shuffle = shuffle
        self.random_state = random_state
        self.balance = balance

    def fold_blocks(
        self,
        df: DataFrame,
        easting: str = "easting",
        northing: str = "northing",
        grid: Optional[BlockGrid] = None,
    ) -> List[np.ndarray]:
        """List of test-block-id arrays, one per fold.  Pass the *grid*
        when the caller already derived it."""
        return self._test_blocks(self._stats(df, easting, northing, grid)[1])

    def _test_blocks(self, stats: pd.DataFrame) -> List[np.ndarray]:
        block_ids, counts = stats["block"].to_numpy(), stats["cnt"].to_numpy()
        if self.n_splits > block_ids.size:
            raise ValueError(
                f"Number of k-fold splits ({self.n_splits}) cannot be greater than "
                f"the number of blocks ({block_ids.size})."
            )
        if self.shuffle:
            rng = (
                self.random_state
                if isinstance(self.random_state, np.random.RandomState)
                else np.random.RandomState(self.random_state)
            )
            order = rng.permutation(block_ids.size)
            block_ids = block_ids[order]
            counts = counts[order]
        if self.balance:
            try:
                split_points = partition_by_sum(counts, parts=self.n_splits)
                folds = np.split(np.arange(block_ids.size), split_points)
            except ValueError:
                warnings.warn(
                    "Could not balance folds to have approximately the same "
                    "number of data points. Dividing into folds with equal "
                    "number of blocks instead.",
                    UserWarning,
                    stacklevel=2,
                )
                folds = [test for _, test in kfold_indices(block_ids.size, self.n_splits)]
        else:
            folds = [test for _, test in kfold_indices(block_ids.size, self.n_splits)]
        return [block_ids[f] for f in folds]


def train_test_split(
    df: DataFrame,
    spacing=None,
    shape=None,
    test_size=None,
    train_size=None,
    random_state=None,
    balancing: int = 10,
    easting: str = "easting",
    northing: str = "northing",
) -> Tuple[DataFrame, DataFrame]:
    """verde train_test_split (model_selection.py:426-579): blocked single
    split when spacing/shape given, plain random row split otherwise."""
    if spacing is None and shape is None:
        frac_test = test_size if test_size is not None else 0.1
        if train_size is None:
            train_frac = 1.0 - frac_test
        else:
            train_frac = train_size
        # distributed row split: seeded hash split (sklearn's exact row
        # permutation is not reproducible distributively; decisions on rows,
        # unlike blocks, can't go driver-side at scale).  randomSplit
        # NORMALIZES its weights, so train+test < 1 (sklearn semantics:
        # discard the remainder) needs an explicit discard bucket or both
        # splits silently inflate to fill the table
        rest = 1.0 - train_frac - frac_test
        if rest > 1e-12:
            train, test, _discard = df.randomSplit(
                [train_frac, frac_test, rest], seed=random_state or 0
            )
        else:
            train, test = df.randomSplit(
                [train_frac, frac_test], seed=random_state or 0
            )
        return train, test
    splitter = BlockShuffleSplit(
        spacing=spacing,
        shape=shape,
        n_splits=1,
        test_size=test_size if test_size is not None else 0.1,
        train_size=train_size,
        random_state=random_state,
        balancing=balancing,
    )
    return next(splitter.split(df, easting, northing))


def _folds(cv, df: DataFrame, easting: str, northing: str):
    """*cv*'s ``(train, test)`` folds, each with its train region when the
    splitter knows it (the blocked CVs), else None."""
    if isinstance(cv, _BlockSplitter):
        return cv._split_regions(df, easting, northing)
    return ((train, test, None) for train, test in cv.split(df, easting, northing))


def cross_val_score(
    make_estimator,
    df: DataFrame,
    cv=None,
    data_col: str = "scalars",
    weight_col: Optional[str] = None,
    easting: str = "easting",
    northing: str = "northing",
    scoring=None,
) -> List[float]:
    """verde cross_val_score (model_selection.py:582-788): per fold, fit a
    fresh estimator on train and R²-score on test. *make_estimator* is
    either an estimator INSTANCE (cloned per fold from its constructor
    params, exactly the reference's sklearn-``clone`` protocol,
    model_selection.py:771) or a zero-arg factory.
    Default cv matches the reference's default —
    :class:`KFoldRows` = row-wise ``KFold(5, shuffle=True, random_state=0)``
    (verde model_selection.py:759-760), exact sklearn fold membership at
    driver-viable sizes. Pass a BlockKFold/BlockShuffleSplit for the
    blocked (spatially honest) variants.
    """
    if cv is None:
        cv = KFoldRows(n_splits=5, shuffle=True, random_state=0)
    if hasattr(make_estimator, "fit"):  # estimator instance → clone per fold
        from .base import clone

        proto = make_estimator
        make_estimator = lambda: clone(proto)  # noqa: E731
    scores = []
    for train, test, region in _folds(cv, df, easting, northing):
        est = make_estimator()
        fit_predict = getattr(est, "_fit_predict", None)
        if fit_predict is not None:  # a Spline: one grouped pass per fold
            pred = fit_predict(train, test, data_col, weight_col, easting, northing, region)
        else:
            est.fit(train, data_col=data_col, weight_col=weight_col, easting=easting, northing=northing)
            pred = est.predict(test, "__pred", easting=easting, northing=northing)
        scores.append(score_with(scoring, pred, data_col, "__pred", weight_col))
    return scores
