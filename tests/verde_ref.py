"""Load the REFERENCE implementation (fatiando/verde) as a test oracle.

``load_reference()`` finds verde in one of two places: a read-only
checkout in a ``reference/`` directory beside this repository (put on
``sys.path`` only when its ``reference/verde`` directory exists), or an
installed ``verde`` package.  Where neither is there it imports nothing,
installs no stand-in and returns ``None``; test_reference_parity.py then
skips its oracle comparisons and still runs ``test_ref_public_api_surface``,
which needs no oracle.

Where verde is found, the reference's numerical core is NumPy + pandas,
but it imports heavy dependencies (scipy, sklearn, pooch, xarray, dask)
that may be missing.  For each one that ``importlib.util.find_spec`` does
not find, this module installs a *minimal* stand-in; an installed package
is never shadowed:

* ``pooch`` / ``verde._version_generated`` — import-time plumbing only
  (the latter only when the found verde has no ``_version_generated.py``);
* ``scipy.spatial.cKDTree`` — brute-force NumPy nearest-neighbor with
  scipy's return conventions (fixture sizes are hundreds of points);
* ``sklearn`` pieces — ``BaseEstimator/clone/check_is_fitted/
  check_random_state`` plus ``LinearRegression/Ridge/StandardScaler``
  backed by ``numpy.linalg`` (the same LAPACK routines sklearn drives),
  and ``ShuffleSplit/KFold/BaseCrossValidator`` reproducing sklearn's
  exact permutation/fold algorithms (one RandomState, full permutation
  per split; shuffled arange + contiguous folds) so the reference's
  blocked CV logic runs with its real RNG decisions.

What the stubs DO NOT make runnable: ``scipy.interpolate`` gridders
(Linear/Cubic/Delaunay masks) — those raise on use, and no parity test
touches them.  Everything else (coordinates, block reductions,
spline/trend/vector numerics, kNN, distance mask, blocked CV splits)
executes the reference's own code paths, so test_reference_parity.py
compares our Spark operators against genuine reference outputs.

NOTE: nothing is copied from the reference; it is imported in place,
at test time, as an oracle.
"""

from __future__ import annotations

import importlib.machinery
import importlib.util
import os
import sys
import types

import numpy as np

#: Where a read-only verde checkout is looked for: ``reference/`` beside
#: the repository that holds this file.
REFERENCE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "reference",
)


def _module(name: str) -> types.ModuleType:
    """Stub module with a real ModuleSpec (importlib.find_spec probes it)."""
    mod = types.ModuleType(name)
    mod.__spec__ = importlib.machinery.ModuleSpec(name, loader=None)
    return mod


def _missing(name: str) -> bool:
    """True when no real (or already stubbed) top-level package exists."""
    return importlib.util.find_spec(name) is None


def _install_stubs(verde_spec):
    if _missing("pooch"):
        pooch = _module("pooch")
        pooch.os_cache = lambda name: "/tmp/_fake_pooch"
        pooch.__version__ = "1.0-stub"

        class _Pooch:
            def load_registry(self, *a, **k):
                pass

            def fetch(self, *a, **k):
                raise RuntimeError("no network in test environment")

        pooch.create = lambda *a, **kw: _Pooch()
        sys.modules["pooch"] = pooch

    if "verde._version_generated" not in sys.modules and not any(
        os.path.isfile(os.path.join(loc, "_version_generated.py"))
        for loc in verde_spec.submodule_search_locations or ()
    ):
        vg = _module("verde._version_generated")
        vg.version = "0.0.0+reference-oracle"
        sys.modules["verde._version_generated"] = vg

    if _missing("xarray"):
        # only grid/Dataset assembly touches xarray; parity tests compare
        # array outputs, so attribute access fails only if actually used
        xarray = _module("xarray")

        class _DataArray:
            """Just enough container for load_surfer parity tests."""

            def __init__(self, data, coords=None, dims=None, attrs=None):
                self.values = np.ma.getdata(np.asarray(data)) if np.ma.isMaskedArray(data) else np.asarray(data)
                if np.ma.isMaskedArray(data):
                    self.values = np.where(np.ma.getmaskarray(data), np.nan, self.values)
                self.coords = coords or {}
                self.dims = dims or ()
                self.attrs = attrs or {}

        class _NoXarray:
            def __init__(self, *a, **k):
                raise NotImplementedError("xarray not available (stub)")

        xarray.DataArray = _DataArray
        xarray.Dataset = _NoXarray
        sys.modules["xarray"] = xarray

    if _missing("dask"):
        dask = _module("dask")

        def delayed(func=None, **kwargs):
            raise NotImplementedError("dask not available (stub)")

        dask.delayed = delayed
        sys.modules["dask"] = dask

    if _missing("scipy"):
        scipy = _module("scipy")
        spatial = _module("scipy.spatial")
        interpolate = _module("scipy.interpolate")

        class cKDTree:
            """Brute-force stand-in with scipy's query conventions."""

            def __init__(self, data, **kwargs):
                self.data = np.asarray(data, dtype="float64")

            def _dists(self, x):
                x = np.atleast_2d(np.asarray(x, dtype="float64"))
                return np.sqrt(
                    ((x[:, None, :] - self.data[None, :, :]) ** 2).sum(axis=2)
                )

            def query(self, x, k=1, **kwargs):
                d = self._dists(x)
                order = np.argsort(d, axis=1, kind="stable")[:, :k]
                dist = np.take_along_axis(d, order, axis=1)
                if k == 1:
                    return dist[:, 0], order[:, 0]
                return dist, order

            def query_ball_point(self, x, r, p=2.0, **kwargs):
                x = np.atleast_2d(np.asarray(x, dtype="float64"))
                diff = np.abs(x[:, None, :] - self.data[None, :, :])
                if np.isinf(p):
                    d = diff.max(axis=2)
                else:
                    d = (diff**p).sum(axis=2) ** (1.0 / p)
                return [list(np.nonzero(row <= r)[0]) for row in d]

        def _unavailable(*a, **k):
            raise NotImplementedError("scipy not available in this environment")

        spatial.cKDTree = cKDTree
        spatial.Delaunay = _unavailable
        interpolate.LinearNDInterpolator = _unavailable
        interpolate.CloughTocher2DInterpolator = _unavailable
        interpolate.NearestNDInterpolator = _unavailable
        scipy.spatial = spatial
        scipy.interpolate = interpolate
        sys.modules["scipy"] = scipy
        sys.modules["scipy.spatial"] = spatial
        sys.modules["scipy.interpolate"] = interpolate

    if _missing("sklearn"):
        import inspect

        sklearn = _module("sklearn")
        base = _module("sklearn.base")
        model_selection = _module("sklearn.model_selection")
        linear_model = _module("sklearn.linear_model")
        preprocessing = _module("sklearn.preprocessing")
        metrics = _module("sklearn.metrics")
        utils = _module("sklearn.utils")
        validation = _module("sklearn.utils.validation")

        class BaseEstimator:
            @classmethod
            def _get_param_names(cls):
                sig = inspect.signature(cls.__init__)
                return sorted(
                    p for p in sig.parameters if p not in ("self", "args", "kwargs")
                )

            def get_params(self, deep=True):
                return {p: getattr(self, p) for p in self._get_param_names()}

            def set_params(self, **params):
                for k, v in params.items():
                    setattr(self, k, v)
                return self

        def clone(est):
            return type(est)(**est.get_params())

        def check_random_state(seed):
            if seed is None or isinstance(seed, int):
                return np.random.RandomState(seed)
            return seed

        def check_is_fitted(est, attributes=None, *a, **k):
            attrs = attributes or [
                a for a in vars(est) if a.endswith("_") and not a.startswith("__")
            ]
            if not attrs:
                raise RuntimeError(f"{type(est).__name__} is not fitted")

        class BaseCrossValidator:
            """sklearn's split machinery: masks from _iter_test_indices."""

            def split(self, X, y=None, groups=None):
                n = X.shape[0] if hasattr(X, "shape") else len(X)
                indices = np.arange(n)
                for test_mask in self._iter_test_masks(X, y, groups):
                    yield indices[~test_mask], indices[test_mask]

            def _iter_test_masks(self, X=None, y=None, groups=None):
                n = X.shape[0] if hasattr(X, "shape") else len(X)
                for test_index in self._iter_test_indices(X, y, groups):
                    mask = np.zeros(n, dtype=bool)
                    mask[test_index] = True
                    yield mask

        class ShuffleSplit:
            """sklearn's exact algorithm: one RandomState, per split a full
            permutation; test = perm[:n_test], train = next n_train."""

            def __init__(self, n_splits=10, test_size=None, train_size=None,
                         random_state=None):
                self.n_splits = n_splits
                self.test_size = test_size
                self.train_size = train_size
                self.random_state = random_state

            def _sizes(self, n):
                test = 0.1 if self.test_size is None else self.test_size
                n_test = int(np.ceil(test * n)) if isinstance(test, float) else int(test)
                if self.train_size is None:
                    n_train = n - n_test
                elif isinstance(self.train_size, float):
                    n_train = int(np.floor(self.train_size * n))
                else:
                    n_train = int(self.train_size)
                return n_train, n_test

            def split(self, X, y=None, groups=None):
                n = X.shape[0] if hasattr(X, "shape") else len(X)
                n_train, n_test = self._sizes(n)
                rng = check_random_state(self.random_state)
                for _ in range(self.n_splits):
                    perm = rng.permutation(n)
                    yield perm[n_test:(n_test + n_train)], perm[:n_test]

            def get_n_splits(self, *a, **k):
                return self.n_splits

        class KFold(BaseCrossValidator):
            def __init__(self, n_splits=5, shuffle=False, random_state=None):
                self.n_splits = n_splits
                self.shuffle = shuffle
                self.random_state = random_state

            def _iter_test_indices(self, X=None, y=None, groups=None):
                n = X.shape[0] if hasattr(X, "shape") else len(X)
                indices = np.arange(n)
                if self.shuffle:
                    check_random_state(self.random_state).shuffle(indices)
                fold_sizes = np.full(self.n_splits, n // self.n_splits, dtype=int)
                fold_sizes[: n % self.n_splits] += 1
                current = 0
                for size in fold_sizes:
                    yield indices[current:current + size]
                    current += size

            def get_n_splits(self, *a, **k):
                return self.n_splits

        def _weighted(jac, data, sample_weight):
            if sample_weight is None:
                return jac, data
            sw = np.sqrt(np.asarray(sample_weight, dtype="float64"))
            return jac * sw[:, None], data * sw

        class LinearRegression(BaseEstimator):
            def __init__(self, fit_intercept=True, **kwargs):
                self.fit_intercept = fit_intercept

            def fit(self, X, y, sample_weight=None):
                assert not self.fit_intercept, "stub supports fit_intercept=False"
                Xw, yw = _weighted(np.asarray(X, "float64"), np.asarray(y, "float64"), sample_weight)
                self.coef_, *_ = np.linalg.lstsq(Xw, yw, rcond=None)
                return self

        class Ridge(BaseEstimator):
            def __init__(self, alpha=1.0, fit_intercept=True, **kwargs):
                self.alpha = alpha
                self.fit_intercept = fit_intercept

            def fit(self, X, y, sample_weight=None):
                assert not self.fit_intercept, "stub supports fit_intercept=False"
                Xw, yw = _weighted(np.asarray(X, "float64"), np.asarray(y, "float64"), sample_weight)
                lhs = Xw.T @ Xw + self.alpha * np.eye(Xw.shape[1])
                rhs = Xw.T @ yw
                try:
                    self.coef_ = np.linalg.solve(lhs, rhs)
                except np.linalg.LinAlgError:
                    self.coef_, *_ = np.linalg.lstsq(lhs, rhs, rcond=None)
                return self

        class StandardScaler(BaseEstimator):
            def __init__(self, copy=True, with_mean=True, with_std=True):
                self.copy = copy
                self.with_mean = with_mean
                self.with_std = with_std

            def fit_transform(self, X):
                X = np.asarray(X, dtype="float64")
                self.mean_ = X.mean(axis=0)
                var = X.var(axis=0)
                scale = np.sqrt(var)
                scale[scale == 0.0] = 1.0  # sklearn _handle_zeros_in_scale
                self.scale_ = scale
                out = X.copy() if self.copy else X
                if self.with_mean:
                    out -= self.mean_
                if self.with_std:
                    out /= self.scale_
                return out

        def check_scoring(estimator, scoring=None, **k):
            """sklearn semantics for the scorers verde requests ('r2')."""
            if scoring in (None, "r2"):
                def scorer(est, X, y_true, sample_weight=None):
                    y_pred = np.asarray(est.predict(X), dtype="float64").ravel()
                    y_true = np.asarray(y_true, dtype="float64").ravel()
                    w = (np.ones_like(y_true) if sample_weight is None
                         else np.asarray(sample_weight, dtype="float64").ravel())
                    ybar = np.average(y_true, weights=w)
                    ss_res = np.sum(w * (y_true - y_pred) ** 2)
                    ss_tot = np.sum(w * (y_true - ybar) ** 2)
                    return 1.0 - ss_res / ss_tot
                return scorer
            raise NotImplementedError(f"scorer {scoring!r} not available (stub)")

        base.BaseEstimator = BaseEstimator
        base.clone = clone
        model_selection.BaseCrossValidator = BaseCrossValidator
        model_selection.KFold = KFold
        model_selection.ShuffleSplit = ShuffleSplit
        linear_model.LinearRegression = LinearRegression
        linear_model.Ridge = Ridge
        preprocessing.StandardScaler = StandardScaler
        metrics.check_scoring = check_scoring
        utils.check_random_state = check_random_state
        utils.validation = validation
        validation.check_is_fitted = check_is_fitted

        sklearn.base = base
        sklearn.model_selection = model_selection
        sklearn.linear_model = linear_model
        sklearn.preprocessing = preprocessing
        sklearn.metrics = metrics
        sklearn.utils = utils
        for name, mod in [
            ("sklearn", sklearn),
            ("sklearn.base", base),
            ("sklearn.model_selection", model_selection),
            ("sklearn.linear_model", linear_model),
            ("sklearn.preprocessing", preprocessing),
            ("sklearn.metrics", metrics),
            ("sklearn.utils", utils),
            ("sklearn.utils.validation", validation),
        ]:
            sys.modules[name] = mod


def load_reference():
    """Import and return the reference ``verde`` package (oracle), or
    ``None`` when neither the checkout nor an installed verde exists."""
    checkout = os.path.isdir(os.path.join(REFERENCE_ROOT, "verde"))
    if checkout and REFERENCE_ROOT not in sys.path:
        sys.path.insert(0, REFERENCE_ROOT)
    spec = importlib.util.find_spec("verde")
    if spec is None:
        return None
    _install_stubs(spec)
    import verde  # noqa: deferred until stubs are in place

    return verde
