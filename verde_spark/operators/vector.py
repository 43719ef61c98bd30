"""Multi-component (vector) gridding.

* :class:`Vector` — one independent estimator per data component
  (verde vector.py:28-141): component pipelines run over the same
  DataFrame, predictions land as separate columns.
* :class:`VectorSpline2D` — elastically coupled 2-component spline
  (Sandwell & Wessel 2016; verde vector.py:144-479): Green's functions
  ``ln_r=(3−p)·log d``, ``over_r2=(1+p)/d²``; block-structured symmetric
  Jacobian ``[[J_ee, J_ne], [J_ne, J_nn]]`` over east-then-north stacked
  data, damped LSQ per spatial tile inside ``applyInPandas`` (same tiling
  + halo strategy as the scalar Spline), cogrouped NumPy prediction.
"""

from __future__ import annotations

from typing import Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..coordinates import BlockGrid
from ..geometry import get_region
from ..lstsq import least_squares
from .spline import _halo_explode, _tile_grid


#: Reference default data names for vector components
#: (/root/reference/verde/base/base_classes.py:219-223).
_COMPONENT_COLS = ("east_component", "north_component", "vertical_component")


class Vector:
    """Fit one estimator per component (verde vector.py:28-141).

    ``components`` is either the reference's form — a sequence of
    estimator instances (or zero-arg factories), one per data component,
    with column names defaulting to ``east_component``/``north_component``
    /``vertical_component`` and overridable per fit via ``data_col`` — or
    a list of explicit (data_col, estimator-or-factory) pairs. Estimator
    instances are cloned per fit (sklearn semantics), so one Vector can be
    refit without leaking fitted state.
    """

    def __init__(self, components):
        self.components = list(components)
        self.fitted_ = []

    def _pairs(self, data_col=None):
        """Normalize to [(col, fresh-estimator), ...]."""
        from ..base import clone

        pairs = []
        for i, comp in enumerate(self.components):
            if isinstance(comp, (tuple, list)) and len(comp) == 2:
                col, make = comp
            else:
                if i >= len(_COMPONENT_COLS) and data_col is None:
                    raise ValueError(
                        f"Vector supports at most {len(_COMPONENT_COLS)} default "
                        "component columns; pass data_col or (col, estimator) pairs"
                    )
                col, make = (None, comp)
            if data_col is not None:
                col = data_col[i] if not isinstance(data_col, str) else data_col
            elif col is None:
                col = _COMPONENT_COLS[i]
            est = make() if (callable(make) and not hasattr(make, "fit")) else clone(make)
            pairs.append((col, est))
        return pairs

    def fit(self, df: DataFrame, weight_cols: Optional[Sequence[str]] = None,
            easting: str = "easting", northing: str = "northing",
            data_col: Optional[Sequence[str]] = None,
            data_cols: Optional[Sequence[str]] = None) -> "Vector":
        # data_cols is the natural plural for a multi-component fit and
        # matches VectorSpline2D.score; data_col stays for BaseGridder
        # keyword symmetry (the r2 Chain bug was exactly this kind of
        # singular/plural trap)
        if data_col is not None and data_cols is not None:
            raise TypeError("pass data_col or data_cols, not both")
        if data_cols is not None:
            data_col = data_cols
        self.fitted_ = []
        for i, (col, est) in enumerate(self._pairs(data_col)):
            w = weight_cols[i] if weight_cols else None
            est.fit(df, data_col=col, weight_col=w, easting=easting, northing=northing)
            self.fitted_.append((col, est))
        # first component that records a fitted region (Trend, for one,
        # doesn't track a region)
        self.region_ = next(
            (r for _, est in self.fitted_
             if (r := getattr(est, "region_", None)) is not None),
            None,
        )
        return self

    def grid(self, spark, region=None, shape=None, spacing=None,
             suffix: str = "_pred") -> DataFrame:
        """All components evaluated on one regular grid (reference
        Vector inherits BaseGridder.grid; multi-output here)."""
        from ..coordinates import grid_coordinates

        nodes = grid_coordinates(spark, region or self.region_, shape=shape,
                                 spacing=spacing)
        return self.predict(nodes, suffix=suffix)

    def predict(self, df: DataFrame, suffix: str = "_pred",
                easting: str = "easting", northing: str = "northing") -> DataFrame:
        out = df
        for col, est in self.fitted_:
            out = est.predict(out, f"{col}{suffix}", easting=easting, northing=northing)
        return out

    def scatter(self, spark, region=None, size: int = 300, random_state=0,
                suffix: str = "_pred") -> DataFrame:
        """All components on seeded uniform random points (reference Vector
        inherits BaseGridder.scatter, base/base_classes.py:502-560)."""
        from ..coordinates import scatter_points_df

        pts = scatter_points_df(spark, region or self.region_, size, random_state)
        return self.predict(pts, suffix=suffix)

    def profile(self, spark, point1, point2, size: int,
                suffix: str = "_pred") -> DataFrame:
        """All components along a straight segment, with distances
        (reference BaseGridder.profile, base/base_classes.py:594-660)."""
        import pandas as pd

        from ..coordinates import profile_coordinates

        (e, n), dist = profile_coordinates(point1, point2, size)
        pts = spark.createDataFrame(
            pd.DataFrame({"easting": e, "northing": n, "distance": dist})
        )
        return self.predict(pts, suffix=suffix)

    def score(self, df: DataFrame, weight_cols: Optional[Sequence[str]] = None,
              easting: str = "easting", northing: str = "northing",
              data_cols: Optional[Sequence[str]] = None) -> float:
        """Mean R² across components (the reference averages per-component
        scores, base/utils.py:15-66) — one predict plan + ONE aggregate.
        ``data_cols`` scores against different column names than the fit
        used (component i vs data_cols[i]); defaults to the fit columns."""
        from ..model_selection import r2_score_multi

        pred = self.predict(df, suffix="__pred", easting=easting, northing=northing)
        truth = list(data_cols) if data_cols is not None else [
            col for col, _ in self.fitted_
        ]
        pairs = [(t, f"{col}__pred") for t, (col, _) in zip(truth, self.fitted_)]
        return float(np.mean(r2_score_multi(pred, pairs, weight_cols)))


def greens_func_2d(east, north, mindist: float, poisson: float):
    """Elastic 2D Green's functions (verde vector.py:393-405), bit-exact."""
    distance = np.sqrt(east**2 + north**2)
    distance = distance + mindist
    ln_r = (3 - poisson) * np.log(distance)
    over_r2 = (1 + poisson) / distance**2
    green_ee = ln_r + over_r2 * north**2
    green_nn = ln_r + over_r2 * east**2
    green_ne = -over_r2 * east * north
    return green_ee, green_nn, green_ne


def jacobian_2d(east, north, force_east, force_north, mindist, poisson):
    """(2n, 2m) block Jacobian (verde vector.py:425-445)."""
    npoints, nforces = east.size, force_east.size
    jac = np.empty((npoints * 2, nforces * 2))
    g_ee, g_nn, g_ne = greens_func_2d(
        east.reshape((npoints, 1)) - force_east,
        north.reshape((npoints, 1)) - force_north,
        mindist,
        poisson,
    )
    jac[:npoints, :nforces] = g_ee
    jac[npoints:, nforces:] = g_nn
    jac[:npoints, nforces:] = g_ne
    jac[npoints:, :nforces] = g_ne
    return jac


def predict_2d(east, north, force_east, force_north, mindist, poisson, forces, chunk=2048):
    """Vector prediction: Σ over forces of the coupled Green's sums."""
    ve = np.zeros(east.size)
    vn = np.zeros(east.size)
    nforces = forces.size // 2
    fe, fn = forces[:nforces], forces[nforces:]
    for lo in range(0, east.size, chunk):
        hi = min(lo + chunk, east.size)
        g_ee, g_nn, g_ne = greens_func_2d(
            east[lo:hi].reshape((-1, 1)) - force_east,
            north[lo:hi].reshape((-1, 1)) - force_north,
            mindist,
            poisson,
        )
        ve[lo:hi] = g_ee @ fe + g_ne @ fn
        vn[lo:hi] = g_ne @ fe + g_nn @ fn
    return ve, vn


class VectorSpline2D:
    """Distributed coupled 2-component spline (verde vector.py:144-479).

    Verde defaults: poisson=0.5, mindist=10e3 (additive fudge — the old
    formulation, vector.py:221).
    """

    def __init__(
        self,
        poisson: float = 0.5,
        mindist: float = 10e3,
        damping: Optional[float] = None,
        tile_spacing: Optional[float] = None,
        halo: Optional[float] = None,
    ):
        self.poisson = float(poisson)
        self.mindist = float(mindist)
        self.damping = damping
        self.tile_spacing = tile_spacing
        self.halo = halo
        self.forces_: Optional[DataFrame] = None
        self.tile_grid_: Optional[BlockGrid] = None
        self.region_ = None

    def fit(
        self,
        df: DataFrame,
        data_cols: Sequence[str] = ("east_component", "north_component"),
        weight_cols: Optional[Sequence[str]] = None,
        easting: str = "easting",
        northing: str = "northing",
    ) -> "VectorSpline2D":
        if len(data_cols) != 2:
            raise ValueError(f"Need two data components. Only {len(data_cols)} given.")
        self.data_cols_ = tuple(data_cols)
        self.region_ = get_region(df, easting, northing)
        self.tile_grid_, pad = _tile_grid(self.region_, self.tile_spacing, self.halo)
        grid = self.tile_grid_
        cols = [
            F.col(easting).alias("easting"),
            F.col(northing).alias("northing"),
            F.col(data_cols[0]).alias("de"),
            F.col(data_cols[1]).alias("dn"),
        ]
        if weight_cols:
            cols += [F.col(weight_cols[0]).alias("we"), F.col(weight_cols[1]).alias("wn")]
        else:
            cols += [F.lit(None).cast("double").alias("we"), F.lit(None).cast("double").alias("wn")]
        pts = df.select(*cols)
        exploded = _halo_explode(pts, grid, pad, "easting", "northing")

        damping, mindist, poisson = self.damping, self.mindist, self.poisson
        schema = T.StructType(
            [
                T.StructField("tile", T.LongType()),
                T.StructField("force_east", T.DoubleType()),
                T.StructField("force_north", T.DoubleType()),
                T.StructField("force_e", T.DoubleType()),
                T.StructField("force_n", T.DoubleType()),
            ]
        )

        def solve(pdf: pd.DataFrame) -> pd.DataFrame:
            east = pdf["easting"].to_numpy("float64")
            north = pdf["northing"].to_numpy("float64")
            # east component stacked on top of north (vector.py:280-288)
            data = np.concatenate([pdf["de"].to_numpy("float64"), pdf["dn"].to_numpy("float64")])
            we = pdf["we"].to_numpy("float64")
            wn = pdf["wn"].to_numpy("float64")
            weights = None
            if not (np.isnan(we).all() and np.isnan(wn).all()):
                weights = np.concatenate([np.nan_to_num(we, nan=1.0), np.nan_to_num(wn, nan=1.0)])
            jac = jacobian_2d(east, north, east, north, mindist, poisson)
            forces = least_squares(jac, data, weights, damping)
            m = east.size
            return pd.DataFrame(
                {
                    "tile": pdf["tile"].iloc[0],
                    "force_east": east,
                    "force_north": north,
                    "force_e": forces[:m],
                    "force_n": forces[m:],
                }
            )

        self.forces_ = exploded.groupBy("tile").applyInPandas(solve, schema)
        return self

    def grid(self, spark, region=None, shape=None, spacing=None,
             output_cols: Sequence[str] = ("east_component_pred", "north_component_pred")) -> DataFrame:
        """Both velocity components on one regular grid (reference
        VectorSpline2D inherits BaseGridder.grid; two outputs here)."""
        from ..coordinates import grid_coordinates

        nodes = grid_coordinates(spark, region or self.region_, shape=shape,
                                 spacing=spacing)
        return self.predict(nodes, output_cols=output_cols)

    def scatter(self, spark, region=None, size: int = 300, random_state=0,
                output_cols: Sequence[str] = ("east_component_pred", "north_component_pred")) -> DataFrame:
        """Both components on seeded uniform random points (reference
        inherits BaseGridder.scatter)."""
        from ..coordinates import scatter_points_df

        pts = scatter_points_df(spark, region or self.region_, size, random_state)
        return self.predict(pts, output_cols=output_cols)

    def profile(self, spark, point1, point2, size: int,
                output_cols: Sequence[str] = ("east_component_pred", "north_component_pred")) -> DataFrame:
        """Both components along a straight segment, with distances
        (reference inherits BaseGridder.profile)."""
        from ..coordinates import profile_coordinates

        (e, n), dist = profile_coordinates(point1, point2, size)
        pts = spark.createDataFrame(
            pd.DataFrame({"easting": e, "northing": n, "distance": dist})
        )
        return self.predict(pts, output_cols=output_cols)

    def score(self, df: DataFrame, data_cols: Optional[Sequence[str]] = None,
              weight_cols: Optional[Sequence[str]] = None,
              easting: str = "easting", northing: str = "northing") -> float:
        """Mean R² of the two components (reference base/utils.py:15-66
        averages component scores) — one cogrouped predict + ONE aggregate."""
        from ..model_selection import r2_score_multi

        data_cols = tuple(
            data_cols or getattr(self, "data_cols_", ("east_component", "north_component"))
        )
        pred = self.predict(df, output_cols=("__pe", "__pn"),
                            easting=easting, northing=northing)
        scores = r2_score_multi(
            pred, [(data_cols[0], "__pe"), (data_cols[1], "__pn")], weight_cols
        )
        return float(np.mean(scores))

    def predict(
        self,
        df: DataFrame,
        output_cols: Sequence[str] = ("east_component_pred", "north_component_pred"),
        easting: str = "easting",
        northing: str = "northing",
    ) -> DataFrame:
        if self.forces_ is None or self.tile_grid_ is None:
            raise RuntimeError("VectorSpline2D is not fitted.")
        grid = self.tile_grid_
        mindist, poisson = self.mindist, self.poisson
        tiled = df.withColumn("tile", grid.label_expr(easting, northing))
        out_fields = [f for f in tiled.schema.fields if f.name != "tile"]
        schema = T.StructType(
            out_fields
            + [T.StructField(output_cols[0], T.DoubleType()), T.StructField(output_cols[1], T.DoubleType())]
        )
        e_name, n_name = easting, northing

        def evaluate(key, nodes: pd.DataFrame, forces: pd.DataFrame) -> pd.DataFrame:
            nodes = nodes.drop(columns=["tile"]).copy()
            if len(nodes) == 0:
                nodes[output_cols[0]] = pd.Series(dtype="float64")
                nodes[output_cols[1]] = pd.Series(dtype="float64")
                return nodes
            if len(forces) == 0:
                nodes[output_cols[0]] = np.nan
                nodes[output_cols[1]] = np.nan
                return nodes
            stacked = np.concatenate(
                [forces["force_e"].to_numpy("float64"), forces["force_n"].to_numpy("float64")]
            )
            ve, vn = predict_2d(
                nodes[e_name].to_numpy("float64"),
                nodes[n_name].to_numpy("float64"),
                forces["force_east"].to_numpy("float64"),
                forces["force_north"].to_numpy("float64"),
                mindist,
                poisson,
                stacked,
            )
            nodes[output_cols[0]] = ve
            nodes[output_cols[1]] = vn
            return nodes

        return (
            tiled.groupBy("tile")
            .cogroup(self.forces_.groupBy("tile"))
            .applyInPandas(evaluate, schema)
        )
