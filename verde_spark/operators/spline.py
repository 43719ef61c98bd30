"""Biharmonic spline gridding (Sandwell 1987) — per-tile distributed solve.

The reference (verde spline.py:315-650) materializes one dense
n_data × n_forces Green's matrix and solves it with LAPACK — a single
process, ~10^4-point ceiling. Here the plane is partitioned into square
tiles; each tile solves its own damped least-squares system over the
points of the tile **plus a halo** of neighboring points (so predictions
are seamless across tile boundaries), inside an Arrow-batched
``applyInPandas``. ``Spline.predict`` cogroups nodes with their tile's
force table and evaluates the Green's sum with NumPy broadcasting (the
exact ``jacobian_numpy``/``predict_numpy`` formulas, spline.py:608-626).

Scale story: tile size caps every dense solve at a configured force
budget. The fused grid (``spline_solve_grid``) is ONE grouped pass over
the halo-exploded points (a bounded ≤4× row multiplier, pad < tile
size); its kernel makes the tile's grid nodes from ``region``/``shape``,
so no node table is shuffled. With block-reduced inputs (one point per
cell) a 10^12-row table becomes ~n_cells forces spread over tiles that
each fit comfortably in executor memory. Single-tile mode
(``tile_spacing=None``) reproduces the reference exactly and is the
parity-test regime.

Cross-validation takes the same shape: ``cross_val_score`` hands each
fold to ``Spline._fit_predict``, ONE grouped pass over the fold's
halo-exploded train points and its test rows, whose kernel solves and
evaluates in one call (``_solve_at``, shared with the fused grid).  The
tile and halo index expressions are SQL text (``BlockGrid.label_sql``,
``_halo_sql``), each parsed once per DataFrame.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..coordinates import BlockGrid, _resolve_axes
from ..base import BaseGridder
from ..geometry import _sql_double, _sql_name, get_region
from ..lstsq import least_squares


def greens_function(east: np.ndarray, north: np.ndarray, mindist: float = 0.0) -> np.ndarray:
    """Green's function for the biharmonic spline (verde spline.py:564-584).

    Piecewise form avoids log(0): ``d<1 → d·(log(d^d)−d)``, else
    ``d²·(log d − 1)``. Must match the reference bit-for-bit — grid-value
    parity depends on it.
    """
    distance = np.sqrt(east**2 + north**2)
    distance = distance + mindist
    result = np.empty_like(distance)
    small = distance < 1
    big = ~small
    ds = distance[small]
    result[small] = ds * (np.log(ds**ds) - ds)
    db = distance[big]
    result[big] = db**2 * (np.log(db) - 1)
    return result


def spline_jacobian(
    east: np.ndarray,
    north: np.ndarray,
    force_east: np.ndarray,
    force_north: np.ndarray,
    mindist: float = 0.0,
) -> np.ndarray:
    """(n_data, n_forces) Green's matrix via broadcasting (spline.py:617-626)."""
    return greens_function(
        east.reshape((east.size, 1)) - force_east,
        north.reshape((north.size, 1)) - force_north,
        mindist,
    )


def spline_predict(
    east: np.ndarray,
    north: np.ndarray,
    force_east: np.ndarray,
    force_north: np.ndarray,
    forces: np.ndarray,
    mindist: float = 0.0,
    chunk: int = 4096,
) -> np.ndarray:
    """Σ_j g(x − x_j)·f_j, chunked to bound the temporary matrix."""
    out = np.empty(east.size, dtype="float64")
    for lo in range(0, east.size, chunk):
        hi = min(lo + chunk, east.size)
        jac = spline_jacobian(east[lo:hi], north[lo:hi], force_east, force_north, mindist)
        out[lo:hi] = jac @ forces
    return out


def _tile_grid(
    region: Sequence[float], tile_spacing: Optional[float], halo: Optional[float]
) -> Tuple[BlockGrid, float]:
    """(tiling grid, halo pad): one unpadded tile when *tile_spacing* is None,
    else square tiles padded by *halo* (default half a tile)."""
    if tile_spacing is None:
        return BlockGrid.from_region(region, shape=(1, 1)), 0.0
    pad = halo if halo is not None else tile_spacing / 2
    return BlockGrid.from_region(region, spacing=tile_spacing), pad


def _halo_sql(grid: BlockGrid, pad: float, easting: str, northing: str) -> str:
    """SQL text of the ``tile`` generator over the SQL names *easting* and
    *northing*: one row per tile whose *padded* extent holds the point.

    The halo-exchange primitive (SURVEY §4.2 / verde rolling_window
    semantics, coordinates.py:947-1202): candidate tile indices are the
    block indices of (coord ± pad), a ≤(2×2) integer range, exploded in
    one generator (pure Catalyst, no UDF).
    """
    p = _sql_double(pad)
    ix = [grid._index_sql(f"{easting} {op} {p}", grid.east) for op in "-+"]
    iy = [grid._index_sql(f"{northing} {op} {p}", grid.north) for op in "-+"]
    return (
        f"explode(flatten(transform(sequence({iy[0]}, {iy[1]}), __iy -> "
        f"transform(sequence({ix[0]}, {ix[1]}), __ix -> __iy * {grid.n_east} + __ix)))) AS tile"
    )


def _halo_explode(
    df: DataFrame, grid: BlockGrid, pad: float, easting: str, northing: str
) -> DataFrame:
    """Duplicate each point into every tile whose padded extent contains
    it (``_halo_sql``): *df*'s columns plus ``tile``."""
    return df.selectExpr("*", _halo_sql(grid, pad, _sql_name(easting), _sql_name(northing)))


def _tile_points(
    df: DataFrame, grid: BlockGrid, pad: float, data_col: str,
    weight_col: Optional[str], easting: str, northing: str,
) -> DataFrame:
    """Halo-exploded ``(easting, northing, data, weight, tile)`` solve input;
    ``weight`` is null when no *weight_col* is given."""
    e, n = _sql_name(easting), _sql_name(northing)
    weight = _sql_name(weight_col) if weight_col else "CAST(NULL AS DOUBLE)"
    return df.selectExpr(
        f"{e} AS easting", f"{n} AS northing", f"{_sql_name(data_col)} AS data",
        f"{weight} AS weight", _halo_sql(grid, pad, e, n),
    )


def _tile_forces(
    points: pd.DataFrame, force_east: np.ndarray, force_north: np.ndarray,
    damping: Optional[float], mindist: float,
) -> np.ndarray:
    """Damped least-squares forces of one tile — the one per-tile solve.

    *points* has the ``_tile_points`` columns; all-null weights mean an
    unweighted fit, and a null weight among present ones counts as 1.
    """
    w = points["weight"].to_numpy("float64")
    weights = None if np.isnan(w).all() else np.nan_to_num(w, nan=1.0)
    east = points["easting"].to_numpy("float64")
    north = points["northing"].to_numpy("float64")
    jac = spline_jacobian(east, north, force_east, force_north, mindist)
    return least_squares(jac, points["data"].to_numpy("float64"), weights, damping)


def _solve_at(
    points: pd.DataFrame, east: np.ndarray, north: np.ndarray,
    damping: Optional[float], mindist: float,
) -> np.ndarray:
    """Solve one tile's *points* (``_tile_points`` columns) with forces at
    the points and evaluate the spline at ``(east, north)``; NaN when the
    tile has no points."""
    if len(points) == 0 or len(east) == 0:
        return np.full(len(east), np.nan)
    p_east = points["easting"].to_numpy("float64")
    p_north = points["northing"].to_numpy("float64")
    forces = _tile_forces(points, p_east, p_north, damping, mindist)
    return spline_predict(east, north, p_east, p_north, forces, mindist)


class Spline(BaseGridder):
    """Distributed biharmonic spline (verde spline.py:315-650).

    Parameters mirror the reference (``damping``, ``mindist`` — both with
    verde defaults) plus the distribution knobs: ``tile_spacing`` (None →
    one global solve, exact verde parity) and ``halo`` (padding distance;
    points within ``halo`` of a tile boundary also contribute forces to the
    neighboring tile).
    """

    def __init__(
        self,
        damping: Optional[float] = None,
        mindist: float = 0.0,
        force_coords=None,
        tile_spacing: Optional[float] = None,
        halo: Optional[float] = None,
    ):
        self.damping = damping
        self.mindist = float(mindist)
        # verde spline.py:369-377: optional (easting, northing) arrays
        # placing the forces away from the data points (fewer forces than
        # data → rectangular least-squares fit)
        self.force_coords = force_coords
        self.tile_spacing = tile_spacing
        self.halo = halo
        self.forces_: Optional[DataFrame] = None
        self.tile_grid_: Optional[BlockGrid] = None
        self.region_: Optional[Tuple[float, float, float, float]] = None

    # -- fit -----------------------------------------------------------------

    def fit(
        self,
        df: DataFrame,
        data_col: str = "scalars",
        weight_col: Optional[str] = None,
        easting: str = "easting",
        northing: str = "northing",
        region=None,
    ) -> "Spline":
        # passing region explicitly skips the min/max aggregation job —
        # worth it when the caller already knows the bounds (verde also
        # accepts a region through grid()/CV paths)
        self.region_ = region if region is not None else get_region(df, easting, northing)
        self.tile_grid_, pad = _tile_grid(self.region_, self.tile_spacing, self.halo)
        grid = self.tile_grid_
        exploded = _tile_points(df, grid, pad, data_col, weight_col, easting, northing)

        damping, mindist = self.damping, self.mindist
        schema = T.StructType(
            [
                T.StructField("tile", T.LongType()),
                T.StructField("force_east", T.DoubleType()),
                T.StructField("force_north", T.DoubleType()),
                T.StructField("force", T.DoubleType()),
            ]
        )

        def solve(pdf: pd.DataFrame) -> pd.DataFrame:
            east = pdf["easting"].to_numpy("float64")
            north = pdf["northing"].to_numpy("float64")
            return pd.DataFrame(
                {
                    "tile": pdf["tile"].iloc[0],
                    "force_east": east,
                    "force_north": north,
                    "force": _tile_forces(pdf, east, north, damping, mindist),
                }
            )

        if self.force_coords is None:
            self.forces_ = exploded.groupBy("tile").applyInPandas(solve, schema)
            return self

        # custom force locations (verde spline.py:458-462): the SAME halo
        # explosion assigns each force to every tile it can serve, and a
        # cogroup pairs each tile's data with its forces — the solve becomes
        # a rectangular least squares (n_data_in_tile × n_forces_in_tile).
        fe = np.ravel(np.asarray(self.force_coords[0], dtype="float64"))
        fn = np.ravel(np.asarray(self.force_coords[1], dtype="float64"))
        fdf = df.sparkSession.createDataFrame(
            pd.DataFrame({"easting": fe, "northing": fn})
        )
        f_exploded = _halo_explode(fdf, grid, pad, "easting", "northing")

        def solve_rect(key, data_pdf: pd.DataFrame, force_pdf: pd.DataFrame):
            if len(force_pdf) == 0 or len(data_pdf) == 0:
                empty = pd.DataFrame(columns=schema.fieldNames(), dtype="float64")
                return empty.astype({"tile": "int64"})
            f_east = force_pdf["easting"].to_numpy("float64")
            f_north = force_pdf["northing"].to_numpy("float64")
            return pd.DataFrame(
                {
                    "tile": key[0],
                    "force_east": f_east,
                    "force_north": f_north,
                    "force": _tile_forces(data_pdf, f_east, f_north, damping, mindist),
                }
            )

        self.forces_ = (
            exploded.groupBy("tile")
            .cogroup(f_exploded.groupBy("tile"))
            .applyInPandas(solve_rect, schema)
        )
        return self

    # -- predict ---------------------------------------------------------------

    def predict(
        self,
        df: DataFrame,
        output_col: str = "prediction",
        easting: str = "easting",
        northing: str = "northing",
    ) -> DataFrame:
        """Evaluate the fitted spline at the points of *df*.

        Nodes are keyed by their (un-padded) tile and cogrouped with the
        tile's forces; the Green's sum is one chunked NumPy matmul per tile.
        """
        if self.forces_ is None or self.tile_grid_ is None:
            raise RuntimeError("Spline is not fitted.")
        grid = self.tile_grid_
        mindist = self.mindist
        tiled = df.withColumn("tile", grid.label_expr(easting, northing).alias("tile"))
        out_fields = [f for f in tiled.schema.fields if f.name != "tile"]
        schema = T.StructType(out_fields + [T.StructField(output_col, T.DoubleType())])
        e_name, n_name = easting, northing

        def evaluate(key, nodes: pd.DataFrame, forces: pd.DataFrame) -> pd.DataFrame:
            nodes = nodes.drop(columns=["tile"])
            if len(nodes) == 0:
                nodes[output_col] = pd.Series(dtype="float64")
                return nodes
            if len(forces) == 0:
                nodes[output_col] = np.nan
                return nodes
            pred = spline_predict(
                nodes[e_name].to_numpy("float64"),
                nodes[n_name].to_numpy("float64"),
                forces["force_east"].to_numpy("float64"),
                forces["force_north"].to_numpy("float64"),
                forces["force"].to_numpy("float64"),
                mindist,
            )
            nodes = nodes.copy()
            nodes[output_col] = pred
            return nodes

        return (
            tiled.groupBy("tile")
            .cogroup(self.forces_.groupBy("tile"))
            .applyInPandas(evaluate, schema)
        )

    def _fit_predict(
        self,
        train: DataFrame,
        test: DataFrame,
        data_col: str,
        weight_col: Optional[str],
        easting: str,
        northing: str,
        region=None,
        output_col: str = "__pred",
    ) -> DataFrame:
        """``fit(train)`` then ``predict(test)`` of one cross-validation
        fold, in ONE ``groupBy(tile).applyInPandas``.

        Each tile's group holds its halo-exploded train rows and its test
        rows (both ``_tile_points``), the latter flagged by a non-null
        ``query``; the kernel solves the former and evaluates at the latter
        (``_solve_at``), so test rows in a tile without train rows get NaN,
        as ``predict`` gives them.  *region* is the train region when the
        splitter knows it, else one ``get_region``.  Returns the test rows'
        *easting*, *northing*, *data_col*, *weight_col* and *output_col*.
        A ``force_coords`` spline fits and predicts; any other is left
        unfitted.
        """
        if self.force_coords is not None:
            self.fit(train, data_col, weight_col, easting, northing, region)
            return self.predict(test, output_col, easting, northing)
        if region is None:
            region = get_region(train, easting, northing)
        grid, pad = _tile_grid(region, self.tile_spacing, self.halo)
        args = (data_col, weight_col, easting, northing)
        # no pad: each test row in the one tile predict would label it
        queries = _tile_points(test, grid, 0.0, *args).selectExpr("*", "true AS query")
        inputs = _tile_points(train, grid, pad, *args).unionByName(queries, allowMissingColumns=True)
        names = {easting: "easting", northing: "northing", data_col: "data"}
        if weight_col:
            names[weight_col] = "weight"
        schema = T.StructType([T.StructField(c, T.DoubleType()) for c in [*names, output_col]])
        damping, mindist = self.damping, self.mindist

        def fold(pdf: pd.DataFrame) -> pd.DataFrame:
            query = pdf["query"].notna().to_numpy()
            out = {c: pdf.loc[query, src].to_numpy("float64") for c, src in names.items()}
            out[output_col] = _solve_at(pdf[~query], out[easting], out[northing], damping, mindist)
            return pd.DataFrame(out)

        return inputs.groupBy("tile").applyInPandas(fold, schema)

    def filter(
        self,
        df: DataFrame,
        data_col: str = "scalars",
        weight_col: Optional[str] = None,
        easting: str = "easting",
        northing: str = "northing",
    ) -> DataFrame:
        """fit + residuals (BaseGridder.filter, base/base_classes.py:273-316)."""
        self.fit(df, data_col, weight_col, easting, northing)
        pred = self.predict(df, "__pred", easting, northing)
        return pred.withColumn(data_col, F.col(data_col) - F.col("__pred")).drop("__pred")


def _fused_plan(
    df: DataFrame, region: Sequence[float], shape, tile_spacing: float,
    halo: Optional[float], damping: Optional[float], mindist: float, data_col: str,
    weight_col: Optional[str], easting: str, northing: str, output_col: str,
) -> Tuple[DataFrame, Callable[[DataFrame], DataFrame]]:
    """``(inputs, stage)`` of the fused solve+grid.

    ``inputs``: the halo-exploded points plus one null-coordinate sentinel
    row per tile (``spark.range``, no shuffle), so point-free tiles run too.
    ``stage``: ONE ``groupBy(tile).applyInPandas`` whose kernel solves its
    tile and evaluates it at the tile's grid nodes, made in NumPy with the
    ``grid_coordinates`` axis values and the ``BlockGrid.label_expr`` tile
    index.  Output ``tile, iy, ix, northing, easting, output_col``; NaN
    predictions on point-free tiles.
    """
    grid, pad = _tile_grid(region, tile_spacing, halo)
    nulls = [f"CAST(NULL AS DOUBLE) AS {c}" for c in ("easting", "northing", "data", "weight")]
    sentinels = df.sparkSession.range(grid.n_blocks).selectExpr("id AS tile", *nulls)
    points = _tile_points(df, grid, pad, data_col, weight_col, easting, northing)
    inputs = points.unionByName(sentinels)

    node_east, node_north = (axis.values() for axis in _resolve_axes(region, shape))

    def tile_index(values: np.ndarray, axis) -> np.ndarray:
        # NumPy twin of BlockGrid._index_sql
        raw = np.floor((values - (axis.start - axis.step / 2)) / axis.step)
        return np.clip(raw, 0, axis.size - 1).astype("int64")

    tile_ix, tile_iy = tile_index(node_east, grid.east), tile_index(node_north, grid.north)
    schema = T.StructType(
        [T.StructField(c, T.LongType()) for c in ("tile", "iy", "ix")]
        + [T.StructField(c, T.DoubleType()) for c in (northing, easting, output_col)]
    )

    def solve_grid(pdf: pd.DataFrame) -> pd.DataFrame:
        tile = int(pdf["tile"].iloc[0])
        ty, tx = divmod(tile, grid.n_east)
        rows, cols = np.flatnonzero(tile_iy == ty), np.flatnonzero(tile_ix == tx)
        iy, ix = np.repeat(rows, cols.size), np.tile(cols, rows.size)  # row-major
        east, north = node_east[ix], node_north[iy]
        pred = _solve_at(pdf[pdf["easting"].notna()], east, north, damping, mindist)
        return pd.DataFrame(
            {"tile": tile, "iy": iy, "ix": ix, northing: north, easting: east, output_col: pred}
        )

    return inputs, lambda tiles: tiles.groupBy("tile").applyInPandas(solve_grid, schema)


def spline_solve_grid(
    df: DataFrame,
    region: Sequence[float],
    shape,
    tile_spacing: float,
    halo: Optional[float] = None,
    damping: Optional[float] = None,
    mindist: float = 0.0,
    data_col: str = "scalars",
    weight_col: Optional[str] = None,
    easting: str = "easting",
    northing: str = "northing",
    output_col: str = "prediction",
) -> DataFrame:
    """Fused per-tile solve + grid evaluation in ONE grouped pass.

    ``Spline.fit().grid()`` materializes the force table between two Python
    stages; when the forces aren't reused, solving and predicting inside
    the same ``applyInPandas`` halves the Python-stage count and drops a
    shuffle.  The grid nodes are made inside the kernel, so no node table
    is built, shuffled or sent to Python — the plan is scan → blockagg
    exchange → groupBy(tile) of the halo-exploded points → output, with
    every stage embarrassingly parallel across tiles.  This is the
    throughput path the benchmark exercises.
    """
    inputs, stage = _fused_plan(
        df, region, shape, tile_spacing, halo, damping, mindist,
        data_col, weight_col, easting, northing, output_col,
    )
    return stage(inputs).drop("tile")


def spline_solve_grid_resumable(
    df: DataFrame,
    region: Sequence[float],
    shape,
    tile_spacing: float,
    checkpoint_path: str,
    halo: Optional[float] = None,
    damping: Optional[float] = None,
    mindist: float = 0.0,
    data_col: str = "scalars",
    weight_col: Optional[str] = None,
    easting: str = "easting",
    northing: str = "northing",
    output_col: str = "prediction",
) -> DataFrame:
    """``spline_solve_grid`` with per-tile checkpoint/resume (north rule:
    "resumable from checkpoint with per-partition lineage + metrics").

    The checkpoint unit is the tile and the plan is the plain fused one:
    its input already holds one sentinel row per tile, so the todo set
    covers EVERY tile of the tiling grid and point-free tiles emit their
    grid nodes with NaN predictions.  Each tile's point group is
    self-contained (halo rows are duplicated into it), so anti-joining
    completed tiles away loses nothing.  Completed tiles are read back
    from the checkpoint; only remaining tiles solve.  Output carries the
    ``tile`` column (= the partition value of the checkpoint layout,
    pruning-friendly).
    """
    from ..checkpoint import run_resumable

    inputs, stage = _fused_plan(
        df, region, shape, tile_spacing, halo, damping, mindist,
        data_col, weight_col, easting, northing, output_col,
    )
    # count_col="easting": sentinel rows must not inflate rows_in lineage
    return run_resumable(df.sparkSession, inputs, stage, checkpoint_path, count_col="easting")
