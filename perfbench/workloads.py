"""The benchmark workloads.

Each workload generates its page table from the seed, prepares what a
user would hold in memory between queries, runs one *iteration* (the
timed unit) through the public ``verde_spark`` API, and checks the
iteration's output against the oracles in :mod:`oracles`.

An iteration takes a tracer.  The untraced run passes :class:`NoTrace`:
the layers compose lazily into the plans a user would run.  The traced
run passes a :class:`SpanTracer`, which puts each call into a layer in
its own job group and materializes its output, so the event log can be
split by layer.
"""

from __future__ import annotations

import contextlib
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import oracles
from eventlog import Span

REGION = (-5.0, 0.0, 5.0, 10.0)  # west, east, south, north (degrees)
DAMPING = 1e-6


# -- tracing -------------------------------------------------------------------


class NoTrace:
    """Untraced iteration: no job groups, no materialization."""

    enabled = False

    def iteration(self, label):
        return contextlib.nullcontext()

    def span(self, layer):
        return contextlib.nullcontext()

    def stage(self, layer, df):
        return df

    def spline(self, **params):
        from verde_spark import Spline

        return lambda: Spline(**params)


class SpanTracer(NoTrace):
    """Job group + span per layer call; each layer's output is cached and
    counted inside its span, then released when the iteration ends."""

    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._cached = []
        self._label = None

    @contextlib.contextmanager
    def iteration(self, label):
        self._label = str(label)
        try:
            with self.span("session"):
                yield
        finally:
            for df in self._cached:
                df.unpersist()
            self._cached.clear()

    @contextlib.contextmanager
    def span(self, layer):
        s = Span(layer, self._label, time.time(), 0.0, self._stack[-1] if self._stack else None)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, layer)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].layer)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def materialize(self, df):
        df = df.persist()
        df.count()
        self._cached.append(df)
        return df

    def stage(self, layer, df):
        with self.span(layer):
            return self.materialize(df)

    def spline(self, **params):
        from verde_spark import Spline

        tracer = self

        class TracedSpline(Spline):
            def fit(self, *args, **kwargs):
                with tracer.span("spline"):
                    super().fit(*args, **kwargs)
                    self.forces_ = tracer.materialize(self.forces_)
                return self

            def predict(self, *args, **kwargs):
                with tracer.span("spline"):
                    return tracer.materialize(super().predict(*args, **kwargs))

        return lambda: TracedSpline(**params)


# -- shared helpers -------------------------------------------------------------


def points(pages):
    """Page table → (easting, northing, scalars): geotag parse + field."""
    from verde_spark.sources.pages import geotagged

    k = F.lit(oracles.TWO_PI_OVER)
    return geotagged(pages).select(
        F.col("lon").alias("easting"),
        F.col("lat").alias("northing"),
        (F.lit(1000.0) * F.sin(k * F.col("lon")) * F.cos(k * F.col("lat"))).alias("scalars"),
    )


def summarize(df, key, sample_ids, cols):
    """ONE action: row count plus the rows whose *key* is in *sample_ids*."""
    keep = F.when(key.isin([int(i) for i in sample_ids]), F.struct(*cols))
    row = df.agg(F.count(F.lit(1)).alias("n"), F.collect_list(keep).alias("s")).first()
    return row["n"], pd.DataFrame([r.asDict() for r in row["s"]])


def compare(errors, label, got, want, rtol, atol):
    got, want = np.asarray(got, dtype="float64"), np.asarray(want, dtype="float64")
    if got.shape != want.shape:
        errors.append(f"{label}: shape {got.shape} != {want.shape}")
    elif not np.allclose(got, want, rtol=rtol, atol=atol):
        worst = np.max(np.abs(got - want))
        errors.append(f"{label}: max abs diff {worst:.3g} over tolerance")


def exact(errors, label, got, want):
    if int(got) != int(want):
        errors.append(f"{label}: {got} != {want}")


class Workload:
    """One page table generated from the seed; subclasses prepare, iterate
    and check."""

    pages_rows = 0  # the workload's stated input rows
    scaling = False  # whether the traced run measures scaling_eff

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = np.random.RandomState(seed % 2**32)
        self.reference = None  # first checked result of this run

    def generate(self, spark, directory: str) -> dict[str, str]:
        from verde_spark.sources.pages import synthesize_pages

        path = os.path.join(directory, "pages")
        synthesize_pages(
            spark, self.pages_rows, region=REGION, seed=self.seed, num_partitions=8
        ).write.parquet(path)
        return {"pages": path}

    def prepare(self, spark, paths: dict[str, str]) -> dict:
        raise NotImplementedError

    def release(self, state: dict) -> None:
        for value in state.values():
            if getattr(value, "is_cached", False):
                value.unpersist()

    def build_oracle(self, spark, paths, state) -> None:
        """Driver-side expectations, computed once per run (not timed)."""

    def iterate(self, spark, state, tr) -> dict:
        raise NotImplementedError

    def check(self, result: dict) -> list[str]:
        raise NotImplementedError

    def denominators(self, result: dict) -> dict:
        """Bases of the per-layer waste ratios for this iteration."""
        return {}


def _block_means(pages, spacing):
    from verde_spark import block_mean

    bm, _ = block_mean(points(pages), spacing=spacing, region=REGION, sort=False)
    return bm.select("easting", "northing", "scalars", "weight_scalars")


def _check_block_means(errors, got: pd.DataFrame, want: pd.DataFrame) -> None:
    """Engine block means vs the pandas oracle: exact count, close values."""
    exact(errors, "block count", len(got), len(want))
    if len(got) == len(want):
        got = got.sort_values(["northing", "easting"]).reset_index(drop=True)
        want = want.sort_values(["northing", "easting"]).reset_index(drop=True)
        for col in got.columns.intersection(want.columns):
            compare(errors, f"block mean {col}", got[col], want[col], 1e-9, 1e-9)


def _prepare_block_means(spark, paths, spacing) -> dict:
    """Page table plus its block means, cached: the decimated table a user
    keeps in memory between gridding queries."""
    pages = spark.read.parquet(paths["pages"])
    data = _block_means(pages, spacing).persist()
    data.count()
    return {"pages": pages, "data": data}


# -- grid_spline -----------------------------------------------------------------


class GridSpline(Workload):
    """The solve path: geotag -> block_mean -> fused tiled spline grid, then a
    BlockKFold cross_val_score of the two-stage Spline (fit, then predict)
    on a cached block-mean table.  Layers: pages, blockreduce, spline,
    model_selection."""

    name = "grid_spline"
    scaling = True

    def __init__(self, seed, scale=1.0):
        super().__init__(seed)
        self.pages_rows = int(100_000 * scale)
        # fused grid: ~5k blocks, 25 tiles of ~500 halo points, 100x100 nodes
        self.spacing, self.tile_spacing, self.halo = 0.07, 1.0, 0.3
        side = max(20, int(100 * scale))
        self.shape = (side, side)
        self.sample = self.rng.choice(side * side, 40, replace=False)
        # cross-validation on a coarser (~2.5k) cached block-mean table
        self.cv_spacing, self.cv_block, self.n_splits = 0.1, 0.5, 2

    def prepare(self, spark, paths):
        return _prepare_block_means(spark, paths, self.cv_spacing)

    def build_oracle(self, spark, paths, state):
        from verde_spark import BlockGrid

        raw = oracles.read_points(paths["pages"])
        self.bm = oracles.block_mean(raw, BlockGrid.from_region(REGION, spacing=self.spacing))
        self.tiles = BlockGrid.from_region(REGION, spacing=self.tile_spacing)
        self.forces = {}
        data = state["data"].toPandas()
        errors = []
        _check_block_means(errors, data, oracles.block_mean(
            raw, BlockGrid.from_region(REGION, spacing=self.cv_spacing)))
        self.input_errors = errors
        self.n_data = len(data)
        # BlockKFold fold sizes: block counts, seeded shuffle, balanced cuts
        e, n = data["easting"].to_numpy(), data["northing"].to_numpy()
        grid = BlockGrid.from_region((e.min(), e.max(), n.min(), n.max()), spacing=self.cv_block)
        _, counts = np.unique(oracles.block_labels(e, n, grid), return_counts=True)
        counts = counts[np.random.RandomState(self.seed % 2**32).permutation(counts.size)]
        cuts = oracles.partition_by_sum(counts, self.n_splits)
        self.fold_sizes = [int(c.sum()) for c in np.split(counts, cuts)]

    def iterate(self, spark, state, tr):
        from verde_spark import block_mean
        from verde_spark.model_selection import BlockKFold, cross_val_score
        from verde_spark.operators.spline import spline_solve_grid

        pts = tr.stage("pages", points(state["pages"]))
        bm, _ = block_mean(pts, spacing=self.spacing, region=REGION, sort=False)
        bm = tr.stage("blockreduce", bm)
        with tr.span("spline"):
            grid = spline_solve_grid(
                bm, region=REGION, shape=self.shape, tile_spacing=self.tile_spacing,
                halo=self.halo, damping=DAMPING, weight_col="weight_scalars",
            )
            node = F.col("iy") * self.shape[1] + F.col("ix")
            row = grid.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("prediction").alias("total"),
                F.sum(F.abs("prediction")).alias("abs_total"),
                F.collect_list(
                    F.when(node.isin([int(i) for i in self.sample]),
                           F.struct(node.alias("node"), "easting", "northing", "prediction"))
                ).alias("s"),
            ).first()
        sample = pd.DataFrame([r.asDict() for r in row["s"]])
        out = {
            "nodes": row["n"], "total": row["total"], "abs_total": row["abs_total"],
            "sample": sample.sort_values("node") if len(sample) else sample,
        }
        if tr.enabled:
            out["blocks"] = bm.toPandas()

        sizes = []

        def r2_and_size(df, data_col, pred_col, weight_col):
            # R^2 (sklearn form) and the fold's test size in one aggregation
            w, d, p = F.col(weight_col), F.col(data_col), F.col(pred_col)
            r = df.agg(
                F.count(F.lit(1)), F.sum(w * (d - p) * (d - p)), F.sum(w * d), F.sum(w * d * d), F.sum(w)
            ).first()
            sizes.append(r[0])
            return 1.0 - r[1] / (r[3] - r[2] ** 2 / r[4])

        with tr.span("model_selection"):
            cv = BlockKFold(spacing=self.cv_block, n_splits=self.n_splits, shuffle=True,
                            random_state=self.seed % 2**32)
            scores = cross_val_score(
                tr.spline(damping=DAMPING, tile_spacing=self.tile_spacing, halo=self.halo),
                state["data"], cv=cv, weight_col="weight_scalars", scoring=r2_and_size,
            )
        out["scores"], out["fold_sizes"] = np.array(scores), sizes
        return out

    def _oracle_predictions(self, sample: pd.DataFrame) -> np.ndarray:
        labels = oracles.block_labels(sample["easting"], sample["northing"], self.tiles)
        preds = []
        for tile, e, n in zip(labels, sample["easting"], sample["northing"]):
            if tile not in self.forces:
                pts = oracles.tile_points(self.bm, self.tiles, int(tile), self.halo)
                self.forces[tile] = oracles.spline_tile(pts, DAMPING)
            preds.append(oracles.spline_eval(self.forces[tile], [e], [n])[0])
        return np.array(preds)

    def check(self, result):
        errors = list(self.input_errors)
        exact(errors, "grid nodes", result["nodes"], self.shape[0] * self.shape[1])
        exact(errors, "sampled nodes", len(result["sample"]), len(self.sample))
        if len(result["sample"]) == len(self.sample):
            compare(errors, "sampled node prediction", result["sample"]["prediction"],
                    self._oracle_predictions(result["sample"]), 1e-6, 1e-3)
        if "blocks" in result:
            _check_block_means(errors, result["blocks"], self.bm)
        exact(errors, "folds", len(result["scores"]), self.n_splits)
        if result["fold_sizes"] != self.fold_sizes:
            errors.append(f"fold sizes {result['fold_sizes']} != {self.fold_sizes}")
        # a fold's R^2 may be low (a shuffled half of the 0.5-degree blocks
        # can leave wide gaps to extrapolate across) but never above 1
        if not np.all(np.isfinite(result["scores"])) or result["scores"].max() > 1.0:
            errors.append(f"impossible fold R2 {result['scores']}")
        ref = self.reference
        if ref is not None:
            # partition order changes float sums in the last digits only
            compare(errors, "summed prediction", result["total"], ref["total"], 0.0, 1e-8 * ref["abs_total"])
            if len(result["scores"]) == len(ref["scores"]):
                compare(errors, "fold R2", result["scores"], ref["scores"], 1e-6, 1e-9)
        return errors

    def denominators(self, result):
        return {"blocks": len(self.bm),
                # the fused solve only: the cross-validation fits run inside
                # cached plans whose halo rows the event log does not name
                "spline_points": len(self.bm)}


# -- spatial_join -------------------------------------------------------------------


class SpatialJoin(Workload):
    """No solves: cell rollup and zonal stats over the raw points, kNN
    gridding, distance and convex-hull masks on cached block means; scan
    and candidate-generating joins.  Layers: pages, cells, neighbors,
    masks, polygons."""

    name = "spatial_join"

    def __init__(self, seed, scale=1.0):
        super().__init__(seed)
        self.pages_rows = int(100_000 * scale)
        self.spacing, self.k, self.maxdist, self.res = 0.1, 10, 0.04, 12
        self.knn_side = max(8, int(32 * scale))
        self.mask_side = max(20, int(100 * scale))
        self.polygons = oracles.heptagons(REGION, 10, seed % 2**32)
        self.sample = self.rng.choice(self.knn_side**2, 40, replace=False)

    def prepare(self, spark, paths):
        from verde_spark.coordinates import grid_coordinates

        state = _prepare_block_means(spark, paths, self.spacing)
        state["knn_nodes"] = grid_coordinates(spark, REGION, shape=(self.knn_side,) * 2)
        state["mask_nodes"] = grid_coordinates(spark, REGION, shape=(self.mask_side,) * 2)
        state["polygons"] = spark.createDataFrame(
            [(i, [{"x": x, "y": y} for x, y in verts]) for i, verts in enumerate(self.polygons)],
            "id long, vertices array<struct<x:double,y:double>>",
        )
        return state

    def build_oracle(self, spark, paths, state):
        from verde_spark import BlockGrid

        raw = oracles.read_points(paths["pages"])
        data = state["data"].toPandas()
        errors = []
        _check_block_means(errors, data, oracles.block_mean(
            raw, BlockGrid.from_region(REGION, spacing=self.spacing)))
        self.input_errors = errors
        self.data = (data["easting"].to_numpy(), data["northing"].to_numpy(), data["scalars"].to_numpy())
        w, e, s, n = REGION
        ge, gn = np.meshgrid(np.linspace(w, e, self.mask_side), np.linspace(s, n, self.mask_side))
        ge, gn = ge.ravel(), gn.ravel()
        self.in_range = oracles.distance_mask_count(self.data[0], self.data[1], ge, gn, self.maxdist)
        self.in_hull = oracles.convex_hull_count(self.data[0], self.data[1], ge, gn)
        x, y, v = raw["easting"].to_numpy(), raw["northing"].to_numpy(), raw["scalars"].to_numpy()
        zones = []
        for i, verts in enumerate(self.polygons):
            inside = oracles.inside_polygon(x, y, verts)
            if inside.any():
                zones.append((i, int(inside.sum()), float(v[inside].mean())))
        self.zones = pd.DataFrame(zones, columns=["id", "count", "mean"]).set_index("id")
        cells = raw.assign(cell=oracles.cell_ids(x, y, self.res)).groupby("cell")["scalars"]
        self.cells = cells.agg(["count", "mean"])
        self.cell_sample = self.rng.choice(self.cells.index.to_numpy(), 50, replace=False)

    def iterate(self, spark, state, tr):
        from verde_spark import KNeighbors, convexhull_mask, distance_mask, zonal_stats
        from verde_spark.functions.cells import cell_encode

        raw = tr.stage("pages", points(state["pages"]))
        out = {}
        with tr.span("cells"):
            cells = raw.groupBy(cell_encode("easting", "northing", self.res).alias("cell")).agg(
                F.count(F.lit(1)).alias("count"), F.avg("scalars").alias("mean")
            )
            out["cells"] = summarize(cells, F.col("cell"), self.cell_sample, ["cell", "count", "mean"])
        with tr.span("neighbors"):
            pred = KNeighbors(k=self.k).fit(state["data"]).predict(state["knn_nodes"])
            node = F.col("iy") * self.knn_side + F.col("ix")
            out["knn"] = summarize(pred, node, self.sample, [node.alias("node"), "easting", "northing", "prediction"])
        with tr.span("masks"):
            masked = distance_mask(state["data"], state["mask_nodes"], maxdist=self.maxdist)
            masked = convexhull_mask(state["data"], masked)
            row = masked.agg(
                F.count(F.lit(1)), F.sum(F.col("in_range").cast("long")), F.sum(F.col("in_hull").cast("long"))
            ).first()
            out["masks"] = tuple(row)
        with tr.span("polygons"):
            zones = zonal_stats(raw, state["polygons"], "scalars", stats=("count", "mean"))
            out["zones"] = zones.toPandas().set_index("id").sort_index()
        return out

    def check(self, result):
        errors = list(self.input_errors)
        n, sample = result["cells"]
        exact(errors, "cells", n, len(self.cells))
        exact(errors, "sampled cells", len(sample), len(self.cell_sample))
        if len(sample) == len(self.cell_sample):
            want = self.cells.loc[sample["cell"].to_numpy()]
            if not (sample["count"].to_numpy() == want["count"].to_numpy()).all():
                errors.append("cell counts differ")
            compare(errors, "cell mean", sample["mean"], want["mean"], 1e-9, 1e-9)
        n, sample = result["knn"]
        exact(errors, "knn predictions", n, self.knn_side**2)
        exact(errors, "knn sampled rows", len(sample), len(self.sample))
        if len(sample) == len(self.sample):
            want = oracles.knn_mean(*self.data, sample["easting"].to_numpy(), sample["northing"].to_numpy(), self.k)
            compare(errors, "knn prediction", sample["prediction"], want, 1e-9, 1e-9)
        nodes, in_range, in_hull = result["masks"]
        exact(errors, "mask nodes", nodes, self.mask_side**2)
        exact(errors, "distance_mask true", in_range, self.in_range)
        exact(errors, "convexhull_mask true", in_hull, self.in_hull)
        zones = result["zones"]
        exact(errors, "polygons with points", len(zones), len(self.zones))
        if len(zones) == len(self.zones):
            if not (zones.index == self.zones.index).all() or not (
                zones["count_scalars"].to_numpy() == self.zones["count"].to_numpy()
            ).all():
                errors.append("zonal counts differ")
            compare(errors, "zonal mean", zones["mean_scalars"], self.zones["mean"], 1e-9, 1e-9)
        return errors

    def denominators(self, result):
        return {"knn_results": self.knn_side**2 * self.k,
                "polygon_matches": int(result["zones"]["count_scalars"].sum())}


WORKLOADS = {w.name: w for w in (GridSpline, SpatialJoin)}
