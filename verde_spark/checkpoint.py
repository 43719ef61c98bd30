"""Resumable per-partition checkpointing with lineage + metrics.

The north rule requires pipelines over 10^12-row tables to be *resumable
from checkpoint with per-partition lineage + metrics*. The unit of
checkpointing here is the spatial partition (tile/cell id): a pipeline
stage writes its per-tile results as parquet partitioned by the tile
column plus a **manifest** row per tile (tile id, row counts in/out,
value checksum, wall time, status). On resume, completed tile ids are
anti-joined away so only missing/failed tiles recompute.

Everything is plain DataFrame mechanics — the manifest is itself a tiny
parquet table, so lineage queries ("which tiles are stale?", "rows per
tile over time") are just Spark SQL.
"""

from __future__ import annotations

import datetime
import json
import os
import time
import uuid
from typing import Callable, Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_DIR = "_manifest"
DATA_DIR = "data"
SCHEMA_FILE = "_schema.json"

# the read errors that mean "no data files here yet"
_NO_DATA = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def _read_parquet(spark: SparkSession, path: str) -> Optional[DataFrame]:
    """*path* as parquet, or None when it holds no data files yet.

    Every other failure (a corrupt file, a permission error) raises: a
    checkpoint that cannot be read must not look like an empty one.
    """
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() in _NO_DATA:
            return None
        raise


def _hadoop_file(spark: SparkSession, path: str):
    """(FileSystem, Path) of *path* via Hadoop, so any URI scheme works."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(sc._jsc.hadoopConfiguration()), hpath


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, hpath = _hadoop_file(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _read_text(spark: SparkSession, path: str) -> str:
    fs, hpath = _hadoop_file(spark, path)
    stream = fs.open(hpath)
    try:
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


class TileCheckpoint:
    """Checkpointed, tile-partitioned output of one pipeline stage.

    >>> ckpt = TileCheckpoint("/tmp/stage1", tile_col="tile")
    >>> done = ckpt.completed_tiles(spark)          # tiny DataFrame of ids
    >>> todo = inputs.join(done, "tile", "left_anti")  # resume = anti-join
    >>> ckpt.write(result_of(todo))                  # appends data + manifest
    >>> full = ckpt.load(spark)                      # all completed tiles
    """

    def __init__(self, path: str, tile_col: str = "tile"):
        self.path = path
        self.tile_col = tile_col
        self.data_path = os.path.join(path, DATA_DIR)
        self.manifest_path = os.path.join(path, MANIFEST_DIR)

    # -- reading ---------------------------------------------------------------

    def manifest(self, spark: SparkSession) -> Optional[DataFrame]:
        """The manifest table, or None before the first manifest append."""
        return _read_parquet(spark, self.manifest_path)

    def completed_tiles(self, spark: SparkSession) -> DataFrame:
        """Distinct tile ids marked ok in the manifest (empty DF if none)."""
        man = self.manifest(spark)
        if man is None:
            return spark.createDataFrame([], f"{self.tile_col} long")
        return (
            man.filter(F.col("status") == "ok")
            .select(F.col("tile").alias(self.tile_col))
            .distinct()
        )

    def remaining(self, inputs: DataFrame) -> DataFrame:
        """Input rows whose tile has not completed yet (the resume set)."""
        done = self.completed_tiles(inputs.sparkSession)
        return inputs.join(done, self.tile_col, "left_anti")

    def load(self, spark: SparkSession) -> DataFrame:
        """All checkpointed output rows (committed attempts only).

        Data lives under ``data/attempt=<id>/tile=<t>/`` and a manifest row
        is the COMMIT MARKER for its (tile, attempt): a crash between the
        data append and the manifest append leaves orphan attempt data that
        this semi-join (on both keys) excludes, so the tile's re-run on
        resume cannot surface duplicated rows (ADVICE r2).  ``attempt`` is
        a hive partition column, so the exclusion prunes whole directories.
        """
        out = _read_parquet(spark, self.data_path)
        if out is None:
            # an all-empty-output run writes manifest rows but no
            # parquet files (zero rows emit no schema) — fall back to
            # the schema snapshot every write() persists
            text = _read_text(spark, os.path.join(self.path, SCHEMA_FILE))
            schema = T.StructType.fromJson(json.loads(text))
            return spark.createDataFrame([], schema)
        man = self.manifest(spark)
        if man is None:
            # orphan-attempt-only checkpoint: data was appended but the
            # crash hit before the FIRST manifest append — zero committed
            # rows, not an AttributeError
            return out.filter(F.lit(False)).drop("attempt")
        committed = man.filter(F.col("status") == "ok").select(
            F.col("tile").alias(self.tile_col), "attempt"
        ).distinct()
        return out.join(
            committed, [self.tile_col, "attempt"], "left_semi"
        ).drop("attempt")

    # -- writing ---------------------------------------------------------------

    def write(self, result: DataFrame, input_counts: Optional[DataFrame] = None) -> DataFrame:
        """Append *result* partitioned by tile and append its manifest rows.

        Incremental by construction: per-tile metrics (rows_out, value
        checksum = sum of row hashes mod 2^31 — order-insensitive) are
        aggregated from *result* itself, which is persisted for the
        duration of the write so the data write and the stats pass share
        one computation. Previously checkpointed data is NEVER re-read and
        the manifest is append-only — the cost of a stage write is
        O(new tiles), independent of total checkpoint size (the property
        that keeps resume viable at 100 TB). ``input_counts``
        (tile, rows_in) joins lineage from the stage input. Each tile is
        expected to be written at most once (``run_resumable`` guarantees
        this via the completed-tiles anti-join). Data is written under a
        fresh ``attempt=<id>`` subdirectory and the manifest row carrying
        that id is the commit marker — a crash between the two appends
        leaves an orphan attempt that ``load`` never reads. Returns the
        manifest rows written.
        """
        spark = result.sparkSession
        t0 = time.time()
        attempt = uuid.uuid4().hex
        result = result.persist()
        try:
            (
                result.write.partitionBy(self.tile_col)
                .mode("append")
                .parquet(os.path.join(self.data_path, f"attempt={attempt}"))
            )
            # schema snapshot: an all-empty result writes no parquet
            # files, so load() needs this to build the zero-row frame
            _write_text(
                spark, os.path.join(self.path, SCHEMA_FILE), result.schema.json()
            )
            duration = time.time() - t0
            hash_cols = [c for c in result.columns if c != self.tile_col]
            stats = result.groupBy(F.col(self.tile_col).alias("tile")).agg(
                F.count(F.lit(1)).alias("rows_out"),
                # sum-fold of row hashes: order-insensitive content checksum
                F.sum(F.xxhash64(*hash_cols) % F.lit(1 << 31)).alias("checksum"),
            )
            if input_counts is not None:
                # the manifest is driven by the TODO TILE SET, not just
                # the stage output: a tile whose stage output is empty
                # (a filter legitimately dropping every row) must still
                # earn an ok row with rows_out = 0, or resume recomputes
                # it on every run forever
                base = input_counts.select(
                    F.col(self.tile_col).alias("tile"), F.col("rows_in")
                )
                stats = base.join(stats, "tile", "full").select(
                    "tile",
                    "rows_in",
                    F.coalesce("rows_out", F.lit(0)).alias("rows_out"),
                    F.coalesce("checksum", F.lit(0)).alias("checksum"),
                )
            else:
                stats = stats.withColumn("rows_in", F.lit(None).cast("long"))
            stats = stats.select("tile", "rows_in", "rows_out", "checksum")
            # ONE stats computation: collect the tiny per-tile rows,
            # stamp the timestamp driver-side, and write the SAME rows
            # that are returned (two actions over the stats plan would
            # recompute it and carry different current_timestamp values
            # in the stored vs returned manifests)
            stat_rows = stats.select(
                "tile", "rows_in", "rows_out", "checksum"
            ).collect()
            ts = datetime.datetime.now(datetime.timezone.utc)
            manifest = spark.createDataFrame(
                [
                    (
                        r["tile"], r["rows_in"], r["rows_out"],
                        r["checksum"], round(duration, 3), ts, "ok",
                        attempt,
                    )
                    for r in stat_rows
                ],
                T.StructType(
                    list(stats.schema.fields)
                    + [
                        T.StructField("stage_seconds", T.DoubleType()),
                        T.StructField("completed_at", T.TimestampType()),
                        T.StructField("status", T.StringType()),
                        T.StructField("attempt", T.StringType()),
                    ]
                ),
            )
            manifest.write.mode("append").parquet(self.manifest_path)
            return manifest
        finally:
            result.unpersist()


def run_resumable(
    spark: SparkSession,
    inputs: DataFrame,
    stage: Callable[[DataFrame], DataFrame],
    checkpoint_path: str,
    tile_col: str = "tile",
    count_col: Optional[str] = None,
) -> DataFrame:
    """Run ``stage`` over only the tiles not yet completed, checkpoint the
    new results, and return the full (old + new) output.

    ``count_col``: when given, the per-tile lineage ``rows_in`` counts only
    rows with a non-null value in that column — callers that pad ``inputs``
    with one sentinel row per tile (to guarantee every tile runs even with
    zero data rows) use it to keep the lineage honest.
    """
    ckpt = TileCheckpoint(checkpoint_path, tile_col)
    # persist: the emptiness probe, the lineage counts and the stage itself
    # all consume `todo` — without caching each one re-runs the anti-join
    # against the manifest (and re-scans the inputs) from scratch
    todo = ckpt.remaining(inputs).persist()
    try:
        if not todo.isEmpty():
            counted = F.count(F.lit(1)) if count_col is None else F.count(F.col(count_col))
            counts = todo.groupBy(tile_col).agg(counted.alias("rows_in"))
            ckpt.write(stage(todo), input_counts=counts)
    finally:
        todo.unpersist()
    return ckpt.load(spark)
