"""Recommended Spark session configuration for verde_spark workloads.

These settings matter at every scale and encode lessons measured on the
bench (PLANS.md §7):

* ``adaptive.enabled`` — AQE skew-split + runtime re-planning; required
  by the skew story for dense cells.
* ``coalescePartitions.minPartitionSize=1b`` — THE critical one for this
  engine: the decimated block tables feeding the per-tile spline /
  Delaunay solves are byte-tiny (a few MB for tens of thousands of
  blocks) but carry seconds-to-minutes of dense linear algebra per
  partition.  AQE's default byte-based coalescing (minPartitionSize=1m)
  collapses those stages to 2-3 tasks **regardless of cluster size**,
  serializing the compute.  With ``1b`` AQE still coalesces, but
  parallelism-first: ≈ one partition per core.
* ``arrow.pyspark.enabled`` — all pandas/Arrow UDF stages (the engine
  forbids per-row Python; see BASELINE.json input_hint).

``make_session`` also starts pyspark's Python daemon through the
top-level ``verde_spark_daemon`` module (``spark.python.daemon.module``)
on local masters.  Before every Python task the pyspark worker calls
``importlib.invalidate_caches()``, and on Python < 3.12 that re-reads the
central directory of ``pyspark.zip`` once per package importer: measured
on pyspark 4.1.2 / Python 3.11, a reused worker burned 0.25 s of CPU per
task before its task started, and 0.035 s with the re-read skipped while
the zip is unchanged.  Every Arrow stage pays that cost per task: the
spline cogroups, the cross-validation fits, the mask and hull UDFs.  The
conf is set only when the workers are known to find the module: on a
local master whose working directory or ``PYTHONPATH`` holds it.  It is
not part of ``RECOMMENDED_CONF``, because a cluster's executors start
their daemon before ``--py-files`` reach ``sys.path``.

``make_session`` is a convenience for tests/benchmarks; production jobs
launched via spark-submit should set the same confs on the command line.
"""

from __future__ import annotations

import importlib.util
import os
import re

RECOMMENDED_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1b",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

DAEMON_MODULE = "verde_spark_daemon"


def daemon_conf(master: str) -> dict:
    """``spark.python.daemon.module`` for *master*, or nothing.

    Only local masters qualify, and only when the module sits in a
    directory the workers search: they run ``python -m`` in the driver's
    working directory with the driver's ``PYTHONPATH``.
    """
    if not re.fullmatch(r"local(\[.*\])?", master):
        return {}
    spec = importlib.util.find_spec(DAEMON_MODULE)
    if spec is None or not spec.origin:
        return {}
    home = os.path.dirname(os.path.abspath(spec.origin))
    searched = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    if home not in {os.path.abspath(p) for p in searched if p}:
        return {}
    return {"spark.python.daemon.module": DAEMON_MODULE}


def make_session(master: str = "local[*]", app_name: str = "verde_spark", **extra):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in {**RECOMMENDED_CONF, **daemon_conf(master), **extra}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
