"""The ``verde_spark_daemon`` worker entry and the session conf that uses it."""

import importlib
import os
import sys
import zipfile
import zipimport

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import verde_spark_daemon
from verde_spark.session import DAEMON_MODULE, daemon_conf

PATCHED = sys.version_info < (3, 12)
ROOT = os.path.dirname(os.path.abspath(verde_spark_daemon.__file__))


@pytest.mark.skipif(not PATCHED, reason="Python >= 3.12 re-reads zips lazily")
def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("vsd_probe_a.py", "VALUE = 1\n")
    # the stock method comes back when the test ends
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    assert verde_spark_daemon.patch_zipimport()
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or read_directory(a)
    )
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("vsd_probe_a").VALUE == 1
        importlib.invalidate_caches()  # first call: no stamp yet, one read
        before = reads.count(archive)
        importlib.invalidate_caches()
        assert reads.count(archive) == before

        with zipfile.ZipFile(archive, "a") as zf:
            zf.writestr("vsd_probe_b.py", "VALUE = 2\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == before + 1
        assert importlib.import_module("vsd_probe_b").VALUE == 2
    finally:
        for name in ("vsd_probe_a", "vsd_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_patch_is_a_no_op_from_python_3_12(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(sys, "version_info", (3, 12, 0))
    stock = zipimport.zipimporter.invalidate_caches
    assert not verde_spark_daemon.patch_zipimport()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_daemon_conf_only_for_reachable_local_masters(tmp_path, monkeypatch):
    conf = {"spark.python.daemon.module": DAEMON_MODULE}
    monkeypatch.chdir(ROOT)
    assert daemon_conf("local[4]") == conf
    assert daemon_conf("local") == conf
    assert daemon_conf("yarn") == {}
    assert daemon_conf("local-cluster[2,1,1024]") == {}
    # workers search the driver's working directory and PYTHONPATH only
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    assert daemon_conf("local[4]") == {}
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), ROOT]))
    assert daemon_conf("local[4]") == conf


def test_workers_run_through_the_daemon_entry(spark):
    """A pandas UDF sees the patched importer and computes as before."""
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON_MODULE

    @F.pandas_udf("string")
    def importer_module(x: pd.Series) -> pd.Series:
        import zipimport

        return x.map(lambda _: zipimport.zipimporter.invalidate_caches.__module__)

    @F.pandas_udf("double")
    def affine(x: pd.Series) -> pd.Series:
        return x * 0.5 + 3.0

    df = spark.range(0, 200, 1, 4).select(F.col("id").cast("double").alias("x"))
    got = df.select("x", affine("x").alias("y"), importer_module("x").alias("m")).toPandas()
    expected = DAEMON_MODULE if PATCHED else "zipimport"
    assert set(got["m"]) == {expected}
    got = got.sort_values("x")
    np.testing.assert_array_equal(got["y"].to_numpy(), np.arange(200) * 0.5 + 3.0)
