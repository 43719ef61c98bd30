"""Entry module for pyspark's Python worker daemon (``spark.python.daemon.module``).

Before every task the pyspark worker calls ``importlib.invalidate_caches()``.
On Python < 3.12 that makes every ``zipimport.zipimporter`` re-read its
archive's whole central directory at once, and workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` through one importer per package in
it: 0.2-0.3 s of CPU per task, before the task does any work.  This module
makes the re-read conditional on the archive's ``(st_mtime_ns, st_size)``
having changed since the last read, then runs ``pyspark.daemon.manager()``.

It imports only the standard library and ``pyspark.daemon``: forked workers
inherit the daemon's memory, so anything imported here is resident in every
worker.  ``verde_spark.session.make_session`` sets it for local masters.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# the stock method, which always re-reads the archive
_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (stamp, directory dict) of the last read this process
# made; process-wide, like the ``zipimport._zip_directory_cache`` it annotates
_read_stamps: dict = {}


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _stamped_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only a changed archive.

    Every importer of one archive shares ``_zip_directory_cache[archive]``,
    so once one importer has re-read a changed archive the others pick the
    new directory up from the cache instead of reading it again.
    """
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    seen_stamp, seen_files = _read_stamps.get(self.archive, (None, None))
    if stamp is not None and stamp == seen_stamp and cached is seen_files:
        self._files = cached
        return
    _reread(self)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None:
        _read_stamps.pop(self.archive, None)
    else:
        _read_stamps[self.archive] = (stamp, files)


def patch_zipimport() -> bool:
    """Install the stamped re-read; returns whether anything was patched.

    Python 3.12 and later re-read lazily on their own, so nothing is patched
    there.
    """
    if sys.version_info >= (3, 12):
        return False
    zipimport.zipimporter.invalidate_caches = _stamped_invalidate_caches
    return True


def main() -> None:
    patch_zipimport()
    from pyspark import daemon

    # one read per archive here, so forked workers start with every stamp
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run under the module's own name, so the patched method's __module__
    # names this module rather than __main__
    import verde_spark_daemon

    verde_spark_daemon.main()
