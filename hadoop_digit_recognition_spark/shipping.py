"""Ship the engine package to Spark Python workers, and keep those
workers from re-parsing their zip archives on every task.

Pandas-UDF closures reference module-level helpers; cloudpickle
serializes those by module reference, so every executor's Python worker
must be able to import `hadoop_digit_recognition_spark`. The consuming
process (the driver harness, a user notebook) may run with any cwd, so we
zip the package once per SparkContext and `addPyFile` it — the same
mechanism you'd use to deploy this engine to a real 1000-executor
cluster.

Zip re-reads. Before every Python-runner invocation pyspark's worker
calls `importlib.invalidate_caches()` (`pyspark/worker_util.py`,
`setup_spark_files`). Before Python 3.12 that makes every `zipimporter`
in `sys.path_importer_cache` re-parse its archive's whole central
directory in pure Python: 14-19 importers per worker, most of them over
the 1,328-entry `pyspark.zip`, about 0.1-0.2 s of CPU per task; skipping
the re-reads cut the DBN benchmark workload's CPU per pass by about 29%
on 4 vCPUs. Python 3.12 made that re-read lazy.
On older Pythons, importing this package (the package `__init__` imports
this module, and every worker that unpickles an engine closure imports
the package) replaces `zipimporter.invalidate_caches` with one that
re-reads an archive only when its `os.stat` (inode, size, mtime in ns)
differs from the one it saw at its last read, and otherwise re-attaches
the directory already in `zipimport._zip_directory_cache`. It is safe
because a changed or missing archive still goes through the original
re-read, and the first call per archive always re-reads (nothing
recorded yet). The driver gets the same behaviour."""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()


def ensure_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(tempfile.gettempdir(), f"hdr_spark_pkg_{os.getpid()}.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    _SHIPPED.add(key)


def _reread_zips_only_when_changed() -> None:
    """Install the stat-keyed zipimporter.invalidate_caches (see the
    module docstring). No-op on Python >= 3.12 and when already installed."""
    import zipimport

    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12) or hasattr(original, "_stat_keyed"):
        return
    seen: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and seen.get(self.archive) == stamp:
            self._files = files
            return
        # stat before the read: a write racing the read leaves an old
        # stamp, so the next call re-reads again rather than missing it
        original(self)
        if stamp is None or self.archive not in zipimport._zip_directory_cache:
            seen.pop(self.archive, None)
        else:
            seen[self.archive] = stamp

    invalidate_caches._stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_reread_zips_only_when_changed()
