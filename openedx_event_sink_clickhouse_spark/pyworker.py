"""Python-worker daemon that keeps unchanged zip archives' directories.

``get_spark`` sets this module as ``spark.python.daemon.module``; Spark
starts it as ``python -m`` in place of ``pyspark.daemon``, and every
Python worker forks from it.

Why: PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``worker_util.setup_spark_files``). On CPython 3.11 and
3.12 that makes every cached ``zipimporter`` re-read its archive's whole
central directory at once: ``pyspark.zip`` once per imported pyspark
subpackage and the spark-core jar twice, ~200 ms per task, so even a
one-row ``insert_df`` job costs several times its actual work. CPython
3.13 made the re-read lazy, so there this module only starts the daemon.

The patch re-reads an archive only when its ``os.stat`` signature
(mtime in ns, size) differs from the one recorded at the archive's last
read in this process; an unchanged archive's importers all get the
directory of that read, which is what a re-read would return. A missing
archive goes to the original method. FileFinder caches are still
invalidated, and a rewritten zip is still re-read. The daemon reads every
archive once before it forks, so a fresh worker starts with the
signatures too. Imports only the standard library and ``pyspark.daemon``.

Like any Python function of this package that runs in a task, the daemon
needs ``openedx_event_sink_clickhouse_spark`` importable on the workers
(the driver's working directory or ``PYTHONPATH``).
"""

from __future__ import annotations

import os
import sys
import zipimport

_original_invalidate_caches = zipimport.zipimporter.invalidate_caches

# archive -> (stat signature, directory) of its last read; process-wide,
# like zipimport's own ``_zip_directory_cache``
_last_read: dict[str, tuple[tuple[int, int], dict]] = {}


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        signature = (st.st_mtime_ns, st.st_size)
    except OSError:
        signature = None
    last = _last_read.get(self.archive)
    if signature is not None and last is not None and last[0] == signature:
        # the state a re-read would leave, without reading
        self._files = zipimport._zip_directory_cache[self.archive] = last[1]
        return
    # stat before the read: an archive rewritten in between is re-read next time
    _original_invalidate_caches(self)
    if signature is None:
        _last_read.pop(self.archive, None)
    else:
        _last_read[self.archive] = (signature, self._files)


def install() -> None:
    """Patch ``zipimport.zipimporter`` on CPython < 3.13 (idempotent)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    # patch from the importable module, not ``__main__``, so the method
    # names its real module
    import importlib

    from openedx_event_sink_clickhouse_spark.pyworker import install as _install
    from pyspark.daemon import manager

    _install()
    importlib.invalidate_caches()  # record every archive's signature before forking

    manager()
