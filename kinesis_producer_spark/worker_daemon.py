"""PySpark worker daemon that skips re-reading unchanged zip archives.

Before every task PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``). On CPython < 3.12 each
``zipimporter`` then re-reads its whole archive directory. A worker holds
several importers over ``pyspark.zip`` plus those over the py4j zip and
the ``spark-core`` jar; on a 4-vCPU host the re-reads cost 120-180 ms
per task. CPython 3.12 made this invalidation lazy (gh-103200).

``session.get_spark`` selects this module with
``spark.python.daemon.module``. Run as ``__main__`` it installs
``invalidate_caches_if_changed`` and then runs PySpark's own daemon; the
workers it forks inherit the patch. Importing it changes nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def invalidate_caches_if_changed(self: zipimport.zipimporter) -> None:
    """Re-read the archive only when its ``(st_mtime_ns, st_size)``
    differs from the stamp taken at this importer's last read. The first
    call, and any call whose ``stat`` fails, re-read as the stock method
    does."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _stock_invalidate_caches(self)
    self._read_stamp = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process (Python < 3.12)."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches_if_changed


if __name__ == "__main__":
    from pyspark.daemon import manager

    install()
    manager()
