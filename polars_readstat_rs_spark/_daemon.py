"""Spark's Python worker daemon without a zip re-read at every task start.

Up to Python 3.12, the ``importlib.invalidate_caches()`` that PySpark
calls at every task start makes each ``zipimporter`` re-read its
archive's central directory at once (measurements in ``session.py``).
Here an importer re-reads only on its first call or when the archive's
``(st_mtime_ns, st_size, st_ino)`` changed, so a replaced archive is
still picked up; Python 3.13 is already lazy and keeps the stdlib
method. Spark runs this module as ``spark.python.daemon.module`` and
every worker forks from it; importing it patches nothing.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        key = None
    if key is None or key != getattr(self, "_stat_key", None):
        _stdlib_invalidate(self)
        self._stat_key = key


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()  # validate once here, not in every forked worker
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
