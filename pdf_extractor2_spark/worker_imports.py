"""Per-task import cost of a reused Python worker.

Before every task, a PySpark worker runs ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On Python 3.11 that makes
every cached ``zipimport.zipimporter`` re-parse its archive's whole
central directory in pure Python: a worker holds about a dozen importers
on ``pyspark.zip`` (one per package directory), two on the Spark core
jar and two on the py4j zip.  On a 4-core host that call took 0.12-0.33 s
per task (median 0.20 s), and the median gap from task launch to the
kernel's first line was 0.20-0.33 s per stage.

``install_zip_cache_guard`` makes that call re-read an archive only when
the archive has changed.  Each importer remembers the
``(st_ino, st_mtime_ns, st_size)`` of the archive it last read; an equal
key skips the re-read, a different key or a failed ``os.stat`` runs the
stock method.  The package ``__init__`` installs it, so any worker that
unpickles a package kernel has it from its second task on: the call then
takes under 1 ms and the launch-to-first-line gap 0.02-0.04 s.  Pass
Spark a package function (or a ``functools.partial`` of one): a closure
is pickled by value, and unpickling it imports the package only if it
references package code.  Stdlib only.
"""

from __future__ import annotations

import functools
import os
import zipimport

_KEY_ATTR = "_archive_stat_key"


def _archive_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def install_zip_cache_guard() -> None:
    """Wrap ``zipimporter.invalidate_caches`` to skip unchanged archives.

    Idempotent: a second call finds the wrapper and leaves it alone."""
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "skips_unchanged_archives", False):
        return

    @functools.wraps(stock)
    def invalidate_caches(self) -> None:
        # stat BEFORE the read: an archive rewritten during the read
        # leaves an older key behind, so the next call reads it again
        key = _archive_key(self.archive)
        if key is not None and key == getattr(self, _KEY_ATTR, None):
            return
        stock(self)
        setattr(self, _KEY_ATTR, key)

    invalidate_caches.skips_unchanged_archives = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
