"""Python worker entry for sessions built by ``session.get_spark``.

Spark starts its Python workers as ``python -m pyspark.daemon <module>``
and forks every worker from that daemon after importing ``<module>``; the
session names this module through ``spark.python.worker.module``.  Its one
change, inherited by every forked worker, concerns the ``zipimport``
importers:

Before each task, ``pyspark.worker`` calls ``importlib.invalidate_caches()``
so that files added with ``addPyFile`` become importable.  On CPython < 3.13
every ``zipimporter`` answers that call by re-parsing its archive's whole
central directory in pure Python, and the workers hold one importer per
package directory of ``pyspark.zip`` (1,328 entries): 14-16 directory reads,
~130-150 ms of CPU per task on a 4-vCPU host.  CPython 3.13 only drops the
cached listing and reads it again on the next lookup.  Here an importer
re-reads its archive only when the archive's ``(st_ino, st_size,
st_mtime_ns)`` differs from the listing it holds, and importers of one
archive share that listing, so an unchanged ``pyspark.zip`` is parsed once
per worker process, and a rewritten or replaced archive is read again as
before.  On Python >= 3.13 ``zipimport`` is left as it is.

The module name starts with ``pyspark`` because ``pyspark.daemon`` ignores
any other name and silently runs ``pyspark.worker``.  The daemon itself
stays ``pyspark.daemon``: per-process CPU accounting finds the Python
workers by that command line.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> (stat stamp, directory listing) of the latest read
_LISTINGS: dict[str, tuple[tuple[int, int, int], dict]] = {}
_EAGER_INVALIDATE = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its stamp moved since the listing was read."""
    # stamp before reading: a rewrite during the read leaves an old stamp,
    # so the next call reads again
    stamp = _stamp(self.archive)
    seen = _LISTINGS.get(self.archive)
    if seen is not None and seen[0] == stamp:  # stored stamps are never None
        self._files = seen[1]
        zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _EAGER_INVALIDATE(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _LISTINGS[self.archive] = (stamp, self._files)
    else:
        _LISTINGS.pop(self.archive, None)


def install() -> bool:
    """Guard ``zipimporter.invalidate_caches``; True if it is guarded.
    Idempotent; a no-op on Python >= 3.13."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


GUARDED = install()

from pyspark.worker import main  # noqa: E402,F401  (the daemon's entry)
