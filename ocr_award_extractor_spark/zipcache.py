"""Stop zipimport from re-reading unchanged archives before every Python task.

PySpark's worker calls ``importlib.invalidate_caches()`` before each task
(``pyspark.worker_util.setup_spark_files``) so that ``--py-files`` zips
added since the last task become importable. Before CPython 3.13 that
call makes every ``zipimport.zipimporter`` instance re-read its archive's
whole central directory. A worker that imported pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` holds one importer per imported
package directory (17 on pyspark 4.1, py4j and the engine's ``--py-files``
zip included), each re-reading a 3.5 MB, 1,328-entry directory: about
0.25 s of fixed cost per task on a 4-vCPU host, more than the flagship
kernel spends on a typical task.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a version
that skips the re-read while the archive's ``(st_ino, st_mtime_ns,
st_size)`` stamp equals the one taken just before its last re-read, and
hands the importer the shared ``zipimport._zip_directory_cache`` entry
instead. Any other stamp (archive replaced, rewritten, resized or gone)
falls through to the stdlib re-read, so a changed archive is still seen
by the next task. Stamps are taken before the read, so an archive that
changes during a re-read gets re-read again next time. The first
invalidation after install re-reads each archive once (not once per
importer) to take its stamp. CPython 3.13 made the re-read lazy, so there
:func:`install` does nothing.

The package ``__init__`` calls :func:`install`: every Python worker that
unpickles engine code imports the package, which covers local workers,
``spark-submit --py-files`` executors and sessions the engine did not
build, without a Spark conf.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stamp taken just before its last stdlib re-read; process
# wide, like the zipimport._zip_directory_cache it vouches for
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def _wrap(stdlib_invalidate):
    def invalidate_caches(self):
        """Reload the archive's file data only if the archive changed."""
        archive = self.archive
        stamp = _stamp(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if stamp is not None and files is not None and _stamps.get(archive) == stamp:
            self._files = files
            return
        stdlib_invalidate(self)
        _stamps[archive] = stamp

    return invalidate_caches


def installed() -> bool:
    """Whether ``zipimporter.invalidate_caches`` is this module's version."""
    return zipimport.zipimporter.invalidate_caches.__module__ == __name__


def install() -> bool:
    """Install the stamped ``invalidate_caches`` on CPython < 3.13.
    Idempotent; returns whether it is in place."""
    if sys.implementation.name != "cpython" or sys.version_info >= (3, 13):
        return False
    if not installed():
        zipimport.zipimporter.invalidate_caches = _wrap(
            zipimport.zipimporter.invalidate_caches)
    return True
