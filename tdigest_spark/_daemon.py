"""Session daemon: PySpark's ``pyspark.daemon`` with stamped zip importers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython <= 3.12 that makes every ``zipimporter`` on the
worker's path re-parse its archive's whole directory: a dozen importers
over ``pyspark.zip`` and two over the ``spark-core`` jar, hundreds of
milliseconds per task. ``get_spark`` starts the workers' daemon as
``python -m tdigest_spark._daemon``; before the stock ``manager()`` forks
any worker, this module makes zip importers re-read an archive only when
its ``(st_mtime_ns, st_size)`` stamp has changed. Import resolution and
the worker protocol are PySpark's own. The package ``__init__`` imports
nothing, so this runs before PySpark is imported.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive -> stamp taken before a StampedZipImporter last read its directory
_READ_AT: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StampedZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose ``invalidate_caches()`` re-reads its
    archive only when the archive's stamp differs from the one its
    directory was read at (or the archive cannot be stat'ed)."""

    def __init__(self, path):
        super().__init__(path)
        # the directory may come from zipimport's shared cache: trust it
        # only at the stamp a StampedZipImporter read it at
        self._stamp = _READ_AT.get(self.archive)
        self.invalidate_caches()

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != self._stamp:
            super().invalidate_caches()
            self._stamp = _READ_AT[self.archive] = stamp


def install() -> None:
    """Put ``StampedZipImporter`` in ``zipimporter``'s place in
    ``sys.path_hooks`` and evict the zip importers already cached in
    ``sys.path_importer_cache``, so they are re-created through it."""
    sys.path_hooks[:] = [
        StampedZipImporter if h is zipimport.zipimporter else h for h in sys.path_hooks
    ]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[path]


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
