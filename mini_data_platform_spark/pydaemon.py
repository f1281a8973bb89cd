"""Python worker daemon of local sessions: ``pyspark.daemon`` with a zip
directory cache that survives ``importlib.invalidate_caches()``.

Every Python round of a task starts in ``worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On Python 3.11 that makes
every ``zipimport.zipimporter`` on the path re-read its archive's whole
directory: a dozen importers over ``pyspark.zip`` and two over the
spark-core jar cost 0.12–0.32 s per round. Here an importer re-reads only
an archive whose ``(st_mtime_ns, st_size)`` changed since its directory
was read, so a rewritten archive still imports its new content. The
daemon patches the class before it forks, so every worker has the fix
from its first round. ``session.get_spark`` names this module as
``spark.python.daemon.module`` for ``local[...]`` masters.
"""

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """Re-read the archive's directory only if the archive changed since
    this importer last read it."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _reread(self)
        self._stamp = stamp


def install() -> None:
    """Stamp the importers already on the path, then patch the class."""
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._stamp = _stamp(finder.archive)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.manager()
