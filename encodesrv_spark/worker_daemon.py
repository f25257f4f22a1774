"""Python worker daemon for the engine's sessions (``session.get_spark``
sets it as ``spark.python.daemon.module``).

It is ``pyspark.daemon`` with one change, made before any worker is
forked: ``zipimporter.invalidate_caches`` does nothing for the archives
that were on ``sys.path`` when the daemon started -- Spark's own
``pyspark.zip`` and ``py4j-*.zip``, which cannot change while the daemon
lives.  Every task calls ``importlib.invalidate_caches()``; on Python
3.11 each cached zipimporter of ``pyspark.zip`` then re-reads the whole
archive directory, about 0.25 s of CPU per task.  Every other finder is
still invalidated, including zips that ``addPyFile`` adds later.
"""

import os
import sys
import zipimport


def main() -> None:
    startup_archives = frozenset(p for p in sys.path if os.path.isfile(p))
    invalidate = zipimport.zipimporter.invalidate_caches

    def invalidate_unless_startup(self: zipimport.zipimporter) -> None:
        if self.archive not in startup_archives:
            invalidate(self)

    zipimport.zipimporter.invalidate_caches = invalidate_unless_startup
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
