"""Custom PySpark worker daemon: preload heavy modules before forking.

PySpark forks one Python worker per concurrent task from ``pyspark.daemon``.
A stock daemon has only pyspark loaded, so every freshly forked worker pays
the full ``import numpy/pandas/pyarrow`` cost (1-3 s under 32-way fork
contention) before the first Arrow batch flows — a per-WORKER tax that grows
with parallelism and destroys scaling efficiency (measured: a 0.5 s
mapInPandas stage costing 6-40 s wall at local[32]).

Preloading here means forked workers inherit warm modules via copy-on-write:
worker start becomes O(fork) instead of O(import pandas).

Per-TASK tax: stat-gated zip re-reads. Every task's
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. Before Python 3.12 (gh-103200 made the
re-read lazy) that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its whole archive directory — 14-16
importers, one per package imported from ``pyspark.zip`` (1,328 entries) or
``py4j-*.zip``, once per Python plan node per task. A cProfile of one
worker task put 1.0 s of its 1.23 s there. The daemon therefore replaces
``zipimporter.invalidate_caches`` with a version that re-reads an archive
only when its ``(st_mtime_ns, st_size, st_ino)`` changed since the last
read, and records that stat for every archive it has read before forking,
so even a worker's first task skips the re-read. A new or rewritten
archive (``addPyFile``) is still re-read, and a failed stat falls back to
the stock re-read. Measured with ``perfbench`` at local[4] on a 4-core
host, seeds 301/302/303, before → after: ``geom_join`` wall
4.69/5.43/5.11 s → 3.30/3.31/3.21 s, CPU 16.1/17.6/16.3 s →
11.1/10.8/10.6 s; ``point_tile_knn`` wall 7.76/7.54/6.80 s →
6.62/6.68/6.47 s. A no-op 40-row ``mapInPandas`` over 4 partitions went
from 0.49-0.68 s to 0.32-0.48 s.

Activated by ``spark.python.daemon.module=shapely_spark.spark.daemon``
(set in session.get_spark) with PYTHONPATH carrying the repo root.
"""

from __future__ import annotations

import os
import sys
import zipimport

# (st_mtime_ns, st_size, st_ino) of each archive at its last directory read
_zip_stat: dict[str, tuple[int, int, int] | None] = {}


def _archive_stat(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _gated_invalidate_caches(self) -> None:
    """Reload the archive directory only if the archive changed on disk."""
    key = _archive_stat(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _zip_stat.get(self.archive) == key:
        self._files = files
    else:
        # stat before the read: a rewrite during the read shows up next time
        _stock_invalidate_caches(self)
        _zip_stat[self.archive] = key


# Installed before the preload, outside its try: a failing kernel import
# must not cost every task the re-read.
if sys.version_info < (3, 12):
    zipimport.zipimporter.invalidate_caches = _gated_invalidate_caches

# Preload order: cheap → heavy. Failures are non-fatal — the daemon must
# come up even if a kernel module breaks; workers then import lazily as
# stock pyspark would.
try:  # noqa: SIM105
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.worker  # noqa: F401

    import shapely_spark.geo.kernels  # noqa: F401
    import shapely_spark.geo.wkb  # noqa: F401
    import shapely_spark.geo.constructive  # noqa: F401
    import shapely_spark.geo.strtree  # noqa: F401
    import shapely_spark.geo.overlay  # noqa: F401
    import shapely_spark.geo.triangulate  # noqa: F401
    import shapely_spark.geo.coverage  # noqa: F401
    import shapely_spark.geo.geojson  # noqa: F401
    import shapely_spark.index.cells  # noqa: F401
    import shapely_spark.multimodal.media  # noqa: F401
    import shapely_spark.multimodal.codecs  # noqa: F401
    import shapely_spark.multimodal.flac  # noqa: F401
    import shapely_spark.multimodal.jpeg  # noqa: F401
    import shapely_spark.multimodal.webp  # noqa: F401
except Exception:  # pragma: no cover - diagnostic only
    import traceback

    traceback.print_exc()

from pyspark.daemon import manager

# every archive read so far, so a forked worker's first task re-reads none
_zip_stat.update((a, _archive_stat(a)) for a in list(zipimport._zip_directory_cache))

if __name__ == "__main__":
    manager()
