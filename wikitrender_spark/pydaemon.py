"""PySpark's worker daemon, started warm.

``session.get_spark`` names this module as ``spark.python.daemon.module``,
so Spark launches it as ``python -m wikitrender_spark.pydaemon`` and every
Python worker is a fork of it. Before handing over to
``pyspark.daemon.manager()`` it removes two fixed costs that the stock
daemon makes every Python task pay on CPython < 3.13:

- ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()`` once per task, and each
  ``zipimport.zipimporter`` then re-parses its whole archive's directory
  (a worker holds one importer per package path inside ``pyspark.zip``,
  each re-reading all of its entries). ``install()`` replaces that method
  with one that re-reads an archive only when its ``(st_mtime_ns,
  st_size)`` changed since the last read. CPython 3.13's importer only
  drops its cache entry there and re-reads lazily, which the replacement
  keeps doing for a changed archive, so it is harmless on every version.
- The daemon runs ``gc.collect()`` after every task of a reused worker,
  which walks the whole pandas/pyarrow heap. The daemon imports pandas,
  pyarrow and the Arrow serializers itself and then ``gc.freeze()``s its
  heap, so each worker inherits the imports and its post-task collection
  skips them.

Importing this module changes nothing; only running it as ``__main__``
does. Results are the same under either daemon: a session built without
``get_spark`` (the driver contract's vanilla one) uses the stock daemon.
"""

from __future__ import annotations

import gc
import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches

#: archive path -> (st_mtime_ns, st_size) taken just before its last re-read
_read_at: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when it changed since this process last re-read it."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _read_at.get(self.archive) == stamp:
        if hasattr(self, "_files"):  # CPython < 3.13 keeps its own reference
            self._files = files
        return
    # the stamp is taken before the read: a write racing the read leaves
    # an older stamp, so the next call reads again
    _stock_invalidate(self)
    if stamp is not None:
        _read_at[self.archive] = stamp


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` in this process."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


def main() -> None:
    install()
    importlib.invalidate_caches()  # one read per archive, stamped
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    from pyspark import daemon

    gc.collect()
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
