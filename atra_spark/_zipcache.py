"""Stat-stamped reuse of zipimport's directory cache.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark/worker_util.py:144``, ``setup_spark_files``). On
interpreters whose ``zipimporter.invalidate_caches`` eagerly re-reads
the archive (CPython 3.11), every zipimporter cached for
``pyspark.zip`` — about 16 per worker — re-parses its 1,328-entry
directory, so each task pays ~0.27 CPU-s whatever its rows.

``install()`` wraps the method: an archive whose
``(st_mtime_ns, st_size, st_ino)`` stamp is unchanged since its last
read, and whose directory ``zipimport._zip_directory_cache`` still
holds, reuses that directory; any other call runs the stock re-read
and records the new stamp. A rewritten or deleted archive therefore
behaves exactly as stock. Interpreters without the eager re-read are
left alone.
"""

from __future__ import annotations

import os
import zipimport

_stamps: dict[str, tuple[int, int, int]] = {}
_stock = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self) -> None:
    """Re-read the archive directory only if the archive changed."""
    # stat BEFORE the read: a rewrite racing the read leaves the old
    # stamp recorded, so the next call re-reads again
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def applies() -> bool:
    """True when the stock method is the eager directory re-read this
    wrapper short-circuits (checked on behaviour, not on a version)."""
    code = getattr(_stock, "__code__", None)
    return (
        hasattr(zipimport, "_read_directory")
        and isinstance(getattr(zipimport, "_zip_directory_cache", None), dict)
        and code is not None
        and "_read_directory" in code.co_names
    )


def install() -> None:
    """Install the wrapper over the stock method if it applies."""
    if applies() and zipimport.zipimporter.invalidate_caches is _stock:
        zipimport.zipimporter.invalidate_caches = invalidate_caches
