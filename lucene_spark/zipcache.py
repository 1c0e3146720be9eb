"""Keep zipimport directories across ``importlib.invalidate_caches()`` while
the archive on disk is unchanged.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``, after adding the task's
``--py-files`` to ``sys.path``). On Python 3.10-3.12 that makes every
``zipimporter`` on ``sys.path`` re-read its archive's whole central
directory right away: ``pyspark.zip``, the py4j zip, the Spark jars and
each of their sub-package entries. On a warm local session that costs a
Python UDF task 0.1-0.3 s before the UDF runs, whatever its input size.
Python 3.13 only drops the cache and re-reads lazily, so there
``install()`` does nothing.

The replacement keeps an importer's directory while the archive's
``(st_mtime_ns, st_size, st_ino)`` matches the stat taken when that
directory was read, and defers to the interpreter's own method otherwise.
A rewritten or replaced archive therefore still re-reads on the next
invalidation, as before.
"""

from __future__ import annotations

import os
import zipimport

_stamps: dict = {}  # archive path -> stat stamp of the cached directory


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _eager_reread() -> bool:
    """True where ``zipimporter.invalidate_caches`` re-reads the archive
    itself; lazy interpreters fetch the directory through ``_get_files``."""
    cls = zipimport.zipimporter
    return hasattr(cls, "invalidate_caches") and not hasattr(cls, "_get_files")


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` once per process, on
    interpreters that re-read eagerly."""
    cls = zipimport.zipimporter
    if not _eager_reread() or getattr(cls.invalidate_caches, "_keeps_unchanged", False):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            _stamps[self.archive] = stamp
        else:
            _stamps.pop(self.archive, None)

    invalidate_caches._keeps_unchanged = True
    invalidate_caches.__doc__ = reread.__doc__
    cls.invalidate_caches = invalidate_caches
