"""Keep an unchanged zip archive's directory cached across Python tasks.

Every Python task a Spark worker runs starts in pyspark's
``worker_util.setup_spark_files``, which ends with
``importlib.invalidate_caches()``. On Python 3.10 and 3.11 that call reaches
``zipimport.zipimporter.invalidate_caches`` on every cached zipimporter, and
each one re-reads its archive's whole central directory. A worker that
imports pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` holds one
zipimporter per imported package directory (16 after a pandas UDF has run),
so each task re-parses the same 1,328-entry directory 16 times: about 0.2
core-seconds per task, paid per task whatever the data size.

:func:`install` replaces that method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size)`` differs from the last read, or when the
archive is missing from ``zipimport._zip_directory_cache``; otherwise it
rebinds the importer's ``_files`` to the cached directory. A zip rewritten
in place is therefore still re-read, and its new modules import. If the
archive cannot be stat'ed, the original method runs.

The package ``__init__`` calls :func:`install`, so the guard lands in any
worker that unpickles a function referencing an engine module global, and a
reused worker keeps it for its lifetime. Every engine UDF does: a stage
function whose body needs no engine global (``dedup.shingle_rows_local``)
calls a module-level function of its module, so unpickling it imports the
package too.

It is a no-op:

- where ``zipimporter`` has no ``invalidate_caches`` (Python < 3.10);
- on Python 3.12+, where the re-read is already lazy (gh-103200);
- in effect, where workers import pyspark from site-packages instead of a
  zip, since then no zipimporter exists to re-read anything.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _guarded(original):
    seen = {}  # archive path -> (st_mtime_ns, st_size) of its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return original(self)
        sig = (st.st_mtime_ns, st.st_size)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if cached is not None and seen.get(self.archive) == sig:
            self._files = cached
            return
        original(self)
        seen[self.archive] = sig

    invalidate_caches.__wrapped__ = original
    return invalidate_caches


def install() -> bool:
    """Install the guard once per process; True if it is (now) in place."""
    original = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if original is None or sys.version_info >= (3, 12):
        return False
    if not hasattr(original, "__wrapped__"):
        zipimport.zipimporter.invalidate_caches = _guarded(original)
    return True
