"""Python worker daemon: ``pyspark.daemon`` without the per-task archive
re-reads.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``, after adding the task's includes to
``sys.path``).  On Python 3.11 that makes every cached ``zipimporter``
re-read its archive's whole central directory: ``pyspark.zip`` once per
imported package (a dozen importers), the spark-core jar and the py4j zip
twice each.  Measured on a 4-vCPU host: ~205 ms per task before any UDF
runs.

:func:`install` makes ``zipimporter.invalidate_caches`` re-read an archive
only when its stat signature (inode, size, mtime) differs from the one
recorded at its last read.  A rewritten archive, or one shipped later with
``addPyFile``, is still read, so new modules stay importable.  Running this
module (``session.get_session`` sets ``spark.python.daemon.module`` to it)
installs the rule once and then runs ``pyspark.daemon``'s own manager, so
every forked worker inherits the recorded signatures.
"""

from __future__ import annotations

import importlib
import os
import zipimport


def _signature(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install():
    """Patch ``zipimporter.invalidate_caches`` with the signature rule and
    record every cached archive's signature with one read each.  Returns a
    callable that restores the original method."""
    original = zipimport.zipimporter.invalidate_caches
    signatures: dict = {}

    def invalidate_caches(self):
        sig = _signature(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and files is not None \
                and signatures.get(self.archive) == sig:
            if hasattr(self, "_files"):
                # another importer of this archive may have read a newer
                # directory since this one last did
                self._files = files
            return
        # stat before the read: a rewrite racing the read leaves a stale
        # signature, so the next call reads again
        original(self)
        if sig is not None:
            signatures[self.archive] = sig

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()

    def restore():
        zipimport.zipimporter.invalidate_caches = original
    return restore


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
