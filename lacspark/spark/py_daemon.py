"""Python-worker daemon with the heavy imports preloaded.

PySpark's worker processes are forked from one daemon process
(``pyspark.daemon``).  The stock daemon imports almost nothing, so
EVERY forked worker pays the pandas + pyarrow + numpy import chain
(~0.5 s of pure CPU) the first time it runs a UDF — and a cold
``local[32]`` stage pays it 32 times simultaneously, which is the
bulk of the suite's cold-start cost (kg_pipeline cold ~15 s, of
which the first tag stage is an import storm).

Importing those modules (plus the engine stack every tagger UDF
needs) in the daemon BEFORE it starts forking moves the cost to one
process, once; forked workers inherit the loaded modules through
copy-on-write.  Enabled via ``spark.python.daemon.module`` in
``session.get_spark`` — a documented public knob (used the same way
by pyspark's own tests); behavior of the workers is otherwise
byte-identical (same ``pyspark.daemon.manager`` loop).

pandas stays in the preload although no row-wise pass uses it:
``pyarrow.array`` imports pandas on its first call (to test whether
its input is a pandas Series), so every worker's first
``session.python_pass`` batch would import it (seen with a
``sys.meta_path`` probe in the workers of a ``kg`` benchmark run).

Only stdlib/third-party modules whose import has no side effects
beyond module init are preloaded; lacspark.engine constructs nothing
at import time (engines are built lazily per worker key).

Threads at the fork.  A fork copies only the forking thread, so a
thread alive in the daemon is absent from every worker.  After the
preload the daemon holds two native threads: its main thread and
``jemalloc_bg_thd``, the background thread of pyarrow's bundled
jemalloc, which importing pandas or pyarrow starts.
``threading.active_count()`` stays 1, so only ``/proc/self/task``
shows it (tests/test_session.py checks the thread names).  Importing
numpy before ``lacspark`` would start OpenBLAS worker threads too (3
more on a 4-vCPU box); the daemon runs as ``-m lacspark.spark.py_daemon``,
so ``lacspark/__init__`` sets the BLAS thread env defaults to 1
before numpy loads, and that alone keeps them out.

Per-task zip re-read.  Every Python task starts with
``setup_spark_files``, which calls ``importlib.invalidate_caches()``.
On Python < 3.12 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole directory.
A worker holds 16 of them, over ``pyspark.zip`` and py4j's zip; the
re-reads cost about 0.29 CPU s per task before any work.  On a
4-vCPU box an identity 4-partition ``mapInPandas`` took about 1.2 CPU
s of worker time per call, and 0.2 s without the re-reads.  CPython
3.12 made this invalidation lazy (gh-103200).  On older versions
only, the daemon replaces ``zipimporter.invalidate_caches`` with one
that re-reads an archive only when its ``(st_mtime_ns, st_size)``
differs from the last read; importers of an unchanged archive take
that read's directory.  The archives are read once in the daemon, before it
forks.  An archive added later (``addPyFile``) gets a new importer,
which reads it on creation; a rewritten archive is re-read.
"""

import os
import sys

import pyspark.daemon

# A failed preload must not take every Python stage down with it: the
# workers import whatever is missing themselves, exactly as they do
# under the stock daemon.
try:
    # heavy third-party chain first (what pyspark.worker pulls in)
    import numpy                      # noqa: F401
    import pandas                     # noqa: F401
    import pyarrow                    # noqa: F401
    import pyspark.worker             # noqa: F401  (serializers, sql types)

    # the engine stack every tagger/kg UDF constructs per worker
    import lacspark.engine            # noqa: F401
    import lacspark.spark.tagger      # noqa: F401
except Exception:  # pragma: no cover
    pass


def _reread_only_changed_archives() -> None:
    """Patch ``zipimporter.invalidate_caches`` (Python < 3.12) to skip
    the re-read of an archive whose size and mtime are unchanged."""
    import zipimport

    stock = zipimport.zipimporter.invalidate_caches
    last_read: dict = {}  # archive -> (signature, directory) of its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        seen = last_read.get(self.archive)
        if sig is not None and seen is not None and seen[0] == sig:
            self._files = seen[1]
            return
        # the stat precedes the read: a write racing the read leaves a
        # signature that the next call sees as changed
        stock(self)
        if sig is not None and self.archive in zipimport._zip_directory_cache:
            last_read[self.archive] = (sig, self._files)
        else:
            last_read.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        import importlib

        _reread_only_changed_archives()
        importlib.invalidate_caches()  # one read per archive, pre-fork
    pyspark.daemon.manager()
