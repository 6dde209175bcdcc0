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

Only stdlib/third-party modules whose import has no side effects
beyond module init are preloaded; lacspark.engine constructs nothing
at import time (engines are built lazily per worker key).
"""

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


if __name__ == "__main__":
    pyspark.daemon.manager()
