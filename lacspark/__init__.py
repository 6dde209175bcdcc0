"""lacspark — PySpark-native lexical-analysis + KG-construction engine.

A brand-new engine with the query/data-processing capabilities of
baidu/lac (joint segmentation, POS tagging, NER, word-importance rank,
customization-dict intervention), re-expressed Spark-first: the
GRU-CRF tagger runs as an Arrow-batched Python pass over DataFrames and
is extended into a knowledge-graph construction pipeline (mentions,
triples, minhash/LSH canonicalization, connected components, graph
materialize) over a `(repo, path, commit, lang, content)` corpus.

See SURVEY.md for the structural derivation from the reference.
"""

__version__ = "0.1.0"

import os as _os

# One math thread per process: Spark parallelizes by partition, and a
# BLAS pool per python worker oversubscribes the box 32× (≙ the
# reference's SetCpuMathLibraryNumThreads(1), c++/src/lac.cpp:46).
# Must run before numpy loads — lacspark is imported before numpy in
# every Spark python worker that uses our UDFs.
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    _os.environ.setdefault(_v, "1")

from pathlib import Path

RESOURCE_DIR = Path(__file__).resolve().parent / "resources"


def resource_dir() -> Path:
    """Path to the dictionary/model resources.

    When the package is shipped as ``spark-submit --py-files
    lacspark.zip``, ``__file__`` lives inside the zip; extract the
    resources once per process to a temp dir (≙ the reference's
    per-process model load) and return that."""
    if RESOURCE_DIR.is_dir():
        return RESOURCE_DIR
    global _EXTRACTED
    try:
        return _EXTRACTED
    except NameError:
        pass
    import atexit
    import importlib.resources as ir
    import shutil
    import tempfile

    tmp = Path(tempfile.mkdtemp(prefix="lacspark_res_"))
    atexit.register(shutil.rmtree, tmp, True)
    root = ir.files(__name__) / "resources"
    for entry in root.iterdir():
        (tmp / entry.name).write_bytes(entry.read_bytes())
    _EXTRACTED = tmp
    return tmp
