from __future__ import annotations

import importlib
import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Point the golden-parquet oracles at the SF the tests run against
# (documents texts differ per scale factor).  Must happen before
# lacspark.queries is imported anywhere.
_sf = os.environ.get("LACSPARK_TEST_SF", "/root/testdata/sf0.001")
os.environ.setdefault(
    "LACSPARK_GOLDEN_TAG",
    "sf" + os.path.basename(_sf.rstrip("/")).removeprefix("sf").replace(".", "_"))

REF_DIR = "/root/reference/python/LAC"


def load_reference_module(name: str):
    """Import a dependency-free module from the read-only reference
    (prefix_tree / segment / custom / reader) without executing the
    package __init__ (which needs paddle).  Used only for parity
    tests; skipped when the reference isn't present."""
    if not os.path.isdir(REF_DIR):
        pytest.skip("reference repo not available")
    pkg_name = "refLAC"
    if pkg_name not in sys.modules:
        pkg = types.ModuleType(pkg_name)
        pkg.__path__ = [REF_DIR]
        sys.modules[pkg_name] = pkg
    if REF_DIR not in sys.path:
        sys.path.insert(0, REF_DIR)  # for custom.py's absolute-import fallback
    return importlib.import_module(f"{pkg_name}.{name}")


@pytest.fixture(scope="session")
def sf_dir() -> str:
    """The scale-factor directory the tests run against."""
    return _sf


@pytest.fixture(scope="session")
def spark():
    from lacspark.spark.session import get_spark

    s = get_spark(app_name="lacspark-tests", cores=8, extra_conf={
        "spark.sql.shuffle.partitions": "8"})
    yield s
    s.stop()
