"""Results do not depend on the core count.

The test session runs at ``local[8]`` with 8 shuffle partitions.  One
subprocess reruns the program at ``local[1]`` with 1 shuffle
partition, the widest contrast: at width 1 ``ensure_parallelism``
never repartitions and ``run_pipeline`` tags by bucket at every
``n_buckets``; at width 8 the first repartitions and the second tags
round-robin at 1 and 4 buckets.  So both sides of each choice that
reads the core count run.

- Every registered query at width 1 must match its DuckDB oracle on
  lower-cased columns, row count and ``value_hash``, as
  ``test_query_matches_oracle`` checks at width 8: equal to the
  oracle at both widths means equal to each other.  A query without
  an oracle is compared with its reading in the test session.
- ``run_pipeline`` over 200 synthetic files at 1 and 4 buckets must
  write the same ``files``, ``mentions``, ``triples``,
  ``kg_vertices`` and ``kg_edges`` rows at both widths.

Floats compare at ``value_hash``'s 6 significant digits, the oracles'
own tolerance.  A float sum may legitimately differ in its last bits
when the partitioning changes, so the check cannot be bit-exact; the
price is that a width-dependent difference below 6 significant
digits goes unseen.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from lacspark.queries import ORACLE_SQL, SPARK_QUERIES

from .test_driver_contract import SF_DIR, duck, value_hash  # noqa: F401

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PIPELINE_TABLES = ["files", "mentions", "triples", "kg_vertices", "kg_edges"]
BUCKETS = [1, 4]

# the program at width 1: every query's reading, then the pipeline's
_ONE_CORE = """
import json, sys
sys.path.insert(0, {repo!r})
from lacspark.queries import SPARK_QUERIES
from lacspark.spark.session import get_spark
from tests.test_core_count import BUCKETS, pipeline_reading, query_reading

spark = get_spark(cores=1, extra_conf={{"spark.sql.shuffle.partitions": "1"}})
queries = {{}}
for name in sorted(SPARK_QUERIES):
    try:
        queries[name] = query_reading(spark, name)
    except Exception as e:
        queries[name] = {{"error": repr(e)[:2000]}}
pipeline = {{n: pipeline_reading(spark, f"{{sys.argv[1]}}/kg{{n}}", n)
             for n in BUCKETS}}
print(json.dumps({{"width": spark.sparkContext.defaultParallelism,
                  "queries": queries, "pipeline": pipeline}}))
spark.stop()
"""


def reading(df) -> list:
    """``df``'s lower-cased columns, row count and value hash."""
    rows = [tuple(r) for r in df.collect()]
    cols = [c.lower() for c in df.columns]
    return [cols, len(rows), value_hash(rows, cols)]


def query_reading(spark, name: str) -> list:
    return reading(SPARK_QUERIES[name](spark, SF_DIR))


def pipeline_reading(spark, out_dir: str, n_buckets: int) -> dict:
    """``run_pipeline`` over 200 synthetic files into ``out_dir``:
    each written table's reading."""
    from lacspark.spark.pipeline import run_pipeline
    from lacspark.spark.repos_files import synth_repos_files

    run_pipeline(spark, synth_repos_files(spark, n_files=200), out_dir,
                 n_buckets=n_buckets, resume=False)
    return {t: reading(spark.read.parquet(os.path.join(out_dir, t)))
            for t in PIPELINE_TABLES}


@pytest.fixture(scope="module")
def one_core(tmp_path_factory):
    """The width-1 subprocess, started at once so that it runs while
    the test session does its own work; called, its reading."""
    out_dir = tmp_path_factory.mktemp("one_core")
    proc = subprocess.Popen(
        [sys.executable, "-c", _ONE_CORE.format(repo=REPO), str(out_dir)],
        cwd=REPO, env=dict(os.environ, LACSPARK_DRIVER_MEM="2g"),
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    got = {}

    def read() -> dict:
        if not got:
            stdout, stderr = proc.communicate(timeout=1500)
            assert proc.returncode == 0, stderr[-3000:]
            got.update(json.loads(stdout.strip().splitlines()[-1]))
            assert got["width"] == 1
        return got

    yield read
    if proc.poll() is None:
        proc.kill()
        proc.communicate()


@pytest.mark.parametrize("n_buckets", BUCKETS)
def test_pipeline_is_the_same_at_one_core(spark, one_core, tmp_path,
                                          n_buckets):
    assert spark.sparkContext.defaultParallelism > max(BUCKETS)
    mine = pipeline_reading(spark, str(tmp_path / "kg"), n_buckets)
    theirs = one_core()["pipeline"][str(n_buckets)]
    assert theirs == mine


@pytest.mark.parametrize("name", sorted(SPARK_QUERIES))
def test_query_is_the_same_at_one_core(spark, duck, one_core, name):
    got = one_core()["queries"][name]
    if isinstance(got, dict):
        pytest.fail(f"{name} at width 1: {got['error']}")
    s_cols, s_n, s_hash = got
    if name not in ORACLE_SQL:
        assert got == query_reading(spark, name), name
        return
    cur = duck.execute(ORACLE_SQL[name])
    d_cols = [c[0].lower() for c in cur.description]
    d_rows = cur.fetchall()
    assert sorted(s_cols) == sorted(d_cols), \
        f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert s_n == len(d_rows), f"{name}: row count {s_n} vs {len(d_rows)}"
    assert s_hash == value_hash(d_rows, d_cols), \
        f"{name}: value hash differs from the oracle at width 1"
