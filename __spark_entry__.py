"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG query; ``queries()`` exposes one
callable per implemented operator (SURVEY.md §2); ``oracle_sql()``
covers EVERY entry: DuckDB-equivalent ANSI SQL for the
SQL-expressible ones, ``SELECT * FROM read_parquet(<golden>)`` for
the UDF-backed tagger/KG/multimodal ones (goldens are the pure-python
oracle engine's output, materialized per SF by lacspark.gen_golden).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

_SHIPPED: set[int] = set()


def _ensure_shipped(spark: SparkSession) -> None:
    """Make `lacspark` importable inside Spark python workers even
    when the driver process was launched from another cwd: ship the
    package zip via addPyFile once per session."""
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    try:
        sys.path.insert(0, os.path.join(_REPO, "jobs"))
        from make_pyfiles import main as _build_zip

        spark.sparkContext.addPyFile(_build_zip())
    except Exception:
        pass  # already importable (tests run from the repo root)
    _SHIPPED.add(key)


def _wrap(fn):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_shipped(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: tag the documents
    corpus with the GRU-CRF engine, extract entity mentions + triples,
    and return canonicalized KG edges."""
    from lacspark.queries import SPARK_QUERIES

    _ensure_shipped(spark)
    return SPARK_QUERIES["kg_edges"](spark, "/root/testdata/sf0.001")


# The flagship tagger/KG queries lead the dict so a capped or
# timed-out gate still verifies them (round 2's gate recorded only the
# first 50 entries, dropping the then-last-registered kg_edges and
# mention_salience_topk).
_PRIORITY = [
    "kg_edges", "mention_salience_topk", "lac_tag_documents",
    "lac_seg_documents", "kg_mentions", "kg_triples",
    "kg_entity_linking", "kg_vertices",
]

# Queries rewritten or newly added THIS round go right after the
# flagships so the round that changed them is the round that gates
# them (round 3's gate missed the rewritten ann_ivf_* because they
# sat in the dropped tail).  Update each round — enforced
# mechanically by tests/test_fresh_pin.py against the committed
# query_hash_snapshot.json: editing a query without pinning it here
# fails CI.
_FRESH: list[str] = [
    # reads the LM fixture through lm.lm_path() (resource_dir())
    "quality_lm_score",
]

def _folded() -> frozenset:
    """Members folded into the gate suites (relational_suite /
    docmeta_suite, queries.py end) — still first-class SPARK_QUERIES
    entries with their own oracles (pytest's full contract run covers
    them individually); excluded from the DRIVER gate registry only,
    so the registry fits the gate's 50-row window (VERDICT r5
    item 6)."""
    from lacspark import queries as q

    return frozenset(n for n, _ in q._RELATIONAL_FOLD) | \
        frozenset(n for n, _ in q._DOCMETA_FOLD)


def query_fingerprints() -> dict[str, str]:
    """{query: sha256(oracle_sql + query-function source)} — the
    mechanical backing for the _FRESH pin (VERDICT r4 item 2): a
    committed snapshot of these hashes plus a test makes it
    IMPOSSIBLE to edit a query or its oracle without either pinning
    it in _FRESH (so this round's gate covers it) or refreshing the
    snapshot deliberately.  The oracle string is normalized over the
    golden and resource directories, so the hash is the same wherever
    the repo is checked out, and over the per-SF golden tag, so it is
    the same under pytest (sf0_001) and the correctness gate (sf0_01).
    Scope note: helper modules a query delegates to are not hashed —
    a dedup.py edit shows up here only if the query function or
    oracle text moved; pytest's full contract run remains the
    backstop for those."""
    import hashlib
    import inspect

    from lacspark import RESOURCE_DIR
    from lacspark import queries as q

    out = {}
    for name, fn in q.SPARK_QUERIES.items():
        sql = (q.ORACLE_SQL.get(name, "")
               .replace(q.GOLDEN_DIR, "<GOLDEN_DIR>")
               .replace(str(RESOURCE_DIR), "<RESOURCE_DIR>")
               .replace(f"{q.GOLDEN_TAG}/", "<SFTAG>/"))
        src = inspect.getsource(fn)
        out[name] = hashlib.sha256(
            (sql + "\n" + src).encode()).hexdigest()
    return out


SNAPSHOT_PATH = os.path.join(_REPO, "tests", "query_hash_snapshot.json")


def write_snapshot() -> None:
    """Refresh tests/query_hash_snapshot.json — run as part of every
    round's final commit:
    ``python -c 'import __spark_entry__ as e; e.write_snapshot()'``"""
    import json

    with open(SNAPSHOT_PATH, "w") as fh:
        json.dump(query_fingerprints(), fh, indent=1, sort_keys=True)
        fh.write("\n")


def _round_no() -> int:
    """Current round = 1 + max N over CORRECTNESS_r{N}.json artifacts."""
    import glob
    import re

    rounds = [int(m.group(1))
              for f in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))
              if (m := re.search(r"CORRECTNESS_r0*(\d+)\.json$", f))]
    return max(rounds, default=0) + 1


def _ordered(d: dict) -> dict:
    """Flagships, then this round's fresh queries, then the remainder
    rotated deterministically by round number.  The driver gate records
    only a prefix (50 entries in rounds 2-3); the rotation step is at
    least the dropped-band width (registry size - 50), so any query
    outside one round's window is fully inside the next round's —
    every query gets a hard-signal CORRECTNESS row at least every
    other round."""
    folded = _folded()
    front = [k for k in _PRIORITY + _FRESH if k in d and k not in folded]
    tail = [k for k in d if k not in front and k not in folded]
    if tail:
        step = max(11, len(front) + len(tail) - 49)
        off = (step * _round_no()) % len(tail)
        tail = tail[off:] + tail[:off]
    return {k: d[k] for k in front + tail}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from lacspark.queries import SPARK_QUERIES

    return {name: _wrap(fn)
            for name, fn in _ordered(SPARK_QUERIES).items()}


def oracle_sql() -> dict[str, str]:
    from lacspark.queries import ORACLE_SQL

    return _ordered(ORACLE_SQL)
