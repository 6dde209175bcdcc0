"""The driver-side memo (lacspark.spark.memo) and ``queries.load``."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from lacspark.queries import load
from lacspark.spark import memo


def test_load_misses_after_nested_partition_rewrite(spark, tmp_path):
    """A part file rewritten in place two levels down — same name,
    new rows — changes no directory entry, so only a recursive file
    identity makes ``load()`` miss.  A hit would serve the old
    DataFrame, whose FileIndex plans splits on the old file length
    and so drops every row group past it."""
    part = tmp_path / "docs.parquet" / "lang=en" / "part-0.parquet"
    part.parent.mkdir(parents=True)
    pq.write_table(pa.table({"doc_id": [1, 2]}), part)
    assert sorted(r.doc_id for r in
                  load(spark, str(tmp_path), "docs").collect()) == [1, 2]
    new = list(range(100, 1100))
    pq.write_table(pa.table({"doc_id": new}), part, row_group_size=10)
    assert sorted(r.doc_id for r in
                  load(spark, str(tmp_path), "docs").collect()) == new


def test_lru_eviction_unpersists(spark):
    """Filling the LRU past its bound evicts the oldest entry and
    unpersists it; a live entry is a hit; a None key is never
    reused."""
    memo.clear()
    try:
        first = memo.memo(spark, ("lru", 0), lambda: spark.range(1),
                          persist=True)
        assert first.is_cached
        assert memo.memo(spark, ("lru", 0), lambda: None) is first
        for i in range(1, memo.MAX_ENTRIES + 1):
            memo.memo(spark, ("lru", i), lambda i=i: spark.range(i + 1),
                      persist=True)
        assert not first.is_cached
        a = memo.memo(spark, None, lambda: spark.range(1), persist=True)
        b = memo.memo(spark, None, lambda: spark.range(1), persist=True)
        assert a is not b and a.is_cached and b.is_cached
    finally:
        memo.clear()


def test_concurrent_builders_share_one_value(spark):
    """Threads racing to build the same keys all get the one value
    stored first: a lost update would hand two threads different
    DataFrames for one key."""
    import sys
    import threading

    memo.clear()
    got = [[] for _ in range(8)]

    def work(out):
        for i in range(64):
            k = i % 16
            out.append((k, memo.memo(spark, ("race", k),
                                     lambda k=k: spark.range(k + 1),
                                     persist=True)))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(out,))
                   for out in got]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        by_key = {}
        for k, df in (p for out in got for p in out):
            by_key.setdefault(k, set()).add(id(df))
        assert len(by_key) == 16
        assert all(len(ids) == 1 for ids in by_key.values())
    finally:
        sys.setswitchinterval(interval)
        memo.clear()
