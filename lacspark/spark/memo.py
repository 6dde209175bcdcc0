"""Driver-side memo: every value lacspark reuses across query calls.

The tagger keeps its state in one engine per Python worker; the driver
keeps its state here and nowhere else.  Users: ``queries.load``'s
DataFrames, the streaming gates' child session, the k-means / PQ
codebooks, the PQ code table and corpus vectors, the minhash
shingle table and verified pair set, and the subword-count table of
``pack_sequences_bpe``.

* **Key.**  ``(session, key)``.  Callers build ``key`` from a name,
  their parameters and the identity of their input:
  :func:`file_identity` for a path, :func:`input_fingerprint` for a
  DataFrame.  File identity is the recursive ``(path, size,
  mtime_ns)`` stats, so rewriting any file at any depth (a part file
  inside ``lang=en/`` included) changes the key and misses.
* **Session rule.**  An entry hits only for the same session object,
  and only while its SparkContext runs: a DataFrame cannot move to
  another session, and a stopped one cannot compute.
* **Bound.**  One LRU of :data:`MAX_ENTRIES` = 64 entries.  One
  session runs a few dozen distinct (table, input) reads and
  codebooks; 64 holds them all with room, while a long-lived driver
  that walks many corpora still holds at most 64 values.
* **Unpersist.**  ``memo(..., persist=True)`` persists the value when
  it enters the LRU, and the memo alone unpersists it: when it is
  evicted, replaced, or cleared.  Callers never unpersist a memo
  value.  A ``None`` key (an input with no file identity) is never
  reused: its persisted value is stored under a fresh key that
  matches nothing, so a later eviction still releases it.
"""

from __future__ import annotations

import hashlib
import os
import threading
from collections import OrderedDict
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

MAX_ENTRIES = 64

_LOCK = threading.Lock()
_LRU: OrderedDict = OrderedDict()   # (session, key) -> (value, persisted)
_MISS = object()


def _stat(path: str) -> tuple:
    try:
        st = os.stat(path)
    except OSError:  # missing, or deleted while we walk
        return (path, -1, -1)
    return (path, st.st_size, st.st_mtime_ns)


def file_identity(*paths: str) -> tuple:
    """Sorted ``(path, size, mtime_ns)`` of each path and of every
    directory and file below it; ``(path, -1, -1)`` for a missing
    path."""
    out = []
    for path in paths:
        out.append(_stat(path))
        for root, dirs, files in os.walk(path):
            out.extend(_stat(os.path.join(root, n)) for n in dirs + files)
    return tuple(sorted(out))


def input_fingerprint(df: DataFrame) -> tuple | None:
    """Key for a DataFrame input: the identity of its files AND the
    shape of its plan, or None for an input with no files.

    File identity alone cannot tell ``docs.filter(...)`` from the raw
    scan of the same files.  The canonicalized logical plan can:
    exprIds are normalized, so two fresh scans of one path give the
    same string, while any extra Filter/Project changes it.  The plan
    alone is no key either, since canonicalization strips file paths
    and same-schema corpora would collide.  ``toJSON()``, not
    ``toString()``: the pretty form truncates wide schemas at
    ``spark.sql.debug.maxToStringFields``."""
    files = df.inputFiles()
    if not files:
        return None
    ident = file_identity(*(p.removeprefix("file:") for p in files))
    plan = df._jdf.queryExecution().analyzed().canonicalized().toJSON()
    return (ident, hashlib.sha256(plan.encode()).hexdigest())


def _alive(spark: SparkSession) -> bool:
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:  # a stopped context can throw on access
        return False


def _release(value, persisted: bool) -> None:
    if persisted:
        try:
            value.unpersist()
        except Exception:
            pass  # its session is already stopped


def memo(spark: SparkSession, key, build: Callable[[], object],
         persist: bool = False):
    """The value stored under ``(spark, key)``, else ``build()``
    stored there (persisted first when ``persist``).  ``build`` runs
    outside the lock; when two threads build one key, the first
    stored value wins and is returned to both."""
    if key is not None:
        with _LOCK:
            got = _LRU.get((spark, key), _MISS)
            if got is not _MISS and _alive(spark):
                _LRU.move_to_end((spark, key))
                return got[0]
    elif not persist:
        return build()
    value = build()
    lru_key = (spark, key if key is not None else object())
    with _LOCK:
        got = _LRU.pop(lru_key, _MISS)
        if got is not _MISS:
            if _alive(spark):
                _LRU[lru_key] = got
                return got[0]
            _release(*got)
        if persist:
            value = value.persist()
        _LRU[lru_key] = (value, persist)
        while len(_LRU) > MAX_ENTRIES:
            _release(*_LRU.popitem(last=False)[1])
    return value


def clear() -> None:
    """Drop every entry, unpersisting the persisted ones."""
    with _LOCK:
        while _LRU:
            _release(*_LRU.popitem()[1])
