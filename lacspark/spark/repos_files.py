"""Deterministic synthetic repos_files corpus (BASELINE input_hint
shape) — ``(repo, path, commit, lang, content)``.

Content is a pure function of the row id (seeded per-row generator),
so the table is identical under any partitioning / parallelism — the
property that lets the N-vs-4N scaling benchmark run on byte-identical
input.  Shapes follow FIXTURES.md §1: Zipf-skewed repos (one repo
holds a large share of rows, exercising K9 salting), lang-consistent
extensions, content mixing ASCII identifier lines, CJK sentences with
vocab/OOV/full-width chars, and empty files.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .session import python_pass

SCHEMA = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("commit", T.StringType(), False),
    T.StructField("lang", T.StringType(), False),
    T.StructField("content", T.StringType(), False),
])

_LANGS = ["python", "java", "cpp", "markdown", "zh-text"]
_EXT = {"python": "py", "java": "java", "cpp": "cc",
        "markdown": "md", "zh-text": "txt"}
_IDENTS = ["spark", "data", "query", "table", "join", "filter", "group",
           "window", "stream", "order", "merge", "scan", "sort", "row",
           "key", "batch", "hash", "vector", "column", "agg", "value"]
_CJK = ("百度 高科技 公司 中国 北京 大学生 数据 分析 程序员 工作 时间 "
        "春天 花开 秋风 落阳 新年 贺词 世纪 创造 美好 语言 模型").split()
_FULLWIDTH = "ＡＢＣ１２３"


def _gen_row(i: int, seed: int, n_repos: int) -> tuple:
    rng = np.random.default_rng(np.uint64(seed) * np.uint64(1_000_003)
                                + np.uint64(i))
    # Zipf-ish skew: cubing pushes ~50% of mass into repo 0
    u = rng.random()
    repo_id = int(n_repos * u ** 3)
    repo = f"org{repo_id % 7}/repo{repo_id}"
    lang = _LANGS[int(rng.integers(0, len(_LANGS)))] \
        if repo_id else _LANGS[int(rng.integers(0, 2))]
    path = f"src/m{i % 97}/f{i}.{_EXT[lang]}"
    commit = "".join(f"{b:02x}" for b in rng.integers(0, 256, 20))
    if rng.random() < 0.03:
        return repo, path, commit, lang, ""
    n_lines = int(rng.integers(1, 40))
    lines = []
    for _ in range(n_lines):
        kind = rng.random()
        if lang == "zh-text" or kind < 0.2:
            words = rng.choice(_CJK, size=int(rng.integers(2, 8)))
            line = "".join(words)
            if rng.random() < 0.2:
                line += _FULLWIDTH[int(rng.integers(0, len(_FULLWIDTH)))]
        elif kind < 0.9:
            toks = rng.choice(_IDENTS, size=int(rng.integers(2, 10)))
            sep = "_" if rng.random() < 0.3 else " "
            line = sep.join(toks) + ("()" if rng.random() < 0.3 else "")
        else:
            line = ""
        lines.append(line)
    return repo, path, commit, lang, "\n".join(lines)


def synth_repos_files(spark: SparkSession, n_files: int = 2000,
                      seed: int = 42, n_repos: int = 20,
                      partitions: int | None = None) -> DataFrame:
    base = spark.range(0, n_files,
                       numPartitions=partitions or spark.sparkContext.defaultParallelism)
    return python_pass(base, ["id"], SCHEMA.fields,
                       lambda ids: [_gen_row(i, seed, n_repos) for i in ids],
                       keep=[])
