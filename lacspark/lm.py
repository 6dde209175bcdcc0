"""Tiny deterministic n-gram language model for perplexity-based
quality filtering (the CCNet/KenLM-style filter a pretraining
pipeline runs next to heuristic and repetition gates — Wenzek et al.
2020 bucket corpora by LM perplexity).

The model is a committed fixture (``resources/lm_bigram.tsv``):
unigram and bigram counts over the sf0.001 corpus, regenerated by
``python -m lacspark.lm`` (same snapshot policy as the subword
vocab).  Scoring is Laplace-smoothed bigram negative log2
likelihood:

    nll(t1, t2) = -log2( (c(t1, t2) + 1) / (c(t1) + V) )

with c(t1) = 0 for unseen contexts.  Per-document score = mean nll
over adjacent token pairs.  To keep the mean bit-identical across
engines and partitionings, each pair's nll is quantized to the 1e-6
grid (round(nll * 1e6) as int) and summed exactly — the same
scaled-integer trick the IVF centroids use; float summation order
never enters.
"""

from __future__ import annotations

import math
import os
from collections import Counter
from collections.abc import Iterable

from . import resource_dir
from .canonical_py import tokens


def lm_path() -> str:
    """The committed LM fixture, wherever the package was loaded
    from (a ``--py-files`` zip included)."""
    return os.path.join(str(resource_dir()), "lm_bigram.tsv")


def train_counts(texts: Iterable[str]) -> tuple[Counter, Counter]:
    """(unigram, bigram) counts over whitespace tokens."""
    uni: Counter[str] = Counter()
    bi: Counter[tuple[str, str]] = Counter()
    for t in texts:
        toks = tokens(t)
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
    return uni, bi


class BigramLM:
    def __init__(self, uni: dict, bi: dict):
        self.uni = dict(uni)
        self.bi = dict(bi)
        self.v = len(self.uni)

    def nll_q6(self, t1: str, t2: str) -> int:
        """Quantized (x1e6) -log2 P(t2|t1), Laplace smoothed."""
        p = (self.bi.get((t1, t2), 0) + 1) / (self.uni.get(t1, 0) + self.v)
        return round(-math.log2(p) * 1_000_000)

    def score(self, text: str) -> tuple[int, float]:
        """(n_bigrams, mean nll rounded to 6 decimals) — exact
        integer accumulation AND integer half-up rounding, so the
        result is identical in python, Spark, and DuckDB even when
        the mean lands exactly on a decimal midpoint (float round()
        would round the binary double there, engines disagree)."""
        toks = tokens(text)
        pairs = list(zip(toks, toks[1:]))
        if not pairs:
            return 0, 0.0
        s = sum(self.nll_q6(a, b) for a, b in pairs)
        n = len(pairs)
        return n, ((2 * s + n) // (2 * n)) / 1_000_000.0


_DEFAULT: BigramLM | None = None


def default_lm() -> BigramLM:
    global _DEFAULT
    if _DEFAULT is None:
        uni: dict = {}
        bi: dict = {}
        with open(lm_path(), encoding="utf-8") as fh:
            next(fh)  # header
            for line in fh:
                t1, t2, c, _nllq = line.rstrip("\n").split("\t")
                if t2 == "":
                    uni[t1] = int(c)
                else:
                    bi[(t1, t2)] = int(c)
        _DEFAULT = BigramLM(uni, bi)
    return _DEFAULT


def main() -> None:
    import duckdb

    texts = [r[0] for r in duckdb.connect().execute(
        "select text from '/root/testdata/sf0.001/documents.parquet' "
        "order by doc_id").fetchall()]
    uni, bi = train_counts(texts)
    # tokens carrying the TSV's own delimiters would corrupt the
    # fixture (rows split across lines / extra fields); drop them —
    # at scoring time they simply fall back to the unseen-context
    # path, consistently in every engine
    bad = {t for t in uni if "\t" in t or "\n" in t or "\r" in t}
    if bad:
        uni = {t: c for t, c in uni.items() if t not in bad}
        bi = {p: c for p, c in bi.items()
              if p[0] not in bad and p[1] not in bad}
    lm = BigramLM(uni, bi)
    # nllq is PRECOMPUTED here so no query engine ever evaluates a
    # log: Spark and DuckDB both just look up integers (libm log2
    # could differ in the last ulp across engines and flip the 1e-6
    # quantization on a knife edge).  Unigram rows (t2 = '') carry
    # the unseen-continuation nll for that context.
    v = lm.v
    with open(lm_path(), "w", encoding="utf-8") as fh:
        fh.write("t1\tt2\tc\tnllq\n")
        for t, c in sorted(uni.items()):
            unseen = round(-math.log2(1 / (c + v)) * 1_000_000)
            fh.write(f"{t}\t\t{c}\t{unseen}\n")
        for (a, b), c in sorted(bi.items()):
            fh.write(f"{a}\t{b}\t{c}\t{lm.nll_q6(a, b)}\n")
    print(f"wrote {len(uni)} unigrams + {len(bi)} bigrams to {lm_path()}")


def default_nllq() -> int:
    """nll for a bigram whose CONTEXT token is unseen: -log2(1/V)."""
    return round(math.log2(default_lm().v) * 1_000_000)


if __name__ == "__main__":
    main()
