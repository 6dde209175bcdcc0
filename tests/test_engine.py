"""End-to-end engine semantics: invariants + reference-shape behavior."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from lacspark import RESOURCE_DIR
from lacspark.engine import LacEngine

ALPHA = "百度家高科技公司中国大学生数据分析abcdef012 ＡＢ１數據"

_engine = None


def engine() -> LacEngine:
    global _engine
    if _engine is None:
        _engine = LacEngine()
    return _engine


@settings(max_examples=150, deadline=None)
@given(st.lists(st.text(ALPHA, min_size=0, max_size=60), min_size=0, max_size=8),
       st.sampled_from(["seg", "lac", "rank"]))
def test_sha_invariant_and_alignment(texts, mode):
    """''.join(words) == text for every row (the per-row sha256
    invariant, models.py:163-173), plus array alignment."""
    for text, res in zip(texts, engine().run_batch(texts, mode)):
        assert "".join(res.words) == text
        assert len(res.words) == len(res.tags)
        assert len(res.char_tags) == len(text)
        if mode == "rank":
            assert len(res.ranks) == len(res.words)
            assert all(0 <= r <= 3 for r in res.ranks)


@settings(max_examples=120, deadline=None)
@given(st.text(max_size=120), st.sampled_from(["seg", "lac", "rank"]))
def test_invariant_full_unicode(text, mode):
    """The join invariant must survive ARBITRARY unicode — control
    chars, combining marks, astral-plane codepoints — not just the
    curated alphabet above."""
    res = engine().run_batch([text], mode)[0]
    assert "".join(res.words) == text
    assert len(res.words) == len(res.tags)


def test_empty_rows_kept_in_place():
    texts = ["", "spark data", "", "百度", ""]
    out = engine().run_batch(texts, "rank")
    assert [r.words for r in out if not r.words] == [[], [], []]
    assert out[0].words == [] and out[2].words == [] and out[4].words == []
    assert "".join(out[1].words) == "spark data"


def test_batch_order_independence():
    texts = ["spark join filter", "百度高科技", "the fast key", "a b c 123"]
    base = engine().run_batch(texts, "rank")
    rev = engine().run_batch(texts[::-1], "rank")
    for a, b in zip(base, rev[::-1]):
        assert a.words == b.words and a.tags == b.tags and a.ranks == b.ranks


def test_custom_dict_rewrites_tags():
    e = LacEngine()
    e.load_customization(str(RESOURCE_DIR / "custom.dic"))
    text = "春天的花开"
    plain = engine().run_batch([text], "lac")[0]
    inter = e.run_batch([text], "lac")[0]
    assert inter.char_tags[0] == "SEASON-B"
    assert inter.char_tags[1] == "SEASON-I"
    # intervention must preserve the reconstruction invariant
    assert "".join(inter.words) == text
    assert plain.char_tags != inter.char_tags


def test_add_word_runtime():
    e = LacEngine()
    e.add_word("数据分析/TECH")
    res = e.run_batch(["做数据分析的"], "lac")[0]
    assert "数据分析" in res.words
    idx = res.words.index("数据分析")
    assert res.tags[idx] == "TECH"


def test_extract_mentions_triples_shape():
    e = engine()
    res = e.run_batch(["the fast key order sort table scan merge part"],
                      "rank")[0]
    mentions, triples = e.extract(res)
    for word, tag, rank, widx, cbegin in mentions:
        assert res.words[widx] == word
        assert res.tags[widx] == tag
        assert 0 <= rank <= 3
    for subj, pred, obj, conf, sal in triples:
        assert conf in (0.25, 0.5, 0.75, 1.0)
        assert 0 <= sal <= 6  # subj rank + obj rank, each 0-3


def test_seg_mode_tags_are_empty_strings():
    res = engine().run_batch(["百度高科技公司"], "seg")[0]
    assert all(t == "" for t in res.tags)
    assert "".join(res.words) == "百度高科技公司"


def test_engine_replay_times_every_layer():
    """The benchmark's one-core engine replay wraps engine methods by
    name; a renamed or bypassed method would leave its layer at 0."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))), "perfbench"))
    from tracing import engine_replay

    out = engine_replay([["百度是一家高科技公司", "北京大学生前来应聘"]])
    layers = ["segmenter.cut.s", "encoding.encode.s", "net.decode.s",
              "net.rank.s", "engine.run_batch.self_s", "engine.extract.s"]
    assert {k: out[k] for k in layers if out[k] <= 0} == {}
