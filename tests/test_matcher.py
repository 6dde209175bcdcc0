"""Matcher parity: AhoCorasick ≡ a brute-force scan ≡ reference
TriedTree."""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lacspark.matcher import AhoCorasick

from .conftest import load_reference_module

ALPHA = "百度家高科技公司abc"


def build(words):
    ac = AhoCorasick()
    for w in words:
        ac.add(w)
    return ac


def brute_force(words, text):
    """(search, search_all) by trying every substring: all matches,
    then the greedy ones kept iff their end extends the last kept."""
    every = [(b, e) for b in range(len(text))
             for e in range(b + 1, len(text) + 1) if text[b:e] in words]
    kept: list[tuple[int, int]] = []
    for b, e in every:
        if not kept or e > kept[-1][1]:
            kept.append((b, e))
    return kept, every


def test_readme_example_spans():
    # /root/reference/python/LAC/prefix_tree.py:83-91 __main__ case
    words = ["百度", "家", "家家", "高科技", "技公", "科技", "科技公司"]
    text = "百度是家高科技公司"
    ac = build(words)
    # greedy keep-iff-extends: 科技公司 (ends at 9) wins over 技公
    assert [text[b:e] for b, e in ac.search(text)] == [
        "百度", "家", "高科技", "科技公司"]
    assert ac.search(text) == brute_force(set(words), text)[0]


@settings(max_examples=300, deadline=None)
@given(st.lists(st.text(ALPHA, min_size=1, max_size=4), min_size=1, max_size=8),
       st.text(ALPHA, min_size=0, max_size=30))
def test_matchers_agree(words, text):
    ac = build(words)
    search, search_all = brute_force(set(words), text)
    assert ac.search(text) == search
    assert ac.search_all(text) == search_all


def test_add_after_search_rebuilds():
    """Words added after a search are matched by the next search: the
    automaton rebuilds its fail links, with no call from the caller."""
    ac = build(["科技"])
    assert ac.search("高科技公司") == [(1, 3)]
    ac.add("技公司")
    assert ac.search("高科技公司") == [(1, 3), (2, 5)]


@pytest.mark.parametrize("seed", range(5))
def test_parity_vs_reference_triedtree(seed):
    ref = load_reference_module("prefix_tree")
    rng = random.Random(seed)
    words = ["".join(rng.choices(ALPHA, k=rng.randint(1, 4)))
             for _ in range(rng.randint(1, 15))]
    tree = ref.TriedTree()
    mine = build(words)
    for w in words:
        tree.add_word(w)
    for _ in range(200):
        text = "".join(rng.choices(ALPHA, k=rng.randint(0, 40)))
        assert mine.search(text) == [tuple(x) for x in tree.search(text)]
        assert mine.search_all(text) == [tuple(x) for x in tree.search_all(text)]
