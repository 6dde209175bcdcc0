"""Customization intervention parity vs the reference's semantics."""

from __future__ import annotations

import random

from lacspark.customization import Customization

from .conftest import load_reference_module

ALPHA = "春天的花开秋风落阳百度高科技公司abc"

ENTRIES = [
    "春天/SEASON",
    "花/n 开/v",
    "秋天的风",
    "落 阳",
    "百度/ORG",
    "高科技公司",
]


def _mine(entries):
    c = Customization()
    for e in entries:
        c.add_entry(e)
    return c


def _reference(entries):
    mod = load_reference_module("custom")
    c = mod.Customization()
    for e in entries:
        c.add_word(e)
    return c


def test_readme_case():
    # README.md:150-158: "春天的花开秋天的风和冬天的落阳"
    c = _mine(ENTRIES)
    query = "春天的花开秋天的风和冬天的落阳"
    tags = ["n-B", "n-I"] * 7 + ["n-B"]
    c.apply(query, tags)
    # span starts become -B, interiors -I, dict tags replace model tags
    assert tags[0] == "SEASON-B" and tags[1] == "SEASON-I"
    assert tags[5] == "n-B"  # 秋天的风 begins
    assert tags[13] == "n-B"  # 落|阳 split point: 落 begins
    assert tags[14] == "n-B"  # 阳 begins (sub-word boundary)


def test_single_untagged_char_skipped():
    c = Customization()
    c.add_entry("花")  # len<2, untagged → ignored (custom.py:70-71)
    assert not c.items


def test_parity_vs_reference():
    ref = _reference(ENTRIES)
    mine = _mine(ENTRIES)
    rng = random.Random(13)
    for _ in range(300):
        query = "".join(rng.choices(ALPHA, k=rng.randint(0, 30)))
        tags_a = [rng.choice(["n-B", "n-I", "v-B", "O"])
                  for _ in range(len(query))]
        tags_b = list(tags_a)
        ref.parse_customization(query, tags_a)
        mine.apply(query, tags_b)
        assert tags_a == tags_b, repr(query)


def test_parity_random_dicts_vs_reference():
    rng = random.Random(99)
    for trial in range(20):
        entries = []
        for _ in range(rng.randint(1, 6)):
            n = rng.randint(1, 3)
            parts = []
            for _ in range(n):
                w = "".join(rng.choices(ALPHA, k=rng.randint(1, 3)))
                if rng.random() < 0.5:
                    w += "/" + rng.choice(["n", "v", "ORG"])
                parts.append(w)
            entries.append(" ".join(parts))
        ref = _reference(entries)
        mine = _mine(entries)
        assert set(mine.items) == set(ref.dictitem)
        for _ in range(50):
            query = "".join(rng.choices(ALPHA, k=rng.randint(0, 25)))
            tags_a = ["n-B"] * len(query)
            tags_b = list(tags_a)
            ref.parse_customization(query, tags_a)
            mine.apply(query, tags_b)
            assert tags_a == tags_b, (entries, query)
