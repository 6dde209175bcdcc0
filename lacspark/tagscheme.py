"""LAC's 24-tag IOB2 scheme and the IOB2 transition constraints.

Tag inventory per /root/reference/README.md:74-83 (20 POS + 4 entity
classes, each as -B/-I, plus O = 49 labels).  The reference ships the
inventory as ``tag.dic`` with a last-wins alias override — low-
confidence ``nr/ns/nt/t`` ids re-mapped to ``PER/LOC/ORG/TIME``
(Android/.../lac_model/tag.dic:1-57, loader semantics
/root/reference/python/LAC/reader.py:29-51 and
c++/src/lac_util.cpp:103-128).  We replicate both the inventory and
the override mechanism.
"""

from __future__ import annotations

import numpy as np

# 20 POS tags + 4 entity tags, fixed order (README.md:74-83).
POS_TAGS = [
    "n", "f", "s", "nw", "nz", "v", "vd", "vn", "a", "ad",
    "an", "d", "m", "q", "r", "p", "c", "u", "xc", "w",
]
ENTITY_TAGS = ["PER", "LOC", "ORG", "TIME"]
ALL_TAGS = POS_TAGS + ENTITY_TAGS

# Low-confidence aliases overridden by the last-wins tag.dic load
# (report.pdf §2: nr/ns/nt/t are weak PER/LOC/ORG/TIME).
ALIAS = {"nr": "PER", "ns": "LOC", "nt": "ORG", "t": "TIME"}

# LAC label inventory: t-B, t-I for each tag, then O.  49 labels.
LAC_LABELS = [f"{t}-{bi}" for t in ALL_TAGS for bi in ("B", "I")] + ["O"]

# Seg-only label inventory (reader.py:192-203): -B -I -E -S.
SEG_LABELS = ["-B", "-I", "-E", "-S"]

# Tags that mark an entity mention for KG extraction (the 4 entity
# classes plus proper-noun-ish nz/nw, mirroring LAC's NER surface).
MENTION_TAGS = frozenset(["PER", "LOC", "ORG", "TIME", "nz", "nw"])

# Tags that can act as a relation predicate in the dependency-window
# triple patterns (verbs and prepositions).
PREDICATE_TAGS = frozenset(["v", "vd", "vn", "p"])

NEG = -1e9  # additive mask for forbidden transitions


def _split(label: str) -> tuple[str, str]:
    """Return (base, kind) where kind in B/I/E/S/O."""
    if label == "O":
        return "", "O"
    return label[:-2], label[-1]


def transition_mask(labels: list[str]) -> np.ndarray:
    """[L, L] additive mask: mask[prev, cur] = NEG if forbidden.

    IOB2 legality (report.pdf §3.2; enforced in the reference by CRF
    training + crf_decoding, nets.py:140-148): ``X-I`` may only follow
    ``X-B`` or ``X-I``.  For the seg scheme, ``-I``/``-E`` may only
    follow ``-B``/``-I``.
    """
    n = len(labels)
    mask = np.zeros((n, n), dtype=np.float32)
    for j, cur in enumerate(labels):
        cbase, ckind = _split(cur)
        if ckind not in ("I", "E"):
            continue
        for i, prev in enumerate(labels):
            pbase, pkind = _split(prev)
            if not (pbase == cbase and pkind in ("B", "I")):
                mask[i, j] = NEG
    return mask


def start_mask(labels: list[str]) -> np.ndarray:
    """[L] additive mask: no sequence may begin with an I/E label."""
    out = np.zeros(len(labels), dtype=np.float32)
    for j, lb in enumerate(labels):
        if _split(lb)[1] in ("I", "E"):
            out[j] = NEG
    return out


def tag_dic_lines(labels: list[str]) -> list[str]:
    """Render the label inventory in the reference's ``tag.dic``
    format (``id \\t label``) including the alias-override lines:
    the nr/ns/nt/t ids are written first, then re-written as
    PER/LOC/ORG/TIME so a last-wins loader decodes the uppercase
    entity tags — replicating Android/.../tag.dic:49-56.
    """
    rev_alias = {v: k for k, v in ALIAS.items()}
    lines = []
    overrides = []
    for i, lb in enumerate(labels):
        base, kind = _split(lb)
        if base in rev_alias and kind in ("B", "I"):
            lines.append(f"{i}\t{rev_alias[base]}-{kind}")
            overrides.append(f"{i}\t{lb}")
        else:
            lines.append(f"{i}\t{lb}")
    return lines + overrides
