"""The lexical-analysis engine: seg / lac / rank over batches.

This module IS both the driver-side oracle and the code every Spark
python worker runs per Arrow batch (each worker builds its engine
once, from the package and the closure's custom-dict lines, and
reuses it across tasks — ``spark.tagger._worker_engine``; ≙ the
reference's per-thread predictor clone sharing weights,
c++/src/lac.cpp:64-79).  Pipeline per batch, transcribing the
reference's run path (models.py:71-175, 238-246, 305-374):

  empty-row pop → [lac/rank: DAG segment → mixed-granularity encode |
  seg: char encode] → batched GRU-CRF decode → label strings →
  word-granularity tag re-expansion → customization intervention →
  B/I merge → [rank: rank head → weight expansion → per-word max] →
  empty-row reinsertion.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

from . import resource_dir
from .customization import Customization
from .encoding import Encoder, load_kv
from .net import BiGruCrf
from .segmenter import DagSegmenter
from .tagscheme import (LAC_LABELS, MENTION_TAGS, PREDICATE_TAGS, SEG_LABELS,
                        start_mask, transition_mask)


@dataclass
class Analysis:
    """Per-row result; words joined == input text (the sha invariant,
    models.py:163-173 — merge only concatenates input chars)."""
    words: list[str]
    tags: list[str]
    char_tags: list[str]
    ranks: list[int] = field(default_factory=list)


class LacEngine:
    """seg/lac/rank analysis over ragged batches, numpy-vectorized."""

    def __init__(self, resource_dir_path: str | os.PathLike | None = None,
                 weights_follow: bool = False):
        # Per-file fallback: a user-supplied dir (e.g. the reference's
        # own shipped model layout, which carries word/q2b/tag.dic but
        # none of the seg/weight files — Android/.../lac_model/) only
        # needs to provide the files it overrides; the rest come from
        # the packaged resources.
        pkg = str(resource_dir())
        user = None if resource_dir_path is None else str(resource_dir_path)
        from_user: set[str] = set()

        def res(fname: str) -> str:
            if user is not None:
                p = os.path.join(user, fname)
                if os.path.exists(p):
                    from_user.add(fname)
                    return p
            return os.path.join(pkg, fname)

        self.encoder = Encoder.from_files(res("word.dic"), res("q2b.dic"))
        self.id2label = load_kv(res("tag.dic"), key_func=int)
        self.id2seglabel = load_kv(res("seg_tag.dic"), key_func=int)
        freq = load_kv(res("small_seg.dic"), delimiter=" ", value_func=int)
        self.segmenter = DagSegmenter(freq)
        # CRF masks derive from the LOADED tag inventories, not the
        # hard-coded lists: a model dir shipping its own tag.dic (the
        # reference's published dirs order labels differently — e.g.
        # the Android assets are alphabetical) gets transition
        # constraints consistent with ITS id order.  For the packaged
        # dics this is exactly LAC_LABELS/SEG_LABELS (test-pinned).
        lac_labels = [self.id2label[i] for i in range(len(self.id2label))]
        seg_labels = [self.id2seglabel[i]
                      for i in range(len(self.id2seglabel))]
        self.lac_net = BiGruCrf.load(
            res("lac_weights.npz"),
            transition_mask(lac_labels), start_mask(lac_labels))
        self.seg_net = BiGruCrf.load(
            res("seg_weights.npz"),
            transition_mask(seg_labels), start_mask(seg_labels))
        # A user tag.dic whose id order differs from the packaged
        # scheme must come with ITS weights: the packaged npz's
        # fc/crf rows are in LAC_LABELS order, so pairing them with a
        # reordered inventory mislabels every token SILENTLY (shapes
        # all match).  ``weights_follow=True`` is the escape hatch for
        # the caller that replaces the weights right after init (the
        # LAC facade's model-dir/paddle path — which enforces its own
        # dir-supplies-weights gate, lac.py).
        if (not weights_follow
                and "tag.dic" in from_user
                and "lac_weights.npz" not in from_user
                and lac_labels != list(LAC_LABELS)):
            raise ValueError(
                "resource dir overrides tag.dic with a different id "
                "order but supplies no lac_weights.npz — the packaged "
                "weights' label rows follow the packaged order and "
                "would silently mislabel; ship matching weights next "
                "to the dict stack")
        # mirror of the guard for the SEGMENTATION net (ADVICE r6):
        # a reordered seg_tag.dic paired with the packaged seg weights
        # is the same silent-mislabel failure, just on the seg side
        if (not weights_follow
                and "seg_tag.dic" in from_user
                and "seg_weights.npz" not in from_user
                and seg_labels != list(SEG_LABELS)):
            raise ValueError(
                "resource dir overrides seg_tag.dic with a different "
                "id order but supplies no seg_weights.npz — the "
                "packaged seg weights' label rows follow the packaged "
                "order and would silently mislabel; ship matching "
                "weights next to the dict stack")
        self.custom: Customization | None = None

    # ------------------------------------------------------------------
    def add_word(self, line: str, sep: str | None = None) -> None:
        """Runtime custom-dict update (lac.py:104-112 add_word)."""
        if self.custom is None:
            self.custom = Customization()
        self.custom.add_entry(line, sep)

    def load_customization(self, customization_file: str,
                           sep: str | None = None) -> None:
        """Load a user dictionary (lac.py:94-102 load_customization)."""
        self.custom = Customization()
        self.custom.load(customization_file, sep)

    # ------------------------------------------------------------------
    def train(self, model_save_dir: str, train_data: str,
              test_data: str | None = None, iter_num: int = 10,
              mode: str = "lac", lr: float = 1e-2,
              spark=None) -> dict:
        """Incremental training with the reference's file interface
        (lac.py:83-92 → models.py:177-210): read a labeled corpus,
        fine-tune the FULL network (Adam on the CRF NLL, backprop
        through the Bi-GRU stack — lacspark.train_full), save the
        updated weights under ``model_save_dir``, hot-reload them into
        this engine, and (optionally) report chunk P/R/F1 on
        ``test_data``.  Pass a SparkSession to run the gradient
        epochs data-parallel (nets.py:335-346).

        ``mode='rank'`` fits the RANK HEAD (tag-conditioned Bi-GRU +
        importance softmax) on ``word/tag/rank`` lines — going beyond
        the reference, whose RankModel.train is an unimplemented stub
        (models.py:376-379).  It fits locally, saves
        lac_weights.npz (the rank tensors live alongside the
        tagger's) and scores no ``test_data``."""
        from .train_full import fit_full_local, fit_full_spark, fit_rank_local
        from .training import (chunk_prf, parse_rank_line, parse_seg_line,
                               parse_tagged_line)

        net = self.seg_net if mode == "seg" else self.lac_net
        labels_list = SEG_LABELS if mode == "seg" else LAC_LABELS
        lab2id = {l: i for i, l in enumerate(labels_list)}
        parse = {"lac": parse_tagged_line, "seg": parse_seg_line,
                 "rank": parse_rank_line}[mode]

        def read_rows(path: str) -> list[list[np.ndarray]]:
            """(char ids, label ids[, ranks]) per usable line."""
            rows = []
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    text, labels, *ranks = parse(line)
                    if not labels or any(l not in lab2id for l in labels):
                        continue
                    row = [np.asarray(v, dtype=np.int64) for v in (
                        self.encoder.encode_chars(text),
                        [lab2id[l] for l in labels], *ranks)]
                    if len(row[0]) == len(labels):
                        rows.append(row)
            return rows

        rows = read_rows(train_data)
        if not rows:
            raise ValueError(f"no trainable rows in {train_data}")
        seqs = [list(col) for col in zip(*rows)]
        if mode == "rank":
            trace = fit_rank_local(net, *seqs, lr=lr, epochs=iter_num)
        elif spark is not None:
            from .spark.session import local_frame

            df = local_frame(spark, [(s.tolist(), l.tolist())
                                     for s, l in rows],
                             "ids array<long>, labels array<long>").cache()
            try:
                trace = fit_full_spark(df, net, lr=lr, epochs=iter_num)
            finally:
                df.unpersist()
        else:
            trace = fit_full_local(net, *seqs, lr=lr, epochs=iter_num)
        os.makedirs(model_save_dir, exist_ok=True)
        out_path = os.path.join(
            model_save_dir,
            "seg_weights.npz" if mode == "seg" else "lac_weights.npz")
        np.savez(out_path, **net.w)
        result = {"nll_trace": trace, "model_path": out_path}
        if test_data and mode != "rank":
            result.update(chunk_prf([
                ([labels_list[i] for i in lab_ids],
                 [labels_list[i] for i in net.decode([ids])[0]])
                for ids, lab_ids in read_rows(test_data)]))
        return result

    # ------------------------------------------------------------------
    def run_batch(self, texts: list[str], mode: str = "lac"
                  ) -> list[Analysis]:
        """Analyze a batch.  Identical rows are analyzed once and the
        result shared (code corpora repeat lines heavily — blank
        lines, braces, imports); results are position-independent so
        this is observationally identical to the direct path."""
        if mode not in ("seg", "lac", "rank"):
            raise ValueError(f"unknown mode {mode!r}")
        index: dict[str, int] = {}
        uniq: list[str] = []
        slot = []
        for t in texts:
            j = index.get(t)
            if j is None:
                j = index[t] = len(uniq)
                uniq.append(t)
            slot.append(j)
        if len(uniq) == len(texts):
            return self._run_unique(texts, mode)
        uniq_res = self._run_unique(uniq, mode)
        return [uniq_res[j] for j in slot]

    def _run_unique(self, texts: list[str], mode: str) -> list[Analysis]:
        """``run_batch`` over texts that are all distinct."""
        live = [(i, t) for i, t in enumerate(texts) if len(t) > 0]
        out: list[Analysis] = [Analysis([], [], [], []) for _ in texts]
        if not live:
            return out

        if mode == "seg":
            ids = [np.asarray(self.encoder.encode_chars(t), dtype=np.int64)
                   for _, t in live]
            seg_lengths: list[list[int]] = [[] for _ in live]
            label_ids = self.seg_net.decode(ids)
            id2label = self.id2seglabel
        else:
            ids, seg_lengths = [], []
            for _, t in live:
                i, l = self.encoder.encode_mixed(self.segmenter.cut(t))
                ids.append(np.asarray(i, dtype=np.int64))
                seg_lengths.append(l)
            label_ids = self.lac_net.decode(ids)
            id2label = self.id2label

        ranks = (self.lac_net.rank(ids, label_ids)
                 if mode == "rank" else [None] * len(live))

        for k, (row, text) in enumerate(live):
            tags = [id2label[x] for x in label_ids[k].tolist()]
            lengths = seg_lengths[k]
            # re-expand word-granularity segments to char tags
            # (models.py:154-158 inserts -I per extra char, walking
            # backward; a forward rebuild emits the identical list
            # without O(n²) list inserts)
            if lengths:
                expanded: list[str] = []
                for cur, seg_len in enumerate(lengths):
                    tag = tags[cur]
                    expanded.append(tag)
                    if seg_len > 1:
                        expanded.extend([tag[:-2] + "-I"] * (seg_len - 1))
                tags = expanded
            if self.custom is not None:
                self.custom.apply(text, tags)
            words, word_tags = _merge(text, tags)
            res = Analysis(words, word_tags, tags)
            if mode == "rank":
                raw = ranks[k].tolist()
                if lengths:
                    weights: list[int] = []
                    for cur, seg_len in enumerate(lengths):
                        w = raw[cur]
                        weights.append(w)
                        if seg_len > 1:
                            weights.extend([w] * (seg_len - 1))
                else:
                    weights = raw
                res.ranks = _rank_merge(tags, weights)
            out[row] = res
        return out

    # ------------------------------------------------------------------
    # KG extension (SURVEY.md §2.2 K3/K4): arrays already in hand, so
    # mention + triple extraction run in the same batch pass.
    def extract(self, analysis: Analysis, window: int = 8):
        """Return (mentions, triples) for one analyzed row.

        mentions: (word, tag, rank, word_idx, char_begin)
        triples:  (subj, pred, obj, conf, sal) — consecutive mention
        pairs ≤ ``window`` words apart linked by the highest-rank
        predicate word (tag ∈ v/vd/vn/p) strictly between them.
        conf = (1 + pred rank) / 4; sal = subj rank + obj rank (the
        O17 word-importance of the two mentions, carried so edge
        weights can be salience-aware downstream).
        """
        words, tags = analysis.words, analysis.tags
        ranks = analysis.ranks or [0] * len(words)
        begins, pos = [], 0
        for w in words:
            begins.append(pos)
            pos += len(w)
        m_idx = [i for i, t in enumerate(tags)
                 if t in MENTION_TAGS and words[i].strip()]
        mentions = [(words[i], tags[i], int(ranks[i]), i, begins[i])
                    for i in m_idx]
        triples = []
        for a, b in zip(m_idx, m_idx[1:]):
            if b - a > window:
                continue
            preds = [(int(ranks[j]), -j, j) for j in range(a + 1, b)
                     if tags[j] in PREDICATE_TAGS and words[j].strip()]
            if not preds:
                continue
            _, _, j = max(preds)
            conf = (1.0 + int(ranks[j])) / 4.0
            sal = int(ranks[a]) + int(ranks[b])
            triples.append((words[a], words[j], words[b], conf, sal))
        return mentions, triples


def _merge(text: str, char_tags: list[str]) -> tuple[list[str], list[str]]:
    """B/I merge: new word at B/S, else append char; the word's tag is
    its last char's tag base (models.py:163-173)."""
    # boundary indices first, then slice text once per word — avoids
    # the quadratic char-by-char string append
    bounds: list[int] = []
    tags: list[str] = []
    for i, tag in enumerate(char_tags):
        last = tag[-1]
        if not bounds or last == "B" or last == "S":
            bounds.append(i)
            tags.append(tag[:-2])
        else:
            tags[-1] = tag[:-2]
    bounds.append(len(char_tags))
    words = [text[bounds[k]:bounds[k + 1]] for k in range(len(bounds) - 1)]
    return words, tags


def _rank_merge(char_tags: list[str], weights: list[int]) -> list[int]:
    """Per-word weight = max over its chars, boundaries at B/S
    (models.py:366-371)."""
    out: list[int] = []
    for i, tag in enumerate(char_tags):
        last = tag[-1]
        if not out or last == "B" or last == "S":
            out.append(weights[i])
        else:
            if weights[i] > out[-1]:
                out[-1] = weights[i]
    return out
