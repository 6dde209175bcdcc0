"""Drop-in ``LAC`` facade with the reference's python API and return
shapes (/root/reference/python/LAC/lac.py:41-112, models.py:238-345):

* ``LAC(mode='seg'|'lac'|'rank').run(text_or_list)``
  - seg:  batch → ``[words, …]``;        single → ``words``
  - lac:  batch → ``[[words, tags], …]``; single → ``[words, tags]``
  - rank: batch → ``[[words, tags, ranks], …]``; single → same, flat
* ``train(model_save_dir, train_data, test_data=None, iter_num=10)``
* ``load_customization(file, sep=None)`` / ``add_word(line, sep=None)``

A user of the reference switches imports (``from lacspark.lac import
LAC``) and keeps their calling code; the engine underneath is the
numpy/Spark one (weights are this repo's deterministic fixtures, not
Paddle's published model).
"""

from __future__ import annotations

import os

import numpy as np

from .engine import LacEngine


class LAC:
    def __init__(self, model_path: str | None = None, mode: str = "lac",
                 use_cuda: bool = False):
        if mode not in ("seg", "lac", "rank"):
            raise ValueError(f"mode must be seg|lac|rank, got {mode!r}")
        self.mode = mode
        # The reference's published model dirs ship their OWN dict
        # stack next to the weights — either under ``conf/`` (the
        # downloaded python models; reader.py:90-96 resolves
        # word/tag/q2b dict paths relative to model_path) or at the
        # top level (Android/.../assets/lac_model/).  If the supplied
        # dir carries the three core dics, build the engine's dict
        # stack from THERE (missing aux files fall back to packaged —
        # engine.py per-file resolution), so a real downloaded dir is
        # drop-in without separating dics from weights.
        dict_dir = None
        if model_path:
            for cand in (os.path.join(model_path, "conf"), model_path):
                if all(os.path.exists(os.path.join(cand, f))
                       for f in ("word.dic", "tag.dic", "q2b.dic")):
                    dict_dir = cand
                    break
        self.engine = LacEngine(resource_dir_path=dict_dir,
                                weights_follow=dict_dir is not None)
        # model_path ≙ the reference's retrained-model dir: weights
        # saved by LAC.train / LacEngine.train load over the packaged
        # dictionaries (models.py:209 load_model).  A PADDLE-layout
        # dir (the published downloaded model: word_emb + crfw files,
        # no npz) routes through the import adapter instead — the
        # reference's own model dirs are drop-in here too.
        if model_path:
            loaded = False
            for fname, net in (("lac_weights.npz", self.engine.lac_net),
                               ("seg_weights.npz", self.engine.seg_net)):
                p = os.path.join(model_path, fname)
                if os.path.exists(p):
                    npz = np.load(p)
                    net.set_weights({**net.w,
                                     **{k: npz[k] for k in npz.files}})
                    loaded = True
            if (not loaded
                    and os.path.exists(os.path.join(model_path,
                                                    "word_emb"))):
                from .paddle_import import (load_paddle_params,
                                            paddle_params_to_weights)
                net = (self.engine.seg_net if mode == "seg"
                       else self.engine.lac_net)
                w = paddle_params_to_weights(
                    load_paddle_params(model_path))
                if w["crf_trans"].shape[0] != \
                        net._trans_mask.shape[0]:
                    raise ValueError(
                        f"imported model has "
                        f"{w['crf_trans'].shape[0]} labels but the "
                        f"packaged tag scheme has "
                        f"{net._trans_mask.shape[0]} — a retrained "
                        f"label set needs its matching tag.dic")
                rank_keys = {k: v for k, v in net.w.items()
                             if k.startswith(("tag_emb", "r0_", "rank_"))}
                net.set_weights({**w, **rank_keys})
                loaded = True
            # Consistency gate: a dir that supplied its OWN dict stack
            # must also supply loadable weights.  Otherwise the
            # packaged weights stay active against the dir's
            # vocabulary/label order — an 8,224-token encoder indexing
            # a 191-row embedding crashes, and a same-size tag.dic in
            # a different id order silently mislabels every token.
            # (The Android asset dir ships only a Paddle-Lite
            # ``model.nb`` blob, which this importer does not read.)
            if dict_dir is not None and not loaded:
                raise ValueError(
                    f"model dir {model_path!r} supplies its own "
                    f"dictionaries (found in {dict_dir!r}) but no "
                    f"loadable weights — expected lac_weights.npz / "
                    f"seg_weights.npz or the Paddle per-param layout "
                    f"(word_emb, fc_*.w_0, gru_*.w_0, crfw); packaged "
                    f"weights cannot be used with a foreign dict "
                    f"stack (vocabulary size and tag id order would "
                    f"not match)")
            # Vocabulary/embedding agreement, whatever the source mix
            active = (self.engine.seg_net if mode == "seg"
                      else self.engine.lac_net)
            vocab = 1 + max(self.engine.encoder.word2id.values())
            emb_rows = active.w["emb"].shape[0]
            if vocab > emb_rows:
                raise ValueError(
                    f"dictionary/weights mismatch: word.dic has ids "
                    f"up to {vocab - 1} but the embedding matrix has "
                    f"{emb_rows} rows")

    # ------------------------------------------------------------------
    def run(self, texts):
        """Single string or list → reference-shaped results."""
        batch = isinstance(texts, (list, tuple))
        rows = list(texts) if batch else [texts]
        out = self.engine.run_batch(rows, mode=self.mode)
        if self.mode == "seg":
            res = [a.words for a in out]
        elif self.mode == "lac":
            res = [[a.words, a.tags] for a in out]
        else:
            res = [[a.words, a.tags, a.ranks] for a in out]
        return res if batch else res[0]

    # ------------------------------------------------------------------
    def train(self, model_save_dir: str, train_data: str,
              test_data: str | None = None, iter_num: int = 10,
              thread_num: int = 10) -> dict:
        """Incremental training, reference signature (lac.py:83-92).
        ``thread_num`` is accepted for parity; parallel training is
        the Spark path (LacEngine.train(spark=…)).  mode='rank'
        trains the RANK HEAD on ``word/tag/rank`` lines — an upgrade
        over the reference, whose RankModel.train is an unimplemented
        stub (models.py:376-379); test_data P/R/F1 applies to the
        tagger modes only."""
        return self.engine.train(model_save_dir, train_data,
                                 test_data=test_data, iter_num=iter_num,
                                 mode=self.mode)

    def load_customization(self, customization_file: str,
                           sep: str | None = None) -> None:
        self.engine.load_customization(customization_file, sep)

    def add_word(self, word: str, sep: str | None = None) -> None:
        self.engine.add_word(word, sep)
