"""Batched numpy Bi-GRU-CRF forward + constrained Viterbi decode.

Re-implements the inference network of the reference (stacked Bi-GRU →
FC emission → linear-chain-CRF Viterbi; /root/reference/python/LAC/
nets.py:34-150, invoked through the Paddle predictor at
models.py:97) as pure numpy over padded batches.  The reference packs
a ragged batch into one flat LoD tensor (models.py:110-138); here the
ragged batch arrives as an Arrow list-array / list of int arrays and
is padded per batch — same amortization, BLAS-vectorized.

The rank head mirrors the reference's second predictor, which consumes
the word tensor plus the lac model's decoded tags
(models.py:305-345, call at :336).

Weights are deterministic seeded-random arrays of the report.pdf §4.2
shapes scaled down (emb 32, hidden 32, 2 stacked Bi-GRU) — see
gen_fixtures.py.  The same .npz loads in the driver-side oracle and,
from the package, in every Spark python worker, so oracle/engine
parity is by construction and tests exercise the distributed
plumbing.
"""

from __future__ import annotations

import io

import numpy as np


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


class BiGruCrf:
    """Stacked Bi-GRU + FC emission + CRF Viterbi, padded-batch numpy.

    Weight dict layout (all float32):
      emb                [V, E]
      l{i}_{fw|bw}_wx    [in_i, 3H]   gate order: z | r | c
      l{i}_{fw|bw}_wh    [H, 3H]
      l{i}_{fw|bw}_b     [3H]
      fc_w               [2H, L], fc_b [L]
      crf_trans          [L, L], crf_start [L], crf_stop [L]
    Optional rank head (consumes decoded label ids as features):
      tag_emb            [L, Et]
      r0_{fw|bw}_wx/wh/b (single Bi-GRU layer over [E+Et])
      rank_fc_w          [2Hr, 4], rank_fc_b [4]
    """

    def __init__(self, weights: dict[str, np.ndarray],
                 trans_mask: np.ndarray, start_vec_mask: np.ndarray):
        self._trans_mask = trans_mask
        self._start_mask = start_vec_mask
        self.set_weights(weights)

    def set_weights(self, weights: dict[str, np.ndarray]) -> None:
        """Install ``weights`` as this net's whole weight dict (float32)
        and re-derive everything computed from it: the layer and label
        counts, the stacked per-layer weights and the decode-time CRF
        structures.  A caller that replaces only some tensors passes
        ``{**net.w, **new}``."""
        self.w = {k: np.asarray(v, dtype=np.float32)
                  for k, v in weights.items()}
        self.n_layers = max(int(k[1]) for k in self.w
                            if k.startswith("l")) + 1
        self.n_labels = self.w["fc_b"].shape[0]
        self.has_rank = "rank_fc_w" in self.w
        self._stacks: dict[str, dict] = {}
        self.refresh_crf()

    def refresh_crf(self) -> None:
        """Re-derive decode-time CRF structures from the weights —
        call after mutating crf_* (incremental training hot-reload,
        ≙ models.py:209 load_model)."""
        self.trans_masked = self.w["crf_trans"] + self._trans_mask
        self.start_masked = self.w["crf_start"] + self._start_mask
        self._build_viterbi_structure(self._trans_mask)

    def _build_viterbi_structure(self, trans_mask: np.ndarray) -> None:
        """Split labels by in-degree.  IOB2 constraints leave X-I
        labels with exactly 2 legal predecessors (X-B, X-I); doing
        those columns as a [B, S, 2] gather instead of a full
        [B, S, L] max halves the Viterbi memory traffic — the
        dominant term at 32-way parallelism."""
        legal = trans_mask == 0  # [prev, cur]
        in_deg = legal.sum(axis=0)
        k = 2
        self._sparse_cols = np.flatnonzero(in_deg <= k)
        self._dense_cols = np.flatnonzero(in_deg > k)
        prevs = np.zeros((self._sparse_cols.size, k), dtype=np.int64)
        for r, j in enumerate(self._sparse_cols):
            p = np.flatnonzero(legal[:, j])
            prevs[r, : len(p)] = p
            prevs[r, len(p):] = p[-1]  # pad by repeating (ties safe)
        self._sparse_prevs = prevs  # [S, k]
        self._sparse_trans = self.w["crf_trans"][
            prevs, self._sparse_cols[:, None]].astype(np.float32) \
            if prevs.size else np.zeros((0, k), dtype=np.float32)
        self._dense_trans_t = np.ascontiguousarray(
            self.trans_masked[:, self._dense_cols].T)  # [D, L]

    # ------------------------------------------------------------------
    @classmethod
    def load(cls, path_or_bytes, trans_mask, start_vec_mask) -> "BiGruCrf":
        if isinstance(path_or_bytes, (bytes, bytearray)):
            npz = np.load(io.BytesIO(bytes(path_or_bytes)))
        else:
            npz = np.load(path_or_bytes)
        return cls({k: npz[k] for k in npz.files}, trans_mask, start_vec_mask)

    @classmethod
    def from_paddle(cls, model_dir: str, trans_mask,
                    start_vec_mask) -> "BiGruCrf":
        """Load a published LAC Paddle inference-model directory
        (the layout of reference nets.py:100-148 — word_emb, per-layer
        fc_N/gru_N pairs, emission fc, [L+2, L] crfw) — no Paddle
        required.  Format, naming, and the update-gate sign-flip are
        documented in :mod:`lacspark.paddle_import`; the round-trip
        test there proves export→import bit-identical decoding."""
        from .paddle_import import load_paddle_params, \
            paddle_params_to_weights

        return cls(paddle_params_to_weights(load_paddle_params(model_dir)),
                   trans_mask, start_vec_mask)

    # ------------------------------------------------------------------
    @staticmethod
    def _pad(seqs: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
        """Pad int sequences to [B, T]; returns (padded, lengths)."""
        lens = np.array([len(s) for s in seqs], dtype=np.int64)
        t = max(1, int(lens.max()))
        out = np.zeros((len(seqs), t), dtype=np.int64)
        for i, s in enumerate(seqs):
            out[i, : len(s)] = s
        return out, lens

    def _gru_bidir(self, x: np.ndarray, lens: np.ndarray,
                   name: str) -> np.ndarray:
        """Both GRU directions in ONE step loop → [B, T, 2H].

        States of the two directions stack to [2, B, H] and advance
        with batched matmul ([2,B,H] @ [2,H,3H]) — half the python
        step overhead and kernel launches of two separate loops.  The
        backward direction reads time index t-1-i (iterating the masked
        recurrence from the padded end is equivalent to starting at
        each row's true last token — state stays zero while masked)."""
        b, t, _ = x.shape
        stacked = self._stacks.get(name)
        if stacked is None:
            stacked = self._stacks[name] = {
                "wx": np.stack([self.w[f"{name}_fw_wx"],
                                self.w[f"{name}_bw_wx"]]),
                "wh": np.stack([self.w[f"{name}_fw_wh"],
                                self.w[f"{name}_bw_wh"]]),
                "b": np.stack([self.w[f"{name}_fw_b"],
                               self.w[f"{name}_bw_b"]])[:, None, :],
            }
        h_dim = stacked["wh"].shape[1]
        g2 = 2 * h_dim
        # [2, B, T, 3H] — one GEMM per direction for all steps
        pre = np.matmul(x[None], stacked["wx"][:, None]) + \
            stacked["b"][:, :, None, :]
        pre0, pre1 = pre[0], pre[1]
        wh_zr = stacked["wh"][:, :, :g2]
        wh_c = stacked["wh"][:, :, g2:]
        h = np.zeros((2, b, h_dim), dtype=np.float32)
        outs = np.empty((b, t, g2), dtype=np.float32)
        step_mask = (np.arange(t)[None, :] < lens[:, None]) \
            .astype(np.float32)[:, :, None]
        # The step loop is overhead-bound at these sizes (H=32): every
        # temporary allocation / np.stack costs more than the math.
        # Preallocated slot buffers + in-place ufuncs keep the float
        # op ORDER identical (bit-exact outputs, golden-pinned) while
        # cutting the per-step python/alloc overhead ~2.4×.
        pi = np.empty((2, b, 3 * h_dim), dtype=np.float32)
        m = np.empty((2, b, 1), dtype=np.float32)
        zr = np.empty((2, b, g2), dtype=np.float32)
        cbuf = np.empty((2, b, h_dim), dtype=np.float32)
        rh = np.empty((2, b, h_dim), dtype=np.float32)
        for i in range(t):
            j = t - 1 - i  # backward direction's time index
            pi[0] = pre0[:, i]
            pi[1] = pre1[:, j]
            # zr = sigmoid(pi[:, :, :2H] + h @ wh_zr), in place
            np.matmul(h, wh_zr, out=zr)
            zr += pi[:, :, :g2]
            np.negative(zr, out=zr)
            np.exp(zr, out=zr)
            zr += 1.0
            np.reciprocal(zr, out=zr)
            z, r = zr[:, :, :h_dim], zr[:, :, h_dim:]
            # c = tanh(pi[:, :, 2H:] + (r * h) @ wh_c), in place
            np.multiply(r, h, out=rh)
            np.matmul(rh, wh_c, out=cbuf)
            cbuf += pi[:, :, g2:]
            np.tanh(cbuf, out=cbuf)
            m[0] = step_mask[:, i]
            m[1] = step_mask[:, j]
            # h = h + m * (z * (c - h)) — same op order, via cbuf
            np.subtract(cbuf, h, out=cbuf)
            np.multiply(z, cbuf, out=cbuf)
            np.multiply(m, cbuf, out=cbuf)
            h = h + cbuf
            outs[:, i, :h_dim] = h[0]
            outs[:, j, h_dim:] = h[1]
        return outs

    def _emissions(self, padded: np.ndarray, lens: np.ndarray,
                   extra: np.ndarray | None = None) -> np.ndarray:
        """[B, T] ids (+ optional extra feature block) → [B, T, L]."""
        x = self.w["emb"][padded]  # sparse lookup ≙ nets.py IS_SPARSE embedding
        if extra is not None:
            x = np.concatenate([x, extra], axis=-1)
            layers = [("r0", "rank_fc")]
        else:
            layers = [(f"l{i}", None) for i in range(self.n_layers)]
            layers[-1] = (layers[-1][0], "fc")
        out = None
        for name, fc in layers:
            x = self._gru_bidir(x, lens, name)
            if fc:
                out = x @ self.w[f"{fc}_w"] + self.w[f"{fc}_b"]
        return out

    def _viterbi(self, emis: np.ndarray, lens: np.ndarray) -> list[np.ndarray]:
        """Constrained Viterbi over [B, T, L] → per-row label ids.

        The IOB2 transition/start masks make illegal paths -inf,
        matching the reference's constrained crf_decoding
        (nets.py:140-148, report.pdf §3.2).  Scores are laid out
        [B, cur, prev] so the argmax runs over the contiguous axis.
        """
        b, t, n = emis.shape
        delta = emis[:, 0, :] + self.start_masked[None, :]
        back = np.empty((b, t, n), dtype=np.uint8)  # L ≤ 255
        sp_cols, dn_cols = self._sparse_cols, self._dense_cols
        sp_prevs, sp_trans = self._sparse_prevs, self._sparse_trans
        dn_trans_t = self._dense_trans_t  # [D, L]
        best = np.empty_like(delta)
        d = dn_cols.size
        scores = np.empty((b, d, n), dtype=delta.dtype)
        flat = scores.reshape(b * d, n)
        rowidx = np.arange(b * d)
        # k = 2 unrolled: argmax/take_along_axis replaced by a single
        # compare (tie → index 0, exactly argmax's rule) — same
        # results, no per-step fancy-gather overhead.  Unpacking the
        # transposes raises on any other predecessor width instead of
        # silently decoding with the first two columns.
        sp0, sp1 = sp_prevs.T
        spt0, spt1 = sp_trans.T
        for i in range(1, t):
            # dense columns: full max over predecessors; the max
            # value is gathered from the argmax result (B·D reads)
            # instead of a second full pass over B·D·L scores
            np.add(delta[:, None, :], dn_trans_t[None, :, :], out=scores)
            am = np.argmax(scores, axis=2)
            back[:, i, dn_cols] = am
            best[:, dn_cols] = flat[rowidx, am.ravel()].reshape(b, d)
            # sparse (X-I) columns: only 2 legal predecessors
            s0 = delta[:, sp0] + spt0[None, :]
            s1 = delta[:, sp1] + spt1[None, :]
            pick1 = s1 > s0
            back[:, i, sp_cols] = np.where(pick1, sp1[None, :],
                                           sp0[None, :])
            best[:, sp_cols] = np.where(pick1, s1, s0)
            active = (i < lens)[:, None]
            delta = np.where(active, best + emis[:, i, :], delta)
        final = delta + self.w["crf_stop"][None, :]
        last = np.argmax(final, axis=1)
        out = []
        for r in range(b):
            ln = int(lens[r])
            path = np.empty(ln, dtype=np.int64)
            cur = int(last[r])
            path[ln - 1] = cur
            for i in range(ln - 1, 0, -1):
                cur = int(back[r, i, cur])
                path[i - 1] = cur
            out.append(path)
        return out

    # ------------------------------------------------------------------
    # Ragged batches are length-bucketed: rows sorted by length and
    # split into chunks of ~CHUNK_TOKENS padded tokens, so short rows
    # never pay the longest row's padding and the per-step working set
    # stays cache-resident.  ≙ the reference's LoD batching
    # (models.py:126-137) with the padding waste optimized away.
    # 8k tokens ≈ the cache-resident sweet spot measured on this box
    # under full 32-process contention (~2.5× faster than the naive
    # 96k padding; see BASELINE.md tuning notes).
    CHUNK_TOKENS = 8_000

    def _chunks(self, order: np.ndarray, lengths: np.ndarray):
        start = 0
        while start < len(order):
            t = max(1, int(lengths[order[start]]))
            rows = max(1, min(len(order) - start, self.CHUNK_TOKENS // t))
            yield order[start:start + rows]
            start += rows

    def decode(self, seqs: list[np.ndarray]) -> list[np.ndarray]:
        """Batch of id sequences → batch of label-id sequences."""
        return self._run_bucketed(seqs, None)

    def rank(self, seqs: list[np.ndarray], labels: list[np.ndarray]) -> list[np.ndarray]:
        """Rank head: (ids, decoded label ids) → importance 0-3 per
        token; ≙ the reference's second predictor consuming the lac
        model's crf_decode output (models.py:336)."""
        return self._run_bucketed(seqs, labels)

    def _run_bucketed(self, seqs: list[np.ndarray],
                      labels: list[np.ndarray] | None) -> list[np.ndarray]:
        out: list[np.ndarray] = [np.empty(0, dtype=np.int64)] * len(seqs)
        if not seqs:
            return out
        lengths = np.array([len(s) for s in seqs], dtype=np.int64)
        nonempty = np.flatnonzero(lengths)
        if nonempty.size == 0:
            return out
        order = nonempty[np.argsort(-lengths[nonempty], kind="stable")]
        for rows in self._chunks(order, lengths):
            padded, lens = self._pad(
                [np.asarray(seqs[i], dtype=np.int64) for i in rows])
            if labels is None:
                emis = self._emissions(padded, lens)
                for i, p in zip(rows, self._viterbi(emis, lens)):
                    out[i] = p
            else:
                lab_padded, _ = self._pad(
                    [np.asarray(labels[i], dtype=np.int64) for i in rows])
                feat = self.w["tag_emb"][lab_padded]
                logits = self._emissions(padded, lens, extra=feat)
                pick = np.argmax(logits, axis=2)
                for j, i in enumerate(rows):
                    out[i] = pick[j, : int(lens[j])].astype(np.int64)
        return out
