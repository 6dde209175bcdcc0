"""Full-network training: backprop through the whole Bi-GRU-CRF.

The reference trains the entire stack — sparse embedding, stacked
Bi-GRU, FC emission, linear-chain CRF — with Adam
(/root/reference/python/LAC/nets.py:276-359 ``lex_net`` +
``train`` in train.py).  This module does the same with a pure-numpy
float64 reverse-mode pass over the identical forward recurrence used
at inference (`lacspark.net.BiGruCrf`), plus:

* `nll_and_grads` — batch CRF NLL and its exact gradient w.r.t. every
  trainable tensor (finite-difference-checked in
  tests/test_train_full.py); `rank_nll_and_grads` the same for the
  rank head.
* `Adam` — deterministic Adam (no shuffling; reference uses Adam,
  nets.py train loop), stepped by the one epoch loop `_fit`: each
  epoch takes (summed NLL, flat summed gradient, n rows) from a
  gradient pass.
* `fit_full_local` / `fit_rank_local` — `_fit` over the local pass.
* `fit_full_spark` — `_fit` over the data-parallel pass
  `spark_grads`: every epoch one Spark job computes per-partition
  gradient SUMS via Arrow-batched `mapInPandas` (map-side combine: a
  partition of any size reduces to ONE ~43k-float row), the driver
  sums the ≤n_partitions rows and destroys that epoch's θ broadcast.
  This is the classic synchronous data-parallel SGD layout:
  shuffle-free, the only cross-node traffic is |θ| per partition per
  epoch, so it holds at 1000 executors (gradient rows are ~343 KB
  here; a tree-reduce would only be needed when n_partitions × |θ|
  outgrows the driver).

Gate order in every GRU weight matrix is z | r | c, matching
`BiGruCrf._gru_bidir`; the recurrence is the update-gate form
``h ← h + m·z·(c − h)`` (mask m keeps padded steps inert), so trained
weights drop straight back into the inference engine.
"""

from __future__ import annotations

import numpy as np


def _log_sum_exp(a: np.ndarray, axis: int) -> np.ndarray:
    m = a.max(axis=axis, keepdims=True)
    return (m + np.log(np.exp(a - m).sum(axis=axis, keepdims=True))) \
        .squeeze(axis)

TRAINABLE_PREFIXES = ("emb", "l", "fc_w", "fc_b",
                      "crf_trans", "crf_start", "crf_stop")


def trainable_params(weights: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    """float64 copies of the lac-net tensors (rank head excluded —
    it is a separate predictor in the reference, models.py:305)."""
    out = {}
    for k, v in weights.items():
        if k.startswith(("rank_", "tag_emb", "r0_")):
            continue
        out[k] = np.asarray(v, dtype=np.float64).copy()
    return out


def _sigmoid(x):
    return 1.0 / (1.0 + np.exp(-x))


# ---------------------------------------------------------------------------
# One GRU direction, training-mode: forward caches, exact backward
# ---------------------------------------------------------------------------

def _gru_dir_forward(x, m, wx, wh, b):
    """x [B,T,I], m [B,T,1] → (outs [B,T,H], caches).  Same masked
    update-gate recurrence as BiGruCrf._gru_bidir, one direction."""
    bsz, t, _ = x.shape
    h_dim = wh.shape[0]
    pre = x @ wx + b  # [B,T,3H]
    h = np.zeros((bsz, h_dim))
    outs = np.empty((bsz, t, h_dim))
    caches = []
    for i in range(t):
        p = pre[:, i]
        z = _sigmoid(p[:, :h_dim] + h @ wh[:, :h_dim])
        r = _sigmoid(p[:, h_dim:2 * h_dim] + h @ wh[:, h_dim:2 * h_dim])
        c = np.tanh(p[:, 2 * h_dim:] + (r * h) @ wh[:, 2 * h_dim:])
        caches.append((h, z, r, c))
        h = h + m[:, i] * (z * (c - h))
        outs[:, i] = h
    return outs, caches


def _gru_dir_backward(x, m, wx, wh, caches, dout):
    """Exact reverse of `_gru_dir_forward`.  Returns
    (dx, dwx, dwh, db)."""
    bsz, t, _ = x.shape
    h_dim = wh.shape[0]
    dwx = np.zeros_like(wx)
    dwh = np.zeros_like(wh)
    db = np.zeros(3 * h_dim)
    dx = np.zeros_like(x)
    dh = np.zeros((bsz, h_dim))
    for i in range(t - 1, -1, -1):
        dh = dh + dout[:, i]
        h_prev, z, r, c = caches[i]
        mt = m[:, i]  # [B,1]
        dz = dh * mt * (c - h_prev)
        dc = dh * mt * z
        dh_prev = dh * (1.0 - mt * z)
        da_c = dc * (1.0 - c * c)
        drh = da_c @ wh[:, 2 * h_dim:].T          # grad w.r.t. (r·h_prev)
        dr = drh * h_prev
        dh_prev = dh_prev + drh * r
        da_z = dz * z * (1.0 - z)
        da_r = dr * r * (1.0 - r)
        dh_prev = dh_prev + da_z @ wh[:, :h_dim].T \
            + da_r @ wh[:, h_dim:2 * h_dim].T
        dwh[:, :h_dim] += h_prev.T @ da_z
        dwh[:, h_dim:2 * h_dim] += h_prev.T @ da_r
        dwh[:, 2 * h_dim:] += (r * h_prev).T @ da_c
        dpre = np.concatenate([da_z, da_r, da_c], axis=1)  # [B,3H]
        dx[:, i] = dpre @ wx.T
        dwx += x[:, i].reshape(bsz, -1).T @ dpre
        db += dpre.sum(axis=0)
        dh = dh_prev
    return dx, dwx, dwh, db


def _bigru_forward(x, m, params, name):
    """Bidirectional layer: bw direction = fw recurrence on the
    time-reversed input (padding lands first; the mask keeps state
    zero through it, which matches inference's end-anchored scan)."""
    of, cf = _gru_dir_forward(x, m, params[f"{name}_fw_wx"],
                              params[f"{name}_fw_wh"],
                              params[f"{name}_fw_b"])
    xr, mr = x[:, ::-1], m[:, ::-1]
    ob, cb = _gru_dir_forward(xr, mr, params[f"{name}_bw_wx"],
                              params[f"{name}_bw_wh"],
                              params[f"{name}_bw_b"])
    out = np.concatenate([of, ob[:, ::-1]], axis=-1)
    return out, (cf, cb, x, m)


def _bigru_backward(params, name, cache, dout, grads):
    cf, cb, x, m = cache
    h_dim = params[f"{name}_fw_wh"].shape[0]
    dxf, dwxf, dwhf, dbf = _gru_dir_backward(
        x, m, params[f"{name}_fw_wx"], params[f"{name}_fw_wh"],
        cf, dout[:, :, :h_dim])
    xr, mr = x[:, ::-1], m[:, ::-1]
    dxb, dwxb, dwhb, dbb = _gru_dir_backward(
        xr, mr, params[f"{name}_bw_wx"], params[f"{name}_bw_wh"],
        cb, dout[:, ::-1, h_dim:])
    grads[f"{name}_fw_wx"] += dwxf
    grads[f"{name}_fw_wh"] += dwhf
    grads[f"{name}_fw_b"] += dbf
    grads[f"{name}_bw_wx"] += dwxb
    grads[f"{name}_bw_wh"] += dwhb
    grads[f"{name}_bw_b"] += dbb
    return dxf + dxb[:, ::-1]


# ---------------------------------------------------------------------------
# Batch NLL + full gradient
# ---------------------------------------------------------------------------

def _pad_batch(id_seqs):
    lens = np.array([len(s) for s in id_seqs], dtype=np.int64)
    t = max(1, int(lens.max()))
    ids = np.zeros((len(id_seqs), t), dtype=np.int64)
    for i, s in enumerate(id_seqs):
        ids[i, : len(s)] = s
    return ids, lens


def nll_and_grads(params: dict[str, np.ndarray],
                  id_seqs: list[np.ndarray],
                  label_seqs: list[np.ndarray],
                  n_layers: int) -> tuple[float, dict[str, np.ndarray]]:
    """Summed CRF NLL of the batch and its exact gradient w.r.t.
    every tensor in ``params``.  Forward identical to inference
    (same gate order/masked recurrence) but float64 with caches."""
    ids, lens = _pad_batch(id_seqs)
    bsz, t = ids.shape
    m = (np.arange(t)[None, :] < lens[:, None]).astype(np.float64)[:, :, None]

    x = params["emb"][ids]
    layer_caches = []
    for li in range(n_layers):
        x, cache = _bigru_forward(x, m, params, f"l{li}")
        layer_caches.append(cache)
    hidden = x  # [B,T,2H]
    emis = hidden @ params["fc_w"] + params["fc_b"]  # [B,T,L]

    grads = {k: np.zeros_like(v) for k, v in params.items()}
    trans = params["crf_trans"]
    start = params["crf_start"]
    stop = params["crf_stop"]
    total_nll = 0.0
    d_emis = np.zeros_like(emis)
    for bi, labels in enumerate(label_seqs):
        labels = np.asarray(labels, dtype=np.int64)
        tl = int(lens[bi])
        e = emis[bi, :tl]
        # forward
        alpha = np.empty((tl, e.shape[1]))
        alpha[0] = start + e[0]
        for i in range(1, tl):
            alpha[i] = e[i] + _log_sum_exp(alpha[i - 1][:, None] + trans,
                                           axis=0)
        logz = _log_sum_exp(alpha[-1] + stop, axis=0)
        # backward
        beta = np.empty_like(alpha)
        beta[-1] = stop
        for i in range(tl - 2, -1, -1):
            beta[i] = _log_sum_exp(trans + (e[i + 1] + beta[i + 1])[None, :],
                                   axis=1)
        node_p = np.exp(alpha + beta - logz)       # [tl, L]
        node_p[np.arange(tl), labels] -= 1.0       # marginal − observed
        d_emis[bi, :tl] = node_p
        grads["crf_start"] += np.exp(alpha[0] + beta[0] - logz) \
            - np.eye(1, e.shape[1], labels[0])[0]
        grads["crf_stop"] += np.exp(alpha[-1] + stop - logz) \
            - np.eye(1, e.shape[1], labels[-1])[0]
        for i in range(1, tl):
            pair = np.exp(alpha[i - 1][:, None] + trans
                          + (e[i] + beta[i])[None, :] - logz)
            grads["crf_trans"] += pair
            grads["crf_trans"][labels[i - 1], labels[i]] -= 1.0
        score = start[labels[0]] + e[0, labels[0]]
        for i in range(1, tl):
            score += trans[labels[i - 1], labels[i]] + e[i, labels[i]]
        score += stop[labels[-1]]
        total_nll += float(logz - score)

    # FC layer
    grads["fc_w"] += hidden.reshape(-1, hidden.shape[-1]).T \
        @ d_emis.reshape(-1, d_emis.shape[-1])
    grads["fc_b"] += d_emis.sum(axis=(0, 1))
    dx = d_emis @ params["fc_w"].T  # [B,T,2H]
    # recurrent stack
    for li in range(n_layers - 1, -1, -1):
        dx = _bigru_backward(params, f"l{li}", layer_caches[li], dx, grads)
    # embedding scatter-add (dx is exactly zero on padded steps)
    np.add.at(grads["emb"], ids.reshape(-1), dx.reshape(-1, dx.shape[-1]))
    return total_nll, grads


# ---------------------------------------------------------------------------
# Rank head: softmax cross-entropy through the tag-conditioned Bi-GRU
# (the reference's second predictor, models.py:305-345; trained the
# same way as the lac net per nets.py's shared train loop)
# ---------------------------------------------------------------------------

RANK_PREFIXES = ("emb", "tag_emb", "r0_", "rank_fc")


def rank_params(weights: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    """float64 copies of the rank-head tensors (char emb is shared
    with the lac net, tag_emb/r0/rank_fc are rank-only)."""
    return {k: np.asarray(v, dtype=np.float64).copy()
            for k, v in weights.items() if k.startswith(RANK_PREFIXES)}


def rank_nll_and_grads(params: dict[str, np.ndarray],
                       id_seqs: list[np.ndarray],
                       tag_seqs: list[np.ndarray],
                       rank_seqs: list[np.ndarray]
                       ) -> tuple[float, dict[str, np.ndarray]]:
    """Summed masked softmax cross-entropy of per-token importance
    (0-3) and its exact gradient w.r.t. every rank tensor.  Forward
    matches BiGruCrf.rank: x = [emb[ids]; tag_emb[tags]] → r0 Bi-GRU
    → rank_fc logits."""
    ids, lens = _pad_batch(id_seqs)
    tags, _ = _pad_batch(tag_seqs)
    bsz, t = ids.shape
    m = (np.arange(t)[None, :] < lens[:, None]).astype(np.float64)[:, :, None]

    x = np.concatenate([params["emb"][ids], params["tag_emb"][tags]],
                       axis=-1)
    h, cache = _bigru_forward(x, m, params, "r0")
    logits = h @ params["rank_fc_w"] + params["rank_fc_b"]   # [B,T,4]
    mx = logits.max(axis=-1, keepdims=True)
    ex = np.exp(logits - mx)
    probs = ex / ex.sum(axis=-1, keepdims=True)

    grads = {k: np.zeros_like(v) for k, v in params.items()}
    d_logits = np.zeros_like(logits)
    total_nll = 0.0
    for bi, ranks in enumerate(rank_seqs):
        ranks = np.asarray(ranks, dtype=np.int64)
        tl = int(lens[bi])
        p = probs[bi, :tl]
        total_nll += float(-np.log(
            p[np.arange(tl), ranks[:tl]] + 1e-300).sum())
        dl = p.copy()
        dl[np.arange(tl), ranks[:tl]] -= 1.0
        d_logits[bi, :tl] = dl

    grads["rank_fc_w"] += h.reshape(-1, h.shape[-1]).T \
        @ d_logits.reshape(-1, d_logits.shape[-1])
    grads["rank_fc_b"] += d_logits.sum(axis=(0, 1))
    dh = d_logits @ params["rank_fc_w"].T
    dx = _bigru_backward(params, "r0", cache, dh, grads)
    e_dim = params["emb"].shape[1]
    np.add.at(grads["emb"], ids.reshape(-1),
              dx[:, :, :e_dim].reshape(-1, e_dim))
    np.add.at(grads["tag_emb"], tags.reshape(-1),
              dx[:, :, e_dim:].reshape(-1, dx.shape[-1] - e_dim))
    return total_nll, grads


# ---------------------------------------------------------------------------
# Flatten / unflatten (deterministic key order) and Adam
# ---------------------------------------------------------------------------

def flatten_params(params: dict[str, np.ndarray]) -> np.ndarray:
    return np.concatenate([params[k].ravel() for k in sorted(params)])


def unflatten_like(vec: np.ndarray,
                   ref: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    out, pos = {}, 0
    for k in sorted(ref):
        n = ref[k].size
        out[k] = vec[pos:pos + n].reshape(ref[k].shape).copy()
        pos += n
    return out


class Adam:
    """Deterministic Adam (β1=0.9, β2=0.999, ε=1e-8), the optimizer
    family the reference uses for the full network."""

    def __init__(self, lr: float = 1e-2):
        self.lr, self.b1, self.b2, self.eps = lr, 0.9, 0.999, 1e-8
        self.m = self.v = None
        self.t = 0

    def step(self, theta: np.ndarray, grad: np.ndarray) -> np.ndarray:
        if self.m is None:
            self.m = np.zeros_like(theta)
            self.v = np.zeros_like(theta)
        self.t += 1
        self.m = self.b1 * self.m + (1 - self.b1) * grad
        self.v = self.b2 * self.v + (1 - self.b2) * grad * grad
        mhat = self.m / (1 - self.b1 ** self.t)
        vhat = self.v / (1 - self.b2 ** self.t)
        return theta - self.lr * mhat / (np.sqrt(vhat) + self.eps)


def write_back(net, params: dict[str, np.ndarray]) -> None:
    """Install trained float64 params into an inference net
    (float32) and refresh its constrained decoder."""
    net.set_weights({**net.w, **params})


# ---------------------------------------------------------------------------
# The Adam epoch loop and its three callers (local lac/seg net, local
# rank head, Spark data-parallel lac/seg net)
# ---------------------------------------------------------------------------

def _fit(net, params: dict[str, np.ndarray], grad_pass, lr: float,
         epochs: int) -> list[float]:
    """Adam over ``params``, whose every epoch takes ``(summed NLL,
    flat summed gradient, n rows)`` from ``grad_pass(params)``; the
    result hot-reloads into ``net``.  Returns per-epoch mean NLL."""
    opt = Adam(lr)
    trace = []
    for _ in range(epochs):
        nll, grad, n = grad_pass(params)
        n = max(n, 1)
        theta = opt.step(flatten_params(params), grad / n)
        params = unflatten_like(theta, params)
        trace.append(nll / n)
    write_back(net, params)
    return trace


def fit_full_local(net, id_seqs, label_seqs, lr: float = 1e-2,
                   epochs: int = 5) -> list[float]:
    """Single-process full-network Adam."""
    def grad_pass(params):
        nll, grads = nll_and_grads(params, id_seqs, label_seqs,
                                   net.n_layers)
        return nll, flatten_params(grads), len(id_seqs)

    return _fit(net, trainable_params(net.w), grad_pass, lr, epochs)


def fit_rank_local(net, id_seqs, tag_seqs, rank_seqs, lr: float = 1e-2,
                   epochs: int = 5) -> list[float]:
    """Single-process Adam on the rank head."""
    def grad_pass(params):
        nll, grads = rank_nll_and_grads(params, id_seqs, tag_seqs,
                                        rank_seqs)
        return nll, flatten_params(grads), len(id_seqs)

    return _fit(net, rank_params(net.w), grad_pass, lr, epochs)


def spark_grads(df, params: dict[str, np.ndarray], n_layers: int
                ) -> tuple[float, np.ndarray, int]:
    """(summed NLL, flat summed gradient, n rows) of ``df`` (ids
    array<long>, labels array<long>) at ``params``, in one Spark job:
    each partition reduces to one (nll, n, grad) row — the map-side
    combine of synchronous data-parallel training — and the driver
    sums the rows in collect order.  θ ships as a broadcast, once per
    executor rather than per task, and is destroyed after the collect:
    an epoch loop that kept one per epoch would grow executor and
    driver memory linearly with epochs."""
    from typing import Iterator

    import pandas as pd

    theta = flatten_params(params)
    bc = df.sparkSession.sparkContext.broadcast(theta)
    shapes = {k: v.shape for k, v in params.items()}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ref = {k: np.zeros(s) for k, s in shapes.items()}
        p = unflatten_like(bc.value, ref)
        g_sum = np.zeros_like(bc.value)
        nll_sum, n = 0.0, 0
        for pdf in batches:
            seqs = [np.asarray(v, dtype=np.int64) for v in pdf["ids"]]
            labs = [np.asarray(v, dtype=np.int64) for v in pdf["labels"]]
            keep = [i for i, s in enumerate(seqs) if len(s)]
            if not keep:
                continue
            nll, grads = nll_and_grads(
                p, [seqs[i] for i in keep], [labs[i] for i in keep],
                n_layers)
            g_sum += flatten_params(grads)
            nll_sum += nll
            n += len(keep)
        yield pd.DataFrame({"nll": [nll_sum], "n": [n],
                            "grad": [g_sum]})

    try:
        rows = df.mapInPandas(
            run, schema="nll double, n long, grad array<double>").collect()
    finally:
        bc.destroy()
    grad = np.zeros(theta.size)
    for r in rows:
        grad += np.asarray(r.grad)
    return sum(r.nll for r in rows), grad, sum(r.n for r in rows)


def fit_full_spark(df, net, lr: float = 1e-2,
                   epochs: int = 5) -> list[float]:
    """Data-parallel full-network Adam: per epoch one `spark_grads`
    job, then the driver's Adam step.  Deterministic: the epoch order
    is fixed, and the partition sums add in collect order (they equal
    the local gradient up to float64 summation order).  ``df``: (ids
    array<long>, labels array<long>), cached by the caller since every
    epoch reads it."""
    return _fit(net, trainable_params(net.w),
                lambda params: spark_grads(df, params, net.n_layers),
                lr, epochs)
