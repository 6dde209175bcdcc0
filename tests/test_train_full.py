"""Full-network training (train_full.py): the analytic gradient must
match finite differences on every tensor, the Spark data-parallel
gradient must equal the local one, Adam must drive NLL down, and the
trained weights must drop back into the inference decoder."""

from __future__ import annotations

import numpy as np
import pytest

from lacspark import resource_dir
from lacspark.net import BiGruCrf
from lacspark.tagscheme import SEG_LABELS, start_mask, transition_mask
from lacspark.train_full import (Adam, fit_full_local, fit_full_spark,
                                 flatten_params, nll_and_grads,
                                 trainable_params, unflatten_like,
                                 write_back)

RNG = np.random.default_rng(7)


def _tiny_params(v=11, e=4, h=3, n_labels=5, n_layers=2):
    p = {"emb": RNG.normal(size=(v, e)) * 0.5,
         "fc_w": RNG.normal(size=(2 * h, n_labels)) * 0.5,
         "fc_b": RNG.normal(size=n_labels) * 0.1,
         "crf_trans": RNG.normal(size=(n_labels, n_labels)) * 0.3,
         "crf_start": RNG.normal(size=n_labels) * 0.3,
         "crf_stop": RNG.normal(size=n_labels) * 0.3}
    for li in range(n_layers):
        in_dim = e if li == 0 else 2 * h
        for d in ("fw", "bw"):
            p[f"l{li}_{d}_wx"] = RNG.normal(size=(in_dim, 3 * h)) * 0.4
            p[f"l{li}_{d}_wh"] = RNG.normal(size=(h, 3 * h)) * 0.4
            p[f"l{li}_{d}_b"] = RNG.normal(size=3 * h) * 0.1
    return p


def _tiny_batch(v=11, n_labels=5):
    # ragged batch: lengths 1, 3, 6 exercise padding/masking
    ids = [RNG.integers(0, v, size=n) for n in (1, 3, 6)]
    labels = [RNG.integers(0, n_labels, size=len(s)) for s in ids]
    return ids, labels


def test_gradients_match_finite_differences():
    params = _tiny_params()
    ids, labels = _tiny_batch()
    nll, grads = nll_and_grads(params, ids, labels, n_layers=2)
    assert np.isfinite(nll)

    theta = flatten_params(params)
    g_flat = flatten_params(grads)
    eps = 1e-6
    # probe a deterministic spread of coordinates across every tensor
    idx = np.linspace(0, theta.size - 1, 60).astype(int)
    for i in idx:
        tp, tm = theta.copy(), theta.copy()
        tp[i] += eps
        tm[i] -= eps
        np_, _ = nll_and_grads(unflatten_like(tp, params), ids, labels, 2)
        nm_, _ = nll_and_grads(unflatten_like(tm, params), ids, labels, 2)
        fd = (np_ - nm_) / (2 * eps)
        assert abs(fd - g_flat[i]) < 1e-4 * max(1.0, abs(fd)), \
            f"coord {i}: analytic {g_flat[i]} vs fd {fd}"


def test_padding_is_inert():
    """Gradients must not depend on how much a batch is padded: the
    batch {len-2 row} alone vs that row batched with a len-6 row must
    give identical per-row gradient contributions."""
    params = _tiny_params()
    ids, labels = _tiny_batch()
    short_ids, short_lab = [ids[1]], [labels[1]]
    nll_a, g_a = nll_and_grads(params, short_ids, short_lab, 2)
    nll_b, g_b = nll_and_grads(params, ids, labels, 2)
    nll_c, g_c = nll_and_grads(params, [ids[0], ids[2]],
                               [labels[0], labels[2]], 2)
    assert abs((nll_a + nll_c) - nll_b) < 1e-9
    for k in g_a:
        np.testing.assert_allclose(g_a[k] + g_c[k], g_b[k], atol=1e-9)


def _fixture_net():
    npz = np.load(str(resource_dir() / "seg_weights.npz"))
    w = {k: npz[k] for k in npz.files}
    return BiGruCrf(w, transition_mask(SEG_LABELS), start_mask(SEG_LABELS))


def test_fit_full_local_nll_decreases_and_decoder_adapts():
    net = _fixture_net()
    # teach an arbitrary deterministic labeling the random fixture
    # weights do not produce
    ids = [np.array([3, 4, 5, 6]), np.array([7, 8]), np.array([3, 9, 5])]
    want = [np.array([0, 1, 0, 1]), np.array([0, 1]), np.array([0, 1, 0])]
    before = net.decode(ids)
    trace = fit_full_local(net, ids, want, lr=5e-2, epochs=40)
    assert trace[-1] < trace[0] * 0.5, trace
    after = net.decode(ids)
    assert all((a == w).all() for a, w in zip(after, want)), \
        (before, after)


def test_spark_gradients_equal_local(spark):
    net = _fixture_net()
    params = trainable_params(net.w)
    ids = [np.array([3, 4, 5, 6]), np.array([7, 8]),
           np.array([3, 9, 5]), np.array([10, 2, 4, 4, 6])]
    labels = [np.array([0, 1, 0, 1]), np.array([0, 1]),
              np.array([0, 1, 0]), np.array([0, 1, 1, 0, 1])]
    nll_local, g_local = nll_and_grads(params, ids, labels, net.n_layers)

    from lacspark.train_full import spark_grads
    df = spark.createDataFrame(
        [(s.tolist(), l.tolist()) for s, l in zip(ids, labels)],
        "ids array<long>, labels array<long>").repartition(3)
    nll_spark, g_spark, n = spark_grads(df, params, net.n_layers)
    assert n == 4
    np.testing.assert_allclose(nll_spark, nll_local, rtol=1e-10)
    np.testing.assert_allclose(g_spark, flatten_params(g_local),
                               rtol=1e-9, atol=1e-9)


def test_fit_full_spark_matches_local_trace(spark):
    """Synchronous data-parallel Adam ≡ single-process Adam: same
    per-epoch NLL trace (up to float summation order) and the same
    final decoder behavior."""
    ids = [np.array([3, 4, 5, 6]), np.array([7, 8]), np.array([3, 9, 5])]
    want = [np.array([0, 1, 0, 1]), np.array([0, 1]), np.array([0, 1, 0])]
    net_l, net_s = _fixture_net(), _fixture_net()
    trace_l = fit_full_local(net_l, ids, want, lr=5e-2, epochs=8)
    df = spark.createDataFrame(
        [(s.tolist(), l.tolist()) for s, l in zip(ids, want)],
        "ids array<long>, labels array<long>").repartition(2).cache()
    trace_s = fit_full_spark(df, net_s, lr=5e-2, epochs=8)
    np.testing.assert_allclose(trace_s, trace_l, rtol=1e-7)
    after_l = net_l.decode(ids)
    after_s = net_s.decode(ids)
    assert all((a == b).all() for a, b in zip(after_l, after_s))


def test_rank_gradients_match_finite_differences():
    from lacspark.train_full import rank_nll_and_grads
    rng = np.random.default_rng(9)
    v, e, et, h, L = 11, 4, 3, 3, 5
    p = {"emb": rng.normal(size=(v, e)) * 0.5,
         "tag_emb": rng.normal(size=(L, et)) * 0.5,
         "r0_fw_wx": rng.normal(size=(e + et, 3 * h)) * 0.4,
         "r0_fw_wh": rng.normal(size=(h, 3 * h)) * 0.4,
         "r0_fw_b": rng.normal(size=3 * h) * 0.1,
         "r0_bw_wx": rng.normal(size=(e + et, 3 * h)) * 0.4,
         "r0_bw_wh": rng.normal(size=(h, 3 * h)) * 0.4,
         "r0_bw_b": rng.normal(size=3 * h) * 0.1,
         "rank_fc_w": rng.normal(size=(2 * h, 4)) * 0.5,
         "rank_fc_b": rng.normal(size=4) * 0.1}
    ids = [rng.integers(0, v, size=n) for n in (2, 5)]
    tags = [rng.integers(0, L, size=len(s)) for s in ids]
    ranks = [rng.integers(0, 4, size=len(s)) for s in ids]
    nll, grads = rank_nll_and_grads(p, ids, tags, ranks)
    theta = flatten_params(p)
    g = flatten_params(grads)
    eps = 1e-6
    idx = np.linspace(0, theta.size - 1, 40).astype(int)
    for i in idx:
        tp, tm = theta.copy(), theta.copy()
        tp[i] += eps
        tm[i] -= eps
        np_, _ = rank_nll_and_grads(unflatten_like(tp, p), ids, tags, ranks)
        nm_, _ = rank_nll_and_grads(unflatten_like(tm, p), ids, tags, ranks)
        fd = (np_ - nm_) / (2 * eps)
        assert abs(fd - g[i]) < 1e-4 * max(1.0, abs(fd)), \
            f"coord {i}: analytic {g[i]} vs fd {fd}"


def test_fit_rank_adapts_decoder():
    from lacspark.train_full import fit_rank_local
    npz = np.load(str(resource_dir() / "lac_weights.npz"))
    from lacspark.tagscheme import LAC_LABELS
    net = BiGruCrf({k: npz[k] for k in npz.files},
                   transition_mask(LAC_LABELS), start_mask(LAC_LABELS))
    rng = np.random.default_rng(5)
    ids = [rng.integers(0, net.w["emb"].shape[0], size=n)
           for n in (4, 6, 3)]
    tags = [rng.integers(0, net.n_labels, size=len(s)) for s in ids]
    want = [np.full(len(s), 2, dtype=np.int64) for s in ids]  # teach "2"
    trace = fit_rank_local(net, ids, tags, want, lr=5e-2, epochs=40)
    assert trace[-1] < trace[0] * 0.5, trace
    out = net.rank(ids, tags)
    assert all((o == w).all() for o, w in zip(out, want)), out
