"""Reference-parity file interface: LacEngine.train (lac.py:83-92) —
read corpus file, fine-tune the full network, save + hot-reload, and
evaluate on test_data; load_customization (lac.py:94-102)."""

from __future__ import annotations

import numpy as np

from lacspark.engine import LacEngine


def _write_corpus(path, lines):
    path.write_text("\n".join(lines), encoding="utf-8")
    return str(path)


def test_train_seg_mode_adapts_and_saves(tmp_path):
    eng = LacEngine()
    # teach a deterministic segmentation: every line split as below
    lines = ["ab cd", "abc d", "a bcd"] * 4
    train = _write_corpus(tmp_path / "train.txt", lines)
    test = _write_corpus(tmp_path / "test.txt", lines[:3])
    res = eng.train(str(tmp_path / "model"), train, test_data=test,
                    iter_num=30, mode="seg", lr=5e-2)
    assert res["nll_trace"][-1] < res["nll_trace"][0]
    assert {"precision", "recall", "f1"} <= set(res)
    # saved model loads into a fresh engine and produces the SAME
    # segmentation as the trained in-memory engine (hot-reload parity)
    out = (tmp_path / "model" / "seg_weights.npz")
    assert out.exists()
    fresh = LacEngine()
    w = np.load(out)
    fresh.seg_net.set_weights({**fresh.seg_net.w,
                               **{k: w[k] for k in w.files}})
    for text in ["ab cd", "xy zt"]:
        a = eng.run_batch([text], mode="seg")[0].words
        b = fresh.run_batch([text], mode="seg")[0].words
        assert a == b
    # after enough epochs the engine should reproduce the taught
    # segmentation on the training lines themselves
    seg = eng.run_batch(["ab cd"], mode="seg")[0].words
    assert "".join(seg) == "ab cd"


def test_train_rejects_empty_corpus(tmp_path):
    eng = LacEngine()
    empty = _write_corpus(tmp_path / "empty.txt", ["///bad///"])
    import pytest
    with pytest.raises(ValueError):
        eng.train(str(tmp_path / "m"), empty, mode="lac")


def test_load_customization(tmp_path):
    eng = LacEngine()
    dic = tmp_path / "c.dic"
    dic.write_text("春天/SEASON\n", encoding="utf-8")
    eng.load_customization(str(dic))
    out = eng.run_batch(["春天来了"], mode="lac")[0]
    assert "春天" in out.words
    assert out.tags[out.words.index("春天")] == "SEASON"


def test_train_spark_path_matches_local(tmp_path, spark):
    """``train(spark=...)`` runs the epochs data-parallel on Spark;
    its NLL trace equals the local path's."""
    train = _write_corpus(tmp_path / "train.txt",
                          ["ab cd", "abc d", "a bcd", "百度 公司"] * 3)
    local = LacEngine().train(str(tmp_path / "local"), train, iter_num=4,
                              mode="seg", lr=5e-2)
    dist = LacEngine().train(str(tmp_path / "spark"), train, iter_num=4,
                             mode="seg", lr=5e-2, spark=spark)
    np.testing.assert_allclose(dist["nll_trace"], local["nll_trace"],
                               rtol=1e-7)
