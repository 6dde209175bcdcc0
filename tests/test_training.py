"""O20 reader parity, O22 chunk metric and the explicit north-rule
P/R ≥ 0.95 gate."""

from __future__ import annotations

import numpy as np

from lacspark import resource_dir
from lacspark.training import (chunk_prf, chunk_prf_df, iob2_chunks,
                               parse_seg_line, parse_tagged_line)

from .conftest import load_reference_module


def test_parse_tagged_line_reference_parity():
    reader = load_reference_module("reader")

    class _A:
        word_dict_path = str(resource_dir() / "word.dic")
        label_dict_path = str(resource_dir() / "tag.dic")
        word_rep_dict_path = str(resource_dir() / "q2b.dic")
        model = "lac"

    ds = reader.SegDataset(_A())  # SegDataset.parse_tag is standalone
    for line in ["百度 是 一家 公司", "a bc def", "单字"]:
        text, labels = parse_seg_line(line)
        ref_text, ref_labels = ds.parse_tag(line)
        assert text == ref_text and labels == ref_labels

    # lac format: labels match the reference's char-level expansion
    lac_ds = reader.Dataset(_A())
    lac_ds.segment_tool = type("S", (), {"fast_cut": staticmethod(list)})()
    for line in ["百度/ORG 是/v 公司/n", "spark/n 好/a"]:
        text, labels = parse_tagged_line(line)
        ref_segments, ref_labels = lac_ds.parse_tag(line)
        assert labels == ref_labels
        assert text == "".join(ref_segments)

    assert parse_tagged_line("broken item") == ("", [])


def test_iob2_chunks_basic():
    assert iob2_chunks(["n-B", "n-I", "v-B", "O", "PER-B", "PER-I"]) == \
        [(0, 2, "n"), (2, 3, "v"), (4, 6, "PER")]
    assert iob2_chunks(["-B", "-I", "-E", "-S"]) == [(0, 3, ""), (3, 4, "")]
    assert iob2_chunks([]) == []


def test_chunk_prf_exact_match_is_one():
    pairs = [(["n-B", "n-I", "O"], ["n-B", "n-I", "O"])]
    m = chunk_prf(pairs)
    assert m["precision"] == m["recall"] == m["f1"] == 1.0


def test_chunk_prf_df_matches_local(spark):
    rows = [
        (0, ["n-B", "n-I", "v-B", "O"]),
        (1, ["PER-B", "PER-I", "PER-I"]),
        (2, ["n-B", "v-B", "v-I"]),          # gold only
        (4, ["O", "O", "O"]),                # all O
        (5, ["a-B", "a-I", "O", "n-B"]),
    ]
    pred_rows = [
        (0, ["n-B", "v-B", "v-I", "O"]),
        (1, ["PER-B", "PER-I", "LOC-B"]),
        (3, ["LOC-B", "O"]),                 # pred only
        (4, ["O", "O", "O"]),
        (5, ["a-B", "a-I", "O", "v-B"]),
    ]
    gold = spark.createDataFrame(rows, "doc_id long, tags array<string>")
    pred = spark.createDataFrame(pred_rows, "doc_id long, tags array<string>")
    dist = chunk_prf_df(gold, pred, ["doc_id"])
    g, p = dict(rows), dict(pred_rows)
    local = chunk_prf([(g.get(d, []), p.get(d, []))
                       for d in sorted(g.keys() | p.keys())])
    assert (dist["tp"], dist["fp"], dist["fn"]) == \
        (local["tp"], local["fp"], local["fn"])
    assert (local["tp"], local["fp"], local["fn"]) == (1, 6, 6)
    assert dist == local


def _words_to_char_iob2(words, tags):
    out = []
    for w, t in zip(words, tags):
        out.extend([f"{t}-B"] + [f"{t}-I"] * (len(w) - 1))
    return out


def test_north_rule_pr_gate(spark):
    """The north-rule P/R ≥ 0.95 gate, computed with the chunk metric
    (O22): Spark pipeline (words, tags) vs driver-side oracle, both
    expanded to char-level IOB2 and chunk-joined."""
    from lacspark.engine import LacEngine
    from lacspark.spark.tagger import tag_and_extract

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(150)
    tagged = tag_and_extract(docs.repartition(5), "text", mode="lac",
                             with_extraction=False)
    spark_rows = {r.doc_id: _words_to_char_iob2(r.words, r.tags)
                  for r in tagged.select("doc_id", "words",
                                         "tags").collect()}
    eng = LacEngine()
    local = docs.select("doc_id", "text").collect()
    oracle = eng.run_batch([r.text for r in local], "lac")
    pairs = [( _words_to_char_iob2(o.words, o.tags),
               spark_rows[r.doc_id]) for r, o in zip(local, oracle)]
    m = chunk_prf(pairs)
    assert m["precision"] >= 0.95 and m["recall"] >= 0.95
    assert m["f1"] == 1.0  # in fact exact: same model, same code


def test_training_rows_reader(spark, tmp_path):
    p = tmp_path / "train.tsv"
    p.write_text("百度/ORG 是/v 公司/n\n\nspark/n 好/a\nbroken line\n",
                 encoding="utf8")
    df = __import__("lacspark.training", fromlist=["training_rows"]) \
        .training_rows(spark, str(p), mode="lac")
    rows = {r.text: list(r.labels) for r in df.collect()}
    assert rows["百度是公司"][:3] == ["ORG-B", "ORG-I", "v-B"]
    assert "spark好" in rows
    assert len(rows) == 2  # broken line dropped


def test_parse_rank_line():
    from lacspark.training import parse_rank_line

    text, labels, ranks = parse_rank_line("百度/ORG/3 是/v/0 公司/n/2\n")
    assert text == "百度是公司"
    assert labels == ["ORG-B", "ORG-I", "v-B", "n-B", "n-I"]
    assert ranks == [3, 3, 0, 2, 2]
    # malformed items invalidate the whole line, like the tag parser
    assert parse_rank_line("好/a") == ("", [], [])
    assert parse_rank_line("好/a/9") == ("", [], [])
    assert parse_rank_line("好//1") == ("", [], [])


def test_rank_mode_train_fits_rank_head(tmp_path):
    """LAC(mode='rank').train must fit the RANK head (the reference's
    RankModel.train is a 'To be continued' stub, models.py:376-379):
    NLL drops and the trained engine reproduces the taught
    importances, while the tagger weights stay untouched."""
    import numpy as np

    from lacspark.lac import LAC

    lac = LAC(mode="rank")
    eng = lac.engine
    # teach: ORG words rank 3, function word rank 0
    corpus = "\n".join(["百度/ORG/3 是/v/0 公司/n/1"] * 4) + "\n"
    p = tmp_path / "rank_train.tsv"
    p.write_text(corpus, encoding="utf8")
    crf_before = eng.lac_net.w["crf_trans"].copy()
    out = lac.train(str(tmp_path / "model"), str(p), iter_num=25)
    assert out["nll_trace"][-1] < out["nll_trace"][0]
    # tagger tensors untouched — only the rank head moved
    np.testing.assert_array_equal(eng.lac_net.w["crf_trans"], crf_before)
    # saved weights hot-reload into a fresh facade
    lac2 = LAC(model_path=str(tmp_path / "model"), mode="rank")
    words, tags, ranks = lac2.run("百度是公司")
    assert len(ranks) == len(words)
