"""Golden-parquet oracles for the non-SQL flagship queries.

The GRU-CRF tagger and the KG derivations are not expressible in
DuckDB SQL, but every step is deterministic.  This module runs the
PURE-PYTHON oracle engine (``lacspark.engine`` — no Spark import
anywhere in the compute path) plus exact python replicas of the
canonicalization / graph aggregation arithmetic, and materializes
each flagship query's expected output as a parquet file under
``lacspark/resources/golden/``.  ``lacspark.queries`` then registers
``select * from read_parquet(<golden>)`` as the DuckDB oracle, so the
driver's correctness gate hash-compares the distributed Spark result
against an independently computed single-process answer.

Scope: the documents tables carry DIFFERENT texts per scale factor
(same doc_id set, different content — do not assume identity), so the
doc-derived goldens are materialized once per SF under
``golden/sf0_001/`` and ``golden/sf0_01/``; the sf-independent
multimodal golden lives at the golden root.  ``lacspark.queries``
selects the tag via ``LACSPARK_GOLDEN_TAG`` (default ``sf0_01`` — the
driver's correctness SF).

Run: ``python -m lacspark.gen_golden``
"""

from __future__ import annotations

import hashlib
import os
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

from .canonical_py import _form, canonical_map_py, md5int, tokens
from .engine import LacEngine

SF_DIRS = {
    "sf0_001": "/root/testdata/sf0.001",
    "sf0_01": "/root/testdata/sf0.01",
}
GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "resources", "golden")


def _canonical(word: str, cmap: dict) -> tuple[str, int]:
    form = _form(word)
    if form in cmap:
        return cmap[form]
    return form, md5int(form)  # ≡ _with_canonical fallback


# ---------------------------------------------------------------------------

def _write(name: str, cols: dict[str, tuple[list, pa.DataType]],
           subdir: str = "") -> int:
    arrays = {k: pa.array(v, type=t) for k, (v, t) in cols.items()}
    table = pa.table(arrays)
    out = os.path.join(GOLDEN_DIR, subdir) if subdir else GOLDEN_DIR
    os.makedirs(out, exist_ok=True)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return table.num_rows


def gen_for_sf(tag: str, sf_dir: str) -> None:
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["doc_id", "text"])
    rows = sorted(
        (int(i), "" if t is None else str(t))
        for i, t in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist())
        if int(i) % 3 == 0)  # ≡ queries._docs_subset
    ids = [r[0] for r in rows]
    texts = [r[1] for r in rows]
    eng = LacEngine()

    rank_res = eng.run_batch(texts, mode="rank")
    seg_res = eng.run_batch(texts, mode="seg")

    # lac_tag_documents: (doc_id, word_idx, word, tag, rank)
    tag_rows = [(d, i, w, t, rk)
                for d, r in zip(ids, rank_res)
                for i, (w, t, rk) in enumerate(zip(r.words, r.tags, r.ranks))]
    n = _write("lac_tag_documents", {
        "doc_id": ([r[0] for r in tag_rows], pa.int64()),
        "word_idx": ([r[1] for r in tag_rows], pa.int32()),
        "word": ([r[2] for r in tag_rows], pa.string()),
        "tag": ([r[3] for r in tag_rows], pa.string()),
        "rank": ([r[4] for r in tag_rows], pa.int32())}, subdir=tag)
    print(f"{tag}/lac_tag_documents: {n} rows")

    seg_rows = [(d, i, w) for d, r in zip(ids, seg_res)
                for i, w in enumerate(r.words)]
    n = _write("lac_seg_documents", {
        "doc_id": ([r[0] for r in seg_rows], pa.int64()),
        "word_idx": ([r[1] for r in seg_rows], pa.int32()),
        "word": ([r[2] for r in seg_rows], pa.string())}, subdir=tag)
    print(f"{tag}/lac_seg_documents: {n} rows")

    # kg_mentions / kg_triples via engine.extract (window=8, the
    # engine's default, which tag_and_extract uses)
    mention_rows, triple_rows = [], []
    for d, r in zip(ids, rank_res):
        ms, ts = eng.extract(r, window=8)
        mention_rows.extend((d, *m) for m in ms)
        triple_rows.extend((d, *t) for t in ts)
    n = _write("kg_mentions", {
        "doc_id": ([r[0] for r in mention_rows], pa.int64()),
        "word": ([r[1] for r in mention_rows], pa.string()),
        "tag": ([r[2] for r in mention_rows], pa.string()),
        "rank": ([r[3] for r in mention_rows], pa.int32()),
        "word_idx": ([r[4] for r in mention_rows], pa.int32()),
        "char_begin": ([r[5] for r in mention_rows], pa.int32())}, subdir=tag)
    print(f"{tag}/kg_mentions: {n} rows")
    n = _write("kg_triples", {
        "doc_id": ([r[0] for r in triple_rows], pa.int64()),
        "subj": ([r[1] for r in triple_rows], pa.string()),
        "pred": ([r[2] for r in triple_rows], pa.string()),
        "obj": ([r[3] for r in triple_rows], pa.string()),
        "conf": ([r[4] for r in triple_rows], pa.float64()),
        "sal": ([r[5] for r in triple_rows], pa.int32())}, subdir=tag)
    print(f"{tag}/kg_triples: {n} rows")

    # kg_entity_linking: (form, canonical, entity_id)
    cmap, _ = canonical_map_py([m[1] for m in mention_rows])
    link = sorted(cmap.items())
    n = _write("kg_entity_linking", {
        "form": ([f for f, _ in link], pa.string()),
        "canonical": ([c for _, (c, _) in link], pa.string()),
        "entity_id": ([e for _, (_, e) in link], pa.int64())}, subdir=tag)
    print(f"{tag}/kg_entity_linking: {n} rows")

    # kg_vertices ≡ graph.build_vertices with aliases joined by '|'
    vstats: dict[tuple[int, str], dict] = {}
    for _, word, mtag, rank, _, _ in mention_rows:
        canon, eid = _canonical(word, cmap)
        s = vstats.setdefault((eid, canon), {
            "n": 0, "sal": 0, "aliases": set(), "tags": set()})
        s["n"] += 1
        s["sal"] += rank
        s["aliases"].add(_form(word))
        s["tags"].add(mtag)
    vrows = sorted((eid, canon, s["n"], s["sal"],
                    "|".join(sorted(s["aliases"])[:32]),
                    len(s["tags"]), max(s["tags"]))
                   for (eid, canon), s in vstats.items())
    n = _write("kg_vertices", {
        "entity_id": ([r[0] for r in vrows], pa.int64()),
        "canonical": ([r[1] for r in vrows], pa.string()),
        "n_mentions": ([r[2] for r in vrows], pa.int64()),
        "salience": ([r[3] for r in vrows], pa.int64()),
        "alias_list": ([r[4] for r in vrows], pa.string()),
        "n_tags": ([r[5] for r in vrows], pa.int64()),
        "top_tag": ([r[6] for r in vrows], pa.string())}, subdir=tag)
    print(f"{tag}/kg_vertices: {n} rows")

    # kg_edges ≡ graph.build_edges (salience-aware weight:
    # conf x (1 + sal) per provenance — exact multiples of 0.25, so
    # the sum is order-independent across engines)
    estats: dict[tuple, list] = {}
    for _, subj, pred, obj, conf, sal in triple_rows:
        sc, sid = _canonical(subj, cmap)
        oc, oid = _canonical(obj, cmap)
        key = (sid, sc, _form(pred), oid, oc)
        agg = estats.setdefault(key, [0.0, 0, 0])
        agg[0] += conf * (1 + sal)
        agg[1] += sal
        agg[2] += 1
    erows = sorted((k, w, s, c) for k, (w, s, c) in estats.items())
    n = _write("kg_edges", {
        "subj_id": ([k[0] for k, *_ in erows], pa.int64()),
        "subj_canonical": ([k[1] for k, *_ in erows], pa.string()),
        "pred": ([k[2] for k, *_ in erows], pa.string()),
        "obj_id": ([k[3] for k, *_ in erows], pa.int64()),
        "obj_canonical": ([k[4] for k, *_ in erows], pa.string()),
        "weight": ([w for _, w, _, _ in erows], pa.float64()),
        "salience": ([s for _, _, s, _ in erows], pa.int64()),
        "n_provenance": ([c for _, _, _, c in erows], pa.int64())},
        subdir=tag)
    print(f"{tag}/kg_edges: {n} rows")

    # mention_salience_topk ≡ kg.mention_salience_topk(keys=[doc_id], k=5)
    per_word: dict[tuple[int, str], list] = {}
    for d, word, _, rank, _, _ in mention_rows:
        agg = per_word.setdefault((d, word), [0, 0])
        agg[0] = max(agg[0], rank)
        agg[1] += 1
    per_doc: dict[int, list] = defaultdict(list)
    for (d, word), (mx, fq) in per_word.items():
        per_doc[d].append((word, mx, fq))
    srows = []
    for d in sorted(per_doc):
        ordered = sorted(per_doc[d], key=lambda r: (-r[1], -r[2], r[0]))
        srows.extend((d, w, mx, fq, i + 1)
                     for i, (w, mx, fq) in enumerate(ordered[:5]))
    n = _write("mention_salience_topk", {
        "doc_id": ([r[0] for r in srows], pa.int64()),
        "word": ([r[1] for r in srows], pa.string()),
        "max_rank": ([r[2] for r in srows], pa.int32()),
        "freq": ([r[3] for r in srows], pa.int64()),
        "salience_rank": ([r[4] for r in srows], pa.int32())}, subdir=tag)
    print(f"{tag}/mention_salience_topk: {n} rows")


def gen_subword(tag: str, sf_dir: str) -> None:
    """token_count_bpe golden: the pure-python greedy longest-match
    tokenizer (lacspark.subword — the same module the Spark UDF
    runs) over ALL documents of the SF (pack_sequences_bpe budgets
    every doc, so no subset here, unlike the tagger goldens)."""
    from .subword import default_tokenizer

    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["doc_id", "text"])
    tok = default_tokenizer()
    rows = []
    for i, t in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()):
        text = "" if t is None else str(t)
        n_sub, n_unk = tok.counts(text)
        n_words = len(tokens(text))
        rows.append((int(i), n_words, n_sub, n_unk))
    rows.sort()
    n = _write("token_count_bpe", {
        "doc_id": ([r[0] for r in rows], pa.int64()),
        "n_words": ([r[1] for r in rows], pa.int64()),
        "n_subwords": ([r[2] for r in rows], pa.int64()),
        "n_unk": ([r[3] for r in rows], pa.int64())}, subdir=tag)
    print(f"{tag}/token_count_bpe: {n} rows")


def gen_multimodal() -> None:
    """≡ synth_media(n=200) + fake decode, scalar projection only —
    sf-independent, so written once at the golden root."""
    from .spark.multimodal import _fake_decode
    mrows = []
    kinds = ["image", "audio", "video"]
    for i in range(200):
        payload = hashlib.sha256(f"42:{i}".encode()).digest() * (1 + i % 7)
        w, h, _ = _fake_decode(payload)
        mrows.append((i, kinds[i % 3], len(payload),
                      hashlib.sha256(payload).hexdigest(), w, h))
    n = _write("multimodal_features", {
        "media_id": ([r[0] for r in mrows], pa.int64()),
        "kind": ([r[1] for r in mrows], pa.string()),
        "n_bytes": ([r[2] for r in mrows], pa.int64()),
        "payload_sha": ([r[3] for r in mrows], pa.string()),
        "width": ([r[4] for r in mrows], pa.int32()),
        "height": ([r[5] for r in mrows], pa.int32())})
    print(f"multimodal_features: {n} rows")


def gen_multimodal_real() -> None:
    """≡ synth_real_media(n=120) + the REAL stdlib decode
    (PNG/BMP/WAV/frames-v1) — same pure functions the Spark extractor
    calls, run without Spark.  sf-independent → golden root."""
    from .spark.multimodal import media_decode_row, synth_media_payload
    rows = []
    for i in range(120):
        kind, payload, fmt = synth_media_payload(i)
        w, h, f0, f1, f2, f3 = media_decode_row(kind, payload)
        rows.append((i, kind, fmt, len(payload), int(w), int(h),
                     float(f0), float(f1), float(f2), float(f3)))
    n = _write("multimodal_decode_stats", {
        "media_id": ([r[0] for r in rows], pa.int64()),
        "kind": ([r[1] for r in rows], pa.string()),
        "meta_format": ([r[2] for r in rows], pa.string()),
        "n_bytes": ([r[3] for r in rows], pa.int64()),
        "width": ([r[4] for r in rows], pa.int32()),
        "height": ([r[5] for r in rows], pa.int32()),
        "f0": ([r[6] for r in rows], pa.float64()),
        "f1": ([r[7] for r in rows], pa.float64()),
        "f2": ([r[8] for r in rows], pa.float64()),
        "f3": ([r[9] for r in rows], pa.float64())})
    print(f"multimodal_decode_stats: {n} rows")


def main() -> None:
    for tag, sf_dir in SF_DIRS.items():
        gen_for_sf(tag, sf_dir)
        gen_subword(tag, sf_dir)
    gen_multimodal()
    gen_multimodal_real()
    print(f"goldens written to {GOLDEN_DIR}")


if __name__ == "__main__":
    main()
